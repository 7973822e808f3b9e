package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** One benchmark run: one JVM, one workload, one closed-loop client.
  *
  * Order: session start, `setupReps` fixture builds in fresh warehouses
  * (the last one is kept), one untimed warm-up round, whole timed rounds
  * until `--seconds` have passed, then the workload's correctness checks.
  * Every timing it reports is CPU time of the JVM's Java threads
  * ([[Bench.cpuTimes]]); wall times go to standard error. The result object goes to `--result`; `run.py` prints it as the last
  * line of standard output.
  */
object Main {

  final case class Opts(
      workload: String = "",
      seed: Long = 1L,
      seconds: Int = 10,
      trace: Boolean = false,
      work: File = new File("."),
      result: File = new File("result.json"),
      traceOut: Option[File] = None,
      selftest: Boolean = false)

  def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case Nil => o
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--seed" :: v :: t => parse(t, o.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, o.copy(seconds = v.toInt))
    case "--trace" :: v :: t => parse(t, o.copy(trace = v == "1"))
    case "--work" :: v :: t => parse(t, o.copy(work = new File(v)))
    case "--result" :: v :: t => parse(t, o.copy(result = new File(v)))
    case "--trace-out" :: v :: t => parse(t, o.copy(traceOut = Some(new File(v))))
    case "--selftest" :: t => parse(t, o.copy(selftest = true))
    case other :: _ => throw new IllegalArgumentException(s"unknown argument $other")
  }

  val Workloads: Seq[String] = Seq("mor_scan", "ingest_lookup", "corpus_dedup")

  def main(args: Array[String]): Unit = {
    val o = parse(args.toList)
    val code =
      try { if (o.selftest) SelfTest.run(o) else run(o) }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.out.flush()
    System.exit(code)
  }

  def newWorkload(name: String, b: Bench, seed: Long): Workload = name match {
    case "mor_scan" => new MorScan(b, seed)
    case "ingest_lookup" => new IngestLookup(b, seed)
    case "corpus_dedup" => new CorpusDedup(b, seed)
    case other => throw new IllegalArgumentException(
      s"unknown workload $other (one of ${Workloads.mkString(", ")})")
  }

  /** Spark task threads per workload, at most `nproc`. `ingest_lookup`'s
    * operations run one to four small tasks each, so two threads serve it and
    * leave the client thread and the JIT a core each; the scans of
    * `mor_scan` and the passes of `corpus_dedup` use four.
    */
  val TaskThreads: Map[String, Int] = Map("ingest_lookup" -> 2).withDefaultValue(4)

  def session(work: File, traced: Boolean, threads: Int): SparkSession = {
    val cores = math.max(1, math.min(threads, Runtime.getRuntime.availableProcessors()))
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "spark-warehouse").getPath)
      .config("spark.sql.catalog.g", classOf[graft.sources.GraftSpjCatalog].getName)
      .config("spark.sql.catalog.g.uri", warehouse(work, Workload.SetupReps - 1))
    if (traced) b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
    b.getOrCreate()
  }

  /** Warehouse of the `i`-th set-up; the last one serves the timed loop. */
  def warehouse(work: File, i: Int): String = new File(work, s"wh$i").getAbsolutePath

  def run(o: Opts): Int = {
    val wl0 = o.workload
    require(Workloads.contains(wl0), s"unknown workload $wl0 (one of ${Workloads.mkString(", ")})")
    o.work.mkdirs()
    if (o.trace) Trace.install()
    val spark = session(o.work, o.trace, TaskThreads(wl0))
    spark.sparkContext.setLogLevel("ERROR")
    val tracer: Tracer = if (o.trace) new LiveTracer(spark.sparkContext) else NoTrace
    val b = new Bench(spark, tracer)
    val wl = newWorkload(wl0, b, o.seed)
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    // set-up: the Java threads' CPU time from JVM start to a ready session,
    // plus the median of the fixture builds' CPU times
    val sessionCpuS = b.processCpuS
    val (setups, setupsCpu) = (0 until Workload.SetupReps).map { i =>
      val wh = warehouse(o.work, i)
      val c0 = b.processCpuS
      val t0 = System.nanoTime()
      wl.setup(wh)
      val dt = (System.nanoTime() - t0) / 1e9
      val dc = b.processCpuS - c0
      if (i < Workload.SetupReps - 1) deleteTree(new File(wh))
      (dt, dc)
    }.unzip
    var lap = System.nanoTime()
    def phase(name: String): Unit = {
      val now = System.nanoTime()
      System.err.println(f"[perfbench] phase $name ${(now - lap) / 1e9}%.2fs")
      lap = now
    }
    wl.prepareChecks()
    phase("expected-answers")

    wl.round(-1) // warm-up: the same mix once, untimed and uncounted
    phase("warm-up")
    b.startRecording()
    tracer.reset()
    val t0 = System.nanoTime()
    var rounds = 0
    while (rounds == 0 || (System.nanoTime() - t0) / 1e9 < o.seconds) {
      wl.round(rounds)
      rounds += 1
    }
    val windowS = (System.nanoTime() - t0) / 1e9
    b.stopRecording()
    tracer.drain()

    wl.finish()
    phase("checks")
    val e2e: Seq[(String, Double, String)] =
      Seq(("setup_s", sessionCpuS + Stats.median(setupsCpu), "s")) ++ wl.metrics()
    phase("metrics")
    val metrics = if (o.trace) tracer.metrics(wl) else e2e
    tracer match {
      case lt: LiveTracer => o.traceOut.foreach(f => lt.write(f, wl0, o.seed, wl))
      case _ => ()
    }
    b.latencies.foreach { case (c, xs) =>
      System.err.println(f"[perfbench] $c%-22s n=${xs.size}%3d median=${Stats.median(xs.toSeq)}%.4fs " +
        f"cpu=${b.cpuMedianOf(c)}%.4fs " + xs.map(x => f"$x%.3f").mkString(","))
    }
    val correct = b.failures.isEmpty
    b.failures.take(20).foreach(m => System.err.println(s"[perfbench] check failed: $m"))
    System.err.println(f"[perfbench] $wl0 seed=${o.seed} rounds=$rounds window=$windowS%.2fs " +
      f"session=$sessionS%.2fs setups=${setups.map(s => f"$s%.2f").mkString(",")} " +
      f"session_cpu=$sessionCpuS%.2fs setups_cpu=${setupsCpu.map(s => f"$s%.2f").mkString(",")}")
    val json = Json.result(correct, b.attempted, b.failed, metrics)
    Files.write(o.result.toPath, json.getBytes(StandardCharsets.UTF_8))
    phase("report")
    spark.stop()
    phase("stop")
    0
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
    ()
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)

  def result(correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (n, v, u) =>
      s"${str(n)}: {\"value\": ${num(v)}, \"unit\": ${str(u)}}"
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "geometric mean of no values")
    math.exp(xs.map(math.log).sum / xs.size)
  }
}
