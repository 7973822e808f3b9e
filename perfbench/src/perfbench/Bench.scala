package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}

/** What every workload provides to [[Main.run]]. */
trait Workload {
  /** Build the fixture in a fresh warehouse `wh` (timed as set-up). */
  def setup(wh: String): Unit
  /** Compute the expected answers, apart from the program, after the last
    * set-up (untimed).
    */
  def prepareChecks(): Unit
  /** One round of the workload's fixed operation mix; `r = -1` is warm-up. */
  def round(r: Int): Unit
  /** End-of-run correctness checks; failures go to [[Bench.check]]. */
  def finish(): Unit
  /** End-to-end metrics other than `setup_s`, at the end of the run. */
  def metrics(): Seq[(String, Double, String)]
  /** Live rows the timed read operations covered (known from the generator). */
  def liveRowsRead: Double
  /** Rows the timed write operations appended, updated or deleted. */
  def rowsCommitted: Double
}

object Workload {
  /** Fixture builds per run; `setup_s` reports their median. */
  val SetupReps = 3
}

/** The closed-loop client's ledger: one latency and one CPU-time sample per
  * operation, by operation class, plus the attempted/failed counts and check
  * failures.
  */
final class Bench(val spark: SparkSession, val tracer: Tracer) {
  private var recording = false
  /** Wall seconds per operation (reported on standard error). */
  val latencies = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** CPU seconds of the JVM's Java threads (the client's thread, task
    * threads, Spark's own) per operation; the JIT compiler and GC threads are not among them.
    * Time the threads spend waiting for a core is not in it, so on a shared
    * host it moves far less with the neighbours' load than wall time does.
    */
  val cpuTimes = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
  val routes = mutable.LinkedHashMap.empty[String, String]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  def startRecording(): Unit = recording = true
  def stopRecording(): Unit = recording = false

  /** Run one timed operation of class `cls` on `route` ("api": the
    * program's Scala entry points; "sql": `spark.sql` on the `g` catalog).
    * A failed operation is counted and yields None.
    */
  def op[T](cls: String, route: String, kind: OpKind)(body: => T): Option[T] = {
    if (recording) attempted += 1
    val c0 = processCpuS
    val t0 = System.nanoTime()
    try {
      val v = tracer.op(cls, kind, recording)(body)
      val dt = (System.nanoTime() - t0) / 1e9
      if (recording) {
        latencies.getOrElseUpdate(cls, mutable.ArrayBuffer.empty) += dt
        cpuTimes.getOrElseUpdate(cls, mutable.ArrayBuffer.empty) += processCpuS - c0
        routes(cls) = route
      }
      Some(v)
    } catch {
      case e: Exception =>
        if (recording) failed += 1
        System.err.println(s"[perfbench] operation $cls failed: $e")
        e.printStackTrace()
        None
    }
  }

  def check(ok: Boolean, msg: => String): Unit = if (!ok) failures += msg

  def cpuMedianOf(cls: String): Double = Stats.median(cpuTimes(cls).toSeq)

  /** CPU seconds the live Java threads have used so far. */
  def processCpuS: Double =
    threads.getAllThreadIds.iterator.map(threads.getThreadCpuTime).filter(_ > 0).sum / 1e9

  /** The sum of the classes' median CPU times: the CPU time of one
    * operation of each, robust to a stray slow sample.
    */
  def cpuMedianTime(classes: Iterable[String]): Double = classes.map(cpuMedianOf).sum

  /** `api_op_cpu_s` and `sql_op_cpu_s`: per route, the geometric mean over
    * its operation classes of each class's median CPU time. Per-class
    * medians keep a mix of cheap and costly operations from making the
    * median jump between them.
    */
  def routeMetrics: Seq[(String, Double, String)] =
    Seq("api", "sql").map { r =>
      val classes = routes.collect { case (c, `r`) => c }.toSeq
      (s"${r}_op_cpu_s", Stats.geomean(classes.map(cpuMedianOf)), "s")
    }
}

sealed trait OpKind
object OpKind {
  case object Read extends OpKind
  case object Write extends OpKind
  case object Maintain extends OpKind
  case object Curate extends OpKind
}

object Rows {
  /** Order-insensitive canonical text of a result, for comparisons. */
  def canon(rows: Seq[Row]): Seq[String] =
    rows.map(r => r.toSeq.map(v => if (v == null) "null" else v.toString).mkString("|")).sorted

  /** Bytes of every file under a table location; the file count of each
    * kind goes to standard error, for the fixture's make-up.
    */
  def storedBytes(location: String): Long = {
    val files = graft.io.FileIO.listFilesRecursive(location)
    val kinds = files.groupBy(f => IoCounters.Kinds(IoCounters.kind(f.path))).map { case (k, fs) => s"$k=${fs.size}" }
    System.err.println(s"[perfbench] files under ${location.split('/').last}: ${kinds.toSeq.sorted.mkString(" ")}")
    files.map(_.size).sum
  }
}
