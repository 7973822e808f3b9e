package perfbench

import java.io.{File, OutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FSInputStream, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import graft.metrics.{CommitReport, MetricsReport, ScanReport}

/** Spans around each call the benchmark makes into a layer of the program.
  * The plain run uses [[NoTrace]], which only evaluates the body; the traced
  * run ([[LiveTracer]]) is a separate run with its own numbers.
  */
trait Tracer {
  def op[T](cls: String, kind: OpKind, recorded: Boolean)(body: => T): T
  def span[T](name: String)(body: => T): T
  def live: Boolean = false
  /** Start of the timed loop: earlier operations are not reported. */
  def reset(): Unit = ()
  /** Wait until every listener event of the timed loop is tallied. */
  def drain(): Unit = ()
  /** Record a traced-only observation, e.g. metadata size after a commit. */
  def note(key: String, value: Double): Unit = ()
  def metrics(wl: Workload): Seq[(String, Double, String)] = Nil
}

object NoTrace extends Tracer {
  def op[T](cls: String, kind: OpKind, recorded: Boolean)(body: => T): T = body
  def span[T](name: String)(body: => T): T = body
}

object Trace {
  val ReporterName = "perfbench"
  val SpanKey = "perfbench.span"
  /** Table properties that route a traced table's reports to the tracer. */
  val TableProps: Map[String, String] =
    Map(graft.metrics.Registry.ReporterImplKey -> ReporterName)

  @volatile private[perfbench] var current: LiveTracer = null

  /** Counting filesystem for `file:` on the program's own Hadoop conf (the
    * session gets it through `spark.hadoop.fs.file.impl`), and the report
    * sink in the program's reporter registry.
    */
  def install(): Unit = {
    graft.io.FileIO.conf.set("fs.file.impl", classOf[CountingLocalFileSystem].getName)
    graft.metrics.Registry.register(ReporterName, _ => ReportSink)
  }
}

object ReportSink extends graft.metrics.Reporter {
  def report(r: MetricsReport): Unit = {
    val t = Trace.current
    if (t != null) t.onReport(r)
  }
}

/** File opens/creates and bytes moved, by kind of Iceberg file. */
object IoCounters {
  val Kinds: Seq[String] = Seq("metadata", "manifest_list", "manifest", "data", "delete", "puffin", "other")
  private val K = Kinds.size
  val opened, read, created, written = Array.fill(K)(new AtomicLong)

  def kind(path: String): Int = {
    val name = path.substring(path.lastIndexOf('/') + 1)
    if (name.endsWith(".metadata.json") || name == "version-hint.text" || name.endsWith(".commit")) 0
    else if (name.endsWith(".avro")) { if (name.startsWith("snap-")) 1 else 2 }
    else if (name.endsWith(".parquet") || name.startsWith("part-")) { if (path.contains("delete")) 4 else 3 }
    else if (name.endsWith(".puffin")) 5
    else 6
  }

  /** opened ++ read ++ created ++ written, each indexed by kind. */
  def snapshot(): Array[Long] = Array(opened, read, created, written).flatMap(_.map(_.get))
  def at(snap: Array[Long], counter: Int, kind: Int): Long = snap(counter * K + kind)
}

/** Hadoop's local filesystem, counting. Still a [[LocalFileSystem]], so the
  * program's `FileIO.createNoReplace` keeps its link(2) compare-and-swap.
  */
class CountingLocalFileSystem extends LocalFileSystem {
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    val k = IoCounters.kind(f.toString)
    IoCounters.opened(k).incrementAndGet()
    new FSDataInputStream(new CountingInput(super.open(f, bufferSize), IoCounters.read(k)))
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    val k = IoCounters.kind(f.toString)
    IoCounters.created(k).incrementAndGet()
    val inner = super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
    new FSDataOutputStream(new CountingOutput(inner, IoCounters.written(k)), null)
  }
}

final class CountingInput(in: FSDataInputStream, n: AtomicLong) extends FSInputStream {
  private def add(k: Int): Int = { if (k > 0) n.addAndGet(k.toLong); k }
  override def seek(pos: Long): Unit = in.seek(pos)
  override def getPos: Long = in.getPos
  override def seekToNewSource(target: Long): Boolean = in.seekToNewSource(target)
  override def read(): Int = { val b = in.read(); if (b >= 0) add(1); b }
  override def read(b: Array[Byte], off: Int, len: Int): Int = add(in.read(b, off, len))
  override def read(pos: Long, b: Array[Byte], off: Int, len: Int): Int = add(in.read(pos, b, off, len))
  override def readFully(pos: Long, b: Array[Byte], off: Int, len: Int): Unit = {
    in.readFully(pos, b, off, len); add(len); ()
  }
  override def readFully(pos: Long, b: Array[Byte]): Unit = readFully(pos, b, 0, b.length)
  override def available(): Int = in.available()
  override def close(): Unit = in.close()
}

final class CountingOutput(out: OutputStream, n: AtomicLong) extends OutputStream {
  override def write(b: Int): Unit = { out.write(b); n.incrementAndGet(); () }
  override def write(b: Array[Byte], off: Int, len: Int): Unit = {
    out.write(b, off, len); n.addAndGet(len.toLong); ()
  }
  override def flush(): Unit = out.flush()
  override def close(): Unit = out.close()
}

/** Spark jobs, stages, tasks, input and shuffle bytes per span. Jobs carry
  * the span that issued them in a local property.
  */
final class JobTally extends SparkListener {
  final class Job(val span: Int, val startMs: Long, var endMs: Long)
  final class Tally {
    var stages, tasks, inputBytes, inputRecords, shuffleBytes, peakMem = 0L
  }
  val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  val bySpan = new ConcurrentHashMap[Int, Tally]()
  private def tally(span: Int): Tally = bySpan.computeIfAbsent(span, _ => new Tally)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanKey)))
      .map(_.toInt).getOrElse(-1)
    jobs.put(e.jobId, new Job(span, e.time, e.time))
    e.stageIds.foreach(s => stageSpan.put(s, span))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    tally(stageSpan.getOrDefault(e.stageInfo.stageId, -1)).stages += 1
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val t = tally(stageSpan.getOrDefault(e.stageId, -1))
    t.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      t.inputBytes += m.inputMetrics.bytesRead
      t.inputRecords += m.inputMetrics.recordsRead
      t.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      t.peakMem = math.max(t.peakMem, m.peakExecutionMemory)
    }
  }
}

final class LiveTracer(sc: SparkContext) extends Tracer {
  final class Span(val id: Int, val parent: Int, val name: String, val start: Long, var end: Long)
  final class OpRec(val cls: String, val kind: OpKind, val span: Int, val startMs: Long) {
    var endMs = 0L
    val io0: Array[Long] = IoCounters.snapshot()
    var io1: Array[Long] = io0
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var firstSpan = 0
  private var curOp = -1
  val ops = mutable.ArrayBuffer.empty[OpRec]
  private val scans = mutable.ArrayBuffer.empty[(Int, ScanReport)]
  private val commits = mutable.ArrayBuffer.empty[(Int, CommitReport)]
  private val notes = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val tally = new JobTally
  sc.addSparkListener(tally)
  Trace.current = this

  override def live: Boolean = true

  private def setSpanProperty(): Unit = {
    val top = stack.headOption
    sc.setLocalProperty(Trace.SpanKey, top.map(_.id.toString).orNull)
    sc.setJobDescription(top.map(_.name).orNull)
  }

  def span[T](name: String)(body: => T): T = {
    val s = synchronized {
      val s = new Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), name, System.nanoTime(), -1L)
      spans += s
      stack = s :: stack
      setSpanProperty()
      s
    }
    try body
    finally synchronized {
      s.end = System.nanoTime()
      stack = stack.tail
      setSpanProperty()
    }
  }

  def op[T](cls: String, kind: OpKind, recorded: Boolean)(body: => T): T = {
    if (!recorded) return body
    val rec = synchronized {
      val r = new OpRec(cls, kind, spans.size, System.currentTimeMillis())
      ops += r
      curOp = ops.size - 1
      r
    }
    try span(s"op.$cls")(body)
    finally synchronized {
      rec.endMs = System.currentTimeMillis()
      rec.io1 = IoCounters.snapshot()
      curOp = -1
    }
  }

  override def reset(): Unit = synchronized {
    firstSpan = spans.size
    ops.clear(); scans.clear(); commits.clear(); notes.clear()
  }

  override def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  override def note(key: String, value: Double): Unit = synchronized {
    if (ops.nonEmpty) notes.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += value
    ()
  }

  /** A report arrives on the calling thread when planning or a commit ends;
    * its timer becomes a child span ending now.
    */
  def onReport(r: MetricsReport): Unit = synchronized {
    if (curOp < 0 || stack.isEmpty) return
    val (name, nanos) = r match {
      case s: ScanReport =>
        scans += ((curOp, s))
        ("table.plan", s.metrics.totalPlanningDuration.map(_.totalDuration).getOrElse(0L))
      case c: CommitReport =>
        commits += ((curOp, c))
        ("table.commit", c.metrics.totalDuration.map(_.totalDuration).getOrElse(0L))
    }
    val parent = stack.head
    val now = System.nanoTime()
    spans += new Span(spans.size, parent.id, name, math.max(parent.start, now - nanos), now)
    ()
  }

  // ------------------------------------------------------------ analysis

  private lazy val timedSpans: Seq[Span] = spans.drop(firstSpan).toSeq
  private lazy val children: Map[Int, Seq[Span]] = timedSpans.groupBy(_.parent)
  private lazy val rootOf: Map[Int, Int] = {
    val byId = timedSpans.map(s => s.id -> s).toMap
    def root(s: Span): Int = byId.get(s.parent).map(root).getOrElse(s.id)
    timedSpans.map(s => s.id -> root(s)).toMap
  }
  private lazy val opBySpan: Map[Int, Int] = ops.zipWithIndex.map { case (o, i) => o.span -> i }.toMap

  private def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total, curS, curE = 0L
    var open = false
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (!open || a > curE) { if (open) total += curE - curS; curS = a; curE = b; open = true }
      else curE = math.max(curE, b)
    }
    if (open) total += curE - curS
    total
  }

  /** Span duration minus the part its (clipped) children cover. */
  private def selfNanos(s: Span): Long = {
    val kids = children.getOrElse(s.id, Nil).map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
    (s.end - s.start) - unionLength(kids)
  }

  private def layerOf(s: Span): String =
    if (s.name.startsWith("op.")) "unattributed" else s.name

  /** Per operation: self seconds by span name (root self = unattributed). */
  private lazy val selfByOp: Seq[Map[String, Double]] = ops.indices.map { i =>
    val root = ops(i).span
    timedSpans.filter(s => rootOf.getOrElse(s.id, -1) == root)
      .groupBy(layerOf).map { case (k, ss) => k -> ss.map(selfNanos).sum / 1e9 }
  }

  private lazy val jobsByOp: Map[Int, Seq[JobTally#Job]] =
    tally.jobs.values.asScala.toSeq.flatMap { j =>
      rootOf.get(j.span).flatMap(opBySpan.get).map(_ -> j)
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }

  private lazy val tallyByOp: Map[Int, Seq[JobTally#Tally]] =
    tally.bySpan.asScala.toSeq.flatMap { case (span, t) =>
      rootOf.get(span).flatMap(opBySpan.get).map(_ -> t)
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }

  private def wallS(i: Int): Double = {
    val s = spans(ops(i).span)
    (s.end - s.start) / 1e9
  }
  private def jobUnionS(i: Int): Double = {
    val o = ops(i)
    unionLength(jobsByOp.getOrElse(i, Nil).map(j =>
      (math.max(j.startMs, o.startMs), math.min(j.endMs, o.endMs)))) / 1e3
  }
  private def io(i: Int, counter: Int, kind: Int): Long =
    IoCounters.at(ops(i).io1, counter, kind) - IoCounters.at(ops(i).io0, counter, kind)
  private def ioAll(i: Int, counter: Int): Long = IoCounters.Kinds.indices.map(io(i, counter, _)).sum

  override def metrics(wl: Workload): Seq[(String, Double, String)] = {
    val all = ops.indices
    val n = math.max(1, all.size).toDouble
    def ofKind(k: OpKind) = all.filter(ops(_).kind == k)
    val reads = ofKind(OpKind.Read)
    val writes = ofKind(OpKind.Write)
    val maints = ofKind(OpKind.Maintain)
    val passes = ofKind(OpKind.Curate)
    def per(total: Double, count: Int) = if (count == 0) 0.0 else total / count
    def self(name: String, within: Seq[Int] = all) = within.map(selfByOp(_).getOrElse(name, 0.0)).sum
    def spanTotal(name: String, within: Seq[Int]) = {
      val roots = within.map(ops(_).span).toSet
      timedSpans.filter(s => s.name == name && roots.contains(rootOf.getOrElse(s.id, -1)))
        .map(s => (s.end - s.start) / 1e9).sum
    }
    def tallies(within: Seq[Int]) = within.flatMap(tallyByOp.getOrElse(_, Nil))
    def c(v: Option[graft.metrics.CounterResult]) = v.map(_.value).getOrElse(0L).toDouble
    val scanM = scans.map(_._2.metrics)
    val writeCommits = commits.filter { case (i, _) => ops(i).kind != OpKind.Read }.map(_._2.metrics)
    val dataCommits = commits.filter { case (i, _) => ops(i).kind == OpKind.Write || ops(i).kind == OpKind.Curate }
      .map(_._2.metrics)
    def mean(xs: Iterable[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def noteMean(k: String) = mean(notes.getOrElse(k, Nil))
    val filesConsidered = scanM.map(m => c(m.resultDataFiles) + c(m.skippedDataFiles)).sum
    val committing = writes ++ maints ++ passes

    val m = mutable.ArrayBuffer.empty[(String, Double, String)]
    def add(name: String, v: Double, unit: String): Unit = { m += ((name, v, unit)); () }

    // layer self times per operation; with trace.unattributed_s they sum to trace.op_wall_s
    add("catalog.load_s", self("catalog.load") / n, "s")
    add("table.plan_s", self("table.plan") / n, "s")
    add("table.read_build_s", self("table.read_build") / n, "s")
    add("table.read_exec_s", self("table.read_exec") / n, "s")
    add("table.write_s", self("table.write") / n, "s")
    add("table.commit_s", self("table.commit") / n, "s")
    add("table.maint_s", self("table.maint") / n, "s")
    add("sources.sql_plan_s", self("sources.sql_plan") / n, "s")
    add("sources.sql_exec_s", self("sources.sql_exec") / n, "s")
    add("sources.merge_s", self("sources.merge") / n, "s")
    add("sources.delete_s", self("sources.delete") / n, "s")
    add("llm.quality_s", self("llm.quality") / n, "s")
    add("llm.dedup_s", self("llm.dedup") / n, "s")
    add("trace.unattributed_s", self("unattributed") / n, "s")
    add("trace.op_wall_s", all.map(wallS).sum / n, "s")

    add("catalog.commit_attempts", mean(commits.map(x => c(x._2.metrics.attempts))), "count")
    add("format.metadata_json_bytes", noteMean("metadata_json_bytes"), "B")
    add("format.manifests_per_snapshot",
      mean(writeCommits.map(x => c(x.manifestsCreated) + c(x.manifestsKept))), "count")
    add("format.manifests_created_per_commit", mean(writeCommits.map(x => c(x.manifestsCreated))), "count")
    add("format.manifest_entries_per_commit", mean(writeCommits.map(x => c(x.manifestEntriesProcessed))), "count")
    add("format.manifest_bytes_read_per_read", per(reads.map(io(_, 1, 2).toDouble).sum, reads.size), "B")

    add("table.plan.manifests_scanned", mean(scanM.map(x => c(x.scannedDataManifests))), "count")
    add("table.plan.manifests_skipped", mean(scanM.map(x => c(x.skippedDataManifests))), "count")
    add("table.plan.files_result", mean(scanM.map(x => c(x.resultDataFiles))), "count")
    add("table.plan.files_skipped", mean(scanM.map(x => c(x.skippedDataFiles))), "count")
    add("table.plan.delete_files", mean(scanM.map(x => c(x.resultDeleteFiles))), "count")
    add("table.plan.file_prune_ratio",
      if (filesConsidered == 0) 0.0 else scanM.map(x => c(x.resultDataFiles)).sum / filesConsidered, "ratio")
    add("table.rows_examined_per_live_row",
      if (wl.liveRowsRead <= 0) 0.0 else tallies(reads).map(_.inputRecords).sum / wl.liveRowsRead, "ratio")
    add("table.write.files_added_per_commit",
      mean(dataCommits.map(x => c(x.addedDataFiles) + c(x.addedDeleteFiles))), "count")
    add("table.write.bytes_per_row_committed",
      if (wl.rowsCommitted <= 0) 0.0 else writes.map(ioAll(_, 3).toDouble).sum / wl.rowsCommitted, "B/row")
    add("table.maint.bytes_rewritten", per(maints.map(io(_, 3, 3).toDouble).sum, maints.size), "B")
    add("table.maint.files_removed", noteMean("maint_files_removed"), "count")

    IoCounters.Kinds.indices.init.foreach { k =>
      add(s"io.files_opened.${IoCounters.Kinds(k)}", all.map(io(_, 0, k)).sum / n, "count")
    }
    IoCounters.Kinds.indices.init.foreach { k =>
      add(s"io.bytes_read.${IoCounters.Kinds(k)}", all.map(io(_, 1, k)).sum / n, "B")
    }
    val nCommits = commits.count { case (i, _) => ops(i).kind != OpKind.Read }
    add("io.files_created_per_commit", per(committing.map(ioAll(_, 2).toDouble).sum, nCommits), "count")
    add("io.bytes_written_per_commit", per(committing.map(ioAll(_, 3).toDouble).sum, nCommits), "B")

    val ts = tallies(all)
    add("spark.jobs_per_op", all.map(jobsByOp.getOrElse(_, Nil).size).sum / n, "count")
    add("spark.stages_per_op", ts.map(_.stages).sum / n, "count")
    add("spark.tasks_per_op", ts.map(_.tasks).sum / n, "count")
    add("spark.job_s", all.flatMap(jobsByOp.getOrElse(_, Nil)).map(j => (j.endMs - j.startMs) / 1e3).sum / n, "s")
    add("spark.driver_gap_s", all.map(i => math.max(0.0, wallS(i) - jobUnionS(i))).sum / n, "s")
    add("spark.shuffle_bytes", ts.map(_.shuffleBytes).sum / n, "B")
    add("spark.input_bytes", ts.map(_.inputBytes).sum / n, "B")
    add("spark.peak_task_mem_bytes", (0L +: ts.map(_.peakMem)).max.toDouble, "B")

    // the curation pass's output stage: Writer.overwriteAll, commit included
    add("llm.write_s", per(spanTotal("table.write", passes), passes.size), "s")
    add("llm.jobs_per_pass", per(passes.map(jobsByOp.getOrElse(_, Nil).size.toDouble).sum, passes.size), "count")
    add("llm.cc_rounds", noteMean("cc_rounds"), "count")
    add("llm.bucket_rows", noteMean("bucket_rows"), "count")
    add("llm.bucket_rows_per_removed_doc", noteMean("bucket_rows_per_removed_doc"), "ratio")
    m.toSeq
  }

  /** Per operation type: traced wall time and the layer self times that sum
    * to it, plus the spans themselves (start/end in ns from the first one).
    */
  def write(f: File, workload: String, seed: Long, wl: Workload): Unit = {
    val sb = new StringBuilder
    sb ++= s"""{"workload": ${Json.str(workload)}, "seed": $seed,\n"""
    sb ++= "\"per_layer\": {" + metrics(wl).map { case (k, v, u) =>
      s"${Json.str(k)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}"
    }.mkString(", ") + "},\n"
    sb ++= "\"op_types\": {\n" + ops.indices.groupBy(ops(_).cls).toSeq.sortBy(_._1).map { case (cls, is) =>
      val wall = is.map(wallS).sum / is.size
      val layers = is.flatMap(selfByOp(_).toSeq).groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (k, vs) => s"${Json.str(k)}: ${Json.num(vs.map(_._2).sum / is.size)}" }
      val layerSum = is.map(i => selfByOp(i).values.sum).sum / is.size
      val jobs = is.map(jobsByOp.getOrElse(_, Nil).size).sum.toDouble / is.size
      val gap = is.map(i => math.max(0.0, wallS(i) - jobUnionS(i))).sum / is.size
      s"  ${Json.str(cls)}: {\"count\": ${is.size}, \"wall_s\": ${Json.num(wall)}, " +
        s"\"layer_sum_s\": ${Json.num(layerSum)}, \"jobs\": ${Json.num(jobs)}, " +
        s"\"driver_gap_s\": ${Json.num(gap)}, \"self_s\": {${layers.mkString(", ")}}}"
    }.mkString(",\n") + "\n},\n"
    val t0 = timedSpans.headOption.map(_.start).getOrElse(0L)
    sb ++= "\"spans\": [\n" + timedSpans.map(s =>
      s"[${s.id}, ${s.parent}, ${Json.str(s.name)}, ${s.start - t0}, ${s.end - t0}]").mkString(",\n") + "\n]}\n"
    f.getParentFile.mkdirs()
    Files.write(f.toPath, sb.toString.getBytes(StandardCharsets.UTF_8))
    ()
  }
}
