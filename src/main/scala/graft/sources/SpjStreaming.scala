package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.connector.write.{DataWriter, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

import graft.streaming.{IcebergSink, SnapshotOffset}
import graft.table.{Incremental, Table => GraftTable, Writer}

/** DSv2 micro-batch read over the snapshot log —
  * `spark.readStream.table("g.t")`. Offsets are snapshot ids on the
  * current ancestry (same wire format the engine-extension source uses,
  * so checkpoints carry across): the first batch reads the table as of
  * the latest snapshot, every later batch reads exactly the files the
  * append snapshots in (start, end] added — planned from manifests,
  * incremental IO only, the scale shape CDC consumers need at 100 TB.
  */
final class SpjMicroBatchStream(table: GraftTable, sparkSchema: StructType,
    options: Map[String, String]) extends MicroBatchStream
    with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  // Trigger.AvailableNow: pin the head at prepare time so the run drains
  // exactly the snapshots that existed when it started, then stops
  @volatile private var preparedHead: Option[Option[Long]] = None

  override def prepareForTriggerAvailableNow(): Unit =
    preparedHead = Some(table.refresh().metadata.currentSnapshotId)

  // the factory is built per batch AFTER planInputPartitions (Spark calls
  // them in order on the driver) — remember the planned set, and the table
  // state it was planned from, so the reader carries exactly the delete
  // state and name mapping those files need
  @volatile private var planned: (GraftTable, Array[SpjInputPartition]) = (table, Array.empty)

  private val maxFilesPerTrigger: Option[Int] = options.collectFirst {
    case (k, v) if k.equalsIgnoreCase("maxFilesPerTrigger") => v.toInt
  }

  override def initialOffset(): Offset = SnapshotOffset(SnapshotOffset.Initial)

  override def getDefaultReadLimit: ReadLimit =
    maxFilesPerTrigger.map(ReadLimit.maxFiles).getOrElse(ReadLimit.allAvailable())

  /** Admission control: advance the end offset along the ancestry only as
    * far as the file budget allows — at 100 TB a backlogged consumer pages
    * through bounded micro-batches instead of planning one giant catch-up
    * batch. Budget accounting uses each snapshot's `added-data-files`
    * summary (metadata-only); always admits at least one snapshot so the
    * stream progresses even past an oversized commit.
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val t = table.refresh()
    val headId = preparedHead.getOrElse(t.metadata.currentSnapshotId)
      .getOrElse(SnapshotOffset.Initial)
    val startId =
      if (start == null) SnapshotOffset.Initial else SnapshotOffset.parse(start)
    val capped = limit match {
      case mf: ReadMaxFiles
          if startId != SnapshotOffset.Initial && startId != headId &&
            headId != SnapshotOffset.Initial =>
        val pendingOldestFirst = graft.table.Inspect.ancestorsOf(t, headId)
          .takeWhile(_.snapshotId != startId).reverse
        var budget = mf.maxFiles().toLong
        var end = startId
        var full = false
        for (s <- pendingOldestFirst if !full) {
          val files = s.summary.get("added-data-files")
            .flatMap(_.toLongOption).getOrElse(1L)
          // offsets are contiguous: stop at the FIRST snapshot over budget
          if (end == startId || files <= budget) { end = s.snapshotId; budget -= files }
          else full = true
        }
        end
      case _ => headId
    }
    SnapshotOffset(capped)
  }

  override def latestOffset(): Offset = throw new UnsupportedOperationException(
    "latestOffset(start, limit) is used (SupportsAdmissionControl)")

  override def deserializeOffset(json: String): Offset =
    SnapshotOffset.fromJson(json)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val startId = SnapshotOffset.parse(start)
    val endId = SnapshotOffset.parse(end)
    val t = table.refresh()
    val tasks =
      if (endId == SnapshotOffset.Initial || startId == endId) Nil
      else if (startId == SnapshotOffset.Initial)
        t.newScan.useSnapshot(endId).planFiles()
      else Incremental.appendsBetween(t, startId, endId)
    val parts = SpjScan.inputPartitions(t, tasks, table.schema, "graft-stream")
    planned = (t, parts)
    parts.map(identity[InputPartition])
  }

  override def createReaderFactory(): PartitionReaderFactory =
    SpjScan.readerFactory(planned._1, planned._2, SpjTable.RequestedMeta(sparkSchema),
      options, Nil)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
  override def toString: String = s"SpjMicroBatchStream[${table.name}]"
}

/** DSv2 streaming write — `df.writeStream.toTable("g.t")`. Each epoch's
  * executor-written files commit as ONE snapshot (append, or overwrite of
  * the live set under Complete/truncate mode); the batch-id/query-id
  * summary discipline of [[graft.streaming.IcebergSink]] makes replayed
  * epochs no-ops, so table state is exactly-once across restarts. Writers
  * are the same task-local fanout writers the row-level CoW path uses
  * (stock parquet bridge, rolling record target, partition-value routing).
  */
final class GraftStreamingWrite(table: GraftTable, truncate: Boolean)
    extends StreamingWrite {

  // epoch rows arrive unsorted: keep one open writer per partition value
  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new GraftStreamingWriterFactory(
      GraftBatchWrites.cowWriterFactory(table, closeOnPartitionChange = false))

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val written = messages
      .collect { case m: GraftCommitMessage => m.files }.flatten.toSeq
    val queryId = Option(SparkSession.active.sparkContext
      .getLocalProperty("sql.streaming.queryId")).getOrElse("default")
    val fresh = table.refresh()
    if (IcebergSink.lastCommittedBatch(fresh, queryId).exists(_ >= epochId)) {
      // replayed epoch: the snapshot is already on the table — drop the
      // duplicate files instead of double-committing
      written.foreach(f => graft.io.FileIO.delete(f.path))
      return
    }
    val added = GraftBatchWrites.harvest(fresh, written)
    val removedPaths =
      if (truncate) fresh.newScan.planFiles().map(_.file.path).toSet
      else Set.empty[String]
    if (added.isEmpty && removedPaths.isEmpty) return
    Writer.commitSnapshot(fresh,
      if (truncate) "overwrite" else "append",
      addedFiles = added, removedPaths = removedPaths,
      addedDeleteFiles = Nil,
      extraSummary = Map(
        IcebergSink.BatchIdSummaryKey -> epochId.toString,
        IcebergSink.QueryIdSummaryKey -> queryId))
    ()
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    messages.collect { case m: GraftCommitMessage => m.files }.flatten
      .foreach(f => graft.io.FileIO.delete(f.path))
}

final class GraftStreamingWriterFactory(inner: GraftCowWriterFactory)
    extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    inner.createWriter(partitionId, taskId)
}
