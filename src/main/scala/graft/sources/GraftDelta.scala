package graft.sources

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.NamedReference
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{DeltaBatchWrite, DeltaWrite, DeltaWriteBuilder, DeltaWriter, DeltaWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.RowLevelOperation.Command
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.core.SchemaBridge
import graft.format.PositionBitmap
import graft.table.{PositionDeleteMsg, PositionDeleteWriter, Table => GraftTable, Writer}

/** Merge-on-read SQL DML: `write.delete.mode / write.update.mode /
  * write.merge.mode = 'merge-on-read'` routes DELETE / UPDATE / MERGE
  * through Spark's delta-based row-level operation instead of the
  * copy-on-write group rewrite. Matched rows are identified by
  * (`_file`, `_pos`) — the scan reads candidates with positions (existing
  * MoR state applied, so dead rows never re-match) — and each epoch
  * commits ONE row-delta snapshot: delete files for the deleted positions
  * plus ordinary data files for inserted rows. A one-row DELETE on a
  * 100 TB table writes a few-KB DV instead of rewriting a 512 MB file;
  * compaction folds DVs away later. The deleted positions are written by
  * the same [[PositionDeleteWriter]] as the programmatic merge-on-read
  * deletes and delete-file compaction: on v3 (or beside a prior DV) one
  * puffin of deletion vectors per task, each folding the file's prior DV
  * and parquet positional deletes (a DV supersedes both at read time —
  * skipping the fold would resurrect rows); otherwise one spec-ordered
  * parquet positional-delete file per task. Each data file's positions reach
  * exactly one task: the write requires clustering by `_file`.
  */
final class GraftDeltaOperation(table: GraftTable, cmd: Command)
    extends org.apache.spark.sql.connector.write.SupportsDelta with GraftRowLevelScan {

  override def groupFiltered: Boolean = false

  override def command(): Command = cmd
  override def description(): String = s"graft merge-on-read $cmd"

  override def rowId(): Array[NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column(
      SpjTable.FileColumnName),
      org.apache.spark.sql.connector.expressions.Expressions.column(
        SpjTable.PosColumnName))

  override def representUpdateAsDeleteAndInsert(): Boolean = true

  /** v3 lineage through the DELTA path: an update splits into delete +
    * REINSERT, and the reinserted row is the same row — `_row_id` rides
    * the metadata projection into [[GraftDeltaWriter.reinsert]] (preserve-
    * on-reinsert flag), `_last_updated_sequence_number` is nulled there
    * (re-stamped as the new file's data sequence at read). Pure DELETEs
    * write no rows — no metadata needed, and keeping them lean avoids
    * widening the delete-only delta plan.
    */
  override def requiredMetadataAttributes():
      Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (table.metadata.formatVersion >= 3 && cmd != Command.DELETE)
      Array(
        org.apache.spark.sql.connector.expressions.Expressions.column(
          SpjTable.RowIdColumnName),
        org.apache.spark.sql.connector.expressions.Expressions.column(
          SpjTable.LastUpdatedColumnName))
    else Array.empty

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new SpjScanBuilder(table, SchemaBridge.toSpark(table.schema), None, None,
      options.asCaseSensitiveMap().asScala.toMap, rowLevel = Some(this))

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      // where _row_id / _last_updated_sequence_number sit in the delta
      // metadata row (absent below v3 / on pure DELETEs)
      private[sources] val lineageMetaIdx: Option[(Int, Int)] =
        GraftBatchWrites.lineageMetaIdx(table, info)
      override def build(): DeltaWrite = new DeltaWrite
          with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
        override def toBatch(): DeltaBatchWrite =
          new GraftDeltaBatchWrite(GraftDeltaOperation.this, table, lineageMetaIdx)

        // one DV per data file is a spec invariant: REQUIRE same-file
        // deletes to land in one task (cluster by _file), positions
        // ordered within — the shape the reference's dv_writer assumes.
        // The partition transforms join the clustering so INSERT rows
        // (null `_file` — they would otherwise all co-cluster into ONE
        // task) fan out by partition value; delete rows are unaffected
        // (all rows of a file share its partition, so (_file, transforms)
        // groups exactly like _file alone). Ordering sorts the insert
        // block by partition (NULLS_FIRST puts it first, one contiguous
        // run per partition → close-on-change fanout), with `_pos` last —
        // still strictly ascending within each file's delete block.
        // A pure DELETE's delta rows carry ONLY (operation, _file, _pos) —
        // no data columns exist to evaluate partition transforms over, and
        // demanding them fails analysis ("unable to resolve <part col>").
        // Deletes need no fanout anyway: every row of a file shares its
        // partition, so _file alone already groups them correctly.
        import org.apache.spark.sql.connector.expressions.{Expressions => VE}
        private def fanout =
          if (cmd == Command.DELETE) Nil
          else GraftBatchWrites.clusteringTransforms(table).toSeq
        override def requiredDistribution():
            org.apache.spark.sql.connector.distributions.Distribution =
          org.apache.spark.sql.connector.distributions.Distributions.clustered(
            (VE.column(SpjTable.FileColumnName) +: fanout).toArray)
        override def requiredOrdering():
            Array[org.apache.spark.sql.connector.expressions.SortOrder] =
          (VE.sort(VE.column(SpjTable.FileColumnName),
              org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING) +:
            fanout.map(t =>
              VE.sort(t,
                org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)) :+
            VE.sort(VE.column(SpjTable.PosColumnName),
              org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)).toArray
      }
    }
}

final case class GraftDeltaCommitMessage(files: Seq[GraftWrittenFile],
    deletes: Seq[PositionDeleteMsg]) extends WriterCommitMessage

final class GraftDeltaBatchWrite(op: GraftDeltaOperation, table: GraftTable,
    lineageMetaIdx: Option[(Int, Int)] = None)
    extends DeltaBatchWrite {

  /** Inserted rows go through the copy-on-write fanout writer (insert rows
    * arrive partition-sorted in one contiguous block, the required
    * ordering), deleted positions through the shared
    * [[PositionDeleteWriter]], whose prior state is the candidates'
    * attached deletes and which picks the delete format: deletion vectors
    * on v3 or beside a prior DV, parquet positional deletes otherwise.
    */
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory =
    new GraftDeltaWriterFactory(
      GraftBatchWrites.cowWriterFactory(table, lineageMetaIdx),
      PositionDeleteWriter(SparkSession.active, table, op.scanned,
        table.refreshIoCredentials()))

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val msgs = messages.collect { case m: GraftDeltaCommitMessage => m }
    val written = msgs.flatMap(_.files).toSeq
    val dels = msgs.flatMap(_.deletes).toSeq
    if (written.isEmpty && dels.isEmpty) return
    // one DV per data file is a spec invariant — Spark clusters delta
    // writes by row id, but verify rather than assume
    val dup = dels.filter(_.format == "PUFFIN").groupBy(_.dataFiles)
      .collect { case (fs, bs) if bs.size > 1 => fs.mkString }
    require(dup.isEmpty,
      s"multiple tasks wrote DVs for the same data file(s): ${dup.mkString(", ")}")

    val added = GraftBatchWrites.harvest(table, written)
    val deleteFiles = PositionDeleteWriter.dataFiles(dels)
    val touched = dels.flatMap(_.dataFiles).toSet
    val dvTouched = dels.filter(_.format == "PUFFIN").flatMap(_.dataFiles).toSet
    Writer.commitSnapshot(table, "overwrite",
      addedFiles = added, removedPaths = Set.empty,
      addedDeleteFiles = deleteFiles,
      conflictCheck = Some(Writer.ConflictCheck(
        filter = op.scanFilter,
        candidatePaths = op.scanned.map(_.file.path).toSet,
        referencedDataFiles = touched,
        // UPDATE/MERGE re-insert the rows they read: a concurrent delete
        // landing on the read files has killed a row whose replacement is
        // in this commit — conflict under BOTH isolation levels (a pure
        // DELETE is exempt: double-deleting a position is idempotent)
        readFiles = if (op.command() != Command.DELETE)
          op.scanned.map(t => (t.file, t.specId)) else Nil,
        // pure DELETE: this commit's DVs supersede prior DVs on the same
        // files, so concurrent deletes there must conflict (parquet
        // pos-deletes are additive — readers union them — and need none)
        dvReadFiles = if (op.command() == Command.DELETE)
          op.scanned.filter(t => dvTouched(t.file.path)).map(t => (t.file, t.specId))
        else Nil,
        serializableDataScope = true,
        isolationKey = GraftBatchWrites.isolationKey(op.command()))),
      globalDeleteSpec = true)
    ()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.collect { case m: GraftDeltaCommitMessage => m }.foreach { m =>
      m.files.foreach(f => graft.io.FileIO.delete(f.path))
      m.deletes.map(_.path).distinct.foreach(p => graft.io.FileIO.delete(p))
    }
}

final class GraftDeltaWriterFactory(inserts: GraftCowWriterFactory,
    deletes: PositionDeleteWriter) extends DeltaWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new GraftDeltaWriter(
      inserts.createWriter(partitionId, taskId).asInstanceOf[GraftCowDataWriter], deletes)
}

/** Task-local delta writer: inserted rows route through the fanout data
  * writer; deleted (file, pos) ids accumulate into per-file roaring
  * bitmaps (compressed — a 10M-position delete stays MBs, not a long[]),
  * which the shared [[PositionDeleteWriter]] writes at commit: one puffin
  * or one parquet positional-delete file per task.
  */
final class GraftDeltaWriter(inserts: GraftCowDataWriter, deletes: PositionDeleteWriter)
    extends DeltaWriter[InternalRow] {

  private val bitmaps = mutable.Map.empty[String, PositionBitmap]

  override def delete(meta: InternalRow, id: InternalRow): Unit = {
    val file = id.getUTF8String(0).toString
    val pos = id.getLong(1)
    bitmaps.getOrElseUpdate(file, new PositionBitmap).set(pos)
  }

  override def insert(row: InternalRow): Unit = inserts.write(row)

  /** The reinsert half of a split update: the SAME row at a new position —
    * the metadata row carries its preserved `_row_id` (and a nulled
    * `_last_updated_sequence_number`), which the fanout writer materializes
    * as explicit reserved-id columns. True inserts route through
    * [[insert]] with no metadata and take fresh ids.
    */
  override def reinsert(meta: InternalRow, row: InternalRow): Unit =
    inserts.write(meta, row)

  // unreachable: representUpdateAsDeleteAndInsert splits updates upstream
  override def update(meta: InternalRow, id: InternalRow, row: InternalRow): Unit = {
    delete(meta, id)
    inserts.write(meta, row)
  }

  override def commit(): WriterCommitMessage = {
    val dataMsg = inserts.commit().asInstanceOf[GraftCommitMessage]
    GraftDeltaCommitMessage(dataMsg.files, deletes.write(bitmaps))
  }

  override def abort(): Unit = inserts.abort()
  override def close(): Unit = inserts.close()
}
