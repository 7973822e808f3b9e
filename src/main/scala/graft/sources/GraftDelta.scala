package graft.sources

import java.util.UUID

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.NamedReference
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{DeltaBatchWrite, DeltaWrite, DeltaWriteBuilder, DeltaWriter, DeltaWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.RowLevelOperation.Command
import org.apache.spark.sql.graft.ParquetRowWriteBridge
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.core.SchemaBridge
import graft.format.{DataFile, DataFileContent, DeletionVector, PositionBitmap, Puffin}
import graft.table.{Table => GraftTable, Writer}

/** Merge-on-read SQL DML: `write.delete.mode / write.update.mode /
  * write.merge.mode = 'merge-on-read'` routes DELETE / UPDATE / MERGE
  * through Spark's delta-based row-level operation instead of the
  * copy-on-write group rewrite. Matched rows are identified by
  * (`_file`, `_pos`) — the scan reads candidates with positions (existing
  * MoR state applied, so dead rows never re-match) — and each epoch
  * commits ONE row-delta snapshot: deletion-vector puffins for the
  * deleted positions plus ordinary data files for inserted rows. A
  * one-row DELETE on a 100 TB table writes a few-KB DV instead of
  * rewriting a 512 MB file; compaction folds DVs away later. The delete
  * format follows the table's format version: v3 writes deletion-vector
  * puffins, v2 writes spec-ordered parquet positional-delete files.
  *
  * Spec obligations honored (reference `table/dv/dv_writer.go`,
  * `scanner.go:529-636`): the new DV for a file ORs in any prior DV and
  * any applicable parquet pos-delete positions (a DV supersedes both at
  * read time — skipping the fold would resurrect rows), and each data
  * file's DV is written by exactly one task (Spark clusters delta writes
  * by row id, and same-file positions land together).
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

/** One delete artifact a task produced: a DV blob inside a puffin file
  * (v3 — dataFile/offset/length set) or a parquet pos-delete file (v2 —
  * dataFile set only when the file covers exactly one data file).
  */
final case class GraftDeleteFileMsg(path: String, format: String,
    dataFile: Option[String], offset: Option[Long], length: Option[Long],
    count: Long)
final case class GraftDeltaCommitMessage(files: Seq[GraftWrittenFile],
    deletes: Seq[GraftDeleteFileMsg]) extends WriterCommitMessage

final class GraftDeltaBatchWrite(op: GraftDeltaOperation, table: GraftTable,
    lineageMetaIdx: Option[(Int, Int)] = None)
    extends DeltaBatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory = {
    val spark = SparkSession.active
    val schema = table.schema
    val sparkSchema = SchemaBridge.toSpark(schema)
    val ioOpts = table.refreshIoCredentials()
    val extractors = table.spec.fields.map { pf =>
      val src = schema.idToField(pf.sourceId)
      val idx = sparkSchema.fieldIndex(src.name)
      GraftPartExtractor(idx, sparkSchema.fields(idx).dataType, pf.transform)
    }
    val targetBytes = table.metadata.properties
      .get("write.target-file-size-bytes").map(_.toLong)
      .getOrElse(512L * 1024 * 1024)
    // calibrated roll target (see Writer.estimatedRowBytes); insert rows
    // arrive partition-sorted in one contiguous block (the required
    // ordering), so the fanout closes on partition change — one open
    // insert writer per task
    val maxRecords = math.max(1L,
      (targetBytes / Writer.estimatedRowBytes(table.location, sparkSchema)).toLong)
    // lineage carry (reinserted rows keep `_row_id`): widen the insert
    // writer's schema with the reserved-id columns, same explicit-wins
    // contract as the CoW replace write
    val insertSchema = if (lineageMetaIdx.isDefined)
      GraftBatchWrites.widenWithLineage(sparkSchema) else sparkSchema
    val inner = new GraftCowWriterFactory(
      ParquetRowWriteBridge.writerFactory(spark, insertSchema, ioOpts),
      table.location, schema, table.spec, extractors, maxRecords,
      closeOnPartitionChange = true,
      tableProps = table.metadata.properties,
      lineageMetaIdx = lineageMetaIdx)

    // prior delete state per candidate data file, shipped to executors so
    // each task folds it into the superseding DV it writes
    val existingDvs: Map[String, (String, Long, Long)] = op.scanned
      .flatMap(t => t.posDeletes.filter(_.format == "PUFFIN"))
      .flatMap(d => d.referencedDataFile.map(f =>
        f -> ((d.path, d.contentOffset.get, d.contentSize.get)))).toMap
    val existingPosFiles: Map[String, Seq[(String, Long)]] = op.scanned
      .map(t => t.file.path ->
        t.posDeletes.filter(_.format != "PUFFIN").map(d => (d.path, d.fileSize)))
      .filter(_._2.nonEmpty).toMap
    val delSchema = StructType(Seq(
      StructField("file_path", StringType, nullable = false),
      StructField("pos", LongType, nullable = false)))
    // delete format follows the table's format version: v3 → deletion
    // vectors (puffin, supersede-folded); v2 → parquet positional deletes
    // (additive — readers union them, no fold obligation). The reader
    // broadcasts the Hadoop conf and the writer ships a serialized one in
    // every task, so each is built only when used: the reader when a DV
    // folds prior parquet positional deletes, the writer for v2.
    val useDv = table.metadata.formatVersion >= 3
    val posDelReader =
      if (useDv && existingPosFiles.nonEmpty)
        Some(org.apache.spark.sql.graft.ParquetRowReadBridge.rowReader(
          spark, delSchema, ioOpts, Nil))
      else None
    val posDelWriter =
      if (useDv) None
      else Some(ParquetRowWriteBridge.writerFactory(spark, delSchema, ioOpts))
    new GraftDeltaWriterFactory(inner, existingDvs, existingPosFiles,
      posDelReader, ioOpts, table.location, useDv, posDelWriter,
      table.metadata.properties)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val msgs = messages.collect { case m: GraftDeltaCommitMessage => m }
    val written = msgs.flatMap(_.files).toSeq
    val dels = msgs.flatMap(_.deletes).toSeq
    if (written.isEmpty && dels.isEmpty) return
    // one DV per data file is a spec invariant — Spark clusters delta
    // writes by row id, but verify rather than assume
    val dup = dels.filter(_.format == "PUFFIN").groupBy(_.dataFile)
      .collect { case (Some(f), bs) if bs.size > 1 => f }
    require(dup.isEmpty,
      s"multiple tasks wrote DVs for the same data file(s): ${dup.mkString(", ")}")

    val schema = table.schema
    val props = table.metadata.properties
    val omitBounds = props.contains(graft.encryption.ParquetEncryption.KeyIdProp)
    import scala.collection.parallel.CollectionConverters._
    val added = written.par
      .map(f => Writer.harvestStats(f.path, schema, f.partValues,
        omitBounds = omitBounds, props = props))
      .seq.filter(_.recordCount > 0)
    Writer.observeRowBytes(table.location,
      added.map(_.recordCount).sum, added.map(_.fileSize).sum)
    val fileSizes = dels.map(_.path).distinct
      .map(p => p -> graft.io.FileIO.size(p)).toMap
    val deleteFiles = dels.map { b =>
      DataFile(DataFileContent.PositionDeletes, b.path, b.format,
        partition = Seq.empty, // file-/global-scoped: unpartitioned spec
        recordCount = b.count, fileSize = fileSizes(b.path),
        referencedDataFile = b.dataFile,
        contentOffset = b.offset, contentSize = b.length)
    }
    val useDv = table.metadata.formatVersion >= 3
    Writer.commitSnapshot(table, "overwrite",
      addedFiles = added, removedPaths = Set.empty,
      addedDeleteFiles = deleteFiles,
      conflictCheck = Some(Writer.ConflictCheck(
        filter = op.scanFilter,
        candidatePaths = op.scanned.map(_.file.path).toSet,
        referencedDataFiles = deleteFiles.flatMap(_.referencedDataFile).toSet,
        // UPDATE/MERGE re-insert the rows they read: a concurrent delete
        // landing on the read files has killed a row whose replacement is
        // in this commit — conflict under BOTH isolation levels (a pure
        // DELETE is exempt: double-deleting a position is idempotent)
        readFiles = if (op.command() != Command.DELETE)
          op.scanned.map(t => (t.file, t.specId)) else Nil,
        // pure v3 DELETE: this commit's DVs supersede prior DVs on the
        // same files, so concurrent deletes there must conflict (v2
        // pos-deletes are additive — readers union them — and need none)
        dvReadFiles = if (op.command() == Command.DELETE && useDv) {
          val refs = deleteFiles.flatMap(_.referencedDataFile).toSet
          op.scanned.filter(t => refs.contains(t.file.path))
            .map(t => (t.file, t.specId))
        } else Nil,
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

final class GraftDeltaWriterFactory(
    inner: GraftCowWriterFactory,
    existingDvs: Map[String, (String, Long, Long)],
    existingPosFiles: Map[String, Seq[(String, Long)]],
    posDelReader: Option[(String, Long) => Iterator[InternalRow]],
    ioOptions: Map[String, String],
    location: String,
    useDv: Boolean,
    posDelWriter: Option[String => org.apache.spark.sql.graft.RowFileWriter],
    tableProps: Map[String, String] = Map.empty)
    extends DeltaWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new GraftDeltaWriter(
      inner.createWriter(partitionId, taskId).asInstanceOf[GraftCowDataWriter],
      existingDvs, existingPosFiles, posDelReader, ioOptions, location,
      useDv, posDelWriter, tableProps)
}

/** Task-local delta writer: inserted rows route through the fanout data
  * writer; deleted (file, pos) ids accumulate into per-file roaring
  * bitmaps (compressed — a 10M-position delete stays MBs, not a long[]),
  * folded with any prior DV / parquet pos-delete state and flushed as ONE
  * puffin file per task at commit.
  */
final class GraftDeltaWriter(
    inserts: GraftCowDataWriter,
    existingDvs: Map[String, (String, Long, Long)],
    existingPosFiles: Map[String, Seq[(String, Long)]],
    posDelReader: Option[(String, Long) => Iterator[InternalRow]],
    ioOptions: Map[String, String],
    location: String,
    useDv: Boolean,
    posDelWriter: Option[String => org.apache.spark.sql.graft.RowFileWriter],
    tableProps: Map[String, String] = Map.empty)
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
    val deletes: Seq[GraftDeleteFileMsg] =
      if (bitmaps.isEmpty) Nil
      else if (useDv) {
        // v3: deletion vectors. Supersede semantics — fold prior DV and
        // parquet pos-delete positions for each touched file into the new
        // DV (a DV replaces both at read time)
        bitmaps.foreach { case (file, bm) =>
          existingDvs.get(file).foreach { case (p, off, len) =>
            val bytes = Puffin.readBlob(p, Puffin.BlobMetadata(
              DeletionVector.BlobType, Nil, -1, -1, off, len, Map.empty))
            bm.or(DeletionVector.deserialize(bytes))
          }
          existingPosFiles.get(file).foreach(_.foreach { case (p, sz) =>
            posDelReader.get(p, sz).foreach { r =>
              if (r.getUTF8String(0).toString == file) bm.set(r.getLong(1))
            }
          })
        }
        val puffinPath = graft.table.Locations.newDataLocation(location,
          tableProps, "", s"dv-${UUID.randomUUID()}.puffin")
        val ordered = bitmaps.toSeq.sortBy(_._1)
        val metas = Puffin.write(puffinPath, ordered.map { case (file, bm) =>
          (DeletionVector.BlobType, DeletionVector.serialize(bm), Map(
            "referenced-data-file" -> file,
            "cardinality" -> bm.cardinality.toString))
        })
        ordered.zip(metas).map { case ((file, bm), meta) =>
          GraftDeleteFileMsg(puffinPath, "PUFFIN", Some(file),
            Some(meta.offset), Some(meta.length), bm.cardinality)
        }
      } else {
        // v2: one parquet positional-delete file per task, rows ordered
        // (file_path ASC, pos ASC) per spec; additive — no fold needed
        val path = graft.table.Locations.newDataLocation(location,
          tableProps, "", s"pos-delete-${UUID.randomUUID()}.parquet")
        val w = posDelWriter.get(path)
        var count = 0L
        val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(2)
        bitmaps.toSeq.sortBy(_._1).foreach { case (file, bm) =>
          row.update(0, org.apache.spark.unsafe.types.UTF8String.fromString(file))
          bm.positionsIterator.foreach { pos =>
            row.setLong(1, pos)
            w.write(row)
            count += 1
          }
        }
        w.close()
        val single = if (bitmaps.size == 1) Some(bitmaps.head._1) else None
        Seq(GraftDeleteFileMsg(path, "PARQUET", single, None, None, count))
      }
    GraftDeltaCommitMessage(dataMsg.files, deletes)
  }

  override def abort(): Unit = inserts.abort()
  override def close(): Unit = inserts.close()
}
