package graft.sources

import java.util.UUID

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.RowLevelOperation.Command
import org.apache.spark.sql.graft.{ParquetRowWriteBridge, RowFileWriter}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.core.{Expr, IcebergSchema, SchemaBridge, Transform => GTransform}
import graft.format.PartitionSpec
import graft.table.{FileScanTask, Table => GraftTable, Writer}

/** Group-based (copy-on-write) row-level operations: SQL `UPDATE`, `MERGE
  * INTO`, and rewrite-path `DELETE` (predicates the metadata path can't
  * translate). Spark's `RewriteUpdateTable` / `RewriteMergeIntoTable` /
  * `RewriteDeleteFromTable` drive the protocol:
  *
  *   1. [[SpjScanBuilder]] in its row-level form — the operation scan.
  *      Pushed filters prune at the FILE level only (a pruned file is left
  *      untouched; a kept file is replaced whole, so every one of its rows
  *      must flow — row-group or row filtering here would silently drop
  *      the non-matching rows a CoW rewrite has to carry). The planned
  *      file set is recorded on the operation, and Spark's runtime `_file`
  *      filter narrows it to the files holding matched rows.
  *   2. Spark transforms the rows (CASE WHEN for UPDATE, the merge rows
  *      processor for MERGE) and hands the FULL replacement rowset to
  *   3. [[GraftReplaceBatchWrite]] — executor-side DSv2 data writers
  *      (stock parquet writer via [[ParquetRowWriteBridge]], per-task
  *      partition fanout with rolling target size); commit harvests footer
  *      stats and commits ONE `overwrite` snapshot: new files in, scanned
  *      files out, with the same conflict validation as the programmatic
  *      CoW path — a concurrent writer touching the rewritten files forces
  *      a retry/rebase, never a lost update.
  *
  * Candidate files carrying MoR deletes read through the delete-applying
  * reader (live rows only — no resurrection); the rewrite folds covered
  * DVs away and out-sequences old equality deletes.
  *
  * Reference basis: the reference's row-delta/upsert transaction
  * (`table/transaction.go:2340-2600`) expressed through Spark's native
  * row-level-operation protocol.
  */
final class GraftRowLevelOperation(table: GraftTable, cmd: Command)
    extends RowLevelOperation with GraftRowLevelScan {

  override def groupFiltered: Boolean = true

  override def command(): Command = cmd

  /** `_file` engages Spark's projecting write task (without a metadata
    * attribute, group-based plans hand the writer the raw rewrite rows,
    * operation column included). On v3 tables the row-lineage columns ride
    * the same metadata projection: Spark's rewrite rules preserve/null
    * them per the [[SpjTable.RowIdMetaColumn]] /
    * [[SpjTable.LastUpdatedMetaColumn]] flags (UPDATE keeps `_row_id`,
    * re-stamps `_last_updated_sequence_number`; MERGE inserts get fresh
    * ids), and [[GraftCowDataWriter]] materializes them as explicit
    * reserved-id parquet columns — UPDATE/MERGE stop destroying survivor
    * lineage.
    */
  override def requiredMetadataAttributes():
      Array[org.apache.spark.sql.connector.expressions.NamedReference] = {
    val base = Array(org.apache.spark.sql.connector.expressions.Expressions.column(
      SpjTable.FileColumnName))
    if (table.metadata.formatVersion >= 3)
      base ++ Array(
        org.apache.spark.sql.connector.expressions.Expressions.column(
          SpjTable.RowIdColumnName),
        org.apache.spark.sql.connector.expressions.Expressions.column(
          SpjTable.LastUpdatedColumnName))
    else base
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new SpjScanBuilder(table, SchemaBridge.toSpark(table.schema), None, None,
      options.asCaseSensitiveMap().asScala.toMap, rowLevel = Some(this))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = {
        // lineage carry: Spark declares the metadata row's layout here —
        // record where _row_id / _last_updated_sequence_number sit so the
        // executor writer can pull them without name lookups per row
        val metaIdx = GraftBatchWrites.lineageMetaIdx(table, info)
        new Write with GraftPartitionClusteredWrite {
          override def clusterTable: GraftTable = table
          override def toBatch: BatchWrite =
            new GraftReplaceBatchWrite(GraftRowLevelOperation.this, table, metaIdx)
        }
      }
    }
}

/** Write distribution for the partition-fanout DSv2 writes (CoW row-level
  * replacement, dynamic overwrite): REQUIRE rows clustered by the table's
  * partition transforms and sorted by them within tasks. Without it a
  * MERGE whose rows span many partitions per task holds (open partitions ×
  * row-group buffer) of memory per task; with it each partition's rows
  * land in one task as one contiguous run, so the fanout writer keeps ONE
  * writer open (see [[GraftCowDataWriter]]'s close-on-partition-change) —
  * the same guarantee [[GraftDeltaOperation]]'s delta write declares via
  * `_file` clustering. Transforms resolve against the catalog's V2
  * functions ([[GraftSpjCatalog.FunctionNames]]); fields whose transform
  * or source type can't provably bind (void, unknown, ns-long time
  * sources) contribute nothing, and a table with no provable field keeps
  * an unspecified distribution rather than failing the write.
  */
trait GraftPartitionClusteredWrite
    extends org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
  def clusterTable: GraftTable

  private lazy val cluster = GraftBatchWrites.clusteringTransforms(clusterTable)

  override def requiredDistribution():
      org.apache.spark.sql.connector.distributions.Distribution =
    if (cluster.isEmpty)
      org.apache.spark.sql.connector.distributions.Distributions.unspecified()
    else org.apache.spark.sql.connector.distributions.Distributions.clustered(
      cluster.map(t => t: org.apache.spark.sql.connector.expressions.Expression))

  /** Best-effort, not strict: AQE plans a REBALANCE instead of a rigid
    * hash exchange, so one hot partition value (the classic write skew)
    * splits across tasks instead of strangling a single task — the fanout
    * writer is correct under any distribution, a split partition just
    * writes one extra file. */
  override def distributionStrictlyRequired(): Boolean = false

  /** Size write tasks toward one target-size output file each: AQE
    * coalesces/splits shuffle partitions to this advisory, so a MERGE's
    * write stage produces ~(data bytes / target) balanced tasks rather
    * than inheriting the join's partitioning. Only legal alongside a real
    * distribution — 0 (unset) when the table clusters nothing. */
  override def advisoryPartitionSizeInBytes(): Long =
    if (cluster.isEmpty) 0L
    else clusterTable.metadata.properties
      .get("write.target-file-size-bytes").map(_.toLong)
      .getOrElse(512L * 1024 * 1024)

  /** Partition transforms first (one contiguous run per partition → one
    * open writer), then the table's default sort order within each
    * partition run — rewritten files keep the clustering a sorted table
    * declared.
    */
  override def requiredOrdering():
      Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    cluster.map(t => org.apache.spark.sql.connector.expressions.Expressions.sort(
      t, org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)) ++
      GraftBatchWrites.tableSortOrdering(clusterTable)
}

/** What a row-level operation's candidate scan ([[SpjScanBuilder]] with
  * `rowLevel`) records for its commit, on the driver at plan time:
  * `scanned`, the candidate tasks — the set a copy-on-write rewrite
  * replaces, and the files a merge-on-read delta folds prior deletes from —
  * and `scanFilter`, the static pushed filter they were planned with, the
  * commit's conflict-detection scope under serializable isolation.
  */
trait GraftRowLevelScan {
  @volatile private[sources] var scanned: Seq[FileScanTask] = Nil
  @volatile private[sources] var scanFilter: Expr = Expr.AlwaysTrue

  /** Copy-on-write: Spark's runtime `_file` filter narrows `scanned` to the
    * files holding matched rows, so only those rewrite.
    */
  def groupFiltered: Boolean
}

/** One written file, reported from the executor to the driver commit. */
final case class GraftWrittenFile(path: String, partValues: Seq[Any], rows: Long)
final case class GraftCommitMessage(files: Seq[GraftWrittenFile])
    extends WriterCommitMessage

/** Per-partition-field extractor, serialized to executors: source column
  * ordinal + Spark type + the transform (value-level `apply`).
  */
final case class GraftPartExtractor(idx: Int, dt: DataType, transform: GTransform)

object GraftBatchWrites {
  /** Isolation-level table property for a row-level command (reference
    * `table/properties.go`: write.<op>.isolation-level, default
    * serializable — one knob per DELETE/UPDATE/MERGE).
    */
  def isolationKey(cmd: Command): String = cmd match {
    case Command.DELETE => "write.delete.isolation-level"
    case Command.UPDATE => "write.update.isolation-level"
    case _ => "write.merge.isolation-level"
  }

  /** Where `_row_id` / `_last_updated_sequence_number` sit in a row-level
    * write's metadata row — None below v3 or when the plan carries no
    * metadata projection. ONE definition shared by the group (ReplaceData)
    * and delta (WriteDelta) builders so the carry contract can't
    * desynchronize between the two write paths.
    */
  def lineageMetaIdx(table: GraftTable, info: LogicalWriteInfo): Option[(Int, Int)] =
    if (table.metadata.formatVersion >= 3 && info.metadataSchema().isPresent) {
      val names = info.metadataSchema().get.fieldNames
      val ri = names.indexOf(SpjTable.RowIdColumnName)
      val li = names.indexOf(SpjTable.LastUpdatedColumnName)
      if (ri >= 0 && li >= 0) Some((ri, li)) else None
    } else None

  /** A write schema widened with the reserved-id lineage columns (explicit
    * values win over synthesis at read — the carry contract's storage).
    */
  def widenWithLineage(schema: StructType): StructType =
    StructType(schema.fields ++ SchemaBridge.LineageCols.map { case (n, id) =>
      StructField(n, LongType, nullable = true,
        new org.apache.spark.sql.types.MetadataBuilder()
          .putLong(SchemaBridge.FieldIdKey, id.toLong).build())
    })

  /** Executor-side partition-fanout writer factory over Spark's own
    * parquet OutputWriter — shared by every DSv2 data write: the CoW
    * row-level replacement, the merge-on-read inserts, the dynamic
    * overwrite and the streaming epochs. Files are encrypted under the
    * table's key and take its `write.parquet.*` settings
    * ([[Writer.taskWriteOptions]]). `closeOnPartitionChange`: the input
    * arrives clustered and sorted by partition (see [[GraftCowDataWriter]]).
    */
  def cowWriterFactory(table: GraftTable,
      lineageMetaIdx: Option[(Int, Int)] = None,
      closeOnPartitionChange: Boolean = true): GraftCowWriterFactory = {
    val spark = SparkSession.active
    val schema = table.schema
    val sparkSchema = SchemaBridge.toSpark(schema)
    // lineage carry (group-based UPDATE/MERGE on v3): the written files
    // materialize _row_id / _last_updated_sequence_number as REAL parquet
    // columns under the reserved field ids — the same explicit-wins
    // contract the lineage-preserving deleteWhere/compaction writes use
    val writeSchema =
      if (lineageMetaIdx.isDefined) widenWithLineage(sparkSchema) else sparkSchema
    val ioOpts = table.refreshIoCredentials()
    val extractors = table.spec.fields.map { pf =>
      val src = schema.idToField(pf.sourceId)
      val idx = sparkSchema.fieldIndex(src.name)
      GraftPartExtractor(idx, sparkSchema.fields(idx).dataType, pf.transform)
    }
    val targetBytes = table.metadata.properties
      .get("write.target-file-size-bytes").map(_.toLong)
      .getOrElse(512L * 1024 * 1024)
    // same calibration as the V1 funnel: observed encoded bytes/row of the
    // table's previous writes (schema width only on a fresh table — the
    // under-target-erring side); wide-string tables roll on target, not
    // on the in-memory width's gross overshoot
    val maxRecords = math.max(1L,
      (targetBytes / Writer.estimatedRowBytes(table.location, sparkSchema)).toLong)
    new GraftCowWriterFactory(
      ParquetRowWriteBridge.writerFactory(spark, writeSchema,
        Writer.taskWriteOptions(spark, table, ioOpts)),
      table.location, schema, table.spec, extractors, maxRecords,
      closeOnPartitionChange = closeOnPartitionChange,
      tableProps = table.metadata.properties,
      lineageMetaIdx = lineageMetaIdx)
  }

  /** One graft transform over a named source column as a provably-
    * resolvable V2 expression: identity always; bucket / time / truncate
    * via the catalog's V2 functions only when the source type binds
    * (ns-long time sources and decimal/binary bucket/truncate sources
    * yield None — a claim that fails to bind would fail the query).
    */
  def transformExpr(table: GraftTable, tr: GTransform, src: String):
      Option[org.apache.spark.sql.connector.expressions.Transform] = {
    import org.apache.spark.sql.connector.expressions.{Expressions => VE}
    import graft.core.Transforms
    val sparkSchema = SchemaBridge.toSpark(table.schema)
    def typeOf: Option[DataType] =
      sparkSchema.fields.find(_.name == src).map(_.dataType)
    def dateOrTs = typeOf.exists {
      case DateType | TimestampType | TimestampNTZType => true; case _ => false
    }
    def tsOnly = typeOf.exists {
      case TimestampType | TimestampNTZType => true; case _ => false
    }
    def bucketable = typeOf.exists {
      case IntegerType | LongType | DateType | StringType => true; case _ => false
    }
    def truncable = typeOf.exists {
      case IntegerType | LongType | StringType => true; case _ => false
    }
    tr match {
      case Transforms.Identity => Some(VE.identity(src))
      case Transforms.Bucket(n) if bucketable => Some(VE.bucket(n, src))
      case Transforms.Years if dateOrTs => Some(VE.years(src))
      case Transforms.Months if dateOrTs => Some(VE.months(src))
      case Transforms.Days if dateOrTs => Some(VE.days(src))
      case Transforms.Hours if tsOnly => Some(VE.hours(src))
      case Transforms.Truncate(w) if truncable =>
        Some(VE.apply("truncate", VE.literal(w), VE.column(src)))
      case _ => None
    }
  }

  /** The table's partition transforms as V2 expressions, for write
    * distributions. Void is a constant (clusters nothing); unknown and
    * unbindable sources are skipped rather than failing the write.
    */
  def clusteringTransforms(table: GraftTable):
      Array[org.apache.spark.sql.connector.expressions.Transform] = {
    val schema = table.schema
    table.spec.fields.flatMap { pf =>
      transformExpr(table, pf.transform, schema.idToField(pf.sourceId).name)
    }.toArray
  }

  /** The table's DEFAULT SORT ORDER as V2 sort expressions — appended
    * after the partition clustering so CoW rewrites land sort-clustered
    * files (the V1 append funnel already sorts; without this a MERGE
    * would destroy the clustering a sorted table paid for). The list
    * prefix-truncates at the first inexpressible field: sorting by later
    * keys without an earlier one is not the declared order.
    */
  def tableSortOrdering(table: GraftTable):
      Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    import org.apache.spark.sql.connector.expressions.{Expressions => VE, NullOrdering, SortDirection}
    val schema = table.schema
    table.metadata.sortOrders
      .find(_.orderId == table.metadata.defaultSortOrderId)
      .map { order =>
        order.fields.iterator
          .map { sf =>
            schema.idToField.get(sf.sourceId)
              .flatMap(f => transformExpr(table, sf.transform, f.name))
              .map(e => VE.sort(e,
                if (sf.ascending) SortDirection.ASCENDING else SortDirection.DESCENDING,
                if (sf.nullsFirst) NullOrdering.NULLS_FIRST else NullOrdering.NULLS_LAST))
          }
          .takeWhile(_.isDefined).flatten.toArray
      }
      .getOrElse(Array.empty)
  }

  /** Footer-stats harvest of task-written files (driver IO pool). */
  def harvest(table: GraftTable, written: Seq[GraftWrittenFile]): Seq[graft.format.DataFile] = {
    val schema = table.schema
    val props = table.metadata.properties
    val omitBounds = props.contains(graft.encryption.ParquetEncryption.KeyIdProp)
    import scala.collection.parallel.CollectionConverters._
    val out = written.par
      .map(f => Writer.harvestStats(f.path, schema, f.partValues,
        omitBounds = omitBounds, props = props))
      .seq.filter(_.recordCount > 0)
    // feed the shared rolling calibration (same loop as the V1 funnel)
    Writer.observeRowBytes(table.location,
      out.map(_.recordCount).sum, out.map(_.fileSize).sum)
    out
  }
}

/** SQL `INSERT OVERWRITE` under partitionOverwriteMode=dynamic: one
  * `overwrite` snapshot replacing exactly the partitions present in the
  * incoming rows (Iceberg ReplacePartitions semantics — see
  * [[Writer.dynamicReplacement]] for the matching rules). Spark plans
  * dynamic overwrite only through a real DSv2 BatchWrite (no V1 fallback
  * exec exists), so the rows land through the executor-side fanout
  * writers.
  */
final class GraftDynamicOverwriteBatchWrite(table: GraftTable)
    extends BatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    GraftBatchWrites.cowWriterFactory(table)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val written = messages.collect { case m: GraftCommitMessage => m.files }.flatten.toSeq
    val added = GraftBatchWrites.harvest(table, written)
    val (removedPaths, deleteKeys) =
      if (table.spec.isUnpartitioned) {
        val live = table.newScan.planFiles()
        (live.map(_.file.path).toSet,
          live.flatMap(t =>
            t.posDeletes.map(d => (d.path, d.contentOffset)) ++
              t.eqDeletes.map(e => (e._1.path, e._1.contentOffset))).toSet)
      } else Writer.dynamicReplacement(table, added.map(_.partition))
    if (added.isEmpty && removedPaths.isEmpty) return
    Writer.commitSnapshot(table, "overwrite", addedFiles = added,
      removedPaths = removedPaths, addedDeleteFiles = Nil,
      removedDeleteKeys = deleteKeys)
    ()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.collect { case m: GraftCommitMessage => m.files }.flatten
      .foreach(f => graft.io.FileIO.delete(f.path))
}

final class GraftReplaceBatchWrite(op: GraftRowLevelOperation, table: GraftTable,
    lineageMetaIdx: Option[(Int, Int)] = None)
    extends BatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    GraftBatchWrites.cowWriterFactory(table, lineageMetaIdx)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val written = messages.collect { case m: GraftCommitMessage => m.files }.flatten.toSeq
    val removed = op.scanned
    if (written.isEmpty && removed.isEmpty) return // no-op operation
    // footer harvest: one footer per file, IO-bound — driver pool
    val added = GraftBatchWrites.harvest(table, written)
    val removedPaths = removed.map(_.file.path).toSet
    // deletion vectors reference exactly one data file — when that file is
    // replaced, its DV folds away with it. Multi-file parquet pos-deletes
    // may reference files outside the rewrite, so they stay (dangling
    // entries for removed paths are inert; compaction folds them later).
    val droppedDvs = removed.flatMap(_.posDeletes)
      .filter(d => d.format == "PUFFIN" &&
        d.referencedDataFile.exists(removedPaths.contains))
      .map(d => (d.path, d.contentOffset)).toSet
    Writer.commitSnapshot(table, "overwrite",
      addedFiles = added,
      removedPaths = removedPaths,
      addedDeleteFiles = Nil,
      removedDeleteKeys = droppedDvs,
      conflictCheck = Some(Writer.ConflictCheck(
        filter = op.scanFilter,
        candidatePaths = op.scanned.map(_.file.path).toSet,
        rewrittenFiles = removed.map(t => (t.file, t.specId)),
        serializableDataScope = true,
        isolationKey = GraftBatchWrites.isolationKey(op.command()))))
    ()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.collect { case m: GraftCommitMessage => m.files }.flatten
      .foreach(f => graft.io.FileIO.delete(f.path))
}

final class GraftCowWriterFactory(
    newWriter: String => RowFileWriter,
    location: String, schema: IcebergSchema, spec: PartitionSpec,
    extractors: Seq[GraftPartExtractor], maxRecords: Long,
    closeOnPartitionChange: Boolean = false,
    tableProps: Map[String, String] = Map.empty,
    lineageMetaIdx: Option[(Int, Int)] = None)
    extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GraftCowDataWriter(newWriter, location, schema, spec, extractors,
      maxRecords, closeOnPartitionChange, tableProps, lineageMetaIdx)
}

/** Peak concurrently-open writers across all [[GraftCowDataWriter]] tasks
  * since the last reset — the memory-bound evidence for the clustered
  * write distribution (local-mode JVM-wide; gates assert peak == 1 on a
  * clustered+sorted multi-partition write).
  */
object GraftCowWriterMetrics {
  private val peak = new java.util.concurrent.atomic.AtomicInteger(0)
  def reset(): Unit = peak.set(0)
  def peakOpenWriters: Int = peak.get
  private[sources] def observe(n: Int): Unit = {
    var cur = peak.get
    while (n > cur && !peak.compareAndSet(cur, n)) cur = peak.get
  }
}

/** Task-local fanout writer: one rolling parquet writer per live partition
  * value (the Iceberg fanout shape); rolls at the calibrated record target.
  *
  * `closeOnPartitionChange` (set by the batch writes, which declare a
  * clustered + sorted distribution via [[GraftPartitionClusteredWrite]]):
  * sorted input makes each partition one contiguous run, so the previous
  * partition's writer closes the moment the value changes — peak memory is
  * ONE row-group buffer per task regardless of how many partitions the
  * task owns. Unsorted callers (the streaming epoch write, delta-write
  * inserts clustered by `_file`) leave it off and keep the map-fanout
  * bound of (open partitions per task × row-group buffer). Correct either
  * way — a mis-set flag costs extra files, never rows.
  */
final class GraftCowDataWriter(
    newWriter: String => RowFileWriter,
    location: String, schema: IcebergSchema, spec: PartitionSpec,
    extractors: Seq[GraftPartExtractor], maxRecords: Long,
    closeOnPartitionChange: Boolean = false,
    tableProps: Map[String, String] = Map.empty,
    lineageMetaIdx: Option[(Int, Int)] = None)
    extends DataWriter[InternalRow] {

  private final class OpenFile(val partValues: Seq[Any], val path: String) {
    val writer: RowFileWriter = newWriter(path)
    var rows: Long = 0L
  }

  private val open = mutable.Map.empty[String, OpenFile]
  private val finished = mutable.Buffer.empty[GraftWrittenFile]

  private def jvmValue(row: InternalRow, e: GraftPartExtractor): Any =
    if (row.isNullAt(e.idx)) null
    else e.dt match {
      case IntegerType | DateType => row.getInt(e.idx)
      case LongType | TimestampType | TimestampNTZType => row.getLong(e.idx)
      case StringType => row.getUTF8String(e.idx).toString
      case BooleanType => row.getBoolean(e.idx)
      case DoubleType => row.getDouble(e.idx)
      case FloatType => row.getFloat(e.idx)
      case d: DecimalType =>
        row.getDecimal(e.idx, d.precision, d.scale).toJavaBigDecimal
      case BinaryType => row.getBinary(e.idx)
      case other => throw new IllegalArgumentException(
        s"partition source type $other unsupported in row-level write")
    }

  private def newPath(dir: String): String =
    graft.table.Locations.newDataLocation(location, tableProps, dir,
      s"${UUID.randomUUID()}.parquet")

  private def closeFile(f: OpenFile): Unit = {
    f.writer.close()
    finished += GraftWrittenFile(f.path, f.partValues, f.rows)
  }

  // reusable row plumbing for the lineage-widened path: JoinedRow mutates
  // in place and the parquet writer consumes each row before the next
  // call, so per-row allocation here would be pure GC pressure at
  // 100M-row rewrite scale
  private val lineageJoin = new org.apache.spark.sql.catalyst.expressions.JoinedRow()
  private val lineageSlot = new GenericInternalRow(2)
  private val nullLineage = new GenericInternalRow(2)

  /** Rows arrive as (metadata, data) from the projecting write task. The
    * `_file` metadata isn't needed here (the replaced set was recorded at
    * plan time); on v3 the `_row_id` / `_last_updated_sequence_number`
    * slots ARE — Spark's rewrite rules preserved (carried + updated ids),
    * nulled (re-stamped sequences, MERGE inserts), per the metadata-column
    * flags, and the pair lands as explicit reserved-id columns the read
    * path prefers over synthesis.
    */
  override def write(meta: InternalRow, row: InternalRow): Unit =
    lineageMetaIdx match {
      case Some((ri, li)) =>
        lineageSlot.update(0, if (meta.isNullAt(ri)) null else meta.getLong(ri))
        lineageSlot.update(1, if (meta.isNullAt(li)) null else meta.getLong(li))
        writeRow(row, lineageJoin(row, lineageSlot))
      case None => write(row)
    }

  private var lastDir: String = null

  override def write(row: InternalRow): Unit = writeRow(row,
    lineageMetaIdx match {
      // writer schema is lineage-widened: a row arriving without metadata
      // still needs the two slots (null → synthesized at read)
      case Some(_) => lineageJoin(row, nullLineage)
      case None => row
    })

  /** `partSource` carries the data columns the partition extractors index;
    * `out` is what lands in the file (possibly lineage-widened).
    */
  private def writeRow(partSource: InternalRow, out: InternalRow): Unit = {
    val partValues: Seq[Any] =
      extractors.map(e => e.transform.apply(jvmValue(partSource, e), e.dt))
    val dir =
      if (spec.fields.isEmpty) ""
      else spec.partitionToPath(partValues, schema) + "/"
    if (closeOnPartitionChange && lastDir != null && lastDir != dir)
      open.remove(lastDir).foreach(closeFile)
    lastDir = dir
    val f = open.getOrElseUpdate(dir, new OpenFile(partValues, newPath(dir)))
    GraftCowWriterMetrics.observe(open.size)
    f.writer.write(out)
    f.rows += 1
    if (f.rows >= maxRecords) { closeFile(f); open.remove(dir); () }
  }

  override def commit(): WriterCommitMessage = {
    open.values.foreach(closeFile)
    open.clear()
    GraftCommitMessage(finished.toSeq)
  }

  override def abort(): Unit = {
    open.values.foreach(f => scala.util.Try(f.writer.close()))
    (open.values.map(_.path) ++ finished.map(_.path))
      .foreach(p => scala.util.Try(graft.io.FileIO.delete(p)))
    open.clear()
  }

  override def close(): Unit = ()
}
