package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.connector.catalog.{MetadataColumn, SupportsDelete, SupportsMetadataColumns, SupportsRead, SupportsRowLevelOperations, SupportsWrite, Table => V2Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportPartitioning, SupportsRuntimeFiltering}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, RowLevelOperationBuilder, RowLevelOperationInfo, SupportsOverwrite, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.graft.ParquetRowReadBridge
import org.apache.spark.sql.sources.{DataSourceRegister, Filter, InsertableRelation}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.catalog.Catalogs
import graft.core.{Expr, SchemaBridge, Transforms}
import graft.format.PositionBitmap
import graft.table.{ReadRoute, Table => GraftTable, Writer}

/** DSv2 read over an identity-partitioned Iceberg table that reports
  * `KeyGroupedPartitioning` — the storage-partitioned-join path: two tables
  * partitioned on their join key scan as key-grouped partitions, and Spark
  * plans the join with ZERO shuffle exchanges (each partition pair joins
  * where it sits). At 100 TB this is the difference between a join that
  * moves both tables over the network and one that moves nothing.
  *
  * `spark.read.format("graft-iceberg-spj").option("catalog", uri)
  * .option("table", name)` with session confs
  * `spark.sql.sources.v2.bucketing.enabled=true` (and
  * `...pushPartValues.enabled=true` for sides whose partition-value sets
  * differ). The source is deliberately scoped to the co-located-join fast
  * path; everything it does not handle fails loudly toward the full
  * [[graft.table.SparkRead]] reader:
  *   - identity transforms only (bucket SPJ additionally needs a
  *     FunctionCatalog so Spark can prove both sides hash identically);
  *   - merge-on-read state applies in the reader: DV bitmaps, positional
  *     deletes, and equality-delete key sets filter per-row (deletes only
  *     remove rows, so key-grouped claims hold).
  * Column pruning and filter pushdown are full-fidelity: see
  * [[SpjScanBuilder]].
  *
  * The same table class, loaded through [[GraftSpjCatalog]] (strict=false),
  * is the full SQL DDL/DML surface: general reads over ANY partition spec
  * (the SPJ claim is made only when provable — identity/bucket specs — and
  * otherwise the scan plans per-file partitions under UnknownPartitioning),
  * `INSERT INTO` (append snapshot), `INSERT OVERWRITE` (atomic replace),
  * `DELETE FROM ... WHERE` (copy-on-write via the strict/inclusive
  * classifiers), and time travel (`VERSION AS OF` / `TIMESTAMP AS OF`).
  *
  * Reference basis: scan planning + partition tuples
  * (`table/scanner.go:809-950`); the key-grouped layout is the Spark-native
  * expression of the reference's partition-file grouping.
  */
final class SpjSourceProvider extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-iceberg-spj"

  private def load(options: util.Map[String, String]): GraftTable = {
    def req(k: String) = Option(options.get(k)).getOrElse(
      throw new IllegalArgumentException(s"graft-iceberg-spj requires option '$k'"))
    Catalogs.load(req("catalog")).loadTable(req("table"))
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    SchemaBridge.toSpark(load(options).schema)

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): V2Table =
    new SpjTable(load(properties), schema, strict = true)
}

/** V2 table over a graft Iceberg table.
  *
  * `strict = true` (the bare `graft-iceberg-spj` format): SPJ fast path
  * only — refuses non-identity transforms loudly (bucket with directions to
  * the function catalog), so a user never silently loses the zero-shuffle
  * plan they asked for.
  *
  * `strict = false` (the [[GraftSpjCatalog]] SQL path): general table —
  * any spec reads (SPJ claimed only when provable), and when `writable`
  * the table accepts `INSERT INTO` / `INSERT OVERWRITE` (V1 write funneled
  * into [[Writer.append]] / [[Writer.overwriteAll]] — fanout, footer stats,
  * commit protocol with retry/rebase all apply) and `DELETE FROM` (CoW
  * [[Writer.deleteWhere]]; metadata-only when the strict evaluator proves
  * whole files match). `snapshotId` pins time-travel reads, and
  * `keySchema` is then the snapshot's schema `sparkSchema` came from;
  * time-travel tables refuse writes.
  */
final class SpjTable(table: GraftTable, sparkSchema: StructType,
    allowBucket: Boolean = false, strict: Boolean = true,
    snapshotId: Option[Long] = None, writable: Boolean = false,
    branch: Option[String] = None,
    keySchema: Option[graft.core.IcebergSchema] = None)
    extends V2Table with SupportsRead with SupportsWrite with SupportsDelete
    with SupportsRowLevelOperations with SupportsMetadataColumns {

  /** `_file`: the data file each row came from — queryable directly
    * (`SELECT _file, ...`) and the carrier that engages Spark's projecting
    * write task for row-level operations.
    */
  override def metadataColumns(): Array[MetadataColumn] = SpjTable.metadataColumns(table)

  /** Table properties surface to SQL (`SHOW TBLPROPERTIES`,
    * `SHOW CREATE TABLE`): the graft table's own properties plus the
    * provider and current format version.
    */
  override def properties(): java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    table.metadata.properties.foreach { case (k, v) => m.put(k, v) }
    m.put("provider", "graft-iceberg")
    m.put("format-version", table.metadata.formatVersion.toString)
    m
  }

  private val spec = table.spec
  if (strict) require(spec.fields.nonEmpty,
    s"graft-iceberg-spj: table ${table.name} must be partitioned " +
      "(use graft.table.SparkRead for general reads)")

  /** The SPJ partitioning claim — made only when every partition field is
    * provably Spark-visible: identity always; bucket, time transforms
    * (`years`/`months`/`days`/`hours`) and `truncate` only with the owning
    * FunctionCatalog (Spark must bind both join sides to the same
    * canonical arithmetic) AND a source type the V2 function binds
    * (ns-long time sources and decimal/binary bucket/truncate sources
    * claim nothing — a claim that fails to bind would fail the query, not
    * just lose the optimization).
    */
  private def srcSparkType(name: String): Option[org.apache.spark.sql.types.DataType] =
    sparkSchema.fields.find(_.name == name).map(_.dataType)

  private val claimKeys: Option[Seq[Transform]] = {
    import org.apache.spark.sql.types.{DateType, IntegerType, LongType, StringType, TimestampNTZType, TimestampType}
    if (spec.fields.isEmpty) None
    else {
      val mapped: Seq[Option[Transform]] = spec.fields.map { pf =>
        val src = table.schema.idToField(pf.sourceId).name
        def dateOrTs = srcSparkType(src).exists {
          case DateType | TimestampType | TimestampNTZType => true; case _ => false
        }
        def tsOnly = srcSparkType(src).exists {
          case TimestampType | TimestampNTZType => true; case _ => false
        }
        def bucketable = srcSparkType(src).exists {
          case IntegerType | LongType | DateType | StringType => true; case _ => false
        }
        def truncable = srcSparkType(src).exists {
          case IntegerType | LongType | StringType => true; case _ => false
        }
        pf.transform match {
          case Transforms.Identity => Some(Expressions.identity(src))
          case Transforms.Bucket(n) if allowBucket && bucketable =>
            Some(Expressions.bucket(n, src))
          case Transforms.Bucket(_) if strict => throw new IllegalArgumentException(
            s"graft-iceberg-spj: bucket SPJ on ${table.name} needs the function " +
              "catalog — register spark.sql.catalog.<name>=graft.sources.GraftSpjCatalog " +
              "and read through spark.table(\"<name>.<table>\")")
          case Transforms.Years if allowBucket && dateOrTs => Some(Expressions.years(src))
          case Transforms.Months if allowBucket && dateOrTs => Some(Expressions.months(src))
          case Transforms.Days if allowBucket && dateOrTs => Some(Expressions.days(src))
          case Transforms.Hours if allowBucket && tsOnly => Some(Expressions.hours(src))
          // width-embedded single-arg form: Spark's KeyGroupedPartitioning
          // rejects any transform expression with a literal child
          // (`KeyGroupedPartitioning.supportsExpressions` demands exactly
          // one REFERENCE child; only bucket's width gets a special slot),
          // so the claim binds `truncate_<W>(col)` from the FunctionCatalog
          case Transforms.Truncate(w) if allowBucket && truncable =>
            Some(Expressions.apply(s"truncate_$w", Expressions.column(src)))
          case other if strict => throw new IllegalArgumentException(
            s"graft-iceberg-spj: table ${table.name} has unsupported partition " +
              s"transform ${other.name}; use graft.table.SparkRead for general reads")
          case _ => None
        }
      }
      if (mapped.forall(_.isDefined)) Some(mapped.map(_.get)) else None
    }
  }

  override def name(): String = s"graft-spj:${table.name}"
  override def schema(): StructType = sparkSchema

  /** Informational spec (DESCRIBE, write distribution hints): the full
    * transform list, including the ones the scan does not claim for SPJ.
    */
  override def partitioning(): Array[Transform] = spec.fields.map { pf =>
    val src = table.schema.idToField(pf.sourceId).name
    pf.transform match {
      case Transforms.Identity => Expressions.identity(src)
      case Transforms.Bucket(n) => Expressions.bucket(n, src)
      case Transforms.Years => Expressions.years(src)
      case Transforms.Months => Expressions.months(src)
      case Transforms.Days => Expressions.days(src)
      case Transforms.Hours => Expressions.hours(src)
      case Transforms.Truncate(w) =>
        Expressions.apply("truncate", Expressions.literal(w), Expressions.column(src))
      case other => Expressions.apply(other.name, Expressions.column(src))
    }
  }.toArray

  override def capabilities(): util.Set[TableCapability] =
    if (writable && snapshotId.isEmpty) {
      val caps = util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE,
        TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
        // BATCH_WRITE satisfies the dynamic-overwrite capability check;
        // append/filtered-overwrite still plan through the V1 funnel
        // because build() returns a V1Write for them
        TableCapability.BATCH_WRITE, TableCapability.OVERWRITE_DYNAMIC,
        TableCapability.MICRO_BATCH_READ, TableCapability.STREAMING_WRITE)
      // `write.spark.accept-any-schema=true` (the Iceberg-Spark contract):
      // let analysis admit a frame whose columns don't match the table, so
      // the writer-side mergeSchema option can union-by-name evolve first
      if (table.metadata.properties.get("write.spark.accept-any-schema")
          .contains("true"))
        caps.add(TableCapability.ACCEPT_ANY_SCHEMA)
      caps
    }
    else if (branch.isDefined && writable)
      // branch identifier: reads pin the branch head, INSERT appends to it
      util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE)
    else if (snapshotId.isEmpty)
      util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
    else util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new SpjScanBuilder(table, sparkSchema, claimKeys, snapshotId,
      options.asCaseSensitiveMap().asScala.toMap, keySchema = keySchema)

  private def requireWritable(op: String): Unit = {
    if (!writable) throw new UnsupportedOperationException(
      s"${name()}: $op needs the catalog path — register " +
        "spark.sql.catalog.<name>=graft.sources.GraftSpjCatalog and target " +
        "<name>.<table>")
    if (snapshotId.nonEmpty && branch.isEmpty)
      throw new UnsupportedOperationException(
        s"${name()}: cannot $op a time-travel snapshot")
    if (branch.isDefined && op != "write") throw new UnsupportedOperationException(
      s"${name()}: branch identifiers support INSERT INTO only; " +
        "use the library API or main for " + op)
  }

  /** V1 write funnel: Spark resolves/casts the query to the table schema,
    * then hands a DataFrame — append and overwrite-all both go through the
    * full graft write path (AQE-rebalanced fanout, rolling target file
    * size, footer stats, commit retry/rebase), so SQL INSERT produces
    * exactly the files and snapshot the programmatic API does.
    */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    requireWritable("write")
    new WriteBuilder with SupportsOverwrite
        with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite {
      private var replaceAll = false
      private var dynamic = false
      private var deleteFirst: Option[Expr] = None

      override def truncate(): WriteBuilder = {
        require(branch.isEmpty, s"${name()}: cannot truncate a branch identifier")
        replaceAll = true; this
      }

      override def overwriteDynamicPartitions(): WriteBuilder = {
        require(branch.isEmpty, s"${name()}: cannot overwrite a branch identifier")
        dynamic = true; this
      }

      override def overwrite(filters: Array[Filter]): WriteBuilder = {
        require(branch.isEmpty, s"${name()}: cannot overwrite a branch identifier")
        val exprs = filters.map(f => SpjScanBuilder.toExpr(f).getOrElse(
          throw new UnsupportedOperationException(
            s"${name()}: cannot overwrite by filter $f")))
        if (exprs.isEmpty || exprs.contains(Expr.AlwaysTrue)) replaceAll = true
        else deleteFirst = Some(exprs.foldLeft(Expr.AlwaysTrue: Expr)(Expr.and))
        this
      }

      override def build(): Write =
        if (dynamic) new Write with GraftPartitionClusteredWrite {
          // no V1 fallback exec exists for dynamic overwrite: rows land
          // through the executor-side DSv2 fanout writers (clustered +
          // sorted by the partition transforms — one open writer per
          // task), one atomic ReplacePartitions-style snapshot at commit
          private val fresh = table.refresh()
          override def clusterTable: GraftTable = fresh
          override def toBatch: org.apache.spark.sql.connector.write.BatchWrite =
            new GraftDynamicOverwriteBatchWrite(fresh)
        }
        else new V1Write {
        // `df.writeStream.toTable(...)`: epoch-per-snapshot streaming
        // append (Complete mode → truncate → overwrite-per-epoch)
        override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite =
          new GraftStreamingWrite(table, replaceAll)
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, overwrite: Boolean): Unit = {
              val spark = data.sparkSession
              // writer-side schema merge (`.option("mergeSchema","true")` /
              // session conf, honored only when the table opted into
              // accept-any-schema): union-by-name evolve FIRST — new
              // columns add as optional, compatible types promote — then
              // the write aligns to the evolved schema. One metadata
              // commit, then the data commit.
              val wantMerge =
                Option(info.options().get("mergeSchema")).exists(_.toBoolean) ||
                Option(info.options().get("merge-schema")).exists(_.toBoolean) ||
                spark.conf.getOption("spark.sql.graft.mergeSchema")
                  .exists(_.toBoolean)
              val fresh0 = table.refresh()
              val fresh =
                if (!wantMerge) fresh0
                else {
                  require(fresh0.metadata.properties
                      .get("write.spark.accept-any-schema").contains("true"),
                    s"${name()}: mergeSchema requires the table property " +
                      "write.spark.accept-any-schema=true")
                  graft.table.Evolve.unionByName(fresh0,
                    SchemaBridge.fromSpark(data.schema))
                }
              // ACCEPT_ANY_SCHEMA makes Spark skip output resolution for
              // EVERY write to this table — a plain SQL `INSERT ... VALUES`
              // arrives with its literal column names (col1, col2, …). A
              // frame with the table's arity and NO name overlap is that
              // positional shape: restore the by-position alignment Spark
              // itself applies absent the capability. Frames sharing any
              // real column name align by name downstream.
              val tcols = fresh.schema.fields.map(_.name)
              val data2 =
                if (data.columns.length == tcols.length &&
                    !data.columns.sameElements(tcols) &&
                    data.columns.intersect(tcols).isEmpty)
                  data.toDF(tcols: _*)
                else data
              // `spark.wap.id` (Iceberg WAP staging): when the table opts
              // in via write.wap.enabled, INSERT INTO commits a STAGED
              // snapshot — recorded in metadata, tagged wap.id, no ref
              // moved — published later by CALL publish_changes /
              // cherrypick_snapshot. Append-only: cherry-pick can replay
              // only appends, so staging an overwrite refuses loudly.
              val wapId = spark.conf.getOption("spark.wap.id")
                .filter(_.nonEmpty).filter(_ => fresh.metadata.properties
                  .get("write.wap.enabled").contains("true"))
              require(wapId.isEmpty || branch.isEmpty,
                s"${name()}: spark.wap.id and a branch target cannot combine")
              require(wapId.isEmpty ||
                  (!replaceAll && deleteFirst.isEmpty && !dynamic),
                s"${name()}: spark.wap.id stages INSERT INTO only " +
                  "(overwrites cannot be cherry-picked)")
              if (dynamic) { Writer.overwriteDynamic(spark, fresh, data2); () }
              else if (replaceAll) { Writer.overwriteAll(spark, fresh, data2); () }
              else deleteFirst match {
                case Some(del) =>
                  // filtered overwrite (INSERT OVERWRITE ... PARTITION):
                  // ONE atomic conflict-validated snapshot — readers never
                  // see the deleted-but-not-replaced intermediate
                  Writer.overwriteWhere(spark, fresh, data2, del); ()
                case None => wapId match {
                  case Some(id) =>
                    Writer.append(spark, fresh, data2,
                      extraSummary = Map("wap.id" -> id), stageOnly = true); ()
                  case None =>
                    Writer.append(spark, fresh, data2, toBranch = branch); ()
                }
              }
            }
          }
      }
    }
  }

  /** SQL `DELETE FROM ... WHERE`: the answer decides whether Spark runs
    * the filter-based [[deleteWhere]] or builds a row-level plan.
    *
    * - `write.delete.mode = merge-on-read`: accept ONLY strict-evaluator-
    *   proven full-file matches (the metadata-only contract of Iceberg's
    *   SparkTable.canDeleteWhere) — a partially-matching file must fall to
    *   the DELTA plan so the delete is a DV / pos-delete write, never a
    *   file rewrite. The previous translatability-only answer silently ran
    *   every simple-predicate DELETE through CoW — a one-row delete rewrote
    *   a whole data file and destroyed every survivor's v3 `_row_id`
    *   (caught by RowLineageRewriteSpec's pruned-row-group pin).
    * - copy-on-write (the default): accept any translatable predicate —
    *   [[graft.table.Writer.deleteWhere]] IS the complete CoW delete
    *   (full-match files drop metadata-only, partial files rewrite without
    *   the matching rows AND with `_row_id` carried through as explicit
    *   columns), so the group-based rewrite plan would only add runtime
    *   `_file` filtering for work the metadata classification already did.
    */
  // the handle canDeleteWhere classified against, reused by deleteWhere so
  // classification and execution see ONE snapshot (the commit's own
  // retry/rebase absorbs any staleness between analysis and execution)
  @volatile private var deleteClassified: GraftTable = _

  override def canDeleteWhere(filters: Array[Filter]): Boolean = {
    if (!writable || snapshotId.nonEmpty) return false
    val exprs = filters.map(SpjScanBuilder.toExpr)
    if (exprs.exists(_.isEmpty)) return false
    // a capability check must DECLINE, not crash: refresh can refuse a
    // cross-incarnation pointer (drop+recreate uuid guard) — answer false
    // and let the row-level plan's own refresh surface the real error with
    // execution context
    val t = try table.refresh() catch { case _: IllegalStateException => return false }
    deleteClassified = t
    if (t.metadata.properties.get("write.delete.mode").contains("merge-on-read")) {
      val expr = exprs.flatten.foldLeft(Expr.AlwaysTrue: Expr)(Expr.and)
      val strict = Expr.rewriteNot(expr)
      t.newScan.withFilter(expr).planFiles()
        .forall(task => graft.core.Evaluators.fileMustMatch(t.schema, strict, task.file))
    } else true
  }

  override def deleteWhere(filters: Array[Filter]): Unit = {
    requireWritable("delete from")
    val expr = filters.flatMap(SpjScanBuilder.toExpr)
      .foldLeft(Expr.AlwaysTrue: Expr)(Expr.and)
    val t = { val c = deleteClassified; deleteClassified = null
      if (c != null) c else table.refresh() }
    Writer.deleteWhere(SparkSession.active, t, expr)
    ()
  }

  /** SQL UPDATE / MERGE INTO / rewrite-path DELETE. Mode per command from
    * table properties (`write.{delete,update,merge}.mode`, Iceberg
    * convention): `copy-on-write` (default) rewrites affected files via
    * [[GraftRowLevelOperation]]; `merge-on-read` writes deletion vectors +
    * insert files via [[GraftDeltaOperation]] — sparse DML on huge tables
    * without rewriting anything.
    */
  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder = {
    requireWritable(info.command.toString.toLowerCase)
    new RowLevelOperationBuilder {
      override def build() = {
        val fresh = table.refresh()
        val modeKey = info.command match {
          case org.apache.spark.sql.connector.write.RowLevelOperation.Command.DELETE =>
            "write.delete.mode"
          case org.apache.spark.sql.connector.write.RowLevelOperation.Command.UPDATE =>
            "write.update.mode"
          case _ => "write.merge.mode"
        }
        fresh.metadata.properties.getOrElse(modeKey, "copy-on-write") match {
          case "merge-on-read" => new GraftDeltaOperation(fresh, info.command)
          case _ => new GraftRowLevelOperation(fresh, info.command)
        }
      }
    }
  }
}

object SpjTable {
  val FileColumnName = "_file"
  val PosColumnName = "_pos"
  val RowIdColumnName: String = SchemaBridge.RowIdCol
  val LastUpdatedColumnName: String = SchemaBridge.LastUpdatedSeqCol

  /** The metadata columns a graft table serves. Row lineage exists from
    * format v3; advertising its columns below v3 would promise ids the
    * metadata cannot provide.
    */
  def metadataColumns(table: GraftTable): Array[MetadataColumn] = {
    val base = Array[MetadataColumn](FileMetaColumn, PosMetaColumn)
    if (table.metadata.formatVersion >= 3)
      base ++ Array[MetadataColumn](RowIdMetaColumn, LastUpdatedMetaColumn)
    else base
  }

  object FileMetaColumn extends MetadataColumn {
    override def name(): String = FileColumnName
    override def dataType(): org.apache.spark.sql.types.DataType =
      org.apache.spark.sql.types.StringType
    override def isNullable: Boolean = false
    override def comment(): String = "data file path of the row"
  }

  object PosMetaColumn extends MetadataColumn {
    override def name(): String = PosColumnName
    override def dataType(): org.apache.spark.sql.types.DataType =
      org.apache.spark.sql.types.LongType
    override def isNullable: Boolean = false
    override def comment(): String = "row position within the data file"
  }

  /** v3 row lineage on the SQL surface: `SELECT _row_id, ... FROM t`.
    * Explicit file columns win; otherwise synthesized first_row_id +
    * position executor-side. Nullable: pre-upgrade files have no block.
    */
  object RowIdMetaColumn extends MetadataColumn {
    override def name(): String = RowIdColumnName
    override def dataType(): org.apache.spark.sql.types.DataType =
      org.apache.spark.sql.types.LongType
    override def isNullable: Boolean = true
    override def comment(): String = "v3 row lineage: stable row id"
    /** v3 contract for row-level plans: an UPDATE keeps the row's identity
      * (preserve on update — group path; preserve on REINSERT — the delta
      * path splits an update into delete + reinsert, and the reinserted
      * row is the SAME row). A MERGE-inserted row is a NEW row: inserts
      * carry no source metadata, so it takes a fresh id from the written
      * file's lineage block at read regardless of these flags.
      */
    override def metadataInJSON(): String =
      """{"__preserve_on_update": true, "__preserve_on_delete": true, "__preserve_on_reinsert": true}"""
  }

  object LastUpdatedMetaColumn extends MetadataColumn {
    override def name(): String = LastUpdatedColumnName
    override def dataType(): org.apache.spark.sql.types.DataType =
      org.apache.spark.sql.types.LongType
    override def isNullable: Boolean = true
    override def comment(): String =
      "v3 row lineage: sequence number of the committing snapshot that last updated the row"
    /** NOT preserved on update: a group-based UPDATE/MERGE nulls the
      * value for updated rows, and the null synthesizes at read as the
      * rewritten file's data sequence — i.e. the committing snapshot's
      * sequence, exactly the v3 re-stamp contract. Carried-over rows keep
      * their explicit original.
      */
    override def metadataInJSON(): String =
      """{"__preserve_on_update": false}"""
  }

  /** Requested-schema split: data columns in table order + which metadata
    * columns ride along. The scan's output layout is canonical regardless
    * of request order: data columns, then `_file`, `_pos`, `_row_id`,
    * `_last_updated_sequence_number` — `readSchema()` declares the same
    * layout, so Spark's by-name projection realigns whatever order the
    * plan asked in.
    */
  final case class RequestedMeta(data: StructType, withFile: Boolean = false,
      withPos: Boolean = false, withRowId: Boolean = false,
      withLastUpd: Boolean = false) {
    def anyMeta: Boolean = withFile || withPos || withRowId || withLastUpd
    def lineage: Boolean = withRowId || withLastUpd

    /** The scan's output: the data columns, then the requested metadata
      * columns in canonical order.
      */
    def readSchema: StructType = {
      import org.apache.spark.sql.types.{LongType, StringType, StructField}
      StructType(data.fields ++
        (if (withFile) Seq(StructField(FileColumnName, StringType, nullable = false)) else Nil) ++
        (if (withPos) Seq(StructField(PosColumnName, LongType, nullable = false)) else Nil) ++
        (if (withRowId) Seq(StructField(RowIdColumnName, LongType, nullable = true)) else Nil) ++
        (if (withLastUpd) Seq(StructField(LastUpdatedColumnName, LongType, nullable = true))
         else Nil))
    }
  }

  def splitRequested(fullSchema: StructType,
      requested: StructType): RequestedMeta = {
    val names = requested.fieldNames.toSet
    val withFile = names(FileColumnName)
    val withPos = names(PosColumnName)
    val withRowId = names(RowIdColumnName)
    val withLastUpd = names(LastUpdatedColumnName)
    val kept = StructType(fullSchema.fields.filter(f => names(f.name)))
    val data = if (kept.isEmpty && !withFile && !withPos && !withRowId && !withLastUpd)
      StructType(fullSchema.fields.take(1)) else kept
    RequestedMeta(data, withFile, withPos, withRowId, withLastUpd)
  }
}

/** Column pruning + filter pushdown for the SPJ scan: required columns
  * reach the parquet reader's requested schema (a 2-column projection
  * reads 2 columns), and pushed filters prune at THREE levels — Iceberg
  * file metrics (via the [[graft.core.Expr]] translation, whole files
  * skipped at plan time), parquet row groups (the `sources.Filter`s ride
  * into the reader), and rows. Every filter is also kept by Spark
  * (returned from `pushFilters`), so an untranslatable residual can never
  * change results. Predicates on metadata columns (`_file`, `_pos`, row
  * lineage) prune nothing and stay with Catalyst alone.
  *
  * `build` plans once and routes the planned tasks through
  * [[ReadRoute.choose]]; with `prePlanned` the caller did both
  * and the builder serves those tasks as they are. `keySchema` is the
  * Iceberg schema `fullSchema` came from when it is not the table's current
  * one (time travel): it names the equality-delete key columns.
  *
  * With `rowLevel` this is the candidate scan of a SQL DELETE, UPDATE or
  * MERGE: the planned tasks are recorded on the operation, pushed filters
  * prune files only (a candidate file is read whole, with no row-group
  * filter — a rewrite must carry every row it does not change), and no
  * partitioning is claimed.
  */
final class SpjScanBuilder(table: GraftTable, fullSchema: StructType,
    claimKeys: Option[Seq[Transform]], snapshotId: Option[Long],
    options: Map[String, String],
    prePlanned: Option[Seq[graft.table.FileScanTask]] = None,
    keySchema: Option[graft.core.IcebergSchema] = None,
    rowLevel: Option[GraftRowLevelScan] = None) extends ScanBuilder
    with SupportsPushDownRequiredColumns with SupportsPushDownFilters
    with SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit {

  private var requested = SpjTable.RequestedMeta(fullSchema)
  private var pushed: Array[Filter] = Array.empty
  private var limit: Option[Int] = None
  private var aggResult: Option[(StructType, org.apache.spark.sql.catalyst.InternalRow)] = None

  /** LIMIT n truncates the planned FILE list once manifest row counts
    * cover n — `SELECT * FROM t LIMIT 10` reads one file, not the table.
    * Partial push: Spark keeps its own limit above the scan, so the file
    * set only needs to GUARANTEE ≥ n live rows — which manifest counts do
    * only on filter-free, delete-free scans; [[SpjScan]] checks both and
    * skips truncation otherwise.
    */
  override def pushLimit(n: Int): Boolean = { limit = Some(n); true }
  override def isPartiallyPushed(): Boolean = true

  private def baseScan = {
    val s = table.newScan
    snapshotId.map(s.useSnapshot).getOrElse(s)
  }

  // COUNT/MIN/MAX from manifest stats — zero data bytes read; only when no
  // filters are in play (ours are all residual, which a one-row complete
  // result cannot satisfy) and every term is provably exact. A pre-planned
  // scan (SparkRead.read) may read a time-travel schema, so it never
  // answers from stats.
  private def probeAgg(agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    if (aggResult.isEmpty && pushed.isEmpty && prePlanned.isEmpty && rowLevel.isEmpty)
      aggResult = SpjAggPushdown.tryPush(table, baseScan.planFiles(), agg)
    aggResult.isDefined
  }
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    probeAgg(agg)
  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    probeAgg(agg)

  override def pruneColumns(requiredSchema: StructType): Unit =
    // preserve table column order; an empty projection (COUNT(*)) keeps one
    // narrow column so the reader has a concrete schema to materialize
    requested = SpjTable.splitRequested(fullSchema, requiredSchema)

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters
    filters // all residual: Spark re-evaluates everything above the scan
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = aggResult match {
    case Some((aggSchema, row)) => new SpjAggScan(aggSchema, row)
    case None =>
      val fileExpr = pushed.flatMap(SpjScanBuilder.toExpr)
        .foldLeft(graft.core.Expr.AlwaysTrue: graft.core.Expr)(graft.core.Expr.and)
      def perTask(planned: Seq[graft.table.FileScanTask]) =
        new SpjScan(table, requested, claimKeys, snapshotId, options, fileExpr,
          if (rowLevel.isDefined) Nil
          else pushed.filterNot(SpjScanBuilder.readsMetadataColumn).toSeq,
          pushedLimit = if (pushed.isEmpty) limit else None,
          prePlanned = Some(planned), keySchema = keySchema, rowLevel = rowLevel)
      prePlanned match {
        // the caller planned and routed already (SparkRead.readPlanned)
        case Some(planned) => perTask(planned)
        case None =>
          // plan HERE (once — SpjScan reuses the result) so the eq-delete
          // backlog for this exact scan is measurable before choosing readers
          val planned = baseScan.withFilter(fileExpr).planFiles()
          rowLevel.foreach { op => op.scanned = planned; op.scanFilter = fileExpr }
          val decision = ReadRoute.choose(SparkSession.active, planned,
            options, positionMeta = requested.anyMeta, rowLevel = rowLevel.isDefined)
          decision.route match {
            case ReadRoute.PerTask =>
              if (planned.exists(_.eqDeletes.nonEmpty)) recordRoute(decision)
              perTask(planned)
            case _ =>
              // non-parquet files and oversized eq-delete backlogs read
              // through the SparkRead pipeline
              recordRoute(decision)
              new SpjAntiJoinScan(table, snapshotId, planned, options, requested)
          }
      }
  }

  /** Records the route in [[SpjRouting]] and emits a supplementary
    * ScanReport naming the equality-delete application route
    * and the measured backlog vs the routing threshold, so a 100 TB
    * operator watching the i40 metrics wire can see cliff proximity (an
    * upcoming route flip = time to run rewrite_position_delete_files /
    * compaction) without reading query plans.
    */
  private def recordRoute(decision: ReadRoute.Decision): Unit = {
    SpjRouting.record(table.name, decision.route.name, decision.eqBytes)
    try {
      val rep = table.reporter
      if (rep eq graft.metrics.NopReporter) return
      val snap = snapshotId.flatMap(table.metadata.snapshotById)
        .orElse(table.metadata.currentSnapshot)
      graft.metrics.Reporter.safe(rep, graft.metrics.ScanReport(
        tableName = table.name,
        snapshotId = snap.map(_.snapshotId).getOrElse(-1L),
        schemaId = table.metadata.currentSchemaId,
        projectedFieldIds = Nil,
        projectedFieldNames = Nil,
        filterJson = "",
        metrics = graft.metrics.ScanMetricsResult(),
        metadata = Map(
          "eq-delete-route" -> decision.route.name,
          "eq-delete-bytes" -> decision.eqBytes.toString,
          "eq-delete-fallback-bytes" -> decision.fallbackBytes.toString)))
    } catch { case _: Exception => () } // diagnostics never fail the scan
  }
}

/** Records, per graft table name, which equality-delete application route
  * the most recently built scan chose: `"keyset"` (executor-cached key
  * sets, the bounded-backlog fast path) or `"anti-join"` (the
  * [[SpjAntiJoinScan]] fallback for oversized backlogs). Driver-side
  * diagnostic — gates assert the routing decision through it.
  */
object SpjRouting {
  private val routes =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Long)]()
  def record(table: String, route: String, eqBytes: Long = -1L): Unit = {
    routes.put(table, (route, eqBytes)); ()
  }
  def lastRoute(table: String): Option[String] =
    Option(routes.get(table)).map(_._1)
  def lastEqBytes(table: String): Option[Long] =
    Option(routes.get(table)).map(_._2).filter(_ >= 0)
}

/** An already-planned task set as a DSv2 table: the relation behind
  * [[graft.table.SparkRead.readPlanned]] on the per-task route. Its scan builder
  * prunes columns and takes row-group filters like the catalog's, then
  * serves exactly these tasks through [[SpjScan]] — no second planning
  * pass, no partitioning claim (files packed into splits).
  * `readSchema` is the read's stored schema (a time-travel read's is the
  * snapshot's): it names the columns, equality-delete keys included. With
  * `rowLineage` the v3 lineage columns are part of the table schema, so a
  * plain projection requests them. The catalog table's metadata columns
  * are served too: the merge-on-read delete writers read `_file`/`_pos`
  * through them ([[graft.table.SparkRead.matchedPositions]]).
  */
final class SpjPlannedTable(table: GraftTable, readSchema: graft.core.IcebergSchema,
    tasks: Seq[graft.table.FileScanTask], rowLineage: Boolean,
    options: Map[String, String])
    extends V2Table with SupportsRead with SupportsMetadataColumns {

  override def metadataColumns(): Array[MetadataColumn] = SpjTable.metadataColumns(table)

  private val dataSchema: StructType = SchemaBridge.toSpark(readSchema)

  override def name(): String = s"graft-planned:${table.name}"

  override def schema(): StructType =
    if (!rowLineage) dataSchema
    else StructType(dataSchema.fields ++ Seq(
      org.apache.spark.sql.types.StructField(SpjTable.RowIdColumnName,
        org.apache.spark.sql.types.LongType, nullable = true),
      org.apache.spark.sql.types.StructField(SpjTable.LastUpdatedColumnName,
        org.apache.spark.sql.types.LongType, nullable = true)))

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new SpjScanBuilder(table, dataSchema, None, None, options,
      prePlanned = Some(tasks), keySchema = Some(readSchema))
}

/** The oversized-equality-delete-backlog read: a V1 scan whose relation
  * executes the anti-join pipeline
  * ([[graft.table.SparkRead.readOffRoute]]) — data files anti-joined
  * against the delete files as a DISTRIBUTED join (null-safe on the
  * equality ids, sequence-scoped by the planner), with parquet
  * pos-deletes and DV bitmaps applied in the same pipeline. No executor
  * ever materializes a delete key set: AQE picks the join strategy from
  * the delete side's actual size, so a 10 GB CDC backlog reads with
  * shuffle-join memory behavior instead of an executor OOM. This beats
  * the reference's own documented weakness (its eq-delete reader is
  * in-memory: `table/equality_delete_reader.go:43-52`).
  *
  * Chosen at plan time by [[ReadRoute.choose]] when Σ eq-delete bytes
  * exceeds the fallback threshold, and for tables holding non-parquet
  * files; the file set was already pruned by the pushed filters, and
  * Spark re-applies every filter above the scan (all pushdown is
  * residual), so routing can never change results — only the execution
  * strategy. Trade-offs vs the key-set route: no SPJ claim, no runtime
  * file pruning, no parquet row-group pushdown — all dominated by not
  * OOMing. An import's parquet files without field ids read per task
  * beside it, through the name mapping. Metadata columns never reach it
  * over parquet files (a backlog stays on the per-task route when they
  * are requested), and ORC files carry no row positions, so it serves data
  * columns only.
  */
final class SpjAntiJoinScan(table: GraftTable, snapshotId: Option[Long],
    tasks: Seq[graft.table.FileScanTask], options: Map[String, String],
    meta: SpjTable.RequestedMeta)
    extends org.apache.spark.sql.connector.read.V1Scan {

  override def readSchema(): StructType = meta.readSchema

  override def description(): String =
    s"GraftEqDeleteAntiJoin(${table.name}, files=${tasks.length})"

  // Spark reads a copy-on-write rewrite's scan as a DSv2 batch, which this
  // V1 pipeline is not; only a non-parquet table's rewrite gets here
  override def toBatch: Batch = throw new UnsupportedOperationException(
    s"${table.name}: copy-on-write row-level operations need parquet data files; " +
      "this table holds non-parquet files")

  /** Streaming reads keep working on backlogged tables: micro-batches plan
    * per offset range through the same stream source as [[SpjScan]].
    */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new SpjMicroBatchStream(table, meta.data, options)

  override def toV1TableScan[T <: org.apache.spark.sql.sources.BaseRelation
      with org.apache.spark.sql.sources.TableScan](
      context: org.apache.spark.sql.SQLContext): T = {
    val tbl = table
    val snapId = snapshotId
    val planned = tasks
    val outSchema = readSchema()
    val m = meta
    new org.apache.spark.sql.sources.BaseRelation
        with org.apache.spark.sql.sources.TableScan {
      override def sqlContext: org.apache.spark.sql.SQLContext = context
      override def schema: StructType = outSchema
      override def toString: String = "GraftEqDeleteAntiJoin"
      override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = {
        require(!m.withFile && !m.withPos, s"${tbl.name}: _file/_pos metadata " +
          "columns are not supported over ORC data files, which carry no row positions")
        val schema = snapId.map(tbl.newScan.useSnapshot).getOrElse(tbl.newScan).readSchema
        val df = graft.table.SparkRead.readOffRoute(context.sparkSession, tbl, planned,
          schema, m.lineage, tbl.refreshIoCredentials())
        df.select(outSchema.fieldNames.map(n => df.col(s"`$n`")).toSeq: _*).rdd
      }
    }.asInstanceOf[T]
  }
}

object SpjScanBuilder {
  import graft.core.Expr

  /** Spark source filter → Iceberg expression for file-level pruning.
    * Conservative: unsupported shapes translate to None (no pruning, still
    * row-filtered above the scan).
    */
  // only literal types the metrics evaluators compare natively; anything
  // exotic (Decimal, Timestamp object forms) skips file pruning rather than
  // risking a wrong comparison
  private def lit(v: Any): Boolean = v match {
    case _: Int | _: Long | _: String | _: Boolean | _: Double | _: Float => true
    case _ => false
  }

  private val MetadataColumnNames = Set(SpjTable.FileColumnName,
    SpjTable.PosColumnName, SpjTable.RowIdColumnName, SpjTable.LastUpdatedColumnName)

  /** Whether `f` reads a metadata column (`_file`, `_pos`, row lineage).
    * Such a predicate is neither a planning filter (the table schema has
    * no such field to bind) nor a row-group filter (the values are not
    * parquet statistics); Catalyst evaluates it above the scan.
    */
  def readsMetadataColumn(f: Filter): Boolean =
    f.references.exists(MetadataColumnNames)

  def toExpr(f: Filter): Option[Expr] = f match {
    case _ if readsMetadataColumn(f) => None
    case org.apache.spark.sql.sources.AlwaysTrue() => Some(Expr.AlwaysTrue)
    case org.apache.spark.sql.sources.AlwaysFalse() => Some(Expr.AlwaysFalse)
    case org.apache.spark.sql.sources.EqualTo(a, v) if lit(v) => Some(Expr.eq(a, v))
    // null-safe equality: Spark emits <=> for static partition values
    // (INSERT OVERWRITE ... PARTITION (p = v)); against a non-null literal
    // it filters identically to eq (null rows match neither)
    case org.apache.spark.sql.sources.EqualNullSafe(a, null) => Some(Expr.isNull(a))
    case org.apache.spark.sql.sources.EqualNullSafe(a, v) if lit(v) => Some(Expr.eq(a, v))
    case org.apache.spark.sql.sources.GreaterThan(a, v) if lit(v) => Some(Expr.gt(a, v))
    case org.apache.spark.sql.sources.GreaterThanOrEqual(a, v) if lit(v) => Some(Expr.gtEq(a, v))
    case org.apache.spark.sql.sources.LessThan(a, v) if lit(v) => Some(Expr.lt(a, v))
    case org.apache.spark.sql.sources.LessThanOrEqual(a, v) if lit(v) => Some(Expr.ltEq(a, v))
    case org.apache.spark.sql.sources.IsNull(a) => Some(Expr.isNull(a))
    case org.apache.spark.sql.sources.IsNotNull(a) => Some(Expr.notNull(a))
    case org.apache.spark.sql.sources.In(a, vs) if vs.forall(lit) => Some(Expr.in(a, vs.toSeq))
    case org.apache.spark.sql.sources.StringStartsWith(a, v) => Some(Expr.startsWith(a, v))
    case org.apache.spark.sql.sources.And(l, r) =>
      for (le <- toExpr(l); re <- toExpr(r)) yield Expr.and(le, re)
    case org.apache.spark.sql.sources.Or(l, r) =>
      for (le <- toExpr(l); re <- toExpr(r)) yield Expr.or(le, re)
    case org.apache.spark.sql.sources.Not(c) => toExpr(c).map(Expr.not)
    case _ => None
  }
}

/** The per-task scan: planned input partitions read by [[SpjReaderFactory]]
  * with MoR deletes applied per row. `meta` is the requested data columns
  * and metadata columns; `rowLevel` marks the candidate scan of a SQL
  * row-level operation (see [[SpjScanBuilder]]), whose tasks are the
  * operation's recorded candidates.
  */
final class SpjScan(table: GraftTable, meta: SpjTable.RequestedMeta,
    claimKeys: Option[Seq[Transform]], snapshotId: Option[Long],
    options: Map[String, String],
    fileFilter: graft.core.Expr = graft.core.Expr.AlwaysTrue,
    rowGroupFilters: Seq[Filter] = Nil,
    pushedLimit: Option[Int] = None,
    prePlanned: Option[Seq[graft.table.FileScanTask]] = None,
    keySchema: Option[graft.core.IcebergSchema] = None,
    rowLevel: Option[GraftRowLevelScan] = None)
    extends Scan with Batch with SupportsReportPartitioning
    with SupportsRuntimeFiltering
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  private val sparkSchema = meta.data

  /** Manifest-derived scan statistics (post static-pushdown file set) —
    * without these a DSv2 scan defaults to "unknown = huge" and Spark
    * never auto-broadcasts a small catalog table; with them a pruned dim
    * scan broadcasts and the fact side gets runtime filtering too.
    */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics = {
    grouped // ensure planned (fills the row/byte totals below)
    val (bytes, rows) = plannedTotals
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(rows)
    }
  }
  @volatile private var plannedTotals: (Long, Long) = (0L, 0L)

  // Runtime (dynamic-partition-pruning) filters: Spark derives them from
  // the other side of a join at execution time — a dim-side filter prunes
  // fact FILES before any fact IO, the flagship 100 TB join shape. The
  // filter lands in the same file-level expression pipeline as static
  // pushdown (inclusive projection into partition space + file metrics),
  // so EVERY spec transform prunes, not just identity. Pruning-only:
  // Spark re-applies the join itself, so a too-wide file never yields
  // wrong rows.
  @volatile private var runtimeFilter: graft.core.Expr = graft.core.Expr.AlwaysTrue
  @volatile private var plannedCache: Array[SpjInputPartition] = _

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    rowLevel match {
      // copy-on-write: Spark runs the operation's condition as a subquery
      // over `_file` and hands back the files holding matched rows; only
      // those rewrite. Without it a one-row MERGE rewrites every candidate
      case Some(op) if op.groupFiltered => Array(Expressions.column(SpjTable.FileColumnName))
      case Some(_) => Array.empty
      case None =>
        // only partition source columns the scan actually OUTPUTS — Spark
        // resolves these against the scan's schema and fails hard on a
        // reference a pruned projection dropped
        val present = sparkSchema.fieldNames.toSet
        table.spec.fields.map(pf => table.schema.idToField(pf.sourceId).name)
          .distinct.filter(present).map(Expressions.column).toArray
    }

  override def filter(filters: Array[Filter]): Unit = rowLevel match {
    case Some(op) =>
      filters.collectFirst {
        case org.apache.spark.sql.sources.In(SpjTable.FileColumnName, paths) =>
          paths.map(String.valueOf).toSet
      }.foreach { keep =>
        // the narrowed group is also the set the commit replaces
        op.scanned = prePlanned.getOrElse(Nil).filter(t => keep(t.file.path))
        plannedCache = null
      }
    case None =>
      val exprs = filters.flatMap(SpjScanBuilder.toExpr)
      if (exprs.nonEmpty) {
        runtimeFilter = exprs.foldLeft(runtimeFilter)(graft.core.Expr.and)
        plannedCache = null // re-plan with the tightened filter
      }
  }

  /** The claim actually reported to Spark, sound under PARTITION-SPEC
    * EVOLUTION: `claimKeys` is derived from the CURRENT default spec, but a
    * table's live files may have been written under older specs whose
    * partition tuples carry different transforms (or a different arity) —
    * grouping those raw tuples under the default-spec claim either crashes
    * (arity mismatch) or silently co-groups values with DIFFERENT
    * semantics (bucket2(k) beside bucket4(k)), and a zero-exchange join
    * then drops matches. Mirrors iceberg-java's
    * `SparkPartitioningAwareScan.groupingKeyType()`: the claim is narrowed
    * to the default-spec fields present with an IDENTICAL (sourceId,
    * transform) in EVERY spec contributing planned files; tasks group by
    * that common key, projected per-spec from each file's own tuple
    * positions. Single-spec tables keep the full claim; a bucket-width
    * change or unpartitioned history empties the intersection and the scan
    * degrades to packed file splits under `UnknownPartitioning` —
    * Spark shuffles, answers stay right. Decided ONCE from the static
    * (pre-runtime-filter) file set so the reported partitioning never
    * changes mid-execution; runtime filters only prune that set, so a
    * static single-spec decision holds for every re-plan.
    */
  private lazy val effectiveClaim: Option[(Seq[Transform], Map[Int, Array[Int]])] =
    claimKeys.flatMap { keys =>
      val staticTasks = prePlanned.getOrElse {
        val base = snapshotId.map(table.newScan.useSnapshot).getOrElse(table.newScan)
        base.withFilter(fileFilter).planFiles()
      }
      val defSpec = table.spec
      val specIds = staticTasks.map(_.specId).distinct
      if (specIds.isEmpty || specIds == Seq(defSpec.specId))
        Some((keys, Map(defSpec.specId -> defSpec.fields.indices.toArray)))
      else {
        val specs = specIds.map { id =>
          id -> table.metadata.specById(id).getOrElse(graft.format.PartitionSpec.Unpartitioned)
        }
        // claimKeys(i) is positional with defSpec.fields(i) (the claim is
        // all-or-none over the default spec's fields)
        val keptIdx = defSpec.fields.indices.filter { i =>
          val f = defSpec.fields(i)
          specs.forall { case (_, sp) =>
            sp.fields.exists(g => g.sourceId == f.sourceId && g.transform == f.transform)
          }
        }
        if (keptIdx.isEmpty) None
        else {
          val kept = keptIdx.map(defSpec.fields)
          val proj = specs.map { case (id, sp) =>
            id -> kept.map(f => sp.fields.indexWhere(
              g => g.sourceId == f.sourceId && g.transform == f.transform)).toArray
          }.toMap
          Some((keptIdx.map(keys), proj))
        }
      }
    }

  /** Project a task's raw partition tuple onto the claimed common key.
    * A spec id outside the static plan would mean the claim was decided on
    * a different file population than is being read — fail loudly rather
    * than group unsoundly.
    */
  private def claimKey(proj: Map[Int, Array[Int]],
      t: graft.table.FileScanTask): Seq[Any] = {
    val idx = proj.getOrElse(t.specId, throw new IllegalStateException(
      s"graft-iceberg-spj: task under spec ${t.specId} appeared after the " +
        s"partitioning claim was fixed over specs ${proj.keys.toSeq.sorted.mkString(",")}"))
    idx.toSeq.map(t.file.partition(_))
  }

  override def readSchema(): StructType = meta.readSchema
  override def toBatch: Batch = this

  /** `spark.readStream.table(...)`: snapshot-log micro-batches. Pruned
    * columns carry through (`sparkSchema` is already the pruned read
    * schema); pushed file filters don't — appended files are planned from
    * manifests per offset range, row filters re-apply in Spark's plan.
    */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new SpjMicroBatchStream(table, sparkSchema, options)

  /** Data files in the current plan — diagnostic: after a runtime filter
    * fires this reflects the PRUNED set (Spark keeps the key-grouped
    * partition COUNT by leaving pruned groups empty, so RDD partition
    * counts can't show the pruning; file counts do).
    */
  def plannedFileCount: Int = {
    val c = plannedCache
    if (c == null) 0 else c.map(_.files.length).sum
  }

  // planned once per filter state: partitioning metadata and input
  // partitions must agree (a runtime filter invalidates the cache and
  // re-plans). MoR deletes (DVs, positional, equality) apply per-row
  // inside each partition — grouping by key is preserved, deletes only
  // remove rows.
  private def grouped: Array[SpjInputPartition] = {
    val cached = plannedCache
    if (cached != null) return cached
    val computed = planPartitions()
    plannedCache = computed
    computed
  }

  private def planPartitions(): Array[SpjInputPartition] = {
    // the builder already planned this exact (static-filter) file set when
    // it sized the eq-delete backlog — reuse it. A runtime filter prunes
    // that set by file metrics rather than re-planning it from the table:
    // a pre-planned set may be any subset of a plan (a rewrite group, one
    // side of a changelog). A row-level scan reads the operation's
    // candidates, which its `_file` group filter may have narrowed
    val allTasks = (rowLevel, prePlanned) match {
      case (Some(op), _) => op.scanned
      case (None, Some(ts)) if runtimeFilter == graft.core.Expr.AlwaysTrue => ts
      case (None, Some(ts)) =>
        val schema = keySchema.getOrElse(table.schema)
        val bound = graft.core.Expr.bindNames(
          graft.core.Expr.rewriteNot(runtimeFilter), schema, caseSensitive = false)
        ts.filter(t => graft.core.Evaluators.fileMightMatch(schema, bound, t.file))
      case (None, None) =>
        val base = snapshotId.map(table.newScan.useSnapshot).getOrElse(table.newScan)
        base.withFilter(graft.core.Expr.and(fileFilter, runtimeFilter)).planFiles()
    }
    // pushed LIMIT: keep files only until manifest row counts cover it —
    // safe only when nothing above the scan drops rows (no filters of any
    // kind, no MoR deletes on the kept prefix)
    val tasks = pushedLimit match {
      case Some(n) if fileFilter == graft.core.Expr.AlwaysTrue &&
          runtimeFilter == graft.core.Expr.AlwaysTrue &&
          rowGroupFilters.isEmpty &&
          allTasks.forall(t => t.posDeletes.isEmpty && t.eqDeletes.isEmpty) =>
        var covered = 0L
        allTasks.takeWhile { t =>
          val need = covered < n
          covered += t.file.recordCount
          need
        }
      case _ => allTasks
    }
    plannedTotals = (tasks.map(_.file.fileSize).sum,
      tasks.map(_.file.recordCount).sum)
    SpjScan.inputPartitions(table, tasks, keySchema.getOrElse(table.schema),
      "graft-iceberg-spj", effectiveClaim.map { case (_, proj) => claimKey(proj, _) })
  }

  override def outputPartitioning(): Partitioning = effectiveClaim match {
    case Some((keys, _)) => new KeyGroupedPartitioning(
      keys.map(t => t: org.apache.spark.sql.connector.expressions.Expression).toArray,
      grouped.length)
    case None => new UnknownPartitioning(grouped.length)
  }

  override def planInputPartitions(): Array[InputPartition] =
    grouped.map(identity[InputPartition])

  // the factory built for the current plan: Spark asks every BatchScanExec
  // copy of this scan (the planner's, AQE's) for one, and each build
  // broadcasts the Hadoop conf once per parquet reader. A runtime filter
  // re-plans `grouped`, which invalidates it.
  @volatile private var factoryMemo: (Array[SpjInputPartition], SpjReaderFactory) = _

  override def createReaderFactory(): PartitionReaderFactory = {
    val parts = grouped
    val memo = factoryMemo
    if (memo != null && (memo._1 eq parts)) memo._2
    else {
      val built = SpjScan.readerFactory(table, parts, meta, options,
        rowGroupFilters, keySchema)
      factoryMemo = (parts, built)
      built
    }
  }
}

object SpjScan {

  /** Reader factories built, for the one-build-per-planned-scan test. */
  private[graft] val factoryBuilds = new java.util.concurrent.atomic.AtomicLong(0)

  /** The one planning step from planned tasks to input partitions, for
    * batch scans and streaming micro-batches alike. A scan that claims a
    * partitioning passes `claimKey`: one input partition per key, sorted by
    * key. Otherwise files pack into input partitions by Spark's file-source
    * split rule ([[pack]]).
    *
    * A parquet file without field ids ([[ReadRoute.withoutFieldIds]])
    * reads by its mapped names, and the identity-partition columns a
    * hive-layout file omits take the manifest's partition values, named by
    * `naming` (the read's schema).
    */
  def inputPartitions(table: GraftTable, tasks: Seq[graft.table.FileScanTask],
      naming: graft.core.IcebergSchema, context: String,
      claimKey: Option[graft.table.FileScanTask => Seq[Any]] = None): Array[SpjInputPartition] = {
    val mapped = ReadRoute.withoutFieldIds(SparkSession.active, table, tasks).map(_.file.path).toSet
    val info = (t: graft.table.FileScanTask) => {
      val plain = SpjFileInfo.from(t, context)
      if (!mapped(t.file.path)) plain
      else plain.copy(nameMapped = true, constants = table.metadata.specById(t.specId)
        .toSeq.flatMap(_.fields.zipWithIndex).collect {
          case (pf, i) if pf.transform == Transforms.Identity &&
              naming.idToField.contains(pf.sourceId) =>
            naming.idToField(pf.sourceId).name -> toCatalyst(t.file.partition(i))
        }.toArray)
    }
    claimKey match {
      case Some(key) =>
        tasks.groupBy(key).toSeq
          .map { case (partValues, ts) =>
            SpjInputPartition(partValues.map(toCatalyst).toArray, ts.map(info).toArray)
          }
          .sortBy(_.key.toSeq.map(String.valueOf).mkString(" "))
          .toArray
      case None => pack(tasks.map(info))
    }
  }

  /** Spark's file-source split rule, as `FileSourceStrategy` applies it:
    * files in descending size, filled next-fit by
    * `FilePartition.getFilePartitions` into splits of up to
    * `FilePartition.maxSplitBytes` (min(maxPartitionBytes,
    * max(openCostInBytes, Σ(size + openCost) / parallelism))). Files are
    * never split — each is read whole, its row positions and deletes with
    * it — so a thousand tiny imported files read in about `parallelism`
    * tasks, not a thousand.
    */
  private def pack(files: Seq[SpjFileInfo]): Array[SpjInputPartition] = {
    import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
    val spark = SparkSession.active
    val openCost = org.apache.spark.sql.internal.SQLConf.get.filesOpenCostInBytes
    val byPath = files.map(f => org.apache.spark.paths.SparkPath.fromPathString(f.path) -> f)
    val info = byPath.toMap
    val split = FilePartition.maxSplitBytes(spark, files.map(_.len + openCost).sum)
    FilePartition.getFilePartitions(spark, byPath.sortBy(-_._2.len).map { case (p, f) =>
        PartitionedFile(InternalRow.empty, p, 0, f.len, Array.empty, 0, f.len)
      }, split)
      .map(fp => SpjInputPartition(Array.empty, fp.files.map(pf => info(pf.filePath))))
      .toArray
  }

  /** Build the executor reader closures a partition set needs: the plain
    * data reader always; delete-application machinery (position-carrying
    * data reader over a schema widened with any equality-key columns,
    * pos-delete and eq-delete file readers) only when some file actually
    * carries deletes — zero overhead on clean tables. Each parquet reader
    * built here broadcasts the session Hadoop conf once.
    */
  def readerFactory(table: GraftTable, parts: Array[SpjInputPartition],
      meta: SpjTable.RequestedMeta, options: Map[String, String],
      rowGroupFilters: Seq[Filter],
      keySchema: Option[graft.core.IcebergSchema] = None): SpjReaderFactory = {
    factoryBuilds.incrementAndGet()
    val spark = SparkSession.active
    val dataSchema = meta.data
    val needLineage = meta.lineage
    val anyDeletes = parts.exists(_.files.exists(_.deletes.nonEmpty))
    val anyPosFiles = parts.exists(_.files.exists(
      _.deletes.exists(_.posFiles.nonEmpty)))
    val eqIdSets: Seq[Seq[Int]] = parts.flatMap(_.files)
      .flatMap(_.deletes.toSeq.flatMap(_.eqFiles.map(_._3))).distinct.toSeq
    val reader = ParquetRowReadBridge.rowReader(
      spark, dataSchema, options, rowGroupFilters)
    // files without field ids (a name-mapped table's imports): the same
    // columns requested by their mapped names and without ids, so the
    // reader resolves them by name. No row-group filters — those name the
    // table's columns
    val byName: Option[StructType => StructType] =
      if (!parts.exists(_.files.exists(_.nameMapped))) None
      else table.nameMapping.map { nm => (schema: StructType) =>
        StructType(schema.fields.map { f =>
          if (!f.metadata.contains(SchemaBridge.FieldIdKey)) f
          else org.apache.spark.sql.types.StructField(nm.idToName.getOrElse(
            f.metadata.getLong(SchemaBridge.FieldIdKey).toInt, f.name), f.dataType)
        })
      }
    val mappedReader = byName.map(m =>
      ParquetRowReadBridge.rowReader(spark, m(dataSchema), options, Nil))
    if (!anyDeletes && !meta.withPos && !needLineage)
      return new SpjReaderFactory(reader, meta, mappedReader = mappedReader)

    // equality-key columns the pruned projection may lack: widen the
    // delete-path read schema (appended AFTER the data columns, so the
    // strip projection is a prefix take). Keys are named by the schema
    // `dataSchema` came from — a time-travel read's is the snapshot's, and
    // the delete files it reads carry that snapshot's names
    val namingSchema = keySchema.getOrElse(table.schema)
    val eqFieldsById: Map[Int, org.apache.spark.sql.types.StructField] =
      eqIdSets.flatten.distinct.map { id =>
        id -> SchemaBridge.toSparkField(namingSchema.idToField(id))
      }.toMap
    val present = dataSchema.fieldNames.toSet
    val widenedEq = StructType(dataSchema.fields ++
      eqFieldsById.values.filterNot(f => present(f.name)).toSeq.sortBy(_.name))
    // explicit lineage columns (lineage-preserving rewrites materialized
    // them): appended LAST so eq-extract indexes stay valid. Requested by
    // NAME, no field ids — files without the column null-fill, and the
    // per-row fallback synthesizes first_row_id + position
    val widened =
      if (!needLineage) widenedEq
      else StructType(widenedEq.fields ++ Seq(
        org.apache.spark.sql.types.StructField(SpjTable.RowIdColumnName,
          org.apache.spark.sql.types.LongType, nullable = true),
        org.apache.spark.sql.types.StructField(SpjTable.LastUpdatedColumnName,
          org.apache.spark.sql.types.LongType, nullable = true)))

    // row-group pruning composes with delete filtering: skipped row groups
    // don't shift positions (the row-index generator honors row-group
    // offsets), so surviving rows keep the absolute positions the delete
    // sets refer to
    val dataPos = ParquetRowReadBridge.rowReaderWithPos(
      spark, widened, options, rowGroupFilters)
    val delSchema = StructType(Seq(
      org.apache.spark.sql.types.StructField("file_path",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("pos",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val del =
      if (anyPosFiles) Some(ParquetRowReadBridge.rowReader(
        spark, delSchema, options, Nil))
      else None
    // per distinct equality-id set: the key layout (delete-file columns in
    // id order, typed like the data side) and a reader over those columns
    val eqKeys: Map[Seq[Int], SpjEqKey] = eqIdSets.map { ids =>
      val ordinals = ids.map(id => widened.fieldIndex(eqFieldsById(id).name)).toArray
      // read delete files by NAME: they may lack parquet field ids, and
      // an id-carrying read schema makes the reader reject such files
      val fields = ids.zip(ordinals).map { case (id, i) =>
        val f = eqFieldsById(id)
        org.apache.spark.sql.types.StructField(f.name, widened.fields(i).dataType, f.nullable)
      }
      ids -> SpjEqKey(StructType(fields), ordinals)
    }.toMap
    val eqReaders: Map[Seq[Int], (String, Long) => Iterator[InternalRow]] =
      eqKeys.map { case (ids, k) =>
        ids -> ParquetRowReadBridge.rowReader(spark, k.fileSchema, options, Nil)
      }
    new SpjReaderFactory(reader, meta, Some(dataPos), del,
      options, widened, eqReaders, eqKeys, mappedReader,
      byName.map(m => ParquetRowReadBridge.rowReaderWithPos(spark, m(widened), options, Nil)))
  }
  /** Manifest-stored partition values → catalyst representations (the key
    * row Spark groups/compares on). Loud on anything exotic.
    */
  def toCatalyst(v: Any): Any = v match {
    case null => null
    case s: String => UTF8String.fromString(s)
    case i: java.lang.Integer => i.intValue
    case l: java.lang.Long => l.longValue
    case b: java.lang.Boolean => b.booleanValue
    case f: java.lang.Float => f.floatValue
    case d: java.lang.Double => d.doubleValue
    case other => throw new IllegalArgumentException(
      s"graft-iceberg-spj: unsupported partition value type ${other.getClass}")
  }
}

/** MoR deletes attached to one data file: deletion-vector blobs (puffin
  * path, offset, length — bitmaps read and LRU-cached executor-side),
  * parquet positional-delete files (path, size — read executor-side,
  * filtered to this data file), and equality-delete files (path, size,
  * equality field ids — key sets read and LRU-cached executor-side; rows
  * whose key tuple appears are dropped, null-safe per the spec). The
  * planner already scoped applicability (sequence rules, DV supersedence).
  *
  * Scale note: equality key sets are held in executor memory per delete
  * file — the CDC upsert pattern keeps them bounded and compaction folds
  * them. Oversized backlogs never reach this path: the scan builder
  * measures Σ eq-delete bytes at plan time and routes past-threshold scans
  * through [[SpjAntiJoinScan]] (the distributed anti-join pipeline).
  */
final case class SpjFileDeletes(dvs: Array[(String, Long, Long)],
    posFiles: Array[(String, Long)],
    eqFiles: Array[(String, Long, Seq[Int])] = Array.empty) {
  def isEmpty: Boolean = dvs.isEmpty && posFiles.isEmpty && eqFiles.isEmpty
}

final case class SpjFileInfo(path: String, len: Long,
    deletes: Option[SpjFileDeletes],
    // v3 row-lineage synthesis inputs: the file's assigned first_row_id
    // block (-1 = none, pre-upgrade file) and its data sequence number —
    // readers compute _row_id = first_row_id + position where the file
    // carries no explicit column
    firstRowId: Long = -1L, dataSeq: Long = -1L,
    // a file without field ids, read by the table's name mapping, and the
    // (column, catalyst value) pairs its null columns take: the identity
    // partition values a hive-layout file omits
    nameMapped: Boolean = false, constants: Array[(String, Any)] = Array.empty)

object SpjFileInfo {
  def from(t: graft.table.FileScanTask, context: String): SpjFileInfo = {
    // the executor readers behind this route are parquet bridges. Every
    // batch read of planned tasks — SQL scans, row-level operation scans,
    // SparkRead.readPlanned — sends a set holding a non-parquet file to the
    // anti-join pipeline (ReadRoute.choose), so an ORC file reaching here
    // comes from a streaming micro-batch: fail HERE with a plain answer,
    // not deep in a parquet footer parse
    require(t.file.format.equalsIgnoreCase("PARQUET"),
      s"$context: ${t.file.format} data file ${t.file.path} is not readable " +
        "by this route; ORC tables support reads, filters, equality deletes " +
        "and CoW rewrites, but not position-carrying row-level operations")
    val dvs = t.posDeletes.filter(_.format == "PUFFIN")
      .map(d => (d.path, d.contentOffset.get, d.contentSize.get))
      .distinct.toArray
    val pos = t.posDeletes.filter(_.format != "PUFFIN")
      .map(d => (d.path, d.fileSize)).distinct.toArray
    val eqs = t.eqDeletes
      .map { case (d, _) => (d.path, d.fileSize, d.equalityIds) }
      .distinct.toArray
    val del = SpjFileDeletes(dvs, pos, eqs)
    SpjFileInfo(t.file.path, t.file.fileSize,
      if (del.isEmpty) None else Some(del),
      firstRowId = t.file.firstRowId.getOrElse(-1L),
      dataSeq = t.dataSequence)
  }
}

final case class SpjInputPartition(key: Array[Any],
    files: Array[SpjFileInfo]) extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = new GenericInternalRow(key)
}

/** One equality-id set's key layout: `fileSchema` reads the delete files
  * (key columns in id order, named by the read's schema, typed like the
  * data side) and `dataOrdinals` locates the same columns in the widened
  * data row. Both projections emit an `UnsafeRow` of the same types, so
  * equal keys encode to equal bytes and null matches null, as the spec's
  * key equality requires.
  */
final case class SpjEqKey(fileSchema: StructType, dataOrdinals: Array[Int]) {
  import org.apache.spark.sql.catalyst.expressions.BoundReference

  def fileProjection(): UnsafeProjection = projection(fileSchema.indices)
  def dataProjection(): UnsafeProjection = projection(dataOrdinals.toSeq)

  // primitive key types, compared by their UnsafeRow bytes (floating-point
  // keys bitwise; writers refuse them as keys). Anything else (nested,
  // variant) fails the read rather than matching by an unchecked encoding
  private def projection(ordinals: Seq[Int]): UnsafeProjection = {
    import org.apache.spark.sql.types._
    UnsafeProjection.create(ordinals.zip(fileSchema.fields).map { case (o, f) =>
      f.dataType match {
        case IntegerType | DateType | LongType | TimestampType | TimestampNTZType |
            StringType | BooleanType | DoubleType | FloatType | BinaryType |
            _: DecimalType =>
          BoundReference(o, f.dataType, nullable = true)
        case other => throw new IllegalArgumentException(
          s"equality-delete key type $other unsupported")
      }
    })
  }
}

/** Executor-wide LRU of parsed positional-delete parquet files — the full
  * (referenced data file → deleted positions) map, parsed ONCE per
  * (executor, delete file) no matter how many data files reference the
  * delete file. Without it a partition-scoped pos-delete file referenced
  * by K data files costs K full parquet reads per executor (the DV and
  * eq-key caches already avoided this; this closes the last re-read).
  * Positions are held as the same [[graft.format.PositionBitmap]] a DV
  * deserializes to, so the reader probes both alike. Entries are
  * immutable; eviction only costs a re-read. `loads` counts loader
  * invocations for the one-read-per-(executor, file) test.
  */
object PosDeleteCache {
  private val MaxEntries = 64
  private[graft] val loads = new java.util.concurrent.atomic.AtomicLong(0)
  private val cache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, java.util.Map[String, PositionBitmap]](
        16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, java.util.Map[String, PositionBitmap]]): Boolean =
        size() > MaxEntries
    })

  // in-flight load de-duplication: K reader threads hitting the same
  // uncached delete file must trigger ONE parse, with the other K-1
  // joining the winner's future — without this, simultaneous first touches
  // all miss and all parse (the whole cost the cache exists to avoid)
  private val inflight = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.CompletableFuture[java.util.Map[String, PositionBitmap]]]()

  def get(path: String, load: () => java.util.Map[String, PositionBitmap])
      : java.util.Map[String, PositionBitmap] = {
    val hit = cache.get(path)
    if (hit != null) return hit
    val fut = new java.util.concurrent.CompletableFuture[java.util.Map[String, PositionBitmap]]()
    val prior = inflight.putIfAbsent(path, fut)
    if (prior != null) return prior.join()
    try {
      val again = cache.get(path) // won the slot after a racer completed
      if (again != null) { fut.complete(again); return again }
      loads.incrementAndGet()
      val v = load()
      cache.put(path, v)
      fut.complete(v)
      v
    } catch {
      case e: Throwable => fut.completeExceptionally(e); throw e
    } finally {
      inflight.remove(path)
      ()
    }
  }

  private[graft] def clear(): Unit = { cache.clear(); loads.set(0) }
}

/** Executor-wide LRU of equality-delete key sets — each executor reads
  * each eq-delete file once per (file, key read schema) no matter how many
  * data files it applies to (entries immutable; eviction is re-read cost).
  * The read schema is part of the key because it fixes both the columns
  * read and the key encoding. In-flight loads de-duplicate: concurrent
  * first touches join one parse (same discipline as [[PosDeleteCache]]).
  */
object EqDeleteCache {
  private type KeySet = java.util.Set[UnsafeRow]
  private val MaxEntries = 256
  private val cache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[(String, StructType), KeySet](32, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, StructType), KeySet]): Boolean =
        size() > MaxEntries
    })
  private val inflight = new java.util.concurrent.ConcurrentHashMap[
    (String, StructType), java.util.concurrent.CompletableFuture[KeySet]]()

  def get(path: String, keySchema: StructType, load: () => KeySet): KeySet = {
    val key = (path, keySchema)
    val hit = cache.get(key)
    if (hit != null) return hit
    val fut = new java.util.concurrent.CompletableFuture[KeySet]()
    val prior = inflight.putIfAbsent(key, fut)
    if (prior != null) return prior.join()
    try {
      val again = cache.get(key)
      if (again != null) { fut.complete(again); return again }
      val v = load()
      cache.put(key, v)
      fut.complete(v)
      v
    } catch {
      case e: Throwable => fut.completeExceptionally(e); throw e
    } finally {
      inflight.remove(key)
      ()
    }
  }
}

/** Executor-side row production: per file, either the plain reader or —
  * when MoR deletes are attached — the position-carrying reader over the
  * eq-key-widened schema with a delete filter, then a codegen'd prefix
  * projection back to the requested columns. `_file`, when requested, is
  * appended last.
  *
  * The delete filter allocates nothing per row. Deleted positions are
  * [[graft.format.PositionBitmap]]s: DV bitmaps from the executor LRU and
  * positional-delete files folded into one bitmap per data file. Equality
  * deletes are `UnsafeRow` key sets ([[EqDeleteCache]]) probed through one
  * reused key projection per id set, per task ([[SpjEqKey]]); the strip
  * projection is also created once per task.
  */
final class SpjReaderFactory(
    reader: (String, Long) => Iterator[InternalRow],
    meta: SpjTable.RequestedMeta,
    dataPosReader: Option[(String, Long) => Iterator[InternalRow]] = None,
    delReader: Option[(String, Long) => Iterator[InternalRow]] = None,
    ioOptions: Map[String, String] = Map.empty,
    widenedSchema: StructType = new StructType(),
    eqReaders: Map[Seq[Int], (String, Long) => Iterator[InternalRow]] = Map.empty,
    eqKeys: Map[Seq[Int], SpjEqKey] = Map.empty,
    mappedReader: Option[(String, Long) => Iterator[InternalRow]] = None,
    mappedDataPosReader: Option[(String, Long) => Iterator[InternalRow]] = None)
    extends PartitionReaderFactory {

  import meta.{withFile, withLastUpd, withPos, withRowId}

  /** `f`'s rows from the ID-resolved or the name-mapped reader, with its
    * constant columns filled where they read null (every row of the file
    * holds its identity partition value there). `schema` is the reader's
    * schema by table names; `types` are the row's field types.
    */
  private def rows(f: SpjFileInfo, byId: (String, Long) => Iterator[InternalRow],
      byName: Option[(String, Long) => Iterator[InternalRow]], schema: StructType,
      types: => Seq[org.apache.spark.sql.types.DataType]): Iterator[InternalRow] = {
    val read = if (f.nameMapped) byName.getOrElse(throw new IllegalStateException(
      "name-mapped file but no name-mapped reader was planned")) else byId
    val fill = f.constants.collect {
      case (n, v) if schema.fieldNames.contains(n) => schema.fieldIndex(n) -> v
    }
    if (fill.isEmpty) read(f.path, f.len)
    else {
      val rowTypes = types
      read(f.path, f.len).map { r =>
        if (fill.forall { case (i, _) => !r.isNullAt(i) }) r
        else {
          // column readers answer a null slot with a zero value: test each
          val out = new GenericInternalRow(rowTypes.indices.map(i =>
            if (r.isNullAt(i)) null else r.get(i, rowTypes(i))).toArray)
          fill.foreach { case (i, v) => if (out.isNullAt(i)) out.update(i, v) }
          out
        }
      }
    }
  }

  // positions targeting `dataPath`, from pos-delete parquets (schema:
  // file_path string, pos long), or null when none does. Each delete file
  // parses ONCE per executor into a (referenced file → positions) map via
  // [[PosDeleteCache]]; this lookup is then a hash probe regardless of how
  // many data files share the delete file.
  private def posDeleteBitmap(files: Array[(String, Long)], dataPath: String): PositionBitmap = {
    val want = graft.io.FileIO.canonical(dataPath)
    val rd = delReader.getOrElse(throw new IllegalStateException(
      "pos-delete files present but no pos-delete reader was planned"))
    val hits = files.flatMap { case (p, len) =>
      val byFile = PosDeleteCache.get(p, () => {
        val m = new java.util.HashMap[String, PositionBitmap]()
        rd(p, len).foreach { r =>
          // a null file_path or pos means the delete file is corrupt; a
          // skipped row would RESURRECT the row it should delete — fail
          // closed (reference TestReadDeletesRejectsNullPos /
          // RejectsMissingFilePath)
          require(!r.isNullAt(0) && !r.isNullAt(1),
            s"corrupt positional delete file $p: null file_path or pos")
          m.computeIfAbsent(
              graft.io.FileIO.canonical(r.getUTF8String(0).toString),
              _ => new PositionBitmap)
            .set(r.getLong(1))
        }
        m
      })
      Option(byFile.get(want))
    }
    hits.length match {
      case 0 => null
      case 1 => hits(0) // cached, never mutated
      case _ =>
        val union = new PositionBitmap
        hits.foreach(union.or)
        union
    }
  }

  private def eqKeySet(path: String, len: Long, ids: Seq[Int]): java.util.Set[UnsafeRow] = {
    val key = eqKeys(ids)
    EqDeleteCache.get(path, key.fileSchema, () => {
      val project = key.fileProjection()
      val keys = new java.util.HashSet[UnsafeRow]()
      eqReaders(ids)(path, len).foreach(r => keys.add(project(r).copy()))
      keys
    })
  }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[SpjInputPartition]
    new PartitionReader[InternalRow] {
      private val needLineage = meta.lineage
      private val posIdx = widenedSchema.fields.length
      // per task: the projection back to the data columns, and one key
      // projection per equality-id set
      private lazy val strip = UnsafeProjection.create(
        meta.data.fields.zipWithIndex.map { case (sf, i) =>
          org.apache.spark.sql.catalyst.expressions.BoundReference(i, sf.dataType, sf.nullable)
        }.toSeq)
      private val probes = new java.util.HashMap[Seq[Int], UnsafeProjection]()
      private def probe(ids: Seq[Int]): UnsafeProjection =
        probes.computeIfAbsent(ids, _ => eqKeys(ids).dataProjection())

      private val it = p.files.iterator.flatMap { f =>
        val needPosReader = withPos || needLineage || f.deletes.nonEmpty
        if (!needPosReader) {
          val base = rows(f, reader, mappedReader, meta.data, meta.data.fields.map(_.dataType))
          if (!withFile) base
          else {
            val fileRow = new GenericInternalRow(
              Array[Any](UTF8String.fromString(f.path)))
            val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow
            base.map(r => joined(r, fileRow))
          }
        } else {
          // pos-carrying read (widened with any eq-key columns, trailing
          // row index); MoR deletes filter here, then the output projects
          // back to data columns + the requested metadata columns
          val stream = rows(f, dataPosReader.getOrElse(throw new IllegalStateException(
            "position reader was not planned")), mappedDataPosReader, widenedSchema,
            widenedSchema.fields.map(_.dataType).toSeq :+ org.apache.spark.sql.types.LongType)
          val filtered = f.deletes match {
            case None => stream
            case Some(del) =>
              val dvs = del.dvs.map { case (path, off, len) =>
                graft.table.SparkRead.DvCache.get(path, off, len, ioOptions)
              }
              val posDeleted =
                if (del.posFiles.isEmpty) null
                else posDeleteBitmap(del.posFiles, f.path)
              new SpjDeleteFilter(stream, posIdx,
                if (posDeleted == null) dvs else dvs :+ posDeleted,
                del.eqFiles.map { case (_, _, ids) => probe(ids) },
                del.eqFiles.map { case (path, len, ids) => eqKeySet(path, len, ids) })
          }
          val metaArity = (if (withFile) 1 else 0) + (if (withPos) 1 else 0) +
            (if (withRowId) 1 else 0) + (if (withLastUpd) 1 else 0)
          if (metaArity == 0) filtered.map(strip)
          else {
            val metaRow = new GenericInternalRow(metaArity)
            if (withFile) metaRow.update(0, UTF8String.fromString(f.path))
            val posSlot = if (withFile) 1 else 0
            val rowIdSlot = posSlot + (if (withPos) 1 else 0)
            val lastUpdSlot = rowIdSlot + (if (withRowId) 1 else 0)
            // explicit lineage columns ride at the tail of the widened read
            // schema (before the appended row index); explicit wins,
            // synthesis only where the file carries a first_row_id block
            val rowIdReadIdx =
              if (needLineage) widenedSchema.fieldIndex(SpjTable.RowIdColumnName) else -1
            val lastReadIdx =
              if (needLineage) widenedSchema.fieldIndex(SpjTable.LastUpdatedColumnName) else -1
            val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow
            filtered.map { r =>
              if (withPos) metaRow.setLong(posSlot, r.getLong(posIdx))
              if (withRowId) metaRow.update(rowIdSlot,
                if (!r.isNullAt(rowIdReadIdx)) java.lang.Long.valueOf(r.getLong(rowIdReadIdx))
                else if (f.firstRowId >= 0)
                  java.lang.Long.valueOf(f.firstRowId + r.getLong(posIdx))
                else null)
              if (withLastUpd) metaRow.update(lastUpdSlot,
                if (!r.isNullAt(lastReadIdx)) java.lang.Long.valueOf(r.getLong(lastReadIdx))
                else if (f.firstRowId >= 0) java.lang.Long.valueOf(f.dataSeq)
                else null)
              joined(strip(r), metaRow)
            }
          }
        }
      }
      private var current: InternalRow = _
      override def next(): Boolean = {
        if (it.hasNext) { current = it.next(); true } else false
      }
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }
}

/** The rows of one data file that survive its MoR deletes: a row goes when
  * its position (at `posIdx`) is in any of `deleted`, or when the key that
  * `keys(i)` projects from it is in `keySets(i)`. Consecutive key sets that
  * share a projection probe with one projected key.
  */
private final class SpjDeleteFilter(rows: Iterator[InternalRow], posIdx: Int,
    deleted: Array[PositionBitmap], keys: Array[UnsafeProjection],
    keySets: Array[java.util.Set[UnsafeRow]]) extends Iterator[InternalRow] {
  private var pending: InternalRow = _

  override def hasNext: Boolean = {
    while (pending == null && rows.hasNext) {
      val r = rows.next()
      if (live(r)) pending = r
    }
    pending != null
  }

  override def next(): InternalRow = {
    if (!hasNext) throw new NoSuchElementException
    val r = pending
    pending = null
    r
  }

  private def live(r: InternalRow): Boolean = {
    val pos = r.getLong(posIdx)
    var i = 0
    while (i < deleted.length) {
      if (deleted(i).contains(pos)) return false
      i += 1
    }
    var projected: UnsafeProjection = null
    var key: UnsafeRow = null
    i = 0
    while (i < keySets.length) {
      if (keys(i) ne projected) { projected = keys(i); key = projected(r) }
      if (keySets(i).contains(key)) return false
      i += 1
    }
    true
  }
}
