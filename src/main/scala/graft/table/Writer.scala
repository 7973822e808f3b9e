package graft.table

import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core._
import graft.core.IcebergTypes._
import graft.format._

/** Write path (reference §2.5): partitioned fanout append, footer-stats
  * harvesting into `DataFile`s, snapshot production, catalog commit.
  *
  * The reference's goroutine fanout (feeder -> partition workers -> rolling
  * writers) is replaced by Spark's shuffle: `repartition(partitionCols)` +
  * `write.partitionBy` gives each partition its own writer set, scaling to
  * any cluster width. Stats come from parquet footers after the write, like
  * the reference (`table/internal/parquet_files.go:733-1150`).
  */
object Writer {

  private val StatsTruncateLen = 16 // write.metadata.metrics default truncate(16)

  /** Per-column metrics mode (reference `table/internal/utils.go:365-412`
    * MatchMetricsMode + `arrow_utils.go:1634-1650` resolution):
    * `write.metadata.metrics.default` sets the table default (truncate(16)
    * when unset) and `write.metadata.metrics.column.<dotted.name>` overrides
    * per column. Unlike the reference we keep full/truncated bounds for
    * struct-nested columns rather than downgrading them to counts — nested
    * bounds are spec-legal and this engine prunes on them (i32).
    */
  private[graft] sealed trait MetricsMode
  private[graft] object MetricsMode {
    case object NoMetrics extends MetricsMode
    case object Counts extends MetricsMode
    case object Full extends MetricsMode
    final case class Trunc(len: Int) extends MetricsMode
    private val TruncRe = """truncate\((\d+)\)""".r

    def parse(s: String): MetricsMode = s.trim.toLowerCase match {
      case "none" => NoMetrics
      case "counts" => Counts
      case "full" => Full
      case TruncRe(n) if n.toInt > 0 => Trunc(n.toInt)
      case other => throw new IllegalArgumentException(s"unsupported metrics mode: $other")
    }

    /** Resolver over table properties, keyed by field id. */
    def resolver(schema: IcebergSchema, props: Map[String, String]): Int => MetricsMode = {
      val default = props.get("write.metadata.metrics.default")
        .map(parse).getOrElse(Trunc(StatsTruncateLen))
      val names = dottedNames(schema)
      id => names.get(id)
        .flatMap(n => props.get(s"write.metadata.metrics.column.$n"))
        .map(parse).getOrElse(default)
    }

    private def dottedNames(schema: IcebergSchema): Map[Int, String] = {
      val b = Map.newBuilder[Int, String]
      def walk(prefix: String, f: NestedField): Unit = {
        val full = if (prefix.isEmpty) f.name else s"$prefix.${f.name}"
        b += f.id -> full
        f.fieldType match {
          case IcebergTypes.StructT(fs) => fs.foreach(walk(full, _))
          case _ => () // list/map internals aren't metrics-configurable
        }
      }
      schema.fields.foreach(walk("", _))
      b.result()
    }
  }

  /** Append a DataFrame (fast-append snapshot, reference
    * `table/transaction.go:558-611`). Returns the updated table.
    *
    * `toBranch` stages the append on a named branch (WAP pattern): the new
    * snapshot's parent is the BRANCH head and only that ref moves — main and
    * the table's current-snapshot pointer are untouched until a
    * [[Evolve.fastForward]] publish.
    *
    * `stageOnly` records the snapshot in table metadata WITHOUT moving any
    * ref (the `wap.id` staging pattern): no reader sees it until
    * [[Evolve.cherrypick]] / `publish_changes` re-applies it onto main.
    */
  def append(spark: SparkSession, table: Table, df: DataFrame,
      toBranch: Option[String] = None,
      extraSummary: Map[String, String] = Map.empty,
      stageOnly: Boolean = false): Table = {
    val files = writeDataFiles(spark, table, df)
    commitSnapshot(table, "append", addedFiles = files, removedPaths = Set.empty,
      addedDeleteFiles = Nil, toBranch = toBranch, extraSummary = extraSummary,
      stageOnly = stageOnly)
  }

  /** Full-table overwrite in ONE snapshot (reference ReplaceFiles semantics,
    * `table/transaction.go:612-700`): write the replacement data files, then
    * commit an `overwrite` snapshot that adds them and removes every
    * currently-live data file atomically — readers see either the old table
    * or the new one, never an empty intermediate (which a delete-all +
    * append pair would expose). Backs SQL `INSERT OVERWRITE` / `TRUNCATE`.
    */
  def overwriteAll(spark: SparkSession, table: Table, df: DataFrame): Table = {
    SparkRead.configure(spark)
    val files = writeDataFiles(spark, table, df)
    val tasks = table.newScan.planFiles()
    val live = tasks.map(_.file.path).toSet
    // every live data file goes, so every attached delete file goes with it
    val deleteKeys = tasks.flatMap(t =>
      t.posDeletes.map(d => (d.path, d.contentOffset)) ++
        t.eqDeletes.map(e => (e._1.path, e._1.contentOffset))).toSet
    commitSnapshot(table, "overwrite", addedFiles = files,
      removedPaths = live, addedDeleteFiles = Nil,
      removedDeleteKeys = deleteKeys)
  }

  /** Copy-on-write DELETE WHERE (reference `table/transaction.go:1382-2120`):
    * classify candidate files with the inclusive evaluator, rewrite the
    * partially-matching ones without matching rows, drop fully-rewritten
    * originals.
    */
  def deleteWhere(spark: SparkSession, table: Table, filter: Expr): Table = {
    SparkRead.configure(spark)
    val candidates = table.newScan.withFilter(filter).planFiles()
    if (candidates.isEmpty) return table
    val schema = table.schema
    // strict classification (reference `table/transaction.go:1767-1860`):
    // files where EVERY row matches are dropped metadata-only — no read, no
    // rewrite. Files with MoR deletes attached still qualify: deletes only
    // remove rows, so "all rows match" covers all live rows too.
    val strictFilter = Expr.rewriteNot(filter)
    val (fullMatch, partial) = candidates.partition(t =>
      Evaluators.fileMustMatch(schema, strictFilter, t.file))
    val candidatePaths = candidates.map(_.file.path)
    // rewrite only partially-matching candidates, without the matching rows,
    // reading with MoR deletes applied so already-deleted rows stay deleted.
    // v3 row lineage survives the rewrite the same way compaction preserves
    // it (survivor rows are UNCHANGED rows, so their ids and last-updated
    // sequence numbers are still theirs)
    val ioOptions = table.refreshIoCredentials()
    val newFiles = lineageSplit(table, partial).flatMap { case (g, preserve) =>
      writeDataFiles(spark, table,
        SparkRead.readPlanned(spark, table, g, schema, rowLineage = preserve, ioOptions)
          .filter(!Expr.toColumn(filter)))
    }
    commitSnapshot(table, "overwrite", addedFiles = newFiles,
      removedPaths = candidatePaths.toSet, addedDeleteFiles = Nil,
      conflictCheck = Some(ConflictCheck(filter = filter,
        candidatePaths = candidatePaths.toSet,
        rewrittenFiles = candidates.map(t => (t.file, t.specId)))))
  }

  /** A rewrite scope split by v3 row lineage (reference
    * rewrite_data_files.go:330-390): files that carry lineage form a group
    * read with `_row_id` / `_last_updated_sequence_number` synthesized and
    * written through as explicit columns (flag true), so row ids stay
    * stable across the rewrite. Legacy files from before a v3 upgrade form
    * a group without (their outputs take fresh first_row_id blocks at
    * commit): one mixed output file would put nulls beside real ids,
    * violating per-file uniqueness. Below v3 the scope is one group.
    */
  private[table] def lineageSplit(table: Table,
      scope: Seq[FileScanTask]): Seq[(Seq[FileScanTask], Boolean)] =
    if (table.metadata.formatVersion < 3) Seq((scope, false)).filter(_._1.nonEmpty)
    else {
      val (lineage, legacy) = scope.partition(_.file.firstRowId.isDefined)
      if (legacy.nonEmpty && lineage.nonEmpty)
        System.err.println("[rewrite] mixed row lineage in rewrite scope; " +
          s"splitting into ${lineage.size} lineage-preserving / " +
          s"${legacy.size} legacy files")
      Seq((lineage, true), (legacy, false)).filter(_._1.nonEmpty)
    }

  /** Dynamic partition overwrite (Iceberg ReplacePartitions semantics):
    * replace exactly the partitions PRESENT in `df`, atomically — write the
    * replacement files, then one `overwrite` snapshot that adds them and
    * removes every live data file (plus its attached delete files) whose
    * partition tuple matches one of theirs. Partitions absent from `df` are
    * untouched. Backs SQL `INSERT OVERWRITE` under
    * `spark.sql.sources.partitionOverwriteMode=dynamic`.
    *
    * Partition tuples are compared by their canonical Hive-style path key
    * (the same serialization the fanout writer lays files out under), so
    * fresh in-memory values and manifest-read values can't diverge by
    * boxing. Files on an OLDER spec are rejected loudly — their tuples are
    * not comparable against the current spec; compact first. Matches the
    * reference's default ReplacePartitions behavior: no conflict
    * validation — concurrent writers to DISJOINT partitions both win.
    */
  def overwriteDynamic(spark: SparkSession, table: Table, df: DataFrame): Table = {
    SparkRead.configure(spark)
    if (table.spec.isUnpartitioned) return overwriteAll(spark, table, df)
    val added = writeDataFiles(spark, table, df)
    val (removedPaths, deleteKeys) =
      dynamicReplacement(table, added.map(_.partition))
    commitSnapshot(table, "overwrite", addedFiles = added,
      removedPaths = removedPaths,
      addedDeleteFiles = Nil, removedDeleteKeys = deleteKeys)
  }

  /** The live files (and their attached delete files) a dynamic overwrite
    * of `addedPartitions` must remove. Tuples are compared by canonical
    * Hive-style path key; files on an older spec are rejected loudly.
    */
  def dynamicReplacement(table: Table, addedPartitions: Seq[Seq[Any]])
      : (Set[String], Set[(String, Option[Long])]) = {
    val schema = table.schema
    val spec = table.spec
    def key(values: Seq[Any]): String = spec.partitionToPath(values, schema)
    val newKeys = addedPartitions.map(key).toSet
    val tasks = table.newScan.planFiles()
    val oldSpec = tasks.filter(_.specId != spec.specId)
    require(oldSpec.isEmpty,
      s"dynamic overwrite requires all data files on the current partition " +
        s"spec ${spec.specId}; ${oldSpec.length} file(s) ride older specs — " +
        "run rewrite_data_files first")
    val replaced = tasks.filter(t => newKeys.contains(key(t.file.partition)))
    val deleteKeys = replaced.flatMap(t =>
      t.posDeletes.map(d => (d.path, d.contentOffset)) ++
        t.eqDeletes.map(e => (e._1.path, e._1.contentOffset))).toSet
    (replaced.map(_.file.path).toSet, deleteKeys)
  }

  /** Filtered overwrite in ONE snapshot (reference overwrite semantics,
    * `table/transaction.go:612-700` applied to a predicate slice): remove
    * everything matching `filter`, add `df`, atomically. Strict
    * classification drops fully-matching files metadata-only; partially-
    * matching files are rewritten without matching rows; the replacement
    * data, the rewrites, and the removals all land in a single
    * conflict-validated `overwrite` commit — a reader never observes the
    * deleted-but-not-yet-replaced intermediate that a delete+append pair
    * exposes. Backs SQL `INSERT OVERWRITE ... PARTITION (...)` (Spark
    * plans static partition overwrite as OverwriteByExpression).
    */
  def overwriteWhere(spark: SparkSession, table: Table, df: DataFrame,
      filter: Expr): Table = {
    SparkRead.configure(spark)
    val added = writeDataFiles(spark, table, df)
    val candidates = table.newScan.withFilter(filter).planFiles()
    val schema = table.schema
    val strictFilter = Expr.rewriteNot(filter)
    val (_, partial) = candidates.partition(t =>
      Evaluators.fileMustMatch(schema, strictFilter, t.file))
    val candidatePaths = candidates.map(_.file.path)
    val rewritten =
      if (partial.isEmpty) Nil
      else writeDataFiles(spark, table,
        SparkRead.readPlanned(spark, table, partial, schema,
          ioOptions = table.refreshIoCredentials())
          .filter(!Expr.toColumn(filter)))
    commitSnapshot(table, "overwrite", addedFiles = added ++ rewritten,
      removedPaths = candidatePaths.toSet, addedDeleteFiles = Nil,
      conflictCheck = Some(ConflictCheck(filter = filter,
        candidatePaths = candidatePaths.toSet,
        rewrittenFiles = candidates.map(t => (t.file, t.specId)))))
  }

  /** Merge-on-read DELETE WHERE (reference `table/transaction.go:2121-2339`):
    * the matching rows' positions become delete files, data files stay in
    * place. Parquet positional-delete files on v2 tables; deletion vectors
    * on v3 tables and whenever a candidate already carries a DV (see
    * [[PositionDeleteWriter.apply]] and [[deletePositions]]).
    */
  def deleteWhereMoR(spark: SparkSession, table: Table, filter: Expr): Table =
    deletePositions(spark, table, filter, forceDv = false)

  /** [[deleteWhereMoR]] that writes deletion vectors on any format version
    * (reference `table/dv/dv_writer.go`, supersedence
    * `table/scanner.go:529-636`).
    */
  def deleteWhereDV(spark: SparkSession, table: Table, filter: Expr): Table =
    deletePositions(spark, table, filter, forceDv = true)

  /** The candidates' live rows are read by the per-task readers with their
    * `_file` and `_pos` columns ([[SparkRead.matchedPositions]]: name-mapped
    * files resolve through the mapping, rows deleted already do not match
    * again). The matches fold into one bitmap per data file map-side, and
    * each shuffle partition writes its files through the shared
    * [[PositionDeleteWriter]]: one parquet file, or one puffin file whose
    * DVs fold each file's prior DV and parquet positional deletes. The
    * commit removes each superseded DV (one DV per data file).
    */
  private def deletePositions(spark: SparkSession, table: Table, filter: Expr,
      forceDv: Boolean): Table = {
    SparkRead.configure(spark)
    val candidates = table.newScan.withFilter(filter).planFiles()
    if (candidates.isEmpty) return table
    val ioOptions = table.refreshIoCredentials()
    val writer = PositionDeleteWriter(spark, table, candidates, ioOptions, forceDv)
    val msgs = PositionDeleteWriter.write(
      SparkRead.matchedPositions(spark, table, candidates, filter, ioOptions), writer)
    if (msgs.isEmpty) return table
    val touched = msgs.flatMap(_.dataFiles).toSet
    commitSnapshot(table, "delete", Nil, Set.empty, PositionDeleteWriter.dataFiles(msgs),
      conflictCheck = Some(ConflictCheck(filter = filter,
        candidatePaths = candidates.map(_.file.path).toSet,
        referencedDataFiles = touched,
        // a new DV SUPERSEDES the DV it folded at scan time: a concurrent
        // delete landing on the same files between scan and commit would
        // be silently dropped, so it must conflict
        dvReadFiles = if (!writer.useDv) Nil
          else candidates.filter(t => touched(t.file.path)).map(t => (t.file, t.specId)))),
      globalDeleteSpec = true)
  }

  /** Resolve + validate equality-delete key fields (reference
    * `table/equality_delete_writer.go:60-83`): float/double keys are
    * rejected at the writer because NaN != NaN under IEEE comparison, so a
    * NaN key could never match the row it was meant to delete — a
    * silent-corruption class, not a style choice. Shared by every path
    * that emits equality-delete files.
    */
  private def resolveEqualityIds(schema: graft.core.IcebergSchema,
      equalityFieldNames: Seq[String]): Seq[Int] =
    equalityFieldNames.map { n =>
      val f = schema.findField(n).getOrElse(
        throw new IllegalArgumentException(s"no such column $n"))
      f.fieldType match {
        case FloatT | DoubleT => throw new IllegalArgumentException(
          s"equality field ${f.id} ($n) has unsupported floating-point type " +
            s"${f.fieldType.typeName}: floating-point columns cannot be equality delete keys")
        case _ => f.id
      }
    }

  /** Equality-delete write (reference `table/equality_delete_writer.go`):
    * the delete keys frame must contain exactly the equality columns.
    */
  def equalityDelete(spark: SparkSession, table: Table, keys: DataFrame,
      equalityFieldNames: Seq[String]): Table = {
    val deleteFiles = writeEqualityDeletes(spark, table, keys, equalityFieldNames)
    // eq-deletes here are globally scoped (unpartitioned delete spec), so
    // under serializable any concurrent data add conflicts
    commitSnapshot(table, "delete", Nil, Set.empty, deleteFiles,
      conflictCheck = Some(ConflictCheck(eqDeleteScope = Some(Nil))),
      globalDeleteSpec = true)
  }

  /** Write the key columns of `keys` as global equality-delete files and
    * return the non-empty ones. Distributed: each task emits its own file;
    * all carry the same equality-id set, so the file count does not matter.
    */
  private def writeEqualityDeletes(spark: SparkSession, table: Table, keys: DataFrame,
      equalityFieldNames: Seq[String]): Seq[DataFile] = {
    val eqIds = resolveEqualityIds(table.schema, equalityFieldNames)
    val tmpDir = s"${table.location}/tmp-eqdelete-${UUID.randomUUID()}"
    keys.select(equalityFieldNames.map(col): _*).write
      .options(encryptionOptions(spark, table)).parquet(tmpDir)
    val deleteFiles = listParquet(tmpDir).map { src =>
      val target = Locations.newDataLocation(table.location,
        table.metadata.properties, "", s"eq-delete-${UUID.randomUUID()}.parquet")
      moveFile(src, target)
      val (rowCount, size) = footerBasics(target)
      DataFile(DataFileContent.EqualityDeletes, target, "PARQUET",
        partition = Seq.empty, // global delete: unpartitioned spec (see commitSnapshotOnce)
        recordCount = rowCount, fileSize = size, equalityIds = eqIds)
    }
    deleteTree(tmpDir)
    deleteFiles.filter(_.recordCount > 0)
  }

  /** RowDelta (reference `table/row_delta.go:65-290`): inserts + equality
    * deletes committed atomically in ONE snapshot. Sequence-number semantics
    * do the merge: the delete and data files share the new sequence number,
    * and eq-deletes apply only strictly-older data (delSeq > dataSeq), so
    * the batch's own inserts are never deleted by its own keys.
    */
  def rowDelta(spark: SparkSession, table: Table, addRows: DataFrame,
      deleteKeys: DataFrame, equalityFieldNames: Seq[String],
      extraSummary: Map[String, String] = Map.empty): Table = {
    resolveEqualityIds(table.schema, equalityFieldNames) // fail before writing data
    val dataFiles = writeDataFiles(spark, table, addRows)
    val deleteFiles = writeEqualityDeletes(spark, table, deleteKeys, equalityFieldNames)
    val op = if (deleteFiles.nonEmpty) "overwrite" else "append"
    val check =
      if (deleteFiles.nonEmpty)
        Some(ConflictCheck(eqDeleteScope = Some(Nil),
          isolationKey = "write.update.isolation-level"))
      else None
    commitSnapshot(table, op, dataFiles, Set.empty, deleteFiles, conflictCheck = check,
      extraSummary = extraSummary, globalDeleteSpec = true)
  }

  /** MERGE-shaped upsert: each key in `updates` replaces any existing row
    * with that key; keys not present insert. One atomic snapshot.
    */
  def upsert(spark: SparkSession, table: Table, updates: DataFrame,
      keyCols: Seq[String],
      extraSummary: Map[String, String] = Map.empty): Table =
    rowDelta(spark, table, updates, updates.select(keyCols.map(col): _*),
      keyCols, extraSummary)

  /** AddFiles import (reference `table/transaction.go` AddFiles +
    * `name_mapping.go:29-510`): register existing parquet files in the table
    * WITHOUT rewriting them. Stats are harvested from footers (field-id
    * resolution falls back to schema names — including nested dotted paths —
    * for ID-less files); a nested name mapping is recorded so the read path
    * resolves ID-less columns by name. Identity-partitioned tables import
    * hive-style directories: partition values parse from `<col>=<value>`
    * path segments (typed, like the fanout writer's own dirs); hive layout
    * omits the partition column from the files, so the read path fills it
    * from the partition value the manifest records.
    */
  def addFiles(spark: SparkSession, table: Table, paths: Seq[String]): Table = {
    val spec = table.spec
    require(spec.isUnpartitioned ||
      spec.fields.forall(_.transform == Transforms.Identity),
      "addFiles supports unpartitioned or identity-partitioned tables")
    val schema = table.schema
    val partType = spec.partitionType(schema)
    import scala.collection.parallel.CollectionConverters._
    val files = paths.par.map { p =>
      val partValues: Seq[Any] =
        if (spec.isUnpartitioned) Nil
        else {
          val dirs = p.split('/').dropRight(1)
          spec.fields.zip(partType.fields).map { case (pf, nf) =>
            val srcName = schema.idToField(pf.sourceId).name
            val seg = dirs.find(_.startsWith(s"$srcName=")).getOrElse(
              throw new IllegalArgumentException(
                s"no hive partition segment '$srcName=' in $p"))
            parsePartitionValue(seg.substring(srcName.length + 1), nf.fieldType)
          }
        }
      if (p.endsWith(".orc"))
        harvestStatsOrc(p, partValues)
      else harvestStats(p, schema, partValues,
        omitBounds = table.metadata.properties
          .contains(graft.encryption.ParquetEncryption.KeyIdProp),
        props = table.metadata.properties)
    }.seq
    val mappingProp = table.metadata.properties.get(NameMapping.PropertyKey)
      .map(_ => Map.empty[String, String])
      .getOrElse(Map(NameMapping.PropertyKey -> NameMapping.fromSchema(schema).toJson))
    commitSnapshot(table, "append", files, Set.empty, Nil,
      extraProperties = mappingProp)
  }

  /** Iceberg `snapshot` procedure for a path source: create a NEW table
    * whose data is an existing parquet directory, referencing the files in
    * place — no copy, no rewrite (a zero-cost on-ramp for data that
    * already lives in the lake). Schema is inferred from the files;
    * hive-style `col=value` directories become an identity partition spec
    * (the read path fills those columns from the directory values, which
    * the files themselves omit). The snapshot table owns only its
    * METADATA: `gc.enabled=false` is stamped so drop-with-purge and
    * orphan cleanup never delete the source files out from under their
    * original owner (Iceberg snapshot-table convention).
    */
  def snapshotImport(spark: SparkSession, catalog: graft.catalog.Catalog,
      sourceDir: String, destName: String,
      properties: Map[String, String] = Map.empty): Table = {
    val df = spark.read.parquet(sourceDir)
    val schema = SchemaBridge.fromSpark(df.schema)
    val files = listParquet(sourceDir)
    require(files.nonEmpty, s"no parquet files under $sourceDir")
    val dirSegs = files.head.split('/').dropRight(1).toSeq
    val partCols = df.schema.fields.map(_.name)
      .filter(n => dirSegs.exists(_.startsWith(s"$n=")))
    val spec =
      if (partCols.isEmpty) PartitionSpec.Unpartitioned
      else partCols.foldLeft(PartitionSpec.builder(schema)) { (b, c) =>
        b.add(c, Transforms.Identity)
      }.build()
    val t = catalog.createTable(destName, schema, spec,
      properties = properties ++ Map("gc.enabled" -> "false"))
    addFiles(spark, t, files)
  }

  // --------------------------------------------------------------- internals

  /** Write df as table data files (partition fanout if spec is partitioned),
    * harvest footer stats, return DataFiles.
    */
  /** Parquet modular-encryption writer options for tables carrying
    * `encryption.key-id`; empty (plaintext) otherwise. Applied per-write so
    * encryption stays table-scoped.
    */
  private def encryptionOptions(spark: SparkSession, table: Table): Map[String, String] =
    graft.encryption.ParquetEncryption.writeOptions(spark, table.metadata.properties)

  /** Options for a task-side parquet writer
    * ([[org.apache.spark.sql.graft.ParquetRowWriteBridge]]) of `table`:
    * the storage options, encryption under the table's key and the
    * `write.parquet.*` settings, the same as a DataFrame write gets.
    */
  private[graft] def taskWriteOptions(spark: SparkSession, table: Table,
      ioOptions: Map[String, String]): Map[String, String] =
    ioOptions ++ encryptionOptions(spark, table) ++
      parquetWriteOptions(table.metadata.properties)

  /** Map the spec's `write.parquet.*` table properties onto the parquet-mr
    * writer keys Spark forwards from DataFrameWriter options (reference
    * `table/internal/parquet_files.go:280-400`): compression codec,
    * row-group/page/dictionary sizes, dictionary on/off (table + per
    * column), bloom filters per column + size cap. Per-column suffixes
    * address the PARQUET column path, as in the reference.
    */
  private def parquetWriteOptions(props: Map[String, String]): Map[String, String] = {
    val out = Map.newBuilder[String, String]
    props.get("write.parquet.compression-codec")
      .foreach(c => out += "compression" -> c.toLowerCase)
    props.get("write.parquet.row-group-size-bytes")
      .foreach(v => out += "parquet.block.size" -> v)
    props.get("write.parquet.page-size-bytes")
      .foreach(v => out += "parquet.page.size" -> v)
    props.get("write.parquet.page-row-limit")
      .foreach(v => out += "parquet.page.row.count.limit" -> v)
    props.get("write.parquet.dict-size-bytes")
      .foreach(v => out += "parquet.dictionary.page.size" -> v)
    props.get("parquet.enable.dictionary")
      .foreach(v => out += "parquet.enable.dictionary" -> v)
    props.get("write.parquet.bloom-filter-max-bytes")
      .foreach(v => out += "parquet.bloom.filter.max.bytes" -> v)
    val bloomPrefix = "write.parquet.bloom-filter-enabled.column."
    val dictPrefix = "write.parquet.dict-encoding-enabled.column."
    props.foreach {
      case (k, v) if k.startsWith(bloomPrefix) && k.length > bloomPrefix.length =>
        out += s"parquet.bloom.filter.enabled#${k.stripPrefix(bloomPrefix)}" -> v
      case (k, v) if k.startsWith(dictPrefix) && k.length > dictPrefix.length =>
        out += s"parquet.enable.dictionary#${k.stripPrefix(dictPrefix)}" -> v
      case _ => ()
    }
    out.result()
  }

  def writeDataFiles(spark: SparkSession, table: Table, df: DataFrame): Seq[DataFile] = {
    SparkRead.configure(spark)
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    val schema = table.schema
    val spec = table.spec
    val sparkSchema = SchemaBridge.toSpark(schema)
    checkWriteCompat(schema, df)

    // align input columns to table schema (names + types + field-id
    // metadata); columns the caller omitted fill with their write-default
    // (spec v3 default-value contract — checkWriteCompat already required
    // presence for required defaultless fields). `unknown`-typed columns
    // are never stored (parquet has no null type; the read path
    // synthesizes them as null)
    val unknownNames = schema.fields
      .filter(_.fieldType == graft.core.IcebergTypes.UnknownT).map(_.name).toSet
    // lineage-preserving rewrites carry _row_id /
    // _last_updated_sequence_number through the write as REAL parquet
    // columns under the v3 reserved field ids (reference
    // rewrite_data_files.go WithPreserveRowLineage): readers prefer these
    // explicit values over synthesis, which is what makes row ids stable
    // across compaction
    val lineagePassThrough = SchemaBridge.LineageCols
      .filter { case (n, _) => df.columns.contains(n) }
      .map { case (n, id) =>
        col(n).cast(org.apache.spark.sql.types.LongType).as(n,
          new org.apache.spark.sql.types.MetadataBuilder()
            .putLong(SchemaBridge.FieldIdKey, id.toLong).build())
      }
    val aligned = df.select(sparkSchema.fields
      .filterNot(f => unknownNames.contains(f.name)).map { f =>
        val base =
          if (df.columns.contains(f.name)) col(f.name)
          else lit(schema.fields.find(_.name == f.name)
            .flatMap(_.writeDefault).orNull)
        base.cast(f.dataType).as(f.name, f.metadata)
      } ++ lineagePassThrough: _*)

    val tmpDir = s"${table.location}/tmp-append-${UUID.randomUUID()}"
    val partColNames = spec.fields.map(pf => s"__part_${pf.name}")

    // vended table credentials (REST catalogs): resolve + register for the
    // FileIO side (footer harvest, moves) and thread into the Spark write
    // as per-relation options for the executor-side writers
    val ioOpts = table.refreshIoCredentials()

    // rolling target-file-size (reference `table/rolling_data_writer.go:
    // 320-760` rolls on the writer's actual byte count): Spark's sink only
    // rolls on record count, so the count is CALIBRATED from the observed
    // encoded bytes/row of this table's previous writes (measured from the
    // same footers the stats harvest reads — no extra IO). The first write
    // of a fresh table falls back to the schema's in-memory width, which
    // overshoots parquet's encoded width and so errs toward files under
    // target — the safe side; steady-state appends then land on target.
    val targetBytes = table.metadata.properties
      .get("write.target-file-size-bytes").map(_.toLong)
      .getOrElse(512L * 1024 * 1024)
    val maxRecords = math.max(1L,
      (targetBytes / estimatedRowBytes(table.location, sparkSchema)).toLong)

    // sort-order-aware clustered write (reference `table/sorting.go:32-476`
    // + `clustered_writer.go`): order-by columns from the table's default
    // sort order, applied in both write branches below
    val sortCols = table.metadata.sortOrders
      .find(_.orderId == table.metadata.defaultSortOrderId)
      .map(_.fields.flatMap { sf =>
        schema.idToField.get(sf.sourceId).map { f =>
          val (srcCol, srcT) = Transforms.sourceFor(sf.transform, col(f.name), f.fieldType)
          val c = sf.transform.toColumn(srcCol, srcT)
          if (sf.ascending) c.asc else c.desc
        }
      }).getOrElse(Nil)

    // inline NaN/geo stats (reference collects them in its writer,
    // `table/internal/parquet_files.go:733-1150`): the stats-collecting
    // parquet format streams per-file NaN counts and geometry envelopes into
    // an accumulator DURING the write, so a geo/NaN append reads its input
    // exactly once — no second pass over fresh files
    val nanStatCols: Seq[(String, Int)] =
      if (table.metadata.properties
          .getOrElse("write.metadata.metrics.nan-counts.enabled", "false").toBoolean)
        floatDoubleFields(schema)
      else Nil
    val geoStatCols: Seq[(String, Int)] = schema.fields.collect {
      case f if f.fieldType.isInstanceOf[IcebergTypes.GeometryT] => (f.name, f.id)
    }
    val statsJob: Option[String] =
      if (nanStatCols.nonEmpty || geoStatCols.nonEmpty)
        Some(graft.sources.StatsParquetFormat.register(spark))
      else None
    def parquetSink(w: org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row]) =
      statsJob match {
        case Some(id) => w.format(classOf[graft.sources.StatsParquetFormat].getName)
          .option("graft.stats.job", id)
          .option("graft.stats.nan", nanStatCols.map { case (n, i) => s"$n:$i" }.mkString(";"))
          .option("graft.stats.geo", geoStatCols.map { case (n, i) => s"$n:$i" }.mkString(";"))
        case None => w.format("parquet")
      }

    def writeAligned(): Unit = if (spec.isUnpartitioned) {
      // a declared sort order turns the append into a range-clustered write:
      // repartitionByRange gives globally non-overlapping per-file ranges of
      // the sort key, so file min/max stats prune range predicates — the
      // whole point of a sort order at 100 TB. Equal keys land in one range
      // partition, so file bounds never interleave.
      val clustered =
        if (sortCols.isEmpty) aligned
        else aligned.repartitionByRange(sortCols: _*).sortWithinPartitions(sortCols: _*)
      parquetSink(clustered.write.option("maxRecordsPerFile", maxRecords)
        .options(ioOpts)
        .options(encryptionOptions(spark, table))
        .options(parquetWriteOptions(table.metadata.properties))).save(tmpDir)
    } else {
      val withParts = spec.fields.zip(partColNames).foldLeft(aligned) {
        case (d, (pf, pcol)) =>
          val src = schema.idToField(pf.sourceId)
          val (srcCol, srcT) = Transforms.sourceFor(pf.transform, col(src.name), src.fieldType)
          d.withColumn(pcol, pf.transform.toColumn(srcCol, srcT))
      }
      // fanout-skew fix (reference fanout writer `table/partitioned_fanout_
      // writer.go:41-654`): hash-repartitioning on partition values collapses
      // parallelism to #distinct values and melts on skew. The AQE REBALANCE
      // shuffle splits oversized partitions by size (hot values span many
      // tasks) and merges tiny ones — one shuffle, no sampling pass — while
      // partitionBy still routes rows to the right directory.
      parquetSink(withParts
        .hint("rebalance", partColNames.map(col): _*)
        .sortWithinPartitions((partColNames.map(col) ++ sortCols): _*)
        .write.partitionBy(partColNames: _*)
        .option("maxRecordsPerFile", maxRecords)
        .options(ioOpts)
        .options(encryptionOptions(spark, table))
        .options(parquetWriteOptions(table.metadata.properties))).save(tmpDir)
    }

    // spec variant shredding (reference `table/internal/variant_shredding.go`,
    // writer `variant_shredding_writer.go`): Spark's parquet writer emits the
    // shredded typed_value layout natively with an inferred shredding schema
    // — ON by default, per table property `write.variant.shredding.enabled`
    // (false forces the plain value+metadata layout). Readers — ours via
    // allowReadingShredded, or any spec-compliant engine — reconstruct the
    // variant; variant_get pushdown then reads typed columns directly.
    val shredVariant = table.metadata.properties
      .getOrElse("write.variant.shredding.enabled", "true").toBoolean
    val prevShred = spark.conf.getOption("spark.sql.variant.writeShredding.enabled")
    val prevInfer = spark.conf.getOption("spark.sql.variant.inferShreddingSchema")
    spark.conf.set("spark.sql.variant.writeShredding.enabled", shredVariant.toString)
    spark.conf.set("spark.sql.variant.inferShreddingSchema", shredVariant.toString)
    try writeAligned()
    catch { case e: Throwable =>
      // release the stats accumulator registration on a failed write so a
      // long-lived session can't pile up dead entries
      statsJob.foreach(graft.sources.StatsParquetFormat.drain)
      throw e
    }
    finally {
      prevShred.fold(spark.conf.unset("spark.sql.variant.writeShredding.enabled"))(
        v => spark.conf.set("spark.sql.variant.writeShredding.enabled", v))
      prevInfer.fold(spark.conf.unset("spark.sql.variant.inferShreddingSchema"))(
        v => spark.conf.set("spark.sql.variant.inferShreddingSchema", v))
    }

    val partType = spec.partitionType(schema)
    val written = listParquet(tmpDir)
    val inlineStats: Map[String, graft.sources.WriteFileStats] =
      statsJob.map(graft.sources.StatsParquetFormat.drain).getOrElse(Map.empty)
    val omitBounds = table.metadata.properties
      .contains(graft.encryption.ParquetEncryption.KeyIdProp)
    // footer-stat harvesting reads one footer per file — IO-bound and
    // independent, so run it on the driver pool (serial, this was a visible
    // slice of every append; at real file counts it would dominate)
    import scala.collection.parallel.CollectionConverters._
    val files = written.par.map { src =>
      // partition values come from the hive-style dirs we just wrote
      val rel = src.stripPrefix(tmpDir).stripPrefix("/")
      val dirs = rel.split('/').dropRight(1)
      val partValues: Seq[Any] = spec.fields.zip(partColNames).zip(partType.fields).map {
        case ((pf, pcol), nf) =>
          val seg = dirs.find(_.startsWith(s"$pcol=")).getOrElse(
            throw new IllegalStateException(s"missing partition dir $pcol in $src"))
          parsePartitionValue(seg.substring(pcol.length + 1), nf.fieldType)
      }
      val partPath = if (spec.isUnpartitioned) ""
        else spec.partitionToPath(partValues, schema) + "/"
      val target = Locations.newDataLocation(table.location,
        table.metadata.properties, partPath, s"${UUID.randomUUID()}.parquet")
      moveFile(src, target)
      val base = harvestStats(target, schema, partValues, omitBounds = omitBounds,
        props = table.metadata.properties)
      // fold in the stats collected inline during the write
      inlineStats.get(src.substring(src.lastIndexOf('/') + 1)) match {
        case None => base
        case Some(ws) =>
          val withNan = base.copy(nanCounts = ws.nanCounts)
          if (omitBounds) withNan // encrypted tables omit plaintext bounds
          else withNan.copy(
            lowerBounds = withNan.lowerBounds ++ ws.geoBounds.map {
              case (id, (x0, y0, _, _)) => id -> Geo.encodeBound(x0, y0) },
            upperBounds = withNan.upperBounds ++ ws.geoBounds.map {
              case (id, (_, _, x1, y1)) => id -> Geo.encodeBound(x1, y1) })
      }
    }.seq
    deleteTree(tmpDir)
    val out = files.filter(_.recordCount > 0)
    // feed the rolling calibration with this write's actual encoded width
    observeRowBytes(table.location,
      out.map(_.recordCount).sum, out.map(_.fileSize).sum)
    out
  }

  /** Observed encoded bytes/row per table location (per-JVM), feeding the
    * byte-calibrated rolling writer.
    */
  private val observedRowBytes =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()

  /** Encoded bytes/row estimate for a table: the observed width of its
    * previous writes when available, else the schema's in-memory width
    * (overshoots parquet's encoded width → files land UNDER target, the
    * safe side). Shared by the V1 write funnel and the DSv2 executor-side
    * fanout writers so both roll at the same calibrated record count.
    */
  private[graft] def estimatedRowBytes(location: String,
      sparkSchema: org.apache.spark.sql.types.StructType): Double =
    Option(observedRowBytes.get(location)).map(_.doubleValue)
      .getOrElse(math.max(16, sparkSchema.defaultSize).toDouble)

  /** Feed the calibration with a write's actual encoded width. */
  private[graft] def observeRowBytes(location: String, rows: Long, bytes: Long): Unit =
    if (rows > 0) {
      observedRowBytes.put(location, java.lang.Double.valueOf(bytes.toDouble / rows))
      ()
    }

  /** Float/double columns addressable by Column path: top-level and
    * struct-nested (list/map elements aren't `col()`-addressable).
    */
  private def floatDoubleFields(schema: IcebergSchema): Seq[(String, Int)] = {
    val b = Seq.newBuilder[(String, Int)]
    def walk(prefix: String, f: NestedField): Unit = {
      val full = if (prefix.isEmpty) f.name else s"$prefix.${f.name}"
      f.fieldType match {
        case FloatT | DoubleT => b += full -> f.id
        case IcebergTypes.StructT(fs) => fs.foreach(walk(full, _))
        case _ =>
      }
    }
    schema.fields.foreach(walk("", _))
    b.result()
  }

  /** Write-side schema compatibility (reference metadata compat check /
    * arrow_utils schema validation): every table column must be present in
    * the incoming frame, no unknown columns may sneak in (a silent blind
    * cast would drop them), and incoming types must equal or safely promote
    * to the table types.
    */
  private def checkWriteCompat(schema: IcebergSchema, df: DataFrame): Unit = {
    val incoming = df.schema.fields.map(f => f.name -> f.dataType).toMap
    val tableNames = schema.fields.map(_.name).toSet
    // an optional column (or one carrying a write-default) may be absent
    // from writer data — the writer fills the default (spec v3
    // default-value contract); only required defaultless columns must come
    // from the caller
    val missing = schema.fields.filterNot(f => incoming.contains(f.name))
      .filter(f => f.required && f.writeDefault.isEmpty)
    if (missing.nonEmpty)
      throw new IllegalArgumentException(
        s"write schema is missing table column(s): ${missing.map(_.name).mkString(", ")}")
    // the reserved lineage columns are legitimate pass-through on rewrite
    // paths (writeDataFiles materializes them under the reserved field ids)
    val reserved = SchemaBridge.LineageCols.map(_._1).toSet
    val unknown = incoming.keys.filterNot(tableNames.contains)
      .filterNot(reserved.contains)
    if (unknown.nonEmpty)
      throw new IllegalArgumentException(
        s"write schema has column(s) not in the table: ${unknown.mkString(", ")}")
    // compare types with nested field-id METADATA stripped: the table-side
    // types carry parquet.field.id on nested struct fields, which incoming
    // frames legitimately lack
    def stripMeta(dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType =
      dt match {
        case st: org.apache.spark.sql.types.StructType =>
          org.apache.spark.sql.types.StructType(st.fields.map(f =>
            org.apache.spark.sql.types.StructField(f.name, stripMeta(f.dataType), f.nullable)))
        case at: org.apache.spark.sql.types.ArrayType => at.copy(elementType = stripMeta(at.elementType))
        case mt: org.apache.spark.sql.types.MapType =>
          mt.copy(keyType = stripMeta(mt.keyType), valueType = stripMeta(mt.valueType))
        case other => other
      }
    schema.fields.filter(f => incoming.contains(f.name)).foreach { f =>
      val in = stripMeta(incoming(f.name))
      val expected = stripMeta(SchemaBridge.toSparkType(f.fieldType))
      val ok = in == expected || ((in, expected) match {
        // the write-side mirror of the spec's promotion rules
        case (org.apache.spark.sql.types.IntegerType,
              org.apache.spark.sql.types.LongType) => true
        case (org.apache.spark.sql.types.FloatType,
              org.apache.spark.sql.types.DoubleType) => true
        case (a: org.apache.spark.sql.types.DecimalType,
              b: org.apache.spark.sql.types.DecimalType) =>
          a.scale == b.scale && a.precision <= b.precision
        case _ => false
      })
      if (!ok)
        throw new IllegalArgumentException(
          s"incompatible write type for ${f.name}: $in cannot become $expected")
    }
  }

  /** Decode ONLY %XX escapes (Hive `unescapePathName` semantics).
    * URLDecoder's form decoding would also map literal '+' to space — Hive's
    * escapePathName never encodes '+', so that mapping corrupts string
    * partition values containing '+'.
    */
  private def unescapeHivePath(encoded: String): String = {
    if (!encoded.contains('%')) return encoded
    val sb = new java.lang.StringBuilder(encoded.length)
    var i = 0
    while (i < encoded.length) {
      val c = encoded.charAt(i)
      if (c == '%' && i + 2 < encoded.length) {
        val hex = Integer.parseInt(encoded.substring(i + 1, i + 3), 16)
        sb.append(hex.toChar); i += 3
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  private def parsePartitionValue(encoded: String, t: IcebergType): Any = {
    val s = unescapeHivePath(encoded)
    if (s == "__HIVE_DEFAULT_PARTITION__" || s == "null") return null
    t match {
      case IntT => s.toInt
      case LongT => s.toLong
      case StringT => s
      case BooleanT => s.toBoolean
      case DateT => java.time.LocalDate.parse(s).toEpochDay.toInt
      case DecimalT(_, sc) => new java.math.BigDecimal(s).setScale(sc)
      case DoubleT => s.toDouble
      case FloatT => s.toFloat
      case TimestampT | TimestampTzT =>
        // identity partition dirs for timestamp columns come from Spark as
        // "yyyy-MM-dd HH:mm:ss[.ffffff]" in the UTC session tz; the iceberg
        // partition value is µs since epoch
        val ldt = java.time.LocalDateTime.parse(s.replace(' ', 'T'))
        ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + ldt.getNano / 1000L
      // ns timestamps and time-of-day travel as long columns (Spark has no
      // native type), so their dir value is already the long
      case TimestampNsT | TimestampTzNsT | TimeT => s.toLong
      case UuidT => java.util.UUID.fromString(s).toString
      // a silent string fallback here would corrupt manifests: pruning and
      // partition-scoped delete matching would compare strings against typed
      // literals — fail loudly instead
      case other => throw new IllegalArgumentException(
        s"unsupported identity partition value type $other (value '$s')")
    }
  }

  /** Read a parquet footer into an Iceberg DataFile with per-column stats
    * (value/null counts, truncated lower/upper bounds), resolving columns to
    * field ids via the embedded parquet field ids.
    *
    * `omitBounds` drops lower/upper value bounds from the manifest entry:
    * for encrypted tables parquet modular encryption protects data files
    * only, so plaintext min/max values in manifests would leak every
    * column's value range at rest. The cost is file-level value pruning on
    * such tables (counts still prune nulls/NaNs); correctness is unaffected.
    */
  /** Register an ORC data file (the manifest format the reference VALIDATES
    * in AddDataFiles, `table/transaction.go:792` — though its own scanner
    * never reads one; ours does, by name). Footer gives exact row count and
    * length; column bounds are deliberately omitted — a stats-less DataFile
    * can never mis-prune, and ORC column ids don't carry Iceberg field ids
    * the way parquet footers do. Read-side columns resolve by NAME, so the
    * file's column names must match the table schema's.
    */
  def harvestStatsOrc(path: String, partValues: Seq[Any]): DataFile = {
    val conf = new org.apache.hadoop.conf.Configuration()
    val reader = org.apache.orc.OrcFile.createReader(
      new org.apache.hadoop.fs.Path(path),
      org.apache.orc.OrcFile.readerOptions(conf))
    try DataFile(DataFileContent.Data, graft.io.FileIO.canonical(path), "ORC",
      partValues, reader.getNumberOfRows, reader.getContentLength)
    finally reader.close()
  }

  def harvestStats(path: String, schema: IcebergSchema, partValues: Seq[Any],
      omitBounds: Boolean = false,
      props: Map[String, String] = Map.empty): DataFile = {
    val reader = graft.encryption.ParquetEncryption.openFooterReader(path)
    try {
      val footer = reader.getFooter
      val msgType = footer.getFileMetaData.getSchema
      val blocks = footer.getBlocks.asScala
      val rowCount = blocks.map(_.getRowCount).sum

      // this footer read already knows whether the file embeds field IDs —
      // seed the scan planner's per-JVM presence cache so the first scan of
      // an imported table never re-probes footers (serially or otherwise)
      SparkRead.seedFieldIdPresence(graft.io.FileIO.canonical(path),
        !msgType.getFields.isEmpty && msgType.getFields.get(0).getId != null)

      // parquet column -> field id: the leaf's embedded id when present,
      // else the schema's dotted-path name (struct nesting; list/map
      // internal parquet paths — "list"/"element"/"key_value" — don't match
      // iceberg naming and stay unstatted, same as the reference's
      // non-leaf-addressable columns)
      def fieldIdOf(pathInSchema: Array[String]): Option[Int] = {
        val leaf = msgType.getType(pathInSchema.toIndexedSeq: _*)
        Option(leaf.getId).map(_.intValue)
          .orElse(schema.findField(pathInSchema.mkString(".")).map(_.id))
          // ids outside the table schema (the reserved lineage columns a
          // rewrite materialized, or stale ids from foreign files) have no
          // manifest-stats home — skip, don't crash the bound encode
          .filter(schema.idToField.contains)
      }

      val colSizes = scala.collection.mutable.Map.empty[Int, Long]
      val valCounts = scala.collection.mutable.Map.empty[Int, Long]
      val nullCounts = scala.collection.mutable.Map.empty[Int, Long]
      val lowers = scala.collection.mutable.Map.empty[Int, Any]
      val uppers = scala.collection.mutable.Map.empty[Int, Any]

      val modeFor = MetricsMode.resolver(schema, props)

      blocks.foreach { block =>
        block.getColumns.asScala.foreach { chunk =>
          fieldIdOf(chunk.getPath.toArray).foreach { id =>
            val mode = modeFor(id)
            if (mode != MetricsMode.NoMetrics) {
              colSizes(id) = colSizes.getOrElse(id, 0L) + chunk.getTotalSize
              valCounts(id) = valCounts.getOrElse(id, 0L) + chunk.getValueCount
              val stats = chunk.getStatistics
              if (stats != null && stats.isNumNullsSet)
                nullCounts(id) = nullCounts.getOrElse(id, 0L) + stats.getNumNulls
              if (mode != MetricsMode.Counts &&
                  stats != null && stats.hasNonNullValue &&
                  !IcebergTypes.isGeo(schema.idToField(id).fieldType)) {
                // geo columns: parquet byte-array min/max over WKB are
                // meaningless — real envelope bounds collect inline during
                // the write (StatsParquetFormat)
                val ft = schema.idToField(id).fieldType
                val mn = statValue(stats.genericGetMin, ft)
                val mx = statValue(stats.genericGetMax, ft)
                if (mn != null && (!lowers.contains(id) || Literals.compare(ft, mn, lowers(id)) < 0))
                  lowers(id) = mn
                if (mx != null && (!uppers.contains(id) || Literals.compare(ft, mx, uppers(id)) > 0))
                  uppers(id) = mx
              }
            }
          }
        }
      }

      def encodeBound(m: scala.collection.Map[Int, Any], isUpper: Boolean): Map[Int, Array[Byte]] =
        m.flatMap { case (id, v) =>
          val ft = schema.idToField(id).fieldType
          // truncation applies to strings only; truncate-mode on other
          // types means full bounds (reference rule)
          val truncLen = modeFor(id) match {
            case MetricsMode.Trunc(n) => n
            case _ => 0 // full (none/counts never reach here)
          }
          val truncated: Option[Any] = (ft, v) match {
            case (StringT, s: String) if truncLen > 0 =>
              if (isUpper) Literals.truncateUpper(s, truncLen)
              else Some(Literals.truncateLower(s, truncLen))
            case _ => Some(v)
          }
          truncated.map(t => id -> Literals.encode(ft, t))
        }.toMap

      // shredded variant typed_value bounds → spec bounds objects keyed by
      // the variant column's field id (reference collectVariantBounds,
      // `table/internal/parquet_files.go:1194-1330`); the parent variant
      // column's metrics mode gates the whole bounds object
      val variantBounds: Map[Int, (Array[Byte], Array[Byte])] =
        schema.fields.filter(_.fieldType == VariantT).flatMap { nf =>
          modeFor(nf.id) match {
            case MetricsMode.NoMetrics | MetricsMode.Counts => None
            case m =>
              val len = m match { case MetricsMode.Trunc(n) => n; case _ => 0 }
              harvestVariantBounds(msgType, blocks.toSeq, nf.name, len).map(nf.id -> _)
          }
        }.toMap

      DataFile(
        content = DataFileContent.Data,
        path = path,
        format = "PARQUET",
        partition = partValues,
        recordCount = rowCount,
        fileSize = graft.io.FileIO.size(path),
        columnSizes = colSizes.toMap,
        valueCounts = valCounts.toMap,
        nullCounts = nullCounts.toMap,
        lowerBounds = if (omitBounds) Map.empty
          else encodeBound(lowers, isUpper = false) ++
            variantBounds.map { case (id, (lo, _)) => id -> lo },
        upperBounds = if (omitBounds) Map.empty
          else encodeBound(uppers, isUpper = true) ++
            variantBounds.map { case (id, (_, hi)) => id -> hi },
        splitOffsets = blocks.map(_.getStartingPos).toSeq.sorted)
    } finally reader.close()
  }

  /** Harvest spec "Bounds for Variant" objects for one shredded variant
    * column from the parquet footer (reference `collectVariantBounds`,
    * `table/internal/parquet_files.go:1194-1330`): each depth-1 object field
    * whose `typed_value` leaf is a primitive with usable chunk stats — and
    * whose sibling `value` residual is provably all-null — contributes a
    * `$['field']` entry to the lower/upper bounds objects. Any chunk
    * missing stats, or a residual that may hold values, invalidates that
    * field (conservative: the reference additionally accepts all-variant-
    * null residuals). Nested objects/arrays are skipped, as in the
    * reference.
    */
  private def harvestVariantBounds(
      msgType: org.apache.parquet.schema.MessageType,
      blocks: Seq[org.apache.parquet.hadoop.metadata.BlockMetaData],
      colName: String,
      truncLen: Int): Option[(Array[Byte], Array[Byte])] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val typedGroup = try {
      val vg = msgType.getType(Seq(colName): _*).asGroupType()
      if (!vg.containsField("typed_value")) return None
      val tv = vg.getType("typed_value")
      if (tv.isPrimitive) return None
      tv.asGroupType()
    } catch { case _: Exception => return None }

    final case class LeafState(name: String, hasResidual: Boolean) {
      var invalid = false
      var lo: Any = null
      var hi: Any = null
    }
    val leaves = typedGroup.getFields.asScala.flatMap { f =>
      if (f.isPrimitive) None
      else {
        val g = f.asGroupType()
        if (g.containsField("typed_value") && g.getType("typed_value").isPrimitive)
          Some(LeafState(f.getName, g.containsField("value")))
        else None // nested object/array: no bound (reference skips too)
      }
    }
    if (leaves.isEmpty) return None

    // decoded chunk-stat value in the bound codec's domain, or null when
    // the physical type can't carry a variant bound
    def statVal(leaf: String, v: Any): Any = {
      val pt = typedGroup.getType(leaf).asGroupType().getType("typed_value").asPrimitiveType()
      (pt.getPrimitiveTypeName, v) match {
        case (INT64, l: java.lang.Long) => l.longValue
        case (INT32, i: java.lang.Integer) => i.longValue
        case (DOUBLE, d: java.lang.Double) => d.doubleValue
        case (FLOAT, f: java.lang.Float) => f.doubleValue
        case (BOOLEAN, b: java.lang.Boolean) => b.booleanValue
        case (BINARY, b: org.apache.parquet.io.api.Binary)
            if pt.getLogicalTypeAnnotation ==
              LogicalTypeAnnotation.stringType() => b.toStringUsingUTF8
        case _ => null
      }
    }
    def cmpVB(a: Any, b: Any): Int = (a, b) match {
      case (x: Long, y: Long) => java.lang.Long.compare(x, y)
      case (x: Double, y: Double) => java.lang.Double.compare(x, y)
      case (x: String, y: String) => x.compareTo(y)
      case (x: Boolean, y: Boolean) => java.lang.Boolean.compare(x, y)
      case _ => 0
    }

    blocks.foreach { block =>
      val byPath = block.getColumns.asScala
        .map(c => c.getPath.toArray.mkString(".") -> c).toMap
      leaves.foreach { leaf =>
        if (!leaf.invalid) {
          val base = s"$colName.typed_value.${leaf.name}"
          // residual sibling must be provably all-null in every row group
          if (leaf.hasResidual) byPath.get(s"$base.value").foreach { rc =>
            val st = rc.getStatistics
            if (st == null || !st.isNumNullsSet || st.getNumNulls != rc.getValueCount)
              leaf.invalid = true
          }
          byPath.get(s"$base.typed_value") match {
            case None => leaf.invalid = true
            case Some(tc) =>
              val st = tc.getStatistics
              if (st == null) leaf.invalid = true
              else if (st.hasNonNullValue) {
                val mn = statVal(leaf.name, st.genericGetMin)
                val mx = statVal(leaf.name, st.genericGetMax)
                if (mn == null || mx == null) leaf.invalid = true
                else {
                  if (leaf.lo == null || cmpVB(mn, leaf.lo) < 0) leaf.lo = mn
                  if (leaf.hi == null || cmpVB(mx, leaf.hi) > 0) leaf.hi = mx
                }
              } else if (!st.isNumNullsSet || st.getNumNulls != tc.getValueCount)
                leaf.invalid = true // values present but no min/max
          }
        }
      }
    }

    // NaN bounds are useless for pruning (the reference drops them too)
    def usable(v: Any): Boolean = v match {
      case d: Double => !d.isNaN
      case _ => true
    }
    val good = leaves.filter(l => !l.invalid && l.lo != null && l.hi != null &&
      usable(l.lo) && usable(l.hi)).sortBy(_.name)
    if (good.isEmpty) return None

    def entries(useLower: Boolean): Seq[(String, Any)] = good.flatMap { l =>
      val path = graft.core.VariantBounds.pathFor(l.name)
      val v = if (useLower) l.lo else l.hi
      v match {
        case s: String if truncLen > 0 =>
          if (useLower) Some(path -> Literals.truncateLower(s, truncLen))
          else Literals.truncateUpper(s, truncLen).map(path -> _)
        case other => Some(path -> other)
      }
    }.toSeq
    Some((graft.core.VariantBounds.encode(entries(useLower = true)),
      graft.core.VariantBounds.encode(entries(useLower = false))))
  }

  /** Parquet statistics value -> the JVM value Literals expects for the
    * Iceberg type (µs longs for timestamps, day ints for dates, BigDecimal
    * for decimals, String for UTF-8 binary).
    */
  private def statValue(v: Any, ft: IcebergType): Any = (ft, v) match {
    case (_, null) => null
    case (StringT, b: org.apache.parquet.io.api.Binary) => b.toStringUsingUTF8
    case (BinaryT | FixedT(_), b: org.apache.parquet.io.api.Binary) => b.getBytes
    case (DecimalT(_, s), b: org.apache.parquet.io.api.Binary) =>
      new java.math.BigDecimal(new java.math.BigInteger(b.getBytes), s)
    case (DecimalT(_, s), i: java.lang.Integer) =>
      java.math.BigDecimal.valueOf(i.longValue, s)
    case (DecimalT(_, s), l: java.lang.Long) => java.math.BigDecimal.valueOf(l, s)
    case (_, b: org.apache.parquet.io.api.Binary) => b.getBytes
    case _ => v
  }

  /** Row count and byte size of a written parquet file. */
  private def footerBasics(path: String): (Long, Long) = {
    val reader = graft.encryption.ParquetEncryption.openFooterReader(path)
    try (reader.getFooter.getBlocks.asScala.map(_.getRowCount).sum, graft.io.FileIO.size(path))
    finally reader.close()
  }

  /** Concurrent-writer conflict scope (reference
    * `table/conflict_validation.go:68-860`). Each populated field arms one
    * validator, run against the refreshed head on every rebase:
    *
    *  - `filter`/`candidatePaths` — serializable only: a concurrent commit
    *    added data matching this commit's delete/overwrite filter
    *    (`validateAddedDataFilesMatchingFilter`).
    *  - `referencedDataFiles` — always: a pos-delete/DV commit references
    *    data files that must still be live at the head; a concurrent
    *    compaction/overwrite rewriting them would orphan the delete
    *    (`validateDataFilesExist`).
    *  - `rewrittenFiles` — always: a rewrite (compaction, CoW delete) must
    *    fail if a CONCURRENT commit added delete files targeting the files
    *    being rewritten — committing would drop those deletes and resurrect
    *    rows (`validateNoNewDeletesForRewrittenFiles`): pos/DV deletes
    *    conflict on referenced path or partition overlap, eq-deletes
    *    conservatively always.
    *  - `eqDeleteScope` — serializable only: a concurrent commit added data
    *    into partitions an eq-delete covers; `Some(Nil)` means
    *    global/unpartitioned scope, where ANY concurrent data add conflicts
    *    (`validateNoConflictingDataFilesInPartitions`).
    *  - `readFiles` — BOTH isolation levels: an UPDATE/MERGE delta
    *    re-inserts the rows it read from these files, so a concurrent
    *    commit adding delete files that target them (DV, pos-delete, or
    *    eq-delete) has deleted rows whose replacements this commit already
    *    wrote — committing anyway loses that delete or this update
    *    (`validateNoConflictingDeleteFiles`). Same matching rules as
    *    `rewrittenFiles`.
    *  - `dvReadFiles` — BOTH isolation levels, v3 pure DELETEs: this
    *    commit's deletion vectors SUPERSEDE any prior DV on the same data
    *    file (one-DV-per-file invariant), so a concurrent commit's DV or
    *    pos-delete on these files would be silently dropped — its deleted
    *    rows resurrect. Eq-deletes are exempt (sequence-based, never
    *    superseded by a DV); v2 positional deletes are additive and need
    *    no such check at all.
    *  - `serializableDataScope` — serializable only: arms the
    *    added-data-matching-filter check even when `filter` is AlwaysTrue
    *    (an UNFILTERED row-level statement conflicts with any concurrent
    *    data add under serializable; without the flag an empty filter
    *    means "check not applicable", as for plain appends).
    *
    * `isolationKey` names the table property holding the isolation level for
    * this operation (`write.delete.isolation-level` /
    * `write.update.isolation-level`), default serializable.
    */
  final case class ConflictCheck(
      filter: Expr = Expr.AlwaysTrue,
      candidatePaths: Set[String] = Set.empty,
      referencedDataFiles: Set[String] = Set.empty,
      rewrittenFiles: Seq[(DataFile, Int)] = Nil,
      eqDeleteScope: Option[Seq[(Int, Seq[Any])]] = None,
      readFiles: Seq[(DataFile, Int)] = Nil,
      dvReadFiles: Seq[(DataFile, Int)] = Nil,
      serializableDataScope: Boolean = false,
      isolationKey: String = "write.delete.isolation-level")

  /** Fast-append / overwrite snapshot producer + Hadoop-catalog commit with
    * optimistic-concurrency retry (reference retry loop `table/table.go:520-980`,
    * property defaults `table/properties.go:111-137`): on CommitConflict,
    * reload the table, re-validate against the new base, rebuild manifests on
    * top of it, and re-commit with exponential backoff + jitter.
    */
  def commitSnapshot(table: Table, operation: String, addedFiles: Seq[DataFile],
      removedPaths: Set[String], addedDeleteFiles: Seq[DataFile],
      conflictCheck: Option[ConflictCheck] = None,
      removedDeleteKeys: Set[(String, Option[Long])] = Set.empty,
      extraProperties: Map[String, String] = Map.empty,
      extraSummary: Map[String, String] = Map.empty,
      toBranch: Option[String] = None,
      globalDeleteSpec: Boolean = false,
      stageOnly: Boolean = false): Table = {
    val props = table.metadata.properties
    // retry-config validation (reference `table/table.go:878-935`
    // readRetryConfig): unparseable/negative spellings fall back to the
    // default, zero waits take the default, and outright-unsafe values — a
    // count beyond uint32, a duration that overflows the backoff arithmetic,
    // min > max — are rejected before the first attempt instead of crashing
    // a later Thread.sleep mid-retry with data already staged
    val maxRetryDurationMs = Long.MaxValue / 1000000L // ns-representable ms
    def propRaw(k: String): Option[Long] = props.get(k).flatMap(_.toLongOption)
    def propDur(k: String, d: Long): Long = propRaw(k) match {
      case Some(v) if v <= 0 => d
      case Some(v) =>
        require(v <= maxRetryDurationMs,
          s"invalid retry property $k=$v: exceeds maximum duration of $maxRetryDurationMs ms")
        v
      case None => d
    }
    val maxRetries = propRaw("commit.retry.num-retries") match {
      case Some(v) if v < 0 => 4
      case Some(v) =>
        require(v <= 0xFFFFFFFFL,
          s"invalid retry property commit.retry.num-retries=$v: exceeds the maximum")
        math.min(v, Int.MaxValue.toLong).toInt
      case None => 4
    }
    val minWait = propDur("commit.retry.min-wait-ms", 100L)
    val maxWait = propDur("commit.retry.max-wait-ms", 60000L)
    require(minWait <= maxWait,
      s"invalid retry properties: min-wait-ms $minWait exceeds max-wait-ms $maxWait")
    val deadline = System.currentTimeMillis() + propDur("commit.retry.total-timeout-ms", 1800000L)

    val t0 = System.nanoTime()
    var t = table
    var attempt = 0
    while (true) {
      if (attempt > 0) validateRebase(table, t, removedPaths, conflictCheck)
      val acc = new CommitAccumulator
      try {
        val committed = commitSnapshotOnce(t, operation, addedFiles, removedPaths,
          addedDeleteFiles, removedDeleteKeys, extraProperties, extraSummary, acc,
          toBranch, globalDeleteSpec, stageOnly)
        emitCommitReport(committed, operation, addedFiles, addedDeleteFiles,
          acc, attempt + 1, System.nanoTime() - t0, toBranch)
        return committed
      } catch {
        case _: graft.catalog.CommitConflict
            if attempt < maxRetries && System.currentTimeMillis() < deadline =>
          // exponential backoff clamped to maxWait, shift capped so the
          // arithmetic can't overflow, jitter floored at minWait so
          // concurrent writers don't all sample ~0 and retry in lockstep
          // (reference backoffDuration, table.go:937-980)
          val shift = math.min(attempt, 62)
          val ceiling =
            if (minWait > (maxRetryDurationMs >> shift)) maxWait
            else math.min(maxWait, minWait << shift)
          Thread.sleep(minWait + scala.util.Random.nextLong(ceiling - minWait + 1))
          attempt += 1
          t = t.refresh()
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Per-commit observability deltas gathered while manifests are built. */
  private final class CommitAccumulator {
    val removedData = Seq.newBuilder[DataFile]
    val removedDeletes = Seq.newBuilder[DataFile]
    var entriesProcessed = 0L
  }

  /** Emit a spec CommitReport to the table's configured reporter (reference
    * `metrics/commit_report.go:29-110`). The commit has already succeeded —
    * reporting failures must never surface to the committer.
    */
  private def emitCommitReport(t: Table, operation: String,
      addedFiles: Seq[DataFile], addedDeleteFiles: Seq[DataFile],
      acc: CommitAccumulator, attempts: Int, elapsedNanos: Long,
      toBranch: Option[String] = None): Unit = {
    try {
      val rep = t.reporter
      if (rep eq graft.metrics.NopReporter) return
      import graft.metrics.{CommitMetricsResult, CommitReport, CounterResult, TimerResult}
      val snap = toBranch.flatMap(b => t.metadata.refs.get(b))
        .flatMap(r => t.metadata.snapshotById(r.snapshotId))
        .orElse(t.metadata.currentSnapshot).get
      val all = Manifests.readManifestList(snap.manifestList)
      val (dataM, delM) = all.partition(_.content == ManifestContent.Data)
      val removedData = acc.removedData.result()
      val removedDel = acc.removedDeletes.result()
      val addedEq = addedDeleteFiles.filter(_.content == DataFileContent.EqualityDeletes)
      val addedDv = addedDeleteFiles.filter(_.format == "PUFFIN")
      val addedPos = addedDeleteFiles.filter(f =>
        f.content == DataFileContent.PositionDeletes && f.format != "PUFFIN")
      def cnt(n: Long) = Some(CounterResult.count(n))
      val metrics = CommitMetricsResult(
        totalDuration = Some(TimerResult.nanos(1, elapsedNanos)),
        attempts = cnt(attempts.toLong),
        addedDataFiles = cnt(addedFiles.size.toLong),
        removedDataFiles = cnt(removedData.size.toLong),
        totalDataFiles = cnt(dataM.map(m => (m.addedFilesCount + m.existingFilesCount).toLong).sum),
        addedDeleteFiles = cnt(addedDeleteFiles.size.toLong),
        removedDeleteFiles = cnt(removedDel.size.toLong),
        totalDeleteFiles = cnt(delM.map(m => (m.addedFilesCount + m.existingFilesCount).toLong).sum),
        addedEqualityDeleteFiles = cnt(addedEq.size.toLong),
        addedPositionalDeleteFiles = cnt(addedPos.size.toLong),
        addedDVs = cnt(addedDv.size.toLong),
        removedDVs = cnt(removedDel.count(_.format == "PUFFIN").toLong),
        addedRecords = cnt(addedFiles.map(_.recordCount).sum),
        removedRecords = cnt(removedData.map(_.recordCount).sum),
        totalRecords = cnt(dataM.map(m => m.addedRowsCount + m.existingRowsCount).sum),
        addedFilesSizeBytes = Some(CounterResult.bytes(addedFiles.map(_.fileSize).sum)),
        removedFilesSizeBytes = Some(CounterResult.bytes(removedData.map(_.fileSize).sum)),
        manifestsCreated = cnt(all.count(_.addedSnapshotId == snap.snapshotId).toLong),
        manifestsKept = cnt(all.count(_.addedSnapshotId != snap.snapshotId).toLong),
        manifestEntriesProcessed = Some(CounterResult.count(acc.entriesProcessed)))
      graft.metrics.Reporter.safe(rep, CommitReport(
        t.name, snap.snapshotId, snap.sequenceNumber, operation, metrics))
    } catch { case _: Exception => () }
  }

  /** Rebase-time conflict validation against the refreshed head (reference
    * `table/conflict_validation.go:68-860`, used `table/transaction.go:
    * 2395-2520`). All failures are non-retryable `ValidationException`s —
    * the caller's read-compute-write must re-run.
    */
  private def validateRebase(base: Table, t: Table, removedPaths: Set[String],
      check: Option[ConflictCheck]): Unit = {
    lazy val live = t.newScan.planFiles().map(_.file.path).toSet
    if (removedPaths.nonEmpty) {
      val missing = removedPaths.filterNot(live.contains)
      if (missing.nonEmpty)
        throw new ValidationException(
          s"cannot commit: ${missing.size} file(s) this commit rewrites were " +
          s"removed by a concurrent commit, e.g. ${missing.head}")
    }
    check.foreach { c =>
      val serializable = t.metadata.properties
        .getOrElse(c.isolationKey, "serializable") match {
        case "serializable" => true
        case "snapshot" => false
        case other => throw new IllegalArgumentException(
          s"invalid isolation level '$other' (${c.isolationKey})")
      }

      // data-files-exist: a pos-delete/DV commit is orphaned if a concurrent
      // commit rewrote any file it references — its positions would silently
      // stop applying to the moved rows
      if (c.referencedDataFiles.nonEmpty) {
        val gone = c.referencedDataFiles.filterNot(live.contains)
        if (gone.nonEmpty)
          throw new ValidationException(
            s"cannot commit: ${gone.size} data file(s) referenced by this " +
            s"delete were rewritten by a concurrent commit, e.g. ${gone.head}")
      }
      // serializable: no concurrently-added data may match the statement's
      // scope (an unfiltered scope is armed explicitly — see
      // serializableDataScope — so plain appends stay exempt)
      if (serializable &&
          (c.filter != Expr.AlwaysTrue || c.serializableDataScope)) {
        val matching = t.newScan.withFilter(c.filter).planFiles().map(_.file.path).toSet
        val added = matching -- c.candidatePaths -- removedPaths
        if (added.nonEmpty)
          throw new ValidationException(
            s"cannot commit: ${added.size} concurrently added file(s) match " +
            s"the operation filter ${Expr.sanitizedString(c.filter)}, " +
            s"e.g. ${added.head}")
      }

      val concurrent = concurrentSnapshotsSince(base, t)
      if (concurrent.nonEmpty) {
        // a concurrent delete file targeting `files` conflicts: DVs and
        // single-file pos-deletes match on the referenced path, multi-file
        // pos-deletes on partition overlap, eq-deletes conservatively
        // always (their predicate may cover any row)
        def noNewDeletesTargeting(files: Seq[(DataFile, Int)], what: String,
            includeEq: Boolean = true): Unit = {
          val paths = files.map(_._1.path).toSet
          val parts = files
            .map { case (f, specId) => (specId, f.partition.map(DeleteIndex.norm)) }.toSet
          addedEntriesIn(concurrent, ManifestContent.Deletes).foreach { case (snap, e, specId) =>
            val df = e.file
            val conflict = df.content match {
              case DataFileContent.EqualityDeletes => includeEq // predicate may cover any file
              case _ => df.referencedDataFile match {
                case Some(ref) => paths.contains(ref)
                case None => parts.contains(
                  (specId, df.partition.map(DeleteIndex.norm)))
              }
            }
            if (conflict)
              throw new ValidationException(
                s"cannot commit $what: concurrent snapshot ${snap.snapshotId} " +
                s"added delete file ${df.path} targeting its data files")
          }
        }
        // no-new-deletes-for-rewritten-files: committing this rewrite would
        // drop the old files the concurrent deletes target, resurrecting rows
        if (c.rewrittenFiles.nonEmpty)
          noNewDeletesTargeting(c.rewrittenFiles, "rewrite")
        // no-new-deletes-for-read-files (UPDATE/MERGE delta, both isolation
        // levels): this commit re-inserted the rows it read from these
        // files, so a concurrent delete on them has already killed a row
        // whose replacement is staged here — one of the two writes is lost
        if (c.readFiles.nonEmpty)
          noNewDeletesTargeting(c.readFiles, "row-level update")
        // dv-supersede: this commit's DVs replace any prior DV on the same
        // files — a concurrent delete there would be dropped, not merged
        if (c.dvReadFiles.nonEmpty)
          noNewDeletesTargeting(c.dvReadFiles, "deletion-vector write",
            includeEq = false)

        // serializable eq-delete scope: concurrent adds into the partitions
        // an equality delete covers would escape the delete
        if (serializable) c.eqDeleteScope.foreach { scope =>
          val scopeSet = scope.map { case (sid, p) => (sid, p.map(DeleteIndex.norm)) }.toSet
          addedEntriesIn(concurrent, ManifestContent.Data).foreach { case (snap, e, specId) =>
            val inScope = scope.isEmpty /* global/unpartitioned */ ||
              scopeSet.contains((specId, e.file.partition.map(DeleteIndex.norm)))
            if (inScope)
              throw new ValidationException(
                s"cannot commit equality delete: concurrent snapshot " +
                s"${snap.snapshotId} added data file ${e.file.path} in its scope")
          }
        }
      }
    }
  }

  /** Snapshots committed after `base`'s head along the current lineage. */
  private def concurrentSnapshotsSince(base: Table, cur: Table): Seq[Snapshot] = {
    val baseId = base.metadata.currentSnapshotId
    cur.metadata.currentSnapshotId.map { headId =>
      Inspect.ancestorsOf(cur, headId)
        .takeWhile(s => !baseId.contains(s.snapshotId))
    }.getOrElse(Nil)
  }

  /** Entries with status Added attributable to the given snapshots (mirrors
    * the reference's `forEachAddedEntry`, skipping inherited entries).
    */
  private def addedEntriesIn(snaps: Seq[Snapshot],
      content: Int): Seq[(Snapshot, ManifestEntry, Int)] =
    snaps.flatMap { s =>
      Manifests.readManifestList(s.manifestList)
        .filter(m => m.content == content && m.addedSnapshotId == s.snapshotId)
        .flatMap { m =>
          val (entries, specId) = Manifests.readManifest(m.path)
          entries.filter(e => e.status == ManifestEntryStatus.Added &&
              e.snapshotId.contains(s.snapshotId))
            .map(e => (s, e, specId))
        }
    }

  private def commitSnapshotOnce(table: Table, operation: String, addedFiles: Seq[DataFile],
      removedPaths: Set[String], addedDeleteFiles: Seq[DataFile],
      removedDeleteKeys: Set[(String, Option[Long])] = Set.empty,
      extraProperties: Map[String, String] = Map.empty,
      extraSummary: Map[String, String] = Map.empty,
      acc: CommitAccumulator = new CommitAccumulator,
      toBranch: Option[String] = None,
      globalDeleteSpec: Boolean = false,
      stageOnly: Boolean = false): Table = {
    val meta = table.metadata
    val newSeq = meta.lastSequenceNumber + 1
    val snapshotId = math.abs(UUID.randomUUID().getLeastSignificantBits)
    val schema = meta.schema
    val spec = meta.spec
    val metadataDir = Locations.metadataPath(meta.location, meta.properties)
    val partType = spec.partitionType(schema)

    // Branch-targeted commit (WAP staging): the parent is the BRANCH head,
    // not main, and only the branch ref moves at the end. A branch that
    // doesn't exist yet is created from the current table state, matching
    // engine behavior for branch writes.
    val branch = toBranch.getOrElse("main")
    val parentSnapshotId: Option[Long] =
      if (branch == "main") meta.currentSnapshotId
      else meta.refs.get(branch).map(_.snapshotId).orElse(meta.currentSnapshotId)

    val previousManifests: Seq[ManifestFile] = parentSnapshotId
      .flatMap(meta.snapshotById)
      .map(s => Manifests.readManifestList(s.manifestList)).getOrElse(Nil)

    var manifests = Seq.newBuilder[ManifestFile]

    // one deletion vector per data file (spec v3): an added DV replaces the
    // base's live DV on the same file. Nothing reads the old one again, but
    // a live entry would keep its puffin file through every compaction and
    // expiry — so it leaves in this commit, whichever writer added the DV
    val dvTargets: Set[String] = addedDeleteFiles.filter(_.format == "PUFFIN")
      .flatMap(_.referencedDataFile).map(graft.io.FileIO.canonical).toSet
    val filterDeletes = removedDeleteKeys.nonEmpty || dvTargets.nonEmpty

    // carry forward / filter previous manifests
    if (removedPaths.isEmpty && !filterDeletes) {
      manifests ++= previousManifests
    } else {
      previousManifests.foreach { m =>
        val isData = m.content == ManifestContent.Data
        def keep(e: ManifestEntry): Boolean =
          if (isData) !removedPaths.contains(e.file.path)
          else !removedDeleteKeys.contains((e.file.path, e.file.contentOffset)) &&
            !(e.file.format == "PUFFIN" && e.file.referencedDataFile.exists(r =>
              dvTargets(graft.io.FileIO.canonical(r))))
        if ((isData && removedPaths.isEmpty) || (!isData && !filterDeletes)) {
          manifests += m
        } else {
          // materialize list-level inherited first_row_id (field 520) as
          // explicit per-file ids: the rewritten manifest loses its source
          // list row, and the spec requires existing entries KEEP row ids
          val (entries, _) = Manifests.readManifest(m.path,
            if (isData) m.firstRowId else None)
          acc.entriesProcessed += entries.size
          val live = entries.filter(e => e.status != ManifestEntryStatus.Deleted && keep(e))
          val dropped = entries.filter(e => e.status != ManifestEntryStatus.Deleted && !keep(e))
          if (isData) acc.removedData ++= dropped.map(_.file)
          else acc.removedDeletes ++= dropped.map(_.file)
          if (live.size == entries.size) manifests += m
          else if (live.nonEmpty) {
            val kept = live.map(e => e.copy(status = ManifestEntryStatus.Existing,
              dataSequence = Some(e.dataSequence.getOrElse(m.sequenceNumber))))
            // rewrite with the manifest's OWN spec: after spec evolution a
            // current-spec rewrite would zip-truncate/garble old partition
            // tuples and mislabel the spec id, corrupting pruning + delete
            // matching for the surviving files
            val mSpec = meta.specById(m.specId).getOrElse(spec)
            val suffix = if (isData) "m" else "d"
            val p = s"$metadataDir/${UUID.randomUUID()}-$suffix.avro"
            val len = Manifests.writeManifest(p, kept, schema, mSpec, snapshotId,
              content = m.content, codec = Manifests.codecFor(meta.properties),
          formatVersion = meta.formatVersion)
            manifests += ManifestFile(p, len, m.specId, m.content,
              m.sequenceNumber, kept.flatMap(_.dataSequence).foldLeft(Long.MaxValue)(_ min _),
              snapshotId, 0, kept.size, entries.size - live.size,
              0L, kept.map(_.file.recordCount).sum, 0L,
              partitionSummaries(kept.map(_.file), mSpec.partitionType(schema)))
          }
          // fully-removed manifest: dropped entirely
        }
      }
    }

    // v3 row lineage: every added data file gets a contiguous first_row_id
    // block carved from metadata next-row-id (spec field 142); readers
    // synthesize _row_id = first_row_id + position
    var rowIdCursor = meta.nextRowId
    val lineageBlockStart = rowIdCursor
    // Lineage-preserving rewrites still receive fresh blocks here — that
    // "wastes" id space but can't violate uniqueness, because the read rule
    // is explicit-column-wins: rows in such files carry their ORIGINAL ids
    // as a materialized column and the block is ignored row-wise. Java's
    // ManifestListWriter.V3Writer uses the same accounting (reference
    // snapshot_producers.go:1224-1231), and keeping first_row_id defined is
    // what lets a SECOND compaction of those files still detect lineage.
    val addedWithLineage = addedFiles.map { f =>
      if (f.content == DataFileContent.Data) {
        val assigned = f.copy(firstRowId = Some(rowIdCursor))
        rowIdCursor += f.recordCount
        assigned
      } else f
    }

    if (addedWithLineage.nonEmpty) {
      val entries = addedWithLineage.map(f => ManifestEntry(ManifestEntryStatus.Added,
        Some(snapshotId), Some(newSeq), Some(newSeq), f))
      val p = s"$metadataDir/${UUID.randomUUID()}-m.avro"
      val len = Manifests.writeManifest(p, entries, schema, spec, snapshotId,
        codec = Manifests.codecFor(meta.properties),
          formatVersion = meta.formatVersion)
      manifests += ManifestFile(p, len, spec.specId, ManifestContent.Data,
        newSeq, newSeq, snapshotId, entries.size, 0, 0,
        addedWithLineage.map(_.recordCount).sum, 0L, 0L,
        partitionSummaries(addedWithLineage, partType),
        // spec field 520: the manifest-list row records the block start so
        // a reader that drops per-file ids (or another engine's inheriting
        // reader) reconstructs the same assignment
        firstRowId = Some(lineageBlockStart))
    }

    // Global delete files (whole-table pos/eq-deletes, DV puffins) are
    // recorded under an UNPARTITIONED spec: a delete manifest carrying the
    // table's partitioned spec would scope each delete file to one
    // partition tuple, and a null-filled tuple matches only null-partition
    // data — the delete would silently apply to NOTHING. The unpartitioned
    // spec is reused if the metadata already has one, else added in this
    // same commit (spec-legal: delete manifests may use any registered
    // spec).
    val (deleteSpec, addedSpecs) =
      if (!globalDeleteSpec || spec.isUnpartitioned) (spec, Nil)
      else meta.partitionSpecs.find(_.fields.isEmpty) match {
        case Some(s) => (s, Nil)
        case None =>
          val s = graft.format.PartitionSpec(
            meta.partitionSpecs.map(_.specId).max + 1, Nil)
          (s, Seq(s))
      }
    if (addedDeleteFiles.nonEmpty) {
      val entries = addedDeleteFiles.map(f => ManifestEntry(ManifestEntryStatus.Added,
        Some(snapshotId), Some(newSeq), Some(newSeq), f))
      val p = s"$metadataDir/${UUID.randomUUID()}-d.avro"
      val len = Manifests.writeManifest(p, entries, schema, deleteSpec, snapshotId,
        content = ManifestContent.Deletes, codec = Manifests.codecFor(meta.properties),
          formatVersion = meta.formatVersion)
      manifests += ManifestFile(p, len, deleteSpec.specId, ManifestContent.Deletes,
        newSeq, newSeq, snapshotId, entries.size, 0, 0,
        addedDeleteFiles.map(_.recordCount).sum, 0L, 0L,
        partitionSummaries(addedDeleteFiles, deleteSpec.partitionType(schema)))
    }

    val manifestListPath = s"$metadataDir/snap-$snapshotId.avro"
    val allManifests = mergeAppendManifests(meta, manifests.result(), snapshotId,
      newSeq, metadataDir, acc)
    Manifests.writeManifestList(manifestListPath, allManifests, snapshotId,
      parentSnapshotId, newSeq, codec = Manifests.codecFor(meta.properties),
          formatVersion = meta.formatVersion)

    val now = System.currentTimeMillis()
    // spec summary keys (reference `table/snapshots.go:61-88`); removed
    // files/records come from the manifest entries actually dropped above
    val removedData = acc.removedData.result()
    val removedDeletes = acc.removedDeletes.result()
    val dataManifests = allManifests.filter(_.content == ManifestContent.Data)
    val deleteManifests = allManifests.filter(_.content == ManifestContent.Deletes)

    // per-content delete splits + incremental totals (reference
    // `snapshots.go:109-180,536-560` updateMetrics/updateSnapshotSummaries):
    // totals roll forward from the PARENT snapshot's summary — O(1) per
    // commit, never a manifest walk; split keys follow setWhenPositive
    // (written only when > 0, the wire convention)
    def deleteSplits(fs: Seq[DataFile]): (Long, Long, Long, Long) = {
      val pos = fs.filter(_.content == DataFileContent.PositionDeletes)
      val eq = fs.filter(_.content == DataFileContent.EqualityDeletes)
      (pos.size.toLong, pos.map(_.recordCount).sum,
        eq.size.toLong, eq.map(_.recordCount).sum)
    }
    val (addPosF, addPos, addEqF, addEq) = deleteSplits(addedDeleteFiles)
    val (remPosF, remPos, remEqF, remEq) = deleteSplits(removedDeletes)
    val parentSummary: Map[String, String] = parentSnapshotId
      .flatMap(meta.snapshotById).map(_.summary).getOrElse(Map.empty)
    def parentTotal(k: String): Long =
      parentSummary.get(k).flatMap(_.toLongOption).getOrElse(0L)
    val addedBytesAll = addedFiles.map(_.fileSize).sum +
      addedDeleteFiles.map(_.fileSize).sum
    val removedBytesAll = removedData.map(_.fileSize).sum +
      removedDeletes.map(_.fileSize).sum
    def whenPositive(k: String, v: Long): Map[String, String] =
      if (v > 0) Map(k -> v.toString) else Map.empty

    // changed-partition rollup (reference `snapshots.go:448-533`
    // SnapshotSummaryCollector): per-partition deltas keyed by the hive
    // path, emitted as `partitions.<path>` only while the changed set stays
    // under write.summary.partition-limit — a 10⁵-partition commit records
    // just the count, never 10⁵ summary entries in metadata.json
    val partLimit = math.max(0, meta.properties
      .get("write.summary.partition-limit").flatMap(_.toIntOption).getOrElse(0))
    val partMetrics = scala.collection.mutable.Map
      .empty[String, scala.collection.mutable.Map[String, Long]]
    def bump(path: String, key: String, v: Long): Unit = if (v != 0) {
      val m = partMetrics.getOrElseUpdate(path,
        scala.collection.mutable.Map.empty)
      m(key) = m.getOrElse(key, 0L) + v
    }
    // only files carrying the CURRENT spec's tuple arity roll up (files on
    // retired specs would render a wrong path through this spec)
    def partPathOf(f: DataFile): Option[String] =
      if (f.partition.isEmpty || f.partition.length != partType.fields.length)
        None
      else Some(spec.partitionToPath(f.partition, schema))
    addedFiles.foreach(f => partPathOf(f).foreach { p =>
      bump(p, "added-data-files", 1)
      bump(p, "added-records", f.recordCount)
      bump(p, "added-files-size", f.fileSize)
    })
    addedDeleteFiles.foreach(f => partPathOf(f).foreach { p =>
      bump(p, "added-delete-files", 1)
      bump(p, "added-files-size", f.fileSize)
      if (f.content == DataFileContent.PositionDeletes)
        bump(p, "added-position-deletes", f.recordCount)
      else bump(p, "added-equality-deletes", f.recordCount)
    })
    removedData.foreach(f => partPathOf(f).foreach { p =>
      bump(p, "deleted-data-files", 1)
      bump(p, "deleted-records", f.recordCount)
      bump(p, "removed-files-size", f.fileSize)
    })
    removedDeletes.foreach(f => partPathOf(f).foreach { p =>
      bump(p, "removed-delete-files", 1)
      bump(p, "removed-files-size", f.fileSize)
    })
    val partitionProps: Map[String, String] =
      whenPositive("changed-partition-count", partMetrics.size.toLong) ++ (
        if (partMetrics.nonEmpty && partMetrics.size <= partLimit)
          partMetrics.map { case (p, m) =>
            s"partitions.$p" ->
              m.toSeq.map { case (k, v) => s"$k=$v" }.sorted.mkString(",")
          }.toMap
        else Map.empty)

    val summary = Map(
      "operation" -> operation,
      "added-data-files" -> addedFiles.size.toString,
      "added-records" -> addedFiles.map(_.recordCount).sum.toString,
      "added-files-size" -> addedFiles.map(_.fileSize).sum.toString,
      "added-delete-files" -> addedDeleteFiles.size.toString,
      "deleted-data-files" -> removedPaths.size.toString,
      "deleted-records" -> removedData.map(_.recordCount).sum.toString,
      "removed-files-size" -> removedData.map(_.fileSize).sum.toString,
      "removed-delete-files" -> removedDeletes.size.toString,
      "total-data-files" -> dataManifests
        .map(m => m.addedFilesCount + m.existingFilesCount).sum.toString,
      "total-delete-files" -> deleteManifests
        .map(m => m.addedFilesCount + m.existingFilesCount).sum.toString,
      "total-records" -> dataManifests
        .map(m => m.addedRowsCount + m.existingRowsCount).sum.toString,
      "total-files-size" ->
        (parentTotal("total-files-size") + addedBytesAll - removedBytesAll).toString,
      "total-position-deletes" ->
        (parentTotal("total-position-deletes") + addPos - remPos).toString,
      "total-equality-deletes" ->
        (parentTotal("total-equality-deletes") + addEq - remEq).toString) ++
      whenPositive("added-position-delete-files", addPosF) ++
      whenPositive("added-position-deletes", addPos) ++
      whenPositive("added-equality-delete-files", addEqF) ++
      whenPositive("added-equality-deletes", addEq) ++
      whenPositive("removed-position-delete-files", remPosF) ++
      whenPositive("removed-position-deletes", remPos) ++
      whenPositive("removed-equality-delete-files", remEqF) ++
      whenPositive("removed-equality-deletes", remEq) ++
      partitionProps ++ extraSummary
    // v3 row lineage on the snapshot wire: spec-strict readers REQUIRE
    // first-row-id + added-rows on every v3 snapshot (Java rejects
    // otherwise); a delete-only commit legally records added-rows 0 with
    // the unchanged cursor
    val lineage: (Option[Long], Option[Long]) =
      if (meta.formatVersion >= 3)
        (Some(lineageBlockStart), Some(rowIdCursor - lineageBlockStart))
      else (None, None)
    val snap = Snapshot(snapshotId, parentSnapshotId, newSeq, now,
      manifestListPath, summary, Some(meta.currentSchemaId),
      firstRowId = lineage._1, addedRows = lineage._2)

    // moving a ref keeps its retention settings (min-snapshots-to-keep etc.)
    val movedRef = meta.refs.get(branch) match {
      case Some(r) => r.copy(snapshotId = snapshotId)
      case None    => SnapshotRef(snapshotId, "branch")
    }
    val withProps = meta.copy(properties = meta.properties ++ extraProperties)
    val (mlog, mdropped) =
      MetadataLogPolicy.appended(withProps, table.metadataPath, now)
    val base = withProps.copy(
      lastSequenceNumber = newSeq,
      nextRowId = rowIdCursor,
      lastUpdatedMs = now,
      partitionSpecs = meta.partitionSpecs ++ addedSpecs,
      snapshots = meta.snapshots :+ snap,
      metadataLog = mlog,
      refs = meta.refs.updated(branch, movedRef))
    // only a main-branch commit moves the table's current pointer/history;
    // a stage-only (wap.id) commit records the snapshot without moving ANY
    // ref — invisible to every reader until cherry-picked/published
    val updated =
      if (stageOnly) base.copy(refs = meta.refs)
      else if (branch == "main") base.copy(
        currentSnapshotId = Some(snapshotId),
        snapshotLog = meta.snapshotLog :+ SnapshotLogEntry(snapshotId, now))
      else base

    table.catalog.commit(table.name, meta, updated, table.currentVersion,
      Some(table.metadataPath))
    MetadataLogPolicy.deleteTrimmed(updated, mdropped)
    table.refresh()
  }

  /** Commit-time manifest bin-packing (reference
    * `table/snapshot_producers.go:359-527`): without it every append adds one
    * manifest forever and scan planning degrades linearly with commit count.
    * When the small-data-manifest population reaches
    * `commit.manifest.min-count-to-merge`, small manifests (under
    * `commit.manifest.target-size-bytes`) bin-pack per spec into merged
    * manifests; large ones and delete manifests carry through untouched.
    * Entries keep resolved sequence numbers, so delete applicability and
    * time-travel semantics are unchanged.
    */
  private def mergeAppendManifests(meta: TableMetadata, all: Seq[ManifestFile],
      snapshotId: Long, newSeq: Long, metadataDir: String,
      acc: CommitAccumulator = new CommitAccumulator): Seq[ManifestFile] = {
    val props = meta.properties
    val enabled = props.getOrElse("commit.manifest-merge.enabled", "true").toBoolean
    val minCount = props.get("commit.manifest.min-count-to-merge").map(_.toInt).getOrElse(100)
    val targetSize = props.get("commit.manifest.target-size-bytes").map(_.toLong)
      .getOrElse(8L * 1024 * 1024)
    if (!enabled) return all
    val (dataM, deleteM) = all.partition(_.content == ManifestContent.Data)
    val (small, large) = dataM.partition(_.length < targetSize)
    if (small.size < minCount) return all

    val schema = meta.schema
    val merged = small.groupBy(_.specId).toSeq.sortBy(_._1).flatMap { case (specId, ms) =>
      val mSpec = meta.specById(specId).getOrElse(PartitionSpec.Unpartitioned)
      val partType = mSpec.partitionType(schema)
      // greedy size-based bins: pack manifests until the bin reaches target
      val bins = Seq.newBuilder[Seq[ManifestFile]]
      var bin = Seq.newBuilder[ManifestFile]
      var binSize = 0L
      ms.foreach { m =>
        if (binSize > 0 && binSize + m.length > targetSize) {
          bins += bin.result(); bin = Seq.newBuilder; binSize = 0L
        }
        bin += m; binSize += m.length
      }
      val lastBin = bin.result()
      if (lastBin.nonEmpty) bins += lastBin
      bins.result().flatMap { group =>
        if (group.size == 1) Some(group.head)
        else {
          // Parallel reads, mirroring the reference's worker pool
          // (`table/snapshot_producers.go:359-527`).
          import scala.collection.parallel.CollectionConverters._
          val entries = group.par.map { m =>
            // merged manifests must carry row ids explicitly: each source's
            // list-level first_row_id inheritance dies with its list row
            val (es, _) = Manifests.readManifest(m.path, m.firstRowId)
            // Entries appended by THIS commit keep status Added so that
            // incremental/CDC reads (Incremental.appendsBetween) still see
            // them (reference `snapshot_producers.go` createManifest keeps
            // ADDED when snapshotID == current); older entries flip to
            // Existing with their sequence number resolved.
            es.filter(_.status != ManifestEntryStatus.Deleted).map { e =>
              val seq = Some(e.dataSequence.getOrElse(m.sequenceNumber))
              if (e.snapshotId.contains(snapshotId)) e.copy(dataSequence = seq)
              else e.copy(status = ManifestEntryStatus.Existing, dataSequence = seq)
            }
          }.seq.flatten
          acc.entriesProcessed += entries.size
          if (entries.isEmpty) None // all-filtered bin: nothing to write
          else {
            val (added, existing) =
              entries.partition(_.status == ManifestEntryStatus.Added)
            val p = s"$metadataDir/${UUID.randomUUID()}-m.avro"
            val len = Manifests.writeManifest(p, entries, schema, mSpec, snapshotId,
              codec = Manifests.codecFor(meta.properties),
          formatVersion = meta.formatVersion)
            Some(ManifestFile(p, len, specId, ManifestContent.Data,
              newSeq, entries.flatMap(_.dataSequence).foldLeft(Long.MaxValue)(_ min _),
              snapshotId, added.size, existing.size, 0,
              added.map(_.file.recordCount).sum, existing.map(_.file.recordCount).sum, 0L,
              partitionSummaries(entries.map(_.file), partType)))
          }
        }
      }
    }
    large ++ merged ++ deleteM
  }

  def partitionSummaries(files: Seq[DataFile], partType: StructT): Seq[FieldSummary] = {
    if (partType.fields.isEmpty) return Nil
    partType.fields.zipWithIndex.map { case (nf, i) =>
      val values = files.map(_.partition.lift(i).orNull)
      val nonNull = values.filter(_ != null)
      val containsNull = values.exists(_ == null)
      if (nonNull.isEmpty) FieldSummary(containsNull, None, None, None)
      else {
        val lower = nonNull.reduce((a, b) => if (Literals.compare(nf.fieldType, a, b) <= 0) a else b)
        val upper = nonNull.reduce((a, b) => if (Literals.compare(nf.fieldType, a, b) >= 0) a else b)
        FieldSummary(containsNull, Some(false),
          Some(Literals.encode(nf.fieldType, lower)),
          Some(Literals.encode(nf.fieldType, upper)))
      }
    }
  }

  private[graft] def listParquet(dir: String): Seq[String] =
    graft.io.FileIO.listFilesRecursive(dir).map(_.path).filter(_.endsWith(".parquet"))

  private def moveFile(src: String, target: String): Unit =
    graft.io.FileIO.move(src, target)

  private def deleteTree(dir: String): Unit = {
    graft.io.FileIO.deleteTree(dir)
    ()
  }
}

/** Non-retryable commit-time conflict: the table changed in a way that
  * invalidates this commit's base assumptions (reference
  * `table/conflict_validation.go`).
  */
final class ValidationException(msg: String) extends RuntimeException(msg)
