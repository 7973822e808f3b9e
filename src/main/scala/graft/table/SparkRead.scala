package graft.table

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

import graft.core._
import graft.format.DataFileContent

/** Executes a planned scan as a Spark DataFrame (reference read dataflow
  * `table/arrow_scanner.go` §2.3).
  *
  * [[read]] plans once and hands the tasks to [[readPlanned]], the one
  * entry for every read of a planned task set: scans, Writer rewrites,
  * compaction and the changelog. [[ReadRoute.choose]] picks the engine:
  *
  *  - the per-task route (every parquet read with a bounded
  *    equality-delete backlog): the planned tasks become a DSv2 relation
  *    ([[graft.sources.SpjPlannedTable]]) served by
  *    [[graft.sources.SpjScan]]'s readers, the same engine as the SQL
  *    catalog. Each task reads its data file with the table read-schema
  *    carrying `parquet.field.id` metadata (ID-based column resolution
  *    inside Spark's parquet reader), or, for an imported file without
  *    field ids, by the table's name mapping with its identity-partition
  *    values from the manifest. It drops deleted rows as it reads: DV
  *    bitmaps, positional-delete sets and equality-key sets come from
  *    executor LRU caches, sequence-scoped by the planner.
  *  - [[readTasks]], the fallback (non-parquet files, oversized
  *    equality-delete backlogs; an import's files without field ids still
  *    read per task, [[readOffRoute]]): positional deletes become a
  *    left-anti join on (file, `_metadata.row_index`), DVs a per-file bitmap
  *    filter, and equality deletes null-safe left-anti joins — shuffling
  *    joins, never in-memory hash sets, so an unbounded backlog stays
  *    readable.
  *
  * Either way projection, the residual row filter (pushed into the parquet
  * reader for row-group pruning) and the limit are Catalyst operators above
  * the scan.
  */
object SparkRead {

  def configure(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    // a requested field id absent from a file reads NULL — the Iceberg
    // absent-column semantic (defaults fill afterwards). Also what lets the
    // lineage read request the reserved _row_id id against files that never
    // materialized it.
    spark.conf.set("spark.sql.parquet.fieldId.read.ignoreMissing", "true")
    // shredded-layout variant interop: files written with the spec's
    // typed_value shredding (by us or another engine) must reconstruct into
    // VariantType transparently (default true; pinned for robustness)
    spark.conf.set("spark.sql.variant.allowReadingShredded", "true")
    // KMS reachability for encrypted tables (no-op when none configured)
    graft.encryption.ParquetEncryption.configureSession(spark)
  }

  def read(spark: SparkSession, scan: Scan): DataFrame = {
    configure(spark)
    // vended table credentials (REST catalogs): resolved fresh here, then
    // threaded to every distributed read as per-scan options
    val ioOptions = scan.table.refreshIoCredentials()
    val tasks = scan.planFiles()
    val schema = scan.readSchema
    val df = readPlanned(spark, scan.table, tasks, schema, scan.rowLineage, ioOptions)
    project(applyResidual(df, scan), scan, schema)
  }

  /** Read a planned task set with its MoR deletes applied, through the
    * engine [[ReadRoute.choose]] picks for it. `tasks` may be any subset of
    * one snapshot's plan (a rewrite group, one side of a changelog);
    * `schema` names the columns. Rewrites and compaction must read this way,
    * never raw parquet, or already-deleted rows would resurrect in the
    * rewritten files.
    */
  def readPlanned(spark: SparkSession, table: Table, tasks: Seq[FileScanTask],
      schema: IcebergSchema, rowLineage: Boolean = false,
      ioOptions: Map[String, String] = Map.empty): DataFrame = {
    configure(spark)
    if (tasks.nonEmpty && ReadRoute.choose(spark, tasks, ioOptions).route == ReadRoute.PerTask)
      readPerTask(spark, table, tasks, schema, rowLineage, ioOptions)
    else readOffRoute(spark, table, tasks, schema, rowLineage, ioOptions)
  }

  private def readPerTask(spark: SparkSession, table: Table, tasks: Seq[FileScanTask],
      schema: IcebergSchema, rowLineage: Boolean,
      ioOptions: Map[String, String]): DataFrame =
    withUnknownColumns(schema) { stored =>
      org.apache.spark.sql.GraftSqlShim.readV2(spark, new graft.sources.SpjPlannedTable(
        table, stored, tasks, rowLineage, ioOptions))
    }

  /** A task set [[ReadRoute.choose]] sends off the per-task route, for
    * this and [[graft.sources.SpjAntiJoinScan]]: the anti-join pipeline
    * ([[readTasks]]) reads it, but for an import's parquet files without
    * field ids ([[ReadRoute.withoutFieldIds]]), which only the per-task
    * readers resolve through the name mapping. The two union by name.
    */
  private[graft] def readOffRoute(spark: SparkSession, table: Table,
      tasks: Seq[FileScanTask], schema: IcebergSchema, rowLineage: Boolean,
      ioOptions: Map[String, String]): DataFrame = {
    val mapped = ReadRoute.withoutFieldIds(spark, table, tasks)
    if (mapped.isEmpty) readTasks(spark, tasks, schema, rowLineage, ioOptions)
    else {
      val perTask = readPerTask(spark, table, mapped, schema, rowLineage, ioOptions)
      val rest = tasks.filterNot(mapped.toSet)
      if (rest.isEmpty) perTask
      else readTasks(spark, rest, schema, rowLineage, ioOptions).unionByName(perTask)
    }
  }

  /** The (`_file`, `_pos`) of every live row of `tasks` that matches
    * `filter` — what a merge-on-read delete turns into delete files. Always
    * read by the per-task readers ([[graft.sources.SpjPlannedTable]]),
    * whatever [[ReadRoute.choose]] would pick for a plain read: they yield
    * each file's manifest path, resolve a name-mapped file without field
    * ids through the mapping, and drop rows deleted already, so those never
    * match again. Non-parquet files fail there with a plain message.
    */
  private[table] def matchedPositions(spark: SparkSession, table: Table,
      tasks: Seq[FileScanTask], filter: Expr,
      ioOptions: Map[String, String]): DataFrame = {
    import graft.sources.SpjTable.{FileColumnName, PosColumnName}
    val stored = table.schema.copy(fields =
      table.schema.fields.filterNot(_.fieldType == graft.core.IcebergTypes.UnknownT))
    org.apache.spark.sql.GraftSqlShim.readV2(spark, new graft.sources.SpjPlannedTable(
        table, stored, tasks, rowLineage = false, ioOptions))
      .filter(Expr.toColumn(filter))
      .select(col(FileColumnName), col(PosColumnName))
  }

  /** v3 `unknown`-typed columns are never stored in data files (spec:
    * always-null forward-compat placeholder, reference types.go:903): read
    * the stored columns, then append the unknown ones as null columns.
    */
  private def withUnknownColumns(schema: IcebergSchema)(
      readStored: IcebergSchema => DataFrame): DataFrame = {
    val (unknown, stored) =
      schema.fields.partition(_.fieldType == graft.core.IcebergTypes.UnknownT)
    val df = readStored(if (unknown.isEmpty) schema else schema.copy(fields = stored))
    unknown.foldLeft(df)((d, f) => d.withColumn(f.name, lit(null)))
  }

  /** The anti-join pipeline: read a set of scan tasks with their MoR
    * deletes applied as distributed joins. Reached through [[readOffRoute]]
    * (the fallback of [[readPlanned]] and [[graft.sources.SpjAntiJoinScan]])
    * and by callers that hold planned tasks but no `Table` (REST-planned
    * scans).
    * Columns resolve by field id (parquet) or by name (ORC); a parquet file
    * without field ids is the per-task route's to read, through the table's
    * name mapping ([[readOffRoute]]). An empty task set reads as an empty
    * frame of the same columns.
    *
    * `ioOptions` are per-scan storage options (typically REST-vended plan
    * credentials resolved through [[graft.io.PlanScopedCredentials]]): they
    * ride as Spark read options, which file sources fold into the scan's
    * Hadoop configuration, so credentials reach the executor-side readers
    * without mutating session state — two concurrent scans with different
    * vended credentials never collide. Puffin DV blobs are opened through
    * [[graft.io.FileIO]], which applies the same credentials via its
    * prefix-scoped overlay registry.
    */
  private[graft] def readTasks(spark: SparkSession, tasks: Seq[FileScanTask],
      schema: IcebergSchema,
      rowLineage: Boolean = false,
      ioOptions: Map[String, String] = Map.empty,
      residual: graft.core.Expr = graft.core.Expr.AlwaysTrue): DataFrame = {
    configure(spark)
    val full = withUnknownColumns(schema) { storedSchema =>
      readStoredTasks(spark, tasks, storedSchema, rowLineage, ioOptions)
    }
    // residual ROW filter (spec fileScanTask residual-filter semantics):
    // planning pruned FILES; matching files still carry non-matching rows.
    // Lowered to a Catalyst Column so it pushes into the parquet scan.
    if (residual == graft.core.Expr.AlwaysTrue) full
    else full.filter(graft.core.Expr.toColumn(residual))
  }

  private def readStoredTasks(spark: SparkSession, tasks: Seq[FileScanTask],
      storedSchema: IcebergSchema, rowLineage: Boolean,
      ioOptions: Map[String, String]): DataFrame = {
    val readSchema: StructType = SchemaBridge.toSpark(storedSchema)

    // group tasks by identical (parquet pos-delete set, eq-delete set). DVs
    // are deliberately NOT part of the key: v3 gives each data file its own
    // DV blob, so keying on DV identity would degenerate to one scan per
    // data file (plan size O(files)). Instead DVs apply inside the group via
    // a broadcast per-file metadata map (reference arrow_scanner.go:533-618
    // applies DVs per-file inside one pipeline, never per-plan).
    // ... plus file FORMAT: ORC and parquet files can't share one scan node
    val groups: Seq[Seq[FileScanTask]] =
      tasks.groupBy(t => (
        t.posDeletes.filter(_.format != "PUFFIN").map(d => (d.path, d.contentOffset)).toSet,
        t.eqDeletes.map(_._1.path).toSet,
        t.file.format.toUpperCase)).values.toSeq

    // no tasks, no groups: an empty frame of the columns a read returns
    groups.map(readGroup(spark, _, storedSchema, readSchema, rowLineage, ioOptions))
      .reduceOption(_ unionByName _).getOrElse {
        val lineage =
          if (rowLineage) SchemaBridge.LineageCols.map(c =>
            StructField(c._1, org.apache.spark.sql.types.LongType))
          else Nil
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(readSchema.fields ++ lineage))
      }
  }

  private def readGroup(spark: SparkSession, groupTasks: Seq[FileScanTask],
      schema: IcebergSchema, readSchema: StructType, rowLineage: Boolean,
      ioOptions: Map[String, String]): DataFrame = {
    // lineage-preserving rewrites materialize _row_id /
    // _last_updated_sequence_number as REAL parquet columns under the
    // reserved field ids; request them so explicit values win over
    // synthesis (files without the columns read null — the synth path)
    val lineageScanSchema =
      if (!rowLineage) readSchema
      else StructType(readSchema.fields ++ SchemaBridge.LineageCols.map {
        case (n, id) => StructField(n, org.apache.spark.sql.types.LongType,
          nullable = true, new org.apache.spark.sql.types.MetadataBuilder()
            .putLong(SchemaBridge.FieldIdKey, id.toLong).build())
      })
    // ORC data files (written by engines whose ORC path we interop with;
    // the reference's own scanner is parquet-only — `arrow_scanner.go:1008`
    // dispatches no other format): read by NAME against the table schema.
    // Value-based features work unchanged (residuals, eq-delete
    // anti-joins); POSITION-based features need Spark's `_metadata
    // .row_index`, which the ORC source does not provide — reject loudly
    // rather than fabricate positions.
    val isOrc = groupTasks.head.file.format.equalsIgnoreCase("ORC")
    if (isOrc) {
      val posish = groupTasks.exists(_.posDeletes.nonEmpty)
      require(!posish && !rowLineage,
        "position-based features (positional deletes, deletion vectors, " +
          "row lineage) are not supported over ORC data files")
    }
    // parquet reads go through MetadataRead: file statuses come from the
    // manifests' (path, file_size_in_bytes), so no per-scan listing job
    // re-stats the planned files (an O(files) pass per query otherwise)
    var df =
      if (isOrc) spark.read.options(ioOptions).schema(readSchema)
        .orc(groupTasks.map(_.file.path): _*)
      else MetadataRead.parquet(spark,
        groupTasks.map(t => (t.file.path, t.file.fileSize)), lineageScanSchema, ioOptions)

    // DVs span the whole group (one blob per data file); parquet
    // pos-deletes are identical across the group by construction of the key
    val dvDeletes = groupTasks.flatMap(_.posDeletes.filter(_.format == "PUFFIN"))
      .distinctBy(d => (d.path, d.contentOffset))
    val posDeletes = groupTasks.head.posDeletes.filter(_.format != "PUFFIN")
    val eqDeletes = groupTasks.head.eqDeletes
    // eq-deletes anti-join on VALUE columns — they don't need positions,
    // which also keeps them working over ORC files (no row_index there)
    val needsPos = dvDeletes.nonEmpty || posDeletes.nonEmpty || rowLineage
    if (needsPos) {
      df = df.withColumn("__file", normalizePath(col("_metadata.file_path")))
        .withColumn("__pos", col("_metadata.row_index"))
    }

    if (posDeletes.nonEmpty) {
      // no broadcast hint: delete sets are unbounded, so let AQE pick the
      // join strategy from the delete side's actual size at runtime.
      // Null file_path/pos rows mean the delete file is corrupt — an
      // anti-join would silently NO-OP them and resurrect the rows they
      // should delete, so fail closed (reference
      // TestReadDeletesRejectsNullPos / RejectsMissingFilePath).
      // the guard rides INSIDE the projected join key: a bare filter
      // below the join gets outflanked by the inferred IsNotNull
      // constraints on the equi-join keys, which push to the parquet scan
      // and drop the corrupt row before any check sees it
      val guardedPos = when(col("pos").isNull || col("file_path").isNull,
        raise_error(lit("corrupt positional delete file: null file_path or pos"))
          .cast("long"))
        .otherwise(col("pos"))
      // explicit spec schema (file_path, pos): skips the inference footer
      // read; missing columns surface as nulls and trip the corrupt-file
      // guard exactly like inference-era analysis failures did
      val delDf = MetadataRead.parquet(spark,
        posDeletes.map(d => (d.path, d.fileSize)), PosDeleteSchema, ioOptions)
        .select(normalizePath(col("file_path")).as("__file"),
          guardedPos.as("__pos"))
      df = df.join(delDf, Seq("__file", "__pos"), "left_anti")
    }

    if (dvDeletes.nonEmpty) {
      // deletion vectors: broadcast only blob METADATA (file -> puffin
      // path/offset/length); each executor reads and caches the bitmaps
      // for the files it scans (reference arrow_scanner.go:533-618 reads
      // DVs in the per-task pipeline). Driver never holds bitmap bytes.
      val dvMeta: Map[String, (String, Long, Long)] = dvDeletes.map(d =>
        graft.io.FileIO.canonical(d.referencedDataFile.get) ->
          ((d.path, d.contentOffset.get, d.contentSize.get))).toMap
      val bc = spark.sparkContext.broadcast(dvMeta)
      val opts = ioOptions // serialized with the closure: executors need
      // the vended credentials to open puffin blobs, not just data files
      val keep = udf((file: String, pos: Long) =>
        bc.value.get(file).forall { case (p, off, len) =>
          !DvCache.get(p, off, len, opts).contains(pos)
        })
      df = df.filter(keep(col("__file"), col("__pos")))
    }

    // equality deletes: anti-join per distinct equality-id set, scoped by
    // sequence number (data rows in this group all share applicability
    // because grouping is by delete-set). Join keys use null-safe equality:
    // Iceberg eq-deletes match null = null (reference canonical key
    // encoding, table/equality_delete_reader.go:352-527), which a plain
    // equi-join would silently drop.
    eqDeletes.groupBy(_._1.equalityIds).foreach { case (eqIds, dels) =>
      val keyFields = eqIds.map(schema.idToField)
      val keyCols = keyFields.map(_.name)
      // explicit key schema, by NAME without field ids (delete files may
      // lack them): no inference footer read, no listing job. Required
      // keys stay non-nullable, so a delete file lacking the column fails
      // the read instead of matching nothing (as the per-task readers do)
      val keySchema = StructType(keyFields.map(f =>
        StructField(f.name, SchemaBridge.toSparkType(f.fieldType), nullable = !f.required)))
      val delDf = MetadataRead.parquet(spark,
          dels.map(d => (d._1.path, d._1.fileSize)).distinctBy(_._1), keySchema, ioOptions)
        .select(keyCols.map(k => col(k).as(s"__del_$k")): _*)
      val cond = keyCols.map(k => col(k) <=> col(s"__del_$k")).reduce(_ && _)
      df = df.join(delDf, cond, "left_anti")
    }

    if (rowLineage) {
      // v3 lineage synthesis (reference table/arrow_scanner.go:896-984):
      // an EXPLICIT _row_id / _last_updated_sequence_number value read
      // from the file (a lineage-preserving rewrite materialized it) WINS;
      // where it is null, synthesize first_row_id + position / data
      // sequence. A broadcast JOIN against the per-file lineage frame
      // (bounded: one row per scanned file) instead of a Scala UDF keeps
      // the stage inside whole-stage codegen; evaluated after deletes so
      // surviving rows keep their original positions.
      import spark.implicits._
      if (!df.columns.contains(SchemaBridge.RowIdCol))
        df = df.withColumn(SchemaBridge.RowIdCol, lit(null).cast("long"))
          .withColumn(SchemaBridge.LastUpdatedSeqCol, lit(null).cast("long"))
      val lm = groupTasks.flatMap(t =>
        t.file.firstRowId.map(fr => (t.file.path, fr, t.dataSequence)))
      val lmDf = broadcast(lm.toDF("__lineage_file", "__first_row_id", "__lineage_seq"))
      df = df.join(lmDf, col("__file") === col("__lineage_file"), "left")
        .withColumn(SchemaBridge.RowIdCol,
          coalesce(col(SchemaBridge.RowIdCol), col("__first_row_id") + col("__pos")))
        .withColumn(SchemaBridge.LastUpdatedSeqCol,
          coalesce(col(SchemaBridge.LastUpdatedSeqCol), col("__lineage_seq")))
        .drop("__lineage_file", "__first_row_id", "__lineage_seq")
    }

    if (needsPos) df = df.drop("__file", "__pos")
    df
  }

  /** Positional-delete scan mode (reference `table/arrow_scanner.go:
    * 1214-1287`): scan the DELETE artifacts themselves as rows of
    * (file_path, pos, delete_file_path). Parquet pos-deletes read
    * distributed; DV bitmaps expand on executors via the blob cache.
    */
  def readPositionDeletes(spark: SparkSession, scan: Scan): DataFrame = {
    configure(spark)
    val tasks = scan.planFiles()
    val all = tasks.flatMap(_.posDeletes).distinctBy(d => (d.path, d.contentOffset))
    val (dvs, parquets) = all.partition(_.format == "PUFFIN")

    import spark.implicits._
    // a data file with a DV has its parquet pos-deletes superseded — rows a
    // shared parquet delete file holds for DV'd files must not double-count
    val dvSuperseded = tasks
      .filter(_.posDeletes.exists(_.format == "PUFFIN"))
      .map(t => graft.io.FileIO.canonical(t.file.path)).distinct
    val parquetDf =
      if (parquets.isEmpty) None
      else {
        var df = MetadataRead.parquet(spark,
          parquets.map(d => (d.path, d.fileSize)).distinctBy(_._1), PosDeleteSchema)
          .select(normalizePath(col("file_path")).as("file_path"), col("pos"),
            normalizePath(col("_metadata.file_path")).as("delete_file_path"))
        if (dvSuperseded.nonEmpty)
          df = df.join(dvSuperseded.toDF("file_path"), Seq("file_path"), "left_anti")
        Some(df)
      }
    val dvDf =
      if (dvs.isEmpty) None
      else Some(dvs.map(d => (d.referencedDataFile.get, d.path,
          d.contentOffset.get, d.contentSize.get)).toDF("ref", "puffin", "off", "len")
        .repartition(col("puffin"), col("off"))
        .as[(String, String, Long, Long)]
        .flatMap { case (ref, puffin, off, len) =>
          DvCache.get(puffin, off, len).positionsIterator.map(p => (ref, p, puffin))
        }.toDF("file_path", "pos", "delete_file_path"))
    (parquetDf ++ dvDf).reduceOption(_ unionByName _).getOrElse(
      Seq.empty[(String, Long, String)].toDF("file_path", "pos", "delete_file_path"))
  }

  /** Does the parquet footer embed field IDs? Per-JVM cache, seeded at
    * `addFiles` time (the import harvest reads every footer anyway) and
    * back-filled by a DISTRIBUTED probe job for paths a fresh driver has
    * never seen — the first scan of a 100k-file imported table must not do
    * 100k serial footer reads on the driver.
    */
  private val fieldIdProbe =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  /** Footer opens executed on the driver during scan planning (gate i35
    * asserts this stays 0); executor-side probe opens don't count.
    */
  private[graft] val driverFooterProbes = new java.util.concurrent.atomic.AtomicLong(0)

  private[graft] def seedFieldIdPresence(path: String, hasIds: Boolean): Unit = {
    fieldIdProbe.put(path, java.lang.Boolean.valueOf(hasIds)); ()
  }

  private[graft] def clearFieldIdCache(): Unit = fieldIdProbe.clear()

  private[table] def probeFooterHasIds(path: String): Boolean = {
    if (org.apache.spark.TaskContext.get() == null) driverFooterProbes.incrementAndGet()
    val reader = graft.encryption.ParquetEncryption.openFooterReader(path)
    try {
      val fields = reader.getFooter.getFileMetaData.getSchema.getFields
      !fields.isEmpty && fields.get(0).getId != null
    } finally reader.close()
  }

  private[graft] def fieldIdPresence(spark: SparkSession,
      paths: Seq[String]): Map[String, Boolean] = {
    val canon = paths.map(p => p -> graft.io.FileIO.canonical(p)).toMap
    val misses = paths.filterNot(p => fieldIdProbe.containsKey(canon(p)))
    if (misses.nonEmpty) {
      spark.sparkContext
        .parallelize(misses, math.max(1, math.min(misses.size, 64)))
        .map(p => (p, probeFooterHasIds(p)))
        .collect()
        .foreach { case (p, b) => seedFieldIdPresence(canon(p), b) }
    }
    paths.map(p => p -> fieldIdProbe.get(canon(p)).booleanValue).toMap
  }

  private def applyResidual(df: DataFrame, scan: Scan): DataFrame = {
    val filtered = scan.filter match {
      case Expr.AlwaysTrue => df
      case e => df.filter(Expr.toColumn(e))
    }
    scan.limit.map(n => filtered.limit(n.toInt)).getOrElse(filtered)
  }

  private def project(df: DataFrame, scan: Scan, schema: IcebergSchema): DataFrame = {
    // initial-default fill happens PER FILE in the parquet reader (the
    // read schema carries EXISTS_DEFAULT metadata, so only files that
    // predate the column get the default) — a frame-level coalesce here
    // would also rewrite EXPLICIT nulls written after the add, which the
    // spec forbids (caught by DefaultValueSpec)
    if (scan.selected.isEmpty) df
    else df.select(scan.selected.map(col): _*)
  }

  /** Spec-fixed positional-delete file schema (by-name resolution; the
    * optional `row` payload column prunes away untouched).
    */
  private[table] val PosDeleteSchema: StructType = StructType(Seq(
    StructField("file_path", org.apache.spark.sql.types.StringType, nullable = true),
    StructField("pos", org.apache.spark.sql.types.LongType, nullable = true)))

  /** `_metadata.file_path` is a URI (file:///...); manifests store plain
    * absolute paths — normalize to compare. Empty-authority URIs of other
    * schemes fold to the single-slash form, the column twin of
    * [[graft.io.FileIO.canonical]].
    */
  private def normalizePath(c: Column): Column =
    regexp_replace(
      regexp_replace(c, "^file:/*", "/"),
      "^([A-Za-z][A-Za-z0-9+.-]*):///+", "$1:/")

  /** Per-JVM (executor-local) cache of deserialized DV bitmaps keyed by
    * (puffin path, blob offset). Each executor reads only the blobs for the
    * files its tasks scan, so memory is bounded by the executor's working
    * set of DVs — never the table's full DV set, which lives nowhere whole.
    */
  private[graft] object DvCache {
    // access-ordered LRU, size-bounded: a long compaction over a DV-heavy
    // table evicts only the coldest bitmaps instead of thrashing the whole
    // cache (entries are immutable — eviction is re-read cost, never wrong)
    private val MaxEntries = 1024
    private val cache = java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[(String, Long), graft.format.PositionBitmap](
          64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(String, Long), graft.format.PositionBitmap]): Boolean =
          size() > MaxEntries
      })

    def get(path: String, offset: Long, length: Long,
        credentials: Map[String, String] = Map.empty): graft.format.PositionBitmap = {
      val key = (path, offset)
      val hit = cache.get(key)
      if (hit != null) return hit
      // cold path only: register vended credentials for this blob's prefix
      // so FileIO's FileSystem build sees them (executor JVMs have no other
      // channel to plan-scoped credentials)
      if (credentials.nonEmpty)
        graft.io.FileIO.registerCredentials(
          path.substring(0, path.lastIndexOf('/') + 1), credentials)
      // deserialization runs outside the lock; a racing double-read of the
      // same immutable blob is harmless
      val blob = graft.format.Puffin.readBlob(path,
        graft.format.Puffin.BlobMetadata(graft.format.DeletionVector.BlobType,
          Nil, -1, -1, offset, length, Map.empty))
      val bm = graft.format.DeletionVector.deserialize(blob)
      cache.put(key, bm)
      bm
    }
  }
}
