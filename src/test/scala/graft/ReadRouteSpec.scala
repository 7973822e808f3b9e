package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.catalog.HadoopCatalog
import graft.core.{Expr, SchemaBridge, Transforms}
import graft.format.PartitionSpec
import graft.table.{Evolve, Maintenance, Scan, SparkRead, Table, Writer}

/** The programmatic read and the SQL catalog share one delete engine and
  * one routing rule ([[graft.table.ReadRoute]]). `SparkRead.read` serves
  * parquet MoR tables, imported ones included, from the per-task
  * [[graft.sources.SpjScan]] readers and sends non-parquet and
  * oversized-backlog tables to the anti-join pipeline
  * (`SparkRead.readTasks`). Every case here checks the per-task answer
  * against that independent pipeline, or an import against its source.
  */
class ReadRouteSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val wh = Files.createTempDirectory("graft-readroute").toString
  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.conf.set("spark.sql.catalog.grr", classOf[graft.sources.GraftSpjCatalog].getName)
    s.conf.set("spark.sql.catalog.grr.uri", wh)
    s
  }
  private lazy val catalog = new HadoopCatalog(wh)

  override def afterAll(): Unit = spark.stop()

  private def v2Scan(df: DataFrame): Option[org.apache.spark.sql.connector.read.Scan] =
    df.queryExecution.optimizedPlan.collectFirst { case r: DataSourceV2ScanRelation => r.scan }

  private def perTask(df: DataFrame): Boolean =
    v2Scan(df).exists(_.isInstanceOf[graft.sources.SpjScan])

  /** The anti-join pipeline's answer for the same scan. */
  private def viaReadTasks(scan: Scan): DataFrame = {
    val df = SparkRead.readTasks(spark, scan.planFiles(), scan.readSchema,
      scan.rowLineage, residual = scan.filter)
    if (scan.selected.isEmpty) df else df.select(scan.selected.map(col): _*)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def base(lo: Long, hi: Long): DataFrame =
    spark.range(lo, hi).select(col("id"),
      (col("id") % 4).cast("int").as("seg"),
      (col("id") * 7 % 100).cast("int").as("v"))

  /** A partitioned table carrying every delete kind of its format version:
    * positional deletes (v2) or deletion vectors (v3), then an equality
    * delete and an upsert.
    */
  private def morTable(name: String, formatVersion: Int): Table = {
    import spark.implicits._
    val b = base(0, 3000)
    var t = catalog.createTable(name, SchemaBridge.fromSpark(b.schema),
      PartitionSpec.builder(SchemaBridge.fromSpark(b.schema))
        .add("seg", Transforms.Identity).build())
    if (formatVersion >= 3) t = Evolve.upgradeFormatVersion(t, 3)
    t = Writer.append(spark, t, b.repartition(3))
    t = Writer.append(spark, t, base(3000, 4000))
    t = if (formatVersion >= 3) Writer.deleteWhereDV(spark, t, Expr.lt("v", 10))
      else Writer.deleteWhereMoR(spark, t, Expr.lt("v", 10))
    t = Writer.equalityDelete(spark, t, Seq(16L, 17L, 18L).toDF("id"), Seq("id"))
    Writer.upsert(spark, t,
      Seq((20L, 1, 500), (21L, 2, 501), (9999L, 3, 502)).toDF("id", "seg", "v"), Seq("id"))
  }

  private lazy val mor2 = morTable("rr_mor2", 2)
  private lazy val mor3 = morTable("rr_mor3", 3)

  test("read serves plain MoR tables from the per-task engine, same rows as the anti-join pipeline") {
    Seq(mor2, mor3).foreach { t =>
      val scans = Seq(t.newScan,
        t.newScan.select("id", "v").withFilter(Expr.gtEq("v", 50)),
        t.newScan.withFilter(Expr.eq("seg", 2)))
      scans.foreach { scan =>
        val df = SparkRead.read(spark, scan)
        assert(perTask(df), s"${t.name}: expected the per-task scan in\n${df.queryExecution.optimizedPlan}")
        assert(rows(df) === rows(viaReadTasks(scan)), s"${t.name} ${scan.filter}")
      }
      // the deletes really apply: 4000 rows, v < 10 gone, three eq-deleted
      // keys gone, one fresh upserted key
      val live = SparkRead.read(spark, t.newScan).count()
      assert(live === 4000L - 400L - 3L + 1L, t.name)
    }
  }

  test("read plans once: one ScanReport per programmatic query") {
    val mem = new graft.metrics.InMemoryReporter
    graft.metrics.Registry.register("rr_plan_once", _ => mem)
    val t = Evolve.setProperties(catalog.loadTable("rr_mor2"),
      Map(graft.metrics.Registry.ReporterImplKey -> "rr_plan_once"))
    mem.reset()
    SparkRead.read(spark, t.newScan.withFilter(Expr.gtEq("v", 50)))
      .groupBy("seg").count().collect()
    assert(mem.reports.count(_.isInstanceOf[graft.metrics.ScanReport]) === 1)
  }

  test("read takes readTasks for ORC and backlog tables and per task for an import") {
    import spark.implicits._
    // a name-mapped import: files written without field ids, read per task
    // through the mapping (readTasks resolves by field id and cannot read
    // them), so the source files are the reference
    val flat = Files.createTempDirectory("graft-rr-flat").toString + "/flat"
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "false")
    try base(0, 100).write.parquet(flat)
    finally spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    val imported = Writer.snapshotImport(spark, catalog, flat, "rr_imported")
    assert(imported.nameMapping.isDefined)
    val importedDf = SparkRead.read(spark, imported.newScan)
    assert(perTask(importedDf), importedDf.queryExecution.optimizedPlan.toString)
    assert(rows(importedDf) === rows(spark.read.parquet(flat)))

    // ORC data files, name mapping removed: routed by file format alone
    val orcDir = Files.createTempDirectory("graft-rr-orc").toString + "/orc"
    base(0, 100).write.orc(orcDir)
    val orcFiles = graft.io.FileIO.listFilesRecursive(orcDir).map(_.path)
      .filter(_.endsWith(".orc"))
    val orc0 = catalog.createTable("rr_orc",
      SchemaBridge.fromSpark(base(0, 1).schema), PartitionSpec.Unpartitioned)
    val orc = Evolve.removeProperties(Writer.addFiles(spark, orc0, orcFiles),
      Seq(graft.format.NameMapping.PropertyKey))
    assert(orc.nameMapping.isEmpty)

    // an equality-delete backlog over the fallback threshold
    var backlog = Writer.append(spark, catalog.createTable("rr_backlog",
      SchemaBridge.fromSpark(base(0, 1).schema), PartitionSpec.Unpartitioned), base(0, 100))
    backlog = Writer.equalityDelete(spark, backlog, Seq(1L, 2L).toDF("id"), Seq("id"))

    // the same backlog on the import: the anti-join pipeline resolves by
    // field id alone, so a name mapping keeps it per task
    val importedBacklog =
      Writer.equalityDelete(spark, imported, Seq(1L, 2L).toDF("id"), Seq("id"))

    val saved = spark.conf.getOption("spark.graft.eqDeleteFallbackBytes")
    try {
      spark.conf.set("spark.graft.eqDeleteFallbackBytes", "1")
      Seq(orc -> 100L, backlog -> 98L).foreach { case (t, n) =>
        val df = SparkRead.read(spark, t.newScan)
        assert(v2Scan(df).isEmpty, s"${t.name}: expected the anti-join pipeline in\n" +
          df.queryExecution.optimizedPlan)
        assert(df.count() === n, t.name)
        assert(rows(df) === rows(viaReadTasks(t.newScan)), t.name)
      }
      val importedLive = SparkRead.read(spark, importedBacklog.newScan)
      assert(perTask(importedLive))
      assert(rows(importedLive) === rows(spark.read.parquet(flat).filter(!col("id").isin(1L, 2L))))
    } finally saved match {
      case Some(x) => spark.conf.set("spark.graft.eqDeleteFallbackBytes", x)
      case None => spark.conf.unset("spark.graft.eqDeleteFallbackBytes")
    }
    // under the default threshold the same backlog reads per task
    assert(perTask(SparkRead.read(spark, backlog.newScan)))
    assert(SparkRead.read(spark, backlog.newScan).count() === 98L)
  }

  /** A fresh `addFiles` import of one parquet file written without field
    * ids: 100 rows of [[base]], read through a name mapping.
    */
  private def importTable(name: String, formatVersion: Int = 2,
      props: Map[String, String] = Map.empty): Table = {
    val dir = Files.createTempDirectory(s"graft-$name").toString + "/src"
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "false")
    try base(0, 100).coalesce(1).write.parquet(dir)
    finally spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    val file = graft.io.FileIO.listFilesRecursive(dir).map(_.path)
      .filter(_.endsWith(".parquet")).head
    var t = catalog.createTable(name, SchemaBridge.fromSpark(base(0, 1).schema),
      PartitionSpec.Unpartitioned)
    if (formatVersion >= 3) t = Evolve.upgradeFormatVersion(t, 3)
    if (props.nonEmpty) t = Evolve.setProperties(t, props)
    t = Writer.addFiles(spark, t, Seq(file))
    assert(t.nameMapping.isDefined)
    t
  }

  test("a read whose every file is pruned is empty on every route") {
    val t = importTable("rr_pruned")
    assert(spark.sql("SELECT count(*) FROM grr.rr_pruned WHERE id = 1000")
      .collect().head.getLong(0) === 0L)
    assert(SparkRead.read(spark, t.newScan.withFilter(Expr.eq("id", 1000L))).count() === 0L)
    assert(SparkRead.readPlanned(spark, t, Nil, t.schema).count() === 0L)
    assert(SparkRead.readPlanned(spark, mor3, Nil, mor3.schema, rowLineage = true)
      .columns.toSeq === Seq("id", "seg", "v", SchemaBridge.RowIdCol, SchemaBridge.LastUpdatedSeqCol))
  }

  test("a runtime filter prunes a planned task subset, never re-plans it from the table") {
    // the appends of the second snapshot alone: ids 3000-3999
    val snaps = mor2.metadata.snapshots.map(_.snapshotId)
    val appended = graft.table.Incremental.readAppends(spark, mor2, snaps(0), snaps(1))
    // not a local relation: its filter must survive optimization for
    // dynamic partition pruning to take it
    spark.range(1, 4).select(col("id").cast("int").as("seg"),
      when(col("id") === 1L, "keep").otherwise("drop").as("tag"))
      .createOrReplaceTempView("rr_dim")
    val joined = appended.join(spark.table("rr_dim").filter(col("tag") === "keep"), "seg")
    assert(joined.queryExecution.optimizedPlan.toString.contains("dynamicpruning"))
    assert(joined.count() === 250L)
    assert(joined.agg(min("id"), max("id")).collect().head.toSeq === Seq(3001L, 3997L))
  }

  test("SQL DELETE, UPDATE and MERGE on an addFiles import change exactly the targeted rows") {
    for (version <- Seq(2, 3); mode <- Seq("copy-on-write", "merge-on-read")) {
      val name = s"rr_import_dml_v${version}_${mode.replace("-", "_")}"
      importTable(name, version,
        Seq("delete", "update", "merge").map(c => s"write.$c.mode" -> mode).toMap)
      var model: Map[Long, (Int, Int)] =
        (0L until 100L).map(i => i -> ((i % 4).toInt, (i * 7 % 100).toInt)).toMap
      def run(stmt: String)(change: Map[Long, (Int, Int)] => Map[Long, (Int, Int)]): Unit = {
        spark.sql(stmt)
        model = change(model)
        val want = model.toSeq.map { case (id, (seg, v)) => s"[$id,$seg,$v]" }.sorted
        assert(rows(spark.sql(s"SELECT id, seg, v FROM grr.$name")) === want, s"$name SQL: $stmt")
        assert(rows(SparkRead.read(spark, catalog.loadTable(name).newScan)) === want,
          s"$name SparkRead.read: $stmt")
      }
      run(s"UPDATE grr.$name SET v = -1 WHERE id = 5")(m => m.updated(5L, (1, -1)))
      run(s"MERGE INTO grr.$name t USING (SELECT * FROM VALUES (7L, 123), (1000L, 9) " +
        "AS s(id, v)) s ON t.id = s.id WHEN MATCHED THEN UPDATE SET v = s.v " +
        "WHEN NOT MATCHED THEN INSERT (id, seg, v) VALUES (s.id, 0, s.v)")(
        m => m.updated(7L, (3, 123)).updated(1000L, (0, 9)))
      run(s"DELETE FROM grr.$name WHERE id = 9")(_ - 9L)
      // not translatable to a source filter: the row-level plan on both modes
      run(s"DELETE FROM grr.$name WHERE id % 50 = 3")(_ -- Seq(3L, 53L))
    }
  }

  test("Writer.deleteWhereMoR and deleteWhereDV on a snapshotImport remove exactly the matched row") {
    for (version <- Seq(2, 3); dv <- Seq(false, true)) {
      val name = s"rr_import_del_v${version}_${if (dv) "dv" else "mor"}"
      val dir = Files.createTempDirectory(s"graft-$name").toString + "/src"
      spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "false")
      try base(0, 100).coalesce(1).write.parquet(dir)
      finally spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
      var t = Writer.snapshotImport(spark, catalog, dir, name)
      assert(t.nameMapping.isDefined)
      if (version >= 3) t = Evolve.upgradeFormatVersion(t, 3)
      t = if (dv) Writer.deleteWhereDV(spark, t, Expr.eq("id", 5L))
        else Writer.deleteWhereMoR(spark, t, Expr.eq("id", 5L))
      val want = (0L until 100L).filterNot(_ == 5L)
        .map(i => s"[$i,${i % 4},${i * 7 % 100}]").sorted
      assert(rows(spark.sql(s"SELECT id, seg, v FROM grr.$name")) === want, s"$name SQL")
      assert(rows(SparkRead.read(spark, catalog.loadTable(name).newScan.select("id", "seg", "v"))) ===
        want, s"$name SparkRead.read")
    }
  }

  test("row-level operations on a hive-layout import keep the partition values its files omit") {
    Seq("copy-on-write", "merge-on-read").foreach { mode =>
      val name = s"rr_hive_dml_${mode.replace("-", "_")}"
      val dir = Files.createTempDirectory(s"graft-$name").toString + "/src"
      spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "false")
      try base(0, 100).write.partitionBy("seg").parquet(dir)
      finally spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
      Evolve.setProperties(Writer.snapshotImport(spark, catalog, dir, name),
        Seq("delete", "update", "merge").map(c => s"write.$c.mode" -> mode).toMap)
      spark.sql(s"UPDATE grr.$name SET v = -1 WHERE id = 5")
      spark.sql(s"DELETE FROM grr.$name WHERE id % 50 = 3")
      val want = (0L until 100L).filterNot(Set(3L, 53L))
        .map(i => (i, (i % 4).toInt, if (i == 5L) -1 else (i * 7 % 100).toInt))
        .map { case (id, seg, v) => s"[$id,$v,$seg]" }.sorted
      assert(rows(spark.sql(s"SELECT id, v, seg FROM grr.$name")) === want, name)
      assert(rows(SparkRead.read(spark, catalog.loadTable(name).newScan.select("id", "v", "seg"))) ===
        want, name)
    }
  }

  test("a hive-layout import reads the partition values its manifest holds on every route") {
    import spark.implicits._
    // each value needs escaping in a hive path segment, or is the null sentinel
    val values = Seq("a+b", "c d", "50%", "x/y", "e=f", null)
    val name = "rr_hive_values"
    val dir = Files.createTempDirectory(s"graft-$name").toString + "/src"
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "false")
    try values.zipWithIndex.map { case (p, i) => (i.toLong, p) }.toDF("id", "p")
      .write.partitionBy("p").parquet(dir)
    finally spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    val t = Writer.snapshotImport(spark, catalog, dir, name)
    assert(t.newScan.planFiles().map(_.file.partition.head).toSet === values.toSet)
    val want = values.zipWithIndex.map { case (p, i) => s"[$i,$p]" }.sorted
    assert(rows(SparkRead.read(spark, t.newScan.select("id", "p"))) === want, "SparkRead.read")
    assert(rows(spark.sql(s"SELECT id, p FROM grr.$name")) === want, "SQL")
    val withFile = spark.sql(s"SELECT id, p, _file FROM grr.$name")
    assert(rows(withFile.select("id", "p")) === want, "SQL with _file")
    assert(withFile.collect().forall(_.getString(2).endsWith(".parquet")))
  }

  test("a backlog on an import reads only its files without field ids per task") {
    import spark.implicits._
    val name = "rr_import_backlog"
    val dir = Files.createTempDirectory(s"graft-$name").toString + "/src"
    val withP = (df: DataFrame) => df.withColumn("p", concat(lit("p"), (col("id") % 2).cast("string")))
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "false")
    try withP(base(0, 100)).write.partitionBy("p").parquet(dir)
    finally spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    val appended = withP(base(100, 150))
    var t = Writer.append(spark, Writer.snapshotImport(spark, catalog, dir, name), appended)
    t = Writer.equalityDelete(spark, t, Seq(1L, 2L, 120L).toDF("id"), Seq("id"))
    val source = spark.read.parquet(dir).unionByName(appended)
    def want(deleted: Long*) = rows(source.filter(!col("id").isin(deleted: _*)))
    def antiJoinRelations(df: DataFrame) = df.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l
    }
    val saved = spark.conf.getOption("spark.graft.eqDeleteFallbackBytes")
    try {
      spark.conf.set("spark.graft.eqDeleteFallbackBytes", "1")
      // the appended files carry field ids and take the anti-join pipeline;
      // the imported ones read per task through the mapping
      val mixed = SparkRead.read(spark, t.newScan)
      assert(perTask(mixed) && antiJoinRelations(mixed).nonEmpty,
        mixed.queryExecution.optimizedPlan.toString)
      assert(rows(mixed) === want(1L, 2L, 120L))
      assert(rows(spark.sql(s"SELECT id, seg, v, p FROM grr.$name")) === want(1L, 2L, 120L))
      // compacted, every file carries field ids: a backlog leaves the
      // per-task route whole, name mapping or not
      t = Maintenance.rewriteDataFiles(spark, catalog.loadTable(name), rewriteAll = true).table
      t = Writer.equalityDelete(spark, t, Seq(3L).toDF("id"), Seq("id"))
      val compacted = SparkRead.read(spark, t.newScan)
      assert(v2Scan(compacted).isEmpty, compacted.queryExecution.optimizedPlan.toString)
      assert(rows(compacted) === want(1L, 2L, 3L, 120L))
    } finally saved match {
      case Some(x) => spark.conf.set("spark.graft.eqDeleteFallbackBytes", x)
      case None => spark.conf.unset("spark.graft.eqDeleteFallbackBytes")
    }
  }

  test("a fresh session that only queries the catalog resolves columns by field id") {
    val name = "rr_fresh_session"
    var t = catalog.createTable(name, SchemaBridge.fromSpark(base(0, 1).schema),
      PartitionSpec.Unpartitioned)
    t = Writer.append(spark, t, base(0, 20))
    t = Evolve.renameColumn(t, "v", "w")
    t = Evolve.addColumn(t, "z", graft.core.IcebergTypes.StringT)
    val fresh = spark.newSession()
    fresh.conf.set("spark.sql.catalog.grr", classOf[graft.sources.GraftSpjCatalog].getName)
    fresh.conf.set("spark.sql.catalog.grr.uri", wh)
    // nothing configured this session for field ids
    assert(fresh.conf.get("spark.sql.parquet.fieldId.read.enabled") === "false")
    val all = (0L until 20L).map(i => s"[$i,${i * 7 % 100},null]").sorted
    assert(rows(fresh.sql(s"SELECT id, w, z FROM grr.$name")) === all)
    // filters on the renamed and the added column, before any write
    // under the evolved schema
    assert(rows(fresh.sql(s"SELECT id, w, z FROM grr.$name WHERE w = 49 AND z IS NULL")) ===
      Seq("[7,49,null]"))
  }

  test("time travel, row lineage, limit and unknown columns read the same rows as before") {
    import spark.implicits._
    // time travel to every snapshot, including the pre-delete ones
    mor2.metadata.snapshots.foreach { s =>
      val scan = mor2.newScan.useSnapshot(s.snapshotId)
      val df = SparkRead.read(spark, scan)
      assert(perTask(df))
      assert(rows(df) === rows(viaReadTasks(scan)), s"snapshot ${s.snapshotId}")
    }
    // time travel across a rename: the snapshot's schema names the columns
    val renamed = Evolve.renameColumn(catalog.loadTable("rr_mor2"), "v", "value")
    val before = renamed.newScan.useSnapshot(mor2.metadata.currentSnapshotId.get)
    assert(SparkRead.read(spark, before).columns.toSeq === Seq("id", "seg", "v"))
    assert(rows(SparkRead.read(spark, before)) === rows(viaReadTasks(before)))
    assert(SparkRead.read(spark, renamed.newScan).columns.toSeq === Seq("id", "seg", "value"))

    // row lineage over DVs, equality deletes and an upsert
    val lin = mor3.newScan.withRowLineage
    val linDf = SparkRead.read(spark, lin)
    assert(perTask(linDf))
    assert(linDf.columns.toSeq ===
      Seq("id", "seg", "v", SchemaBridge.RowIdCol, SchemaBridge.LastUpdatedSeqCol))
    assert(rows(linDf) === rows(viaReadTasks(lin)))
    assert(linDf.filter(col(SchemaBridge.RowIdCol).isNull).count() === 0L)

    // limit: exactly n rows, all of them live
    val all = rows(SparkRead.read(spark, mor2.newScan)).toSet
    val limited = rows(SparkRead.read(spark, mor2.newScan.withLimit(25)))
    assert(limited.size === 25 && limited.forall(all))

    // v3 `unknown` columns: never stored, read as a trailing null column
    var u = Evolve.upgradeFormatVersion(catalog.createTable("rr_unknown",
      SchemaBridge.fromSpark(base(0, 1).schema), PartitionSpec.Unpartitioned), 3)
    u = Writer.append(spark, u, base(0, 50))
    u = Evolve.addColumn(u, "future", graft.core.IcebergTypes.UnknownT)
    u = Writer.append(spark, u, base(50, 60))
    u = Writer.equalityDelete(spark, u, Seq(3L).toDF("id"), Seq("id"))
    val uDf = SparkRead.read(spark, u.newScan)
    assert(perTask(uDf))
    assert(uDf.columns.toSeq === Seq("id", "seg", "v", "future"))
    assert(uDf.filter(col("future").isNotNull).count() === 0L)
    assert(rows(uDf) === rows(viaReadTasks(u.newScan)))
    assert(uDf.count() === 59L)
  }

  test("time travel names equality-delete keys by the snapshot's schema") {
    import spark.implicits._
    // the delete files carry the key's name at delete time; a later rename
    // must not stop a read of that snapshot from applying them
    Seq("optional" -> true, "required" -> false).foreach { case (kind, optional) =>
      val rows40 = base(0, 40)
      val df = if (optional) rows40.withColumn("id", when(col("id") >= 0, col("id")))
        else rows40
      val name = s"rr_eqrename_$kind"
      var t = catalog.createTable(name, SchemaBridge.fromSpark(df.schema),
        PartitionSpec.Unpartitioned)
      t = Writer.append(spark, t, df)
      t = Writer.equalityDelete(spark, t, Seq(3L, 4L).toDF("id"), Seq("id"))
      val snap = t.metadata.currentSnapshotId.get
      t = Evolve.renameColumn(t, "id", "ident")
      val scan = t.newScan.useSnapshot(snap)
      val got = SparkRead.read(spark, scan)
      assert(perTask(got), kind)
      assert(got.count() === 38L, kind)
      assert(rows(got) === rows(viaReadTasks(scan)), kind)
      // the SQL route's time travel names them the same way
      assert(spark.sql(s"SELECT * FROM grr.$name VERSION AS OF $snap").count() === 38L, kind)
    }
  }

  test("a graft DSv2 scan of a MoR table reports its input records to listeners") {
    val records = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) { records.addAndGet(e.taskMetrics.inputMetrics.recordsRead); () }
    }
    val sc = spark.sparkContext
    val t = mor2
    val live = SparkRead.read(spark, t.newScan).count()
    org.apache.spark.ListenerBusSync.drain(sc)
    sc.addSparkListener(listener)
    try {
      Seq(
        () => spark.sql(s"SELECT id, seg FROM grr.${t.name}").collect().length.toLong,
        () => SparkRead.read(spark, t.newScan.select("id", "seg")).collect().length.toLong
      ).foreach { run =>
        records.set(0)
        assert(run() === live)
        org.apache.spark.ListenerBusSync.drain(sc)
        assert(records.get >= live,
          s"input records ${records.get} below the $live live rows read")
      }
    } finally sc.removeSparkListener(listener)
  }
}
