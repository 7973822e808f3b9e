package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.catalog.HadoopCatalog
import graft.core._
import graft.format.PartitionSpec
import graft.table.{Evolve, SparkRead, Writer}

/** wap.id staged commits + cherry-pick/publish, the session-conf WAP
  * surface (`spark.wap.id` / `spark.wap.branch`), and the `snapshot`
  * path-import — the round-11 parity additions over branch WAP.
  */
class WapImportSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.001"
  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val wh = Files.createTempDirectory("graft-wap").toString
  private lazy val catalog = new HadoopCatalog(wh)

  override def afterAll(): Unit = spark.stop()

  private def nation = spark.read.parquet(s"$sf/nation.parquet")

  /** Whether `df` reads through the per-task DSv2 scan. */
  private def perTask(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r.scan
    }.exists(_.isInstanceOf[graft.sources.SpjScan])

  test("stage-only append is invisible until cherry-picked; summary stamped") {
    val schema = SchemaBridge.fromSpark(nation.schema)
    val t0 = catalog.createTable("wap_stage", schema, PartitionSpec.Unpartitioned)
    val t1 = Writer.append(spark, t0, nation.filter(col("n_nationkey") < 10))
    val t2 = Writer.append(spark, t1, nation.filter(col("n_nationkey") >= 10),
      extraSummary = Map("wap.id" -> "w1"), stageOnly = true)
    // staged: snapshot recorded, nothing moved
    assert(t2.metadata.snapshots.size === 2)
    assert(t2.metadata.currentSnapshotId === t1.metadata.currentSnapshotId)
    assert(t2.metadata.refs("main").snapshotId === t1.metadata.currentSnapshotId.get)
    assert(SparkRead.read(spark, t2.newScan).count() === 10)
    // publish by wap id
    val (src, t3) = Evolve.publishChanges(t2, "w1")
    assert(SparkRead.read(spark, t3.newScan).count() === 25)
    val head = t3.metadata.currentSnapshot.get
    assert(head.summary.get("published-wap-id") === Some("w1"))
    assert(head.summary.get("source-snapshot-id") === Some(src.toString))
    // unknown / double-publish guards
    intercept[IllegalArgumentException] { Evolve.publishChanges(t3, "nope") }
    // re-publishing the same wap id is a no-op (already on the lineage)
    val (_, t4) = Evolve.publishChanges(t3, "w1")
    assert(t4.metadata.currentSnapshotId === t3.metadata.currentSnapshotId)
  }

  test("cherrypick refuses non-append snapshots and re-applies rolled-back appends") {
    val schema = SchemaBridge.fromSpark(nation.schema)
    val t0 = catalog.createTable("wap_cp", schema, PartitionSpec.Unpartitioned)
    val t1 = Writer.append(spark, t0, nation.filter(col("n_nationkey") < 10))
    val snapA = t1.metadata.currentSnapshotId.get
    val t2 = Writer.append(spark, t1, nation.filter(col("n_nationkey") >= 10))
    val snapB = t2.metadata.currentSnapshotId.get
    val t3 = Writer.overwriteAll(spark, t2, nation.filter(col("n_nationkey") < 5))
    val snapC = t3.metadata.currentSnapshotId.get
    val t4 = Evolve.rollbackTo(t3, snapA)
    assert(SparkRead.read(spark, t4.newScan).count() === 10)
    // the overwrite is not replayable
    intercept[IllegalArgumentException] { Evolve.cherrypick(t4, snapC) }
    // the orphaned append is
    val t5 = Evolve.cherrypick(t4, snapB)
    assert(SparkRead.read(spark, t5.newScan).count() === 25)
    assert(t5.metadata.currentSnapshot.get.summary
      .get("source-snapshot-id") === Some(snapB.toString))
  }

  test("cherrypick refuses when the partition spec has drifted") {
    import graft.core.Transforms
    val schema = SchemaBridge.fromSpark(nation.schema)
    val t0 = catalog.createTable("wap_drift", schema, PartitionSpec.Unpartitioned)
    val t1 = Writer.append(spark, t0, nation.filter(col("n_nationkey") < 10))
    val snapA = t1.metadata.currentSnapshotId.get
    val t2 = Writer.append(spark, t1, nation.filter(col("n_nationkey") >= 10))
    val snapB = t2.metadata.currentSnapshotId.get
    val t3 = Evolve.rollbackTo(t2, snapA)
    val t4 = Evolve.updateSpec(t3, _.add("n_regionkey", Transforms.Identity))
    val ex = intercept[IllegalArgumentException] { Evolve.cherrypick(t4, snapB) }
    assert(ex.getMessage.contains("spec"))
  }

  test("spark.wap.id stages SQL INSERT when the table opts in") {
    val ctl = "gwapid_t"
    spark.conf.set(s"spark.sql.catalog.$ctl",
      classOf[graft.sources.GraftSpjCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$ctl.uri", wh)
    val schema = SchemaBridge.fromSpark(nation.schema)
    val t0 = catalog.createTable("wap_sql", schema, PartitionSpec.Unpartitioned,
      properties = Map("write.wap.enabled" -> "true"))
    Writer.append(spark, t0, nation.filter(col("n_nationkey") < 10))
    nation.createOrReplaceTempView("wap_src")
    spark.conf.set("spark.wap.id", "sql_w1")
    try {
      spark.sql(s"INSERT INTO $ctl.wap_sql SELECT * FROM wap_src WHERE n_nationkey >= 10")
      // overwrites refuse to stage
      intercept[Exception] {
        spark.sql(s"INSERT OVERWRITE $ctl.wap_sql SELECT * FROM wap_src")
      }
    } finally spark.conf.unset("spark.wap.id")
    assert(spark.sql(s"SELECT count(*) FROM $ctl.wap_sql").head.getLong(0) === 10)
    spark.sql(s"CALL $ctl.system.publish_changes('wap_sql', 'sql_w1')")
    assert(spark.sql(s"SELECT count(*) FROM $ctl.wap_sql").head.getLong(0) === 25)
  }

  test("spark.wap.branch routes reads and inserts to the audit branch") {
    val ctl = "gwapbr_t"
    spark.conf.set(s"spark.sql.catalog.$ctl",
      classOf[graft.sources.GraftSpjCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$ctl.uri", wh)
    val schema = SchemaBridge.fromSpark(nation.schema)
    val t0 = catalog.createTable("wap_br", schema, PartitionSpec.Unpartitioned)
    Writer.append(spark, t0, nation.filter(col("n_nationkey") < 10))
    nation.createOrReplaceTempView("wapbr_src")
    spark.conf.set("spark.wap.branch", "audit")
    try {
      // branch doesn't exist yet: reads fall back to main state
      assert(spark.sql(s"SELECT count(*) FROM $ctl.wap_br").head.getLong(0) === 10)
      // first INSERT creates the branch; main stays frozen
      spark.sql(s"INSERT INTO $ctl.wap_br SELECT * FROM wapbr_src WHERE n_nationkey >= 10")
      assert(spark.sql(s"SELECT count(*) FROM $ctl.wap_br").head.getLong(0) === 25)
    } finally spark.conf.unset("spark.wap.branch")
    assert(spark.sql(s"SELECT count(*) FROM $ctl.wap_br").head.getLong(0) === 10)
    spark.sql(s"CALL $ctl.system.fast_forward('wap_br', 'main', 'audit')")
    assert(spark.sql(s"SELECT count(*) FROM $ctl.wap_br").head.getLong(0) === 25)
  }

  test("snapshot import references flat parquet in place; SQL reads route by name mapping") {
    val ctl = "gsnap_t"
    spark.conf.set(s"spark.sql.catalog.$ctl",
      classOf[graft.sources.GraftSpjCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$ctl.uri", wh)
    val tmp = Files.createTempDirectory("snap-src").toString + "/flat"
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "false")
    try nation.write.parquet(tmp)
    finally spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    val t = Writer.snapshotImport(spark, catalog, tmp, "snap_flat")
    assert(t.spec.isUnpartitioned)
    assert(t.metadata.properties.get("gc.enabled") === Some("false"))
    assert(t.newScan.planFiles().forall(_.file.path.startsWith(tmp)))
    assert(SparkRead.read(spark, t.newScan).count() === 25)
    // a row-reading SQL query (COUNT(*) alone would answer from manifest
    // stats via agg pushdown) reads the ID-less files per task, by their
    // mapped names
    val names = spark.sql(s"SELECT n_name FROM $ctl.snap_flat")
    assert(perTask(names))
    assert(names.collect().map(_.getString(0)).sorted.toSeq ===
      nation.collect().map(_.getAs[String]("n_name")).sorted.toSeq)
  }

  // a metadata-column request on a name-mapped imported table: a stock
  // name-based reader would null-fill a RENAMED data column (the file says
  // `old_id`, the table says `id`) beside correct file paths, silent wrong
  // results; the per-task reader requests it by its mapped name
  test("metadata columns on a name-mapped imported table resolve renamed columns") {
    import spark.implicits._
    val ctl = "gnmmc"
    val nwh = Files.createTempDirectory("graft-nmmc").toString
    spark.conf.set(s"spark.sql.catalog.$ctl", classOf[graft.sources.GraftSpjCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$ctl.uri", nwh)
    val pdir = Files.createTempDirectory("graft-nmmc-src").toString
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("old_id", "v")
      .coalesce(1).write.mode("overwrite").parquet(pdir)
    val pfile = new java.io.File(pdir).listFiles()
      .map(_.getAbsolutePath).filter(_.endsWith(".parquet")).head
    spark.sql(s"CREATE TABLE $ctl.nmmc (id BIGINT, v STRING)")
    val cat = new HadoopCatalog(nwh)
    val nm = """[{"field-id":1,"names":["old_id","id"]},{"field-id":2,"names":["v"]}]"""
    val t1 = Evolve.setProperties(cat.loadTable("nmmc"),
      Map(graft.format.NameMapping.PropertyKey -> nm))
    Writer.addFiles(spark, t1, Seq(pfile))
    val rows = spark.sql(s"SELECT id, v, _file, _pos FROM $ctl.nmmc ORDER BY id")
      .collect()
    assert(rows.length === 3)
    assert(rows.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L),
      "renamed column resolves through the name mapping, never null-fills")
    assert(rows.forall(r => r.getString(2).endsWith(".parquet")))
    assert(rows.map(_.getLong(3)).toSeq === Seq(0L, 1L, 2L), "physical positions")
    assert(perTask(spark.sql(s"SELECT id, v, _file, _pos FROM $ctl.nmmc")))
  }
}
