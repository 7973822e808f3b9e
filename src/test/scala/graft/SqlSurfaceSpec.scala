package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.catalog.HadoopCatalog
import graft.core.{SchemaBridge, Transforms}
import graft.format.PartitionSpec
import graft.table.{Evolve, Writer}

/** The SQL DDL/DML surface through GraftSpjCatalog: CREATE TABLE with
  * partition transforms, INSERT INTO / OVERWRITE, DELETE FROM, time travel,
  * ALTER TABLE, CTAS — every statement a Spark SQL user would run against
  * an Iceberg catalog, executed against graft's write/commit machinery.
  */
class SqlSurfaceSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.001"
  private lazy val wh = Files.createTempDirectory("graft-sql").toString
  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.conf.set("spark.sql.catalog.g", classOf[graft.sources.GraftSpjCatalog].getName)
    s.conf.set("spark.sql.catalog.g.uri", wh)
    s
  }
  private lazy val catalog = new HadoopCatalog(wh)

  override def afterAll(): Unit = spark.stop()

  test("CREATE TABLE with transforms; INSERT INTO; SELECT round-trips") {
    spark.sql("""CREATE TABLE g.t_ddl (
      id BIGINT, seg STRING, bal DOUBLE, day DATE
    ) PARTITIONED BY (bucket(4, id), truncate(seg, 1))""")
    // spec landed as declared
    val t = catalog.loadTable("t_ddl")
    assert(t.spec.fields.map(_.transform) ===
      Seq(Transforms.Bucket(4), Transforms.Truncate(1)))
    spark.sql("""INSERT INTO g.t_ddl VALUES
      (1, 'AUTO', 10.5, DATE'2024-01-02'),
      (2, 'BUILD', -3.25, DATE'2024-02-03'),
      (3, 'AUTO', 7.0, NULL)""")
    val got = spark.sql("SELECT id, seg, bal FROM g.t_ddl ORDER BY id").collect()
    assert(got.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    assert(got.map(_.getString(1)).toSeq === Seq("AUTO", "BUILD", "AUTO"))
    // appends accumulate
    spark.sql("INSERT INTO g.t_ddl VALUES (4, 'CAR', 1.0, DATE'2024-03-04')")
    assert(spark.sql("SELECT count(*) AS n FROM g.t_ddl").head.getLong(0) === 4L)
  }

  test("INSERT OVERWRITE replaces in ONE overwrite snapshot") {
    spark.sql("CREATE TABLE g.t_ow (k BIGINT, v STRING)")
    spark.sql("INSERT INTO g.t_ow VALUES (1, 'a'), (2, 'b')")
    val before = catalog.loadTable("t_ow").metadata.snapshots.length
    spark.sql("INSERT OVERWRITE g.t_ow VALUES (9, 'z')")
    val t = catalog.loadTable("t_ow")
    assert(t.metadata.snapshots.length === before + 1) // atomic: one snapshot
    assert(t.metadata.currentSnapshot.get.summary("operation") === "overwrite")
    val got = spark.sql("SELECT k, v FROM g.t_ow").collect()
    assert(got.map(r => (r.getLong(0), r.getString(1))).toSeq === Seq((9L, "z")))
  }

  test("DELETE FROM removes matching rows through the CoW path") {
    spark.sql("CREATE TABLE g.t_del (k BIGINT, seg STRING) PARTITIONED BY (identity(seg))")
    spark.sql("INSERT INTO g.t_del VALUES (1,'A'), (2,'A'), (3,'B'), (4,'C')")
    spark.sql("DELETE FROM g.t_del WHERE seg = 'A' OR k = 4")
    val got = spark.sql("SELECT k FROM g.t_del ORDER BY k").collect().map(_.getLong(0))
    assert(got.toSeq === Seq(3L))
    // whole-partition match dropped metadata-only: the delete snapshot
    // added no data files (seg='A' files dropped, k=4 file rewritten empty)
    val t = catalog.loadTable("t_del")
    assert(t.metadata.currentSnapshot.get.summary("operation") === "overwrite")
  }

  test("VERSION AS OF / TIMESTAMP AS OF pin snapshots; tags resolve by name") {
    spark.sql("CREATE TABLE g.t_tt (k BIGINT)")
    spark.sql("INSERT INTO g.t_tt VALUES (1), (2)")
    val snap1 = catalog.loadTable("t_tt").metadata.currentSnapshot.get
    spark.sql("INSERT INTO g.t_tt VALUES (3)")
    Evolve.setRef(catalog.loadTable("t_tt"), "v1", snap1.snapshotId, "tag")

    assert(spark.sql("SELECT count(*) AS n FROM g.t_tt").head.getLong(0) === 3L)
    assert(spark.sql(s"SELECT count(*) AS n FROM g.t_tt VERSION AS OF ${snap1.snapshotId}")
      .head.getLong(0) === 2L)
    assert(spark.sql("SELECT count(*) AS n FROM g.t_tt VERSION AS OF 'v1'")
      .head.getLong(0) === 2L)
    val ts = java.time.Instant.ofEpochMilli(snap1.timestampMs)
    assert(spark.sql(s"SELECT count(*) AS n FROM g.t_tt TIMESTAMP AS OF '$ts'")
      .head.getLong(0) === 2L)
    // a time-travel table refuses writes
    val e = intercept[Exception](
      spark.sql(s"INSERT INTO g.t_tt VERSION AS OF ${snap1.snapshotId} VALUES (9)"))
    assert(e.getMessage != null)
  }

  test("ALTER TABLE: add/rename/drop column, widen type, set properties") {
    spark.sql("CREATE TABLE g.t_alter (a INT, b STRING)")
    spark.sql("INSERT INTO g.t_alter VALUES (1, 'x')")
    spark.sql("ALTER TABLE g.t_alter ADD COLUMN c DOUBLE")
    spark.sql("ALTER TABLE g.t_alter RENAME COLUMN b TO label")
    spark.sql("ALTER TABLE g.t_alter ALTER COLUMN a TYPE BIGINT")
    spark.sql("ALTER TABLE g.t_alter SET TBLPROPERTIES ('commit.retry.num-retries'='7')")
    // old file resolves by field id under the new schema
    val got = spark.sql("SELECT a, label, c FROM g.t_alter").head
    assert(got.getLong(0) === 1L && got.getString(1) === "x" && got.isNullAt(2))
    spark.sql("INSERT INTO g.t_alter VALUES (CAST(2 AS BIGINT), 'y', 0.5)")
    assert(spark.sql("SELECT count(*) AS n FROM g.t_alter").head.getLong(0) === 2L)
    assert(catalog.loadTable("t_alter").metadata.properties("commit.retry.num-retries") === "7")
    spark.sql("ALTER TABLE g.t_alter DROP COLUMN c")
    assert(!spark.table("g.t_alter").columns.contains("c"))
  }

  test("CTAS, SHOW TABLES, DROP TABLE") {
    spark.read.parquet(s"$sf/nation.parquet").createOrReplaceTempView("nation_src")
    spark.sql("CREATE TABLE g.t_ctas AS SELECT n_nationkey, n_name FROM nation_src")
    assert(spark.sql("SELECT count(*) AS n FROM g.t_ctas").head.getLong(0) === 25L)
    assert(spark.sql("SHOW TABLES IN g").collect().map(_.getString(1)).contains("t_ctas"))
    spark.sql("DROP TABLE g.t_ctas")
    assert(!catalog.tableExists("t_ctas"))
  }

  test("general reads: unpartitioned tables plan per-file; time-transform specs read correctly") {
    // unpartitioned, written as several files → the files spread over
    // several input partitions (Spark's file-source split rule)
    val n = spark.read.parquet(s"$sf/customer.parquet").repartition(3)
    val schema = SchemaBridge.fromSpark(n.schema)
    Writer.append(spark, catalog.createTable("t_unpart", schema,
      PartitionSpec.Unpartitioned), n)
    val df = spark.table("g.t_unpart")
    assert(df.count() === n.count())
    assert(df.rdd.getNumPartitions >= 2) // parallel, not one lump

    // months() spec reads fine (no SPJ claim, still correct)
    val o = spark.read.parquet(s"$sf/orders.parquet")
    val oS = SchemaBridge.fromSpark(o.schema)
    Writer.append(spark, catalog.createTable("t_months", oS,
      PartitionSpec.builder(oS).add("o_orderdate", Transforms.Months).build()), o)
    // decimal sum: exact regardless of partition summation order
    assert(spark.sql("SELECT sum(cast(o_totalprice AS DECIMAL(18,2))) AS s FROM g.t_months")
      .head.getDecimal(0) ===
      o.agg(sum(col("o_totalprice").cast("decimal(18,2)"))).head.getDecimal(0))
  }

  test("metadata tables: g.<table>.<snapshots|files|history|refs|partitions>") {
    spark.sql("CREATE TABLE g.t_meta (k BIGINT, seg STRING) PARTITIONED BY (identity(seg))")
    spark.sql("INSERT INTO g.t_meta VALUES (1,'A'), (2,'B')")
    spark.sql("INSERT INTO g.t_meta VALUES (3,'A')")

    assert(spark.sql("SELECT * FROM g.t_meta.snapshots").count() === 2)
    assert(spark.sql("SELECT * FROM g.t_meta.history").count() === 2)
    assert(spark.sql("SELECT * FROM g.t_meta.refs WHERE name = 'main'").count() === 1)
    // 3 rows across 3 files (A, B, then A again)
    assert(spark.table("g.t_meta.files").count() === 3)
    // partitions rolls up per partition value
    val parts = spark.sql(
      "SELECT * FROM g.t_meta.partitions ORDER BY partition").collect()
    assert(parts.length === 2)
    // joins/filters over metadata frames work like any table
    val latest = spark.sql("""
      SELECT s.snapshot_id FROM g.t_meta.snapshots s
      JOIN g.t_meta.refs r ON s.snapshot_id = r.snapshot_id
      WHERE r.name = 'main'""").head.getLong(0)
    assert(latest === catalog.loadTable("t_meta").metadata.currentSnapshotId.get)

    // a plain table named like a metadata suffix is not shadowed
    spark.sql("CREATE TABLE g.files (k BIGINT)")
    spark.sql("INSERT INTO g.files VALUES (42)")
    assert(spark.sql("SELECT k FROM g.files").head.getLong(0) === 42L)
  }

  test("LIMIT pushdown truncates the file list; filters and deletes disable it") {
    spark.sql("CREATE TABLE g.lim (k BIGINT)")
    (0 until 4).foreach(i =>
      spark.sql(s"INSERT INTO g.lim SELECT id + ${i * 100} FROM range(100)"))
    val totalFiles = catalog.loadTable("lim").newScan.planFiles().length
    assert(totalFiles >= 4)

    def scanOf(df: org.apache.spark.sql.DataFrame): graft.sources.SpjScan = {
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
      def scans(p: SparkPlan): Seq[BatchScanExec] = p match {
        case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
        case q: QueryStageExec => scans(q.plan)
        case b: BatchScanExec => Seq(b)
        case other => other.children.flatMap(scans)
      }
      scans(df.queryExecution.executedPlan).head.scan.asInstanceOf[graft.sources.SpjScan]
    }

    val limited = spark.sql("SELECT k FROM g.lim LIMIT 10")
    assert(limited.collect().length === 10)
    assert(scanOf(limited).plannedFileCount === 1, "LIMIT 10 reads one file")

    // a row filter makes manifest counts unable to guarantee coverage
    val filtered = spark.sql("SELECT k FROM g.lim WHERE k % 2 = 0 LIMIT 10")
    assert(filtered.collect().length === 10)
    assert(scanOf(filtered).plannedFileCount === totalFiles,
      "filters disable truncation")

    // full scans are unaffected
    assert(spark.sql("SELECT count(*) FROM g.lim").head.getLong(0) === 400)
  }

  test("branch/tag identifiers: WAP via SQL (read branch, INSERT to branch, publish)") {
    spark.sql("CREATE TABLE g.wap (k BIGINT)")
    spark.sql("INSERT INTO g.wap VALUES (1)")
    spark.sql("CALL g.system.create_branch('wap', 'audit')")
    spark.sql("CALL g.system.create_tag('wap', 'v0')")

    // stage on the branch through plain SQL; main is untouched
    spark.sql("INSERT INTO g.wap.branch_audit VALUES (2), (3)")
    assert(spark.sql("SELECT count(*) FROM g.wap").head.getLong(0) === 1)
    assert(spark.sql("SELECT count(*) FROM g.wap.branch_audit").head.getLong(0) === 3)
    assert(spark.sql("SELECT count(*) FROM g.wap.tag_v0").head.getLong(0) === 1)

    // audit passed → publish
    spark.sql("CALL g.system.fast_forward('wap', 'main', 'audit')")
    assert(spark.sql("SELECT count(*) FROM g.wap").head.getLong(0) === 3)

    // tags are read-only; unknown refs fail loudly
    val e1 = intercept[Exception](
      spark.sql("INSERT INTO g.wap.tag_v0 VALUES (9)"))
    assert(e1.getMessage != null)
    val e2 = intercept[Exception](
      spark.sql("SELECT * FROM g.wap.branch_nope").collect())
    assert(e2.getMessage.toLowerCase.contains("nope"))
  }

  test("INSERT OVERWRITE PARTITION: one atomic snapshot, other partitions untouched") {
    spark.sql("""CREATE TABLE g.t_owp (k BIGINT, seg STRING)
      PARTITIONED BY (seg)""")
    spark.sql("""INSERT INTO g.t_owp VALUES
      (1, 'A'), (2, 'A'), (3, 'B'), (4, 'B'), (5, 'C')""")
    val before = catalog.loadTable("t_owp")
    val snapsBefore = before.metadata.snapshots.length
    val bFilesBefore = before.newScan.planFiles()
      .filter(_.file.partition.headOption.exists(v => String.valueOf(v) == "B"))
      .map(_.file.path).toSet
    assert(bFilesBefore.nonEmpty)

    spark.sql("INSERT OVERWRITE g.t_owp PARTITION (seg = 'A') VALUES (10), (11)")

    val after = catalog.loadTable("t_owp")
    // atomicity: exactly ONE new snapshot, operation 'overwrite'
    assert(after.metadata.snapshots.length === snapsBefore + 1,
      "filtered overwrite must commit a single snapshot")
    assert(after.metadata.currentSnapshot.get.summary.get("operation")
      .contains("overwrite"))
    // untouched partitions keep their exact files
    val bFilesAfter = after.newScan.planFiles()
      .filter(_.file.partition.headOption.exists(v => String.valueOf(v) == "B"))
      .map(_.file.path).toSet
    assert(bFilesAfter === bFilesBefore)
    // content: A replaced, B/C intact
    val rows = spark.sql("SELECT k, seg FROM g.t_owp ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows === Seq((3L, "B"), (4L, "B"), (5L, "C"), (10L, "A"), (11L, "A")))
  }

  test("dynamic INSERT OVERWRITE replaces only the partitions present in the data") {
    spark.sql("""CREATE TABLE g.t_dyn (k BIGINT, seg STRING)
      PARTITIONED BY (seg)""")
    spark.sql("""INSERT INTO g.t_dyn VALUES
      (1, 'A'), (2, 'B'), (3, 'C')""")
    val before = catalog.loadTable("t_dyn")
    val snapsBefore = before.metadata.snapshots.length
    val cFiles = before.newScan.planFiles()
      .filter(t => String.valueOf(t.file.partition.head) == "C")
      .map(_.file.path).toSet
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      spark.sql("INSERT OVERWRITE g.t_dyn VALUES (10, 'A'), (20, 'B')")
    } finally spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    val after = catalog.loadTable("t_dyn")
    assert(after.metadata.snapshots.length === snapsBefore + 1)
    // C untouched (exact files), A/B replaced
    assert(after.newScan.planFiles()
      .filter(t => String.valueOf(t.file.partition.head) == "C")
      .map(_.file.path).toSet === cFiles)
    val rows = spark.sql("SELECT k, seg FROM g.t_dyn ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows === Seq((3L, "C"), (10L, "A"), (20L, "B")))
  }

  test("CREATE OR REPLACE TABLE AS SELECT is one atomic metadata swing") {
    spark.sql("CREATE TABLE g.t_rtas AS SELECT 1 AS k, 'old' AS v")
    val vBefore = catalog.currentVersion("t_rtas").get
    spark.sql("""CREATE OR REPLACE TABLE g.t_rtas
      PARTITIONED BY (tag)
      AS SELECT id AS k, CASE WHEN id % 2 = 0 THEN 'even' ELSE 'odd' END AS tag
      FROM range(6)""")
    // single CAS publish: exactly one catalog version past the old table
    assert(catalog.currentVersion("t_rtas").get === vBefore + 1)
    val t = catalog.loadTable("t_rtas")
    assert(t.spec.fields.map(_.transform) === Seq(Transforms.Identity))
    val rows = spark.sql("SELECT k, tag FROM g.t_rtas ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows === (0L to 5L).map(i => (i, if (i % 2 == 0) "even" else "odd")))
    // plain atomic CTAS: staged create publishes at version 1
    spark.sql("CREATE TABLE g.t_ctas2 AS SELECT 7 AS x")
    assert(catalog.currentVersion("t_ctas2").get === 1)
    assert(spark.sql("SELECT x FROM g.t_ctas2").head.getInt(0) === 7)
    // REPLACE of a missing table fails; CREATE of an existing table fails
    intercept[Exception](spark.sql("REPLACE TABLE g.t_missing AS SELECT 1 AS a"))
    intercept[Exception](spark.sql("CREATE TABLE g.t_ctas2 AS SELECT 1 AS a"))
  }

  test("staged replace wins over a concurrent append (replace-transaction semantics)") {
    import org.apache.spark.sql.connector.catalog.Identifier
    spark.sql("CREATE TABLE g.t_race AS SELECT 1 AS k")
    val spjCat = spark.sessionState.catalogManager.catalog("g")
      .asInstanceOf[graft.sources.GraftSpjCatalog]
    val ident = Identifier.of(Array.empty[String], "t_race")
    val staged = spjCat.stageReplace(ident,
      new org.apache.spark.sql.types.StructType()
        .add("k", org.apache.spark.sql.types.LongType),
      Array.empty, new java.util.HashMap[String, String]())
    // the table moves on while the replace is staged — a replace defines
    // the COMPLETE new table state, so it publishes on top (the
    // reference's replace-transaction semantics), not conflicts
    spark.sql("INSERT INTO g.t_race VALUES (2)")
    val vAfterInsert = catalog.currentVersion("t_race").get
    staged.commitStagedChanges()
    assert(catalog.currentVersion("t_race").get === vAfterInsert + 1)
    // the staged (empty) contents replaced everything, concurrent rows gone
    assert(spark.sql("SELECT count(*) FROM g.t_race").head.getLong(0) === 0L)
  }

  test("SHOW NAMESPACES / USE g.default on the flat catalog") {
    val ns = spark.sql("SHOW NAMESPACES IN g").collect().map(_.getString(0)).toSeq
    assert(ns === Seq("default"))
    spark.sql("USE g.default")
    try {
      spark.sql("CREATE TABLE t_nsq (k BIGINT)")
      spark.sql("INSERT INTO t_nsq VALUES (5)")
      assert(spark.sql("SELECT k FROM g.t_nsq").head.getLong(0) === 5L)
    } finally spark.sql("USE spark_catalog")
    intercept[Exception](spark.sql("CREATE NAMESPACE g.other"))
  }

  test("SHOW CREATE TABLE / SHOW TBLPROPERTIES render the catalog state") {
    spark.sql("""CREATE TABLE g.t_show (k BIGINT, seg STRING)
      PARTITIONED BY (bucket(4, k))
      TBLPROPERTIES ('write.target-file-size-bytes' = '1048576')""")
    val ddl = spark.sql("SHOW CREATE TABLE g.t_show").head.getString(0)
    assert(ddl.contains("t_show") && ddl.contains("k BIGINT"))
    assert(ddl.toLowerCase.contains("bucket(4, k)"))
    val props = spark.sql("SHOW TBLPROPERTIES g.t_show").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(props("write.target-file-size-bytes") === "1048576")
  }

  test("ANALYZE TABLE computes NDV statistics onto the current snapshot") {
    spark.sql("CREATE TABLE g.t_an AS SELECT id % 7 AS grp, id FROM range(100)")
    spark.sql("ANALYZE TABLE g.t_an COMPUTE STATISTICS FOR COLUMNS grp")
    val stats = catalog.loadTable("t_an").metadata.statistics
    assert(stats.nonEmpty, "no statistics file published")
    // FOR ALL COLUMNS covers both; NOSCAN is a no-op, not an error
    spark.sql("ANALYZE TABLE g.t_an COMPUTE STATISTICS FOR ALL COLUMNS")
    spark.sql("ANALYZE TABLE g.t_an COMPUTE STATISTICS NOSCAN")
    assert(catalog.loadTable("t_an").metadata.statistics.nonEmpty)
  }

  test("INSERT with column list, IF NOT EXISTS / IF EXISTS idioms") {
    spark.sql("CREATE TABLE g.t_idiom (a BIGINT, b STRING, c DOUBLE)")
    // column-list insert: unlisted columns fill with NULL
    spark.sql("INSERT INTO g.t_idiom (b, a) VALUES ('x', 1)")
    val r = spark.sql("SELECT a, b, c FROM g.t_idiom").head
    assert(r.getLong(0) === 1L && r.getString(1) === "x" && r.isNullAt(2))
    // IF NOT EXISTS: no error, no change
    spark.sql("CREATE TABLE IF NOT EXISTS g.t_idiom (z BIGINT)")
    assert(spark.table("g.t_idiom").columns.toSeq === Seq("a", "b", "c"))
    // DROP IF EXISTS on a missing table: silent
    spark.sql("DROP TABLE IF EXISTS g.t_nope")
    spark.sql("DROP TABLE IF EXISTS g.t_idiom")
    assert(!catalog.tableExists("t_idiom"))
  }

  test("TRUNCATE TABLE empties via metadata-only delete") {
    spark.sql("CREATE TABLE g.t_trunc (k BIGINT)")
    spark.sql("INSERT INTO g.t_trunc VALUES (1), (2), (3)")
    spark.sql("TRUNCATE TABLE g.t_trunc")
    assert(spark.sql("SELECT count(*) FROM g.t_trunc").head.getLong(0) === 0L)
    // table survives, schema intact, next insert works
    spark.sql("INSERT INTO g.t_trunc VALUES (9)")
    assert(spark.sql("SELECT k FROM g.t_trunc").head.getLong(0) === 9L)
  }

  test("manifest-derived scan statistics: a small catalog table auto-broadcasts") {
    spark.sql("CREATE TABLE g.stat_dim (k BIGINT, v STRING)")
    spark.sql("INSERT INTO g.stat_dim VALUES (1,'a'), (2,'b')")
    spark.sql("CREATE TABLE g.stat_fact (k BIGINT, x DOUBLE)")
    spark.sql("INSERT INTO g.stat_fact SELECT id % 2 + 1, id * 1.0 FROM range(1000)")

    val j = spark.sql(
      "SELECT f.k, d.v, f.x FROM g.stat_fact f JOIN g.stat_dim d ON f.k = d.k")
    assert(j.collect().length === 1000)
    // without estimateStatistics the DSv2 dim defaults to "unknown = huge"
    // and this would plan a sort-merge join
    assert(j.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      s"expected broadcast join:\n${j.queryExecution.executedPlan}")
  }

  // the Iceberg-Spark mergeSchema-on-write contract: the table opts in via
  // write.spark.accept-any-schema (analysis admits any frame), and a write
  // carrying .option("mergeSchema","true") union-by-name evolves the schema
  // FIRST (new columns optional, compatible types promoted) — one metadata
  // commit, then the data commit (reference UnionByName, update_schema.go)
  test("mergeSchema write evolves the table by union-by-name") {
    import spark.implicits._
    spark.sql("""CREATE TABLE g.ms (k BIGINT, v STRING)
      TBLPROPERTIES ('write.spark.accept-any-schema'='true')""")
    spark.sql("INSERT INTO g.ms VALUES (1, 'a')")

    Seq((2L, "b", 3.5)).toDF("k", "v", "score")
      .writeTo("g.ms").option("mergeSchema", "true").append()

    val rows = spark.sql("SELECT k, v, score FROM g.ms ORDER BY k").collect()
    assert(rows.length === 2)
    assert(rows(0).isNullAt(2), "pre-evolution row reads null for the new column")
    assert(rows(1).getDouble(2) === 3.5)
    // evolved column is optional
    val f = catalog.loadTable("ms").schema.findField("score").get
    assert(!f.required)

    // accept-any-schema WITHOUT mergeSchema: analysis admits the frame but
    // the write-compat check still refuses unknown columns — no silent drop
    intercept[Exception](Seq((3L, "c", 1.0, 9)).toDF("k", "v", "score", "extra")
      .writeTo("g.ms").append())

    // mergeSchema against a table that did NOT opt in: refused
    spark.sql("CREATE TABLE g.ms2 (k BIGINT)")
    intercept[Exception](Seq((1L, 2.0)).toDF("k", "x")
      .writeTo("g.ms2").option("mergeSchema", "true").append())
  }
}
