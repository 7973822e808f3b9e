package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.catalog.HadoopCatalog
import graft.format.DataFileContent

/** Merge-on-read SQL DML: `write.*.mode = 'merge-on-read'` routes
  * DELETE / UPDATE / MERGE through the delta row-level operation —
  * deletion vectors + insert files, no data-file rewrites.
  */
class MorDmlSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val wh = Files.createTempDirectory("graft-mordml").toString
  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.conf.set("spark.sql.catalog.g", classOf[graft.sources.GraftSpjCatalog].getName)
    s.conf.set("spark.sql.catalog.g.uri", wh)
    s
  }
  private lazy val catalog = new HadoopCatalog(wh)

  override def afterAll(): Unit = spark.stop()

  private def dataFilePaths(name: String): Set[String] =
    catalog.loadTable(name).newScan.planFiles().map(_.file.path).toSet

  private def dvCount(name: String): Int =
    catalog.loadTable(name).newScan.planFiles()
      .flatMap(_.posDeletes.filter(_.format == "PUFFIN")).distinct.length

  private def upgradeV3(name: String): Unit = {
    graft.table.Evolve.upgradeFormatVersion(catalog.loadTable(name), 3)
    ()
  }

  test("MoR DELETE writes a DV, rewrites nothing") {
    spark.sql("""CREATE TABLE g.md (k BIGINT, v STRING)
      TBLPROPERTIES ('write.delete.mode' = 'merge-on-read')""")
    upgradeV3("md")
    spark.sql("INSERT INTO g.md SELECT id, concat('v', id) FROM range(100)")
    val before = dataFilePaths("md")

    spark.sql("DELETE FROM g.md WHERE k % 10 = 3")

    assert(spark.sql("SELECT count(*) FROM g.md").head.getLong(0) === 90)
    assert(spark.sql("SELECT count(*) FROM g.md WHERE k % 10 = 3").head.getLong(0) === 0)
    assert(dataFilePaths("md") === before, "no data file rewritten")
    assert(dvCount("md") >= 1, "deletion vector(s) attached")
    assert(catalog.loadTable("md").metadata.currentSnapshot.get
      .summary("operation") === "overwrite")
  }

  test("second MoR DELETE supersedes the first DV (positions fold)") {
    spark.sql("DELETE FROM g.md WHERE k % 10 = 7")
    assert(spark.sql("SELECT count(*) FROM g.md").head.getLong(0) === 80)
    // both delete rounds still apply
    assert(spark.sql("SELECT count(*) FROM g.md WHERE k % 10 IN (3, 7)")
      .head.getLong(0) === 0)
    // each commit removed the DVs it superseded, on the SQL route and the
    // programmatic one alike: one live DV per data file
    def liveDvTargets(): Seq[String] =
      graft.table.Inspect.deleteFiles(spark, catalog.loadTable("md"))
        .filter("file_format = 'PUFFIN'").select("referenced_data_file")
        .collect().map(_.getString(0)).toSeq
    assert(liveDvTargets().nonEmpty)
    assert(liveDvTargets().distinct.size === liveDvTargets().size, liveDvTargets())
    // re-deleting a deleted row still writes a DV that folds and
    // supersedes the one on its file
    graft.table.Writer.deleteWhereDV(spark, catalog.loadTable("md"),
      graft.core.Expr.eq("k", 3L))
    assert(spark.sql("SELECT count(*) FROM g.md").head.getLong(0) === 80)
    assert(liveDvTargets().distinct.size === liveDvTargets().size, liveDvTargets())
  }

  test("v2 table: MoR DELETE writes spec-ordered parquet positional deletes") {
    spark.sql("""CREATE TABLE g.m2 (k BIGINT)
      TBLPROPERTIES ('write.delete.mode' = 'merge-on-read')""")
    spark.sql("INSERT INTO g.m2 SELECT id FROM range(40)")
    val before = dataFilePaths("m2")
    spark.sql("DELETE FROM g.m2 WHERE k % 4 = 1")
    assert(spark.sql("SELECT count(*) FROM g.m2").head.getLong(0) === 30)
    assert(dataFilePaths("m2") === before, "no data file rewritten")
    val dels = catalog.loadTable("m2").newScan.planFiles()
      .flatMap(_.posDeletes).distinct
    assert(dels.nonEmpty && dels.forall(_.format == "PARQUET"),
      s"v2 deletes must be parquet, got ${dels.map(_.format)}")
    // rows in each delete file honor (file_path ASC, pos ASC) spec order
    dels.map(_.path).distinct.foreach { p =>
      val rows = spark.read.parquet(p)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(rows === rows.sorted, s"delete rows in $p not in spec order")
    }
  }

  // reference `table/mor_delete_pruning_test.go`: a MoR DELETE whose filter
  // prunes a leading parquet row group must still delete the right PHYSICAL
  // rows — a dense position counter over surviving groups would target the
  // wrong row. Our positions come from Spark's `_metadata.row_index`, which
  // is generated from parquet footer row-group offsets, so pruned groups
  // don't shift it; this pins that end-to-end on both the write side (delete
  // generation) and the read side (delete application under a row-group-
  // pruning residual filter).
  test("v2 table carrying a DV: MoR DELETE, UPDATE and compaction keep writing DVs") {
    spark.sql("""CREATE TABLE g.m2dv (k BIGINT, v STRING)
      TBLPROPERTIES ('write.delete.mode' = 'merge-on-read',
        'write.update.mode' = 'merge-on-read')""")
    spark.sql("INSERT INTO g.m2dv SELECT id, 'a' FROM range(40)")
    graft.table.Writer.deleteWhereMoR(spark, catalog.loadTable("m2dv"),
      graft.core.Expr.eq("k", 1L))
    graft.table.Writer.deleteWhereDV(spark, catalog.loadTable("m2dv"),
      graft.core.Expr.eq("k", 3L))
    // the DV supersedes the file's parquet deletes at read time: a parquet
    // delete written beside it would be lost
    spark.sql("DELETE FROM g.m2dv WHERE k = 5")
    spark.sql("UPDATE g.m2dv SET v = 'b' WHERE k = 7")
    def check(): Unit = {
      assert(spark.sql("SELECT k FROM g.m2dv WHERE k IN (1, 3, 5)").count() === 0)
      assert(spark.sql("SELECT count(*) FROM g.m2dv").head.getLong(0) === 37)
      assert(spark.sql("SELECT v FROM g.m2dv WHERE k = 7").collect().map(_.getString(0)).toSeq ===
        Seq("b"))
    }
    check()
    val r = graft.table.Maintenance.rewritePositionDeleteFiles(spark, catalog.loadTable("m2dv"))
    assert(r.rewrittenDeleteFiles === 1)
    check()
    assert(catalog.loadTable("m2dv").newScan.planFiles().flatMap(_.posDeletes)
      .forall(_.format == "PUFFIN"))
  }

  test("MoR DELETE across pruned row groups targets physical positions") {
    spark.sql("""CREATE TABLE g.rg (k BIGINT, pad STRING)
      TBLPROPERTIES ('write.delete.mode' = 'merge-on-read',
                     'write.parquet.row-group-size-bytes' = '4096')""")
    // sorted single file -> tight per-row-group k ranges -> stats prune
    spark.sql("""INSERT INTO g.rg
      SELECT /*+ COALESCE(1) */ id, repeat('x', 64) FROM range(8000) ORDER BY id""")
    val files = dataFilePaths("rg")
    assert(files.size === 1, s"test needs one data file, got ${files.size}")
    val footer = org.apache.parquet.hadoop.ParquetFileReader.readFooter(
      new org.apache.hadoop.conf.Configuration(),
      new org.apache.hadoop.fs.Path(files.head))
    assert(footer.getBlocks.size() > 1,
      s"test needs >1 row groups, got ${footer.getBlocks.size()}")

    // matches only the LAST row group; the candidate scan prunes the rest
    spark.sql("DELETE FROM g.rg WHERE k = 7997")

    assert(spark.sql("SELECT count(*) FROM g.rg").head.getLong(0) === 7999)
    assert(spark.sql("SELECT count(*) FROM g.rg WHERE k = 7997").head.getLong(0) === 0)
    // the dense-counter victim (same position counted over surviving groups
    // only) would be a low id — it must survive
    assert(spark.sql("SELECT count(*) FROM g.rg WHERE k < 10").head.getLong(0) === 10)
    // read side: a filter that prunes leading row groups still applies the
    // delete to the right physical row
    assert(spark.sql("SELECT count(*) FROM g.rg WHERE k >= 7000")
      .head.getLong(0) === 999)
  }

  test("MoR UPDATE deletes old positions and inserts new rows") {
    spark.sql("""CREATE TABLE g.mu (k BIGINT, v STRING)
      TBLPROPERTIES ('write.update.mode' = 'merge-on-read')""")
    upgradeV3("mu")
    spark.sql("INSERT INTO g.mu SELECT id, concat('v', id) FROM range(50)")
    val before = dataFilePaths("mu")

    spark.sql("UPDATE g.mu SET v = 'updated' WHERE k < 5")

    assert(spark.sql("SELECT count(*) FROM g.mu").head.getLong(0) === 50)
    assert(spark.sql("SELECT count(*) FROM g.mu WHERE v = 'updated'")
      .head.getLong(0) === 5)
    assert(before.subsetOf(dataFilePaths("mu")),
      "original files survive; update adds insert files")
    assert(dvCount("mu") >= 1)
  }

  test("MoR MERGE: matched rows update, unmatched insert, one snapshot") {
    spark.sql("""CREATE TABLE g.mm (k BIGINT, v DOUBLE)
      TBLPROPERTIES ('write.merge.mode' = 'merge-on-read')""")
    spark.sql("INSERT INTO g.mm VALUES (1, 1.0), (2, 2.0), (3, 3.0)")
    spark.sql("CREATE TABLE g.mm_src (k BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO g.mm_src VALUES (2, 20.0), (9, 90.0)")
    val snapsBefore = catalog.loadTable("mm").metadata.snapshots.length

    spark.sql("""MERGE INTO g.mm t USING g.mm_src s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""")

    val got = spark.sql("SELECT k, v FROM g.mm ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.toSeq === Seq((1L, 1.0), (2L, 20.0), (3L, 3.0), (9L, 90.0)))
    assert(catalog.loadTable("mm").metadata.snapshots.length === snapsBefore + 1)
  }

  test("compaction folds MoR DML state back into clean files") {
    val res = graft.table.Maintenance.rewriteDataFiles(
      spark, catalog.loadTable("md"), rewriteAll = true)
    assert(res.removedDeleteFiles >= 1)
    assert(spark.sql("SELECT count(*) FROM g.md").head.getLong(0) === 80)
    assert(dvCount("md") === 0)
  }

  test("compaction collects DEAD equality deletes (CDC backlog shape)") {
    // reference compaction/eq_delete_decision.go + iceberg-go#946: an
    // eq-delete applicable to NO live data file (here: committed before
    // any data existed, so every file's sequence is >= its own) rides in
    // every snapshot's manifests forever unless compaction collects it
    import org.apache.spark.sql.functions.col
    import graft.core.SchemaBridge
    import graft.format.{ManifestContent, PartitionSpec}
    import graft.table.Writer
    spark.sql("SELECT 1").collect() // session up
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val t0 = catalog.createTable("dead_eq",
      SchemaBridge.fromSpark(df.schema), PartitionSpec.Unpartitioned)
    // seq 1: eq-delete on the EMPTY table — dead on arrival
    val t1 = Writer.equalityDelete(spark, t0,
      Seq(99L).toDF("k"), Seq("k"))
    // seq 2: data; seq 3: a live eq-delete that folds during compaction
    val t2 = Writer.append(spark, t1, df)
    val t3 = Writer.equalityDelete(spark, t2, Seq(2L).toDF("k"), Seq("k"))
    def eqDeleteFiles(t: graft.table.Table): Seq[String] =
      t.metadata.currentSnapshot
        .map(s => graft.format.Manifests.readManifestList(s.manifestList))
        .getOrElse(Nil)
        .filter(_.content == ManifestContent.Deletes)
        .flatMap(m => graft.format.Manifests.readManifest(m.path)._1
          .filter(_.status != graft.format.ManifestEntryStatus.Deleted)
          .map(_.file))
        .filter(_.content == graft.format.DataFileContent.EqualityDeletes)
        .map(_.path).distinct
    assert(eqDeleteFiles(t3).size === 2, "both delete files live pre-compaction")
    val res = graft.table.Maintenance.rewriteDataFiles(spark, t3, rewriteAll = true)
    assert(res.removedDeleteFiles >= 2,
      s"dead + folded eq-deletes both collected, got ${res.removedDeleteFiles}")
    assert(eqDeleteFiles(res.table).isEmpty,
      "no eq-delete file survives the compaction")
    val rows = graft.table.SparkRead.read(spark, res.table.newScan)
      .select(col("k")).as[Long].collect().sorted
    assert(rows.toSeq === Seq(1L, 3L), "fold applied, nothing resurrected")
  }

  test("v3 snapshots record first-row-id + added-rows on the metadata wire") {
    // spec-strict v3 readers REQUIRE both (Java rejects a v3 snapshot
    // without them); a delete-only commit records added-rows 0 at the
    // unchanged cursor
    import graft.core.SchemaBridge
    import graft.format.PartitionSpec
    import graft.table.Writer
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val t0 = graft.table.Evolve.upgradeFormatVersion(
      catalog.createTable("rl_wire",
        SchemaBridge.fromSpark(df.schema), PartitionSpec.Unpartitioned), 3)
    assert(t0.metadata.formatVersion >= 3)
    val t1 = Writer.append(spark, t0, df)
    val s1 = t1.metadata.currentSnapshot.get
    assert(s1.firstRowId === Some(0L) && s1.addedRows === Some(3L))
    assert(t1.metadata.nextRowId === 3L)
    val t2 = Writer.append(spark, t1, df.filter(org.apache.spark.sql.functions.col("k") === 1L))
    val s2 = t2.metadata.currentSnapshot.get
    assert(s2.firstRowId === Some(3L) && s2.addedRows === Some(1L))
    // delete-only commit: block starts at the cursor, zero rows assigned
    val t3 = Writer.equalityDelete(spark, t2, Seq(2L).toDF("k"), Seq("k"))
    val s3 = t3.metadata.currentSnapshot.get
    assert(s3.firstRowId === Some(4L) && s3.addedRows === Some(0L))
    assert(t3.metadata.nextRowId === 4L)
    // survives the metadata JSON round trip
    val re = graft.format.TableMetadata.fromJson(
      graft.format.TableMetadata.toJson(t3.metadata))
    assert(re.currentSnapshot.get.firstRowId === Some(4L))
    assert(re.currentSnapshot.get.addedRows === Some(0L))
  }

  test("_file and _pos are queryable metadata columns on catalog reads") {
    spark.sql("CREATE TABLE g.mc (k BIGINT)")
    spark.sql("INSERT INTO g.mc VALUES (10), (11)")
    val rows = spark.sql("SELECT k, _file, _pos FROM g.mc ORDER BY k").collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(10L, 11L))
    assert(rows.forall(_.getString(1).endsWith(".parquet")))
    assert(rows.map(_.getLong(2)).forall(_ >= 0L))
  }

  test("rewrite_position_delete_files on v3 folds legacy parquet deletes into DVs") {
    spark.sql("CREATE TABLE g.rv (k BIGINT, v STRING)")
    spark.sql("INSERT INTO g.rv SELECT id, concat('v', id) FROM range(200)")
    // legacy v2 parquet pos-deletes, then the upgrade strands them
    graft.table.Writer.deleteWhereMoR(spark, catalog.loadTable("rv"),
      graft.core.Expr.lt("k", 50L))
    graft.table.Evolve.upgradeFormatVersion(catalog.loadTable("rv"), 3)
    val r = graft.table.Maintenance.rewritePositionDeleteFiles(
      spark, catalog.loadTable("rv"))
    assert(r.rewrittenDeleteFiles >= 1 && r.addedDeleteFiles >= 1)
    // v3 output is DVs, never new parquet pos-delete files
    val dels = catalog.loadTable("rv").newScan.planFiles().flatMap(_.posDeletes)
    assert(dels.nonEmpty && dels.forall(_.format == "PUFFIN"),
      s"expected DV-only delete state, got ${dels.map(_.format).distinct}")
    assert(spark.sql("SELECT count(*) FROM g.rv").head.getLong(0) === 150L)
    assert(spark.sql("SELECT min(k) FROM g.rv").head.getLong(0) === 50L)
  }

  test("pos-delete rewrite matches scheme-spelled file_path against canonical live paths") {
    // A delete writer on a scheme-prefixed location records file:/...-spelled
    // targets while the maintenance walk canonicalizes live paths to /... —
    // the rewrite's semi join must fold the column to the canonical form, or
    // every live delete row is misclassified dangling and the deleted rows
    // RESURRECT after the procedure.
    spark.sql("""CREATE TABLE g.rcanon (k BIGINT, v STRING)
      TBLPROPERTIES ('write.delete.mode' = 'merge-on-read')""")
    spark.sql("INSERT INTO g.rcanon SELECT id, concat('v', id) FROM range(200)")
    graft.table.Writer.deleteWhereMoR(spark, catalog.loadTable("rcanon"),
      graft.core.Expr.lt("k", 50L))
    assert(spark.sql("SELECT count(*) FROM g.rcanon").head.getLong(0) === 150L)
    // rewrite the pos-delete parquet in place with scheme-spelled targets
    val posFiles = catalog.loadTable("rcanon").newScan.planFiles()
      .flatMap(_.posDeletes.filter(_.format != "PUFFIN")).map(_.path).distinct
    assert(posFiles.nonEmpty)
    posFiles.foreach { pf =>
      import org.apache.spark.sql.functions.{col, concat, lit}
      val respelled = spark.read.parquet(pf)
        .select(concat(lit("file:"), col("file_path")).as("file_path"), col("pos"))
        .collect()
      import spark.implicits._
      val tmp = Files.createTempDirectory("graft-respell").toString
      respelled.map(r => (r.getString(0), r.getLong(1))).toSeq
        .toDF("file_path", "pos").coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = graft.table.Writer.listParquet(tmp).head
      graft.io.FileIO.delete(pf)
      graft.io.FileIO.move(part, pf)
    }
    assert(spark.sql("SELECT count(*) FROM g.rcanon").head.getLong(0) === 150L)
    val r = graft.table.Maintenance.rewritePositionDeleteFiles(
      spark, catalog.loadTable("rcanon"))
    assert(r.rewrittenDeleteFiles >= 1 && r.addedDeleteFiles >= 1,
      s"expected a real rewrite, got $r")
    // the deleted rows stay deleted — nothing resurrected
    assert(spark.sql("SELECT count(*) FROM g.rcanon").head.getLong(0) === 150L)
    assert(spark.sql("SELECT min(k) FROM g.rcanon").head.getLong(0) === 50L)
  }

  test("MoR MERGE inserts fan out by partition — one open writer, DV invariant holds") {
    spark.sql("""CREATE TABLE g.mp (k BIGINT, seg BIGINT, v DOUBLE)
      PARTITIONED BY (identity(seg))
      TBLPROPERTIES ('write.merge.mode' = 'merge-on-read')""")
    upgradeV3("mp")
    // 12 partitions on 4 tasks: inserts span every partition
    spark.sql("""INSERT INTO g.mp
      SELECT id, pmod(id, 12), CAST(id AS DOUBLE) FROM range(0, 1200)""")
    spark.sql("""SELECT CAST(id + 10000 AS BIGINT) AS k,
        CAST(pmod(id, 12) AS BIGINT) AS seg, CAST(id AS DOUBLE) AS v
      FROM range(0, 1200)
      UNION ALL
      SELECT CAST(id AS BIGINT), CAST(pmod(id, 12) AS BIGINT), CAST(-1 AS DOUBLE)
      FROM range(0, 1200) WHERE id % 3 = 0""").createOrReplaceTempView("mp_src")
    graft.sources.GraftCowWriterMetrics.reset()
    spark.sql("""MERGE INTO g.mp t USING mp_src s ON t.k = s.k AND t.seg = s.seg
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED THEN INSERT (k, seg, v) VALUES (s.k, s.seg, s.v)""")
    // insert rows arrive clustered+sorted by partition → one open writer
    // per task (the commit's own require() already pins one-DV-per-file)
    assert(graft.sources.GraftCowWriterMetrics.peakOpenWriters === 1,
      s"delta insert fanout held ${graft.sources.GraftCowWriterMetrics.peakOpenWriters} writers")
    assert(spark.sql("SELECT count(*) FROM g.mp").head.getLong(0) === 2400L)
    assert(spark.sql("SELECT count(*) FROM g.mp WHERE v = -1").head.getLong(0) === 400L)
  }
}
