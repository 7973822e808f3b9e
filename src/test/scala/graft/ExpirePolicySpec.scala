package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.catalog.HadoopCatalog
import graft.core._
import graft.format.PartitionSpec
import graft.table.{Evolve, Maintenance, SparkRead, Writer}

/** Retention-policy snapshot expiry: ref max-ref-age-ms, branch
  * min-snapshots-to-keep, and the history.expire.* table defaults.
  */
class ExpirePolicySpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("ref aging and branch ancestry retention") {
    import spark.implicits._
    val cat = new HadoopCatalog(Files.createTempDirectory("graft-exp").toString)
    val df = Seq((1L, "a")).toDF("id", "v")
    val schema = SchemaBridge.fromSpark(df.schema)
    var t = cat.createTable("exp", schema, PartitionSpec.Unpartitioned,
      properties = Map("history.expire.max-snapshot-age-ms" -> "5000"))
    t = Writer.append(spark, t, df) // s1
    val s1 = t.metadata.currentSnapshotId.get
    t = Writer.append(spark, t, df) // s2
    t = Writer.append(spark, t, df) // s3
    val s3 = t.metadata.currentSnapshotId.get
    t = Writer.append(spark, t, df) // s4
    val s4 = t.metadata.currentSnapshotId.get
    // a tag that ages out in 1ms, and a branch protecting 2 ancestors
    t = Evolve.setRef(t, "old-tag", s1, "tag", maxRefAgeMs = Some(1L))
    t = Evolve.setRef(t, "dev", s3, "branch", minSnapshotsToKeep = Some(2))

    val res = Maintenance.expireSnapshotsByPolicy(t,
      nowMs = System.currentTimeMillis() + 60000)
    val meta = res.table.metadata
    // aged tag is gone; dev + main survive
    assert(!meta.refs.contains("old-tag"))
    assert(meta.refs.contains("dev") && meta.refs.contains("main"))
    // dev protects s3 + its parent s2; main protects s4; s1 expires
    assert(res.expiredSnapshots === Seq(s1))
    assert(meta.snapshots.map(_.snapshotId).toSet === Set(s3, s4,
      meta.snapshotById(s3).get.parentSnapshotId.get))
    // s1's manifest list is gone from storage, data files stay (still
    // referenced by the surviving snapshots' cumulative manifests)
    assert(res.deletedFiles.exists(_.contains("snap-")))
    // tags only accept ref-age retention
    intercept[IllegalArgumentException] {
      Evolve.setRef(res.table, "t2", s4, "tag", minSnapshotsToKeep = Some(1))
    }
    // idempotent second run: nothing left to expire
    val res2 = Maintenance.expireSnapshotsByPolicy(res.table,
      nowMs = System.currentTimeMillis() + 60000)
    assert(res2.expiredSnapshots.isEmpty)
  }

  test("upsert, MoR delete, compaction and expire rounds leave no files behind") {
    import spark.implicits._
    val whDir = Files.createTempDirectory("graft-exp-rounds").toString
    val cat = new HadoopCatalog(whDir)
    val df = (0L until 400L).map(k => (k, s"v$k")).toDF("k", "v")
    val schema = SchemaBridge.fromSpark(df.schema)
    var t = cat.createTable("rounds", schema,
      PartitionSpec.builder(schema).add("k", Transforms.Bucket(4)).build(),
      properties = Map(
        "write.metadata.delete-after-commit.enabled" -> "true",
        "write.metadata.previous-versions-max" -> "4",
        "write.delete.mode" -> "merge-on-read",
        "write.merge.mode" -> "merge-on-read"))
    t = Evolve.upgradeFormatVersion(t, 3)
    t = Writer.append(spark, t, df)
    def files(): Seq[String] =
      graft.io.FileIO.listFilesRecursive(t.location).map(_.path).sorted
    spark.conf.set("spark.sql.catalog.gexp", classOf[graft.sources.GraftSpjCatalog].getName)
    spark.conf.set("spark.sql.catalog.gexp.uri", whDir)
    val live = scala.collection.mutable.Set((0L until 400L): _*)
    val counts = (1 to 6).map { r =>
      t = Writer.upsert(spark, t,
        Seq((r.toLong, s"u$r"), (100L + r, s"u$r")).toDF("k", "v"), Seq("k"))
      val merged = spark.sql(s"SELECT _file FROM gexp.rounds WHERE k = ${300L + r}")
        .head.getString(0)
      Seq((300L + r, s"m$r"), (1000L + r, s"m$r")).toDF("k", "v")
        .createOrReplaceTempView("exp_merge_src")
      spark.sql("""MERGE INTO gexp.rounds t USING exp_merge_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
      // one deleted key shares the merged row's old file: its DV
      // supersedes the MERGE's DV there
      val neighbour = spark.sql("SELECT k, _file FROM gexp.rounds").collect()
        .collect { case row if row.getString(1) == merged && row.getLong(0) >= 200 => row.getLong(0) }
        .min
      spark.sql(s"DELETE FROM gexp.rounds WHERE k IN (${200L + r}, $neighbour)").collect()
      live += 1000L + r
      live --= Seq(200L + r, neighbour)
      t = cat.loadTable("rounds")
      val c = Maintenance.rewriteDataFiles(spark, t)
      t = Maintenance.expireSnapshots(c.table, System.currentTimeMillis(),
        retainLast = 1).table
      files().size
    }
    assert(counts.drop(2).distinct.size === 1,
      s"files under the table location by round: $counts\n${files().mkString("\n")}")
    assert(SparkRead.read(spark, t.newScan).select("k").collect().map(_.getLong(0)).toSet ===
      live.toSet)
  }
}
