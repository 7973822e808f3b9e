package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.catalog.HadoopCatalog

/** The streaming SQL-table surface: `df.writeStream.toTable("g.t")` and
  * `spark.readStream.table("g.t")` — DSv2 STREAMING_WRITE /
  * MICRO_BATCH_READ on the catalog tables, snapshot-per-epoch with the
  * sink's exactly-once batch-id discipline, snapshot-log offsets on the
  * read side.
  */
class StreamingTableSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val wh = Files.createTempDirectory("graft-sttbl").toString
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

  test("writeStream.toTable commits one snapshot per epoch; partitioned fanout") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    spark.sql("""CREATE TABLE g.st_out (id BIGINT, seg STRING)
      PARTITIONED BY (identity(seg))""")
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("id", "seg").writeStream
      .option("checkpointLocation", Files.createTempDirectory("ckpt-w").toString)
      .toTable("g.st_out")
    input.addData((1L, "A"), (2L, "B"))
    q.processAllAvailable()
    input.addData((3L, "A"))
    q.processAllAvailable()
    q.stop()

    val t = catalog.loadTable("st_out")
    assert(spark.sql("SELECT count(*) FROM g.st_out").head.getLong(0) === 3)
    assert(t.metadata.snapshots.size === 2)
    assert(t.metadata.currentSnapshot.get.summary("operation") === "append")
    // partition routing: files land under seg= directories with real stats
    val files = t.newScan.planFiles()
    assert(files.forall(_.file.path.contains("seg=")))
    // partition pruning works on streamed-in files
    assert(spark.sql("SELECT count(*) FROM g.st_out WHERE seg = 'A'")
      .head.getLong(0) === 2)
  }

  test("readStream.table: first batch = current table, then per-append batches") {
    import spark.implicits._
    spark.sql("CREATE TABLE g.st_in (id BIGINT, v STRING)")
    spark.sql("INSERT INTO g.st_in VALUES (1,'a'), (2,'b')")

    val ckpt = Files.createTempDirectory("ckpt-r").toString
    val outDir = Files.createTempDirectory("out-r").toString
    def runOnce(): Unit = {
      val q = spark.readStream.table("g.st_in")
        .writeStream.format("parquet")
        .option("checkpointLocation", ckpt)
        .option("path", outDir)
        .start()
      q.processAllAvailable()
      q.stop()
    }
    runOnce()
    assert(spark.read.parquet(outDir).count() === 2, "first batch = full table")

    spark.sql("INSERT INTO g.st_in VALUES (3,'c')")
    runOnce()
    val got = spark.read.parquet(outDir).as[(Long, String)].collect().toMap
    assert(got === Map(1L -> "a", 2L -> "b", 3L -> "c"),
      "second run reads ONLY the appended snapshot (no re-read)")
  }

  test("streaming round-trip: readStream.table -> transform -> toTable") {
    import spark.implicits._
    spark.sql("CREATE TABLE g.rt_src (id BIGINT)")
    spark.sql("CREATE TABLE g.rt_dst (id BIGINT, doubled BIGINT)")
    spark.sql("INSERT INTO g.rt_src VALUES (1), (2), (3)")

    val q = spark.readStream.table("g.rt_src")
      .selectExpr("id", "id * 2 AS doubled")
      .writeStream
      .option("checkpointLocation", Files.createTempDirectory("ckpt-rt").toString)
      .toTable("g.rt_dst")
    q.processAllAvailable()
    q.stop()

    val rows = spark.sql("SELECT id, doubled FROM g.rt_dst ORDER BY id")
      .as[(Long, Long)].collect()
    assert(rows.toSeq === Seq((1L, 2L), (2L, 4L), (3L, 6L)))
  }

  test("maxFilesPerTrigger paces catch-up into bounded micro-batches") {
    import spark.implicits._
    spark.sql("CREATE TABLE g.mft_src (id BIGINT)")
    spark.sql("CREATE TABLE g.mft_dst (id BIGINT)")
    spark.sql("INSERT INTO g.mft_src VALUES (0)")
    val ckpt = Files.createTempDirectory("ckpt-mft").toString
    // prime the checkpoint past the initial full-table batch
    def run(): Long = {
      val q = spark.readStream
        .option("maxFilesPerTrigger", "1")
        .table("g.mft_src")
        .writeStream.option("checkpointLocation", ckpt)
        .toTable("g.mft_dst")
      q.processAllAvailable()
      val batches = q.lastProgress.batchId
      q.stop()
      batches
    }
    run()
    // a 3-snapshot backlog (1 file each) must page through 3 batches
    (1 to 3).foreach(i => spark.sql(s"INSERT INTO g.mft_src VALUES ($i)"))
    val lastBatch = run()
    assert(lastBatch >= 3, s"expected >=3 paced batches, got $lastBatch")
    assert(spark.sql("SELECT count(*) FROM g.mft_dst").head.getLong(0) === 4)
  }

  test("Trigger.AvailableNow drains the pinned head and stops") {
    spark.sql("CREATE TABLE g.an_src (id BIGINT)")
    spark.sql("CREATE TABLE g.an_dst (id BIGINT)")
    spark.sql("INSERT INTO g.an_src VALUES (1), (2)")
    val q = spark.readStream.table("g.an_src")
      .writeStream
      .option("checkpointLocation", Files.createTempDirectory("ckpt-an").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable("g.an_dst")
    q.awaitTermination(60000)
    assert(!q.isActive, "AvailableNow query terminates on its own")
    assert(spark.sql("SELECT count(*) FROM g.an_dst").head.getLong(0) === 2)
  }

  test("readStream.table reads a snapshotImport without field ids through its name mapping") {
    import org.apache.spark.sql.functions.col
    val src = Files.createTempDirectory("st-import-src").toString + "/flat"
    val rows = spark.range(0, 100).select(col("id"), (col("id") % 7).cast("string").as("v"))
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "false")
    try rows.repartition(3).write.parquet(src)
    finally spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    graft.table.Writer.snapshotImport(spark, catalog, src, "st_import")
    val want = rows.collect().map(_.toString).sorted.toSeq

    def streamed(session: SparkSession): Seq[String] = {
      val out = Files.createTempDirectory("out-import").toString
      val q = session.readStream.table("g.st_import")
        .writeStream.format("parquet")
        .option("checkpointLocation", Files.createTempDirectory("ckpt-import").toString)
        .option("path", out)
        .start()
      q.processAllAvailable()
      q.stop()
      session.read.parquet(out).select("id", "v").collect().map(_.toString).sorted.toSeq
    }
    // a session that never ran SparkRead, then one that did
    val fresh = spark.newSession()
    fresh.conf.set("spark.sql.catalog.g", classOf[graft.sources.GraftSpjCatalog].getName)
    fresh.conf.set("spark.sql.catalog.g.uri", wh)
    assert(streamed(fresh) === want, "fresh session")
    graft.table.SparkRead.read(spark, catalog.loadTable("st_import").newScan).count()
    assert(streamed(spark) === want, "session after SparkRead")
  }
}
