package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.catalog.HadoopCatalog
import graft.core.{Expr, SchemaBridge}
import graft.format.{DataFile, DataFileContent, PartitionSpec}
import graft.table.{SparkRead, Writer}

/** ORC data-file interop. The reference VALIDATES ORC entries in
  * AddDataFiles (`table/transaction.go:792`) but its scanner reads only
  * parquet (`arrow_scanner.go:1008`); we go further and SCAN them — by
  * name, with value-based features (residual filters, equality deletes,
  * CoW rewrites) working unchanged, and position-based features
  * (positional deletes, DVs, row lineage) rejected loudly because Spark's
  * ORC source provides no `_metadata.row_index`.
  */
class OrcInteropSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val wh = Files.createTempDirectory("graft-orc").toString
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

  private def orcPaths(dir: String): Seq[String] =
    graft.io.FileIO.listFilesRecursive(dir).map(_.path).filter(_.endsWith(".orc"))

  test("ORC files import via addFiles and scan with filters + aggregates") {
    import spark.implicits._
    val df = spark.range(1000).toDF("k")
      .withColumn("seg", concat(lit("s"), (col("k") % 5).cast("string")))
    val tmp = s"$wh/orc-src-1"
    df.repartition(4).write.orc(tmp)

    val schema = SchemaBridge.fromSpark(df.schema)
    val t0 = catalog.createTable("orc1", schema, PartitionSpec.Unpartitioned)
    val t1 = Writer.addFiles(spark, t0, orcPaths(tmp))
    assert(t1.newScan.planFiles().forall(_.file.format == "ORC"))
    assert(t1.newScan.planFiles().forall(_.file.recordCount > 0),
      "ORC footer row counts harvested")

    val back = SparkRead.read(spark, t1.newScan)
    assert(back.count() === 1000)
    assert(back.agg(sum("k")).head.getLong(0) === (0L until 1000L).sum)
    // residual filter over ORC rows
    val filtered = SparkRead.read(spark, t1.newScan.withFilter(Expr.eq("seg", "s3")))
    assert(filtered.count() === 200)
    assert(filtered.select("seg").distinct().collect().map(_.getString(0)).toSeq === Seq("s3"))
  }

  test("equality deletes apply over ORC data files (value-based, no positions)") {
    import spark.implicits._
    val t1 = catalog.loadTable("orc1")
    val t2 = Writer.equalityDelete(spark, t1,
      Seq(7L, 8L, 9L).toDF("k"), Seq("k"))
    val ks = SparkRead.read(spark, t2.newScan).select("k")
      .collect().map(_.getLong(0)).toSet
    assert(ks.size === 997 && !ks(7L) && !ks(8L) && !ks(9L))
  }

  test("mixed parquet + ORC table scans consistently; SQL surface works") {
    import spark.implicits._
    val t3 = catalog.loadTable("orc1")
    val extra = spark.range(1000, 1100).toDF("k").withColumn("seg", lit("sX"))
    val t4 = Writer.append(spark, t3, extra) // parquet append beside ORC
    val formats = t4.newScan.planFiles().map(_.file.format).toSet
    assert(formats === Set("ORC", "PARQUET"))
    assert(SparkRead.read(spark, t4.newScan).count() === 1097)
    // SQL reads route imported (name-mapped) tables through the same reader
    assert(spark.sql("SELECT count(*) FROM g.orc1 WHERE seg = 'sX'")
      .head.getLong(0) === 100)
  }

  test("ORC files beside parquet files without field ids read and compact by name") {
    val src = (lo: Long, hi: Long, tag: String) => spark.range(lo, hi).toDF("k")
      .withColumn("seg", concat(lit(tag), (col("k") % 3).cast("string")))
    val orcSrc = src(0, 300, "o")
    val pqSrc = src(300, 500, "p")
    orcSrc.repartition(2).write.orc(s"$wh/mixed-orc")
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "false")
    try pqSrc.repartition(2).write.parquet(s"$wh/mixed-pq")
    finally spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    val pqPaths = graft.io.FileIO.listFilesRecursive(s"$wh/mixed-pq").map(_.path)
      .filter(_.endsWith(".parquet"))
    val t0 = catalog.createTable("orc_mixed", SchemaBridge.fromSpark(orcSrc.schema),
      PartitionSpec.Unpartitioned)
    val t1 = Writer.addFiles(spark, t0, orcPaths(s"$wh/mixed-orc") ++ pqPaths)
    assert(t1.nameMapping.isDefined)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).toSeq.sorted
    val want = rows(orcSrc.unionByName(pqSrc))
    assert(rows(SparkRead.read(spark, t1.newScan)) === want, "SparkRead.read")
    assert(rows(spark.sql("SELECT k, seg FROM g.orc_mixed")) === want, "SQL")
    val compacted = graft.table.Maintenance.rewriteDataFiles(spark, t1, rewriteAll = true).table
    assert(compacted.newScan.planFiles().forall(_.file.format == "PARQUET"))
    assert(rows(SparkRead.read(spark, compacted.newScan)) === want, "rewriteDataFiles")
  }

  test("CoW DELETE rewrites ORC files (reading needs no positions)") {
    // stats-less ORC files carry no bounds, so the strict evaluator can
    // prove nothing and CoW rewrites every touched file (to parquet)
    val t4 = catalog.loadTable("orc1")
    val t5 = Writer.deleteWhere(spark, t4, Expr.eq("seg", "s4"))
    val segs = SparkRead.read(spark, t5.newScan).select("seg")
      .distinct().collect().map(_.getString(0)).toSet
    assert(!segs("s4") && segs.size === 5) // s0-s3 + sX
    // 1097 - 199 live s4 rows (key 9 was already equality-deleted)
    assert(SparkRead.read(spark, t5.newScan).count() === 898)
  }

  test("SQL row-level operations over ORC files are rejected loudly") {
    val tmp = s"$wh/orc-src-3"
    spark.range(20).toDF("k").coalesce(1).write.orc(tmp)
    val t0 = catalog.createTable("orc3",
      SchemaBridge.fromSpark(spark.range(1).toDF("k").schema), PartitionSpec.Unpartitioned)
    Writer.addFiles(spark, t0, orcPaths(tmp))
    def messages(e: Throwable): String =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString("\n")
    // copy-on-write needs a DSv2 batch scan, which only parquet files get
    val cow = intercept[Exception](spark.sql("UPDATE g.orc3 SET k = -1 WHERE k = 1").collect())
    assert(messages(cow).contains("need parquet data files"), messages(cow))
    // merge-on-read deletes by position, which ORC files do not carry
    spark.sql("ALTER TABLE g.orc3 SET TBLPROPERTIES ('write.delete.mode' = 'merge-on-read')")
    val mor = intercept[Exception](spark.sql("DELETE FROM g.orc3 WHERE k = 1").collect())
    assert(messages(mor).contains("ORC"), messages(mor))
    assert(SparkRead.read(spark, catalog.loadTable("orc3").newScan).count() === 20L)
  }

  test("positional deletes over ORC are rejected loudly, never fabricated") {
    import spark.implicits._
    val df = spark.range(50).toDF("k")
    val tmp = s"$wh/orc-src-2"
    df.coalesce(1).write.orc(tmp)
    val schema = SchemaBridge.fromSpark(df.schema)
    val t0 = catalog.createTable("orc2", schema, PartitionSpec.Unpartitioned)
    val t1 = Writer.addFiles(spark, t0, orcPaths(tmp))
    val orcFile = t1.newScan.planFiles().head.file.path

    // hand-craft a positional delete referencing the ORC file (what a
    // buggy foreign writer might commit)
    val delPath = s"$wh/orc2-del.parquet"
    Seq((orcFile, 3L)).toDF("file_path", "pos")
      .coalesce(1).write.mode("overwrite").parquet(s"$delPath.dir")
    val delFile = graft.io.FileIO.listFilesRecursive(s"$delPath.dir")
      .map(_.path).filter(_.endsWith(".parquet")).head
    val del = DataFile(DataFileContent.PositionDeletes, delFile, "PARQUET",
      Nil, 1L, graft.io.FileIO.size(delFile))
    val t2 = Writer.commitSnapshot(t1, "overwrite", addedFiles = Nil,
      removedPaths = Set.empty, addedDeleteFiles = Seq(del))
    val e = intercept[IllegalArgumentException](
      SparkRead.read(spark, t2.newScan).count())
    assert(e.getMessage.contains("ORC"))
  }
}
