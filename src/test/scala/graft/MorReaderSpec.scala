package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.catalog.HadoopCatalog
import graft.core.{Expr, SchemaBridge, Transforms}
import graft.format.PartitionSpec
import graft.sources.SpjScan
import graft.table.{Evolve, Maintenance, SparkRead, Table, Writer}

/** The per-task merge-on-read reader ([[graft.sources.SpjScan]] and its
  * reader factory), which serves both the SQL catalog and
  * `SparkRead.read`: how often it builds its parquet readers, which key
  * types its equality-delete sets match, and which pushed filters it
  * plans with.
  */
class MorReaderSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val wh = Files.createTempDirectory("graft-morreader").toString
  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.conf.set("spark.sql.catalog.gmr", classOf[graft.sources.GraftSpjCatalog].getName)
    s.conf.set("spark.sql.catalog.gmr.uri", wh)
    s
  }
  private lazy val catalog = new HadoopCatalog(wh)

  override def afterAll(): Unit = spark.stop()

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** A table partitioned by `seg`, with positional deletes (v2) or
    * deletion vectors (v3) and an equality delete.
    */
  private def morTable(name: String, formatVersion: Int): Table = {
    import spark.implicits._
    val b = spark.range(0, 2000).select(col("id"),
      (col("id") % 4).cast("int").as("seg"), (col("id") * 7 % 100).cast("int").as("v"))
    var t = catalog.createTable(name, SchemaBridge.fromSpark(b.schema),
      PartitionSpec.builder(SchemaBridge.fromSpark(b.schema))
        .add("seg", Transforms.Identity).build())
    if (formatVersion >= 3) t = Evolve.upgradeFormatVersion(t, 3)
    t = Writer.append(spark, t, b.repartition(2))
    t = if (formatVersion >= 3) Writer.deleteWhereDV(spark, t, Expr.lt("v", 10))
      else Writer.deleteWhereMoR(spark, t, Expr.lt("v", 10))
    Writer.equalityDelete(spark, t, Seq(16L, 17L).toDF("id"), Seq("id"))
  }

  private lazy val mor2 = morTable("mr_mor2", 2)
  private lazy val mor3 = morTable("mr_mor3", 3)

  private def builds(run: => Unit): Long = {
    val before = SpjScan.factoryBuilds.get()
    run
    SpjScan.factoryBuilds.get() - before
  }

  test("a MoR query builds its reader factory once, on both routes") {
    Seq(mor2, mor3).foreach { t =>
      val live = 2000L - 200L - 2L
      assert(builds {
        assert(spark.sql(s"SELECT count(*) FROM gmr.${t.name} WHERE v >= 0")
          .collect().head.getLong(0) === live)
      } === 1L, s"${t.name}: SQL")
      assert(builds {
        assert(SparkRead.read(spark, t.newScan.withFilter(Expr.gtEq("v", 0))).count() === live)
      } === 1L, s"${t.name}: SparkRead.read")
    }
  }

  test("SQL MERGE and DELETE on merge-on-read tables build one reader factory each") {
    Seq(2, 3).foreach { version =>
      val name = s"mr_dml$version"
      Evolve.setProperties(morTable(name, version), Seq("delete", "update", "merge")
        .map(c => s"write.$c.mode" -> "merge-on-read").toMap)
      def live = spark.sql(s"SELECT count(*) FROM gmr.$name").collect().head.getLong(0)
      val before = live
      assert(builds {
        spark.sql(s"MERGE INTO gmr.$name t USING (SELECT * FROM VALUES (20L, 0, 77) " +
          "AS s(id, seg, v)) s ON t.id = s.id WHEN MATCHED THEN UPDATE SET v = s.v")
      } === 1L, s"$name: MERGE")
      assert(spark.sql(s"SELECT v FROM gmr.$name WHERE id = 20").collect()
        .map(_.getInt(0)).toSeq === Seq(77), name)
      assert(builds { spark.sql(s"DELETE FROM gmr.$name WHERE id = 21") } === 1L, s"$name: DELETE")
      assert(live === before - 1L, name)
    }
  }

  test("rewrites on the per-task route build one reader factory per rewrite group") {
    Seq(2, 3).foreach { version =>
      val name = s"mr_rewrite$version"
      val t = morTable(name, version)
      val live = SparkRead.read(spark, t.newScan).count()
      assert(builds { Writer.deleteWhere(spark, t, Expr.eq("id", 20L)) } === 1L,
        s"$name: deleteWhere")
      assert(builds {
        Maintenance.rewriteDataFiles(spark, catalog.loadTable(name), rewriteAll = true)
      } === 1L, s"$name: rewriteDataFiles")
      val after = catalog.loadTable(name)
      assert(after.newScan.planFiles().forall(t => t.posDeletes.isEmpty && t.eqDeletes.isEmpty))
      assert(SparkRead.read(spark, after.newScan).count() === live - 1L, name)
    }
  }

  test("a runtime-filtered scan builds its reader factory again only after it re-plans") {
    val t = mor2
    // not a local relation: its filter must survive optimization for
    // dynamic partition pruning to take it
    spark.range(1, 4).select(col("id").cast("int").as("seg"),
      when(col("id") === 1L, "keep").otherwise("drop").as("tag"))
      .createOrReplaceTempView("mr_dim")
    val q = spark.sql(s"SELECT f.id FROM gmr.${t.name} f JOIN mr_dim d " +
      "ON f.seg = d.seg WHERE d.tag = 'keep'")
    val want = SparkRead.read(spark, t.newScan).filter(col("seg") === 1).count()
    // Spark takes the factory while planning, before the runtime filter
    // prunes; the static plan's readers cover the pruned subset
    assert(builds { assert(q.collect().length.toLong === want) } === 1L)
    val scans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r.scan
    }.collect { case s: SpjScan => s }
    assert(scans.length === 1)
    val scan = scans.head
    // the runtime filter re-planned the scan down to one partition's files
    val files = t.newScan.planFiles().length
    assert(scan.plannedFileCount > 0 && scan.plannedFileCount < files,
      s"${scan.plannedFileCount} of $files files planned")
    // a factory asked for after the re-plan is built for the pruned plan,
    // once
    assert(builds { scan.createReaderFactory(); scan.createReaderFactory() } === 1L)
  }

  test("a _file filter on the catalog reads the one file's live rows") {
    Seq(mor2, mor3).foreach { t =>
      val all = spark.sql(s"SELECT _file, id FROM gmr.${t.name}").collect()
      val path = all.head.getString(0)
      val want = all.count(_.getString(0) == path).toLong
      assert(want > 0L)
      assert(spark.sql(s"SELECT count(*) FROM gmr.${t.name} WHERE _file = '$path'")
        .collect().head.getLong(0) === want, t.name)
      assert(spark.sql(s"SELECT id FROM gmr.${t.name} WHERE _file = '$path' AND v >= 0")
        .count() === want, t.name)
    }
  }

  /** Each key column holds 30 rows over a few distinct values, every tenth
    * of them null; the delete file holds the keys of rows 1, 2 and 9 (so
    * one null key).
    */
  private lazy val keyed: DataFrame = {
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("k_int", IntegerType),
      StructField("k_long", LongType),
      StructField("k_str", StringType),
      StructField("k_date", DateType),
      StructField("k_ts", TimestampType),
      StructField("k_dec9", DecimalType(9, 2)),
      StructField("k_dec38", DecimalType(38, 10)),
      StructField("k_bin", BinaryType),
      StructField("k_bool", BooleanType)))
    val data = (0 until 30).map { i =>
      def v[A](a: A): Any = if (i % 10 == 9) null else a
      val m = i % 7
      Row(i.toLong, v(m), v(m.toLong * 10000000000L), v(s"s$m"),
        v(java.sql.Date.valueOf(s"2024-01-${10 + m}")),
        v(java.sql.Timestamp.valueOf(s"2024-01-01 10:00:0$m")),
        v(new java.math.BigDecimal(s"$m.25")),
        v(new java.math.BigDecimal(s"12345678901234567890.${m}000000001")),
        v(Array[Byte](m.toByte, 7)), v(m % 2 == 0))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(data, 2), schema)
  }

  private def keyOf(r: Row, cols: Seq[String]): Seq[Any] = cols.map { c =>
    r.get(r.fieldIndex(c)) match {
      case b: Array[Byte] => b.toSeq
      case x => x
    }
  }

  test("equality deletes match every supported key type alike on both engines, nulls included") {
    val keySets = Seq("k_int", "k_long", "k_str", "k_date", "k_ts", "k_dec9",
      "k_dec38", "k_bin", "k_bool").map(Seq(_)) :+ Seq("k_int", "k_str")
    val data = keyed.collect()
    keySets.foreach { cols =>
      val name = "mr_keys_" + cols.mkString("_")
      var t = catalog.createTable(name, SchemaBridge.fromSpark(keyed.schema),
        PartitionSpec.Unpartitioned)
      t = Writer.append(spark, t, keyed)
      val dels = keyed.filter(col("id").isin(1L, 2L, 9L))
      t = Writer.equalityDelete(spark, t, dels, cols)
      val deleted = dels.collect().map(keyOf(_, cols)).toSet
      val want = data.filterNot(r => deleted(keyOf(r, cols))).map(_.getLong(0)).sorted.toSeq

      val perTask = SparkRead.read(spark, t.newScan)
      assert(perTask.queryExecution.optimizedPlan.collectFirst {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r
      }.nonEmpty, s"$name: expected the per-task scan")
      val antiJoin = SparkRead.readTasks(spark, t.newScan.planFiles(), t.schema)
      assert(perTask.select("id").collect().map(_.getLong(0)).sorted.toSeq === want, name)
      def comparable(df: DataFrame) =
        rows(df.select(perTask.columns.map(col): _*).withColumn("k_bin", hex(col("k_bin"))))
      assert(comparable(perTask) === comparable(antiJoin), name)
    }
  }

  test("equality deletes on an unsupported key type fail the per-task read") {
    val df = spark.range(0, 10).select(col("id"),
      struct((col("id") % 3).cast("int").as("a")).as("s"))
    var t = catalog.createTable("mr_struct_key", SchemaBridge.fromSpark(df.schema),
      PartitionSpec.Unpartitioned)
    t = Writer.append(spark, t, df)
    t = Writer.equalityDelete(spark, t, df.filter(col("id") === 1L), Seq("s"))
    val e = intercept[Exception](SparkRead.read(spark, t.newScan).collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(_.toString).toSeq
    assert(msgs.exists(_.contains("equality-delete key type")), msgs.mkString("\n"))
  }
}
