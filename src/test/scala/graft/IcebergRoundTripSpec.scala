package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.catalog.HadoopCatalog
import graft.core._
import graft.format._
import graft.table.{SparkRead, Writer}

class IcebergRoundTripSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.001"
  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("iceberg-roundtrip")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val warehouse = Files.createTempDirectory("graft-wh").toString
  private lazy val catalog = new HadoopCatalog(warehouse)

  override def afterAll(): Unit = spark.stop()

  test("unpartitioned round trip: nation") {
    val nation = spark.read.parquet(s"$sf/nation.parquet")
    val schema = SchemaBridge.fromSpark(nation.schema)
    val t0 = catalog.createTable("nation", schema, PartitionSpec.Unpartitioned)
    val t1 = Writer.append(spark, t0, nation)
    val back = SparkRead.read(spark, t1.newScan)
    assert(back.count() === 25)
    val got = back.orderBy("n_nationkey").collect().map(_.toSeq)
    val want = nation.orderBy("n_nationkey").collect().map(_.toSeq)
    assert(got.toSeq === want.toSeq)
  }

  test("partitioned round trip + partition pruning: lineitem by day(l_shipdate)") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val schema = SchemaBridge.fromSpark(li.schema)
    val spec = PartitionSpec.builder(schema).add("l_shipdate", Transforms.Months).build()
    val t0 = catalog.createTable("lineitem_day", schema, spec)
    val t1 = Writer.append(spark, t0, li)

    val all = SparkRead.read(spark, t1.newScan)
    assert(all.count() === li.count())

    // filter in data space; pruning projects it through month()
    val cutoff = java.time.LocalDateTime.parse("1995-06-01T00:00:00")
    val filter = Expr.ltEq("l_shipdate", java.sql.Timestamp.valueOf("1995-06-01 00:00:00"))
    val allTasks = t1.newScan.planFiles()
    val prunedTasks = t1.newScan.withFilter(filter).planFiles()
    assert(prunedTasks.size < allTasks.size, s"pruning: ${prunedTasks.size} vs ${allTasks.size}")

    val expected = li.filter(org.apache.spark.sql.functions.col("l_shipdate") <=
      org.apache.spark.sql.functions.lit("1995-06-01 00:00:00").cast("timestamp")).count()
    val got = SparkRead.read(spark, t1.newScan.withFilter(filter)).count()
    assert(got === expected)
  }

  test("copy-on-write delete") {
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    val schema = SchemaBridge.fromSpark(orders.schema)
    val t0 = catalog.createTable("orders_cow", schema, PartitionSpec.Unpartitioned)
    val t1 = Writer.append(spark, t0, orders)
    val t2 = Writer.deleteWhere(spark, t1, Expr.eq("o_orderstatus", "F"))
    val back = SparkRead.read(spark, t2.newScan)
    val expected = orders.filter("o_orderstatus <> 'F'").count()
    assert(back.count() === expected)
    assert(back.filter("o_orderstatus = 'F'").count() === 0)
  }

  test("merge-on-read positional delete") {
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    val schema = SchemaBridge.fromSpark(orders.schema)
    val t0 = catalog.createTable("orders_mor", schema, PartitionSpec.Unpartitioned)
    val t1 = Writer.append(spark, t0, orders)
    val t2 = Writer.deleteWhereMoR(spark, t1, Expr.gt("o_totalprice", 400000.0))
    // data files untouched, deletes applied at read
    val back = SparkRead.read(spark, t2.newScan)
    val expected = orders.filter("o_totalprice <= 400000.0").count()
    assert(back.count() === expected)
    assert(t2.newScan.planFiles().exists(_.posDeletes.nonEmpty))
  }

  test("equality delete") {
    val cust = spark.read.parquet(s"$sf/customer.parquet")
    val schema = SchemaBridge.fromSpark(cust.schema)
    val t0 = catalog.createTable("cust_eq", schema, PartitionSpec.Unpartitioned)
    val t1 = Writer.append(spark, t0, cust)
    val keys = cust.filter("c_mktsegment = 'BUILDING'").select("c_custkey")
    val t2 = Writer.equalityDelete(spark, t1, keys, Seq("c_custkey"))
    val back = SparkRead.read(spark, t2.newScan)
    val expected = cust.filter("c_mktsegment <> 'BUILDING'").count()
    assert(back.count() === expected)
  }

  test("equality delete rejects float/double key fields") {
    // reference equality_delete_writer.go:60-83: NaN != NaN, so a float key
    // can silently fail to match the row it should delete — reject at write
    val cust = spark.read.parquet(s"$sf/customer.parquet")
    val schema = SchemaBridge.fromSpark(cust.schema)
    val t0 = catalog.createTable("cust_eq_float", schema, PartitionSpec.Unpartitioned)
    val t1 = Writer.append(spark, t0, cust)
    val keys = cust.select("c_acctbal") // double column
    val exEq = intercept[IllegalArgumentException] {
      Writer.equalityDelete(spark, t1, keys, Seq("c_acctbal"))
    }
    assert(exEq.getMessage.contains("floating-point"))
    val exRd = intercept[IllegalArgumentException] {
      Writer.rowDelta(spark, t1, cust.limit(1), keys, Seq("c_acctbal"))
    }
    assert(exRd.getMessage.contains("floating-point"))
    // the failed writes must not have committed anything
    assert(catalog.loadTable("cust_eq_float").metadata.snapshots.size === 1)
  }

  test("time travel across appends") {
    val region = spark.read.parquet(s"$sf/region.parquet")
    val schema = SchemaBridge.fromSpark(region.schema)
    val t0 = catalog.createTable("region_tt", schema, PartitionSpec.Unpartitioned)
    val t1 = Writer.append(spark, t0, region)
    val snap1 = t1.metadata.currentSnapshotId.get
    val t2 = Writer.append(spark, t1, region) // double it
    assert(SparkRead.read(spark, t2.newScan).count() === 10)
    assert(SparkRead.read(spark, t2.newScan.useSnapshot(snap1)).count() === 5)
    // as-of timestamp of first snapshot
    val ts1 = t2.metadata.snapshots.find(_.snapshotId == snap1).get.timestampMs
    assert(SparkRead.read(spark, t2.newScan.asOf(ts1)).count() === 5)
  }

  test("metadata json round trip") {
    val t = catalog.loadTable("lineitem_day")
    val json = TableMetadata.toJson(t.metadata)
    val parsed = TableMetadata.fromJson(json)
    assert(parsed.tableUuid === t.metadata.tableUuid)
    assert(parsed.schema.fields === t.metadata.schema.fields)
    assert(parsed.spec === t.metadata.spec)
    assert(parsed.currentSnapshotId === t.metadata.currentSnapshotId)
    assert(parsed.snapshots.map(_.snapshotId) === t.metadata.snapshots.map(_.snapshotId))
  }

  test("file stats pruning skips non-matching files") {
    val t = catalog.loadTable("nation")
    // n_nationkey ranges 0..24 in a single file; a filter outside bounds prunes it
    val none = t.newScan.withFilter(Expr.gt("n_nationkey", 1000)).planFiles()
    assert(none.isEmpty)
    val some = t.newScan.withFilter(Expr.ltEq("n_nationkey", 5)).planFiles()
    assert(some.nonEmpty)
  }

  test("warehouse addressed via file:/// Hadoop URI round-trips") {
    val wh = Files.createTempDirectory("graft-uri-wh").toString
    val cat = new HadoopCatalog(s"file://$wh")
    val region = spark.read.parquet(s"$sf/region.parquet")
    val schema = SchemaBridge.fromSpark(region.schema)
    val t1 = Writer.append(spark, cat.createTable("region_uri", schema,
      PartitionSpec.Unpartitioned), region)
    val t2 = Writer.deleteWhereDV(spark, t1, Expr.eq("r_name", "ASIA"))
    val back = SparkRead.read(spark, t2.newScan)
    assert(back.count() === 4)
    assert(back.filter("r_name = 'ASIA'").count() === 0)
    // recorded paths fold the file: scheme away, so path equality holds
    assert(t2.newScan.planFiles().forall(_.file.path.startsWith("/")))
  }

  test("DV across many files plans O(1) scans, not one per file") {
    val cust = spark.read.parquet(s"$sf/customer.parquet")
    val schema = SchemaBridge.fromSpark(cust.schema)
    val t0 = catalog.createTable("dv_many", schema, PartitionSpec.Unpartitioned)
    val t1 = Writer.append(spark, t0, cust.repartition(24))
    assert(t1.newScan.planFiles().size >= 20)
    val t2 = Writer.deleteWhereDV(spark, t1, Expr.lt("c_acctbal", 5000.0))
    val tasks = t2.newScan.planFiles()
    val nDvs = tasks.flatMap(_.posDeletes.filter(_.format == "PUFFIN"))
      .distinctBy(d => (d.path, d.contentOffset)).size
    assert(nDvs >= 10, s"expected many per-file DV blobs, got $nDvs")
    val df = SparkRead.read(spark, t2.newScan)
    val nScans = df.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r
    }.size
    assert(nScans === 1, s"DV table must plan one scan, got $nScans")
    val expected = cust.filter("c_acctbal >= 5000.0").count()
    assert(df.count() === expected)
  }

  test("DV over existing parquet pos-deletes folds them in (no resurrection)") {
    val part = spark.read.parquet(s"$sf/part.parquet")
    val schema = SchemaBridge.fromSpark(part.schema)
    val t0 = catalog.createTable("mixed_del", schema, PartitionSpec.Unpartitioned)
    val t1 = Writer.append(spark, t0, part)
    val t2 = Writer.deleteWhereMoR(spark, t1, Expr.lt("p_size", 10))
    val afterMor = SparkRead.read(spark, t2.newScan).count()
    val t3 = Writer.deleteWhereDV(spark, t2, Expr.gt("p_size", 45))
    val back = SparkRead.read(spark, t3.newScan)
    // rows removed by the PARQUET deletes must stay deleted after the DV
    // supersedes them (spec: the DV writer folds prior positions in)
    assert(back.filter(org.apache.spark.sql.functions.col("p_size") < 10).count() === 0)
    assert(back.filter(org.apache.spark.sql.functions.col("p_size") > 45).count() === 0)
    val expected = part.filter("p_size >= 10 AND p_size <= 45").count()
    assert(back.count() === expected)
    assert(afterMor > expected) // the MoR step really did less
  }
}
