package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.catalog.HadoopCatalog
import graft.core.{Expr, SchemaBridge, Transforms}
import graft.format.{PartitionSpec, SortField, SortOrder}
import graft.table.{Evolve, Maintenance, SparkRead, Writer}

/** A seeded, TPC-H-shaped `orders`: row `(key, version)` is a pure function
  * of the seed, so the client's key map and the table can be built apart.
  */
object OrdersGen {
  val Schema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", LongType),
    StructField("o_orderdate", DateType),
    StructField("o_orderpriority", StringType),
    StructField("o_clerk", StringType),
    StructField("o_comment", StringType)))

  private val Statuses = Array("F", "O", "P")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Words = Array("final", "ironic", "pending", "bold", "express", "regular",
    "furious", "quick", "careful", "silent", "even", "special")
  private val Epoch = java.time.LocalDate.of(1992, 1, 1)

  def row(seed: Long, key: Long, version: Int): Row = {
    val r = new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L + key * 1000003L + version)
    Row(key,
      1L + r.nextInt(15000),
      Statuses(r.nextInt(Statuses.length)),
      100000L + r.nextInt(50000000),
      java.sql.Date.valueOf(Epoch.plusDays(r.nextInt(2400).toLong)),
      Priorities(r.nextInt(Priorities.length)),
      f"Clerk#${r.nextInt(1000)}%09d",
      Seq.fill(3 + r.nextInt(6))(Words(r.nextInt(Words.length))).mkString(" "))
  }

  /** Base keys are sparse like TPC-H's: 1, 5, 9, ... */
  def baseKey(i: Long): Long = 4 * i + 1

  def base(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val rdd = spark.sparkContext.range(0L, n, 1L, spark.sparkContext.defaultParallelism)
      .map(i => row(seed, baseKey(i), 0))
    spark.createDataFrame(rdd, Schema)
  }
}

/** `ingest_lookup`: one client interleaving small writes, point lookups and
  * read-your-writes aggregates on one table, with a maintenance step after
  * every round of writes. The interleaving is the same in every round and
  * for every seed (the seed picks keys, rows and ranges), so each operation
  * class meets the table in the same state in every round: a class's median
  * does not depend on where a seed happened to shuffle it.
  */
final class IngestLookup(b: Bench, seed: Long, baseRows: Long = IngestLookup.BaseRows) extends Workload {
  import IngestLookup._
  private val spark = b.spark
  private val Table = "orders"

  private[perfbench] var wh: String = _
  private[perfbench] var catalog: HadoopCatalog = _

  // the client's key map: key -> canonical row text, and key -> price
  private val model = mutable.HashMap.empty[Long, (String, Long)]
  private val liveKeys = mutable.ArrayBuffer.empty[Long]
  private val slot = mutable.HashMap.empty[Long, Int]
  private val deletedKeys = mutable.ArrayBuffer.empty[Long]
  private var nextKey = 0L
  private var version = 0
  private var committed = 0L
  private var readRows = 0L
  private var storedBytes = 0L
  private var storedRows = 0L

  private def canon(r: Row): String = Rows.canon(Seq(r)).head

  private def put(r: Row): Unit = {
    val k = r.getLong(0)
    if (!model.contains(k)) { slot(k) = liveKeys.size; liveKeys += k }
    model(k) = (canon(r), r.getLong(3))
  }
  private def remove(k: Long): Unit = if (model.remove(k).isDefined) {
    val i = slot.remove(k).get
    val last = liveKeys.remove(liveKeys.size - 1)
    if (last != k) { liveKeys(i) = last; slot(last) = i }
    deletedKeys += k
  }

  def setup(warehouse: String): Unit = {
    wh = warehouse
    catalog = new HadoopCatalog(wh)
    val schema = SchemaBridge.fromSpark(OrdersGen.Schema)
    val keyId = schema.findField("o_orderkey").get.id
    // a table taking a commit every few hundred milliseconds keeps only a
    // few old metadata files, so the stored bytes do not grow with rounds
    val props = Map(
      "write.metadata.delete-after-commit.enabled" -> "true",
      "write.metadata.previous-versions-max" -> "4",
      "write.delete.mode" -> "merge-on-read",
      "write.update.mode" -> "merge-on-read",
      "write.merge.mode" -> "merge-on-read") ++
      (if (b.tracer.live) Trace.TableProps else Map.empty)
    var t = catalog.createTable(Table, schema,
      PartitionSpec.builder(schema).add("o_orderkey", Transforms.Bucket(Buckets)).build(),
      SortOrder(1, Seq(SortField(keyId, Transforms.Identity, ascending = true, nullsFirst = false))),
      props)
    t = Evolve.upgradeFormatVersion(t, 3)
    Writer.append(spark, t, OrdersGen.base(spark, seed, baseRows))
    ()
  }

  def prepareChecks(): Unit = {
    (0L until baseRows).foreach(i => put(OrdersGen.row(seed, OrdersGen.baseKey(i), 0)))
    nextKey = OrdersGen.baseKey(baseRows)
  }

  private def frame(rows: Seq[Row]): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, OrdersGen.Schema)
  }

  private def freshRows(n: Int): Seq[Row] = Seq.fill(n) {
    val k = nextKey
    nextKey += 4
    OrdersGen.row(seed, k, 0)
  }

  private def sampleLive(rnd: scala.util.Random, n: Int): Seq[Long] = {
    val picked = mutable.LinkedHashSet.empty[Long]
    while (picked.size < math.min(n, liveKeys.size)) picked += liveKeys(rnd.nextInt(liveKeys.size))
    picked.toSeq
  }

  private def updated(keys: Seq[Long]): Seq[Row] = {
    version += 1
    keys.map(OrdersGen.row(seed, _, version))
  }

  private def load() = b.tracer.span("catalog.load")(catalog.loadTable(Table))

  private def afterWrite(r: Int, rows: Long): Unit = {
    if (r >= 0) committed += rows
    if (b.tracer.live)
      b.tracer.note("metadata_json_bytes", graft.io.FileIO.size(catalog.loadTable(Table).metadataPath).toDouble)
  }

  def round(r: Int): Unit = {
    val rnd = new scala.util.Random(seed * 7919L + r)
    WriteClasses.foreach { w =>
      run(w, r, rnd)
      // after the delete both lookups ask for a key it has just deleted, so
      // every round and seed has the same share of lookups that find nothing
      val gone = w == "delete" && deletedKeys.size >= DeleteRows
      Seq("api", "sql").foreach { route =>
        val k =
          if (gone) deletedKeys(deletedKeys.size - 1 - rnd.nextInt(DeleteRows))
          else liveKeys(rnd.nextInt(liveKeys.size))
        lookup(route, k, r, after = w)
      }
    }
    Seq("agg.api", "agg.sql", "maintenance").foreach(run(_, r, rnd))
    // files under the location after the first timed round, which every
    // run completes: a count that does not depend on how many rounds fit
    if (r == 0) {
      storedBytes = Rows.storedBytes(catalog.loadTable(Table).location)
      storedRows = model.size
    }
  }

  private def run(kind: String, r: Int, rnd: scala.util.Random): Unit = kind match {
    case "append" =>
      val rows = freshRows(AppendRows)
      val df = frame(rows)
      b.op("append", "api", OpKind.Write) {
        val t = load()
        b.tracer.span("table.write")(Writer.append(spark, t, df))
      }.foreach { _ => rows.foreach(put); afterWrite(r, rows.size) }

    case "upsert" =>
      val rows = updated(sampleLive(rnd, UpsertRows))
      val df = frame(rows)
      b.op("upsert", "api", OpKind.Write) {
        val t = load()
        b.tracer.span("table.write")(Writer.upsert(spark, t, df, Seq("o_orderkey")))
      }.foreach { _ => rows.foreach(put); afterWrite(r, rows.size) }

    case "merge" =>
      val rows = updated(sampleLive(rnd, MergeRows / 2)) ++ freshRows(MergeRows / 2)
      frame(rows).createOrReplaceTempView("perfbench_merge_src")
      b.op("merge", "sql", OpKind.Write) {
        b.tracer.span("sources.merge")(spark.sql(
          s"""MERGE INTO g.$Table t USING perfbench_merge_src s ON t.o_orderkey = s.o_orderkey
             |WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect())
      }.foreach { _ => rows.foreach(put); afterWrite(r, rows.size) }

    case "delete" =>
      val keys = sampleLive(rnd, DeleteRows)
      b.op("delete", "sql", OpKind.Write) {
        b.tracer.span("sources.delete")(spark.sql(
          s"DELETE FROM g.$Table WHERE o_orderkey IN (${keys.mkString(", ")})").collect())
      }.foreach { _ => keys.foreach(remove); afterWrite(r, keys.size) }

    case "agg.api" | "agg.sql" =>
      val lo = OrdersGen.baseKey(rnd.nextLong(baseRows - AggKeys))
      val hi = lo + 4 * AggKeys
      val route = kind.stripPrefix("agg.")
      b.op(kind, route, OpKind.Read) {
        if (route == "api") {
          val t = load()
          val df = b.tracer.span("table.read_build")(SparkRead.read(spark,
            t.newScan.select("o_orderkey", "o_totalprice")
              .withFilter(Expr.and(Expr.gtEq("o_orderkey", lo), Expr.lt("o_orderkey", hi))))
            .agg(count(lit(1)), sum("o_totalprice")))
          b.tracer.span("table.read_exec")(df.collect().toSeq)
        } else SqlOps.query(b.tracer, spark,
          s"SELECT count(1), sum(o_totalprice) FROM g.$Table WHERE o_orderkey >= $lo AND o_orderkey < $hi")
      }.foreach { rows =>
        val in = model.iterator.filter { case (k, _) => k >= lo && k < hi }.map(_._2._2).toSeq
        if (r >= 0) readRows += in.size
        val got = rows.headOption.map(x => (x.getLong(0), if (x.isNullAt(1)) 0L else x.getLong(1)))
        b.check(got.contains((in.size.toLong, in.sum)),
          s"$kind [$lo, $hi): got $got want ${(in.size, in.sum)}")
      }

    case "maintenance" =>
      b.op("maintenance", "api", OpKind.Maintain) {
        val t = load()
        b.tracer.span("table.maint") {
          val c = Maintenance.rewriteDataFiles(spark, t)
          val e = Maintenance.expireSnapshots(c.table, System.currentTimeMillis(), retainLast = 1)
          c.rewrittenDataFiles + c.removedDeleteFiles + e.deletedFiles.size
        }
      }.foreach(removed => b.tracer.note("maint_files_removed", removed.toDouble))
  }

  /** Point lookup of key `k`; the answer must equal the key map's row. A
    * lookup's class names the write it follows: the table it meets (say,
    * with or without the upsert's equality deletes) differs by position, so
    * each position is a class of its own.
    */
  private[perfbench] def lookup(route: String, k: Long, r: Int, after: String): Unit =
    b.op(s"lookup.$route.after_$after", route, OpKind.Read) {
      if (route == "api") {
        val t = load()
        val df = b.tracer.span("table.read_build")(
          SparkRead.read(spark, t.newScan.withFilter(Expr.eq("o_orderkey", k))))
        b.tracer.span("table.read_exec")(df.collect().toSeq)
      } else SqlOps.query(b.tracer, spark, s"SELECT * FROM g.$Table WHERE o_orderkey = $k")
    }.foreach { rows =>
      if (r >= 0) readRows += rows.size
      b.check(rows.map(canon) == model.get(k).map(_._1).toSeq,
        s"lookup.$route key $k: got ${rows.map(canon)} want ${model.get(k).map(_._1)}")
    }

  private[perfbench] def anyLiveKey: Long = liveKeys.head

  /** Point the key map at a wrong row for `k` (self-test only). */
  private[perfbench] def misremember(k: Long): Unit =
    model(k) = (canon(OrdersGen.row(seed, k, version + 1000)), 0L)

  /** Durability: a fresh catalog on the same warehouse reloads the table;
    * its full contents must equal the key map.
    */
  def finish(): Unit = {
    val t = new HadoopCatalog(wh).loadTable(Table)
    val got = Rows.canon(SparkRead.read(spark, t.newScan).collect().toSeq)
    val want = model.valuesIterator.map(_._1).toSeq.sorted
    b.check(got.size == want.size, s"durability: ${got.size} rows reloaded, ${want.size} expected")
    b.check(got == want, s"durability: reloaded rows differ from the key map " +
      s"(first difference ${got.zip(want).find(p => p._1 != p._2)})")
  }

  def liveRowsRead: Double = readRows.toDouble
  def rowsCommitted: Double = committed.toDouble

  def metrics(): Seq[(String, Double, String)] =
    b.routeMetrics ++ Seq(
      ("rows_per_cpu_s", RowsPerRound / b.cpuMedianTime(WriteClasses), "rows/s"),
      ("stored_bytes_per_row", storedBytes.toDouble / storedRows, "B/row"))
}

object IngestLookup {
  val BaseRows = 20000L
  val Buckets = 4
  val AppendRows = 50
  val UpsertRows = 50
  val MergeRows = 50
  val DeleteRows = 20
  /** Keys an aggregate's range spans. */
  val AggKeys = 400L
  /** The write classes, in the order a round issues them; each is followed
    * by one point lookup on each route.
    */
  val WriteClasses: Seq[String] = Seq("append", "upsert", "merge", "delete")
  /** Rows one round's writes append, update or delete. */
  val RowsPerRound: Double = AppendRows + UpsertRows + MergeRows + DeleteRows
}
