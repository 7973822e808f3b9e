package perfbench

import java.time.LocalDate

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.HadoopCatalog
import graft.core.{Expr, SchemaBridge, Transforms}
import graft.format.PartitionSpec
import graft.table.{Evolve, SparkRead, Writer}

/** A seeded, TPC-H-shaped `lineitem`: money in cents and discount in
  * percent, so every aggregate is an exact long.
  */
object LineitemGen {
  val Modes: Seq[String] = Seq("AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK")
  /** Six months of ship dates: 6 month partitions. */
  val FirstShipDate: LocalDate = LocalDate.of(1995, 1, 1)
  val ShipDays = 181

  private def pm(seed: Long, k: Int, m: Int): Column =
    pmod(hash(col("id"), lit(seed), lit(k)), lit(m))

  /** Rows `0 until n` with their generator `id` kept. */
  def withId(spark: SparkSession, seed: Long, n: Long): DataFrame =
    spark.range(n).select(
      col("id"),
      (floor(col("id") / 4) + 1).cast("long").as("l_orderkey"),
      (col("id") % 4 + 1).cast("int").as("l_linenumber"),
      (pm(seed, 1, 20000) + 1).cast("long").as("l_partkey"),
      (pm(seed, 2, 1000) + 1).cast("long").as("l_suppkey"),
      (pm(seed, 3, 50) + 1).cast("long").as("l_quantity"),
      ((pm(seed, 3, 50) + 1) * (pm(seed, 4, 100000) + 90000)).cast("long").as("l_extendedprice"),
      pm(seed, 5, 11).cast("int").as("l_discount"),
      pm(seed, 6, 9).cast("int").as("l_tax"),
      element_at(array(lit("A"), lit("N"), lit("R")), (pm(seed, 7, 3) + 1).cast("int")).as("l_returnflag"),
      element_at(array(lit("F"), lit("O")), (pm(seed, 8, 2) + 1).cast("int")).as("l_linestatus"),
      date_add(lit(java.sql.Date.valueOf(FirstShipDate)), pm(seed, 9, ShipDays).cast("int")).as("l_shipdate"),
      element_at(array(Modes.map(lit): _*), (pm(seed, 10, Modes.size) + 1).cast("int")).as("l_shipmode"))

  def base(spark: SparkSession, seed: Long, n: Long): DataFrame = withId(spark, seed, n).drop("id")

  /** Upsert batch `b`: about one row in 200, same key, new quantity and price. */
  def upsertBatch(spark: SparkSession, seed: Long, n: Long, b: Int): DataFrame =
    withId(spark, seed, n)
      .filter(pmod(hash(col("id"), lit(seed), lit(100 + b)), lit(200)) === 0)
      .withColumn("l_quantity", col("l_quantity") + 100 + b)
      .withColumn("l_extendedprice", col("l_extendedprice") + b)
      .drop("id")

  val Keys: Seq[String] = Seq("l_orderkey", "l_linenumber")
}

/** `mor_scan`: read-only queries over two merge-on-read tables, through
  * the V1 `SparkRead` route and the SQL (DSv2) route.
  */
final class MorScan(b: Bench, seed: Long, n: Long = MorScan.LineitemRows) extends Workload {
  import MorScan._
  private val spark = b.spark
  private val rng = new scala.util.Random(seed)
  private def pick(lo: Int, hi: Int) = lo + rng.nextInt(hi - lo)

  // every delete and upsert the fixture applies, in order, per table
  sealed trait Step
  final case class Delete(expr: Expr, pred: Column) extends Step
  final case class Upsert(batch: Int) extends Step

  private def partkeyRange(a: Long, w: Long): Delete =
    Delete(Expr.and(Expr.gtEq("l_partkey", a), Expr.lt("l_partkey", a + w)),
      col("l_partkey") >= a && col("l_partkey") < a + w)

  /** v3: a deletion-vector delete, then an equality-delete upsert. */
  val v3Steps: Seq[Step] = Seq(partkeyRange(pick(1, 19000).toLong, 300), Upsert(1))
  /** v2: parquet positional deletes, then an equality-delete upsert; both
    * kinds stay within what PosDeleteCache (64) and EqDeleteCache (256)
    * hold.
    */
  val v2Steps: Seq[Step] = Seq(
    partkeyRange(pick(1, 19000).toLong, 200),
    Upsert(2))
  val tables: Seq[(String, Seq[Step])] = Seq("li_v2" -> v2Steps, "li_v3" -> v3Steps)

  // query variants: variant v of each query, parameters fixed by the seed
  private val dateBase = LineitemGen.FirstShipDate.plusMonths(pick(0, 3).toLong)
  // q2 reads two of the six months
  private val partBase = pick(1, 19800).toLong
  val queries: Seq[Query] = Seq(
    Query("q1", _ => None, _ => lit(true), _ => None,
      Seq("l_returnflag", "l_linestatus"),
      "count(1) AS n, sum(l_quantity) AS qty, sum(l_extendedprice) AS price, " +
        "sum(l_extendedprice * (100 - l_discount)) AS disc_price",
      Seq(count(lit(1)).as("n"), sum("l_quantity").as("qty"), sum("l_extendedprice").as("price"),
        sum(col("l_extendedprice") * (lit(100) - col("l_discount"))).as("disc_price")),
      Seq("l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice", "l_discount")),
    Query("q2", v => {
        val (d1, d2) = dates(v)
        Some(Expr.and(Expr.gtEq("l_shipdate", d1), Expr.lt("l_shipdate", d2)))
      }, v => {
        val (d1, d2) = dates(v)
        col("l_shipdate") >= lit(d1) && col("l_shipdate") < lit(d2)
      }, v => {
        val (d1, d2) = dates(v)
        Some(s"l_shipdate >= DATE '$d1' AND l_shipdate < DATE '$d2'")
      },
      Seq("l_shipmode"),
      "count(1) AS n, sum(l_quantity) AS qty, sum(l_extendedprice) AS price",
      Seq(count(lit(1)).as("n"), sum("l_quantity").as("qty"), sum("l_extendedprice").as("price")),
      Seq("l_shipmode", "l_shipdate", "l_quantity", "l_extendedprice")),
    Query("q3", v => Some(Expr.and(Expr.gtEq("l_partkey", partBase + 60 * v),
        Expr.lt("l_partkey", partBase + 60 * v + 100))),
      v => col("l_partkey") >= partBase + 60 * v && col("l_partkey") < partBase + 60 * v + 100,
      v => Some(s"l_partkey >= ${partBase + 60 * v} AND l_partkey < ${partBase + 60 * v + 100}"),
      Nil,
      "count(1) AS n, sum(l_quantity) AS qty, sum(l_extendedprice) AS price, " +
        "min(l_orderkey) AS lo, max(l_orderkey) AS hi",
      Seq(count(lit(1)).as("n"), sum("l_quantity").as("qty"), sum("l_extendedprice").as("price"),
        min("l_orderkey").as("lo"), max("l_orderkey").as("hi")),
      Seq("l_partkey", "l_quantity", "l_extendedprice", "l_orderkey")))

  private def dates(v: Int): (java.sql.Date, java.sql.Date) = {
    val d1 = dateBase.plusMonths(6L * v)
    (java.sql.Date.valueOf(d1), java.sql.Date.valueOf(d1.plusMonths(2)))
  }

  private var wh: String = _
  private[perfbench] var catalog: HadoopCatalog = _
  // (table, query, variant, route) -> canonical result of the first run
  private[perfbench] val seen = mutable.LinkedHashMap.empty[(String, String, Int, String), Seq[String]]
  // (table, query, variant) -> timed runs
  private val timedRuns = mutable.LinkedHashMap.empty[(String, String, Int), Int].withDefaultValue(0)
  // (table, query, variant) -> (expected result, live rows the query covers)
  private[perfbench] val expected = mutable.LinkedHashMap.empty[(String, String, Int), (Seq[String], Long)]

  def setup(warehouse: String): Unit = {
    wh = warehouse
    catalog = new HadoopCatalog(wh)
    val base = LineitemGen.base(spark, seed, n)
    val schema = SchemaBridge.fromSpark(base.schema)
    val spec = PartitionSpec.builder(schema).add("l_shipdate", Transforms.Months).build()
    tables.foreach { case (name, steps) =>
      var t = catalog.createTable(name, schema, spec)
      if (name == "li_v3") t = Evolve.upgradeFormatVersion(t, 3)
      if (b.tracer.live) t = Evolve.setProperties(t, Trace.TableProps)
      t = Writer.append(spark, t, base)
      steps.foreach {
        case Delete(e, _) if name == "li_v3" => t = Writer.deleteWhereDV(spark, t, e)
        case Delete(e, _) => t = withPosDeleteFanout(Writer.deleteWhereMoR(spark, t, e))
        case Upsert(k) =>
          t = Writer.upsert(spark, t, LineitemGen.upsertBatch(spark, seed, n, k), LineitemGen.Keys)
      }
    }
  }

  /** Positional deletes as the wide writer would spread them: one delete
    * file per shuffle partition, with the partition count fixed at
    * [[PosDeleteFanout]] instead of coalesced.
    */
  private def withPosDeleteFanout[T](body: => T): T = {
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    val prior = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set(keys(0), PosDeleteFanout.toString)
    spark.conf.set(keys(1), "false")
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The expected answers from plain Spark over the generator's own rows
    * (never read through the program's tables), with each table's deletes
    * applied as filters and its upserts as anti-join plus union.
    */
  def prepareChecks(): Unit = {
    tables.foreach { case (name, steps) =>
      val live = oracleState(steps).cache()
      val results = (for (q <- queries; v <- Variants)
        yield (q.name, v) -> q.frame(live.filter(q.pred(v))).collect().toSeq).toMap
      // rows a query covers: its own matches for the partition-pruned q2,
      // every live row (the count summed over q1's groups) otherwise
      def counted(rows: Seq[Row]) = rows.map(_.getAs[Long]("n")).sum
      val all = counted(results(("q1", 0)))
      results.foreach { case ((q, v), rows) =>
        expected((name, q, v)) = (Rows.canon(rows), if (q == "q2") counted(rows) else all)
      }
      live.unpersist()
    }
  }

  private def oracleState(steps: Seq[Step]): DataFrame =
    steps.foldLeft(LineitemGen.base(spark, seed, n)) {
      case (df, Delete(_, pred)) => df.filter(!pred)
      case (df, Upsert(k)) =>
        val up = LineitemGen.upsertBatch(spark, seed, n, k)
        df.join(up.select(LineitemGen.Keys.map(col): _*), LineitemGen.Keys, "left_anti")
          .unionByName(up)
    }

  def round(r: Int): Unit = {
    val v = Math.floorMod(r, Variants.size)
    for ((table, _) <- tables; q <- queries; route <- Seq("api", "sql")) {
      val cls = s"$table.${q.name}.$route"
      val res = b.op(cls, route, OpKind.Read) {
        if (route == "api") q.api(b.tracer, catalog, spark, table, v)
        else q.sql(b.tracer, spark, table, v)
      }
      res.foreach { rows =>
        val key = (table, q.name, v, route)
        val c = Rows.canon(rows)
        seen.get(key) match {
          case None => seen(key) = c
          case Some(prev) => b.check(prev == c, s"$cls variant $v: result changed between rounds")
        }
        if (r >= 0) timedRuns((table, q.name, v)) += 1
      }
    }
  }

  def finish(): Unit = mismatches(seen.toMap, expected.toMap).foreach(b.check(false, _))

  def liveRowsRead: Double = timedRuns.map { case (k, runs) => expected(k)._2.toDouble * runs * 2 }.sum
  def rowsCommitted: Double = 0.0

  def metrics(): Seq[(String, Double, String)] = {
    val live = tables.map { case (name, _) => expected((name, "q1", 0))._2 }.sum
    val bytes = tables.map { case (name, _) => Rows.storedBytes(catalog.loadTable(name).location) }.sum
    // live rows one query of each class covers, over its median CPU time
    val perOp = for ((t, _) <- tables; q <- queries; route <- Seq("api", "sql"))
      yield s"$t.${q.name}.$route" -> expected((t, q.name, 0))._2.toDouble
    b.routeMetrics ++ Seq(
      ("rows_per_cpu_s", perOp.map(_._2).sum / b.cpuMedianTime(perOp.map(_._1)), "rows/s"),
      ("stored_bytes_per_row", bytes.toDouble / live, "B/row"))
  }
}

object MorScan {
  type Key = (String, String, Int)

  /** Every result that differs from the independent answer, and every
    * query whose two routes disagree.
    */
  def mismatches(seen: Map[(String, String, Int, String), Seq[String]],
      expected: Map[Key, (Seq[String], Long)]): Seq[String] = {
    val wrong = seen.toSeq.sortBy(_._1.toString).collect {
      case ((t, q, v, route), got) if got != expected((t, q, v))._1 =>
        s"$t.$q.$route variant $v: got ${got.take(3)} want ${expected((t, q, v))._1.take(3)}"
    }
    val split = seen.keys.collect { case (t, q, v, "api") => (t, q, v) }.toSeq.sortBy(_.toString)
      .filter(k => seen.get((k._1, k._2, k._3, "sql")).exists(_ != seen((k._1, k._2, k._3, "api"))))
      .map(k => s"${k._1}.${k._2} variant ${k._3}: the two routes return different rows")
    wrong ++ split
  }

  val LineitemRows = 30000L
  /** Parameter sets per query; each run uses the seed's one set. */
  val Variants: Seq[Int] = Seq(0)
  val PosDeleteFanout = 32

  /** One read-only query: graft filter and Spark predicate for variant v,
    * grouping keys, aggregates (SQL text and Column form) and the columns
    * it reads.
    */
  final case class Query(name: String, filter: Int => Option[Expr], pred: Int => Column,
      sqlWhere: Int => Option[String], groupBy: Seq[String], aggSql: String, aggs: Seq[Column], cols: Seq[String]) {

    def frame(df: DataFrame): DataFrame =
      if (groupBy.isEmpty) df.agg(aggs.head, aggs.tail: _*)
      else df.groupBy(groupBy.map(col): _*).agg(aggs.head, aggs.tail: _*)

    /** V1 route: load, plan and read through `SparkRead`, then aggregate. */
    def api(tr: Tracer, catalog: HadoopCatalog, spark: SparkSession, table: String, v: Int): Seq[Row] = {
      val t = tr.span("catalog.load")(catalog.loadTable(table))
      val scan = filter(v).foldLeft(t.newScan.select(cols: _*))(_ withFilter _)
      val df = tr.span("table.read_build")(frame(SparkRead.read(spark, scan)))
      tr.span("table.read_exec")(df.collect().toSeq)
    }

    /** SQL route: the same query on the DSv2 `g` catalog. */
    def sql(tr: Tracer, spark: SparkSession, table: String, v: Int): Seq[Row] = {
      val where = sqlWhere(v).map(" WHERE " + _).getOrElse("")
      val group = if (groupBy.isEmpty) "" else groupBy.mkString(" GROUP BY ", ", ", "")
      val keys = if (groupBy.isEmpty) "" else groupBy.mkString("", ", ", ", ")
      SqlOps.query(tr, spark, s"SELECT $keys$aggSql FROM g.$table$where$group")
    }
  }
}

object SqlOps {
  /** `spark.sql` through to the executed plan, then the action. */
  def query(tr: Tracer, spark: SparkSession, text: String): Seq[Row] = {
    val df = tr.span("sources.sql_plan") {
      val df = spark.sql(text)
      df.queryExecution.executedPlan
      df
    }
    tr.span("sources.sql_exec")(df.collect().toSeq)
  }
}
