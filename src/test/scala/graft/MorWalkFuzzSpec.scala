package graft

import java.nio.file.Files

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.catalog.HadoopCatalog
import graft.core.{Expr, SchemaBridge, Transforms}
import graft.format.PartitionSpec
import graft.table.{Evolve, Maintenance, SparkRead, Table, Writer}

/** Randomized MoR/CoW walk: a seeded random sequence of appends, upserts,
  * CoW deletes, MoR positional deletes (parquet on v2, deletion vectors on
  * v3), equality deletes, and compactions, with a driver-side model map
  * applied in lockstep — after EVERY op the full table contents must equal
  * the model. This exercises the delete-matching sequence rules
  * (pos ≥ / eq > / DV supersedes), strict-vs-rewrite CoW classification,
  * delete application across partitions, and compaction folding in
  * combinations the scenario unit tests don't enumerate.
  */
class MorWalkFuzzSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val segs = Seq("A", "B", "C", "D")

  private def walk(formatVersion: Int, partitioned: Boolean, seed: Long): Unit = {
    import spark.implicits._
    val r = new Random(seed)
    val whPath = Files.createTempDirectory(
      s"graft-morwalk-v$formatVersion-$partitioned").toString
    val cat = new HadoopCatalog(whPath)
    val probe = Seq((0L, "A", 0)).toDF("id", "seg", "v")
    val schema = SchemaBridge.fromSpark(probe.schema)
    val spec =
      if (partitioned) PartitionSpec.builder(schema)
        .add("seg", Transforms.Identity).build()
      else PartitionSpec.Unpartitioned
    var t: Table = cat.createTable(s"w$formatVersion$partitioned", schema, spec)
    if (formatVersion >= 3) t = Evolve.upgradeFormatVersion(t, 3)

    val model = mutable.Map.empty[Long, (String, Int)]
    var nextId = 1L
    def freshRows(n: Int): Seq[(Long, String, Int)] = (0 until n).map { _ =>
      val row = (nextId, segs(r.nextInt(segs.size)), r.nextInt(100))
      nextId += 1
      row
    }

    val history = mutable.Buffer.empty[(Long, Seq[(Long, String, Int)])]

    // two independent delete engines against the model after every op:
    // the per-task engine behind SparkRead.read (and the SQL catalog), and
    // the anti-join pipeline behind readTasks (rewrites, compaction,
    // oversized backlogs)
    def verify(step: Int, op: String): Unit = {
      val head = t.refresh()
      val want = model.toSeq.map { case (id, (s, v)) => (id, s, v) }.sortBy(_._1)
      val tasks = head.newScan.planFiles()
      val engines = Seq("per-task" -> SparkRead.read(spark, head.newScan)) ++
        (if (tasks.isEmpty) Nil else Seq("anti-join" -> SparkRead.readTasks(spark,
          tasks, head.schema)))
      engines.foreach { case (engine, df) =>
        val got = df.select(col("id"), col("seg"), col("v"))
          .as[(Long, String, Int)].collect().sortBy(_._1).toSeq
        assert(got === want,
          s"fv=$formatVersion partitioned=$partitioned seed=$seed step=$step op=$op: " +
          s"$engine engine has ${got.size} rows, model ${want.size}\n" +
          s"extra=${got.diff(want).take(5)}\nmissing=${want.diff(got).take(5)}")
      }
      head.metadata.currentSnapshotId.foreach(id => history += id -> want)
    }

    (0 until 18).foreach { step =>
      val op = r.nextInt(11) match {
        case 0 | 1 => // append fresh rows
          val rows = freshRows(5 + r.nextInt(20))
          t = Writer.append(spark, t, rows.toDF("id", "seg", "v"))
          rows.foreach { case (id, s, v) => model(id) = (s, v) }
          "append"
        case 2 => // upsert: mutate existing + insert fresh
          val existing = r.shuffle(model.keys.toSeq).take(r.nextInt(6))
            .map(id => (id, segs(r.nextInt(segs.size)), r.nextInt(100)))
          val rows = existing ++ freshRows(r.nextInt(4))
          if (rows.nonEmpty) {
            t = Writer.upsert(spark, t, rows.toDF("id", "seg", "v"), Seq("id"))
            rows.foreach { case (id, s, v) => model(id) = (s, v) }
          }
          "upsert"
        case 3 => // CoW delete by id range
          val a = r.nextLong(nextId.max(2L))
          val b = a + 1 + r.nextInt(30)
          t = Writer.deleteWhere(spark, t,
            Expr.and(Expr.gtEq("id", a), Expr.lt("id", b)))
          model.filterInPlace { case (id, _) => id < a || id >= b }
          s"cow[$a,$b)"
        case 4 => // CoW delete by segment
          val s = segs(r.nextInt(segs.size))
          t = Writer.deleteWhere(spark, t, Expr.eq("seg", s))
          model.filterInPlace { case (_, (seg, _)) => seg != s }
          s"cow seg=$s"
        case 5 | 6 => // MoR positional delete (parquet pos on v2, DV on v3)
          val a = r.nextLong(nextId.max(2L))
          val b = a + 1 + r.nextInt(25)
          val f = Expr.and(Expr.gtEq("id", a), Expr.lt("id", b))
          t = if (formatVersion >= 3) Writer.deleteWhereDV(spark, t, f)
            else Writer.deleteWhereMoR(spark, t, f)
          model.filterInPlace { case (id, _) => id < a || id >= b }
          s"mor[$a,$b)"
        case 7 => // MoR delete on a value predicate
          val x = r.nextInt(100)
          val f = Expr.lt("v", x)
          t = if (formatVersion >= 3) Writer.deleteWhereDV(spark, t, f)
            else Writer.deleteWhereMoR(spark, t, f)
          model.filterInPlace { case (_, (_, v)) => v >= x }
          s"mor v<$x"
        case 8 => // equality delete by key set
          val ids = r.shuffle(model.keys.toSeq).take(r.nextInt(8))
          if (ids.nonEmpty) {
            t = Writer.equalityDelete(spark, t, ids.toDF("id"), Seq("id"))
            ids.foreach(model.remove)
          }
          "eqdelete"
        case 9 => // compaction folds the MoR debt
          val res = Maintenance.rewriteDataFiles(spark, t, rewriteAll = true)
          t = res.table
          "compact"
        case 10 => // partition-spec evolution MID-WALK — the r15 blind spot
          // that hid the SPJ wrong-answer bug: old files keep their spec,
          // every later write/delete/compact spans spec populations, and
          // partition-scoped delete matching must key per-spec
          val which = r.nextInt(4)
          val build: graft.format.PartitionSpec.Builder => graft.format.PartitionSpec.Builder =
            which match {
              case 0 => _.add("seg", Transforms.Identity)
              case 1 => _.add("id", Transforms.Bucket(2 + 2 * r.nextInt(2)))
              case 2 => _.add("seg", Transforms.Identity).add("id", Transforms.Bucket(4))
              case 3 => identity // unpartitioned: DROP every field
            }
          t = Evolve.updateSpec(t, build)
          s"evolve-spec#$which"
      }
      verify(step, op)
    }

    // the DSv2 catalog route over the walk's final — often MULTI-SPEC —
    // state: the SPJ partitioning claim must narrow or drop soundly
    // (effectiveClaim) and every delete shape must apply; same rows as the
    // model both engines matched at every step
    import spark.implicits._
    locally {
      val ctl = s"mw_${formatVersion}_${partitioned}_$seed"
      spark.conf.set(s"spark.sql.catalog.$ctl",
        classOf[graft.sources.GraftSpjCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$ctl.uri", whPath)
      val got = spark.table(s"$ctl.w$formatVersion$partitioned")
        .select(col("id"), col("seg"), col("v"))
        .as[(Long, String, Int)].collect().sortBy(_._1).toSeq
      val want = model.toSeq.map { case (id, (s, v)) => (id, s, v) }.sortBy(_._1)
      assert(got === want,
        s"fv=$formatVersion partitioned=$partitioned seed=$seed: DSv2 route " +
        s"diverged from model (${got.size} vs ${want.size})\n" +
        s"extra=${got.diff(want).take(5)}\nmissing=${want.diff(got).take(5)}")
      // v3: whatever mix of upserts, eq-deletes, DVs, compactions, and
      // spec evolutions the walk produced, row ids stay assigned + unique
      if (formatVersion >= 3) {
        val rids = spark.table(s"$ctl.w$formatVersion$partitioned")
          .select(col("id"), col("_row_id")).collect()
          .map(x => (x.getLong(0), if (x.isNullAt(1)) null
            else java.lang.Long.valueOf(x.getLong(1))))
        assert(rids.forall(_._2 != null),
          s"fv=$formatVersion partitioned=$partitioned seed=$seed: null _row_id")
        assert(rids.map(_._2.longValue).distinct.length == rids.length,
          s"fv=$formatVersion partitioned=$partitioned seed=$seed: duplicate _row_id")
      }
      // self-join under STORAGE-PARTITIONED-JOIN confs: whatever spec
      // history the walk produced, the (possibly narrowed or dropped)
      // partitioning claim must never lose matches — per-seg pair counts
      // equal the model's n² exactly
      val savedConf = Seq(
        "spark.sql.sources.v2.bucketing.enabled",
        "spark.sql.sources.v2.bucketing.pushPartValues.enabled",
        "spark.sql.autoBroadcastJoinThreshold")
        .map(k => k -> spark.conf.getOption(k)).toMap
      try {
        spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
        spark.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val l = spark.table(s"$ctl.w$formatVersion$partitioned").alias("l")
        val rt = spark.table(s"$ctl.w$formatVersion$partitioned").alias("r")
        val pairs = l.join(rt, col("l.seg") === col("r.seg"))
          .groupBy(col("l.seg")).agg(org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("n"))
          .as[(String, Long)].collect().toMap
        val wantPairs = model.values.groupBy(_._1)
          .map { case (s, rows) => s -> rows.size.toLong * rows.size }
        assert(pairs === wantPairs,
          s"fv=$formatVersion partitioned=$partitioned seed=$seed: SPJ-conf " +
          s"self-join pair counts diverged\ngot=$pairs\nwant=$wantPairs")
      } finally savedConf.foreach { case (k, v) =>
        v match { case Some(x) => spark.conf.set(k, x); case None => spark.conf.unset(k) }
      }
    }

    // time travel: every historical snapshot must read the model AS OF then
    // (delete applicability and sequence rules evaluated in the past, with
    // later compactions and deletes piled on top of the same metadata)
    val tt = t.refresh()
    history.foreach { case (snapId, want) =>
      val got = SparkRead.read(spark, tt.newScan.useSnapshot(snapId))
        .select(col("id"), col("seg"), col("v"))
        .as[(Long, String, Int)].collect().sortBy(_._1).toSeq
      assert(got === want,
        s"fv=$formatVersion partitioned=$partitioned seed=$seed: " +
        s"time travel to $snapId diverged (${got.size} vs ${want.size} rows)")
    }
    // CDC: for random snapshot pairs the changelog must equal the model
    // diff — INSERTs = rows in `to` absent from `from`, DELETEs the reverse
    // (net-changes semantics: CoW rewrites and compactions emit nothing)
    (0 until 6).foreach { _ =>
      val i = r.nextInt(history.size)
      val j = i + r.nextInt(history.size - i)
      val (fromId, fromRows) = history(i)
      val (toId, toRows) = history(j)
      val got = graft.table.Incremental
        .changelogBetween(spark, tt, fromId, toId)
        .select(col("id"), col("seg"), col("v"), col("_change_type"))
        .as[(Long, String, Int, String)].collect().sorted.toSeq
      val want = (
        toRows.diff(fromRows).map { case (a, b, c) => (a, b, c, "INSERT") } ++
        fromRows.diff(toRows).map { case (a, b, c) => (a, b, c, "DELETE") }
      ).sorted
      assert(got === want,
        s"fv=$formatVersion partitioned=$partitioned seed=$seed: " +
        s"changelog $fromId->$toId diverged (${got.size} vs ${want.size})\n" +
        s"extra=${got.diff(want).take(5)}\nmissing=${want.diff(got).take(5)}")
    }

    // expiring everything but HEAD must not disturb the current contents
    Maintenance.expireSnapshots(tt, olderThanMs = System.currentTimeMillis())
    val afterExpire = SparkRead.read(spark, t.refresh().newScan)
      .select(col("id"), col("seg"), col("v"))
      .as[(Long, String, Int)].collect().sortBy(_._1).toSeq
    assert(afterExpire === history.last._2,
      s"fv=$formatVersion partitioned=$partitioned seed=$seed: expire changed HEAD contents")
  }

  test("random op walk matches the model: v2 unpartitioned") {
    walk(formatVersion = 2, partitioned = false, seed = 1001L)
  }
  test("random op walk matches the model: v2 partitioned") {
    walk(formatVersion = 2, partitioned = true, seed = 2002L)
  }
  test("random op walk matches the model: v3 (DV) unpartitioned") {
    walk(formatVersion = 3, partitioned = false, seed = 3003L)
  }
  test("random op walk matches the model: v3 (DV) partitioned") {
    walk(formatVersion = 3, partitioned = true, seed = 4004L)
  }
}
