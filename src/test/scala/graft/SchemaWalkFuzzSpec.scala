package graft

import java.nio.file.Files

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.catalog.HadoopCatalog
import graft.core._
import graft.core.IcebergTypes._
import graft.format.PartitionSpec
import graft.table.{Evolve, Maintenance, SparkRead, Table, Writer}

/** Randomized schema-evolution walk: add (with and without an
  * initial-default), rename, drop, promote, re-add a dropped NAME (fresh
  * field id — old values must not resurrect), interleaved with appends at
  * every schema version, CoW deletes, and a compaction that rewrites
  * mixed-schema files. A driver-side model keyed by FIELD ID (the only
  * stable identity, like the reader's own resolution) is checked against a
  * full read after every op — this is the per-file ID-based schema
  * reconciliation (`SURVEY §7.4 hard part 1`, reference
  * `visitors.go:534-614`) under sequences the unit tests don't enumerate.
  */
class SchemaWalkFuzzSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def randomValue(r: Random, t: IcebergType): Any = t match {
    case IntT => Int.box(r.nextInt(1000) - 500)
    case LongT => Long.box(r.nextInt(100000).toLong)
    case DoubleT => Double.box((r.nextInt(2000) - 1000) / 8.0)
    case FloatT => Float.box((r.nextInt(200) - 100) / 4.0f)
    case StringT => Seq("x", "yy", "zzz", "é😀", "")(r.nextInt(5))
  }

  /** Widen to the comparison domain (promotion-stable). */
  private def norm(v: Any): Any = v match {
    case null => null
    case i: Int => i.toLong
    case f: Float => f.toDouble
    case other => other
  }

  private def walk(seed: Long): Unit = {
    val r = new Random(seed)
    val cat = new HadoopCatalog(
      Files.createTempDirectory(s"graft-schemawalk-$seed").toString)
    val idField = NestedField(1, "id", LongT, required = true)
    var t: Table = cat.createTable(s"sw$seed",
      IcebergSchema(Seq(idField)), PartitionSpec.Unpartitioned)

    // model: rows keyed by id; values keyed by FIELD ID
    val rows = mutable.Map.empty[Long, mutable.Map[Int, Any]]
    var nextId = 1L
    var colSerial = 0

    def schema: IcebergSchema = t.refresh().schema
    def mutableCols: Seq[NestedField] = schema.fields.filter(_.id != 1)

    def appendBatch(): String = {
      val s = schema
      val sparkSchema = SchemaBridge.toSpark(s)
      val batch = (0 until 3 + r.nextInt(8)).map { _ =>
        val id = nextId
        nextId += 1
        val vals: Seq[(Int, Any)] = s.fields.map {
          case f if f.id == 1 => 1 -> Long.box(id)
          case f =>
            f.id -> (if (r.nextInt(5) == 0) null else randomValue(r, f.fieldType))
        }
        rows(id) = mutable.Map(vals: _*)
        Row.fromSeq(s.fields.map(f => rows(id)(f.id)))
      }
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(batch, 2), sparkSchema)
      t = Writer.append(spark, t.refresh(), df)
      s"append x${batch.size} over ${s.fields.map(_.name).mkString(",")}"
    }

    def verify(step: Int, op: String): Unit = {
      val s = schema
      val got = SparkRead.read(spark, t.refresh().newScan)
        .select(s.fields.map(f => col(f.name)): _*)
        .collect()
        .map(row => s.fields.indices.map(i => norm(row.get(i))))
        .sortBy(_.head.asInstanceOf[Long]).toSeq
      val want = rows.toSeq.sortBy(_._1).map { case (id, vals) =>
        s.fields.map {
          case f if f.id == 1 => norm(Long.box(id))
          case f => norm(vals.get(f.id).map(norm)
            .getOrElse(norm(f.initialDefault.orNull)))
        }.toIndexedSeq
      }
      assert(got.map(_.toIndexedSeq) === want,
        s"seed=$seed step=$step op=$op schema=${s.fields.map(f => s"${f.name}#${f.id}:${f.fieldType}").mkString(",")}\n" +
        s"got ${got.size} rows, want ${want.size}\n" +
        s"first-diff=${got.zip(want).find { case (a, b) => a != b }.take(1)}")
    }

    /** A filter on a column renamed or added since the last write binds by
      * the read's schema: IS NULL and NOT NULL split the model's rows.
      */
    def verifyFilter(step: Int, op: String, name: String): Unit = {
      val f = schema.findField(name).get
      val isNull = rows.toSeq.collect {
        case (id, vals) if vals.get(f.id).orElse(f.initialDefault).forall(_ == null) => id
      }.toSet
      Seq(Expr.isNull(name) -> isNull, Expr.notNull(name) -> (rows.keySet.toSet -- isNull))
        .foreach { case (filter, want) =>
          val got = SparkRead.read(spark, t.refresh().newScan.withFilter(filter))
            .select("id").collect().map(_.getLong(0)).toSet
          assert(got === want, s"seed=$seed step=$step op=$op filter=$filter")
        }
    }

    appendBatch() // seed data before the walk
    (0 until 16).foreach { step =>
      var evolved: Option[String] = None
      val op = r.nextInt(10) match {
        case 0 | 1 | 2 => appendBatch()
        case 3 => // add column, sometimes with an initial default
          colSerial += 1
          val ft = Seq(IntT, LongT, DoubleT, StringT, FloatT)(r.nextInt(5))
          val dflt = if (r.nextInt(3) == 0) Some(randomValue(r, ft)) else None
          t = Evolve.addColumn(t.refresh(), s"c$colSerial", ft,
            initialDefault = dflt, writeDefault = dflt)
          evolved = Some(s"c$colSerial")
          s"add c$colSerial:$ft default=$dflt"
        case 4 => // rename keeps the field id
          mutableCols match {
            case cols if cols.nonEmpty =>
              val c = cols(r.nextInt(cols.size))
              colSerial += 1
              t = Evolve.renameColumn(t.refresh(), c.name, s"r$colSerial")
              evolved = Some(s"r$colSerial")
              s"rename ${c.name}->r$colSerial"
            case _ => appendBatch()
          }
        case 5 => // drop erases values by field id
          mutableCols match {
            case cols if cols.nonEmpty =>
              val c = cols(r.nextInt(cols.size))
              t = Evolve.dropColumn(t.refresh(), c.name)
              rows.values.foreach(_.remove(c.id))
              s"drop ${c.name}#${c.id}"
            case _ => appendBatch()
          }
        case 6 => // re-add a previously used NAME: fresh id, no resurrection
          colSerial += 1
          val name = if (r.nextBoolean() && colSerial > 1) s"c${1 + r.nextInt(colSerial)}" else s"c$colSerial"
          if (schema.findField(name).isEmpty) {
            t = Evolve.addColumn(t.refresh(), name, StringT)
            evolved = Some(name)
            s"re-add $name"
          } else appendBatch()
        case 7 => // promote int->long / float->double
          mutableCols.filter(f => f.fieldType == IntT || f.fieldType == FloatT) match {
            case cols if cols.nonEmpty =>
              val c = cols(r.nextInt(cols.size))
              val to = if (c.fieldType == IntT) LongT else DoubleT
              t = Evolve.promoteColumn(t.refresh(), c.name, to)
              s"promote ${c.name} to $to"
            case _ => appendBatch()
          }
        case 8 => // CoW delete rewrites old-schema files under the current schema
          val a = r.nextLong(nextId.max(2L))
          val b = a + 1 + r.nextInt(15)
          t = Writer.deleteWhere(spark, t.refresh(),
            Expr.and(Expr.gtEq("id", a), Expr.lt("id", b)))
          rows.filterInPlace { case (id, _) => id < a || id >= b }
          s"cow[$a,$b)"
        case 9 => // compaction rewrites every surviving mixed-schema file
          val res = Maintenance.rewriteDataFiles(spark, t.refresh(), rewriteAll = true)
          t = res.table
          "compact"
      }
      verify(step, op)
      evolved.foreach(verifyFilter(step, op, _))
    }
  }

  test("random schema-evolution walk matches the model (seed 7001)") {
    walk(7001L)
  }
  test("random schema-evolution walk matches the model (seed 7002)") {
    walk(7002L)
  }
}
