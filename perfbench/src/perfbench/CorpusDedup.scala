package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.catalog.HadoopCatalog
import graft.core.SchemaBridge
import graft.format.PartitionSpec
import graft.llm.{Dedup, TextStats}
import graft.table.{Maintenance, SparkRead, Writer}

/** A seeded synthetic corpus with planted duplicate structure. Every word
  * is a fresh random letter string, so unrelated documents share almost
  * no character shingles and only the planted families are near-duplicates.
  * (With a shared vocabulary, unrelated documents reach a shingle Jaccard of
  * a few percent, and MinHash-LSH with 16 bands of 4 rows then merges a
  * pair now and then — by design, but no longer a fixed answer.)
  */
object CorpusGen {
  final case class Doc(id: Long, text: String, group: Int)
  /** Group kinds: families are exact copies or near copies of one text. */
  sealed trait Group
  final case class ExactFamily(ids: Seq[Long]) extends Group
  final case class NearFamily(base: Long, variants: Seq[Long]) extends Group
  final case class Singleton(id: Long, long: Boolean) extends Group

  val ExactFamilies = 80
  val NearFamilies = 80
  val LongSingletons = 800
  val ShortDocs = 150
  /** The length rule: documents with fewer words fail. */
  val MinWords = 50
  val VariantEdits = 4

  val Schema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType), StructField("source", StringType)))

  final case class Corpus(docs: Seq[Doc], groups: Seq[Group]) {
    lazy val text: Map[Long, String] = docs.map(d => d.id -> d.text).toMap
    def families: Seq[Seq[Long]] = groups.collect {
      case ExactFamily(ids) => ids
      case NearFamily(base, vs) => base +: vs
    }
    def keepers: Set[Long] = groups.collect { case Singleton(id, true) => id }.toSet
    def shorts: Set[Long] = groups.collect { case Singleton(id, false) => id }.toSet
    def expectedKept: Int = families.size + keepers.size
    /** Documents the near-duplicate stage should remove. */
    def nearRemoved: Int = groups.collect { case NearFamily(_, vs) => vs.size }.sum
  }

  def generate(seed: Long): Corpus = {
    val rnd = new scala.util.Random(seed)
    def word() = Seq.fill(4 + rnd.nextInt(6))(('a' + rnd.nextInt(26)).toChar).mkString
    def words(n: Int) = Vector.fill(n)(word())
    val texts = mutable.ArrayBuffer.empty[(String, Int)]
    val groups = mutable.ArrayBuffer.empty[Seq[Int]] // indices into texts, per group
    val kinds = mutable.ArrayBuffer.empty[Int] // 0 exact, 1 near, 2 long single, 3 short
    def add(t: String, g: Int): Int = { texts += ((t, g)); texts.size - 1 }
    (0 until ExactFamilies).foreach { _ =>
      val t = words(80 + rnd.nextInt(120)).mkString(" ")
      val g = groups.size
      groups += Seq.fill(2 + rnd.nextInt(3))(add(t, g)); kinds += 0
    }
    (0 until NearFamilies).foreach { _ =>
      val w = words(80 + rnd.nextInt(120))
      val g = groups.size
      val variants = Seq.fill(1 + rnd.nextInt(3)) {
        val v = (0 until VariantEdits).foldLeft(w)((acc, _) =>
          acc.updated(rnd.nextInt(acc.size), word()))
        add(v.mkString(" "), g)
      }
      groups += (add(w.mkString(" "), g) +: variants); kinds += 1
    }
    (0 until LongSingletons).foreach { _ =>
      val g = groups.size
      groups += Seq(add(words(60 + rnd.nextInt(140)).mkString(" "), g)); kinds += 2
    }
    (0 until ShortDocs).foreach { _ =>
      val g = groups.size
      groups += Seq(add(words(5 + rnd.nextInt(30)).mkString(" "), g)); kinds += 3
    }
    // ids are a permutation, so family members are not adjacent
    val ids = rnd.shuffle(texts.indices.map(_.toLong).toVector)
    val docs = texts.indices.map(i => Doc(ids(i), texts(i)._1, texts(i)._2))
    val gs = groups.indices.map { g =>
      val members = groups(g).map(ids(_))
      kinds(g) match {
        case 0 => ExactFamily(members)
        case 1 => NearFamily(members.head, members.tail)
        case k => Singleton(members.head, long = k == 2)
      }
    }
    Corpus(docs.sortBy(_.id), gs)
  }

  /** Character 5-shingle Jaccard, written apart from the program's. */
  def jaccard(a: String, b: String): Double = {
    def sh(s: String): Set[String] = {
      val t = s.toLowerCase.split("\\s+").filter(_.nonEmpty).mkString(" ")
      if (t.length < 5) Set(t) else (0 to t.length - 5).map(i => t.substring(i, i + 5)).toSet
    }
    val (x, y) = (sh(a), sh(b))
    (x intersect y).size.toDouble / (x union y).size
  }
}

/** `corpus_dedup`: repeated curation passes — read, length rule, exact
  * dedup, MinHash-LSH near-dup clustering, overwrite the output table.
  */
final class CorpusDedup(b: Bench, seed: Long) extends Workload {
  import CorpusGen._
  private val spark = b.spark
  private var wh: String = _
  private var catalog: HadoopCatalog = _
  private var corpus: Corpus = _
  private var passes = 0

  def setup(warehouse: String): Unit = {
    wh = warehouse
    catalog = new HadoopCatalog(wh)
    corpus = generate(seed)
    import scala.jdk.CollectionConverters._
    val rows = corpus.docs.map(d => Row(d.id, d.text, s"src${d.id % 7}"))
    val df = spark.createDataFrame(rows.asJava, Schema).repartition(4)
    val schema = SchemaBridge.fromSpark(Schema)
    val props = if (b.tracer.live) Trace.TableProps else Map.empty[String, String]
    val t = catalog.createTable("corpus", schema, PartitionSpec.Unpartitioned, properties = props)
    catalog.createTable("curated", schema, PartitionSpec.Unpartitioned, properties = props)
    Writer.append(spark, t, df)
    ()
  }

  /** The planted families must really be what they claim, by a Jaccard
    * computed here: near variants close to their base, unrelated pairs far.
    */
  def prepareChecks(): Unit = {
    val rnd = new scala.util.Random(seed + 17)
    corpus.groups.foreach {
      case NearFamily(base, vs) => vs.foreach { v =>
        val j = jaccard(corpus.text(base), corpus.text(v))
        b.check(j >= 0.7, s"planted near-duplicate $v of $base has Jaccard $j")
      }
      case _ => ()
    }
    val reps = corpus.groups.map {
      case ExactFamily(ids) => ids.head
      case NearFamily(base, _) => base
      case Singleton(id, _) => id
    }.toVector
    (0 until 2000).foreach { _ =>
      val (x, y) = (reps(rnd.nextInt(reps.size)), reps(rnd.nextInt(reps.size)))
      if (x != y) {
        val j = jaccard(corpus.text(x), corpus.text(y))
        b.check(j < 0.3, s"unrelated documents $x and $y have Jaccard $j")
      }
    }
  }

  def round(r: Int): Unit = Seq("api", "sql").foreach(pass(r, _))

  private def pass(r: Int, route: String): Unit = {
    val tr = b.tracer
    b.op(s"pass.$route", route, OpKind.Curate) {
      val docs =
        if (route == "api") {
          val t = tr.span("catalog.load")(catalog.loadTable("corpus"))
          tr.span("table.read_build")(SparkRead.read(spark, t.newScan))
        } else tr.span("sources.sql_plan")(spark.table("g.corpus"))
      val long = tr.span("llm.quality")(docs.filter(TextStats.tokenCountWs(col("text")) >= MinWords))
      val kept = tr.span("llm.dedup") {
        val unique = Dedup.exact(long, Seq("text"), "doc_id")
        val clusters = Dedup.minHashLsh(unique, "doc_id", "text")
        unique.join(clusters.filter(col("doc_id") === col("cluster_id")).select("doc_id"), "doc_id")
      }
      val out = tr.span("catalog.load")(catalog.loadTable("curated"))
      tr.span("table.write")(Writer.overwriteAll(spark, out, kept))
    }.foreach { t =>
      if (r >= 0) passes += 1
      val total = t.metadata.currentSnapshot.flatMap(_.summary.get("total-records"))
      b.check(total.contains(corpus.expectedKept.toString),
        s"pass.$route kept $total documents, want ${corpus.expectedKept}")
      if (tr.live) {
        val tel = graft.metrics.ScaleTelemetry.drain()
        val rounds = tel.get("cc_rounds").map(_.toDouble).getOrElse(0.0)
        val bucketRows = tel.get("cc_bucket_rows_per_round").map(_.toDouble).getOrElse(0.0)
        tr.note("cc_rounds", rounds)
        tr.note("bucket_rows", bucketRows)
        tr.note("bucket_rows_per_removed_doc", bucketRows / math.max(1, corpus.nearRemoved))
      }
      if (r == -1 && route == "api") checkKept()
    }
  }

  /** Kept set, read back through a fresh catalog: one document per planted
    * family, every long singleton, no short document.
    */
  private def checkKept(): Unit = {
    val t = new HadoopCatalog(wh).loadTable("curated")
    val kept = SparkRead.read(spark, t.newScan.select("doc_id")).collect().map(_.getLong(0)).toSet
    CorpusDedup.verify(corpus, kept).foreach(b.check(false, _))
  }

  def finish(): Unit = checkKept()

  def liveRowsRead: Double = passes.toDouble * corpus.docs.size
  def rowsCommitted: Double = passes.toDouble * corpus.expectedKept

  def metrics(): Seq[(String, Double, String)] = {
    val out = Maintenance.expireSnapshots(catalog.loadTable("curated"), System.currentTimeMillis(), retainLast = 1)
    val bytes = Rows.storedBytes(catalog.loadTable("corpus").location) + Rows.storedBytes(out.table.location)
    b.routeMetrics ++ Seq(
      ("rows_per_cpu_s", b.latencies.size * corpus.docs.size / b.cpuMedianTime(b.latencies.keys), "rows/s"),
      ("stored_bytes_per_row", bytes.toDouble / (corpus.docs.size + corpus.expectedKept), "B/row"))
  }
}

object CorpusDedup {
  /** Every way `kept` differs from the planted answer. */
  def verify(c: CorpusGen.Corpus, kept: Set[Long]): Seq[String] = {
    val perFamily = c.families.flatMap { f =>
      val k = f.count(kept)
      if (k == 1) None else Some(s"family ${f.mkString(",")} kept $k documents")
    }
    val missing = (c.keepers -- kept).toSeq.sorted.map(id => s"singleton $id was removed")
    val short = (c.shorts intersect kept).toSeq.sorted.map(id => s"short document $id was kept")
    val size = if (kept.size == c.expectedKept) Nil
      else Seq(s"kept ${kept.size} documents, want ${c.expectedKept}")
    (perFamily ++ missing ++ short ++ size).take(20)
  }
}
