package perfbench

import scala.collection.mutable

import graft.core.Expr
import graft.table.Writer

/** Shows that each workload's correctness check passes the program's right
  * answers and rejects wrong ones. Small fixtures; run with
  * `python3 perfbench/run.py --selftest`.
  */
object SelfTest {
  def run(o: Main.Opts): Int = {
    o.work.mkdirs()
    val results = mutable.ArrayBuffer.empty[Boolean]
    def expect(name: String, ok: Boolean, detail: => Seq[String] = Nil): Unit = {
      results += ok
      println(s"${if (ok) "ok  " else "FAIL"} $name")
      if (!ok) detail.take(5).foreach(d => println(s"     $d"))
    }

    // corpus_dedup: the kept-set rule and the planted families
    val c = CorpusGen.generate(o.seed)
    val right = c.keepers ++ c.families.map(_.head)
    expect("corpus_dedup: the planted answer passes", CorpusDedup.verify(c, right).isEmpty,
      CorpusDedup.verify(c, right))
    expect("corpus_dedup: two documents of one family are rejected",
      CorpusDedup.verify(c, right + c.families.head(1)).nonEmpty)
    expect("corpus_dedup: a removed singleton is rejected",
      CorpusDedup.verify(c, right - c.keepers.head).nonEmpty)
    expect("corpus_dedup: a kept short document is rejected",
      CorpusDedup.verify(c, right + c.shorts.head).nonEmpty)
    val near = c.groups.collectFirst { case CorpusGen.NearFamily(base, vs) => (base, vs.head) }.get
    val other = c.keepers.head
    expect("corpus_dedup: a planted variant measures near its base",
      CorpusGen.jaccard(c.text(near._1), c.text(near._2)) >= 0.7)
    expect("corpus_dedup: an unrelated document measures far",
      CorpusGen.jaccard(c.text(near._1), c.text(other)) < 0.3)

    val spark = Main.session(o.work, traced = false, threads = 4)
    spark.sparkContext.setLogLevel("ERROR")
    val wh = Main.warehouse(o.work, Workload.SetupReps - 1)

    // mor_scan: results against plain Spark over raw parquet
    val b1 = new Bench(spark, NoTrace)
    val ms = new MorScan(b1, o.seed, n = 20000)
    ms.setup(wh); ms.prepareChecks(); ms.round(0); ms.round(1); ms.finish()
    expect("mor_scan: the program's answers pass", b1.failures.isEmpty, b1.failures.toSeq)
    val seen = ms.seen.toMap
    val apiKey = seen.keys.filter(_._4 == "api").minBy(_.toString)
    val wrong = MorScan.mismatches(seen.updated(apiKey, Seq("0|0")), ms.expected.toMap)
    expect("mor_scan: a wrong result is rejected", wrong.exists(_.contains("want")))
    expect("mor_scan: routes that disagree are rejected", wrong.exists(_.contains("routes")))
    Writer.deleteWhereDV(spark, ms.catalog.loadTable("li_v3"), Expr.lt("l_orderkey", 1000L))
    val before1 = b1.failures.size
    ms.round(0); ms.finish()
    expect("mor_scan: rows deleted behind the oracle's back are caught", b1.failures.size > before1)

    // ingest_lookup: lookups and durability against the client's key map
    val b2 = new Bench(spark, NoTrace)
    val il = new IngestLookup(b2, o.seed, baseRows = 3000)
    il.setup(wh); il.prepareChecks(); il.round(0); il.finish()
    expect("ingest_lookup: the program's answers pass", b2.failures.isEmpty, b2.failures.toSeq)
    val k = il.anyLiveKey
    Writer.deleteWhereDV(spark, il.catalog.loadTable("orders"), Expr.eq("o_orderkey", k))
    val before2 = b2.failures.size
    il.lookup("api", k, 0, after = "append")
    il.lookup("sql", k, 0, after = "append")
    expect("ingest_lookup: lookups of a row lost behind the key map's back are caught",
      b2.failures.size == before2 + 2)
    val before3 = b2.failures.size
    il.finish()
    expect("ingest_lookup: durability check catches a lost row", b2.failures.size > before3)
    val b3 = new Bench(spark, NoTrace)
    val il2 = new IngestLookup(b3, o.seed + 1, baseRows = 3000)
    il2.setup(Main.warehouse(o.work, 0)); il2.prepareChecks()
    il2.misremember(il2.anyLiveKey)
    il2.finish()
    expect("ingest_lookup: durability check catches a changed row", b3.failures.nonEmpty)

    spark.stop()
    val failed = results.count(!_)
    println(s"selftest: ${results.size - failed} passed, $failed failed")
    if (failed == 0) 0 else 1
  }
}
