package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.catalog.HadoopCatalog
import graft.core.{Expr, SchemaBridge, Transforms}
import graft.format.PartitionSpec
import graft.table.{SparkRead, Writer}

/** MoR deletes on PARTITIONED tables — the regression class behind the
  * global-delete-spec fix: delete files recorded under the table's
  * partitioned spec with a null tuple match nothing, so every MoR delete
  * silently no-opped. Global delete files must land under an unpartitioned
  * spec (added to metadata in the same commit) and file-referenced deletes
  * must apply by path, not partition.
  */
class MorPartitionedSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.001"
  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val catalog = new HadoopCatalog(Files.createTempDirectory("graft-morp").toString)

  override def afterAll(): Unit = spark.stop()

  private def freshNation(name: String) = {
    val nation = spark.read.parquet(s"$sf/nation.parquet")
    val schema = SchemaBridge.fromSpark(nation.schema)
    Writer.append(spark, catalog.createTable(name, schema,
      PartitionSpec.builder(schema).add("n_regionkey", Transforms.Identity).build()),
      nation)
  }

  test("positional MoR delete after a DV routes through the DV writer (supersedence)") {
    // a parquet pos-delete landing on a DV'd file is IGNORED by the
    // supersede rule — the writer must union into the DV instead of
    // silently losing the delete
    val t1 = freshNation("morp_supersede")
    val t2 = Writer.deleteWhereDV(spark, t1, Expr.lt("n_nationkey", 5))
    val t3 = Writer.deleteWhereMoR(spark, t2, Expr.eq("n_nationkey", 7))
    assert(SparkRead.read(spark, t3.newScan).count() === 19)
    // no parquet pos-delete was written; the delete landed as a DV union
    assert(t3.newScan.planFiles()
      .forall(_.posDeletes.forall(_.format == "PUFFIN")))
  }

  test("positional MoR delete applies on a partitioned table") {
    val t1 = freshNation("morp_pos")
    val t2 = Writer.deleteWhereMoR(spark, t1, Expr.lt("n_nationkey", 5))
    assert(SparkRead.read(spark, t2.newScan).count() === 20)
    // the delete manifest rides an unpartitioned spec added by the commit
    assert(t2.metadata.partitionSpecs.exists(_.fields.isEmpty))
    // and the original spec is still the default for data writes
    assert(t2.spec.fields.nonEmpty)
  }

  test("deletion-vector MoR delete applies on a partitioned table") {
    val t1 = freshNation("morp_dv")
    val t2 = Writer.deleteWhereDV(spark, t1, Expr.lt("n_nationkey", 5))
    assert(SparkRead.read(spark, t2.newScan).count() === 20)
    // second DV over the same table unions with the first
    val t3 = Writer.deleteWhereDV(spark, t2, Expr.eq("n_nationkey", 7))
    assert(SparkRead.read(spark, t3.newScan).count() === 19)
  }

  test("equality delete applies on a partitioned table") {
    val t1 = freshNation("morp_eq")
    val nation = spark.read.parquet(s"$sf/nation.parquet")
    val t2 = Writer.equalityDelete(spark, t1,
      nation.filter(col("n_nationkey") < 5).select(col("n_nationkey")),
      Seq("n_nationkey"))
    assert(SparkRead.read(spark, t2.newScan).count() === 20)
  }

  test("upsert replaces rows across partitions on a partitioned table") {
    val t1 = freshNation("morp_ups")
    val nation = spark.read.parquet(s"$sf/nation.parquet")
    val updated = nation.filter(col("n_nationkey") < 5)
      .withColumn("n_name", concat(col("n_name"), lit("_V2")))
    val t2 = Writer.upsert(spark, t1, updated, Seq("n_nationkey"))
    val rows = SparkRead.read(spark, t2.newScan)
    assert(rows.count() === 25)
    assert(rows.filter(col("n_name").endsWith("_V2")).count() === 5)
  }

  test("second global delete reuses the unpartitioned spec, never stacks specs") {
    val t1 = freshNation("morp_reuse")
    val t2 = Writer.deleteWhereMoR(spark, t1, Expr.eq("n_nationkey", 1))
    val t3 = Writer.deleteWhereMoR(spark, t2, Expr.eq("n_nationkey", 2))
    assert(SparkRead.read(spark, t3.newScan).count() === 23)
    assert(t3.metadata.partitionSpecs.count(_.fields.isEmpty) === 1)
  }

  test("a multi-file positional delete attaches each delete file only to its own data file") {
    val nation = spark.read.parquet(s"$sf/nation.parquet")
    val t1 = freshNation("morp_scoped")
    val before = SparkRead.read(spark, t1.newScan).collect().map(_.toString).toSet
    val paths = t1.newScan.planFiles().map(t => graft.io.FileIO.canonical(t.file.path))
    assert(paths.size >= 4)
    // the writer hashes file_path over spark.sql.shuffle.partitions writer
    // tasks, one delete file each: pick a width that gives every data file
    // a task of its own
    import spark.implicits._
    val width = Iterator.from(16).find { n =>
      paths.toDF("p").select(pmod(hash(col("p")), lit(n))).distinct().count() == paths.size
    }.get
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    val prior = keys.map(k => k -> spark.conf.getOption(k))
    val t2 = try {
      spark.conf.set(keys(0), width.toString)
      spark.conf.set(keys(1), "false")
      Writer.deleteWhereMoR(spark, t1, Expr.lt("n_nationkey", 20))
    } finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    val tasks = t2.newScan.planFiles()
    val deleteFiles = tasks.flatMap(_.posDeletes).distinctBy(_.path)
    assert(deleteFiles.size >= 2)
    assert(deleteFiles.forall(_.referencedDataFile.isDefined))
    // every delete file a task carries holds positions of that task's file
    tasks.foreach { t =>
      t.posDeletes.foreach { d =>
        val targets = spark.read.parquet(d.path).select("file_path").distinct()
          .collect().map(r => graft.io.FileIO.canonical(r.getString(0))).toSet
        assert(targets(graft.io.FileIO.canonical(t.file.path)),
          s"${t.file.path} carries ${d.path}, which targets only $targets")
        d.referencedDataFile.foreach(ref => assert(ref === t.file.path))
      }
    }
    val want = nation.filter(col("n_nationkey") >= 20).collect().map(_.toString).toSet
    val got = SparkRead.read(spark, t2.newScan).collect().map(_.toString).toSet
    assert(got === want && want.subsetOf(before))
  }
}
