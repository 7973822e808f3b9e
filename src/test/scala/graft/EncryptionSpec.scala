package graft

import java.nio.file.Files
import java.util.Base64

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.catalog.HadoopCatalog
import graft.core._
import graft.encryption._
import graft.format.PartitionSpec
import graft.table.{SparkRead, Writer}

/** Encryption: KMS wrap/unwrap (reference `encryption/kms.go`), registry
  * (`kms_registry.go`), fail-closed plaintext manager + envelope manager
  * (`encryption.go`), and the Spark-native path — parquet modular
  * encryption for table data files keyed by `encryption.key-id`.
  */
class EncryptionSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val kek = Array.tabulate[Byte](16)(_.toByte)
  private val kekB64 = Base64.getEncoder.encodeToString(kek)

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config(KmsRegistry.KmsTypeProp, "memory")
    .config(KmsRegistry.MemoryKeysProp, s"k1:$kekB64")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("in-memory KMS wraps and unwraps DEKs; tampering fails authentication") {
    val kms = new InMemoryKms().addKey("k1", kek)
    val dek = Array.tabulate[Byte](16)(i => (i * 7).toByte)
    val wrapped = kms.wrapKey("k1", dek)
    assert(!wrapped.sameElements(dek))
    assert(kms.unwrapKey("k1", wrapped).toSeq === dek.toSeq)
    // nonce is random: wrapping twice never repeats ciphertext
    assert(!kms.wrapKey("k1", dek).sameElements(wrapped))
    val tampered = wrapped.clone(); tampered(wrapped.length - 1) = (tampered(wrapped.length - 1) ^ 1).toByte
    intercept[AuthenticationFailed](kms.unwrapKey("k1", tampered))
    intercept[AuthenticationFailed](kms.unwrapKey("k1", wrapped.take(11)))
    intercept[UnknownKeyId](kms.wrapKey("nope", dek))
    intercept[IllegalArgumentException](new InMemoryKms().addKey("bad", new Array[Byte](13)))
  }

  test("KMS registry resolves by type and fails loudly otherwise") {
    val kms = KmsRegistry.load(Map(
      KmsRegistry.KmsTypeProp -> "memory",
      KmsRegistry.MemoryKeysProp -> s"k1:$kekB64"))
    val (dek, wrapped) = kms.generateKey("k1", 32)
    assert(dek.length === 32)
    assert(kms.unwrapKey("k1", wrapped).toSeq === dek.toSeq)
    intercept[IllegalArgumentException](KmsRegistry.load(Map.empty))
    intercept[IllegalArgumentException](
      KmsRegistry.load(Map(KmsRegistry.KmsTypeProp -> "vault")))
  }

  test("plaintext manager fails closed; envelope manager round-trips") {
    val (pt, meta) = PlaintextEncryptionManager.encrypt("", "hello".getBytes)
    assert(meta.isEmpty && pt.toSeq === "hello".getBytes.toSeq)
    intercept[IllegalArgumentException](
      PlaintextEncryptionManager.encrypt("k1", "hello".getBytes))
    intercept[IllegalArgumentException](
      PlaintextEncryptionManager.decrypt("meta".getBytes, "x".getBytes))

    val mgr = new StandardEncryptionManager(new InMemoryKms().addKey("k1", kek))
    val (ct, km) = mgr.encrypt("k1", "secret payload".getBytes)
    assert(!ct.sameElements("secret payload".getBytes))
    assert(new String(mgr.decrypt(km, ct)) === "secret payload")
    val bad = ct.clone(); bad(0) = (bad(0) ^ 1).toByte
    intercept[AuthenticationFailed](mgr.decrypt(km, bad))
  }

  test("encrypted table round-trips through append/scan; files are opaque without keys") {
    import spark.implicits._
    val catalog = new HadoopCatalog(Files.createTempDirectory("graft-enc").toString)
    val df = (1L to 100L).map(i => (i, s"row$i")).toDF("id", "payload")
    val t = catalog.createTable("enc_t", SchemaBridge.fromSpark(df.schema),
      PartitionSpec.Unpartitioned,
      properties = Map(ParquetEncryption.KeyIdProp -> "k1"))
    val t1 = Writer.append(spark, t, df)

    // read through the engine: decrypts transparently, stats/pruning intact
    val back = SparkRead.read(spark, t1.newScan)
    assert(back.count() === 100)
    assert(back.filter($"id" === 42L).select("payload").as[String].head() === "row42")

    // the parquet footer must be unreadable without KMS access
    val dataFile = t1.newScan.planFiles().head.file.path
    val bare = new org.apache.hadoop.conf.Configuration()
    val ex = intercept[Exception] {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(dataFile), bare))
      try r.getFooter finally r.close()
    }
    assert(ex.getMessage != null)

    // MoR delete writes (pos-delete parquet) are encrypted too and readable
    val t2 = Writer.deleteWhereMoR(spark, t1, Expr.eq("id", 7L))
    assert(SparkRead.read(spark, t2.newScan).count() === 99)
  }

  /** Every parquet file under `location` (data and positional-delete
    * files) fails to open without the KMS.
    */
  private def assertEncrypted(location: String, what: String): Unit = {
    val files = graft.io.FileIO.listFilesRecursive(location).map(_.path)
      .filter(_.endsWith(".parquet"))
    assert(files.nonEmpty, what)
    val bare = new org.apache.hadoop.conf.Configuration()
    files.foreach { f =>
      val opened = scala.util.Try {
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f), bare))
        try r.getFooter finally r.close()
      }
      assert(opened.isFailure, s"$what: $f opens without the KMS")
    }
  }

  test("SQL row-level writes, dynamic overwrite and MoR deletes encrypt every data and delete file") {
    val wh = Files.createTempDirectory("graft-enc-sql").toString
    spark.conf.set("spark.sql.catalog.genc", classOf[graft.sources.GraftSpjCatalog].getName)
    spark.conf.set("spark.sql.catalog.genc.uri", wh)
    val catalog = new HadoopCatalog(wh)
    Seq(("enc_cow", "copy-on-write", 2), ("enc_mor2", "merge-on-read", 2),
        ("enc_mor3", "merge-on-read", 3)).foreach { case (name, mode, version) =>
      spark.sql(s"""CREATE TABLE genc.$name (id BIGINT, seg INT, payload STRING)
        PARTITIONED BY (identity(seg))
        TBLPROPERTIES ('${ParquetEncryption.KeyIdProp}' = 'k1',
          'write.delete.mode' = '$mode', 'write.update.mode' = '$mode')""")
      if (version >= 3) graft.table.Evolve.upgradeFormatVersion(catalog.loadTable(name), 3)
      var model: Map[Long, (Int, String)] = (0L until 20L).map(i => i -> ((i % 2).toInt, s"row$i")).toMap
      def check(what: String)(change: Map[Long, (Int, String)] => Map[Long, (Int, String)]): Unit = {
        model = change(model)
        val want = model.toSeq.map { case (id, (seg, p)) => s"[$id,$seg,$p]" }.sorted
        def rows(df: org.apache.spark.sql.DataFrame) =
          df.select("id", "seg", "payload").collect().map(_.toString).toSeq.sorted
        assert(rows(spark.table(s"genc.$name")) === want, s"$name SQL after $what")
        assert(rows(SparkRead.read(spark, catalog.loadTable(name).newScan)) === want,
          s"$name SparkRead.read after $what")
        assertEncrypted(catalog.loadTable(name).location, s"$name after $what")
      }
      spark.sql(s"INSERT INTO genc.$name SELECT id, CAST(id % 2 AS INT), concat('row', id) FROM range(20)")
      check("INSERT")(identity)
      spark.sql(s"UPDATE genc.$name SET payload = 'updated' WHERE id = 3")
      check("UPDATE")(_.updated(3L, (1, "updated")))
      spark.sql(s"DELETE FROM genc.$name WHERE id = 4")
      check("DELETE")(_ - 4L)
      if (mode == "copy-on-write") {
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try spark.sql(s"INSERT OVERWRITE genc.$name SELECT 100L, 1, 'over'")
        finally spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
        check("dynamic INSERT OVERWRITE")(m => m.filter(_._2._1 != 1) + (100L -> ((1, "over"))))
      } else {
        Writer.deleteWhereMoR(spark, catalog.loadTable(name), Expr.eq("id", 7L))
        check("Writer.deleteWhereMoR")(_ - 7L)
      }
    }
  }

  test("table demanding encryption without a session KMS fails closed") {
    val bareSession = spark.newSession()
    // a fresh session without graft.encryption.* conf
    bareSession.conf.unset(KmsRegistry.KmsTypeProp)
    bareSession.conf.unset(KmsRegistry.MemoryKeysProp)
    val catalog = new HadoopCatalog(Files.createTempDirectory("graft-enc2").toString)
    import spark.implicits._
    val df = Seq((1L, "x")).toDF("id", "payload")
    val t = catalog.createTable("enc_u", SchemaBridge.fromSpark(df.schema),
      PartitionSpec.Unpartitioned,
      properties = Map(ParquetEncryption.KeyIdProp -> "k1"))
    intercept[IllegalArgumentException](Writer.append(bareSession, t, df))
  }
}
