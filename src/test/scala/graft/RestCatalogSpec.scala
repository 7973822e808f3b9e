package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.catalog.{Catalogs, CommitConflict, HadoopCatalog, SqlCatalog}
import graft.core._
import graft.format._
import graft.rest.{MetadataUpdate, PlannedScan, Requirement, RestCatalog, RestCatalogServer}
import graft.table.{SparkRead, Writer}

/** REST catalog protocol (reference `catalog/rest/rest.go`,
  * `scan_planning.go`): requirements+updates commits over HTTP, 409 →
  * CommitConflict → writer retry, and remote scan planning through the task
  * codec. Server and client are both ours; the wire shapes are the public
  * REST spec.
  */
class RestCatalogSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.001"
  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("rest-catalog")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val warehouse = Files.createTempDirectory("graft-rest").toString
  private lazy val backing = new HadoopCatalog(warehouse)
  private lazy val server = new RestCatalogServer(backing).start()
  private lazy val client = new RestCatalog(server.uri)

  override def afterAll(): Unit = {
    server.stop()
    spark.stop()
  }

  test("create / load / exists / list / drop over HTTP") {
    val nation = spark.read.parquet(s"$sf/nation.parquet")
    val schema = SchemaBridge.fromSpark(nation.schema)
    val t = client.createTable("smoke", schema, PartitionSpec.Unpartitioned)
    assert(t.currentVersion === 1)
    assert(client.tableExists("smoke"))
    assert(client.listTables().contains("smoke"))
    val loaded = client.loadTable("smoke")
    assert(loaded.schema.fields.map(_.name) === schema.fields.map(_.name))
    client.dropTable("smoke")
    assert(!client.tableExists("smoke"))
  }

  test("list endpoints paginate: pageSize pages chain via next-page-token") {
    val nation = spark.read.parquet(s"$sf/nation.parquet")
    val schema = SchemaBridge.fromSpark(nation.schema)
    val names = (0 until 5).map(i => f"pg_t$i")
    names.foreach(n => client.createTable(n, schema, PartitionSpec.Unpartitioned))
    try {
      // raw page: exactly pageSize identifiers + a token while more remain
      val http = java.net.http.HttpClient.newHttpClient()
      def get(q: String) = {
        val r = http.send(java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(s"${server.uri}/v1/namespaces/default/tables$q"))
          .GET().build(),
          java.net.http.HttpResponse.BodyHandlers.ofString())
        assert(r.statusCode() === 200)
        new com.fasterxml.jackson.databind.ObjectMapper().readTree(r.body())
      }
      val p1 = get("?pageSize=2")
      import scala.jdk.CollectionConverters._
      def idents(n: com.fasterxml.jackson.databind.JsonNode) =
        n.get("identifiers").elements().asScala.map(_.get("name").asText).toSeq
      assert(idents(p1).size === 2)
      val tok = p1.get("next-page-token").asText
      assert(tok.nonEmpty)
      val p2 = get(s"?pageSize=2&pageToken=$tok")
      assert(idents(p2).size === 2)
      assert(idents(p2).intersect(idents(p1)).isEmpty)
      // a small-page client drains every page and sees the full listing
      val paged = new RestCatalog(server.uri, listPageSize = 2)
      assert(names.forall(paged.listTables().contains))
      assert(paged.listTables() === paged.listTables().distinct)
    } finally names.foreach(client.dropTable)
  }

  test("async scan planning: submitted -> poll -> completed, shard fan-out") {
    val nation = spark.read.parquet(s"$sf/nation.parquet")
    val schema = SchemaBridge.fromSpark(nation.schema)
    // separate server over the same warehouse: every plan goes async and
    // completed results inline at most 1 task, sharding the rest
    val async = new RestCatalogServer(backing,
      asyncPlanThreshold = 1, planTaskShardSize = 1).start()
    try {
      val ac = new RestCatalog(async.uri)
      var t = client.createTable("asyncplan", schema, PartitionSpec.Unpartitioned)
      (0 until 3).foreach { i =>
        t = Writer.append(spark, client.loadTable("asyncplan"),
          nation.filter(col("n_nationkey") % 3 === i))
      }
      val sync = client.planScan("asyncplan") // inline path, same table
      val planned = ac.planScan("asyncplan")  // submitted -> poll -> shards
      assert(planned.tasks.map(_.file.path).sorted ===
        sync.tasks.map(_.file.path).sorted)
      assert(planned.tasks.size === 3)
      assert(async.planPolls.get >= 2)  // >=1 "submitted" + the completed fetch
      assert(async.taskFetches.get >= 2) // 1 inline + 2 sharded
      // rows through the async-planned tasks match a direct read
      val rows = SparkRead.readTasks(spark, planned.tasks, planned.schema).count()
      assert(rows === 25L)
      // shard handles are one-shot: a second drain of the same plan's
      // handles gets the typed 404 (server shard state stays bounded by
      // in-flight plans, not server lifetime)
      val again = ac.planScan("asyncplan") // fresh plan: fresh handles, works
      assert(again.tasks.size === 3)
    } finally async.stop()
  }

  test("plan cancel + typed 404s: plan-id and plan-task expiry are distinct") {
    val nation = spark.read.parquet(s"$sf/nation.parquet")
    val schema = SchemaBridge.fromSpark(nation.schema)
    val async = new RestCatalogServer(backing, asyncPlanThreshold = 1).start()
    try {
      val ac = new RestCatalog(async.uri)
      client.createTable("cancelplan", schema, PartitionSpec.Unpartitioned)
      Writer.append(spark, client.loadTable("cancelplan"), nation)
      // submit raw so we hold the plan-id before any polling
      val http = java.net.http.HttpClient.newHttpClient()
      val sub = http.send(java.net.http.HttpRequest.newBuilder(
        java.net.URI.create(
          s"${async.uri}/v1/namespaces/default/tables/cancelplan/plan"))
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString("{}"))
        .build(), java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(sub.statusCode() === 200)
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val subBody = om.readTree(sub.body())
      assert(subBody.get("status").asText() === "submitted")
      val planId = subBody.get("plan-id").asText()
      // cancel, then the status poll reports cancelled (terminal)
      ac.cancelPlan("cancelplan", planId)
      val st = http.send(java.net.http.HttpRequest.newBuilder(java.net.URI.create(
        s"${async.uri}/v1/namespaces/default/tables/cancelplan/plan/$planId"))
        .GET().build(), java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(om.readTree(st.body()).get("status").asText() === "cancelled")
      // unknown plan-id / plan-task map to their own exceptions
      intercept[graft.rest.PlanExpiredException] {
        ac.cancelPlan("cancelplan", "plan-nope")
      }
      val missing = http.send(java.net.http.HttpRequest.newBuilder(java.net.URI.create(
        s"${async.uri}/v1/namespaces/default/tables/cancelplan/tasks"))
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(
          """{"plan-task":"pt-nope"}"""))
        .build(), java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(missing.statusCode() === 404)
      assert(om.readTree(missing.body()).get("error").get("type").asText() ===
        "NoSuchPlanTaskException")
    } finally async.stop()
  }

  test("async-plan state is reclaimed: terminal fetch evicts, TTL sweeps abandons") {
    val nation = spark.read.parquet(s"$sf/nation.parquet")
    val schema = SchemaBridge.fromSpark(nation.schema)
    val async = new RestCatalogServer(backing, asyncPlanThreshold = 1,
      planTaskShardSize = 1, planTtlMs = 300L).start()
    try {
      val ac = new RestCatalog(async.uri)
      client.createTable("ttlplan", schema, PartitionSpec.Unpartitioned)
      Writer.append(spark, client.loadTable("ttlplan"), nation)
      // terminal fetch evicts: a completed planScan leaves no parked plan
      val planned = ac.planScan("ttlplan")
      assert(planned.tasks.nonEmpty)
      assert(async.pendingPlanCount === 0,
        "completed payload must evict the parked plan")
      // abandoned plan: submit raw, never poll — the TTL sweep reclaims
      // both the plan and its unfetched shard handles, and a post-expiry
      // poll gets the typed 404. Second append → 2 tasks → 1 inline +
      // 1 parked shard, so shard reclaim is actually exercised.
      Writer.append(spark, client.loadTable("ttlplan"), nation.limit(5))
      val http = java.net.http.HttpClient.newHttpClient()
      val sub = http.send(java.net.http.HttpRequest.newBuilder(
        java.net.URI.create(
          s"${async.uri}/v1/namespaces/default/tables/ttlplan/plan"))
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString("{}"))
        .build(), java.net.http.HttpResponse.BodyHandlers.ofString())
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val planId = om.readTree(sub.body()).get("plan-id").asText()
      assert(async.pendingPlanCount === 1 && async.pendingShardCount === 1)
      Thread.sleep(400L)
      val st = http.send(java.net.http.HttpRequest.newBuilder(java.net.URI.create(
        s"${async.uri}/v1/namespaces/default/tables/ttlplan/plan/$planId"))
        .GET().build(), java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(st.statusCode() === 404)
      assert(om.readTree(st.body()).get("error").get("type").asText() ===
        "NoSuchPlanIdException")
      assert(async.pendingPlanCount === 0 && async.pendingShardCount === 0,
        "abandoned plan + shard state must be TTL-reclaimed")
    } finally async.stop()
  }

  test("function endpoints: list paginates, load round-trips, typed 404s") {
    val store = backing.viewStore.get.asInstanceOf[graft.catalog.MetaObjects]
    val defs = (0 until 3).map(i => graft.catalog.UdfDef(
      s"fn_rest$i", "double", s"SELECT x * $i",
      parameters = Seq("x" -> "double"), comment = Some(s"c$i")))
    defs.foreach(store.createFunction)
    try {
      assert(client.listFunctions().filter(_.startsWith("fn_rest")) ===
        defs.map(_.name))
      // a pageSize=1 client drains every page
      val paged = new RestCatalog(server.uri, listPageSize = 1)
      assert(paged.listFunctions().filter(_.startsWith("fn_rest")) ===
        defs.map(_.name))
      val loaded = client.loadFunction("fn_rest1")
      assert(loaded === defs(1))
      assert(client.functionExists("fn_rest2"))
      assert(!client.functionExists("fn_nope"))
      // a missing namespace is NOT reported as a missing function
      val nsErr = intercept[NoSuchElementException] {
        client.loadFunction("fn_rest1", ns = "nope")
      }
      assert(nsErr.getMessage.contains("namespace"))
    } finally defs.foreach(d => store.dropFunction(d.name))
  }

  test("full write path commits through requirements+updates") {
    val nation = spark.read.parquet(s"$sf/nation.parquet")
    val schema = SchemaBridge.fromSpark(nation.schema)
    val t0 = client.createTable("wr", schema, PartitionSpec.Unpartitioned)
    val t1 = Writer.append(spark, t0, nation)
    assert(t1.metadata.snapshots.size === 1)
    assert(SparkRead.read(spark, t1.newScan).count() === 25)
    // the backing catalog sees the SAME committed state (the REST layer is
    // a protocol, not a fork)
    assert(backing.loadTable("wr").metadata.currentSnapshotId ===
      t1.metadata.currentSnapshotId)
    // row lineage cursor travelled through the add-snapshot extension
    assert(t1.metadata.nextRowId === 25)
    // MoR delete over REST too
    val t2 = Writer.deleteWhereDV(spark, t1, Expr.lt("n_nationkey", 5))
    assert(SparkRead.read(spark, t2.newScan).count() === 20)
  }

  test("stale handle: 409 surfaces as CommitConflict, writer retry rebases") {
    val nation = spark.read.parquet(s"$sf/nation.parquet")
    val schema = SchemaBridge.fromSpark(nation.schema)
    val t0 = client.createTable("race", schema, PartitionSpec.Unpartitioned)
    val t1 = Writer.append(spark, t0, nation.filter(col("n_nationkey") < 10))
    // disjoint state: a property-only commit from a STALE base must win
    // (it does not pin main) and must not clobber the concurrent snapshot
    client.commit("race", t0.metadata,
      t0.metadata.copy(properties = Map("sneak" -> "1")), expectedVersion = 1)
    val merged = client.loadTable("race")
    assert(merged.metadata.properties("sneak") === "1")
    assert(merged.metadata.currentSnapshotId === t1.metadata.currentSnapshotId)
    // move main past t1's head
    val t2 = Writer.append(spark, merged, nation.filter(col("n_nationkey") >= 10))
    assert(t2.metadata.currentSnapshotId !== t1.metadata.currentSnapshotId)
    // a stale commit that MOVES main pins the branch head and must 409
    val snapA = t1.metadata.currentSnapshot.get
    val fake = snapA.copy(snapshotId = snapA.snapshotId + 999,
      sequenceNumber = snapA.sequenceNumber + 1)
    intercept[CommitConflict] {
      client.commit("race", t1.metadata,
        t1.metadata.copy(
          snapshots = t1.metadata.snapshots :+ fake,
          currentSnapshotId = Some(fake.snapshotId)),
        expectedVersion = t1.currentVersion)
    }
    // Writer from the stale t1 handle retries through the same 409, rebases
    // onto head B, and lands its rows on top
    val t3 = Writer.append(spark, t1, nation.filter(col("n_nationkey") < 10))
    assert(SparkRead.read(spark, t3.newScan).count() === 35)
    assert(t3.metadata.snapshots.size === 3)
    assert(t3.metadata.properties("sneak") === "1")
  }

  test("remote scan planning ships codec tasks that read identically") {
    val customer = spark.read.parquet(s"$sf/customer.parquet")
    val schema = SchemaBridge.fromSpark(customer.schema)
    val t0 = client.createTable("plan", schema, PartitionSpec.Unpartitioned)
    val t1 = Writer.append(spark, t0, customer)
    val t2 = Writer.deleteWhereDV(spark, t1, Expr.eq("c_mktsegment", "MACHINERY"))

    val PlannedScan(tasks, planSchema, _, _) = client.planScan("plan")
    assert(tasks.nonEmpty)
    assert(tasks.exists(_.posDeletes.exists(_.format == "PUFFIN")))
    val viaRest = SparkRead.readTasks(spark, tasks, planSchema).count()
    val direct = SparkRead.read(spark, t2.newScan).count()
    assert(viaRest === direct)

    // filtered remote plan: files prune server-side AND the residual row
    // filter rides back for the read — matching files still carry rows
    // outside the filter, which must not surface
    val planned = client.planScan("plan", Expr.eq("c_mktsegment", "BUILDING"))
    assert(planned.tasks.size <= tasks.size)
    val viaFiltered = SparkRead.readTasks(spark, planned.tasks, planned.schema,
      residual = planned.residual)
    val directFiltered = SparkRead.read(spark,
      t2.newScan.withFilter(Expr.eq("c_mktsegment", "BUILDING"))).count()
    assert(viaFiltered.count() === directFiltered)
    assert(viaFiltered.select("c_mktsegment").distinct().collect()
      .map(_.getString(0)).toSeq === Seq("BUILDING"))
  }

  test("plan wire is the SPEC FileScanTask JSON (ContentFileParser shape)") {
    // the raw HTTP body a Java/PyIceberg client would parse: data-file
    // objects with kebab-case fields, {keys,values} parallel count maps,
    // HEX bound strings, string content discriminators, and
    // envelope-scoped delete-file-references indices
    // (reference scan_task_decoder.go:40-177)
    import scala.jdk.CollectionConverters._
    val region = spark.read.parquet(s"$sf/region.parquet")
    val schema = SchemaBridge.fromSpark(region.schema)
    val t0 = client.createTable("wire", schema, PartitionSpec.Unpartitioned)
    val t1 = Writer.append(spark, t0, region)
    Writer.deleteWhereDV(spark, t1, Expr.eq("r_name", "AFRICA"))
    val raw = java.net.http.HttpClient.newHttpClient().send(
      java.net.http.HttpRequest.newBuilder()
        .uri(java.net.URI.create(
          s"${server.uri}/v1/namespaces/default/tables/wire/plan"))
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString("{}"))
        .header("Content-Type", "application/json").build(),
      java.net.http.HttpResponse.BodyHandlers.ofString())
    assert(raw.statusCode() === 200)
    val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(raw.body())
    val tasks = body.get("file-scan-tasks")
    assert(tasks != null && tasks.size() >= 1)
    val task0 = tasks.get(0)
    val df = task0.get("data-file")
    assert(df != null, "spec wire carries data-file objects, not opaque blobs")
    assert(!task0.has("task"), "no base64 blob field on the spec wire")
    for (f <- Seq("spec-id", "content", "file-path", "file-format",
        "file-size-in-bytes", "record-count", "partition"))
      assert(df.has(f), s"data-file missing spec field $f")
    assert(df.get("content").asText() === "data")
    // count maps are parallel {keys, values} arrays
    val vc = df.get("value-counts")
    assert(vc != null && vc.has("keys") && vc.has("values"))
    assert(vc.get("keys").size() === vc.get("values").size())
    // bounds are hex strings, never base64
    val lb = df.get("lower-bounds")
    assert(lb.get("values").elements().asScala.forall(
      _.asText().matches("[0-9a-f]*")))
    // the DV rides the envelope delete-files array, referenced by index
    val dels = body.get("delete-files")
    assert(dels != null && dels.size() >= 1)
    assert(dels.get(0).get("content").asText() === "position-deletes")
    assert(dels.get(0).has("content-offset") && dels.get(0).has("referenced-data-file"))
    val refs = task0.get("delete-file-references")
    assert(refs != null && refs.elements().asScala.forall(r =>
      r.asInt() >= 0 && r.asInt() < dels.size()))
  }

  test("schema evolution travels as add-schema + set-current-schema") {
    val nation = spark.read.parquet(s"$sf/nation.parquet")
    val schema = SchemaBridge.fromSpark(nation.schema)
    val t0 = client.createTable("evo", schema, PartitionSpec.Unpartitioned)
    val t1 = Writer.append(spark, t0, nation)
    val t2 = graft.table.Evolve.addColumn(t1, "note", IcebergTypes.StringT)
    assert(t2.schema.findField("note").isDefined)
    // reconstruction on the server kept both schemas and moved the pointer
    val reloaded = client.loadTable("evo")
    assert(reloaded.metadata.schemas.size === 2)
    assert(reloaded.schema.findField("note").isDefined)
    assert(SparkRead.read(spark, reloaded.newScan).count() === 25)
  }

  test("diff/apply round-trip reconstructs semantic metadata") {
    val base = TableMetadata.empty("/tmp/t", IcebergSchema(Seq(
      NestedField(1, "id", IcebergTypes.LongT, required = true))),
      PartitionSpec.Unpartitioned)
    val snap = Snapshot(99L, None, 1L, 12345L, "/tmp/t/metadata/snap-99.avro",
      Map("operation" -> "append"), Some(0))
    val updated = base.copy(
      lastSequenceNumber = 1L,
      nextRowId = 42L,
      currentSnapshotId = Some(99L),
      snapshots = Seq(snap),
      snapshotLog = Seq(SnapshotLogEntry(99L, 12345L)),
      properties = Map("k" -> "v"),
      refs = Map("main" -> SnapshotRef(99L, "branch")))
    val (reqs, ups) = MetadataUpdate.diff(base, updated)
    assert(reqs.contains(Requirement.AssertTableUuid(base.tableUuid)))
    assert(reqs.contains(Requirement.AssertRefSnapshotId("main", None)))
    val applied = ups.foldLeft(base)(MetadataUpdate.apply)
    assert(applied.snapshots === updated.snapshots)
    assert(applied.currentSnapshotId === Some(99L))
    assert(applied.lastSequenceNumber === 1L)
    assert(applied.nextRowId === 42L)
    assert(applied.properties.get("k") === Some("v"))
    assert(applied.refs === updated.refs)
    assert(applied.snapshotLog === updated.snapshotLog)
  }

  test("requirements reject the right states") {
    val meta = TableMetadata.empty("/tmp/t", IcebergSchema(Seq(
      NestedField(1, "id", IcebergTypes.LongT, required = true))),
      PartitionSpec.Unpartitioned)
    import Requirement._
    assert(check(AssertTableUuid(meta.tableUuid), Some(meta)).isEmpty)
    assert(check(AssertTableUuid("other"), Some(meta)).isDefined)
    assert(check(AssertRefSnapshotId("main", None), Some(meta)).isEmpty)
    assert(check(AssertRefSnapshotId("main", Some(1L)), Some(meta)).isDefined)
    assert(check(AssertCreate, None).isEmpty)
    assert(check(AssertCreate, Some(meta)).isDefined)
    assert(check(AssertCurrentSchemaId(0), Some(meta)).isEmpty)
    assert(check(AssertCurrentSchemaId(7), Some(meta)).isDefined)
  }

  test("oauth2: 401 without token, client-credentials flow, refresh on expiry") {
    val wh = Files.createTempDirectory("graft-rest-auth").toString
    // 300ms tokens force the expiry-refresh path below
    val srv = new RestCatalogServer(new HadoopCatalog(wh),
      credentials = Map("svc" -> "s3cret"), tokenTtlMs = 300).start()
    try {
      val schema = IcebergSchema(Seq(NestedField(1, "id", IcebergTypes.LongT, required = true)))
      // no credential: every catalog call is rejected
      val anon = new RestCatalog(srv.uri)
      assert(!anon.tableExists("t"))
      intercept[IllegalArgumentException] {
        anon.createTable("t", schema, PartitionSpec.Unpartitioned)
      }
      // wrong secret: the token endpoint itself rejects
      val bad = new RestCatalog(srv.uri, Some(("svc", "wrong")))
      intercept[IllegalStateException] { bad.listTables() }
      // correct credential: full round trip
      val ok = new RestCatalog(srv.uri, Some(("svc", "s3cret")))
      ok.createTable("t", schema, PartitionSpec.Unpartitioned)
      assert(ok.tableExists("t"))
      // let the token expire; next call must refresh transparently
      Thread.sleep(500)
      assert(ok.listTables() === Seq("t"))
      // userinfo URI form carries the credential through the registry
      val viaUri = RestCatalog.fromUri(
        srv.uri.replace("http://", s"http://svc:s3cret@"))
      assert(viaUri.tableExists("t"))
    } finally srv.stop()
  }

  test("multi-table transaction over REST: atomic commit, conflict rolls back") {
    val nation = spark.read.parquet(s"$sf/nation.parquet")
    val schema = SchemaBridge.fromSpark(nation.schema)
    val a = client.createTable("txa", schema, PartitionSpec.Unpartitioned)
    val b = client.createTable("txb", schema, PartitionSpec.Unpartitioned)

    // happy path: both tables advance atomically through one HTTP commit
    val txn = new graft.catalog.MultiTableTransaction(client)
    txn.run(client.loadTable("txa"))(t => Writer.append(spark, t, nation))
    txn.run(client.loadTable("txb"))(t => Writer.append(spark, t, nation))
    txn.commit()
    assert(client.loadTable("txa").currentVersion === 2)
    assert(client.loadTable("txb").currentVersion === 2)
    assert(SparkRead.read(spark, client.loadTable("txb").newScan).count() === nation.count())

    // conflict on B: an out-of-band append after staging moves B's main
    // ref, so B's assert-ref-snapshot-id requirement fails server-side and
    // the whole transaction must leave A untouched
    val txn2 = new graft.catalog.MultiTableTransaction(client)
    txn2.run(client.loadTable("txa"))(t => Writer.append(spark, t, nation))
    txn2.run(client.loadTable("txb"))(t => Writer.append(spark, t, nation))
    Writer.append(spark, client.loadTable("txb"), nation)
    intercept[CommitConflict] { txn2.commit() }
    assert(client.loadTable("txa").currentVersion === 2, "A must be unchanged")
    assert(client.loadTable("txb").currentVersion === 3) // only the injected commit
  }

  test("scheme registry resolves rest:<uri>, sql-backed server serves namespaces") {
    val cat = Catalogs.load(s"rest:${server.uri}")
    assert(cat.isInstanceOf[RestCatalog])

    // REST over the SQL catalog: namespace endpoints delegate to the db
    val db = s"memory:rest_${java.util.UUID.randomUUID().toString.take(8)}"
    val wh = Files.createTempDirectory("rest-sql").toString
    val sqlBack = new SqlCatalog(s"jdbc:derby:$db;create=true", wh)
    val srv2 = new RestCatalogServer(sqlBack).start()
    try {
      val c2 = new RestCatalog(srv2.uri)
      val schema = IcebergSchema(Seq(NestedField(1, "id", IcebergTypes.LongT, required = true)))
      c2.createTable("raw.t1", schema, PartitionSpec.Unpartitioned)
      assert(sqlBack.namespaceExists("raw"))
      assert(c2.listTables() === Seq("raw.t1"))
    } finally srv2.stop()
  }

  test("rename and register travel the spec endpoints against a SQL backing") {
    val db = s"memory:rr_${java.util.UUID.randomUUID().toString.take(8)}"
    val wh = Files.createTempDirectory("rest-rr").toString
    val sqlBack = new SqlCatalog(s"jdbc:derby:$db;create=true", wh)
    val srv = new RestCatalogServer(sqlBack).start()
    try {
      val c = new RestCatalog(srv.uri)
      val schema = IcebergSchema(Seq(NestedField(1, "id", IcebergTypes.LongT, required = true)))
      val t = c.createTable("a", schema, PartitionSpec.Unpartitioned)
      // POST /v1/tables/rename: identity moves, uuid stays
      val renamed = c.renameTable("a", "b")
      assert(renamed.metadata.tableUuid === t.metadata.tableUuid)
      assert(!c.tableExists("a") && c.tableExists("b"))
      // POST /v1/namespaces/{ns}/register: second pointer at the same file
      val reg = c.registerTable("c", renamed.metadataPath)
      assert(reg.metadata.tableUuid === t.metadata.tableUuid)
      assert(c.loadTable("c").metadataPath === renamed.metadataPath)
      intercept[IllegalArgumentException](c.renameTable("b", "c")) // dest exists
      // register into a namespace the server doesn't know: the client no
      // longer auto-creates it, so the server's 404 surfaces
      val missing = intercept[IllegalArgumentException](
        c.registerTable("ghostns.x", renamed.metadataPath))
      assert(missing.getMessage.contains("ghostns"))
    } finally srv.stop()
    // a path-identity backing must REJECT rename, not mangle directories
    intercept[IllegalArgumentException](client.renameTable("nope_src", "nope_dst"))
  }

  test("loadTable vends table-scoped credentials that the table IO applies lazily") {
    import graft.io.{FileIO, GatedFileSystem, StorageCredential}
    val gwh = java.nio.file.Files.createTempDirectory("rest-vend").toString
    // the server owns storage; table build happens under its identity
    val serverTok = GatedFileSystem.issueToken(3600 * 1000L)
    val serverCreds = GatedFileSystem.implOptions + (GatedFileSystem.TokenKey -> serverTok)
    FileIO.registerCredentials("gated://", serverCreds)
    val hc = spark.sparkContext.hadoopConfiguration
    serverCreds.foreach { case (k, v) => hc.set(k, v) }
    var fetches = 0
    val vendor = (loc: String) => {
      fetches += 1
      Seq(StorageCredential("gated://", GatedFileSystem.implOptions +
        (GatedFileSystem.TokenKey -> GatedFileSystem.issueToken(600 * 1000L)) +
        ("expiration-time" -> (System.currentTimeMillis() + 600 * 1000L).toString)))
    }
    val srv = new RestCatalogServer(new HadoopCatalog(s"gated://$gwh"),
      vendCredentials = Some(vendor)).start()
    try {
      val c = new RestCatalog(srv.uri)
      val nation = spark.read.parquet(s"$sf/nation.parquet")
      val t0 = c.createTable("vend", SchemaBridge.fromSpark(nation.schema),
        PartitionSpec.Unpartitioned)
      Writer.append(spark, t0, nation)
      val t = c.loadTable("vend")
      assert(t.ioCredentials.isDefined)
      // strip every ambient credential: only the vended set remains
      hc.unset(GatedFileSystem.TokenKey)
      FileIO.unregisterCredentials("gated://")
      GatedFileSystem.revoke(serverTok)
      assert(SparkRead.read(spark, t.newScan).count() === 25)
      assert(fetches >= 1)
      // client-side WRITE under vended credentials only
      val t2 = Writer.append(spark, t,
        spark.read.parquet(s"$sf/nation.parquet"))
      assert(SparkRead.read(spark, t2.newScan).count() === 50)
      // without vending, the same read is denied at the manifests
      val bare = new graft.table.Table(t.name, t.metadata, t.metadataPath, c)
      FileIO.unregisterCredentials(t.metadata.location) // drop what refresh registered
      intercept[Exception](SparkRead.read(spark, bare.newScan).count())
    } finally {
      srv.stop()
      FileIO.unregisterCredentials("gated://")
      hc.unset(GatedFileSystem.TokenKey)
    }
  }

  // the REST spec's transient-backpressure answers (reference
  // TestHandleNon200_CapturesStatusAndRetryAfter): 429 honors the server's
  // Retry-After seconds, 503 without the header takes a short default
  // backoff; both resolve transparently for the caller
  test("429/503 with Retry-After are retried transparently") {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    val counts = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val srv = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    def reply(ex: HttpExchange, code: Int, body: String,
        headers: Map[String, String] = Map.empty): Unit = {
      headers.foreach { case (k, v) => ex.getResponseHeaders.add(k, v) }
      val b = body.getBytes("UTF-8")
      ex.sendResponseHeaders(code, if (b.isEmpty) -1 else b.length.toLong)
      if (b.nonEmpty) ex.getResponseBody.write(b)
      ex.close()
    }
    srv.createContext("/", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val p = ex.getRequestURI.getPath
        val n: Int = counts.merge(p, 1, (a, b) => a + b)
        p match {
          case "/v1/config" =>
            if (n == 1) reply(ex, 429,
              """{"error":{"message":"slow down","type":"SlowDown","code":429}}""",
              Map("Retry-After" -> "0"))
            else reply(ex, 200, """{"defaults":{},"overrides":{}}""")
          case "/v1/namespaces" =>
            if (n == 1) reply(ex, 503, "")
            else reply(ex, 200, """{"namespaces":[["nsx"]]}""")
          case other if other.startsWith("/v1/namespaces/nsx/tables") =>
            reply(ex, 200, """{"identifiers":[]}""")
          case _ => reply(ex, 404, "")
        }
      }
    })
    srv.start()
    try {
      val c = new RestCatalog(s"http://127.0.0.1:${srv.getAddress.getPort}")
      assert(c.listTables() === Seq.empty)
      assert(counts.get("/v1/config") === 2, "config retried after 429")
      assert(counts.get("/v1/namespaces") === 2, "namespaces retried after 503")
    } finally srv.stop(0)
  }

  // reference `wait_for_plan_test.go`: the plan poll is an idempotent GET,
  // so Java's idempotent retry set (408/429/500/502/503/504) keeps polling
  // — INCLUDING a 500 whose error body is not JSON — while statuses
  // outside the set (501) stay terminal
  test("plan polling retries the idempotent-GET status set, 501 is terminal") {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    val polls = new java.util.concurrent.atomic.AtomicInteger(0)
    val srv = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    def reply(ex: HttpExchange, code: Int, body: String): Unit = {
      val b = body.getBytes("UTF-8")
      ex.sendResponseHeaders(code, if (b.isEmpty) -1 else b.length.toLong)
      if (b.nonEmpty) ex.getResponseBody.write(b)
      ex.close()
    }
    srv.createContext("/", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val p = ex.getRequestURI.getPath
        if (p == "/v1/config") reply(ex, 200, """{"defaults":{},"overrides":{}}""")
        else if (p == "/v1/namespaces/db/tables/tbl/plan/plan-1")
          polls.incrementAndGet() match {
            case 1 => reply(ex, 504, "")
            case 2 => reply(ex, 500, "not json") // malformed body still retries
            case 3 => reply(ex, 408, "")
            case _ => reply(ex, 200, """{"status":"completed","plan-tasks":["t1"]}""")
          }
        else if (p == "/v1/namespaces/db/tables/tbl2/plan/plan-2")
          reply(ex, 501, """{"error":{"message":"nope","type":"NotImplemented","code":501}}""")
        else reply(ex, 404, "")
      }
    })
    srv.start()
    try {
      val c = new RestCatalog(s"http://127.0.0.1:${srv.getAddress.getPort}")
      val b = c.pollPlan("db", "tbl", "plan-1")
      assert(b.get("status").asText === "completed")
      assert(polls.get >= 4, s"transient statuses must burn polls, got ${polls.get}")
      val e = intercept[IllegalStateException](c.pollPlan("db", "tbl2", "plan-2"))
      assert(e.getMessage.contains("fetchPlanningResult"))
    } finally srv.stop(0)
  }
}
