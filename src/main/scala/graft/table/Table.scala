package graft.table

import graft.core._
import graft.format._

/** A loaded Iceberg table: immutable metadata + location + catalog handle
  * (reference `table/table.go:101-141`).
  */
final class Table(
    val name: String,
    val metadata: TableMetadata,
    val metadataPath: String,
    val catalog: graft.catalog.Catalog,
    /** Catalog-injected reporter (reference `tableFromResponse`,
      * `catalog/rest/rest.go:1118-1152`): a REST catalog wires tables to
      * ship scan/commit reports back to its metrics endpoint. Nop for
      * catalogs with no metrics sink.
      */
    val catalogReporter: graft.metrics.Reporter = graft.metrics.NopReporter,
    /** Catalog-vended storage credentials for this table's location, if
      * any — applied lazily at scan time, renewed on expiry (reference
      * `vendedCredentialRefresher`).
      */
    val ioCredentials: Option[graft.io.TableCredentials] = None) {

  def schema: IcebergSchema = metadata.schema
  def spec: PartitionSpec = metadata.spec
  def location: String = metadata.location

  def newScan: Scan = Scan(this)

  /** Name mapping for ID-less imported files, if add_files ever ran. */
  def nameMapping: Option[NameMapping] =
    metadata.properties.get(NameMapping.PropertyKey).map(NameMapping.fromJson)

  /** Metrics reporter: the property-named one (`metrics-reporter-impl`,
    * nop when unset; unknown names fail loudly — reference
    * `metrics/registry.go:95-117`) combined with the catalog-injected one.
    */
  lazy val reporter: graft.metrics.Reporter = {
    val fromProps = graft.metrics.Registry.fromProperties(metadata.properties)
    (catalogReporter, fromProps) match {
      case (graft.metrics.NopReporter, p) => p
      case (c, graft.metrics.NopReporter) => c
      case (c, p) => graft.metrics.Reporter.combine(c, p)
    }
  }

  /** Reload from the catalog — with the reference's drop+recreate guard
    * (`table.go` Refresh / `refresh_uuid_test.go`): a reload whose
    * `table-uuid` differs from the in-hand metadata's is a DIFFERENT table
    * wearing the same name (dropped and recreated underneath us), and the
    * commit retry loop must refuse to rebase staged work onto it rather
    * than silently committing into the new incarnation. Either side missing
    * a uuid (legacy v1 metadata) disables the check, matching the
    * reference's nil-uuid tolerance.
    */
  def refresh(): Table = {
    val fresh = catalog.loadTable(name)
    val (prev, cur) = (metadata.tableUuid, fresh.metadata.tableUuid)
    if (prev.nonEmpty && cur.nonEmpty && prev != cur)
      throw new IllegalStateException(
        s"table $name uuid changed on refresh (expected $prev, found $cur): " +
          "the table was dropped and recreated; refusing to rebase onto it")
    fresh
  }

  /** Resolve the vended credentials (re-fetching through the catalog if
    * expired) and register them with FileIO for this table's location, so
    * metadata/manifest/puffin reads see them. Returns the resolved config
    * for per-scan reader options; empty without vending. Called at the top
    * of every plan — the "lazily applies, expiry is re-fetch" contract.
    */
  def refreshIoCredentials(): Map[String, String] = ioCredentials match {
    case None => Map.empty
    case Some(tc) =>
      val opts = tc.ioOptions()
      if (opts.nonEmpty)
        graft.io.FileIO.registerCredentials(metadata.location, opts)
      opts
  }

  /** The catalog version THIS metadata was loaded from — the CAS base for
    * commits. Derived from metadataPath, never re-read from the catalog: a
    * hint-file re-read at commit time would race a concurrent committer and
    * silently build on its version while carrying stale metadata (lost
    * update). Parsed from `v<N>.metadata.json`.
    */
  val currentVersion: Int =
    Locations.metadataVersionOf(metadataPath).getOrElse(
      throw new IllegalArgumentException(
        s"unversioned metadata path: $metadataPath"))
}

/** One unit of read work: a data file + the delete artifacts that apply to it
  * (reference `table/scanner.go:976-996`).
  */
final case class FileScanTask(
    file: DataFile,
    dataSequence: Long,
    posDeletes: Seq[DataFile],
    eqDeletes: Seq[(DataFile, Long)], // (delete file, its sequence number)
    specId: Int)

/** Immutable scan builder (reference `table/scanner.go:226-330`). */
final case class Scan(
    table: Table,
    filter: Expr = Expr.AlwaysTrue,
    selected: Seq[String] = Nil, // empty = all columns
    snapshotId: Option[Long] = None,
    asOfTimestampMs: Option[Long] = None,
    ref: Option[String] = None,
    limit: Option[Long] = None,
    caseSensitive: Boolean = true,
    rowLineage: Boolean = false) {

  def withFilter(e: Expr): Scan = copy(filter = e)
  def select(cols: String*): Scan = copy(selected = cols)
  def useSnapshot(id: Long): Scan = copy(snapshotId = Some(id))
  def asOf(tsMs: Long): Scan = copy(asOfTimestampMs = Some(tsMs))
  def useRef(r: String): Scan = copy(ref = Some(r))
  def withLimit(n: Long): Scan = copy(limit = Some(n))
  /** Surface v3 lineage columns `_row_id` and
    * `_last_updated_sequence_number` (reference `metadata_columns.go:40-128`,
    * synthesis `table/arrow_scanner.go:896-984`).
    */
  def withRowLineage: Scan = {
    // lineage columns exist only in the v3 data model; on v1/v2 every
    // file's first_row_id is absent and the projection would silently
    // yield nulls — reject instead (reference
    // TestProjectionRowLineageRejectedOnV1V2)
    require(table.metadata.formatVersion >= 3,
      s"row lineage requires format version 3, table is v${table.metadata.formatVersion}")
    copy(rowLineage = true)
  }

  /** The schema a read of this scan names its columns by: under time
    * travel (an explicit snapshot id, timestamp or ref) the snapshot's,
    * otherwise the table's current schema — metadata-only evolution has no
    * snapshot to re-pin it.
    */
  def readSchema: IcebergSchema = {
    val meta = table.metadata
    if (snapshotId.isEmpty && asOfTimestampMs.isEmpty && ref.isEmpty) meta.schema
    else snapshot.flatMap(_.schemaId).flatMap(meta.schemaById).getOrElse(meta.schema)
  }

  /** Snapshot resolution: explicit id > as-of timestamp > ref > current. */
  def snapshot: Option[Snapshot] = {
    snapshotId.map(id => table.metadata.snapshotById(id).getOrElse(
      throw new IllegalArgumentException(s"no snapshot $id")))
      .orElse(asOfTimestampMs.flatMap(table.metadata.snapshotAsOf))
      .orElse(ref.map(r => table.metadata.snapshotByRef(r).getOrElse(
        throw new IllegalArgumentException(s"no ref $r"))))
      .orElse(table.metadata.currentSnapshot)
  }

  /** Plan files: manifest-list fetch, manifest pruning (partition summaries),
    * per-entry partition + metrics pruning, delete matching
    * (reference `table/scanner.go:640-950`). Driver-side only.
    *
    * Scale shape: manifests are read CONCURRENTLY (driver thread pool via
    * parallel collections, like the reference's errgroup fan-out), and
    * delete matching is indexed — DVs and file-referenced pos-deletes by
    * referenced path, partition-scoped deletes by partition key, global
    * deletes pre-sorted by sequence number with binary-searched suffixes —
    * so cost is O(files·log(deletes)), not O(files·deletes).
    */
  def planFiles(): Seq[FileScanTask] = planFilesWithMetrics()._1

  def planFilesWithMetrics(): (Seq[FileScanTask], ScanMetrics) = {
    val planStart = System.nanoTime()
    // vended table credentials apply lazily, at first real use — manifest
    // reads below need them
    table.refreshIoCredentials()
    val snap = snapshot.getOrElse(return (Nil, ScanMetrics()))
    val meta = table.metadata
    // time-travel prunes with the SNAPSHOT's schema: current-schema bounds
    // decoding over renamed/promoted columns mis-prunes history. A recorded
    // but unknown schema-id is corrupt metadata — fail closed rather than
    // silently plan with the wrong schema (reference
    // TestTimeTravelUnknownSnapshotSchemaIDErrors); absent schema-id (old
    // v1 writers) keeps the current-schema fallback.
    val schema = snap.schemaId match {
      case Some(sid) => meta.schemaById(sid).getOrElse(
        throw new IllegalArgumentException(
          s"snapshot ${snap.snapshotId} references unknown schema-id $sid"))
      case None => meta.schema
    }
    // the filter names the read's columns; stats and partition values are
    // evaluated by field id under the snapshot's schema, so a column
    // renamed or added since the last write binds, and old manifests'
    // bounds keep their old encoding
    val named = readSchema
    val byName = Expr.bindNames(Expr.rewriteNot(filter), named, caseSensitive)
    // fail fast on references no schema field satisfies (reference
    // ExtractFieldIDs' unbound panic, visitors.go:524-526): a typo'd column
    // must error at plan time, not degrade to a might-match that silently
    // scans the whole table
    Expr.extractFieldIds(byName, named, caseSensitive)
    val boundFilter = if (named == schema) byName else Expr.renameByIds(byName, named, schema)

    val manifests = Manifests.readManifestList(snap.manifestList)

    // partition-space filters per spec id, built eagerly (cheap, avoids
    // synchronizing a cache across the parallel manifest scan)
    val partExprBySpec: Map[Int, Expr] = manifests.map(_.specId).distinct.map { specId =>
      val spec = meta.specById(specId).getOrElse(PartitionSpec.Unpartitioned)
      specId -> Evaluators.inclusiveProjection(schema, spec)(boundFilter)
    }.toMap
    def partExpr(specId: Int): Expr = partExprBySpec(specId)

    // 1. manifest pruning via partition field summaries
    val (dataManifests, deleteManifests) = manifests.partition(_.content == ManifestContent.Data)
    def keepManifest(m: ManifestFile): Boolean = {
      val spec = meta.specById(m.specId).getOrElse(PartitionSpec.Unpartitioned)
      Evaluators.manifestMightMatch(schema, spec, partExpr(m.specId), m)
    }
    val liveDataManifests = dataManifests.filter(keepManifest)

    // 2. delete entry indexes (delete metadata is small relative to data)
    val deleteEntries: Seq[(ManifestEntry, Long, Int)] = deleteManifests.flatMap { m =>
      val (entries, specId) = Manifests.readManifest(m.path)
      entries.filter(_.status != ManifestEntryStatus.Deleted).map { e =>
        (e, e.dataSequence.getOrElse(m.sequenceNumber), specId)
      }
    }
    val idx = DeleteIndex.build(meta, deleteEntries)

    // 3. per-manifest pruning + delete matching, manifests in parallel
    import scala.collection.parallel.CollectionConverters._
    val perManifest = liveDataManifests.par.map { m =>
      val spec = meta.specById(m.specId).getOrElse(PartitionSpec.Unpartitioned)
      val pExpr = partExpr(m.specId)
      // v3 first_row_id inheritance: another engine's manifests may carry
      // the id block at the MANIFEST-LIST level with null per-file ids
      val (entries, _) = Manifests.readManifest(m.path,
        m.firstRowId.filter(_ => m.content == graft.format.ManifestContent.Data))
      val live = entries
        .filter(_.status != ManifestEntryStatus.Deleted)
        .filter(e => e.file.content == DataFileContent.Data)
      val matched = live
        .filter(e => Evaluators.partitionMatches(schema, spec, pExpr, e.file))
        .filter(e => Evaluators.fileMightMatch(schema, boundFilter, e.file))
        .map { e =>
          val dataSeq = e.dataSequence.getOrElse(m.sequenceNumber)
          val (pos, eq) = idx.deletesFor(e.file, dataSeq, m.specId)
          FileScanTask(e.file, dataSeq, pos, eq, m.specId)
        }
      (matched, live.size)
    }.seq
    val tasks = perManifest.flatMap(_._1)
    val totalEntries = perManifest.map(_._2).sum
    val metrics = ScanMetrics(
      totalManifests = dataManifests.size,
      skippedManifests = dataManifests.size - liveDataManifests.size,
      totalDataFiles = totalEntries,
      skippedDataFiles = totalEntries - tasks.size,
      resultDataFiles = tasks.size,
      posDeleteFiles = tasks.map(_.posDeletes.size).sum,
      eqDeleteFiles = tasks.map(_.eqDeletes.size).sum)
    emitScanReport(snap, schema, metrics, System.nanoTime() - planStart)
    (tasks, metrics)
  }

  /** Emit a spec ScanReport after planning (reference
    * `metrics/scan_report.go:33-80`); never fails the scan.
    */
  private def emitScanReport(snap: Snapshot, schema: IcebergSchema,
      m: ScanMetrics, elapsedNanos: Long): Unit = {
    try {
      val rep = table.reporter
      if (rep eq graft.metrics.NopReporter) return
      import graft.metrics.{CounterResult, ScanMetricsResult, ScanReport, TimerResult}
      val projected =
        if (selected.isEmpty) schema.fields
        else schema.fields.filter(f => selected.contains(f.name))
      def cnt(n: Long) = Some(CounterResult.count(n))
      graft.metrics.Reporter.safe(rep, ScanReport(
        tableName = table.name,
        snapshotId = snap.snapshotId,
        schemaId = snap.schemaId.getOrElse(table.metadata.currentSchemaId),
        projectedFieldIds = projected.map(_.id),
        projectedFieldNames = projected.map(_.name),
        // sanitized (reference `scan_metrics.go:122`): the report may ship
        // to an untrusted sink; the user's literal values must not leak
        filterJson = graft.core.ExprJson.toJson(graft.core.Expr.sanitize(filter)),
        metrics = ScanMetricsResult(
          totalPlanningDuration = Some(TimerResult.nanos(1, elapsedNanos)),
          resultDataFiles = cnt(m.resultDataFiles.toLong),
          resultDeleteFiles = cnt((m.posDeleteFiles + m.eqDeleteFiles).toLong),
          totalDataManifests = cnt(m.totalManifests.toLong),
          scannedDataManifests = cnt((m.totalManifests - m.skippedManifests).toLong),
          skippedDataManifests = cnt(m.skippedManifests.toLong),
          skippedDataFiles = cnt(m.skippedDataFiles.toLong),
          equalityDeleteFiles = cnt(m.eqDeleteFiles.toLong),
          positionalDeleteFiles = cnt(m.posDeleteFiles.toLong))))
    } catch { case _: Exception => () }
  }

}

/** Scan planning counters (reference scan metrics report,
  * `table/scanner.go` reporter wiring). Surfaced by `planFilesWithMetrics`.
  */
final case class ScanMetrics(
    totalManifests: Int = 0,
    skippedManifests: Int = 0,
    totalDataFiles: Int = 0,
    skippedDataFiles: Int = 0,
    resultDataFiles: Int = 0,
    posDeleteFiles: Int = 0,
    eqDeleteFiles: Int = 0)

/** Indexed delete↔data matching (sequence rules reference
  * `table/scanner.go:529-636`): pos-deletes apply when delSeq >= dataSeq,
  * eq-deletes strictly delSeq > dataSeq, both scoped to the data file's
  * partition when the delete spec is partitioned; a file-referenced delete
  * applies only to its file; the newest DV supersedes parquet pos-deletes.
  *
  * Global (unpartitioned, unreferenced) delete lists are pre-sorted by
  * sequence so a binary-searched suffix replaces the former linear scan per
  * data file — the reference sorts + binary-searches the same way
  * (`table/scanner.go:744-800`).
  */
private[table] final class DeleteIndex(
    meta: TableMetadata,
    refDeletes: Map[String, Seq[(Long, graft.format.DataFile, Int, Int)]],
    posGlobal: IndexedSeq[(Long, graft.format.DataFile)],
    posByPart: Map[(Int, Seq[Any]), IndexedSeq[(Long, graft.format.DataFile)]],
    eqGlobal: IndexedSeq[(Long, graft.format.DataFile)],
    eqByPart: Map[(Int, Seq[Any]), IndexedSeq[(Long, graft.format.DataFile)]]) {

  import DeleteIndex.{norm, seqSuffix}

  def deletesFor(file: graft.format.DataFile, dataSeq: Long,
      dataSpecId: Int): (Seq[graft.format.DataFile], Seq[(graft.format.DataFile, Long)]) = {
    val partKey = (dataSpecId, file.partition.map(norm))

    // file-referenced deletes (DVs + referenced parquet pos-deletes), in
    // original commit order so "newest DV" stays well-defined. The
    // referenced data-file PATH is authoritative (spec: a DV applies to
    // exactly its referenced file) — no partition check, which would
    // wrongly drop global-spec DVs targeting partitioned data
    val ref = refDeletes.getOrElse(graft.io.FileIO.canonical(file.path), Nil)
      .filter { case (delSeq, _, _, _) => delSeq >= dataSeq }
    val (dvs, refParquet) = ref.partition(_._2.format == "PUFFIN")

    val pos: Seq[graft.format.DataFile] =
      if (dvs.nonEmpty) Seq(dvs.maxBy(_._4)._2)
      else refParquet.map(_._2) ++
        seqSuffix(posGlobal, dataSeq, strict = false).map(_._2) ++
        posByPart.get(partKey).map(seqSuffix(_, dataSeq, strict = false).map(_._2))
          .getOrElse(Nil)

    val eq: Seq[(graft.format.DataFile, Long)] =
      seqSuffix(eqGlobal, dataSeq, strict = true).map(t => (t._2, t._1)) ++
      eqByPart.get(partKey).map(seqSuffix(_, dataSeq, strict = true).map(t => (t._2, t._1)))
        .getOrElse(Nil)
    (pos, eq)
  }

}

private[table] object DeleteIndex {

  def build(meta: TableMetadata,
      deleteEntries: Seq[(ManifestEntry, Long, Int)]): DeleteIndex = {
    val refs = Map.newBuilder[String, Seq[(Long, DataFile, Int, Int)]]
    val refAcc = scala.collection.mutable.Map
      .empty[String, scala.collection.mutable.ArrayBuffer[(Long, DataFile, Int, Int)]]
    val posG = scala.collection.mutable.ArrayBuffer.empty[(Long, DataFile)]
    val posP = scala.collection.mutable.Map
      .empty[(Int, Seq[Any]), scala.collection.mutable.ArrayBuffer[(Long, DataFile)]]
    val eqG = scala.collection.mutable.ArrayBuffer.empty[(Long, DataFile)]
    val eqP = scala.collection.mutable.Map
      .empty[(Int, Seq[Any]), scala.collection.mutable.ArrayBuffer[(Long, DataFile)]]

    deleteEntries.zipWithIndex.foreach { case ((e, delSeq, specId), ord) =>
      val f = e.file
      val isPos = f.content == DataFileContent.PositionDeletes
      f.referencedDataFile match {
        case Some(ref) if isPos =>
          // canonical spelling: the reference may have been recorded from
          // Spark's _metadata (single-slash URI) while the data file path
          // came from location concatenation (triple-slash)
          refAcc.getOrElseUpdate(graft.io.FileIO.canonical(ref),
              scala.collection.mutable.ArrayBuffer.empty)
            .append((delSeq, f, specId, ord))
        case _ =>
          val spec = meta.specById(specId).getOrElse(PartitionSpec.Unpartitioned)
          val target =
            if (isPos) { if (spec.isUnpartitioned) posG else
              posP.getOrElseUpdate((specId, f.partition.map(norm)),
                scala.collection.mutable.ArrayBuffer.empty) }
            else { if (spec.isUnpartitioned) eqG else
              eqP.getOrElseUpdate((specId, f.partition.map(norm)),
                scala.collection.mutable.ArrayBuffer.empty) }
          target.append((delSeq, f))
      }
    }
    refAcc.foreach { case (k, v) => refs += k -> v.toSeq }
    new DeleteIndex(meta,
      refs.result(),
      posG.sortBy(_._1).toIndexedSeq,
      posP.map { case (k, v) => k -> v.sortBy(_._1).toIndexedSeq }.toMap,
      eqG.sortBy(_._1).toIndexedSeq,
      eqP.map { case (k, v) => k -> v.sortBy(_._1).toIndexedSeq }.toMap)
  }

  def norm(v: Any): Any = v match {
    case i: Int => i.toLong
    case other => other
  }

  /** Binary-searched suffix of a seq-ascending array: entries with
    * seq >= min (or > min when strict).
    */
  def seqSuffix(arr: IndexedSeq[(Long, DataFile)], min: Long,
      strict: Boolean): IndexedSeq[(Long, DataFile)] = {
    var lo = 0
    var hi = arr.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      val s = arr(mid)._1
      if (s > min || (!strict && s == min)) hi = mid else lo = mid + 1
    }
    arr.drop(lo)
  }
}
