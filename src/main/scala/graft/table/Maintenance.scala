package graft.table

import java.util.UUID

import org.apache.spark.sql.SparkSession

import graft.core._
import graft.format._

/** Table maintenance operators (reference §2.6): bin-pack compaction
  * (`table/compaction/compaction.go:31-380`, `table/rewrite_data_files.go:
  * 223-600`), snapshot expiry (`table/transaction.go:448-557`), manifest
  * rewrite (`table/rewrite_manifests.go:42-430`), and orphan-file cleanup
  * (`table/orphan_cleanup.go:44-1057`), re-expressed over Spark jobs + our
  * snapshot producer.
  */
object Maintenance {

  final case class CompactionResult(
      table: Table,
      rewrittenDataFiles: Int,
      addedDataFiles: Int,
      removedDeleteFiles: Int)

  /** Bin-pack RewriteDataFiles: group live files by partition, select groups
    * that are fragmented (≥ minInputFiles below target size) or carry MoR
    * deletes, rewrite each selected group through the MoR read pipeline
    * (folding deletes in), and drop delete files whose referenced data files
    * were all rewritten.
    *
    * The rewrite is one distributed job per partition group set — file
    * bin-packing parallelism comes from Spark's own write tasks, so the
    * operator scales with cluster width, not file count on the driver.
    *
    * v3 row lineage is PRESERVED across compaction when every file in the
    * rewrite scope carries it: the read pipeline synthesizes each row's
    * `_row_id` / `_last_updated_sequence_number` and the writer
    * materializes them as explicit parquet columns under the reserved
    * field ids — the read rule is explicit-column-wins, so the fresh
    * first_row_id blocks the commit still assigns are ignored row-wise
    * (Java's accounting; reference `rewrite_data_files.go:330-390`,
    * `snapshot_producers.go:1224-1231`). Mixed scopes (legacy files from
    * before a v3 upgrade) degrade gracefully: lineage drops for the group.
    */
  /** `zorderBy`: non-empty = re-cluster the rewritten rows on a Morton
    * (z-order) key over the named columns before writing — range
    * partition + sort on the interleaved-bit key, so every rewritten
    * file's min/max bounds are tight on ALL the named columns and a box
    * predicate over any subset of them prunes files (the
    * `rewrite_data_files(strategy => 'sort', sort_order => zorder(...))`
    * layout action). Costs one min/max aggregation over the rewrite set
    * plus the range exchange the clustered write needs anyway.
    */
  /** `filter`: scopes which files are rewrite CANDIDATES (the reference's
    * caller-chosen `CompactionTaskGroup`s / Java's `where =>` procedure
    * arg). Delete-collection safety always surveys the FULL live task set:
    * a delete attached to any out-of-scope file survives, and dead-delete
    * judgment never narrows to the filtered view — so a partial compaction
    * can only drop deletes whose every applicable file was rewritten or
    * that apply to nothing (`eq_delete_decision.go` survivor survey).
    */
  def rewriteDataFiles(spark: SparkSession, table: Table,
      targetFileSizeBytes: Long = 0, minInputFiles: Int = 2,
      rewriteAll: Boolean = false, zorderBy: Seq[String] = Nil,
      filter: Expr = Expr.AlwaysTrue, maxCommits: Int = 1): CompactionResult = {
    val targetSize =
      if (targetFileSizeBytes > 0) targetFileSizeBytes
      else table.metadata.properties.get("write.target-file-size-bytes")
        .map(_.toLong).getOrElse(512L * 1024 * 1024)
    val tasks = table.newScan.planFiles()

    // a delete file may be attached to many data files (eq-deletes, parquet
    // pos-deletes); it can be dropped only when every data file it applies
    // to is being rewritten — otherwise it must survive for the others
    val deleteAttachment: Map[(String, Option[Long]), Set[String]] = tasks
      .flatMap(t => (t.posDeletes.map(d => (d.path, d.contentOffset)) ++
        t.eqDeletes.map(e => (e._1.path, e._1.contentOffset))).map(_ -> t.file.path))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }

    // DEAD equality deletes (reference compaction/eq_delete_decision.go:140,
    // the iceberg-go#946 CDC backlog): an eq-delete the scan attaches to
    // ZERO live data files can never apply again — every future file
    // commits at a higher data sequence, and eq-deletes only reach files
    // with a LOWER one — yet attachment-based dropping alone never sees it
    // (it appears under no task), so sustained CDC replication accretes one
    // immortal delete file per commit and planning degrades linearly.
    // Deadness is judged by the same DeleteIndex applicability the readers
    // use (sequence + partition scope + bounds overlap), so collection can
    // never widen what a delete removes. Computed BEFORE the no-rewrite
    // early returns: a table whose rows are all deleted (CDC drain) has no
    // scan tasks yet carries the full backlog.
    val attachedDeleteKeys = deleteAttachment.keySet
    val deadEqDeletes: Set[(String, Option[Long])] =
      table.metadata.currentSnapshot
        .map(s => Manifests.readManifestList(s.manifestList)).getOrElse(Nil)
        .filter(_.content == ManifestContent.Deletes)
        .flatMap(m => Manifests.readManifest(m.path)._1
          .filter(_.status != ManifestEntryStatus.Deleted).map(_.file))
        .filter(_.content == DataFileContent.EqualityDeletes)
        .map(f => (f.path, f.contentOffset))
        .filterNot(attachedDeleteKeys)
        .toSet

    // nothing to rewrite: still collect the dead backlog, delete-only
    def deadOnlyCommit(): CompactionResult =
      if (deadEqDeletes.isEmpty) CompactionResult(table, 0, 0, 0)
      else CompactionResult(
        Writer.commitSnapshot(table, "replace", addedFiles = Nil,
          removedPaths = Set.empty, addedDeleteFiles = Nil,
          removedDeleteKeys = deadEqDeletes),
        0, 0, deadEqDeletes.size)

    if (tasks.isEmpty) return deadOnlyCommit()

    // candidate scope: files the caller's filter selects (whole files —
    // the filter NEVER drops rows during the rewrite read)
    val inScope: Set[String] =
      if (filter == Expr.AlwaysTrue) tasks.map(_.file.path).toSet
      else table.newScan.withFilter(filter).planFiles().map(_.file.path).toSet

    val byPartition = tasks.filter(t => inScope(t.file.path))
      .groupBy(_.file.partition.map(String.valueOf).mkString("/"))
    val selectedGroups: Seq[Seq[FileScanTask]] = byPartition.values.filter { group =>
      rewriteAll ||
        group.exists(t => t.posDeletes.nonEmpty || t.eqDeletes.nonEmpty) ||
        group.count(_.file.fileSize < targetSize) >= minInputFiles
    }.map(_.toSeq).toSeq
    val selected = selectedGroups.flatten
    if (selected.isEmpty) return deadOnlyCommit()

    val schema = table.schema
    val ioOptions = table.refreshIoCredentials()
    // v3 row-lineage preservation: a MIXED scope (legacy files from before a
    // v3 upgrade) splits into a lineage-preserving and a legacy output group
    // (Writer.lineageSplit) rather than dropping lineage for everyone
    def rewriteGroup(group: Seq[FileScanTask], preserve: Boolean): Seq[DataFile] = {
      val compacted = SparkRead.readPlanned(spark, table, group, schema,
        rowLineage = preserve, ioOptions)
      // the actual bin-pack: output partition count sized so each lands near
      // target (coalesce merges read splits without a shuffle; the writer's
      // calibrated maxRecordsPerFile still rolls any partition that runs
      // over). Without this, output file count = input split count and
      // fragments never merge.
      val nOut = math.max(1, math.ceil(
        group.map(_.file.fileSize).sum.toDouble / targetSize).toInt)
      val clustered = if (zorderBy.isEmpty) compacted.coalesce(nOut) else {
        import org.apache.spark.sql.functions.{col, max, min}
        // per-column ranges for rank normalization: ONE agg (2 exprs per
        // column), one driver-side row
        val aggExprs = zorderBy.flatMap(c =>
          Seq(min(col(c)).cast("double"), max(col(c)).cast("double")))
        val row = compacted.agg(aggExprs.head, aggExprs.tail: _*).head()
        val mins = zorderBy.indices.map(i => row.getDouble(2 * i))
        val maxs = zorderBy.indices.map(i => row.getDouble(2 * i + 1))
        val zkey = graft.functions.ZOrder.zorderKey(zorderBy.map(col), mins, maxs)
        // range partition + sort on the key: per-file key ranges are globally
        // non-overlapping, so bounds on every participating column tighten;
        // the projection dropping the key preserves the arranged order
        compacted.withColumn("__zkey", zkey)
          .repartitionByRange(nOut, col("__zkey"))
          .sortWithinPartitions(col("__zkey"))
          .drop("__zkey")
      }
      Writer.writeDataFiles(spark, table, clustered)
    }
    // PARTIAL PROGRESS (iceberg-java partial-progress.max-commits): split
    // the selection into up to `maxCommits` INDEPENDENT commits along
    // bin-pack group boundaries, greedily balanced by input bytes. At
    // 100 TB this is the difference between one atomic commit whose
    // conflict window spans the whole multi-hour rewrite (retried from
    // scratch against a live commit stream) and N small commits each
    // racing only its own batch — a mid-run failure abandons the REMAINING
    // batches while completed ones stand (the rewrite is idempotent to
    // re-run). maxCommits = 1 (the default) keeps the single-commit
    // semantics byte-for-byte.
    val batches: Seq[Seq[FileScanTask]] = {
      val n = math.max(1, math.min(maxCommits, selectedGroups.size))
      if (n == 1) Seq(selected)
      else {
        val bins = Array.fill(n)(Seq.newBuilder[FileScanTask])
        val binBytes = Array.fill(n)(0L)
        selectedGroups.sortBy(-_.map(_.file.fileSize).sum).foreach { g =>
          val i = binBytes.indices.minBy(binBytes)
          bins(i) ++= g
          binBytes(i) += g.map(_.file.fileSize).sum
        }
        bins.map(_.result()).filter(_.nonEmpty).toSeq
      }
    }
    var cur = table
    var covered = Set.empty[String]
    var dropped = Set.empty[(String, Option[Long])]
    var totalNew = 0
    batches.zipWithIndex.foreach { case (batch, i) =>
      val batchPaths = batch.map(_.file.path).toSet
      covered ++= batchPaths
      // a shared delete file drops with the LAST batch that completes its
      // attachment set — until then the files of later batches still need
      // it; the dead backlog rides the first commit. (Collected through an
      // iterator: a Map's collect yielding (path, offset) pairs would build
      // a Map keyed by path and keep ONE blob per puffin file, leaving the
      // file's other DVs live after their data files are gone.)
      val batchDroppable = deleteAttachment.iterator.collect {
        case (key, dataPaths) if dataPaths.subsetOf(covered) && !dropped(key) => key
      }.toSet
      dropped ++= batchDroppable
      val removeKeys = batchDroppable ++ (if (i == 0) deadEqDeletes else Set.empty)
      val newFiles = Writer.lineageSplit(table, batch).flatMap { case (g, p) => rewriteGroup(g, p) }
      cur = Writer.commitSnapshot(cur, "replace",
        addedFiles = newFiles, removedPaths = batchPaths,
        addedDeleteFiles = Nil,
        removedDeleteKeys = removeKeys,
        // a concurrent MoR delete landing on the files being compacted
        // would be dropped with them — rebase must refuse instead of
        // losing it
        conflictCheck = Some(Writer.ConflictCheck(
          rewrittenFiles = batch.map(t => (t.file, t.specId)))))
      totalNew += newFiles.size
    }
    CompactionResult(cur, selected.size, totalNew,
      (dropped ++ deadEqDeletes).size)
  }

  final case class DeleteCompactionResult(
      table: Table,
      rewrittenDeleteFiles: Int,
      addedDeleteFiles: Int,
      droppedDanglingFiles: Int)

  /** `rewrite_position_delete_files` (Iceberg convention): compact the
    * parquet positional-delete files into few target-ordered files and
    * drop DANGLING state — delete rows pointing at data files no longer
    * live (left behind when a CoW rewrite replaced some of a shared
    * delete file's targets), and DV puffins whose referenced file is gone.
    * An uncompacted pos-delete backlog taxes every read (each data file
    * probes every applicable delete file); this folds it to
    * ~Σbytes/target files in ONE snapshot. The live rows go through the
    * shared [[PositionDeleteWriter]]: parquet files on v2 (a file that
    * covers one data file references it), per-file deletion vectors on
    * v3, which forbids new parquet positional deletes, and on a table that
    * already carries DVs.
    *
    * Only POSITION deletes rewrite: their rows are (file_path, pos)-keyed,
    * so taking the new commit's sequence number cannot widen what they
    * delete (new data files have new paths) — re-sequencing an EQUALITY
    * delete would change which rows it kills, so those are left for
    * [[rewriteDataFiles]] to fold. Reference basis: the compaction
    * surface of `table/rewrite_data_files.go` applied to delete state.
    */
  def rewritePositionDeleteFiles(spark: SparkSession, table: Table,
      targetFileSizeBytes: Long = 0): DeleteCompactionResult = {
    SparkRead.configure(spark)
    val targetSize =
      if (targetFileSizeBytes > 0) targetFileSizeBytes
      else table.metadata.properties.get("write.target-file-size-bytes")
        .map(_.toLong).getOrElse(512L * 1024 * 1024)
    val live = table.newScan.planFiles()
    val livePaths = live.map(t => graft.io.FileIO.canonical(t.file.path)).toSet
    // ALL live delete entries from the delete manifests — a dangling
    // delete file never surfaces through planFiles (nothing live
    // references it), so the manifest walk is the source of truth
    val deleteEntries: Seq[DataFile] = table.metadata.currentSnapshot
      .map(s => Manifests.readManifestList(s.manifestList)).getOrElse(Nil)
      .filter(_.content == 1)
      .flatMap(m => Manifests.readManifest(m.path)._1
        .filter(_.status != ManifestEntryStatus.Deleted).map(_.file))
    val posParquet = deleteEntries
      .filter(f => f.content == DataFileContent.PositionDeletes && f.format != "PUFFIN")
      .distinctBy(_.path)
    val danglingDvs = deleteEntries
      .filter(f => f.content == DataFileContent.PositionDeletes && f.format == "PUFFIN")
      .filter(d => d.referencedDataFile.exists(r =>
        !livePaths(graft.io.FileIO.canonical(r))))
      .distinctBy(d => (d.path, d.contentOffset))
    if (posParquet.isEmpty && danglingDvs.isEmpty)
      return DeleteCompactionResult(table, 0, 0, 0)

    val added: Seq[DataFile] = if (posParquet.isEmpty) Nil else {
      import org.apache.spark.sql.functions.{col, regexp_replace}
      import spark.implicits._
      // live-target rows only, keyed by the data file's manifest path. The
      // delete rows' file_path folds to FileIO.canonical's form before the
      // join — on scheme-prefixed locations (hdfs:///p, file:/p) the raw
      // spelling never matches and every live delete row would be
      // misclassified dangling and dropped (rows previously deleted would
      // resurrect). Column-side equivalent of FileIO.canonical: file: →
      // rooted path; empty-authority scheme:///p|scheme:// → scheme:/p;
      // real authorities untouched.
      val canonPath = regexp_replace(
        regexp_replace(col("file_path"), "^file:/*", "/"),
        "^([A-Za-z][A-Za-z0-9+.-]*):(///+|//$)", "$1:/")
      val liveDf = live.map(t => (graft.io.FileIO.canonical(t.file.path), t.file.path))
        .distinct.toDF("canon", "data_file")
      val rows = MetadataRead.parquet(spark,
          posParquet.map(d => (d.path, d.fileSize)), SparkRead.PosDeleteSchema)
        .select(canonPath.as("canon"), col("pos"))
        .join(liveDf, "canon")
        .select("data_file", "pos")
      // DVs (v3, or a table already carrying DVs): the backlog folds into
      // per-file DVs, each OR-ing the file's prior DV (which the commit
      // then removes). Otherwise ~Σbytes/target (file_path, pos)-ordered
      // parquet files, the spec's layout
      val writer = PositionDeleteWriter(spark, table, live,
        table.refreshIoCredentials(), foldParquet = false)
      PositionDeleteWriter.dataFiles(PositionDeleteWriter.write(rows, writer,
        files = if (writer.useDv) None else Some(math.max(1, math.ceil(
          posParquet.map(_.fileSize).sum.toDouble / targetSize).toInt))))
    }
    val removedKeys = (posParquet ++ danglingDvs)
      .map(f => (f.path, f.contentOffset)).toSet
    // new DVs SUPERSEDE the per-file delete state they folded at scan
    // time — a delete committed concurrently on the same files would be
    // dropped by this rewrite, so it must conflict
    val dvRefs = added.filter(_.format == "PUFFIN").flatMap(_.referencedDataFile).toSet
    val dvGuard =
      if (dvRefs.isEmpty) None
      else Some(Writer.ConflictCheck(dvReadFiles =
        live.filter(t => dvRefs(t.file.path)).map(t => (t.file, t.specId))))
    val committed = Writer.commitSnapshot(table, "replace",
      addedFiles = Nil, removedPaths = Set.empty,
      addedDeleteFiles = added, removedDeleteKeys = removedKeys,
      conflictCheck = dvGuard,
      globalDeleteSpec = true)
    DeleteCompactionResult(committed, posParquet.size, added.size, danglingDvs.size)
  }

  final case class ExpireResult(
      table: Table,
      expiredSnapshots: Seq[Long],
      deletedFiles: Seq[String])

  /** Expire snapshots older than `olderThanMs`, always retaining the last
    * `retainLast` by timestamp plus every snapshot referenced by a branch or
    * tag. Files reachable only from expired snapshots (manifest lists,
    * manifests, data/delete files) are deleted from storage.
    */
  def expireSnapshots(table: Table, olderThanMs: Long,
      retainLast: Int = 1): ExpireResult = {
    val meta = table.metadata
    val byTime = meta.snapshots.sortBy(_.timestampMs)
    val protectedIds: Set[Long] =
      meta.refs.values.map(_.snapshotId).toSet ++
      meta.currentSnapshotId.toSet ++
      byTime.takeRight(retainLast).map(_.snapshotId).toSet
    val (kept, expired) = meta.snapshots.partition(s =>
      protectedIds.contains(s.snapshotId) || s.timestampMs >= olderThanMs)
    expireCore(table, kept, expired, meta.refs)
  }

  /** Property/ref-driven expiry (Iceberg retention semantics; ref fields
    * per reference `table/metadata.go:855-925`): refs other than main age
    * out via their max-ref-age-ms; each surviving branch protects its
    * latest min-snapshots-to-keep ancestors plus all ancestors younger
    * than max-snapshot-age-ms (ref overrides, table `history.expire.*`
    * defaults); everything else expires once older than the default age.
    */
  def expireSnapshotsByPolicy(table: Table,
      nowMs: Long = System.currentTimeMillis()): ExpireResult = {
    val meta = table.metadata
    val props = meta.properties
    val defaultMaxAge = props.get("history.expire.max-snapshot-age-ms")
      .map(_.toLong).getOrElse(5L * 24 * 3600 * 1000)
    val defaultMinKeep = props.get("history.expire.min-snapshots-to-keep")
      .map(_.toInt).getOrElse(1)

    val liveRefs = meta.refs.filter { case (name, r) =>
      name == "main" || r.maxRefAgeMs.forall { age =>
        val refTs = meta.snapshotById(r.snapshotId).map(_.timestampMs).getOrElse(nowMs)
        nowMs - refTs < age
      }
    }
    def ancestry(id: Long): Seq[Snapshot] =
      Iterator.iterate(meta.snapshotById(id))(
        _.flatMap(_.parentSnapshotId).flatMap(meta.snapshotById))
        .takeWhile(_.isDefined).map(_.get).toSeq
    val protectedIds: Set[Long] = liveRefs.flatMap { case (_, r) =>
      if (r.refType == "tag") Seq(r.snapshotId)
      else {
        val chain = ancestry(r.snapshotId)
        val minKeep = r.minSnapshotsToKeep.getOrElse(defaultMinKeep)
        val maxAge = r.maxSnapshotAgeMs.getOrElse(defaultMaxAge)
        (chain.take(minKeep) ++ chain.filter(s => nowMs - s.timestampMs < maxAge))
          .map(_.snapshotId)
      }
    }.toSet ++ meta.currentSnapshotId
    val (kept, expired) = meta.snapshots.partition(s =>
      protectedIds.contains(s.snapshotId) || nowMs - s.timestampMs < defaultMaxAge)
    expireCore(table, kept, expired, liveRefs)
  }

  private def expireCore(table: Table, kept: Seq[Snapshot],
      expired: Seq[Snapshot],
      liveRefs: Map[String, graft.format.SnapshotRef]): ExpireResult = {
    val meta = table.metadata
    if (expired.isEmpty && liveRefs == meta.refs)
      return ExpireResult(table, Nil, Nil)

    // manifest reads are independent per snapshot — IO-bound driver work,
    // parallelized like the reference's worker pool (orphan_cleanup.go)
    def reachableFiles(snaps: Seq[Snapshot]): Set[String] = {
      import scala.collection.parallel.CollectionConverters._
      snaps.par.flatMap { s =>
        Seq(s.manifestList) ++ Manifests.readManifestList(s.manifestList).flatMap { m =>
          val (entries, _) = Manifests.readManifest(m.path)
          m.path +: entries.map(_.file.path)
        }
      }.seq.toSet
    }
    val keep = reachableFiles(kept)
    val candidates = reachableFiles(expired)
    val toDelete = (candidates -- keep).toSeq.sorted

    val expiredIds = expired.map(_.snapshotId).toSet
    val updated = meta.copy(
      snapshots = kept,
      refs = liveRefs,
      snapshotLog = meta.snapshotLog.filterNot(e => expiredIds.contains(e.snapshotId)),
      lastUpdatedMs = System.currentTimeMillis())
    val committed = MetadataLogPolicy.commit(table, updated)
    graft.io.FileIO.deleteAll(toDelete)
    ExpireResult(committed, expired.map(_.snapshotId), toDelete)
  }

  /** Merge the current snapshot's data manifests into ~`targetCount` larger
    * ones (reference `table/rewrite_manifests.go:42-430`). Entries keep their
    * original data sequence numbers; a new "replace" snapshot points at the
    * merged list. Delete manifests are carried unchanged.
    */
  def rewriteManifests(table: Table, targetCount: Int = 1): Table = {
    val meta = table.metadata
    val snap = meta.currentSnapshot.getOrElse(return table)
    val manifests = Manifests.readManifestList(snap.manifestList)
    val (dataManifests, deleteManifests) =
      manifests.partition(_.content == ManifestContent.Data)
    // specs cannot merge with each other, so the best achievable count is
    // max(targetCount, #specs): without this guard a spec-evolved table
    // already at its minimum would churn a new replace snapshot forever
    val minAchievable = math.max(targetCount, dataManifests.map(_.specId).distinct.size)
    if (dataManifests.size <= minAchievable) return table

    val schema = meta.schema
    val metadataDir = Locations.metadataPath(meta.location, meta.properties)
    val newSeq = meta.lastSequenceNumber + 1
    val snapshotId = math.abs(UUID.randomUUID().getLeastSignificantBits)

    // resolve inherited sequence numbers BEFORE regrouping, and keep each
    // entry with its manifest's SPEC: merging specs would garble partition
    // tuples on spec-evolved tables
    val entriesBySpec: Map[Int, Seq[ManifestEntry]] = dataManifests
      .groupBy(_.specId)
      .map { case (specId, ms) =>
        specId -> ms.flatMap { m =>
          // materialize list-level inherited first_row_id as explicit
          // per-file ids — the regrouped manifests lose their source list
          // rows, and existing entries must preserve row ids (v3 spec)
          val (entries, _) = Manifests.readManifest(m.path, m.firstRowId)
          entries.filter(_.status != ManifestEntryStatus.Deleted).map(e =>
            e.copy(status = ManifestEntryStatus.Existing,
              dataSequence = Some(e.dataSequence.getOrElse(m.sequenceNumber))))
        }
      }
    // distribute targetCount across specs (each spec needs >= 1 manifest)
    val perSpecTarget = math.max(1, targetCount / entriesBySpec.size)
    val merged = entriesBySpec.toSeq.sortBy(_._1).flatMap { case (specId, allEntries) =>
      val mSpec = meta.specById(specId).getOrElse(PartitionSpec.Unpartitioned)
      val partType = mSpec.partitionType(schema)
      val size = math.max(1, math.ceil(allEntries.size.toDouble / perSpecTarget).toInt)
      allEntries.grouped(size).toSeq.map { entries =>
        val p = s"$metadataDir/${UUID.randomUUID()}-m.avro"
        val len = Manifests.writeManifest(p, entries, schema, mSpec, snapshotId,
          codec = Manifests.codecFor(meta.properties),
          formatVersion = meta.formatVersion)
        ManifestFile(p, len, specId, ManifestContent.Data,
          snap.sequenceNumber, entries.flatMap(_.dataSequence).foldLeft(Long.MaxValue)(_ min _),
          snapshotId, 0, entries.size, 0,
          0L, entries.map(_.file.recordCount).sum, 0L,
          Writer.partitionSummaries(entries.map(_.file), partType))
      }
    }

    val manifestListPath = s"$metadataDir/snap-$snapshotId.avro"
    Manifests.writeManifestList(manifestListPath, merged ++ deleteManifests,
      snapshotId, meta.currentSnapshotId, newSeq,
      codec = Manifests.codecFor(meta.properties),
          formatVersion = meta.formatVersion)
    val now = System.currentTimeMillis()
    val summary = Map("operation" -> "replace",
      "manifests-replaced" -> dataManifests.size.toString,
      "manifests-created" -> merged.size.toString)
    // v3 requires first-row-id/added-rows on every snapshot; a replace
    // commit adds no rows, so the block is empty at the current cursor
    // (same convention as Writer's delete-only commits)
    val newSnap = Snapshot(snapshotId, meta.currentSnapshotId, newSeq, now,
      manifestListPath, summary, Some(meta.currentSchemaId),
      firstRowId = if (meta.formatVersion >= 3) Some(meta.nextRowId) else None,
      addedRows = if (meta.formatVersion >= 3) Some(0L) else None)
    val updated = meta.copy(
      lastSequenceNumber = newSeq,
      lastUpdatedMs = now,
      currentSnapshotId = Some(snapshotId),
      snapshots = meta.snapshots :+ newSnap,
      snapshotLog = meta.snapshotLog :+ SnapshotLogEntry(snapshotId, now),
      refs = meta.refs.updated("main", SnapshotRef(snapshotId, "branch")))
    MetadataLogPolicy.commit(table, updated)
  }

  /** How to treat a listed file whose path-only component matches a
    * referenced file but whose URI scheme/authority differs (reference
    * `table/orphan_cleanup.go:40-60`): a table migrated between equivalent
    * spellings of the same storage (`s3://` vs `s3a://`, regional endpoint
    * vs bare bucket) would otherwise over-delete (treat live data as
    * orphan) or under-delete.
    */
  sealed trait PrefixMismatchMode
  object PrefixMismatchMode {
    /** Fail the cleanup — the safest default: a mismatch means the caller's
      * equivalence config is incomplete, and guessing either way risks data.
      */
    case object Error extends PrefixMismatchMode
    /** Keep mismatched files (never consider them orphans). */
    case object Ignore extends PrefixMismatchMode
    /** Treat mismatched files as orphans. Dangerous by design; the caller
      * asserts the other prefix cannot hold live data.
      */
    case object Delete extends PrefixMismatchMode
  }

  /** (scheme, authority, path-only) with equivalence maps applied. Keys in
    * `equalSchemes`/`equalAuthorities` may be comma-separated lists mapping
    * to one canonical spelling (reference `orphan_cleanup.go:838-915`,
    * mirroring Iceberg-Java's equalSchemes/equalAuthorities).
    */
  private def splitUri(p: String, equalSchemes: Map[String, String],
      equalAuthorities: Map[String, String]): (String, String, String) = {
    def applyEq(v: String, eq: Map[String, String]): String =
      eq.collectFirst {
        case (ks, canon) if ks.split(",").map(_.trim).contains(v) => canon
      }.getOrElse(v)
    val c = graft.io.FileIO.canonical(p)
    val u = try new java.net.URI(c) catch { case _: Exception => null }
    if (u == null || u.getScheme == null) ("", "", c)
    else (applyEq(u.getScheme, equalSchemes),
      applyEq(Option(u.getAuthority).getOrElse(""), equalAuthorities),
      Option(u.getPath).getOrElse(""))
  }

  /** Every file the table's metadata references, with data/delete files
    * separated from metadata artifacts (reference `getReferencedFiles`,
    * `table/orphan_cleanup.go:409-470`): the distinction lets purge respect
    * `gc.enabled`, which protects data files but never metadata.
    */
  private def referencedFiles(table: Table): (Set[String], Set[String]) = {
    val meta = table.metadata
    import scala.collection.parallel.CollectionConverters._
    val perSnap = meta.snapshots.par.map { s =>
      val manifests = Manifests.readManifestList(s.manifestList)
      val data = manifests.flatMap(m => Manifests.readManifest(m.path)._1.map(_.file.path))
      (Seq(s.manifestList) ++ manifests.map(_.path), data)
    }.seq
    val metaFiles = perSnap.flatMap(_._1).toSet ++
      meta.metadataLog.map(_.metadataFile) ++
      Seq(table.metadataPath, s"${meta.location}/metadata/version-hint.text") ++
      meta.statistics.map(_.path) ++
      meta.partitionStatistics.map(_.path)
    (perSnap.flatMap(_._2).toSet, metaFiles)
  }

  /** Physically delete a table's files for a drop-with-purge (reference
    * `PurgeFiles`, `table/orphan_cleanup.go:957-1057`): the walk of the
    * table location UNIONED with every referenced file — imported
    * (`addFiles`) data can live outside the location root and must still
    * go. `gc.enabled=false` protects data files (referenced-but-unwalked
    * branched data would be unrecoverable) and deletes only metadata.
    * Best-effort like the reference: individual misses never abort the
    * drop, or the catalog ends up out of sync with storage.
    */
  def purgeFiles(table: Table): Seq[String] = {
    val gcEnabled =
      table.metadata.properties.getOrElse("gc.enabled", "true").toBoolean
    val (dataRefs, metaRefs) = referencedFiles(table)
    val walked: Seq[String] =
      if (gcEnabled)
        graft.io.FileIO.listFilesRecursive(table.metadata.location).map(_.path)
      else Nil
    val targets = (walked ++ metaRefs ++ (if (gcEnabled) dataRefs else Nil))
      .map(graft.io.FileIO.canonical).distinct.sorted
    graft.io.FileIO.deleteAll(targets)
    targets
  }

  /** List (and optionally delete) files under the table location that no
    * snapshot references and that are older than `olderThanMs` — the grace
    * period protects in-flight writes whose commit hasn't landed yet
    * (reference `table/orphan_cleanup.go:44-1057`).
    *
    * Membership is decided per URI component, not raw strings: a listed
    * file whose path-only component matches a referenced file but whose
    * scheme/authority differs (after `equalSchemes`/`equalAuthorities`
    * normalization) is handled per `prefixMismatchMode` — error (default),
    * ignore (keep), or delete.
    */
  def removeOrphanFiles(table: Table, olderThanMs: Long,
      dryRun: Boolean = false,
      prefixMismatchMode: PrefixMismatchMode = PrefixMismatchMode.Error,
      equalSchemes: Map[String, String] = Map.empty,
      equalAuthorities: Map[String, String] = Map.empty): Seq[String] = {
    val meta = table.metadata
    // registered statistics artifacts are referenced, not orphans
    val referenced: Set[String] = {
      val (dataRefs, metaRefs) = referencedFiles(table)
      dataRefs ++ metaRefs
    }
    def split(p: String) = splitUri(p, equalSchemes, equalAuthorities)
    val referencedCanon: Set[String] = referenced.map(graft.io.FileIO.canonical)
    // path-only index: the candidates a mismatched listing entry may
    // actually be (reference newReferencedFileIndex, orphan_cleanup.go:607)
    val byPathKey: Map[String, Seq[(String, String, String)]] =
      referenced.toSeq.map(split).groupBy(_._3)

    // scan the default layout AND any write.data.path/write.metadata.path
    // override (files written before the property changed live in both)
    val all =
      (Seq(s"${meta.location}/data", s"${meta.location}/metadata",
        Locations.dataPath(meta.location, meta.properties),
        Locations.metadataPath(meta.location, meta.properties))
        .distinct.flatMap(graft.io.FileIO.listFilesRecursive))

    val keepSuffixes = Seq("version-hint.text")
    def isOrphan(path: String): Boolean = {
      if (referencedCanon.contains(graft.io.FileIO.canonical(path))) return false
      val (fScheme, fAuth, fKey) = split(path)
      val sameKey = byPathKey.getOrElse(fKey, Nil)
      if (sameKey.isEmpty) return true // referenced nowhere under any prefix
      val exactUnderEquivalence = sameKey.exists { case (rScheme, rAuth, _) =>
        rScheme == fScheme && rAuth == fAuth
      }
      if (exactUnderEquivalence) return false
      prefixMismatchMode match {
        case PrefixMismatchMode.Error =>
          val (rScheme, rAuth, _) = sameKey.head
          throw new IllegalStateException(
            s"orphan cleanup: prefix mismatch for $path (scheme=$fScheme, authority=$fAuth) " +
              s"vs referenced (scheme=$rScheme, authority=$rAuth); configure equalSchemes/" +
              s"equalAuthorities or choose an explicit PrefixMismatchMode")
        case PrefixMismatchMode.Ignore => false
        case PrefixMismatchMode.Delete => true
      }
    }
    // v<N>.commit = the Hadoop catalog's version-reservation markers —
    // catalog protocol state like version-hint.text, never orphans
    // (metadata retention deletes them alongside their version file)
    val commitMarker = raw"v\d+\.commit".r
    val orphans = all.filter { f =>
      !f.path.endsWith(".metadata.json") &&
      !keepSuffixes.exists(f.path.endsWith) &&
      !commitMarker.matches(f.path.substring(f.path.lastIndexOf('/') + 1)) &&
      f.mtime < olderThanMs &&
      isOrphan(f.path)
    }.map(_.path)
    if (!dryRun) graft.io.FileIO.deleteAll(orphans)
    orphans
  }
}
