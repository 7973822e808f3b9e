package graft.table

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.format._

/** Incremental (CDC-style) consumption between snapshots: the metadata basis
  * is the snapshot ancestry walk (reference `table/snapshot_ancestry.go:
  * 37-150`); the scan surfaces exactly the data files ADDED by snapshots in
  * `(fromSnapshotId, toSnapshotId]` along the current lineage — the
  * incremental-append contract.
  */
object Incremental {

  /** FileScanTasks for files appended in (fromExclusive, toInclusive].
    * Throws if `fromSnapshotId` is not an ancestor of `toSnapshotId` (a
    * truncated walk would silently under-read — fail instead, mirroring the
    * reference's baseFound=false contract).
    */
  def appendsBetween(table: Table, fromSnapshotId: Long,
      toSnapshotId: Long): Seq[FileScanTask] = {
    val ancestors = Inspect.ancestorsOf(table, toSnapshotId)
    require(ancestors.exists(_.snapshotId == fromSnapshotId),
      s"snapshot $fromSnapshotId is not an ancestor of $toSnapshotId")
    val range = ancestors.takeWhile(_.snapshotId != fromSnapshotId)
      // incremental-APPEND contract: snapshots that REMOVED data files
      // (CoW deletes, compaction) re-add pre-existing rows as new files —
      // not appends. Snapshots that only added files (fast-append, and
      // rowDelta upserts whose op is "overwrite" but removed nothing)
      // contribute genuinely new rows.
      .filter { s =>
        val op = s.summary.get("operation")
        // spec key; pre-round-7 snapshots wrote "removed-data-files"
        val removed = s.summary.get("deleted-data-files")
          .orElse(s.summary.get("removed-data-files"))
          .flatMap(_.toLongOption).getOrElse(0L)
        op.contains("append") || (op.contains("overwrite") && removed == 0L)
      }

    range.flatMap { s =>
      Manifests.readManifestList(s.manifestList)
        .filter(m => m.content == ManifestContent.Data &&
          m.addedSnapshotId == s.snapshotId)
        .flatMap { m =>
          val (entries, specId) = Manifests.readManifest(m.path)
          entries
            .filter(e => e.status == ManifestEntryStatus.Added &&
              e.snapshotId.contains(s.snapshotId) &&
              e.file.content == DataFileContent.Data)
            .map(e => FileScanTask(e.file,
              e.dataSequence.getOrElse(m.sequenceNumber), Nil, Nil, specId))
        }
    }.distinctBy(_.file.path)
  }

  /** The scan tasks whose resolved rows can DIFFER between two snapshots:
    * each side's plan minus the tasks with an identical signature on the
    * other side. A task's resolved rows are a pure function of (data-file
    * path, data sequence number, applied position-delete set incl. DV blob
    * offsets, applied equality-delete set with sequences) — two snapshots
    * sharing that whole signature produce identical rows for the file, so
    * those rows cancel in a multiset diff and never need to be read.
    * Multiset identity: resolved(after) = C + Ua and resolved(before) =
    * C + Ub with C the common-signature rows, hence after∖before = Ua∖Ub
    * and before∖after = Ub∖Ua. Delete files force their target data file's
    * signature to change, so MoR deletes land in the diff set naturally.
    */
  def changedTasksBetween(table: Table, fromSnapshotId: Long,
      toSnapshotId: Long): (Seq[FileScanTask], Seq[FileScanTask]) = {
    def sig(t: FileScanTask) = (t.file.path, t.dataSequence,
      t.posDeletes.map(d => (d.path, d.contentOffset)).toSet,
      t.eqDeletes.map { case (d, seq) => (d.path, seq) }.toSet)
    val before = table.newScan.useSnapshot(fromSnapshotId).planFiles()
    val after = table.newScan.useSnapshot(toSnapshotId).planFiles()
    val common = before.map(sig).toSet intersect after.map(sig).toSet
    (before.filterNot(t => common(sig(t))), after.filterNot(t => common(sig(t))))
  }

  /** Row-level changelog between two snapshots on the same lineage: every
    * row of the `to` snapshot absent from `from` tagged `_change_type =
    * 'INSERT'`, every row of `from` absent from `to` tagged `'DELETE'` —
    * multiset semantics (a row appearing twice and deleted once emits one
    * DELETE), the net-changes contract of a CDC changelog scan. Unlike
    * `readAppends` this sees through CoW rewrites, equality/position
    * deletes, and compaction, because it diffs the RESOLVED row sets of the
    * two snapshots rather than walking manifest adds.
    *
    * Scale shape: the diff is pruned to CHANGED FILES before anything is
    * read — [[changedTasksBetween]] drops every data file whose full
    * signature (path, sequence, deletes) appears in both snapshots, since
    * its rows are identical on both sides and cancel in the multiset diff.
    * A one-file commit against a 100 TB table therefore reads one file per
    * side, not two full table scans; what remains feeds ONE signed
    * aggregation: rows tag +1 (after) / -1 (before), group by every data
    * column (one hash shuffle with map-side partials over the changed-file
    * rows only), and the net count d replicates the row |d| times as
    * INSERT (d > 0) or DELETE (d < 0). This is exactly the multiset
    * identity the old `after.exceptAll(before) ∪ before.exceptAll(after)`
    * pair computed — exceptAll keeps (c_after − c_before)⁺ copies per row —
    * but each side is read ONCE instead of twice and the plan carries one
    * exchange instead of two (each exceptAll planned its own
    * aggregate+replicate over both inputs). No broadcast, no driver
    * materialization. Compaction rewrites change file signatures, so both
    * sides of the rewrite ARE read — and correctly yield an empty changelog
    * (every group nets to d = 0), where a manifest walk would re-emit every
    * rewritten row. Both sides read under the `to` snapshot's schema, so a
    * schema-evolved history diffs on a consistent projection.
    */
  def changelogBetween(spark: SparkSession, table: Table, fromSnapshotId: Long,
      toSnapshotId: Long): DataFrame = {
    val ancestors = Inspect.ancestorsOf(table, toSnapshotId)
    require(ancestors.exists(_.snapshotId == fromSnapshotId),
      s"snapshot $fromSnapshotId is not an ancestor of $toSnapshotId")
    import org.apache.spark.sql.functions.{abs, col, explode, lit, sequence, sum, when}
    val (beforeTasks, afterTasks) = changedTasksBetween(table, fromSnapshotId,
      toSnapshotId)
    val meta = table.metadata
    val toSchemaId = meta.snapshotById(toSnapshotId)
      .flatMap(_.schemaId).getOrElse(meta.currentSchemaId)
    val schema = meta.schemaById(toSchemaId).getOrElse(meta.schema)
    val ioOptions = table.refreshIoCredentials()
    val before = SparkRead.readPlanned(spark, table, beforeTasks, schema, ioOptions = ioOptions)
    val after = SparkRead.readPlanned(spark, table, afterTasks, schema, ioOptions = ioOptions)
    // groupBy uses null-safe grouping equality, matching exceptAll's
    // null-safe row comparison; |d| per surviving group is the row's net
    // multiplicity (bounded by its per-snapshot duplication, tiny for real
    // CDC data), replicated via sequence+explode
    val dataCols = after.columns.map(col)
    after.withColumn("__cdc_sign", lit(1L))
      .unionByName(before.withColumn("__cdc_sign", lit(-1L)))
      .groupBy(dataCols: _*)
      .agg(sum(col("__cdc_sign")).as("__cdc_d"))
      .filter(col("__cdc_d") =!= 0L)
      .withColumn("_change_type",
        when(col("__cdc_d") > 0L, lit("INSERT")).otherwise(lit("DELETE")))
      .withColumn("__cdc_r", explode(sequence(lit(1L), abs(col("__cdc_d")))))
      .drop("__cdc_d", "__cdc_r")
  }

  /** Read the incremental append set as a DataFrame. */
  def readAppends(spark: SparkSession, table: Table, fromSnapshotId: Long,
      toSnapshotId: Long): DataFrame = {
    SparkRead.readPlanned(spark, table, appendsBetween(table, fromSnapshotId, toSnapshotId),
      table.schema, ioOptions = table.refreshIoCredentials())
  }
}
