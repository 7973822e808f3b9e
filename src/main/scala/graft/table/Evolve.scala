package graft.table

import graft.core._
import graft.format._

/** Metadata-only evolution operations (reference `table/update_schema.go`,
  * `table/update_spec.go`, branch/tag refs): each commits a new metadata
  * version without a snapshot.
  */
sealed trait ColumnPosition
object ColumnPosition {
  case object First extends ColumnPosition
  final case class Before(anchor: String) extends ColumnPosition
  final case class After(anchor: String) extends ColumnPosition
}

/** Metadata-file history policy (reference `table/metadata.go:1031-1037`,
  * `table/properties.go:82-86`): every commit records the previous
  * metadata file in the metadata log, trimmed to max(1,
  * `write.metadata.previous-versions-max`) entries — without the trim a
  * long-lived table's metadata.json grows with every one of its commits
  * (at 100 TB scale easily 10⁵+, dominating the file every reader must
  * parse first). With `write.metadata.delete-after-commit.enabled` the
  * trimmed-off metadata files are deleted once the commit lands, skipped
  * when `gc.enabled` is false (registered / shared-history tables).
  */
object MetadataLogPolicy {
  /** (kept log incl. the new entry, trimmed-off entries). */
  def appended(meta: TableMetadata, prevPath: String, now: Long)
      : (Seq[MetadataLogEntry], Seq[MetadataLogEntry]) = {
    val maxEntries = math.max(1,
      meta.properties.get("write.metadata.previous-versions-max")
        .map(_.trim.toInt).getOrElse(100))
    val full = meta.metadataLog :+ MetadataLogEntry(prevPath, now)
    val dropCount = math.max(0, full.size - maxEntries)
    (full.drop(dropCount), full.take(dropCount))
  }

  /** Commit `updated` over `table`'s metadata with the replaced version
    * logged (and the trimmed-off tail deleted). Every metadata commit goes
    * through here or through the snapshot producer's equivalent: a commit
    * that skips the log strands the previous metadata file where no later
    * trim can reach it.
    */
  def commit(table: Table, updated: TableMetadata): Table = {
    val (mlog, dropped) = appended(updated,
      table.metadataPath, math.max(updated.lastUpdatedMs, System.currentTimeMillis()))
    val withLog = updated.copy(metadataLog = mlog)
    table.catalog.commit(table.name, table.metadata, withLog, table.currentVersion,
      Some(table.metadataPath))
    deleteTrimmed(withLog, dropped)
    table.refresh()
  }

  /** Delete trimmed-off metadata files — call only AFTER the commit that
    * removed them from the log has landed (a failed commit must leave
    * every previous version readable).
    */
  def deleteTrimmed(meta: TableMetadata, dropped: Seq[MetadataLogEntry]): Unit =
    if (dropped.nonEmpty &&
        meta.properties.get("write.metadata.delete-after-commit.enabled").contains("true") &&
        !meta.properties.get("gc.enabled").contains("false"))
      dropped.foreach { e =>
        try { graft.io.FileIO.delete(e.metadataFile); () }
        catch { case _: Exception => () } // best-effort, orphan cleanup sweeps stragglers
        // the version's commit marker (Hadoop-catalog CAS arbitration) goes with it
        graft.table.Locations.metadataVersionOf(e.metadataFile).foreach { v =>
          val dir = e.metadataFile.substring(0, e.metadataFile.lastIndexOf('/'))
          try { graft.io.FileIO.delete(s"$dir/v$v.commit"); () }
          catch { case _: Exception => () }
        }
      }
}

object Evolve {

  /** Add an optional column at the end of the schema (new field id).
    * `initialDefault` fills rows written BEFORE the add on read;
    * `writeDefault` fills the column when a writer omits it (spec v3
    * default-value contract, reference `types.go:903`).
    */
  def addColumn(table: Table, name: String, t: IcebergType,
      doc: Option[String] = None, initialDefault: Option[Any] = None,
      writeDefault: Option[Any] = None): Table = {
    val meta = table.metadata
    val schema = meta.schema
    require(schema.findField(name).isEmpty, s"column $name already exists")
    val newId = meta.lastColumnId + 1
    val newSchema = IcebergSchema(
      schema.fields :+ NestedField(newId, name, t, required = false, doc,
        initialDefault, writeDefault),
      schemaId = meta.schemas.map(_.schemaId).max + 1,
      identifierFieldIds = schema.identifierFieldIds)
    commitMetadata(table, meta.copy(
      lastColumnId = newId,
      currentSchemaId = newSchema.schemaId,
      schemas = meta.schemas :+ newSchema,
      lastUpdatedMs = System.currentTimeMillis()))
  }

  /** Change (or clear, with None) a column's write-default — what writers
    * that omit the column fill from now on. initial-default is immutable
    * once set: it describes rows that already exist (spec v3 contract).
    */
  def setWriteDefault(table: Table, name: String, value: Option[Any]): Table = {
    val meta = table.metadata
    val schema = meta.schema
    require(schema.findField(name).isDefined, s"no such column: $name")
    val newSchema = IcebergSchema(
      schema.fields.map(f =>
        if (f.name == name) f.copy(writeDefault = value) else f),
      schemaId = meta.schemas.map(_.schemaId).max + 1,
      identifierFieldIds = schema.identifierFieldIds)
    commitMetadata(table, meta.copy(
      currentSchemaId = newSchema.schemaId,
      schemas = meta.schemas :+ newSchema,
      lastUpdatedMs = System.currentTimeMillis()))
  }

  /** Rename a column (same field id — files need no rewrite; the field-id
    * read path resolves old files).
    */
  def renameColumn(table: Table, from: String, to: String): Table = {
    val meta = table.metadata
    val schema = meta.schema
    val f = schema.findField(from).getOrElse(
      throw new IllegalArgumentException(s"no such column $from"))
    val newSchema = IcebergSchema(
      schema.fields.map(x => if (x.id == f.id) x.copy(name = to) else x),
      schemaId = meta.schemas.map(_.schemaId).max + 1,
      identifierFieldIds = schema.identifierFieldIds)
    commitMetadata(table, meta.copy(
      currentSchemaId = newSchema.schemaId,
      schemas = meta.schemas :+ newSchema,
      lastUpdatedMs = System.currentTimeMillis()))
  }

  /** Drop a column (metadata only; data stays, projection omits it). */
  def dropColumn(table: Table, name: String): Table = {
    val meta = table.metadata
    val schema = meta.schema
    val f = schema.findField(name).getOrElse(
      throw new IllegalArgumentException(s"no such column $name"))
    require(!meta.partitionSpecs.exists(_.fields.exists(_.sourceId == f.id)),
      s"cannot drop partition source column $name")
    val newSchema = IcebergSchema(schema.fields.filterNot(_.id == f.id),
      schemaId = meta.schemas.map(_.schemaId).max + 1,
      identifierFieldIds = schema.identifierFieldIds.filterNot(_ == f.id))
    commitMetadata(table, meta.copy(
      currentSchemaId = newSchema.schemaId,
      schemas = meta.schemas :+ newSchema,
      lastUpdatedMs = System.currentTimeMillis()))
  }

  /** Int->long / float->double primitive promotion (`types.go:1106-1147`). */
  def promoteColumn(table: Table, name: String, to: IcebergType): Table = {
    val meta = table.metadata
    val schema = meta.schema
    val f = schema.findField(name).getOrElse(
      throw new IllegalArgumentException(s"no such column $name"))
    require(IcebergTypes.promotable(f.fieldType, to), s"cannot promote ${f.fieldType} to $to")
    val newSchema = IcebergSchema(
      schema.fields.map(x => if (x.id == f.id) x.copy(fieldType = to) else x),
      schemaId = meta.schemas.map(_.schemaId).max + 1,
      identifierFieldIds = schema.identifierFieldIds)
    commitMetadata(table, meta.copy(
      currentSchemaId = newSchema.schemaId,
      schemas = meta.schemas :+ newSchema,
      lastUpdatedMs = System.currentTimeMillis()))
  }

  /** Evolve the default partition spec; existing files keep their spec
    * (multi-spec scans handled by the planner per manifest).
    */
  def updateSpec(table: Table, build: PartitionSpec.Builder => PartitionSpec.Builder): Table = {
    val meta = table.metadata
    val newSpecId = meta.partitionSpecs.map(_.specId).max + 1
    val spec0 = build(PartitionSpec.builder(meta.schema, newSpecId)).build()
    // re-number field ids above lastPartitionId to keep them unique
    var nextId = meta.lastPartitionId
    val fields = spec0.fields.map { pf =>
      val existing = meta.partitionSpecs.flatMap(_.fields)
        .find(f => f.sourceId == pf.sourceId && f.transform == pf.transform)
      existing match {
        case Some(f) => pf.copy(fieldId = f.fieldId)
        case None => nextId += 1; pf.copy(fieldId = nextId)
      }
    }
    val spec = spec0.copy(fields = fields)
    commitMetadata(table, meta.copy(
      defaultSpecId = spec.specId,
      partitionSpecs = meta.partitionSpecs :+ spec,
      lastPartitionId = nextId,
      lastUpdatedMs = System.currentTimeMillis()))
  }

  /** Move a column before/after another or to first position (same ids —
    * order is presentational; reference update_schema MoveFirst/Before/After).
    */
  def moveColumn(table: Table, name: String, position: ColumnPosition): Table = {
    val meta = table.metadata
    val schema = meta.schema
    val f = schema.findField(name).getOrElse(
      throw new IllegalArgumentException(s"no such column $name"))
    val without = schema.fields.filterNot(_.id == f.id)
    val reordered = position match {
      case ColumnPosition.First => f +: without
      case ColumnPosition.Before(anchor) =>
        val a = schema.findField(anchor).getOrElse(
          throw new IllegalArgumentException(s"no such column $anchor"))
        val i = without.indexWhere(_.id == a.id)
        (without.take(i) :+ f) ++ without.drop(i)
      case ColumnPosition.After(anchor) =>
        val a = schema.findField(anchor).getOrElse(
          throw new IllegalArgumentException(s"no such column $anchor"))
        val i = without.indexWhere(_.id == a.id)
        (without.take(i + 1) :+ f) ++ without.drop(i + 1)
    }
    val newSchema = IcebergSchema(reordered,
      schemaId = meta.schemas.map(_.schemaId).max + 1,
      identifierFieldIds = schema.identifierFieldIds)
    commitMetadata(table, meta.copy(
      currentSchemaId = newSchema.schemaId,
      schemas = meta.schemas :+ newSchema,
      lastUpdatedMs = System.currentTimeMillis()))
  }

  /** Set the identifier (natural-key) field ids; fields must exist and be
    * required per the spec's row-identity rules.
    */
  def setIdentifierFields(table: Table, names: Seq[String]): Table = {
    val meta = table.metadata
    val schema = meta.schema
    val ids = names.map(n => schema.findField(n).getOrElse(
      throw new IllegalArgumentException(s"no such column $n")).id)
    val newSchema = IcebergSchema(schema.fields,
      schemaId = meta.schemas.map(_.schemaId).max + 1,
      identifierFieldIds = ids)
    commitMetadata(table, meta.copy(
      currentSchemaId = newSchema.schemaId,
      schemas = meta.schemas :+ newSchema,
      lastUpdatedMs = System.currentTimeMillis()))
  }

  /** Union an incoming Spark-derived schema by NAME (reference
    * UnionByNameWith): new names become new optional columns with fresh ids;
    * existing names must be promotion-compatible; nothing is dropped.
    */
  /** Merge an incoming schema into the table's by name — the
    * `mergeSchema`-on-write contract (reference UnionByName,
    * `table/update_schema.go` + its test matrix). One new schema version
    * carries every change:
    *
    *  - missing columns (at ANY nesting depth — struct fields, list
    *    elements, map values) are ADDED with fresh field ids, top-level
    *    adds always optional;
    *  - compatible type changes PROMOTE (int→long, float→double, decimal
    *    precision widening), including list elements and map values;
    *  - NARROWING incoming types are IGNORED (the table stays wider) —
    *    re-writing old data with a narrower frame is not evolution;
    *  - an optional incoming field RELAXES a required one; a required
    *    incoming field never tightens an optional one;
    *  - a non-empty incoming doc replaces; an absent doc never clears;
    *  - map KEY changes reject (key ids are join identity), except a
    *    narrowing incoming key which is ignored; cross-kind changes and
    *    invalid promotions reject;
    *  - an identical incoming schema is a NO-OP (no new schema version).
    */
  def unionByName(table: Table, incoming: IcebergSchema): Table = {
    val meta = table.metadata
    val schema = meta.schema
    var nextId = meta.lastColumnId
    def freshId(): Int = { nextId += 1; nextId }

    // fresh ids for an entirely-new incoming subtree, parent before children
    def retype(t: IcebergType): IcebergType = t match {
      case IcebergTypes.StructT(fs) => IcebergTypes.StructT(fs.map { f =>
        val id = freshId()
        f.copy(id = id, fieldType = retype(f.fieldType))
      })
      case IcebergTypes.ListT(_, et, ereq) =>
        val id = freshId()
        IcebergTypes.ListT(id, retype(et), ereq)
      case IcebergTypes.MapT(_, kt, _, vt, vreq) =>
        val kid = freshId(); val vid = freshId()
        IcebergTypes.MapT(kid, retype(kt), vid, retype(vt), vreq)
      case leaf => leaf
    }

    def mergeFields(cur: Seq[NestedField], in: Seq[NestedField],
        path: String): Seq[NestedField] = {
      val merged = cur.map { c =>
        in.find(_.name == c.name) match {
          case None => c
          case Some(i) =>
            val p = if (path.isEmpty) c.name else s"$path.${c.name}"
            c.copy(
              fieldType = mergeType(c.fieldType, i.fieldType, p),
              doc = i.doc.filter(_.nonEmpty).orElse(c.doc),
              required = c.required && i.required)
        }
      }
      val added = in.filterNot(i => cur.exists(_.name == i.name)).map { i =>
        NestedField(freshId(), i.name, retype(i.fieldType), required = false,
          i.doc, i.initialDefault, i.writeDefault)
      }
      merged ++ added
    }

    def mergeType(cur: IcebergType, in: IcebergType, path: String): IcebergType =
      (cur, in) match {
        case (a, b) if a == b => a
        case (IcebergTypes.StructT(cf), IcebergTypes.StructT(inf)) =>
          IcebergTypes.StructT(mergeFields(cf, inf, path))
        case (IcebergTypes.ListT(eid, et, ereq), IcebergTypes.ListT(_, iet, ireq)) =>
          IcebergTypes.ListT(eid, mergeType(et, iet, s"$path.element"),
            ereq && ireq)
        case (IcebergTypes.MapT(kid, kt, vid, vt, vreq),
              IcebergTypes.MapT(_, ikt, _, ivt, ivreq)) =>
          // key ids are equality/join identity: widening the key rejects,
          // a NARROWER incoming key is ignored (table keeps the wider key)
          if (kt != ikt && !IcebergTypes.promotable(ikt, kt))
            throw new IllegalArgumentException(
              s"cannot alter map key type of $path: $kt vs $ikt")
          IcebergTypes.MapT(kid, kt, vid,
            mergeType(vt, ivt, s"$path.value"), vreq && ivreq)
        case (a, b) if IcebergTypes.promotable(a, b) => b // widen
        case (a, b) if IcebergTypes.promotable(b, a) => a // narrowing: ignore
        case (a, b) =>
          throw new IllegalArgumentException(
            s"incompatible types for $path: $a vs $b")
      }

    val mergedFields = mergeFields(schema.fields, incoming.fields, "")
    if (mergedFields == schema.fields) return table // identical → no-op
    val newSchema = IcebergSchema(mergedFields,
      schemaId = meta.schemas.map(_.schemaId).max + 1,
      identifierFieldIds = schema.identifierFieldIds)
    commitMetadata(table, meta.copy(
      lastColumnId = nextId,
      currentSchemaId = newSchema.schemaId,
      schemas = meta.schemas :+ newSchema,
      lastUpdatedMs = System.currentTimeMillis()))
  }

  /** Remove partition fields from the default spec by name: v2 semantics
    * drop the field (a new spec id); existing files keep their old spec
    * (reference update_spec RemoveField — v1 would void the transform).
    */
  def removeSpecFields(table: Table, names: Seq[String]): Table = {
    val meta = table.metadata
    val spec = meta.spec
    val remaining = spec.fields.filterNot(f => names.contains(f.name))
    require(remaining.size != spec.fields.size || names.isEmpty,
      s"no matching partition fields among $names")
    val newSpecId = meta.partitionSpecs.map(_.specId).max + 1
    val newSpec = spec.copy(specId = newSpecId, fields = remaining)
    commitMetadata(table, meta.copy(
      defaultSpecId = newSpecId,
      partitionSpecs = meta.partitionSpecs :+ newSpec,
      lastUpdatedMs = System.currentTimeMillis()))
  }

  /** v1-style partition-field removal: keep the field (ids and positions
    * stay stable for old manifests) but replace its transform with void, so
    * new writes put every row in the null partition (reference update_spec
    * RemoveField v1 semantics — v2 drops the field, see
    * [[removeSpecFields]]).
    */
  def voidSpecFields(table: Table, names: Seq[String]): Table = {
    val meta = table.metadata
    val spec = meta.spec
    require(names.forall(n => spec.fields.exists(_.name == n)),
      s"no matching partition fields among $names")
    val newSpecId = meta.partitionSpecs.map(_.specId).max + 1
    val newSpec = spec.copy(specId = newSpecId, fields = spec.fields.map(f =>
      if (names.contains(f.name)) f.copy(transform = Transforms.Void) else f))
    commitMetadata(table, meta.copy(
      defaultSpecId = newSpecId,
      partitionSpecs = meta.partitionSpecs :+ newSpec,
      lastUpdatedMs = System.currentTimeMillis()))
  }

  /** Replace the default sort order (write-side clustering hint). */
  def replaceSortOrder(table: Table, fields: Seq[SortField]): Table = {
    val meta = table.metadata
    val newOrderId = (meta.sortOrders.map(_.orderId) :+ 0).max + 1
    val order = SortOrder(newOrderId, fields)
    commitMetadata(table, meta.copy(
      defaultSortOrderId = newOrderId,
      sortOrders = meta.sortOrders :+ order,
      lastUpdatedMs = System.currentTimeMillis()))
  }

  /** Create or move a branch/tag ref. */
  def setRef(table: Table, name: String, snapshotId: Long, refType: String,
      minSnapshotsToKeep: Option[Int] = None,
      maxSnapshotAgeMs: Option[Long] = None,
      maxRefAgeMs: Option[Long] = None): Table = {
    val meta = table.metadata
    // ref-name hygiene (reference cmd/iceberg/branch_tag.go validateRefName)
    // + non-negative retention (TestRunBranchCreateRejectsNegativeRetention):
    // a ref is a metadata KEY other engines must address verbatim
    require(name.nonEmpty && name.trim == name,
      "ref name must be non-empty and may not contain leading/trailing whitespace")
    require(name != "." && name != "..", "ref name may not be '.' or '..'")
    require(!name.exists(_.isControl), "ref name may not contain control characters")
    require(minSnapshotsToKeep.forall(_ > 0),
      s"min-snapshots-to-keep must be positive, got ${minSnapshotsToKeep.get}")
    require(maxSnapshotAgeMs.forall(_ > 0),
      s"max-snapshot-age-ms must be positive, got ${maxSnapshotAgeMs.get}")
    require(maxRefAgeMs.forall(_ > 0),
      s"max-ref-age-ms must be positive, got ${maxRefAgeMs.get}")
    require(meta.snapshotById(snapshotId).isDefined, s"no snapshot $snapshotId")
    require(refType == "branch" || (minSnapshotsToKeep.isEmpty && maxSnapshotAgeMs.isEmpty),
      "tags only support max-ref-age-ms retention (reference metadata.go ref validate)")
    commitMetadata(table, meta.copy(
      refs = meta.refs.updated(name, SnapshotRef(snapshotId, refType,
        minSnapshotsToKeep, maxSnapshotAgeMs, maxRefAgeMs)),
      lastUpdatedMs = System.currentTimeMillis()))
  }

  def removeRef(table: Table, name: String): Table = {
    // the main branch is the table's current pointer; removing it strands
    // the table (Java UpdateSnapshotReferences rejects it the same way)
    require(name != "main", "cannot remove the main branch")
    commitMetadata(table, table.metadata.copy(refs = table.metadata.refs - name))
  }

  /** Fast-forward ref `target` to `source`'s head — the WAP publish step:
    * stage appends on a branch ([[Writer.append]] `toBranch`), audit through
    * `useRef`, then `fastForward("main", branch)` makes them current
    * atomically. Requires `target` to be absent, equal to, or an ancestor of
    * `source`'s head; anything else is not a fast-forward and fails loudly
    * (same contract as engine fast-forward procedures over the reference's
    * ref model, `table/metadata.go` refs).
    */
  def fastForward(table: Table, target: String, source: String): Table = {
    val meta = table.metadata
    val srcHead = meta.refs.getOrElse(source,
      throw new IllegalArgumentException(s"ref '$source' does not exist")).snapshotId
    meta.refs.get(target).map(_.snapshotId).foreach { th =>
      require(th == srcHead ||
          Inspect.ancestorsOf(table, srcHead).exists(_.snapshotId == th),
        s"cannot fast-forward '$target' to '$source': " +
          s"$th is not an ancestor of $srcHead (branches diverged)")
    }
    val movedRef = meta.refs.get(target) match {
      case Some(r) => r.copy(snapshotId = srcHead)
      case None    => SnapshotRef(srcHead, "branch", None, None, None)
    }
    val now = System.currentTimeMillis()
    val base = meta.copy(
      refs = meta.refs.updated(target, movedRef), lastUpdatedMs = now)
    val updated =
      if (target == "main") base.copy(
        currentSnapshotId = Some(srcHead),
        snapshotLog = meta.snapshotLog :+ SnapshotLogEntry(srcHead, now))
      else base
    commitMetadata(table, updated)
  }

  /** Set/overwrite table properties (reference `table/transaction.go`
    * SetProperties).
    */
  def setProperties(table: Table, props: Map[String, String]): Table =
    commitMetadata(table, table.metadata.copy(
      properties = table.metadata.properties ++ props,
      lastUpdatedMs = System.currentTimeMillis()))

  /** Drop partition specs no live OR historical manifest references
    * (reference `table/metadata.go:1287-1314` RemovePartitionSpecs, wire
    * action `remove-partition-specs`): after spec evolution + full
    * rewrites, dead specs otherwise ride in every metadata.json forever.
    * Never drops the default spec; walks every reachable snapshot's
    * manifest list (metadata-scale — one small avro per snapshot).
    */
  def removeUnusedSpecs(table: Table): Table = {
    val meta = table.metadata
    val used = meta.snapshots
      .flatMap(s => Manifests.readManifestList(s.manifestList))
      .map(_.specId).toSet + meta.defaultSpecId
    val kept = meta.partitionSpecs.filter(s => used(s.specId))
    if (kept.size == meta.partitionSpecs.size) table
    else commitMetadata(table, meta.copy(partitionSpecs = kept,
      lastUpdatedMs = System.currentTimeMillis()))
  }

  /** Drop schemas no snapshot references (reference `table/metadata.go:
    * 1316-1341` RemoveSchemas, wire action `remove-schemas`). Keeps the
    * current schema and every snapshot's recorded write schema — those
    * are what time travel resolves reads against.
    */
  def removeUnusedSchemas(table: Table): Table = {
    val meta = table.metadata
    val used = meta.snapshots.flatMap(_.schemaId).toSet + meta.currentSchemaId
    val kept = meta.schemas.filter(s => used(s.schemaId))
    if (kept.size == meta.schemas.size) table
    else commitMetadata(table, meta.copy(schemas = kept,
      lastUpdatedMs = System.currentTimeMillis()))
  }

  /** Add or replace (by key-id) a v3 table-encryption key (reference
    * `table/encryption.go:29-34`, wire `add-encryption-key`).
    */
  def addEncryptionKey(table: Table, key: EncryptionKey): Table = {
    require(table.metadata.formatVersion >= 3,
      "encryption-keys is a v3 metadata field; upgrade the table first")
    commitMetadata(table, table.metadata.copy(
      encryptionKeys = table.metadata.encryptionKeys
        .filterNot(_.keyId == key.keyId) :+ key,
      lastUpdatedMs = System.currentTimeMillis()))
  }

  /** Remove a table-encryption key by key-id (wire `remove-encryption-key`). */
  def removeEncryptionKey(table: Table, keyId: String): Table =
    commitMetadata(table, table.metadata.copy(
      encryptionKeys = table.metadata.encryptionKeys.filterNot(_.keyId == keyId),
      lastUpdatedMs = System.currentTimeMillis()))

  /** Remove table properties by key. */
  def removeProperties(table: Table, keys: Seq[String]): Table =
    commitMetadata(table, table.metadata.copy(
      properties = table.metadata.properties -- keys,
      lastUpdatedMs = System.currentTimeMillis()))

  /** Roll the main branch back to an ancestor snapshot (reference
    * `table/transaction.go:326-351` RollbackToSnapshot).
    *
    * The target must be an ancestor of the current snapshot; intermediate
    * snapshots stay in the metadata (they remain reachable by id / refs
    * until expired), only the main ref and current-snapshot pointer move.
    * The CAS commit on the base metadata version subsumes the reference's
    * AssertRefSnapshotID requirement: a concurrent main-branch commit
    * changes the metadata version and the rollback retries/fails there.
    */
  /** Cherry-pick: re-apply an APPEND snapshot that is not on the current
    * lineage — a `wap.id`-staged commit, a branch head, or a commit
    * orphaned by a rollback — onto the CURRENT table state as a new append
    * snapshot (Iceberg `cherrypick_snapshot` semantics). Metadata-scale:
    * only the source snapshot's own manifests are read; the data files are
    * re-referenced, never rewritten. Appends are the only safely
    * re-playable operation (their effect is exactly "these files exist";
    * replays of overwrites/deletes depend on the states between the source
    * and the head), so anything else refuses loudly.
    */
  def cherrypick(table: Table, snapshotId: Long): Table = {
    val meta = table.metadata
    val snap = meta.snapshotById(snapshotId).getOrElse(
      throw new IllegalArgumentException(s"snapshot $snapshotId not found"))
    if (Inspect.ancestorsOfCurrent(table).exists(_.snapshotId == snapshotId))
      return table // already part of the current lineage: no-op
    val op = snap.summary.getOrElse("operation", "append")
    require(op == "append",
      s"cherry-pick supports append snapshots; snapshot $snapshotId is '$op'")
    val srcManifests = Manifests.readManifestList(snap.manifestList)
      .filter(_.addedSnapshotId == snapshotId)
    // the re-commit records files under the CURRENT default spec — a file
    // written under another spec would have its partition tuple decoded
    // through the wrong transforms, so spec drift refuses loudly
    srcManifests.foreach(m => require(m.specId == meta.defaultSpecId,
      s"cannot cherry-pick snapshot $snapshotId: its files were written " +
        s"under spec ${m.specId}, current default is ${meta.defaultSpecId}"))
    val added = srcManifests
      .flatMap(m => Manifests.readManifest(m.path)._1
        .filter(_.status == ManifestEntryStatus.Added).map(_.file))
    val live = table.newScan.planFiles()
      .map(t => graft.io.FileIO.canonical(t.file.path)).toSet
    val fresh = added.filterNot(f => live(graft.io.FileIO.canonical(f.path)))
    // every added file already live → the changes are already applied
    // (e.g. a second publish of the same wap.id): idempotent no-op
    if (fresh.isEmpty) return table
    Writer.commitSnapshot(table, "append", addedFiles = fresh,
      removedPaths = Set.empty, addedDeleteFiles = Nil,
      extraSummary = Map("source-snapshot-id" -> snapshotId.toString) ++
        snap.summary.get("wap.id").map("published-wap-id" -> _))
  }

  /** Publish a `wap.id`-staged snapshot (Iceberg `publish_changes`): find
    * the snapshot whose summary carries `wap.id = wapId` and cherry-pick
    * it onto main. Returns (sourceSnapshotId, updatedTable).
    */
  def publishChanges(table: Table, wapId: String): (Long, Table) = {
    val staged = table.metadata.snapshots
      .filter(_.summary.get("wap.id").contains(wapId))
    require(staged.nonEmpty, s"no snapshot staged with wap.id '$wapId'")
    require(staged.size == 1,
      s"wap.id '$wapId' is ambiguous: ${staged.map(_.snapshotId).mkString(", ")}")
    (staged.head.snapshotId, cherrypick(table, staged.head.snapshotId))
  }

  /** Set the main branch to ANY live snapshot (reference
    * `table/metadata.go` SetSnapshotRef on main; Iceberg's
    * `set_current_snapshot` procedure): unlike [[rollbackTo]] the target
    * need not be an ancestor — a staged WAP snapshot or another branch's
    * head is legal. The snapshot must exist in the metadata.
    */
  def setCurrentSnapshot(table: Table, snapshotId: Long): Table = {
    val meta = table.metadata
    require(meta.snapshotById(snapshotId).isDefined,
      s"snapshot $snapshotId not found in table metadata")
    if (meta.currentSnapshotId.contains(snapshotId)) return table
    val now = System.currentTimeMillis()
    val mainRef = meta.refs.get("main") match {
      case Some(r) => r.copy(snapshotId = snapshotId)
      case None    => SnapshotRef(snapshotId, "branch", None, None, None)
    }
    commitMetadata(table, meta.copy(
      currentSnapshotId = Some(snapshotId),
      refs = meta.refs.updated("main", mainRef),
      snapshotLog = meta.snapshotLog :+ SnapshotLogEntry(snapshotId, now),
      lastUpdatedMs = now))
  }

  def rollbackTo(table: Table, snapshotId: Long): Table = {
    val meta = table.metadata
    val current = meta.currentSnapshot.getOrElse(
      throw new IllegalStateException("cannot rollback: table has no current snapshot"))
    if (current.snapshotId == snapshotId) return table
    require(
      Inspect.ancestorsOf(table, current.snapshotId).exists(_.snapshotId == snapshotId),
      s"snapshot $snapshotId is not an ancestor of current snapshot ${current.snapshotId}")
    val now = System.currentTimeMillis()
    val mainRef = meta.refs.get("main") match {
      case Some(r) => r.copy(snapshotId = snapshotId)
      case None    => SnapshotRef(snapshotId, "branch", None, None, None)
    }
    commitMetadata(table, meta.copy(
      currentSnapshotId = Some(snapshotId),
      refs = meta.refs.updated("main", mainRef),
      snapshotLog = meta.snapshotLog :+ SnapshotLogEntry(snapshotId, now),
      lastUpdatedMs = now))
  }

  /** Upgrade the table format version (reference `table/metadata.go:766-800`
    * SetFormatVersion): downgrades rejected, max supported version 3,
    * same-version is a no-op. The v2→v3 row-id seed (`nextRowID`) and the
    * v1→v2 sequence number are always-present fields in our metadata model,
    * so no backfill is needed beyond the version bump.
    */
  def upgradeFormatVersion(table: Table, version: Int): Table = {
    val meta = table.metadata
    require(version >= meta.formatVersion,
      s"downgrading format version from ${meta.formatVersion} to $version is not allowed")
    require(version <= 3, s"unsupported format version: $version (max 3)")
    if (version == meta.formatVersion) table
    else commitMetadata(table, meta.copy(
      formatVersion = version,
      // table-uuid is required from v2: a legacy v1 metadata that carried
      // none (kept absent on read so refresh uuid checks stay sound) gets
      // one assigned at the upgrade boundary
      tableUuid = if (meta.tableUuid.isEmpty)
        java.util.UUID.randomUUID().toString else meta.tableUuid,
      lastUpdatedMs = System.currentTimeMillis()))
  }

  private def commitMetadata(table: Table, updated: TableMetadata): Table =
    MetadataLogPolicy.commit(table, updated)
}
