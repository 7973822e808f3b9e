package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchFunctionException, NoSuchTableException, NoSuchViewException, TableAlreadyExistsException, ViewAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{FunctionCatalog, Identifier, ProcedureCatalog, Table => V2Table, TableCatalog, TableChange, View => V2View, ViewCatalog, ViewChange, ViewInfo}
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure
import org.apache.spark.sql.connector.expressions.{Literal => V2Literal, NamedReference, Transform}
import org.apache.spark.sql.types.{DataType, DateType, IntegerType, LongType, StringType, StructType, TimestampNTZType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.catalog.{Catalog => GraftCatalog, Catalogs, MetaObjects, SqlCatalog, ViewMetadata, ViewVersion}
import graft.core.{SchemaBridge, Transforms}
import graft.format.PartitionSpec
import graft.table.Evolve

/** V2 catalog plugin: the full SQL surface over graft tables. Register with
  *
  * {{{
  * spark.conf.set("spark.sql.catalog.g", "graft.sources.GraftSpjCatalog")
  * spark.conf.set("spark.sql.catalog.g.uri", "<catalog uri>")
  * }}}
  *
  * and every statement a Spark user expects works against `g.<table>`:
  *
  *   - `CREATE TABLE g.t (...) PARTITIONED BY (bucket(8, k), months(ts))`
  *     — Spark partition transforms map onto the Iceberg spec; CTAS works
  *     (create + insert).
  *   - `INSERT INTO` / `INSERT OVERWRITE` — the V1 write funnel commits
  *     append / atomic-replace snapshots through the full write path.
  *   - `DELETE FROM ... WHERE` — copy-on-write with strict metadata-only
  *     classification.
  *   - `SELECT ... VERSION AS OF <snapshot-id | branch | tag>` and
  *     `TIMESTAMP AS OF` — snapshot-pinned reads (reads resolve the
  *     snapshot's own schema).
  *   - `ALTER TABLE` add/rename/drop column, type widening, table
  *     properties — routed through [[graft.table.Evolve]] (field-id-safe,
  *     no file rewrites).
  *   - `DROP TABLE` / `SHOW TABLES`.
  *
  * Reads claim storage-partitioned-join compatibility whenever provable:
  * identity specs directly, bucket specs through this catalog's
  * FunctionCatalog (Spark proves two scans co-partitioned only when both
  * sides bind to the same canonical bucket function — with both tables
  * bucket[N]-partitioned on the join keys the join plans with ZERO
  * shuffles, the 100 TB fact-fact layout). Other specs read per-file
  * partitions under UnknownPartitioning.
  */
final class GraftSpjCatalog extends TableCatalog with FunctionCatalog
    with ProcedureCatalog with ViewCatalog
    with org.apache.spark.sql.connector.catalog.StagingTableCatalog
    with org.apache.spark.sql.connector.catalog.SupportsNamespaces {

  private var catName: String = _
  private var cat: GraftCatalog = _

  /** The backing graft catalog (for statements — e.g. ANALYZE TABLE — that
    * bypass the V2 table abstraction and talk to graft machinery directly).
    */
  private[graft] def backing: GraftCatalog = cat

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catName = name
    cat = Catalogs.load(Option(options.get("uri")).getOrElse(
      throw new IllegalArgumentException(
        s"spark.sql.catalog.$name requires option 'uri' (graft catalog URI)")))
  }

  override def name(): String = catName

  private def flat(ident: Identifier): String = {
    if (ident.namespace.nonEmpty && !(ident.namespace sameElements Array("default")))
      throw new NoSuchTableException(ident)
    ident.name
  }

  override def listTables(namespace: Array[String]): Array[Identifier] =
    cat.listTables().map(n => Identifier.of(Array.empty[String], n)).toArray

  private def graftTable(ident: Identifier): graft.table.Table = {
    val name = flat(ident)
    if (!cat.tableExists(name)) throw new NoSuchTableException(ident)
    cat.loadTable(name)
  }

  override def loadTable(ident: Identifier): V2Table = {
    // multipart identifiers over a table: `g.<table>.<suffix>` parses as
    // namespace=[table], name=suffix — metadata tables route to Inspect
    // frames; `branch_<b>` reads the branch head and accepts INSERT INTO
    // (appends commit to the branch); `tag_<t>` reads the tag, read-only
    if (ident.namespace.length == 1 && cat.tableExists(ident.namespace.head)) {
      val base = ident.namespace.head
      if (ident.name == "position_deletes")
        return new GraftPositionDeletesTable(base, cat.loadTable(base))
      if (GraftMetaTables.Names(ident.name))
        return new GraftMetaTable(base, ident.name, cat.loadTable(base))
      if (ident.name.startsWith("branch_") || ident.name.startsWith("tag_")) {
        val t = cat.loadTable(base)
        val (refName, wantType) =
          if (ident.name.startsWith("branch_"))
            (ident.name.stripPrefix("branch_"), "branch")
          else (ident.name.stripPrefix("tag_"), "tag")
        val ref = t.metadata.refs.getOrElse(refName,
          throw new NoSuchTableException(ident))
        require(ref.refType == wantType,
          s"$catName.$base: ref '$refName' is a ${ref.refType}, not a $wantType")
        return new SpjTable(t, SchemaBridge.toSpark(t.schema),
          allowBucket = true, strict = false,
          snapshotId = Some(ref.snapshotId),
          writable = wantType == "branch",
          branch = if (wantType == "branch") Some(refName) else None)
      }
    }
    val t = graftTable(ident)
    // session-level WAP branch (Iceberg `spark.wap.branch`): plain reads
    // and INSERTs of EVERY table route to the audit branch — reads pin its
    // head when it exists (else the main state, until the first staged
    // INSERT creates it), and publishing is `fast_forward('main', branch)`
    org.apache.spark.sql.SparkSession.active.conf
      .getOption("spark.wap.branch").filter(_.nonEmpty) match {
      case Some(b) =>
        val ref = t.metadata.refs.get(b)
        ref.foreach(r => require(r.refType == "branch",
          s"$catName: spark.wap.branch '$b' names a ${r.refType}, not a branch"))
        new SpjTable(t, SchemaBridge.toSpark(t.schema), allowBucket = true,
          strict = false, snapshotId = ref.map(_.snapshotId),
          writable = true, branch = Some(b))
      case None =>
        new SpjTable(t, SchemaBridge.toSpark(t.schema), allowBucket = true,
          strict = false, writable = true)
    }
  }

  /** `VERSION AS OF x`: a snapshot id (digits) or a branch/tag name. */
  override def loadTable(ident: Identifier, version: String): V2Table = {
    val t = graftTable(ident)
    val snapId =
      if (version.nonEmpty && version.forall(_.isDigit)) version.toLong
      else t.metadata.refs.getOrElse(version, throw new IllegalArgumentException(
        s"$catName.${ident.name}: no branch or tag '$version'")).snapshotId
    pinned(ident, t, snapId)
  }

  /** `TIMESTAMP AS OF x`: Spark hands microseconds since epoch. */
  override def loadTable(ident: Identifier, timestampMicros: Long): V2Table = {
    val t = graftTable(ident)
    val snap = t.metadata.snapshotAsOf(timestampMicros / 1000L).getOrElse(
      throw new IllegalArgumentException(
        s"$catName.${ident.name}: no snapshot at or before timestamp"))
    pinned(ident, t, snap.snapshotId)
  }

  // time-travel reads resolve the SNAPSHOT's schema, not the current one
  private def pinned(ident: Identifier, t: graft.table.Table, snapId: Long): V2Table = {
    val snap = t.metadata.snapshotById(snapId).getOrElse(
      throw new IllegalArgumentException(
        s"$catName.${ident.name}: no snapshot $snapId"))
    val schema = snap.schemaId.flatMap(t.metadata.schemaById).getOrElse(t.schema)
    new SpjTable(t, SchemaBridge.toSpark(schema), allowBucket = true,
      strict = false, snapshotId = Some(snapId), writable = false,
      keySchema = Some(schema))
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: java.util.Map[String, String]): V2Table = {
    val name = flat(ident)
    if (cat.tableExists(name)) throw new TableAlreadyExistsException(ident)
    val iceSchema = SchemaBridge.fromSpark(schema)
    val spec = partitions.foldLeft(PartitionSpec.builder(iceSchema)) {
      case (b, t) =>
        val (col, tr) = GraftSpjCatalog.toGraftTransform(t)
        b.add(col, tr)
    }.build()
    // Spark-managed keys (provider/location/owner/...) are not table props
    val props = properties.asScala.toMap -- Seq(
      TableCatalog.PROP_PROVIDER, TableCatalog.PROP_LOCATION,
      TableCatalog.PROP_OWNER, TableCatalog.PROP_COMMENT,
      TableCatalog.PROP_EXTERNAL, TableCatalog.PROP_IS_MANAGED_LOCATION)
    val t = cat.createTable(name, iceSchema, spec, properties = props)
    new SpjTable(t, SchemaBridge.toSpark(t.schema), allowBucket = true,
      strict = false, writable = true)
  }

  /** ALTER TABLE: schema changes ride the Evolve paths (new field ids,
    * rename-in-place, no data rewrites — old files resolve by field id).
    */
  /** Spark gates `ADD COLUMN ... DEFAULT` / `ALTER COLUMN ... SET DEFAULT`
    * DDL on this capability; the literal maps to the spec's v3
    * initial-default (rows written before the add) + write-default
    * (writers that omit the column).
    */
  override def capabilities(): java.util.Set[
      org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    java.util.EnumSet.of(
      org.apache.spark.sql.connector.catalog.TableCatalogCapability
        .SUPPORT_COLUMN_DEFAULT_VALUE)

  /** V2 literal -> external Scala value (defaults are stored as plain
    * values in metadata JSON, not Catalyst internals like UTF8String).
    */
  private def literalValue(
      l: org.apache.spark.sql.connector.expressions.Literal[_]): Any =
    org.apache.spark.sql.catalyst.CatalystTypeConverters
      .convertToScala(l.value, l.dataType)

  override def alterTable(ident: Identifier, changes: TableChange*): V2Table = {
    var t = graftTable(ident)
    // metadata commits are single-shot CAS (Evolve.commitMetadata) — a
    // data commit racing an ALTER fails the CAS. Re-apply the change on a
    // refreshed handle (bounded), iceberg-java's metadata-commit retry: a
    // conflicted change was NOT applied, so re-application is exact
    def retried(apply: graft.table.Table => graft.table.Table): Unit = {
      var attempt = 0
      var done = false
      while (!done) {
        try { t = apply(t); done = true }
        catch {
          case _: graft.catalog.CommitConflict if attempt < 3 =>
            attempt += 1
            t = graftTable(ident)
        }
      }
    }
    changes.foreach {
      case add: TableChange.AddColumn =>
        require(add.fieldNames.length == 1,
          s"$catName: nested ADD COLUMN not supported (${add.fieldNames.mkString(".")})")
        val default = Option(add.defaultValue()).map(d => literalValue(d.getValue))
        retried(Evolve.addColumn(_, add.fieldNames.head,
          SchemaBridge.fromSpark(StructType(Seq(
            org.apache.spark.sql.types.StructField("c", add.dataType)))).fields.head.fieldType,
          doc = Option(add.comment),
          initialDefault = default, writeDefault = default))
      case ud: TableChange.UpdateColumnDefaultValue =>
        require(ud.fieldNames.length == 1,
          s"$catName: nested ALTER COLUMN not supported")
        // SET DEFAULT changes what FUTURE writers fill — write-default
        // only; initial-default is immutable once set (spec v3 contract)
        val v = Option(ud.newCurrentDefault()).map(_.getExpression).flatMap {
          case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
            Some(literalValue(l))
          case other => throw new UnsupportedOperationException(
            s"$catName: non-literal column default $other")
        }
        retried(Evolve.setWriteDefault(_, ud.fieldNames.head, v))
      case rn: TableChange.RenameColumn =>
        require(rn.fieldNames.length == 1,
          s"$catName: nested RENAME COLUMN not supported")
        retried(Evolve.renameColumn(_, rn.fieldNames.head, rn.newName))
      case del: TableChange.DeleteColumn =>
        require(del.fieldNames.length == 1,
          s"$catName: nested DROP COLUMN not supported")
        retried(Evolve.dropColumn(_, del.fieldNames.head))
      case up: TableChange.UpdateColumnType =>
        require(up.fieldNames.length == 1,
          s"$catName: nested ALTER COLUMN not supported")
        retried(Evolve.promoteColumn(_, up.fieldNames.head,
          SchemaBridge.fromSpark(StructType(Seq(
            org.apache.spark.sql.types.StructField("c", up.newDataType)))).fields.head.fieldType))
      case set: TableChange.SetProperty =>
        retried(Evolve.setProperties(_, Map(set.property -> set.value)))
      case rm: TableChange.RemoveProperty =>
        retried(Evolve.removeProperties(_, Seq(rm.property)))
      case other => throw new UnsupportedOperationException(
        s"$catName: unsupported ALTER TABLE change ${other.getClass.getSimpleName}")
    }
    new SpjTable(t, SchemaBridge.toSpark(t.schema), allowBucket = true,
      strict = false, writable = true)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val name = flat(ident)
    if (!cat.tableExists(name)) false
    else { cat.dropTable(name); true }
  }

  override def purgeTable(ident: Identifier): Boolean = cat match {
    case h: graft.catalog.HadoopCatalog =>
      val name = flat(ident)
      if (!cat.tableExists(name)) false
      else { h.purgeTable(name); true }
    case _ => dropTable(ident) // non-filesystem catalogs: metadata drop only
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = cat match {
    case s: SqlCatalog => s.renameTable(flat(oldIdent), flat(newIdent)); ()
    case r: graft.rest.RestCatalog => r.renameTable(flat(oldIdent), flat(newIdent)); ()
    case _ => throw new UnsupportedOperationException(
      s"$catName: rename needs a SQL or REST catalog backend")
  }

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    GraftSpjCatalog.FunctionNames
      .map(n => Identifier.of(Array.empty[String], n))

  override def loadFunction(ident: Identifier): UnboundFunction =
    ident.name match {
      case "bucket" => GraftBucketUnbound
      case "years" => new GraftTimeUnbound("years")
      case "months" => new GraftTimeUnbound("months")
      case "days" => new GraftTimeUnbound("days")
      case "hours" => new GraftTimeUnbound("hours")
      case "truncate" => GraftTruncateUnbound
      // width-embedded single-arg variants (`truncate_<W>`): Spark's
      // KeyGroupedPartitioning supports only single-REFERENCE transform
      // expressions (bucket's width rides the special numBucketsOpt slot;
      // a literal child disqualifies the claim outright), so SPJ claims
      // for truncate[W] bind these instead of the 2-arg function
      case GraftSpjCatalog.TruncateWidth(w) => GraftTruncateWidthUnbound(w.toInt)
      case _ => throw new NoSuchFunctionException(ident)
    }

  /** `CALL <cat>.system.<proc>(...)`: the maintenance procedure surface
    * ([[GraftProcedures]]) — Iceberg-conventional names over this
    * catalog's tables.
    */
  override def loadProcedure(ident: Identifier): UnboundProcedure = {
    require(ident.namespace.isEmpty || (ident.namespace sameElements Array("system")),
      s"$catName: procedures live in the 'system' namespace, got " +
        ident.namespace.mkString("."))
    GraftProcedures.load(ident.name, cat, catName).getOrElse(
      throw new UnsupportedOperationException(
        s"$catName: no procedure ${ident.name} (have: " +
          GraftProcedures.names.mkString(", ") + ")"))
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    GraftProcedures.names.map(n => Identifier.of(Array("system"), n)).toArray

  // ----------------------------------------------------- SupportsNamespaces
  // Minimal namespace surface over the flat backing catalogs: the single
  // implicit `default` namespace (plus the empty root). `SHOW NAMESPACES`,
  // `USE g.default`, and DESCRIBE NAMESPACE work; namespace DDL is
  // rejected loudly rather than silently ignored.

  import org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException
  import org.apache.spark.sql.connector.catalog.NamespaceChange

  private def isKnownNamespace(ns: Array[String]): Boolean =
    ns.isEmpty || (ns sameElements Array("default"))

  override def namespaceExists(namespace: Array[String]): Boolean =
    isKnownNamespace(namespace)

  override def listNamespaces(): Array[Array[String]] =
    Array(Array("default"))

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    if (!isKnownNamespace(namespace)) throw new NoSuchNamespaceException(namespace)
    if (namespace.isEmpty) listNamespaces() else Array.empty
  }

  override def loadNamespaceMetadata(namespace: Array[String]): java.util.Map[String, String] = {
    if (!isKnownNamespace(namespace)) throw new NoSuchNamespaceException(namespace)
    java.util.Collections.emptyMap()
  }

  override def createNamespace(namespace: Array[String],
      metadata: java.util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      s"$catName: flat catalog — tables live in the implicit 'default' namespace")

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      s"$catName: namespace properties not supported")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean =
    throw new UnsupportedOperationException(
      s"$catName: flat catalog — cannot drop the implicit 'default' namespace")

  // --------------------------------------------------- StagingTableCatalog
  // Atomic CTAS / RTAS (`CREATE [OR REPLACE] TABLE ... AS SELECT`): data
  // files are written into the FINAL table location against an in-memory
  // buffered metadata, and commitStagedChanges publishes that metadata in
  // one catalog CAS — readers see the old table (or no table) until the
  // pointer swings, never an empty or half-written one. Backends without
  // direct metadata registration (SQL/REST) fall back to eager create —
  // the same visibility window the non-staged path always had.

  import org.apache.spark.sql.connector.catalog.{StagedTable, TableInfo}

  override def stageCreate(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: java.util.Map[String, String]): StagedTable =
    stage(ident, schema, partitions, properties, orReplace = false, mustExist = false)

  override def stageCreate(ident: Identifier, info: TableInfo): StagedTable =
    stageCreate(ident, info.schema(), info.partitions(), info.properties())

  override def stageReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: java.util.Map[String, String]): StagedTable =
    stage(ident, schema, partitions, properties, orReplace = true, mustExist = true)

  override def stageReplace(ident: Identifier, info: TableInfo): StagedTable =
    stageReplace(ident, info.schema(), info.partitions(), info.properties())

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: java.util.Map[String, String]): StagedTable =
    stage(ident, schema, partitions, properties, orReplace = true, mustExist = false)

  override def stageCreateOrReplace(ident: Identifier, info: TableInfo): StagedTable =
    stageCreateOrReplace(ident, info.schema(), info.partitions(), info.properties())

  private def stage(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: java.util.Map[String, String],
      orReplace: Boolean, mustExist: Boolean): StagedTable = {
    val name = flat(ident)
    val exists = cat.tableExists(name)
    if (exists && !orReplace) throw new TableAlreadyExistsException(ident)
    if (!exists && mustExist) throw new NoSuchTableException(ident)
    val iceSchema = SchemaBridge.fromSpark(schema)
    val spec = partitions.foldLeft(PartitionSpec.builder(iceSchema)) {
      case (b, t) =>
        val (col, tr) = GraftSpjCatalog.toGraftTransform(t)
        b.add(col, tr)
    }.build()
    val props = properties.asScala.toMap -- Seq(
      TableCatalog.PROP_PROVIDER, TableCatalog.PROP_LOCATION,
      TableCatalog.PROP_OWNER, TableCatalog.PROP_COMMENT,
      TableCatalog.PROP_EXTERNAL, TableCatalog.PROP_IS_MANAGED_LOCATION)
    cat match {
      case h: graft.catalog.HadoopCatalog =>
        GraftAtomicStagedTable(h, ident, name, iceSchema, spec, props, orReplace)
      case _ =>
        // eager fallback: create (dropping first on replace) now; the
        // staged hooks only clean up on abort
        if (exists) cat.dropTable(name)
        val t = cat.createTable(name, iceSchema, spec, properties = props)
        new GraftEagerStagedTable(cat, name,
          new SpjTable(t, SchemaBridge.toSpark(t.schema), allowBucket = true,
            strict = false, writable = true))
    }
  }

  // --------------------------------------------------------------- ViewCatalog
  // Versioned SQL-text views over the backing catalog's view store
  // (reference `view/view.go`, `view/metadata.go`): Spark's V2 ViewCatalog
  // surface on top, version history preserved across CREATE OR REPLACE.

  private def viewObjects: graft.catalog.ViewStore = cat.viewStore.getOrElse(
    throw new UnsupportedOperationException(
      s"$catName: backing catalog does not store views"))

  private def flatViewName(ident: Identifier): String = {
    if (ident.namespace.nonEmpty && !(ident.namespace sameElements Array("default")))
      throw new NoSuchViewException(ident)
    ident.name
  }

  override def listViews(namespace: String*): Array[Identifier] =
    viewObjects.listViews().map(n => Identifier.of(Array.empty[String], n)).toArray

  override def viewExists(ident: Identifier): Boolean =
    try viewObjects.viewExists(flatViewName(ident))
    catch { case _: NoSuchViewException => false }

  override def loadView(ident: Identifier): V2View = {
    val n = flatViewName(ident)
    if (!viewObjects.viewExists(n)) throw new NoSuchViewException(ident)
    new GraftV2View(n, viewObjects.loadView(n))
  }

  private def toVersion(info: ViewInfo): ViewVersion =
    ViewVersion(0, System.currentTimeMillis(), info.sql,
      defaultCatalog = Some(info.currentCatalog),
      defaultNamespace = info.currentNamespace.toSeq,
      schemaJson = Some(info.schema.json),
      queryColumnNames = info.queryColumnNames.toSeq,
      columnAliases = info.columnAliases.toSeq,
      columnComments = Option(info.columnComments)
        .map(_.toSeq.map(c => if (c == null) "" else c)).getOrElse(Nil))

  override def createView(info: ViewInfo): V2View = {
    val n = flatViewName(info.ident)
    if (viewObjects.viewExists(n)) throw new ViewAlreadyExistsException(info.ident)
    new GraftV2View(n, viewObjects.createViewVersioned(n, toVersion(info),
      info.properties.asScala.toMap))
  }

  /** CREATE OR REPLACE: appends a new current version (history kept) rather
    * than the interface default's drop+create.
    */
  override def replaceView(info: ViewInfo, orCreate: Boolean): V2View = {
    val n = flatViewName(info.ident)
    if (!viewObjects.viewExists(n)) {
      if (!orCreate) throw new NoSuchViewException(info.ident)
      return createView(info)
    }
    viewObjects.updateViewProperties(n, info.properties.asScala.toMap,
      remove = viewObjects.loadView(n).properties.keys.toSeq)
    new GraftV2View(n, viewObjects.replaceViewVersioned(n, toVersion(info)))
  }

  override def alterView(ident: Identifier, changes: ViewChange*): V2View = {
    val n = flatViewName(ident)
    if (!viewObjects.viewExists(n)) throw new NoSuchViewException(ident)
    val set = changes.collect {
      case s: ViewChange.SetProperty => s.property -> s.value }.toMap
    val remove = changes.collect {
      case r: ViewChange.RemoveProperty => r.property }
    new GraftV2View(n, viewObjects.updateViewProperties(n, set, remove))
  }

  override def dropView(ident: Identifier): Boolean = {
    val n = flatViewName(ident)
    if (!viewObjects.viewExists(n)) false
    else { viewObjects.dropView(n); true }
  }

  override def renameView(from: Identifier, to: Identifier): Unit = {
    val f = flatViewName(from)
    if (!viewObjects.viewExists(f)) throw new NoSuchViewException(from)
    if (viewObjects.viewExists(flatViewName(to)))
      throw new ViewAlreadyExistsException(to)
    viewObjects.renameView(f, flatViewName(to))
    ()
  }
}

/** In-memory CAS catalog holding a staged table's metadata until publish:
  * the write funnel commits manifests and snapshots into THIS buffer (the
  * physical files land under the final table location, referenced by
  * nothing), and the staging catalog publishes the buffered metadata to
  * the real catalog in one CAS.
  */
private[sources] final class GraftBufferCatalog(tableName: String,
    initial: graft.format.TableMetadata) extends GraftCatalog {
  @volatile private[sources] var meta: graft.format.TableMetadata = initial
  @volatile private[sources] var version: Int = 0

  override def createTable(name: String, schema: graft.core.IcebergSchema,
      spec: PartitionSpec, sortOrder: graft.format.SortOrder,
      properties: Map[String, String]): graft.table.Table =
    throw new UnsupportedOperationException("staged buffer: createTable")
  override def loadTable(name: String): graft.table.Table =
    // path encodes the CAS base version in the v<N>.metadata.json form
    // Table parses (no file exists at it; the buffer is the source of truth)
    new graft.table.Table(tableName, meta, s"staged/v$version.metadata.json", this)
  override def dropTable(name: String): Unit =
    throw new UnsupportedOperationException("staged buffer: dropTable")
  override def tableExists(name: String): Boolean = name == tableName
  override def listTables(): Seq[String] = Seq(tableName)
  override def currentVersion(name: String): Option[Int] = Some(version)
  override def commit(name: String, base: graft.format.TableMetadata,
      updated: graft.format.TableMetadata, expectedVersion: Int): String =
    synchronized {
      if (version != expectedVersion)
        throw new graft.catalog.CommitConflict(
          s"staged buffer at version $version, expected $expectedVersion")
      meta = updated
      version += 1
      s"staged/v$version.metadata.json"
    }
}

/** Atomic staged CTAS/RTAS over a Hadoop-layout catalog: writes go through
  * the ordinary SpjTable V1 funnel against the buffer, commitStagedChanges
  * CAS-publishes the buffered metadata (create at version 0, replace at
  * the current version), abortStagedChanges deletes the staged files.
  */
private[sources] final class GraftAtomicStagedTable(
    h: graft.catalog.HadoopCatalog, ident: Identifier, tableName: String,
    buffer: GraftBufferCatalog, orReplace: Boolean)
    extends org.apache.spark.sql.connector.catalog.StagedTable
    with org.apache.spark.sql.connector.catalog.SupportsWrite {

  private def inner = new SpjTable(buffer.loadTable(tableName),
    SchemaBridge.toSpark(buffer.meta.schema), allowBucket = true,
    strict = false, writable = true)

  override def name(): String = tableName
  override def schema(): StructType = inner.schema()
  override def partitioning() = inner.partitioning()
  override def properties() = inner.properties()
  override def capabilities() = inner.capabilities()
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo) =
    inner.newWriteBuilder(info)

  override def commitStagedChanges(): Unit = {
    val exists = h.tableExists(tableName)
    if (exists && !orReplace) throw new TableAlreadyExistsException(ident)
    val expected = if (exists) h.currentVersion(tableName).getOrElse(0) else 0
    h.registerStagedMetadata(tableName, buffer.meta, expected)
  }

  override def abortStagedChanges(): Unit = {
    // best-effort: unreference the staged data files; a fresh create also
    // drops the whole directory (nothing else lives there yet)
    if (buffer.version > 0)
      buffer.loadTable(tableName).newScan.planFiles()
        .foreach(t => try { graft.io.FileIO.delete(t.file.path); () }
          catch { case _: Exception => () })
    if (!h.tableExists(tableName))
      try { graft.io.FileIO.deleteTree(h.tableLocation(tableName)); () }
      catch { case _: Exception => () }
  }
}

object GraftAtomicStagedTable {
  def apply(h: graft.catalog.HadoopCatalog, ident: Identifier,
      tableName: String, schema: graft.core.IcebergSchema,
      spec: PartitionSpec, props: Map[String, String],
      orReplace: Boolean): GraftAtomicStagedTable = {
    val meta0 = graft.format.TableMetadata.empty(
      h.tableLocation(tableName), schema, spec, properties = props)
    new GraftAtomicStagedTable(h, ident, tableName,
      new GraftBufferCatalog(tableName, meta0), orReplace)
  }
}

/** Eager (non-atomic) staged table for backends without direct metadata
  * registration: the table was created up front; the staged hooks only
  * clean up on abort — exactly the visibility window the non-staged
  * CTAS/RTAS path always had on these backends.
  */
private[sources] final class GraftEagerStagedTable(cat: GraftCatalog,
    tableName: String, inner: SpjTable)
    extends org.apache.spark.sql.connector.catalog.StagedTable
    with org.apache.spark.sql.connector.catalog.SupportsWrite {

  override def name(): String = tableName
  override def schema(): StructType = inner.schema()
  override def partitioning() = inner.partitioning()
  override def properties() = inner.properties()
  override def capabilities() = inner.capabilities()
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo) =
    inner.newWriteBuilder(info)

  override def commitStagedChanges(): Unit = ()
  override def abortStagedChanges(): Unit =
    try { cat.dropTable(tableName); () } catch { case _: Exception => () }
}

/** Spark V2 View over stored graft view metadata. */
final class GraftV2View(viewName: String, meta: ViewMetadata) extends V2View {
  private def cur = meta.currentVersion
  override def name(): String = viewName
  override def query(): String = cur.sql
  override def currentCatalog(): String = cur.defaultCatalog.orNull
  override def currentNamespace(): Array[String] = cur.defaultNamespace.toArray
  override def schema(): StructType = cur.schemaJson
    .map(j => org.apache.spark.sql.types.DataType.fromJson(j).asInstanceOf[StructType])
    .getOrElse(new StructType())
  override def queryColumnNames(): Array[String] = cur.queryColumnNames.toArray
  override def columnAliases(): Array[String] = cur.columnAliases.toArray
  override def columnComments(): Array[String] =
    cur.columnComments.map(c => if (c.isEmpty) null else c).toArray
  override def properties(): java.util.Map[String, String] = meta.properties.asJava
}

object GraftSpjCatalog {
  /** V2 functions this catalog serves — the full set of Spark-provable
    * Iceberg partition transforms. Spark binds these to PROVE layout
    * claims: storage-partitioned joins (two scans co-partitioned iff both
    * sides bind the same canonical function) and write distributions
    * (clustering MERGE / dynamic-overwrite rows by the partition
    * transforms before the fanout writers).
    */
  val FunctionNames: Array[String] =
    Array("bucket", "years", "months", "days", "hours", "truncate")

  /** `truncate_<W>` function-name pattern (see loadFunction). */
  private[sources] val TruncateWidth = "truncate_(\\d{1,9})".r

  /** Spark DDL partition transform → (source column, graft transform). */
  def toGraftTransform(t: Transform): (String, graft.core.Transform) = {
    val refs = t.arguments.collect { case r: NamedReference => r.fieldNames.mkString(".") }
    require(refs.length == 1,
      s"partition transform ${t.name} must reference exactly one column")
    val lits = t.arguments.collect { case l: V2Literal[_] => l.value }
    def intArg: Int = lits.headOption match {
      case Some(n: Number) => n.intValue
      case other => throw new IllegalArgumentException(
        s"partition transform ${t.name} needs an integer argument, got $other")
    }
    t.name.toLowerCase match {
      case "identity" => (refs.head, Transforms.Identity)
      case "bucket" => (refs.head, Transforms.Bucket(intArg))
      case "truncate" => (refs.head, Transforms.Truncate(intArg))
      case "years" | "year" => (refs.head, Transforms.Years)
      case "months" | "month" => (refs.head, Transforms.Months)
      case "days" | "day" => (refs.head, Transforms.Days)
      case "hours" | "hour" => (refs.head, Transforms.Hours)
      case "void" => (refs.head, Transforms.Void)
      case other => throw new IllegalArgumentException(
        s"unsupported partition transform $other")
    }
  }
}

/** The Iceberg bucket transform as a V2 function: murmur3_x86_32(seed 0)
  * over the spec single-value serialization — identical arithmetic to the
  * write-side [[graft.core.Transforms.Bucket]], so the function's claim
  * about data layout is exactly what the fanout writer produced. The
  * canonical name keys SPJ compatibility: two scans are co-partitioned iff
  * both bind bucket to the same canonical function with the same bucket
  * count.
  */
object GraftBucketUnbound extends UnboundFunction {
  override def name(): String = "bucket"
  override def description(): String =
    "graft iceberg bucket transform: murmur3(seed 0) over spec value encoding"

  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length == 2,
      s"bucket expects (numBuckets, value), got ${inputType.catalogString}")
    inputType.fields(1).dataType match {
      case IntegerType | LongType => GraftBucketLong
      // date/timestamp bind NATIVELY (internal days-int / micros-long are
      // the spec encodings): declaring LongType would make Spark inject a
      // DATE→BIGINT cast that ANSI analysis rejects
      case DateType => GraftBucketDate
      case t @ (TimestampType | TimestampNTZType) => new GraftBucketMicros(t)
      case StringType => GraftBucketString
      case other => throw new UnsupportedOperationException(
        s"graft bucket over ${other.catalogString} not supported for SPJ")
    }
  }
}

object GraftBucketLong extends ScalarFunction[Integer] {
  override def inputTypes(): Array[DataType] = Array(IntegerType, LongType)
  override def resultType(): DataType = IntegerType
  override def name(): String = "bucket"
  override def canonicalName(): String = "graft.bucket(long)"
  override def isResultNullable: Boolean = true
  override def produceResult(input: InternalRow): Integer =
    if (input.isNullAt(1)) null
    else Int.box(Transforms.bucketLong(input.getLong(1), input.getInt(0)))
}

object GraftBucketDate extends ScalarFunction[Integer] {
  override def inputTypes(): Array[DataType] = Array(IntegerType, DateType)
  override def resultType(): DataType = IntegerType
  override def name(): String = "bucket"
  override def canonicalName(): String = "graft.bucket(long)"
  override def isResultNullable: Boolean = true
  override def produceResult(input: InternalRow): Integer =
    if (input.isNullAt(1)) null
    else Int.box(Transforms.bucketLong(input.getInt(1).toLong, input.getInt(0)))
}

final class GraftBucketMicros(bound: DataType) extends ScalarFunction[Integer] {
  override def inputTypes(): Array[DataType] = Array(IntegerType, bound)
  override def resultType(): DataType = IntegerType
  override def name(): String = "bucket"
  override def canonicalName(): String = "graft.bucket(long)"
  override def isResultNullable: Boolean = true
  override def produceResult(input: InternalRow): Integer =
    if (input.isNullAt(1)) null
    else Int.box(Transforms.bucketLong(input.getLong(1), input.getInt(0)))
}

object GraftBucketString extends ScalarFunction[Integer] {
  override def inputTypes(): Array[DataType] = Array(IntegerType, StringType)
  override def resultType(): DataType = IntegerType
  override def name(): String = "bucket"
  override def canonicalName(): String = "graft.bucket(string)"
  override def isResultNullable: Boolean = true
  override def produceResult(input: InternalRow): Integer =
    if (input.isNullAt(1)) null
    else Int.box(Transforms.bucketBytes(
      input.get(1, StringType).asInstanceOf[UTF8String].getBytes, input.getInt(0)))
}

/** Iceberg time transforms (`years`/`months`/`days`/`hours`) as V2
  * functions — the same µs floor-division arithmetic as the write-side
  * [[graft.core.Transforms]] `timeUnits`, so the function's layout claim
  * is exactly what the fanout writer produced. Binds date (ordinal int;
  * no `hours`) and timestamp / timestamp_ntz (µs long) sources; v3
  * ns-long sources are deliberately NOT bindable (a bare long can't prove
  * its unit), so claims over them are never made.
  */
final class GraftTimeUnbound(fnName: String) extends UnboundFunction {
  override def name(): String = fnName
  override def description(): String =
    s"graft iceberg $fnName transform: epoch-µs floor arithmetic"

  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length == 1,
      s"$fnName expects (value), got ${inputType.catalogString}")
    inputType.fields(0).dataType match {
      case DateType if fnName != "hours" => new GraftTimeFromDate(fnName)
      // declared inputTypes must ECHO the bound type (tz and ntz share the
      // µs arithmetic and canonical name, but declaring only one would make
      // Spark inject a cast the sort-side type check rejects)
      case t @ (TimestampType | TimestampNTZType) => new GraftTimeFromMicros(fnName, t)
      case other => throw new UnsupportedOperationException(
        s"graft $fnName over ${other.catalogString} not supported")
    }
  }
}

private object GraftTimeArith {
  /** epoch-µs → transform unit (mirrors `Transforms.timeUnits`). */
  def fromMicros(fnName: String, micros: Long): Int = {
    val days = Math.floorDiv(micros, 86400000000L)
    fnName match {
      case "days" => days.toInt
      case "hours" => Math.floorDiv(micros, 3600000000L).toInt
      case _ => fromDays(fnName, days.toInt)
    }
  }
  def fromDays(fnName: String, days: Int): Int = {
    val date = java.time.LocalDate.ofEpochDay(days.toLong)
    fnName match {
      case "years" => date.getYear - 1970
      case "months" => (date.getYear - 1970) * 12 + (date.getMonthValue - 1)
      case "days" => days
      case other => throw new IllegalStateException(s"time unit $other")
    }
  }
  /** `days` results are date-typed per spec (int ordinal physically). */
  def resultType(fnName: String): DataType =
    if (fnName == "days") DateType else IntegerType
}

final class GraftTimeFromMicros(fnName: String, inputT: DataType)
    extends ScalarFunction[Integer] {
  override def inputTypes(): Array[DataType] = Array(inputT)
  override def resultType(): DataType = GraftTimeArith.resultType(fnName)
  override def name(): String = fnName
  override def canonicalName(): String = s"graft.$fnName(micros)"
  override def isResultNullable: Boolean = true
  override def produceResult(input: InternalRow): Integer =
    if (input.isNullAt(0)) null
    else Int.box(GraftTimeArith.fromMicros(fnName, input.getLong(0)))
}

final class GraftTimeFromDate(fnName: String) extends ScalarFunction[Integer] {
  override def inputTypes(): Array[DataType] = Array(DateType)
  override def resultType(): DataType = GraftTimeArith.resultType(fnName)
  override def name(): String = fnName
  override def canonicalName(): String = s"graft.$fnName(date)"
  override def isResultNullable: Boolean = true
  override def produceResult(input: InternalRow): Integer =
    if (input.isNullAt(0)) null
    else Int.box(GraftTimeArith.fromDays(fnName, input.getInt(0)))
}

/** Iceberg truncate[W] as a V2 function over (width, value) — int/long
  * floor-to-width-multiple and string code-point prefix, the exact
  * write-side arithmetic of [[graft.core.Transforms.Truncate]]. Decimal
  * and binary sources stay unbindable (claims simply aren't made).
  */
object GraftTruncateUnbound extends UnboundFunction {
  override def name(): String = "truncate"
  override def description(): String =
    "graft iceberg truncate transform: floor-to-width / code-point prefix"

  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length == 2,
      s"truncate expects (width, value), got ${inputType.catalogString}")
    inputType.fields(1).dataType match {
      case IntegerType => GraftTruncateInt
      case LongType => GraftTruncateLong
      case StringType => GraftTruncateString
      case other => throw new UnsupportedOperationException(
        s"graft truncate over ${other.catalogString} not supported")
    }
  }
}

/** Width-embedded truncate (`truncate_<W>(value)`): the SPJ-claimable
  * single-reference form of [[GraftTruncateUnbound]] — identical
  * arithmetic, width in the NAME so canonical names unify exactly when
  * widths match (truncate_100 two sides joins shuffle-free; truncate_100
  * vs truncate_200 never unifies).
  */
final case class GraftTruncateWidthUnbound(w: Int) extends UnboundFunction {
  override def name(): String = s"truncate_$w"
  override def description(): String =
    s"graft iceberg truncate[$w] transform (width-embedded form)"
  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length == 1,
      s"truncate_$w expects (value), got ${inputType.catalogString}")
    inputType.fields(0).dataType match {
      case IntegerType => GraftTruncateWidthInt(w)
      case LongType => GraftTruncateWidthLong(w)
      case StringType => GraftTruncateWidthString(w)
      case other => throw new UnsupportedOperationException(
        s"graft truncate_$w over ${other.catalogString} not supported")
    }
  }
}

final case class GraftTruncateWidthInt(w: Int) extends ScalarFunction[Integer] {
  override def inputTypes(): Array[DataType] = Array(IntegerType)
  override def resultType(): DataType = IntegerType
  override def name(): String = s"truncate_$w"
  override def canonicalName(): String = s"graft.truncate[$w](int)"
  override def isResultNullable: Boolean = true
  override def produceResult(input: InternalRow): Integer =
    if (input.isNullAt(0)) null
    else { val i = input.getInt(0); Int.box(i - (((i % w) + w) % w)) }
}

final case class GraftTruncateWidthLong(w: Int) extends ScalarFunction[java.lang.Long] {
  override def inputTypes(): Array[DataType] = Array(LongType)
  override def resultType(): DataType = LongType
  override def name(): String = s"truncate_$w"
  override def canonicalName(): String = s"graft.truncate[$w](long)"
  override def isResultNullable: Boolean = true
  override def produceResult(input: InternalRow): java.lang.Long =
    if (input.isNullAt(0)) null
    else {
      val wl = w.toLong; val l = input.getLong(0)
      Long.box(l - (((l % wl) + wl) % wl))
    }
}

final case class GraftTruncateWidthString(w: Int) extends ScalarFunction[UTF8String] {
  override def inputTypes(): Array[DataType] = Array(StringType)
  override def resultType(): DataType = StringType
  override def name(): String = s"truncate_$w"
  override def canonicalName(): String = s"graft.truncate[$w](string)"
  override def isResultNullable: Boolean = true
  override def produceResult(input: InternalRow): UTF8String =
    if (input.isNullAt(0)) null
    else {
      val s = input.get(0, StringType).asInstanceOf[UTF8String].toString
      val cps = s.codePointCount(0, s.length)
      UTF8String.fromString(
        if (cps <= w) s else s.substring(0, s.offsetByCodePoints(0, w)))
    }
}

object GraftTruncateInt extends ScalarFunction[Integer] {
  override def inputTypes(): Array[DataType] = Array(IntegerType, IntegerType)
  override def resultType(): DataType = IntegerType
  override def name(): String = "truncate"
  override def canonicalName(): String = "graft.truncate(int)"
  override def isResultNullable: Boolean = true
  override def produceResult(input: InternalRow): Integer =
    if (input.isNullAt(1)) null
    else {
      val w = input.getInt(0); val i = input.getInt(1)
      Int.box(i - (((i % w) + w) % w))
    }
}

object GraftTruncateLong extends ScalarFunction[java.lang.Long] {
  override def inputTypes(): Array[DataType] = Array(IntegerType, LongType)
  override def resultType(): DataType = LongType
  override def name(): String = "truncate"
  override def canonicalName(): String = "graft.truncate(long)"
  override def isResultNullable: Boolean = true
  override def produceResult(input: InternalRow): java.lang.Long =
    if (input.isNullAt(1)) null
    else {
      val w = input.getInt(0).toLong; val l = input.getLong(1)
      Long.box(l - (((l % w) + w) % w))
    }
}

object GraftTruncateString extends ScalarFunction[UTF8String] {
  override def inputTypes(): Array[DataType] = Array(IntegerType, StringType)
  override def resultType(): DataType = StringType
  override def name(): String = "truncate"
  override def canonicalName(): String = "graft.truncate(string)"
  override def isResultNullable: Boolean = true
  override def produceResult(input: InternalRow): UTF8String =
    if (input.isNullAt(1)) null
    else {
      val w = input.getInt(0)
      val s = input.get(1, StringType).asInstanceOf[UTF8String].toString
      val cps = s.codePointCount(0, s.length)
      UTF8String.fromString(
        if (cps <= w) s else s.substring(0, s.offsetByCodePoints(0, w)))
    }
}
