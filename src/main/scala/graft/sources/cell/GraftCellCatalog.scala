package graft.sources.cell

import java.util.{Map => JMap}

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DSv2 `TableCatalog` over a warehouse of graftcell stores — the SQL
  * DDL surface of the HBase table lifecycle: each table is one cell
  * store directory under the catalog's `root`, so
  *
  * {{{
  *   spark.sql.catalog.<name>       = graft.sources.cell.GraftCellCatalog
  *   spark.sql.catalog.<name>.root  = /path/to/warehouse
  *   CREATE TABLE <name>.t (rowkey STRING, family STRING,
  *                          qualifier STRING, version BIGINT,
  *                          value STRING) USING graftcell
  *   INSERT OVERWRITE <name>.t SELECT ...   -- bulk load (range shuffle
  *                                          -- declared by the sink)
  *   SELECT ... FROM <name>.t WHERE rowkey >= ...  -- full pushdown
  *   DELETE FROM <name>.t WHERE rowkey < ...       -- SupportsDelete
  *   ALTER TABLE / DROP TABLE / RENAME
  * }}}
  *
  * all resolve through the same [[GraftCellTable]] as the path-based
  * `format("graftcell")` reads — one implementation, two addressing
  * modes (the catalog is metadata only: a table is its directory).
  *
  * NAMESPACES (r16) follow HBase's model — one level, holding tables
  * (`create_namespace` / `'ns:table'` in the shell): a namespace is a
  * marker-stamped SUBDIRECTORY of the warehouse (`root/<ns>/<table>`),
  * so `CREATE NAMESPACE g.prod`, `CREATE TABLE g.prod.t ...`,
  * `SHOW TABLES IN g.prod`, and cross-namespace `ALTER TABLE RENAME`
  * are all directory metadata ops. The default namespace stays the
  * warehouse root (legacy tables untouched); procedures address
  * namespaced tables HBase-style (`CALL g.compact('prod:t')`). Nested
  * namespaces are refused — HBase namespaces don't nest. Table
  * creation enforces the cell schema, because a graftcell table IS
  * the cell model. */
class GraftCellCatalog extends TableCatalog
    with org.apache.spark.sql.connector.catalog.SupportsNamespaces
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog
    with org.apache.spark.sql.connector.catalog.FunctionCatalog {
  private var catalogName: String = _
  private var root: java.io.File = _

  override def initialize(name: String,
                          options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    val r = options.get("root")
    require(r != null,
      s"graftcell catalog '$name' requires option 'root' " +
      s"(spark.sql.catalog.$name.root = <warehouse dir>)")
    root = new java.io.File(r)
    root.mkdirs()
  }

  override def name(): String = catalogName

  private def requireDefaultNs(ns: Array[String]): Unit =
    if (ns.nonEmpty) throw new NoSuchNamespaceException(ns)

  private def segOk(s: String): Boolean =
    s.nonEmpty && s.forall(c => c.isLetterOrDigit || c == '_' || c == '-')

  private def validSeg(kind: String, s: String): String = {
    require(segOk(s), s"graftcell: bad $kind name '$s'")
    s
  }

  /** Namespace marker — distinguishes a namespace dir from a table dir
    * (tables carry `_GRAFT_TABLE`) and from stray directories, and
    * persists the CREATE NAMESPACE metadata. */
  private def nsMarker(dir: java.io.File) = new java.io.File(dir, "_GRAFT_NS")

  /** Directory of a (single-level, HBase-style) namespace; the empty
    * namespace is the warehouse root. */
  private def nsDir(ns: Array[String]): java.io.File = ns match {
    case Array()  => root
    case Array(n) => new java.io.File(root, validSeg("namespace", n))
    case deeper   => throw new NoSuchNamespaceException(deeper)
  }

  private def nsExists(ns: Array[String]): Boolean = ns match {
    case Array() => true
    // a probe with characters we'd never accept at CREATE is simply
    // "does not exist" — throwing IllegalArgumentException here
    // surfaces as an opaque analysis failure for unrelated multi-part
    // identifiers routed through this catalog
    case Array(n) if !segOk(n) => false
    case _       => nsMarker(nsDir(ns)).exists()
  }

  private def dirOf(ident: Identifier): java.io.File = {
    val parent = nsDir(ident.namespace())
    if (!nsExists(ident.namespace()))
      throw new NoSuchNamespaceException(ident.namespace())
    new java.io.File(parent, validSeg("table", ident.name()))
  }

  /** A table dir is one the CATALOG created (marker-stamped) — a stray
    * directory under root is not silently a table. Since r16 the marker
    * also persists the table's PROPERTIES (the HBase table-descriptor
    * analog: TTL / tombstone policy live with the table, not per-CALL):
    * a JSON object of the allowed keys, or empty bytes (legacy = no
    * properties). */
  private def marker(dir: java.io.File) = new java.io.File(dir, "_GRAFT_TABLE")

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** The table properties a graftcell table persists — exactly the
    * HBase-descriptor policy knobs the maintenance ops consume.
    * Anything else (except Spark's own reserved properties) is
    * refused: a property that silently does nothing is a lie. */
  private val ALLOWED_PROPS =
    Set("ttl_micros", "tombstone", "max_versions", "buckets", "compression",
        "delete_markers",
        // r19 — GLOBAL SECONDARY INDEX provenance, written by
        // `CALL build_index` (the Phoenix table-descriptor analog):
        // which base table and (family, qualifier) this index covers.
        // Load-bearing, not informational: a rebuild with a DIFFERENT
        // (family, qualifier) is refused against them, so an index can
        // never be silently repurposed while readers assume its old
        // meaning.
        "index.of", "index.family", "index.qualifier",
        // r20 — composite index covered columns (Phoenix INCLUDE)
        "index.include")
  // per-COLUMN-FAMILY policy keys (r17 — HBase's per-family descriptor;
  // r18 adds compression, r19 delete_markers): `family.<f>.ttl_micros`
  // / `.tombstone` / `.max_versions` / `.delete_markers` override the
  // table-level policy for that family in CALL compact,
  // `family.<f>.compression` selects that family's region-file parquet
  // codec on every write path
  private val FAMILY_PROP =
    ("family\\.([A-Za-z0-9_-]+)\\." +
     "(ttl_micros|tombstone|max_versions|compression|delete_markers)").r
  private val SPARK_RESERVED = Set("provider", "owner", "location",
    "comment", "external", "is_managed_location", "format")

  private def validated(props: Map[String, String]): Map[String, String] = {
    val unknown = props.keySet.filterNot(k =>
      ALLOWED_PROPS.contains(k) || FAMILY_PROP.pattern.matcher(k).matches())
    require(unknown.isEmpty,
      s"graftcell: unsupported table properties ${unknown.mkString(", ")} " +
      s"(supported: ${ALLOWED_PROPS.toSeq.sorted.mkString(", ")} and " +
      "family.<f>.{ttl_micros, tombstone, max_versions, compression, " +
      "delete_markers})")
    def checkTtl(k: String, v: String): Unit =
      require(scala.util.Try(v.toLong).toOption.exists(_ >= 0L),
        s"graftcell: $k must be a non-negative long, got '$v'")
    def checkMaxV(k: String, v: String): Unit =
      require(scala.util.Try(v.toLong).toOption.exists(_ >= 1L),
        s"graftcell: $k must be a positive long, got '$v'")
    props.foreach {
      case (k @ "ttl_micros", v)   => checkTtl(k, v)
      case (k @ "max_versions", v) => checkMaxV(k, v)
      case (k @ "buckets", v) =>
        require(scala.util.Try(v.toInt).toOption
                  .exists(b => b >= 1 && b <= 4096),
          s"graftcell: buckets must be an int in [1, 4096], got '$v'")
      case (k @ "compression", v) => CellCodecs.codec(v, k)
      case (k @ "delete_markers", v) =>
        require(v == "current" || v == "hide-all-older",
          s"graftcell: $k must be 'current' or 'hide-all-older', got '$v'")
      case (k @ FAMILY_PROP(_, "ttl_micros"), v)   => checkTtl(k, v)
      case (k @ FAMILY_PROP(_, "max_versions"), v) => checkMaxV(k, v)
      case (k @ FAMILY_PROP(_, "compression"), v)  => CellCodecs.codec(v, k)
      case (k @ FAMILY_PROP(_, "delete_markers"), v) =>
        require(v == "current" || v == "hide-all-older",
          s"graftcell: $k must be 'current' or 'hide-all-older', got '$v'")
      case _ => ()
    }
    props
  }

  private def writeProps(dir: java.io.File,
                         props: Map[String, String]): Unit = {
    val node = mapper.createObjectNode()
    props.toSeq.sortBy(_._1).foreach { case (k, v) => node.put(k, v) }
    CellJson.writeAtomic(new java.io.File(dir, "_GRAFT_TABLE.tmp"),
                         marker(dir), node)
  }

  private def readProps(dir: java.io.File): Map[String, String] = {
    val bytes = java.nio.file.Files.readAllBytes(marker(dir).toPath)
    if (bytes.isEmpty) Map.empty // legacy marker: no properties
    else {
      import scala.jdk.CollectionConverters._
      mapper.readTree(bytes).properties().asScala
        .map(e => e.getKey -> e.getValue.asText()).toMap
    }
  }

  /** Persisted properties of an existing table (procedure entry point:
    * `CALL compact` reads TTL/tombstone defaults from here when its
    * arguments are omitted). */
  private[cell] def propsOf(tableName: String): Map[String, String] =
    readProps(new java.io.File(storeOf(tableName)))

  /** The SANCTIONED descriptor rewrite behind `CALL rebucket` (r17):
    * ALTER refuses `buckets` because the files on disk are hashed
    * against the declared count — a bare property flip would lie. The
    * rebucket procedure REWRITES the layout first and then repoints
    * the descriptor through this internal path (the one caller for
    * whom the files and the count agree again). */
  private[cell] def setBuckets(tableName: String, n: Int): Unit = {
    require(n >= 1 && n <= 4096,
      s"graftcell: buckets must be in [1, 4096], got $n")
    val dir = new java.io.File(storeOf(tableName))
    writeProps(dir, readProps(dir) + ("buckets" -> n.toString))
  }

  /** Create the destination table of a snapshot CLONE: marker-stamped
    * like createTable, with the DESCRIPTOR PROPERTIES copied from the
    * source table (HBase `clone_snapshot` carries the table
    * descriptor). Refuses an existing destination. Returns the new
    * store path. */
  private[cell] def createCloneDest(srcTable: String,
                                    destTable: String): String = {
    val srcDir = new java.io.File(storeOf(srcTable))
    val destIdent = destTable.split(":", -1) match {
      case Array(t)     => Identifier.of(Array.empty, t)
      case Array(ns, t) => Identifier.of(Array(ns), t)
      case _ => throw new IllegalArgumentException(
        s"graftcell: bad table reference '$destTable' (use 'table' or 'ns:table')")
    }
    val dest = dirOf(destIdent)
    if (marker(dest).exists()) throw new TableAlreadyExistsException(destIdent)
    dest.mkdirs()
    writeProps(dest, readProps(srcDir))
    dest.getPath
  }

  /** Create-or-validate the destination table of a GLOBAL SECONDARY
    * INDEX build (r19): marker-stamped like createTable with the
    * index-provenance descriptor persisted. A fresh destination is
    * created; an existing one must carry MATCHING provenance (same
    * base table, family, qualifier) or the build refuses — rebuilds
    * are sanctioned, silent repurposing is not. Returns the index
    * store path. */
  private[cell] def createIndexDest(baseTable: String, indexTable: String,
                                    family: String, qualifier: String,
                                    include: String = ""): String = {
    val destIdent = indexTable.split(":", -1) match {
      case Array(t)     => Identifier.of(Array.empty, t)
      case Array(ns, t) => Identifier.of(Array(ns), t)
      case _ => throw new IllegalArgumentException(
        s"graftcell: bad table reference '$indexTable' (use 'table' or 'ns:table')")
    }
    val dest = dirOf(destIdent)
    val want = Map("index.of" -> baseTable, "index.family" -> family,
                   "index.qualifier" -> qualifier) ++
      (if (include.nonEmpty) Map("index.include" -> include) else Map.empty)
    if (marker(dest).exists()) {
      val have = readProps(dest).filter(_._1.startsWith("index."))
      require(have == want,
        s"graftcell: '$indexTable' exists with index descriptor $have — " +
        s"refusing to rebuild it as $want (drop the table to repurpose)")
    } else {
      dest.mkdirs()
      writeProps(dest, want)
    }
    dest.getPath
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    if (!nsExists(namespace)) throw new NoSuchNamespaceException(namespace)
    Option(nsDir(namespace).listFiles).getOrElse(Array.empty)
      .filter(d => d.isDirectory && marker(d).exists())
      .map(d => Identifier.of(namespace, d.getName))
      .sortBy(_.name())
  }

  override def tableExists(ident: Identifier): Boolean =
    ident.namespace().length <= 1 && nsExists(ident.namespace()) &&
      segOk(ident.name()) && marker(dirOf(ident)).exists()

  /** Store dir of an existing DATA table at (ns, name), or None —
    * the no-throw resolution used by loadTable and the metadata-table
    * fallback (bad segments and unknown namespaces are simply "not a
    * data table" here, not errors). */
  private def existingDataDir(ns: Array[String],
                              name: String): Option[java.io.File] =
    scala.util.Try {
      if (ns.length <= 1 && nsExists(ns)) {
        val d = new java.io.File(nsDir(ns), validSeg("table", name))
        if (marker(d).exists()) Some(d) else None
      } else None
    }.toOption.flatten

  /** METADATA-TABLE resolution (see [[GraftCellMeta]]): a nested
    * identifier whose LAST segment is a metadata kind and whose PREFIX
    * names an existing data table — `g.t.files`, `g.ns.t.snapshots` —
    * loads the read-only metadata view of that table's store. Only
    * consulted after normal resolution fails, so a REAL table named
    * e.g. `snapshots` inside a namespace always wins. */
  private def metaTableOf(ident: Identifier): Option[Table] =
    if (!GraftCellMeta.KINDS.contains(ident.name())) None
    else (ident.namespace() match {
      case Array(t)     => existingDataDir(Array.empty, t)
      case Array(ns, t) => existingDataDir(Array(ns), t)
      case _            => None
    }).map(d => new GraftCellMetaTable(d.getPath, ident.name()))

  override def loadTable(ident: Identifier): Table =
    existingDataDir(ident.namespace(), ident.name()) match {
      case Some(dir) =>
        new GraftCellTable(dir.getPath, tableProps = readProps(dir))
      case None =>
        metaTableOf(ident).getOrElse(throw new NoSuchTableException(ident))
    }

  /** `VERSION AS OF '<snapshot>'` time travel: the version string is a
    * named snapshot of the table's store (the manifest written by
    * [[GraftCellSnapshot.create]]) — the loaded table reads AS OF that
    * pinned dir set and refuses writes and row-level operations. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val dir = existingDataDir(ident.namespace(), ident.name())
      .getOrElse(throw new NoSuchTableException(ident))
    // fail fast on an unknown snapshot name (clearer than an empty read)
    GraftCellSnapshot.dirs(dir.getPath, version)
    new GraftCellTable(dir.getPath, Some(version), tableProps = readProps(dir))
  }

  /** `TIMESTAMP AS OF <ts>` time travel over the COMMIT-STAMPED
    * persisted manifests: every committed batch dir carries a strictly
    * monotonic `committedAtMicros` (see [[CellManifest]]), so a
    * timestamp resolves to the generations committed at or before it —
    * a pure metadata operation, like the named-snapshot path, with
    * zero data copy or footer reads. A timestamp before the table's
    * first KNOWN commit (live or logged-retired) is refused (there was
    * no table to read then); one at or past the newest commit reads
    * the full live dir set. The pinned table refuses writes and
    * row-level operations like any time-travel view. `timestamp`
    * arrives in microseconds since the epoch (the engine's
    * TimestampType resolution).
    *
    * TOTAL-OR-LOUD over maintenance and DML history (r18, VERDICT r17
    * #1): view membership of every file is replayed from the
    * [[CellTravelLog]] — live from its generation's commit stamp, OUT
    * at each logged retirement `supersededAt ≤ ts`, back IN at each
    * logged restore revival `≤ ts`. Members resolve from the live dirs
    * or (for retired generations a snapshot kept pinned) from
    * `_archive/<dir>/` restricted to exactly the retirement-time
    * names; a member that resolves NOWHERE — an unpinned retirement,
    * or an archive swept by drop_snapshot/vacuum — REFUSES with the
    * missing files named, instead of silently reading a thinned table
    * (the pre-r18 behavior inside a minor-compacted window). Row-level
    * DML retires through the same publish as maintenance, so clock
    * travel is total-or-loud over UPDATE/MERGE/DELETE too. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val dir = existingDataDir(ident.namespace(), ident.name())
      .getOrElse(throw new NoSuchTableException(ident))
    val store = dir.getPath
    val pins = GraftCellTimeTravel.resolve(store, timestamp, ident.name())
    new GraftCellTable(store, None, Some(pins), readProps(dir))
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: JMap[String, String]): Table = {
    val dir = dirOf(ident)
    if (marker(dir).exists()) throw new TableAlreadyExistsException(ident)
    // a graftcell table IS the cell model: exact column names and
    // types (nullability free — the writer accepts any), no
    // partitioning transforms (regions come from the write layout)
    val want = GraftCell.SCHEMA.fields.map(f => (f.name, f.dataType))
    val got = schema.fields.map(f => (f.name, f.dataType))
    require(got.sameElements(want),
      s"graftcell tables have the fixed cell schema " +
      s"${GraftCell.SCHEMA.simpleString}; got ${schema.simpleString}")
    require(partitions.isEmpty,
      "graftcell tables take no PARTITIONED BY (regions come from the " +
      "declared write distribution)")
    // TBLPROPERTIES: persist the allowed policy keys in the marker (the
    // HBase table descriptor); Spark's reserved bookkeeping properties
    // pass through silently, anything else is refused
    import scala.jdk.CollectionConverters._
    val declared = validated(properties.asScala.toMap
      .filterNot { case (k, _) =>
        SPARK_RESERVED.contains(k) || k.startsWith("option.") })
    dir.mkdirs()
    writeProps(dir, declared)
    new GraftCellTable(dir.getPath, tableProps = declared)
  }

  /** `ALTER TABLE ... SET/UNSET TBLPROPERTIES` for exactly the allowed
    * policy keys (the HBase `alter 't', TTL => ...`); every other
    * change — columns, schema, anything — is still refused: a graftcell
    * table IS the cell model. */
  override def alterTable(ident: Identifier,
                          changes: TableChange*): Table = {
    val dir = dirOf(ident)
    if (!marker(dir).exists()) throw new NoSuchTableException(ident)
    // `buckets` is fixed at CREATE: the existing region files were
    // hashed against it, and flipping the descriptor would claim a
    // co-partitioning the data doesn't have. (The file-name tags carry
    // their own bucket count, so even a hand-edited marker degrades to
    // a shuffle, never a wrong join — but the honest surface is to
    // refuse.) Re-bucketing = CTAS into a new table.
    def noBuckets(p: String): Unit =
      if (p == "buckets") throw new UnsupportedOperationException(
        "graftcell: 'buckets' is fixed at CREATE TABLE (region files " +
        "are hashed against it) — re-bucket via CREATE TABLE ... AS SELECT")
    val updated = changes.foldLeft(readProps(dir)) {
      case (props, sp: TableChange.SetProperty) =>
        noBuckets(sp.property())
        props + (sp.property() -> sp.value())
      case (props, rp: TableChange.RemoveProperty) =>
        noBuckets(rp.property())
        props - rp.property()
      case (_, other) =>
        throw new UnsupportedOperationException(
          "graftcell tables have the fixed cell schema — only " +
          s"SET/UNSET TBLPROPERTIES(${ALLOWED_PROPS.toSeq.sorted
            .mkString(", ")}) is supported, not $other")
    }
    writeProps(dir, validated(updated))
    new GraftCellTable(dir.getPath, tableProps = updated)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = dirOf(ident)
    if (!marker(dir).exists()) return false
    FileUtils.deleteQuietly(dir)
    CellFooterCache.invalidate(dir.getPath)
    true
  }

  /** Store directory of an existing table (procedure entry point).
    * Accepts the HBase shell's namespaced form `'ns:table'` next to a
    * bare default-namespace name — procedures stay top-level
    * (`CALL g.compact('prod:t')`), exactly like the shell. */
  private[cell] def storeOf(tableName: String): String = {
    val ident = tableName.split(":", -1) match {
      case Array(t)     => Identifier.of(Array.empty, t)
      case Array(ns, t) => Identifier.of(Array(ns), t)
      case _ => throw new IllegalArgumentException(
        s"graftcell: bad table reference '$tableName' (use 'table' or 'ns:table')")
    }
    val dir = dirOf(ident)
    if (!marker(dir).exists()) throw new NoSuchTableException(ident)
    dir.getPath
  }

  /** The SQL `CALL` admin surface — HBase shell maintenance ops
    * (major/minor compaction, snapshot lifecycle) as DSv2 stored
    * procedures; see [[GraftCellProcedures]]. Flat namespace, like
    * tables. */
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    requireDefaultNs(ident.namespace())
    GraftCellProcedures.all(this).getOrElse(ident.name(),
      throw new RuntimeException(
        s"graftcell: unknown procedure '${ident.name()}' " +
        s"(have: ${GraftCellProcedures.all(this).keys.toSeq.sorted.mkString(", ")})"))
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] = {
    requireDefaultNs(namespace)
    GraftCellProcedures.all(this).keys.toSeq.sorted
      .map(n => Identifier.of(Array.empty, n)).toArray
  }

  // ---- FunctionCatalog (the `bucket` transform of bucketed stores) ----

  /** One catalog function: `bucket` — what the bucketed write's
    * declared distribution evaluates and the storage-partitioned-join
    * compatibility check resolves (see [[GraftBucketFunction]]). Lives
    * in the default namespace like the procedures. */
  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.namespace().isEmpty && ident.name() == "bucket")
      GraftBucketFunction
    else throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchFunctionException(ident)

  override def listFunctions(namespace: Array[String]): Array[Identifier] = {
    requireDefaultNs(namespace)
    Array(Identifier.of(Array.empty, "bucket"))
  }

  // ---- SupportsNamespaces (HBase create_namespace / drop_namespace) ----

  override def defaultNamespace(): Array[String] = Array.empty

  override def listNamespaces(): Array[Array[String]] =
    Option(root.listFiles).getOrElse(Array.empty)
      .filter(d => d.isDirectory && nsMarker(d).exists())
      .map(d => Array(d.getName)).sortBy(_.head)

  /** HBase namespaces don't nest: children of an existing namespace are
    * none; asking under an unknown one is an error. */
  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    namespace match {
      case Array() => listNamespaces()
      case ns if nsExists(ns) => Array.empty
      case ns => throw new NoSuchNamespaceException(ns)
    }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.length <= 1 && nsExists(namespace)

  override def loadNamespaceMetadata(namespace: Array[String])
      : JMap[String, String] = {
    if (!nsExists(namespace)) throw new NoSuchNamespaceException(namespace)
    val m = new java.util.HashMap[String, String]()
    if (namespace.nonEmpty) {
      import scala.jdk.CollectionConverters._
      val bytes = java.nio.file.Files
        .readAllBytes(nsMarker(nsDir(namespace)).toPath)
      if (bytes.nonEmpty)
        mapper.readTree(bytes).properties().asScala
          .foreach(e => m.put(e.getKey, e.getValue.asText()))
    }
    m
  }

  /** `CREATE NAMESPACE g.<ns>` — one marker-stamped warehouse subdir;
    * the metadata map (COMMENT / PROPERTIES / Spark's owner stamp)
    * persists verbatim in the marker, like the HBase namespace
    * descriptor's configuration. */
  override def createNamespace(namespace: Array[String],
                               metadata: JMap[String, String]): Unit = {
    val dir = nsDir(namespace)
    require(namespace.nonEmpty, "graftcell: cannot create the default namespace")
    if (nsMarker(dir).exists())
      throw new org.apache.spark.sql.catalyst.analysis
        .NamespaceAlreadyExistsException(namespace)
    require(!marker(dir).exists(),
      s"graftcell: '${namespace.head}' is already a table")
    dir.mkdirs()
    import scala.jdk.CollectionConverters._
    val node = mapper.createObjectNode()
    metadata.asScala.toSeq.sortBy(_._1).foreach { case (k, v) => node.put(k, v) }
    CellJson.writeAtomic(new java.io.File(dir, "_GRAFT_NS.tmp"),
                         nsMarker(dir), node)
  }

  override def alterNamespace(namespace: Array[String],
      changes: org.apache.spark.sql.connector.catalog.NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "graftcell namespaces carry no alterable metadata")

  /** `DROP NAMESPACE` — refuses a namespace that still holds tables
    * unless CASCADE (which drops them, HBase-shell style must empty
    * first; SQL's CASCADE is the explicit opt-in). */
  override def dropNamespace(namespace: Array[String],
                             cascade: Boolean): Boolean = {
    if (namespace.isEmpty)
      throw new IllegalArgumentException("graftcell: cannot drop the default namespace")
    if (!nsExists(namespace)) return false
    val tables = listTables(namespace)
    if (tables.nonEmpty && !cascade)
      throw new org.apache.spark.sql.catalyst.analysis
        .NonEmptyNamespaceException(namespace)
    tables.foreach(dropTable)
    FileUtils.deleteQuietly(nsDir(namespace))
    true
  }

  override def renameTable(oldIdent: Identifier,
                           newIdent: Identifier): Unit = {
    val from = dirOf(oldIdent)
    val to = dirOf(newIdent)
    if (!marker(from).exists()) throw new NoSuchTableException(oldIdent)
    if (marker(to).exists()) throw new TableAlreadyExistsException(newIdent)
    java.nio.file.Files.move(from.toPath, to.toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    CellFooterCache.invalidate(from.getPath)
    CellFooterCache.invalidate(to.getPath)
  }
}
