package graft.sources.cell

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The HBase shell ADMIN surface as SQL `CALL` procedures (DSv2
  * `ProcedureCatalog`, Spark 4.x stored procedures): store maintenance
  * that previously required calling `GraftCellMaintenance` /
  * `GraftCellSnapshot` from Scala runs as plain SQL —
  *
  * {{{
  *   CALL graftcat.compact('t')                     -- major_compact 't'
  *   CALL graftcat.compact('t', 864000000000, '__TOMBSTONE__')
  *                                                  -- + TTL & tombstone GC
  *   CALL graftcat.compact_minor('t', 1048576)      -- size-tiered minor
  *   CALL graftcat.snapshot('t', 's1')              -- snapshot 't','s1'
  *   CALL graftcat.drop_snapshot('t', 's1')         -- delete_snapshot
  * }}}
  *
  * Each procedure returns ONE summary row (a driver-side [[LocalScan]]
  * — Spark's `MultiResultExec` materializes it as the CALL result), so
  * the admin op is observable from SQL: dirs before/after, cells
  * after, pinned dir count. Procedures are non-deterministic by
  * declaration (they mutate the store) and follow the same
  * single-writer maintenance contract as the Scala entry points they
  * wrap. */
object GraftCellProcedures {

  private def p(name: String, dt: DataType) =
    ProcedureParameter.in(name, dt).build()
  private def pDefault(name: String, dt: DataType, default: String) =
    ProcedureParameter.in(name, dt).defaultValue(default).build()

  private final case class SummaryScan(schema: StructType,
                                       rowSet: Array[InternalRow])
      extends LocalScan {
    override def rows(): Array[InternalRow] = rowSet
    override def readSchema(): StructType = schema
    override def description(): String = s"GraftCellProcedureSummary"
  }

  private def schemaOf(fields: Seq[(String, Any)]): StructType =
    StructType(fields.map {
      case (n, _: Long)   => StructField(n, LongType, nullable = false)
      case (n, _: String) => StructField(n, StringType, nullable = false)
      case (n, v) => throw new IllegalArgumentException(s"$n: $v")
    })

  private def rowOf(fields: Seq[(String, Any)]): InternalRow =
    new GenericInternalRow(fields.map {
      case (_, v: Long)   => v: Any
      case (_, v: String) => UTF8String.fromString(v): Any
      case (_, v)         => v
    }.toArray)

  private def summary(fields: (String, Any)*): java.util.Iterator[Scan] =
    java.util.Collections.singletonList(
      SummaryScan(schemaOf(fields), Array(rowOf(fields))): Scan).iterator()

  /** Multi-row procedure result (e.g. `list_snapshots` — one row per
    * snapshot); every row must carry the same field names/types. */
  private def table(schema: StructType,
                    rows: Seq[Seq[(String, Any)]]): java.util.Iterator[Scan] =
    java.util.Collections.singletonList(
      SummaryScan(schema, rows.map(rowOf).toArray): Scan).iterator()

  private def storeStats(store: String): (Long, Long) = {
    val dirs = CellFooterCache.committedDirs(store)
    (dirs.size.toLong,
     dirs.flatMap(CellFooterCache.filesUnder(store, _)).map(_.rowCount).sum)
  }

  /** The compression descriptor subset of a table's properties —
    * passed to the maintenance rewrites so they re-encode with the
    * declared codecs (r18). */
  private def codecPropsOf(props: Map[String, String]): Map[String, String] =
    props.filter { case (k, _) => CellCodecs.isProp(k) }

  /** One class per procedure; `bind` ignores the input schema (all
    * parameters are declared IN scalars — Spark coerces and fills
    * defaults before `call`). */
  abstract class CellProcedure(catalog: GraftCellCatalog,
                               procName: String)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = procName
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false // mutates the store
    protected def store(tableArg: UTF8String): String =
      catalog.storeOf(tableArg.toString)
  }

  /** `compact(table, ttl_micros = -1, tombstone = NULL)` — MAJOR
    * compaction with optional GC: latest-version resolution, plus TTL
    * expiry (versions older than store-max − ttl_micros; -1 = off)
    * and physical tombstone dropping (cells hidden by the marker
    * value, marker included; NULL = off). The HBase shell's
    * `major_compact` + the GC policy knobs. OMITTED arguments fall
    * back to the table's persisted TBLPROPERTIES (r16 — the HBase
    * table descriptor: TTL/tombstone policy lives WITH the table, so
    * plain `CALL compact(t)` applies the declared policy); an explicit
    * argument overrides the property for that run — INCLUDING the off
    * direction (r17): `ttl_micros = 0` means "explicitly no TTL this
    * run" and `tombstone = ''` means "explicitly no tombstone GC",
    * distinct from the omitted defaults (-1 / NULL) that fall through
    * to the property. `max_versions` needs no sentinel: its off
    * direction IS the default policy, expressible as an explicit 1. */
  final class Compact(catalog: GraftCellCatalog)
      extends CellProcedure(catalog, "compact") {
    override def parameters(): Array[ProcedureParameter] = Array(
      p("table", StringType),
      pDefault("ttl_micros", LongType, "-1"),
      pDefault("tombstone", StringType, "NULL"),
      pDefault("max_versions", LongType, "-1"),
      // r19: 'current' (engine default) | 'hide-all-older' (HBase's
      // KEEP_DELETED_CELLS=FALSE marker semantics); NULL falls back to
      // the `delete_markers` / `family.<f>.delete_markers` properties
      pDefault("delete_markers", StringType, "NULL"))
    override def description(): String =
      "major compaction: resolve to the max_versions newest versions " +
      "(default 1); optional TTL expiry and tombstone GC (defaults " +
      "from TBLPROPERTIES; delete_markers = 'hide-all-older' masks " +
      "every version at or below a marker); one shuffle-free merge " +
      "of the sorted region files, published as one replacing batch"
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val tableName = input.getUTF8String(0).toString
      val s = catalog.storeOf(tableName)
      val props = catalog.propsOf(tableName)
      val ttlExplicit = !(input.isNullAt(1) || input.getLong(1) < 0)
      val ttl =
        if (!ttlExplicit) props.get("ttl_micros").map(_.toLong) // table policy
        else if (input.getLong(1) == 0L) None   // explicit off
        else Some(input.getLong(1))
      val tombExplicit = !input.isNullAt(2)
      val tomb =
        if (!tombExplicit) props.get("tombstone") // omitted
        else Some(input.getUTF8String(2).toString)
          .filter(_.nonEmpty)                     // '' = explicit off
      val maxVExplicit = !(input.isNullAt(3) || input.getLong(3) < 1)
      val maxV = (if (!maxVExplicit) None else Some(input.getLong(3)))
        .orElse(props.get("max_versions").map(_.toLong))
        .getOrElse(1L).toInt
      val dmExplicit = !input.isNullAt(4)
      val dm =
        if (!dmExplicit) props.get("delete_markers")
        else Some(input.getUTF8String(4).toString).filter(_.nonEmpty)
      // per-family descriptor policies (r17): `family.<f>.<knob>`
      // TBLPROPERTIES override the table level for that family — but an
      // EXPLICIT argument overrides everything for its dimension (one
      // run with the policy forced uniform must be expressible)
      val famRe = ("family\\.([A-Za-z0-9_-]+)\\." +
        "(ttl_micros|tombstone|max_versions|delete_markers)").r
      val familyPolicies = props.toSeq
        .collect { case (famRe(f, knob), v) => (f, knob, v) }
        .groupBy(_._1).map { case (f, knobs) =>
          val m = knobs.map(k => k._2 -> k._3).toMap
          f -> GraftCellMaintenance.FamilyPolicy(
            ttlMicros = if (ttlExplicit) None
                        else m.get("ttl_micros").map(_.toLong),
            tombstone = if (tombExplicit) None else m.get("tombstone"),
            maxVersions = if (maxVExplicit) None
                          else m.get("max_versions").map(_.toInt),
            deleteMarkers = if (dmExplicit) None
                            else m.get("delete_markers"))
        }.filter(_._2 !=
          GraftCellMaintenance.FamilyPolicy(None, None, None, None))
      val (dirsBefore, _) = storeStats(s)
      // bucketed tables compact INTO their layout (HBase: compaction
      // never changes the salt) — the rewrite re-clusters on the
      // descriptor's bucket count, so storage-partitioned joins
      // survive maintenance
      GraftCellMaintenance.majorCompact(SparkSession.active, s, ttl, tomb,
                                        maxV,
                                        props.get("buckets").map(_.toInt),
                                        familyPolicies,
                                        codecPropsOf(props),
                                        deleteMarkers = dm)
      val (dirsAfter, cellsAfter) = storeStats(s)
      summary("dirs_before" -> dirsBefore, "dirs_after" -> dirsAfter,
              "cells_after" -> cellsAfter)
    }
  }

  /** `compact_minor(table, max_bytes)` — size-tiered minor compaction:
    * merge every committed batch dir at or below max_bytes into one,
    * content verbatim. */
  final class CompactMinor(catalog: GraftCellCatalog)
      extends CellProcedure(catalog, "compact_minor") {
    override def parameters(): Array[ProcedureParameter] = Array(
      p("table", StringType), p("max_bytes", LongType))
    override def description(): String =
      "minor compaction: merge small committed batches, verbatim content"
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val tableName = input.getUTF8String(0).toString
      val s = catalog.storeOf(tableName)
      val merged = GraftCellMaintenance
        .minorCompact(SparkSession.active, s, input.getLong(1),
                      codecPropsOf(catalog.propsOf(tableName)))
      val (dirsAfter, _) = storeStats(s)
      summary("merged_dirs" -> merged.size.toLong,
              "dirs_after" -> dirsAfter)
    }
  }

  /** `snapshot(table, name)` — pin the committed dir set (zero-copy
    * manifest); readable as `VERSION AS OF '<name>'`. */
  final class Snapshot(catalog: GraftCellCatalog)
      extends CellProcedure(catalog, "snapshot") {
    override def parameters(): Array[ProcedureParameter] = Array(
      p("table", StringType), p("name", StringType))
    override def description(): String =
      "create a named zero-copy snapshot of the table's committed dirs"
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val s = store(input.getUTF8String(0))
      val pinned = GraftCellSnapshot
        .create(s, input.getUTF8String(1).toString)
      summary("pinned_dirs" -> pinned.size.toLong)
    }
  }

  /** `drop_snapshot(table, name)` — the HBase shell `delete_snapshot`. */
  final class DropSnapshot(catalog: GraftCellCatalog)
      extends CellProcedure(catalog, "drop_snapshot") {
    override def parameters(): Array[ProcedureParameter] = Array(
      p("table", StringType), p("name", StringType))
    override def description(): String = "delete a named snapshot manifest"
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val s = store(input.getUTF8String(0))
      val name = input.getUTF8String(1).toString
      // fail fast on unknown snapshots, like VERSION AS OF resolution
      GraftCellSnapshot.dirs(s, name)
      GraftCellSnapshot.drop(s, name)
      summary("dropped" -> 1L)
    }
  }

  /** `repair(table)` — complete pending RETIRE intents (a crash
    * between a replacing commit's publish and its file deletions
    * leaves an intent behind; readers already exclude the listed
    * files, repair finishes the physical deletion and drops the
    * intent — cf. HBase's hbck). No-op on a healthy store; refuses a
    * store holding an older release's `_rewrite_intent.json`. */
  final class Repair(catalog: GraftCellCatalog)
      extends CellProcedure(catalog, "repair") {
    override def parameters(): Array[ProcedureParameter] =
      Array(p("table", StringType))
    override def description(): String =
      "complete interrupted replacing commits (pending intents)"
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val (intents, removed) =
        CellRetire.repair(store(input.getUTF8String(0)))
      summary("intents_completed" -> intents, "files_removed" -> removed)
    }
  }

  /** `build_index(table, index, family, qualifier)` — GLOBAL SECONDARY
    * INDEX bulk build (r19, the Phoenix `CREATE INDEX ... ASYNC` +
    * IndexTool shape): materializes `<table>_idx_<index>` as a
    * catalog table whose rowkey is `value ++ 0x00 ++ base_rowkey` for
    * every base cell of the given (family, qualifier), value = the
    * base rowkey (covered back-pointer). The index-provenance
    * descriptor persists in the new table's TBLPROPERTIES and a
    * rebuild with different provenance REFUSES — an index can never be
    * silently repurposed. Rebuild with matching arguments is a full
    * deterministic overwrite. */
  final class BuildIndex(catalog: GraftCellCatalog)
      extends CellProcedure(catalog, "build_index") {
    override def parameters(): Array[ProcedureParameter] = Array(
      p("table", StringType), p("index", StringType),
      p("family", StringType), p("qualifier", StringType),
      // the hbase.hregion.max.filesize analog for the index store
      // (-1 = single region file per write partition)
      pDefault("max_rows_per_file", LongType, "-1"),
      // r20 — COVERED columns of a COMPOSITE index (Phoenix INCLUDE):
      // meaningful only with a comma-separated `qualifier` list
      pDefault("include", StringType, "''"))
    override def description(): String =
      "build (or rebuild) the global secondary index " +
      "<table>_idx_<index> over one (family, qualifier) column, or — " +
      "with a comma-separated qualifier list and optional include " +
      "columns — a composite/covering row-image index"
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val tableName = input.getUTF8String(0).toString
      val idxName = s"${tableName}_idx_${input.getUTF8String(1)}"
      val family = input.getUTF8String(2).toString
      val qualifier = input.getUTF8String(3).toString
      val include =
        if (input.isNullAt(5)) "" else input.getUTF8String(5).toString
      val keyQuals = qualifier.split(",", -1).map(_.trim)
        .filter(_.nonEmpty).toSeq
      val incQuals = include.split(",", -1).map(_.trim)
        .filter(_.nonEmpty).toSeq
      require(keyQuals.nonEmpty, "graftcell: empty qualifier list")
      require(keyQuals.size > 1 || incQuals.isEmpty,
        "graftcell: include columns need a composite (multi-qualifier) " +
        "index — a single-column index already covers the back-pointer")
      val idxStore = catalog.createIndexDest(
        tableName, idxName, family, qualifier, include)
      val maxRows = if (input.isNullAt(4)) -1L else input.getLong(4)
      val n =
        if (keyQuals.size == 1)
          GraftCellMaintenance.buildIndex(
            SparkSession.active, store(input.getUTF8String(0)), idxStore,
            family, keyQuals.head, maxRows)
        else
          GraftCellMaintenance.buildCompositeIndex(
            SparkSession.active, store(input.getUTF8String(0)), idxStore,
            family, keyQuals, incQuals, maxRows)
      summary("index_table" -> idxName, "indexed_cells" -> n)
    }
  }

  /** `sync_index(table, index)` — INCREMENTAL index maintenance (r19;
    * survives structural rewrites r20): land `<table>_idx_<index>` on
    * the base's current view. Append-only history since the boundary
    * takes the dir-granular delta (O(delta), never O(store)); history
    * rewritten by content-preserving maintenance (compaction,
    * split/merge, restore — even DML) takes the CONTENT-LEVEL delta
    * while the boundary snapshot still reads (anti-joins on the full
    * cell identity: additions append, removals delete their entries) —
    * r19 refused here and forced a full rebuild after every routine
    * compaction. Provenance (family, qualifier) comes from the index
    * table's own descriptor — the properties `build_index` persisted
    * are what make the bare two-argument call sound. Still
    * TOTAL-OR-LOUD: an unreadable boundary (pins resolving neither
    * live nor archived) or an over-bound removal set REFUSES with the
    * rebuild verb named — never a silent partial sync. */
  final class SyncIndex(catalog: GraftCellCatalog)
      extends CellProcedure(catalog, "sync_index") {
    override def parameters(): Array[ProcedureParameter] =
      Array(p("table", StringType), p("index", StringType))
    override def description(): String =
      "land the index on the base's current view: dir-granular delta " +
      "append when history is append-only, content-level delta across " +
      "rewrites; refuses only when the boundary is unreadable"
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val tableName = input.getUTF8String(0).toString
      val idxName = s"${tableName}_idx_${input.getUTF8String(1)}"
      val idxStore = catalog.storeOf(idxName)
      val props = catalog.propsOf(idxName)
      def prov(k: String): String = props.getOrElse(k,
        throw new IllegalArgumentException(
          s"graftcell: '$idxName' carries no '$k' descriptor — not an " +
          "index table built by CALL build_index"))
      require(prov("index.of") == tableName,
        s"graftcell: '$idxName' indexes '${prov("index.of")}', not " +
        s"'$tableName'")
      // r20: composite/covering indexes are rebuild-only — a composite
      // entry MOVES when any key column of its row image changes, so
      // neither the dir-granular nor the content-level single-column
      // delta contract composes (see buildCompositeIndex's scaladoc)
      require(!prov("index.qualifier").contains(","),
        s"graftcell: '$idxName' is a composite index — incremental " +
        "sync does not apply; rebuild it (CALL build_index)")
      val (synced, deleted, deltaDirs, mode) = GraftCellMaintenance
        .syncIndex(SparkSession.active, store(input.getUTF8String(0)),
                   idxStore, prov("index.family"),
                   prov("index.qualifier"))
      summary("index_table" -> idxName, "synced_cells" -> synced,
              "delta_generations" -> deltaDirs,
              "deleted_cells" -> deleted, "mode" -> mode)
    }
  }

  /** `list_snapshots(table)` — the HBase shell `list_snapshots`: one
    * row per snapshot manifest with its pinned-dir count and how many
    * pinned dirs a later compaction removed (missing > 0 ⇒ the
    * snapshot is invalidated: reads partially empty, refuses restore). */
  final class ListSnapshots(catalog: GraftCellCatalog)
      extends CellProcedure(catalog, "list_snapshots") {
    override def parameters(): Array[ProcedureParameter] =
      Array(p("table", StringType))
    override def description(): String =
      "list the table's snapshots: name, pinned dirs, missing (invalidated) dirs"
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val rows = GraftCellSnapshot.list(store(input.getUTF8String(0)))
        .map { case (n, pinned, missing) =>
          Seq[(String, Any)]("name" -> n,
            "pinned_dirs" -> pinned.size.toLong,
            "missing_dirs" -> missing.size.toLong) }
      table(StructType(Seq(
        StructField("name", StringType, nullable = false),
        StructField("pinned_dirs", LongType, nullable = false),
        StructField("missing_dirs", LongType, nullable = false))), rows)
    }
  }

  /** `restore_snapshot(table, name)` — repoint the live dir set to the
    * snapshot's pinned manifest: one atomic publish (empty generation +
    * retire intent for every post-snapshot file), then physical cleanup
    * — readers never see a half state, and a crash mid-cleanup is
    * completed by `CALL repair`. Refuses unknown or compaction-
    * invalidated snapshots. The HBase shell `restore_snapshot`. */
  final class RestoreSnapshot(catalog: GraftCellCatalog)
      extends CellProcedure(catalog, "restore_snapshot") {
    override def parameters(): Array[ProcedureParameter] = Array(
      p("table", StringType), p("name", StringType))
    override def description(): String =
      "restore the table to a named snapshot's pinned dir set (atomic, zero-copy)"
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val (pinned, retired) = GraftCellSnapshot.restore(
        store(input.getUTF8String(0)), input.getUTF8String(1).toString)
      summary("pinned_dirs" -> pinned, "files_retired" -> retired)
    }
  }

  /** `clone_snapshot(table, name, new_table)` — the HBase shell
    * `clone_snapshot`: a NEW table whose content is the pinned
    * generation, zero data copy (hard links to the source's region
    * files — safe against all later source mutations by inode
    * semantics; see [[GraftCellSnapshot.clone]]). The descriptor
    * properties travel with the clone. */
  final class CloneSnapshot(catalog: GraftCellCatalog)
      extends CellProcedure(catalog, "clone_snapshot") {
    override def parameters(): Array[ProcedureParameter] = Array(
      p("table", StringType), p("name", StringType),
      p("new_table", StringType))
    override def description(): String =
      "create a new table from a named snapshot (zero-copy hard links)"
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val srcTable = input.getUTF8String(0).toString
      val snapName = input.getUTF8String(1).toString
      val destTable = input.getUTF8String(2).toString
      val src = catalog.storeOf(srcTable)
      // validate the snapshot BEFORE creating the destination table
      GraftCellSnapshot.dirs(src, snapName)
      val dest = catalog.createCloneDest(srcTable, destTable)
      val (dirs, files) = GraftCellSnapshot.clone(src, snapName, dest)
      summary("cloned_dirs" -> dirs, "files_linked" -> files)
    }
  }

  /** `export_snapshot(table, name, dest_path)` — the HBase
    * `ExportSnapshot` job: byte-copy the pinned generation to an
    * EXTERNAL location (where clone's hard links can't reach) as a
    * standalone, immediately-readable graftcell store — one Spark task
    * per region file, so the backup moves at cluster bandwidth. A
    * completed export at the destination is refused; a crashed partial
    * one is wiped and redone (`_SUCCESS` is the idempotence marker). */
  final class ExportSnapshot(catalog: GraftCellCatalog)
      extends CellProcedure(catalog, "export_snapshot") {
    override def parameters(): Array[ProcedureParameter] = Array(
      p("table", StringType), p("name", StringType),
      p("dest_path", StringType),
      // INCREMENTAL backup: export only dirs(name) − dirs(since_name),
      // the generations committed between the two named snapshots
      pDefault("since_name", StringType, "NULL"))
    override def description(): String =
      "byte-copy a named snapshot (or the window since since_name) to " +
      "an external path (distributed, one task per file)"
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val (dirs, files, bytes) = GraftCellSnapshot.export(
        SparkSession.active, store(input.getUTF8String(0)),
        input.getUTF8String(1).toString, input.getUTF8String(2).toString,
        if (input.isNullAt(3)) None
        else Some(input.getUTF8String(3).toString))
      summary("exported_dirs" -> dirs, "files_copied" -> files,
              "bytes_copied" -> bytes)
    }
  }

  /** `split_region(table, split_key)` — the HBase shell `split`: cut
    * every region file straddling the key into two at exactly the key
    * (one distributed task per victim; crash-safe retire-intent
    * publish). The post-hoc hot-region knob — range probes on either
    * side of the key then plan half the bytes. */
  final class SplitRegion(catalog: GraftCellCatalog)
      extends CellProcedure(catalog, "split_region") {
    override def parameters(): Array[ProcedureParameter] = Array(
      p("table", StringType), p("split_key", StringType))
    override def description(): String =
      "split region files straddling split_key into two at the key"
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val s = store(input.getUTF8String(0))
      val (split, created) = GraftCellMaintenance.splitRegion(
        SparkSession.active, s, input.getUTF8String(1).toString)
      summary("files_split" -> split, "files_created" -> created,
              "region_files" -> CellFooterCache.filesOf(s).size.toLong)
    }
  }

  /** `merge_regions(table, max_bytes)` — the HBase shell
    * `merge_region`: within each committed dir, k-way-merge runs of
    * adjacent region files up to max_bytes into one sorted file,
    * bounding the store's file count after fine-grained loads or
    * repeated splits. */
  final class MergeRegions(catalog: GraftCellCatalog)
      extends CellProcedure(catalog, "merge_regions") {
    override def parameters(): Array[ProcedureParameter] = Array(
      p("table", StringType), p("max_bytes", LongType))
    override def description(): String =
      "merge runs of adjacent region files (per dir, ≤ max_bytes) into one"
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val (runs, before, after) = GraftCellMaintenance.mergeRegions(
        SparkSession.active, store(input.getUTF8String(0)),
        input.getLong(1))
      summary("runs_merged" -> runs, "files_before" -> before,
              "files_after" -> after)
    }
  }

  /** `normalize(table, target_bytes = -1)` — the HBase region
    * NORMALIZER (SimpleRegionNormalizer) as one CALL: split every
    * region file > 2×target at the byte-midpoint of its key range,
    * then merge runs of adjacent files totalling ≤ target. Target
    * defaults to the store's MEAN file size, so the verb is
    * self-scaling. Planning is manifest-stats-only (zero data bytes
    * before the surgery); one pass per CALL, repeated CALLs converge;
    * content byte-identical throughout. */
  final class Normalize(catalog: GraftCellCatalog)
      extends CellProcedure(catalog, "normalize") {
    override def parameters(): Array[ProcedureParameter] = Array(
      p("table", StringType),
      pDefault("target_bytes", LongType, "-1"))
    override def description(): String =
      "region normalizer: split files > 2x target (default: mean file " +
      "size) at their key midpoint, merge adjacent runs <= target"
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val s = store(input.getUTF8String(0))
      val target = if (input.isNullAt(1)) -1L else input.getLong(1)
      val (split, runs, before, after, tgt) = GraftCellMaintenance
        .normalize(SparkSession.active, s, target)
      summary("files_split" -> split, "runs_merged" -> runs,
              "files_before" -> before, "files_after" -> after,
              "target_bytes" -> tgt)
    }
  }

  /** `bulkload(table, src_path)` — the HBase `completebulkload`
    * (LoadIncrementalHFiles): adopt a COMPLETED external graftcell
    * store (an export_snapshot destination, an incremental-export
    * window, any connector-written store) into the table — one new
    * generation per source dir, distributed byte-copy, manifest stats
    * traveling so the adopted files plan without a footer open. The
    * missing half of the backup story: export on cluster A, bulkload
    * on cluster B. Source is read-only throughout. */
  final class Bulkload(catalog: GraftCellCatalog)
      extends CellProcedure(catalog, "bulkload") {
    override def parameters(): Array[ProcedureParameter] = Array(
      p("table", StringType), p("src_path", StringType))
    override def description(): String =
      "adopt a completed external graftcell store (e.g. an export) as " +
      "new generations (distributed copy, stats travel)"
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val (dirs, files, rows) = GraftCellMaintenance.bulkload(
        SparkSession.active, store(input.getUTF8String(0)),
        input.getUTF8String(1).toString)
      summary("adopted_dirs" -> dirs, "files_copied" -> files,
              "rows_adopted" -> rows)
    }
  }

  /** `hbck(table)` — HBase's `hbck` consistency report, REPORT-ONLY:
    * manifest↔disk drift (missing / orphan region files), pending
    * retire intents, compaction-invalidated snapshots, stale tmp dirs.
    * Pure driver-side metadata (zero data bytes at any store size);
    * `CALL repair` and re-staging are the fix verbs. */
  final class Hbck(catalog: GraftCellCatalog)
      extends CellProcedure(catalog, "hbck") {
    override def parameters(): Array[ProcedureParameter] =
      Array(p("table", StringType))
    override def description(): String =
      "consistency report: manifest drift, pending intents, " +
      "invalidated snapshots, stale tmp dirs (report-only)"
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val (dirs, missing, orphans, intents, invalid, stale, archOrphans,
           lostWindows, legacyDirs) =
        GraftCellMaintenance.hbck(store(input.getUTF8String(0)))
      summary("dirs" -> dirs, "missing_files" -> missing,
              "orphan_files" -> orphans, "pending_intents" -> intents,
              "invalid_snapshots" -> invalid, "stale_tmp_dirs" -> stale,
              "unreferenced_archived" -> archOrphans,
              "lost_travel_windows" -> lostWindows,
              "legacy_dirs" -> legacyDirs)
    }
  }

  /** `upgrade_manifests(table)` — retire the legacy-dir caveat class
    * (r19): derive exact per-file manifests from parquet footers
    * EXECUTOR-side for every manifest-less committed dir, stamped at
    * the dir's mtime (the value commitStampOf already reported) and
    * published atomically — after which write-once (dir, name), MVCC
    * under DML, total-or-loud travel and zero-footer planning hold
    * store-wide. Idempotent; `hbck` counts `legacy_dirs` until run. */
  final class UpgradeManifests(catalog: GraftCellCatalog)
      extends CellProcedure(catalog, "upgrade_manifests") {
    override def parameters(): Array[ProcedureParameter] =
      Array(p("table", StringType))
    override def description(): String =
      "derive persisted manifests for legacy (manifest-less) dirs " +
      "from parquet footers, executor-side; extends the MVCC/travel " +
      "guarantees store-wide"
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val (dirs, files) = GraftCellMaintenance.upgradeManifests(
        SparkSession.active, store(input.getUTF8String(0)))
      summary("dirs_upgraded" -> dirs, "files_indexed" -> files)
    }
  }

  /** `vacuum(table, drop_invalid_snapshots = false)` — HBase's cleaner
    * chores: complete pending retirements, delete orphan data files
    * (manifest-authoritative — invisible to reads) and stale tmp dirs,
    * optionally drop invalidated snapshot manifests. The FIX verb for
    * what `hbck` reports; see [[GraftCellMaintenance.vacuum]]. */
  final class Vacuum(catalog: GraftCellCatalog)
      extends CellProcedure(catalog, "vacuum") {
    override def parameters(): Array[ProcedureParameter] = Array(
      p("table", StringType),
      pDefault("drop_invalid_snapshots", BooleanType, "false"))
    override def description(): String =
      "cleaner chores: complete pending retirements, delete orphan " +
      "files and stale tmp dirs, optionally drop invalidated snapshots"
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val (intents, orphans, stale, snaps, idxSyncs, archived) =
        GraftCellMaintenance.vacuum(
          store(input.getUTF8String(0)), input.getBoolean(1))
      summary("intents_completed" -> intents,
              "orphan_files_deleted" -> orphans,
              "stale_tmp_dirs_deleted" -> stale,
              "invalid_snapshots_dropped" -> snaps,
              "orphaned_index_syncs_dropped" -> idxSyncs,
              "archived_files_reclaimed" -> archived)
    }
  }

  /** `rebucket(table, buckets)` — the ONE-PUBLISH layout evolution for
    * the create-time-fixed `buckets` descriptor (r17): rewrite every
    * cell into the new clustering (content verbatim — no GC; archived
    * generations preserved for snapshots), THEN repoint the descriptor
    * through the catalog's sanctioned path. Crash between the two
    * steps degrades the scan to unkeyed (tag/descriptor mismatch — a
    * shuffle, never a wrong join); re-running completes. */
  final class Rebucket(catalog: GraftCellCatalog)
      extends CellProcedure(catalog, "rebucket") {
    override def parameters(): Array[ProcedureParameter] = Array(
      p("table", StringType), p("buckets", LongType))
    override def description(): String =
      "rewrite the table into a new bucket count and repoint the " +
      "descriptor (layout evolution; content verbatim)"
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val tableName = input.getUTF8String(0).toString
      val s = catalog.storeOf(tableName)
      val n = input.getLong(1).toInt
      val before = catalog.propsOf(tableName)
        .get("buckets").map(_.toLong).getOrElse(0L)
      GraftCellMaintenance.rebucket(SparkSession.active, s, n,
        codecPropsOf(catalog.propsOf(tableName)))
      catalog.setBuckets(tableName, n)
      val (_, cells) = storeStats(s)
      summary("buckets_before" -> before, "buckets_after" -> n.toLong,
              "cells" -> cells)
    }
  }

  /** `verify_rep(table, other_table)` — HBase's `VerifyReplication`
    * job: a distributed cell-level diff of two tables (primary vs
    * replica / source vs bulkloaded copy / table vs restored backup),
    * aligned on the full cell key via one sort-merge full-outer join.
    * Report-only. */
  final class VerifyRep(catalog: GraftCellCatalog)
      extends CellProcedure(catalog, "verify_rep") {
    override def parameters(): Array[ProcedureParameter] = Array(
      p("table", StringType), p("other_table", StringType))
    override def description(): String =
      "cell-level diff of two tables: only-left, only-right, value " +
      "mismatches, matching (distributed full-outer join)"
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val (onlyL, onlyR, mismatch, matching) =
        GraftCellMaintenance.verifyRep(SparkSession.active,
          store(input.getUTF8String(0)), store(input.getUTF8String(1)))
      summary("only_in_table" -> onlyL, "only_in_other" -> onlyR,
              "value_mismatch" -> mismatch, "matching" -> matching)
    }
  }

  def all(catalog: GraftCellCatalog): Map[String, UnboundProcedure] = Map(
    "compact" -> new Compact(catalog),
    "compact_minor" -> new CompactMinor(catalog),
    "snapshot" -> new Snapshot(catalog),
    "drop_snapshot" -> new DropSnapshot(catalog),
    "list_snapshots" -> new ListSnapshots(catalog),
    "restore_snapshot" -> new RestoreSnapshot(catalog),
    "clone_snapshot" -> new CloneSnapshot(catalog),
    "export_snapshot" -> new ExportSnapshot(catalog),
    "split_region" -> new SplitRegion(catalog),
    "merge_regions" -> new MergeRegions(catalog),
    "normalize" -> new Normalize(catalog),
    "repair" -> new Repair(catalog),
    "build_index" -> new BuildIndex(catalog),
    "sync_index" -> new SyncIndex(catalog),
    "bulkload" -> new Bulkload(catalog),
    "hbck" -> new Hbck(catalog),
    "upgrade_manifests" -> new UpgradeManifests(catalog),
    "vacuum" -> new Vacuum(catalog),
    "verify_rep" -> new VerifyRep(catalog),
    "rebucket" -> new Rebucket(catalog))
}
