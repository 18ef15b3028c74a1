package graft.sources.cell

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, LocalScan, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** METADATA TABLES over a graftcell store — the inspection surface a
  * real deployment queries instead of listing directories: for a
  * catalog table `g.t` (or `g.ns.t`), the nested identifiers
  *
  * {{{
  *   SELECT * FROM g.t.files       -- one row per live region file
  *   SELECT * FROM g.t.snapshots   -- one row per snapshot manifest
  *   SELECT * FROM g.t.history     -- one row per committed generation
  *   SELECT * FROM g.t.travel_log  -- one row per structural-history
  *                                 -- event (r18: what TIMESTAMP AS OF
  *                                 -- replays)
  * }}}
  *
  * resolve to read-only tables computed from the SAME persisted
  * metadata the planner reads (per-dir `_manifest.json`, snapshot
  * manifests, retire intents) — so what they report is BY CONSTRUCTION
  * what a scan of the store would see, and none of them opens a
  * parquet footer on a manifest-bearing store. This is the pattern
  * table formats expose as `db.table.files` / `.snapshots` /
  * `.history`, and the answer to the HBase shell's `describe` /
  * `status` / `list_snapshots` inspection verbs from plain SQL.
  *
  * Resolution (see [[GraftCellCatalog.loadTable]]) gives DATA tables
  * precedence: `g.ns.snapshots` with a real table `snapshots` in
  * namespace `ns` loads the data table; the metadata interpretation
  * applies only where normal resolution has no answer. Metadata
  * tables take no writes (no SupportsWrite — INSERT fails at
  * analysis), no time travel, and are never listed by SHOW TABLES
  * (they are views of a table, not tables of the namespace).
  *
  * Scale shape: `files` is the one that grows with the store (a 100 TB
  * table is ~1M region files), so it plans ONE InputPartition PER
  * COMMITTED DIR and each executor-side reader parses only its own
  * dir's `_manifest.json` (legacy dirs fall back to that dir's footer
  * scan) — the driver ships dir names, never the file list.
  * `snapshots` and `history` are O(#snapshots) / O(#generations) —
  * driver-computed [[LocalScan]]s like the procedure results. */
object GraftCellMeta {
  /** The recognized metadata-table names (the nested identifier's last
    * segment). */
  val KINDS: Set[String] = Set("files", "snapshots", "history",
                               "travel_log", "indexes")

  /** One row per LIVE region file (committed dirs, retire intents
    * subtracted) — the persisted manifest stats verbatim: nullable
    * stat columns are None exactly where the manifest has no stat
    * (legacy dirs, all-null columns), matching what pruning can use. */
  val FILES_SCHEMA: StructType = StructType(Seq(
    StructField("batch_dir", StringType, nullable = false),
    StructField("file", StringType, nullable = false),
    StructField("n_bytes", LongType, nullable = false),
    StructField("n_rows", LongType, nullable = false),
    StructField("null_keys", LongType, nullable = true),
    StructField("min_key", StringType, nullable = true),
    StructField("max_key", StringType, nullable = true),
    StructField("min_version", LongType, nullable = true),
    StructField("max_version", LongType, nullable = true),
    StructField("min_family", StringType, nullable = true),
    StructField("max_family", StringType, nullable = true),
    StructField("min_qualifier", StringType, nullable = true),
    StructField("max_qualifier", StringType, nullable = true),
    StructField("message_type", StringType, nullable = false)))

  /** One row per snapshot manifest, named like the `list_snapshots`
    * procedure (pinned_dirs / missing_dirs), plus what the pinned
    * generation READS: row/byte totals and the min/max rowkey, summed
    * from the pinned dirs' manifests with retire intents subtracted —
    * i.e. exactly `VERSION AS OF` semantics — since r17 resolved
    * through the `_archive/` dir, so a compacted-away pinned
    * generation still reports its true stats. An INVALIDATED snapshot
    * (missing > 0 — a pin in neither live nor archive: a v1-era loss
    * or a vacuumed archive) reports NULL stats: the generation can no
    * longer be read back in full, and a number computed from the
    * surviving half would be a lie. */
  val SNAPSHOTS_SCHEMA: StructType = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("pinned_dirs", LongType, nullable = false),
    StructField("missing_dirs", LongType, nullable = false),
    StructField("n_rows", LongType, nullable = true),
    StructField("n_bytes", LongType, nullable = true),
    StructField("min_key", StringType, nullable = true),
    StructField("max_key", StringType, nullable = true)))

  /** One row per committed generation (batch dir), in commit order —
    * the table's commit log: the monotonic manifest stamp (what
    * `TIMESTAMP AS OF` resolves against) as a real timestamp, the
    * generation's own size, and the running row total (what a
    * time-travel read up to that commit returns). */
  val HISTORY_SCHEMA: StructType = StructType(Seq(
    StructField("generation", LongType, nullable = false),
    StructField("batch_dir", StringType, nullable = false),
    StructField("committed_at", TimestampType, nullable = false),
    StructField("n_files", LongType, nullable = false),
    StructField("n_rows", LongType, nullable = false),
    StructField("n_bytes", LongType, nullable = false),
    StructField("cumulative_rows", LongType, nullable = false)))

  /** One row per travel-log event (r18 — `TIMESTAMP AS OF`'s
    * structural history, see [[CellTravelLog]]), in append (= stamp)
    * order: retire events carry the retired generation's commit stamp
    * and the superseding stamp in `at`; revive events (and the born
    * events of older releases' logs) carry only their own event time. `n_files` is the event's file-name count —
    * the operator's "what would a travel into this window need"
    * inspection, from plain SQL. */
  val TRAVEL_SCHEMA: StructType = StructType(Seq(
    StructField("event", StringType, nullable = false),
    StructField("batch_dir", StringType, nullable = false),
    StructField("stamp", TimestampType, nullable = true),
    StructField("at", TimestampType, nullable = false),
    StructField("n_files", LongType, nullable = false)))

  /** One row per GLOBAL SECONDARY INDEX of this table (r19 — SHOW
    * INDEXES): the warehouse's sibling tables whose descriptor says
    * `index.of == <this table>`, with the observable sync state —
    * index row count (manifest fold, zero data bytes),
    * `delta_generations` (base generations committed after the sync
    * snapshot — what the next `CALL sync_index` would append), and
    * `rewritten_since_sync` (1 when the snapshot's pins left the live
    * view or the travel log records a later structural event — exactly
    * the predicate under which sync REFUSES and a rebuild is needed).
    * An operator reads index health from SQL before touching the
    * verbs. */
  val INDEXES_SCHEMA: StructType = StructType(Seq(
    StructField("index_table", StringType, nullable = false),
    StructField("family", StringType, nullable = false),
    StructField("qualifier", StringType, nullable = false),
    StructField("n_rows", LongType, nullable = false),
    StructField("delta_generations", LongType, nullable = false),
    StructField("rewritten_since_sync", IntegerType, nullable = false)))

  def schemaOf(kind: String): StructType = kind match {
    case "files"      => FILES_SCHEMA
    case "snapshots"  => SNAPSHOTS_SCHEMA
    case "history"    => HISTORY_SCHEMA
    case "travel_log" => TRAVEL_SCHEMA
    case "indexes"    => INDEXES_SCHEMA
    case other => throw new IllegalArgumentException(
      s"graftcell: unknown metadata table '$other'")
  }

  private[cell] def utf8(b: Option[Array[Byte]]): Any =
    b.map(UTF8String.fromBytes).orNull

  /** One FILES_SCHEMA row from a manifest entry. */
  private[cell] def fileRow(dirName: String, m: CellFileMeta): InternalRow =
    new GenericInternalRow(Array[Any](
      UTF8String.fromString(dirName),
      UTF8String.fromString(new java.io.File(m.path).getName),
      m.bytes, m.rowCount,
      m.nullKeys.map(Long.box).orNull,
      utf8(m.minKey), utf8(m.maxKey),
      m.minVer.map(Long.box).orNull, m.maxVer.map(Long.box).orNull,
      utf8(m.minFam), utf8(m.maxFam),
      utf8(m.minQual), utf8(m.maxQual),
      UTF8String.fromString(m.messageType)))

  /** (rows, bytes, minKey, maxKey) over a file set: totals always;
    * min/max only when EVERY file carries the stat (a file without a
    * min can hold the true minimum — claiming one from the others
    * would be wrong; same conservatism as the pruner's missing-stats
    * rule). An empty set is 0 rows with no keys. */
  private[cell] def foldStats(files: Seq[CellFileMeta])
      : (Long, Long, Option[Array[Byte]], Option[Array[Byte]]) = {
    val rows = files.map(_.rowCount).sum
    val bytes = files.map(_.bytes).sum
    val mins = files.flatMap(_.minKey)
    val maxs = files.flatMap(_.maxKey)
    val (lo, hi) =
      if (files.nonEmpty && mins.size == files.size && maxs.size == files.size)
        (Some(mins.min(GraftCell.UnsignedBytesOrd)),
         Some(maxs.max(GraftCell.UnsignedBytesOrd)))
      else (None, None)
    (rows, bytes, lo, hi)
  }

  private[cell] def snapshotRows(store: String): Array[InternalRow] =
    GraftCellSnapshot.list(store).map { case (name, pinned, missing) =>
      val stats =
        if (missing.nonEmpty) (null, null, null, null)
        else {
          val (rows, bytes, lo, hi) =
            foldStats(CellFooterCache.filesOf(store, Some(name)))
          (Long.box(rows), Long.box(bytes), utf8(lo), utf8(hi))
        }
      new GenericInternalRow(Array[Any](
        UTF8String.fromString(name),
        pinned.size.toLong, missing.size.toLong,
        stats._1, stats._2, stats._3, stats._4)): InternalRow
    }.toArray

  private[cell] def travelRows(store: String): Array[InternalRow] =
    CellTravelLog.read(store).map { e =>
      new GenericInternalRow(Array[Any](
        UTF8String.fromString(e.kind),
        UTF8String.fromString(e.dir),
        if (e.kind == "retire") Long.box(e.stamp) else null,
        e.at, e.files.size.toLong)): InternalRow
    }.toArray

  private[cell] def indexRows(store: String): Array[InternalRow] =
    // discovery AND sync state both come from GraftCellMaintenance —
    // the same functions the sync verb and the IndexRoute planner rule
    // read (ADVICE r19: the health a user sees must never drift from
    // the predicate the verbs act on). Since r20
    // `rewritten_since_sync = 1` no longer means "sync refuses" but
    // "history was rewritten: the next sync takes the content-level
    // path (or, with the boundary unreadable, refuses for a rebuild)".
    GraftCellMaintenance.indexesOf(store).map { case (idxPath, props) =>
      val d = new java.io.File(idxPath)
      val nRows = CellFooterCache.filesOf(idxPath).map(_.rowCount).sum
      val st = GraftCellMaintenance.idxSyncState(store, idxPath)
      val delta =
        if (st.snapExists) st.deltaDirs.size.toLong
        else CellFooterCache.committedDirs(store).size.toLong
      new GenericInternalRow(Array[Any](
        UTF8String.fromString(d.getName),
        UTF8String.fromString(props.getOrElse("index.family", "")),
        UTF8String.fromString(props.getOrElse("index.qualifier", "")),
        nRows, delta, if (!st.appendOnly) 1 else 0)): InternalRow
    }.toArray

  private[cell] def historyRows(store: String): Array[InternalRow] = {
    val retired = CellRetire.retiredOf(store)
    val dirs = CellFooterCache.committedDirs(store)
      .map(d => (CellManifest.commitStampOf(store, d), d))
      .sorted // commit order; stamps are strictly monotonic per store
    var cum = 0L
    dirs.zipWithIndex.map { case ((stamp, d), i) =>
      val files = CellFooterCache.filesUnder(store, d)
        .filterNot(m => retired.contains(m.path))
      val (rows, bytes, _, _) = foldStats(files)
      cum += rows
      new GenericInternalRow(Array[Any](
        (i + 1).toLong, UTF8String.fromString(d), stamp,
        files.size.toLong, rows, bytes, cum)): InternalRow
    }.toArray
  }
}

/** Read-only DSv2 table for one metadata kind of one store. */
class GraftCellMetaTable(store: String, kind: String)
    extends Table with SupportsRead {
  require(GraftCellMeta.KINDS.contains(kind),
    s"graftcell: unknown metadata table '$kind'")

  override def name(): String = s"graftcell.`$store`.$kind"
  override def schema(): StructType = GraftCellMeta.schemaOf(kind)
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => kind match {
      case "files" =>
        new GraftCellMetaFilesScan(store,
          CellRetire.retiredOf(store).toArray.sorted)
      case "snapshots" =>
        GraftCellMetaLocalScan(GraftCellMeta.SNAPSHOTS_SCHEMA,
          GraftCellMeta.snapshotRows(store), s"snapshots of $store")
      case "history" =>
        GraftCellMetaLocalScan(GraftCellMeta.HISTORY_SCHEMA,
          GraftCellMeta.historyRows(store), s"history of $store")
      case "travel_log" =>
        GraftCellMetaLocalScan(GraftCellMeta.TRAVEL_SCHEMA,
          GraftCellMeta.travelRows(store), s"travel log of $store")
      case "indexes" =>
        GraftCellMetaLocalScan(GraftCellMeta.INDEXES_SCHEMA,
          GraftCellMeta.indexRows(store), s"indexes of $store")
    }
}

/** Driver-computed result for the O(#snapshots) / O(#generations)
  * kinds — same shape as the procedure summaries. */
final case class GraftCellMetaLocalScan(schema: StructType,
                                        rowSet: Array[InternalRow],
                                        desc: String) extends LocalScan {
  override def rows(): Array[InternalRow] = rowSet
  override def readSchema(): StructType = schema
  override def description(): String = s"GraftCellMetaScan($desc)"
}

/** One partition per committed dir: the reader parses ITS dir's
  * manifest executor-side (`retired` — the store's transient intent
  * set, O(in-flight replacements) — rides along for the subtraction
  * every batch read applies). */
final case class GraftCellMetaFilesPartition(store: String, dirName: String,
                                             retired: Array[String])
    extends InputPartition

class GraftCellMetaFilesScan(store: String, retired: Array[String])
    extends Scan with Batch with Serializable {
  override def readSchema(): StructType = GraftCellMeta.FILES_SCHEMA
  override def toBatch: Batch = this
  override def description(): String = s"GraftCellMetaScan(files of $store)"

  override def planInputPartitions(): Array[InputPartition] =
    CellFooterCache.committedDirs(store)
      .map(d => GraftCellMetaFilesPartition(store, d, retired): InputPartition)
      .toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
        val part = p.asInstanceOf[GraftCellMetaFilesPartition]
        val gone = part.retired.toSet
        val it = CellFooterCache.filesUnder(part.store, part.dirName)
          .filterNot(m => gone.contains(m.path))
          .sortBy(_.path)
          .map(m => GraftCellMeta.fileRow(part.dirName, m))
          .iterator
        new PartitionReader[InternalRow] {
          private var cur: InternalRow = _
          override def next(): Boolean =
            if (it.hasNext) { cur = it.next(); true } else false
          override def get(): InternalRow = cur
          override def close(): Unit = ()
        }
      }
    }
}
