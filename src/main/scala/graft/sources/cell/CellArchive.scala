package graft.sources.cell

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.commons.io.FileUtils

/** The HBase ARCHIVE directory (r17 — closes the long-documented
  * "no-archive-dir caveat"): maintenance rewrites that retire region
  * files a snapshot still pins MOVE them under `<store>/_archive/<dir>/`
  * instead of deleting them, so snapshots survive compaction, truncate,
  * restore, split, merge and normalize — exactly HBase's semantics,
  * where compaction moves snapshot-referenced HFiles to the archive and
  * a snapshot stays restorable until it is explicitly dropped.
  *
  * Cost model (the 100 TB argument): archiving is METADATA ONLY — a
  * retired generation's files move by hard links (same-filesystem,
  * zero data bytes), a data-less marker dir by ONE directory rename;
  * the archive holds inodes the snapshots already logically owned.
  * Space is reclaimed by [[sweep]] the moment the last pinning
  * snapshot is dropped (`drop_snapshot` / `vacuum` both sweep).
  *
  * Granularity: snapshot manifests are file-granular since r17 (v2 —
  * see [[GraftCellSnapshot]]), so a later snapshot of a dir that lost
  * files to a split never resurrects the archived originals alongside
  * their split replacements. Legacy v1 manifests (dir names only) pin
  * whole dirs: their archived dirs resolve wholesale, and only when the
  * live dir is gone.
  *
  * Row-level DML (UPDATE / DELETE / MERGE) archives too: every DML
  * rewrite publishes its rows in a fresh batch dir and retires the
  * files it replaced, so (dir, name) is WRITE-ONCE on every store,
  * legacy manifest-less dirs included, and a snapshot pinning the old
  * name resolves its creation-time content through the archive
  * exactly as it does across a compaction. */
/** APPEND-ONLY structural-history log (`_travel_log.jsonl` at the
  * store root) — what makes `TIMESTAMP AS OF` TOTAL-OR-LOUD over
  * maintenance and DML history (r18, VERDICT r17 #1). Two event kinds,
  * one JSON line each, FILE-granular:
  *
  *  - RETIRE `{"event":"retire","dir":d,"stamp":s,"supersededAt":S,
  *    "files":[names]}`: the named files of generation `d` (committed
  *    at `s`) left the live view when the generation committed at `S`
  *    replaced them. [[CellRetire.complete]] — the one completion path
  *    of every replacing publish (major and minor compaction, truncate,
  *    the restore orphan cut, split, merge, UPDATE/MERGE and DELETE) —
  *    writes one per victim dir, before it archives or deletes
  *    anything.
  *  - REVIVE `{"event":"revive","dir":d,"at":R,"files":[names]}`: a
  *    restore hard-linked the named archived files back into the live
  *    view at commit stamp `R`.
  *
  * A file's VIEW MEMBERSHIP at time `ts` is then event-sourced: live
  * from its dir's commit stamp, out at each retire `supersededAt ≤
  * ts`, back in at each revive `at ≤ ts` (stamps are strictly
  * monotonic per store, so the replay order is total). A clock travel
  * to `ts` materializes every member file — live dirs serve their
  * members directly, retired members resolve from `_archive/<d>/` —
  * and REFUSES LOUDLY when a member resolves NOWHERE (an unpinned
  * retirement, or an archive swept by drop_snapshot/vacuum), never
  * silently reading a THINNED table. Logs written by older releases
  * may also hold BORN events (`{"event":"born","dir":d,"at":B,
  * "files":[names]}`: an in-dir ranged-DELETE rename product that
  * first existed at `B`); they still replay, but nothing writes them
  * any more. O(structural rewrites) small lines of driver-side
  * metadata; read only by `loadTable(ident, ts)`, never on a data
  * path. */
object CellTravelLog {
  val NAME = "_travel_log.jsonl"
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** `kind` ∈ retire | revive | born (born: older logs only). `stamp`
    * is the generation's commit stamp (retire events only; -1
    * otherwise), `at` the event time. */
  final case class Event(kind: String, dir: String, stamp: Long,
                         at: Long, files: Seq[String]) {
    def revive: Boolean = kind == "revive"
  }

  private def write(store: String, node: com.fasterxml.jackson.databind
      .node.ObjectNode): Unit = {
    val line = (mapper.writeValueAsString(node) + "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    Files.write(new File(store, NAME).toPath, line,
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
    ()
  }

  /** Log a retirement: `files` of generation `dirName` (committed at
    * `stamp`) replaced by the generation committed at `supersededAt`.
    * An empty file set (a data-less marker generation) loses nothing
    * and is not logged. */
  def retire(store: String, dirName: String, stamp: Long,
             files: Seq[String], supersededAt: Long): Unit = {
    if (files.isEmpty) return
    val node = mapper.createObjectNode()
    node.put("event", "retire")
    node.put("dir", dirName)
    node.put("stamp", stamp)
    node.put("supersededAt", supersededAt)
    val arr = node.putArray("files")
    files.sorted.foreach(arr.add)
    write(store, node)
  }

  /** Log a restore revival: archived `files` of `dirName` re-entered
    * the live view at commit stamp `at`. */
  def revive(store: String, dirName: String, files: Seq[String],
             at: Long): Unit = {
    if (files.isEmpty) return
    val node = mapper.createObjectNode()
    node.put("event", "revive")
    node.put("dir", dirName)
    node.put("at", at)
    val arr = node.putArray("files")
    files.sorted.foreach(arr.add)
    write(store, node)
  }

  /** All events, in append (= stamp) order. For retire events `stamp`
    * is the generation's commit stamp and `at` the superseding stamp;
    * for revive/born events `stamp` is unknown (-1) and `at` the
    * event's own stamp. */
  def read(store: String): Seq[Event] = {
    val f = new File(store, NAME)
    if (!f.exists()) return Nil
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.readAllLines(f.toPath).asScala.toSeq
      .filter(_.nonEmpty).map { line =>
        val n = mapper.readTree(line)
        val files = n.get("files").elements().asScala.map(_.asText()).toSeq
        val kind = n.get("event").asText()
        if (kind == "retire")
          Event(kind, n.get("dir").asText(), n.get("stamp").asLong(),
                n.get("supersededAt").asLong(), files)
        else
          Event(kind, n.get("dir").asText(), -1L,
                n.get("at").asLong(), files)
      }
  }
}

/** The `TIMESTAMP AS OF` resolution algorithm (r18) — factored out of
  * the catalog so the random-maintenance model check can property-gate
  * it directly against a tracked view history. See
  * [[CellTravelLog]] for the event model and
  * `GraftCellCatalog.loadTable(ident, ts)` for the SQL entry point. */
object GraftCellTimeTravel {
  /** Event-sourced pin set of the view as of `timestamp` (micros):
    * live generations (wholesale or name-sliced), plus archived
    * members restricted to their retirement-time names. Refuses
    * loudly (IllegalArgumentException) on a pre-history timestamp or
    * when any member file resolves neither live nor archived — never
    * a silently partial pin set. */
  def resolve(store: String, timestamp: Long,
              tableLabel: String): Seq[CellGenPin] =
    resolveWith(store, timestamp, tableLabel, CellTravelLog.read(store))

  /** [[resolve]] over a PRE-PARSED event list — callers probing many
    * timestamps (hbck's lost-window report) parse the log once and
    * replay per stamp in memory (ADVICE r18). */
  private[cell] def resolveWith(store: String, timestamp: Long,
      tableLabel: String,
      events: Seq[CellTravelLog.Event]): Seq[CellGenPin] = {
    val live = CellFooterCache.committedDirs(store)
    val liveStamps: Map[String, Long] =
      live.map(d => d -> CellManifest.commitStampOf(store, d)).toMap
    val retires = events.filter(_.kind == "retire")
    val known = liveStamps.values ++ retires.map(_.stamp)
    require(known.nonEmpty,
      s"graftcell: table $tableLabel has no committed data to time-travel")
    val first = known.min
    require(timestamp >= first,
      s"graftcell: TIMESTAMP AS OF $timestamp precedes the table's " +
      s"first commit ($first)")
    def namesUnder(d: String): Seq[String] =
      CellFooterCache.filesUnder(store, d)
        .map(m => new File(m.path).getName)
    // per-file OUT/IN toggles in append (= stamp) order
    val eventsByFile: Map[(String, String), Seq[(Long, String)]] =
      events.flatMap(e => e.files.map(n => ((e.dir, n), (e.at, e.kind))))
        .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    // a generation's birth: its live stamp, else its retire-entry stamp
    val birth: Map[String, Long] =
      retires.map(e => e.dir -> e.stamp).toMap ++ liveStamps
    def member(d: String, n: String): Boolean =
      eventsByFile.get((d, n)) match {
        case None => birth.get(d).exists(_ <= timestamp)
        case Some(evs) => evs.filter(_._1 <= timestamp).lastOption match {
          case Some((_, kind)) => kind != "retire"
          case None =>
            // no event yet at ts: alive since the dir's commit — unless
            // the name was BORN later (an older release's in-dir
            // DELETE rename product, logged after ts)
            birth.get(d).exists(_ <= timestamp) &&
              !evs.exists(_._2 == "born")
        }
      }
    val pins = Seq.newBuilder[CellGenPin]
    // live generations: wholesale when every current file is a member
    live.filter(d => liveStamps(d) <= timestamp).sorted.foreach { d =>
      val names = namesUnder(d)
      val kept = names.filter(n => member(d, n))
      if (kept.size == names.size) pins += CellGenPin(d)
      else if (kept.nonEmpty) pins += CellGenPin(d, Some(kept.toSet))
    }
    // retired members resolve from the archive — or the travel refuses
    val liveNames: Map[String, Set[String]] =
      live.map(d => d -> namesUnder(d).toSet).toMap
    val missing = Seq.newBuilder[String]
    val archPins = scala.collection.mutable.LinkedHashMap
      .empty[String, Set[String]]
    eventsByFile.keys.toSeq.sorted.foreach { case (d, n) =>
      val liveHere = liveNames.get(d).exists(_.contains(n))
      if (!liveHere && member(d, n)) {
        if (namesUnder(s"${CellArchive.DIR}/$d").contains(n))
          archPins(d) = archPins.getOrElse(d, Set.empty) + n
        else missing += s"$d/$n"
      }
    }
    val lost = missing.result()
    require(lost.isEmpty,
      s"graftcell: TIMESTAMP AS OF $timestamp cannot be reconstructed — " +
      "these region files were part of the view then but were retired " +
      "by later maintenance/DML and resolve neither live nor archived " +
      "(retirement unpinned by any snapshot, or archive swept): " +
      s"${lost.sorted.mkString(", ")}; refusing a silently partial read")
    archPins.foreach { case (d, ns) =>
      pins += CellGenPin(s"${CellArchive.DIR}/$d", Some(ns))
    }
    pins.result()
  }
}

object CellArchive {
  val DIR = "_archive"

  def root(store: String): File = new File(store, DIR)
  def dirOf(store: String, dirName: String): File =
    new File(root(store), dirName)

  /** Union pin map across every snapshot manifest of the store:
    * dir name -> None (some v1 manifest pins the WHOLE dir) or
    * Some(pinned file names). O(snapshots) small JSON reads. */
  def pins(store: String): Map[String, Option[Set[String]]] = {
    val perSnap = GraftCellSnapshot.names(store)
      .map(n => GraftCellSnapshot.pinned(store, n))
    perSnap.foldLeft(Map.empty[String, Option[Set[String]]]) { (acc, m) =>
      m.foldLeft(acc) {
        case (a, (d, names)) => a.get(d) match {
          case Some(None)                    => a // whole-dir pin absorbs
          case _ if names.isEmpty            => a + (d -> None)
          case Some(Some(prev))              => a + (d -> Some(prev ++ names.get))
          case None                          => a + (d -> names)
        }
      }
    }
  }

  /** Archive the named files of live dir `dirName` (hard links + a
    * folded archive manifest), IF any snapshot pins the dir. Must run
    * BEFORE the live files are deleted. Idempotent: an existing link is
    * replaced (re-archiving after a crash, or a revived file retired
    * again, both land on the current inode). Callers retiring MANY
    * dirs pass a pre-computed `pinned` map so the snapshot manifests
    * parse once per operation, not once per dir. */
  def archiveRetiring(store: String, dirName: String,
                      names: Set[String],
                      pinned: Map[String, Option[Set[String]]] = null)
      : Unit = {
    val p = if (pinned != null) pinned else pins(store)
    if (names.isEmpty || !p.contains(dirName)) return
    val metas = CellFooterCache.filesUnder(store, dirName)
      .filter(m => names.contains(new File(m.path).getName))
    if (metas.isEmpty) return
    val dst = dirOf(store, dirName)
    dst.mkdirs()
    metas.foreach { m =>
      val link = new File(dst, new File(m.path).getName)
      if (link.exists()) link.delete()
      Files.createLink(link.toPath, new File(m.path).toPath)
    }
    foldManifest(store, dirName, dst, metas)
  }

  /** Retire a whole live dir whose listed files [[CellRetire.complete]]
    * already retired (a data-less truncate/restore marker, an empty
    * batch, unlisted leftovers): ONE rename into the archive when a
    * snapshot pins it and no archive dir of that name exists yet, a
    * plain delete otherwise. Its one caller passes the pin map it
    * computed once per intent. */
  def retireDir(store: String, dir: File,
                pinned: Map[String, Option[Set[String]]]): Unit = {
    val dst = dirOf(store, dir.getName)
    if (pinned.contains(dir.getName) && !dst.exists()) {
      root(store).mkdirs()
      Files.move(dir.toPath, dst.toPath, StandardCopyOption.ATOMIC_MOVE)
      ()
    } else FileUtils.deleteQuietly(dir)
  }

  /** Merge `metas` (paths still pointing at the LIVE dir; only names
    * matter — the manifest stores names) into the archive dir's
    * manifest, creating it if absent. The commit stamp is the source
    * dir's (an archive entry is the old generation, not a new one). */
  private def foldManifest(store: String, dirName: String, dst: File,
                           metas: Seq[CellFileMeta]): Unit = {
    val srcStamp = CellManifest.read(new File(store, dirName))
      .map(_.committedAtMicros)
    val existing = CellManifest.read(dst)
    val stamp = existing.map(_.committedAtMicros)
      .orElse(srcStamp)
      .getOrElse(new File(store, dirName).lastModified() * 1000L)
    val prior = existing.map(_.files).getOrElse(Nil)
    val newNames = metas.map(m => new File(m.path).getName).toSet
    CellManifest.write(dst, stamp, prior.filterNot(m =>
      newNames.contains(new File(m.path).getName)) ++ metas)
  }

  /** File metas a snapshot resolves for one pinned dir: live entries
    * first (a live name always wins — sound because (dir, name) is
    * write-once: no rewrite reuses a name), archived entries
    * for pinned names no longer live. `names` = None is a legacy v1
    * whole-dir pin: the live dir wins wholesale; only a fully retired
    * dir falls back to its archive copy. */
  def resolvePinned(store: String, dirName: String,
                    names: Option[Set[String]]): Seq[CellFileMeta] = {
    val liveDir = new File(store, dirName)
    val live = if (liveDir.isDirectory)
      CellFooterCache.filesUnder(store, dirName) else Nil
    val liveKept = names.fold(live)(ns =>
      live.filter(m => ns.contains(new File(m.path).getName)))
    val archDir = dirOf(store, dirName)
    if (!archDir.isDirectory) return liveKept
    val liveNames = liveKept.map(m => new File(m.path).getName).toSet
    val archived = names match {
      case Some(ns) =>
        CellFooterCache.filesUnder(store, s"$DIR/$dirName")
          .filter { m =>
            val n = new File(m.path).getName
            ns.contains(n) && !liveNames.contains(n)
          }
      case None =>
        if (liveDir.isDirectory) Nil
        else CellFooterCache.filesUnder(store, s"$DIR/$dirName")
    }
    liveKept ++ archived
  }

  /** Reclaim every archived file no remaining snapshot pins (HBase's
    * HFile cleaner over the archive). Returns files reclaimed. Also
    * drops archive dirs emptied by the sweep and folds the archive
    * manifests, so [[unreferenced]] converges to zero. */
  def sweep(store: String): Long = {
    val pinnedDirs = pins(store)
    var reclaimed = 0L
    Option(root(store).listFiles).getOrElse(Array.empty)
      .filter(_.isDirectory).foreach { d =>
        pinnedDirs.get(d.getName) match {
          case Some(None) => // whole-dir pin: keep everything
          case Some(Some(names)) =>
            val dead = Option(d.listFiles).getOrElse(Array.empty)
              .filter(f => f.isFile && f.getName.endsWith(".parquet") &&
                           !names.contains(f.getName))
            dead.foreach { f => f.delete(); reclaimed += 1 }
            if (dead.nonEmpty)
              CellManifest.removeEntries(d, dead.map(_.getPath).toSet)
            if (!hasData(d)) FileUtils.deleteQuietly(d)
          case None =>
            reclaimed += Option(d.listFiles).getOrElse(Array.empty)
              .count(f => f.isFile && f.getName.endsWith(".parquet")).toLong
            FileUtils.deleteQuietly(d)
        }
      }
    if (!hasData(root(store)) &&
        Option(root(store).listFiles).exists(_.isEmpty)) {
      root(store).delete()
      ()
    }
    CellFooterCache.invalidate(store)
    reclaimed
  }

  /** Count of archived files no snapshot pins — the report-only side of
    * [[sweep]], surfaced by `CALL hbck`. Zero on a healthy store. */
  def unreferenced(store: String): Long = {
    val pinnedDirs = pins(store)
    Option(root(store).listFiles).getOrElse(Array.empty)
      .filter(_.isDirectory).map { d =>
        pinnedDirs.get(d.getName) match {
          case Some(None) => 0L
          case Some(Some(names)) =>
            Option(d.listFiles).getOrElse(Array.empty)
              .count(f => f.isFile && f.getName.endsWith(".parquet") &&
                          !names.contains(f.getName)).toLong
          case None =>
            Option(d.listFiles).getOrElse(Array.empty)
              .count(f => f.isFile && f.getName.endsWith(".parquet")).toLong
        }
      }.sum
  }

  private def hasData(d: File): Boolean =
    Option(d.listFiles).getOrElse(Array.empty).exists(f =>
      (f.isFile && f.getName.endsWith(".parquet")) ||
      (f.isDirectory && hasData(f)))
}
