package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.cell.{CellArchive, CellFooterCache, CellManifest,
                           CellRetire, CellTravelLog, GraftCell,
                           GraftCellMaintenance, GraftCellSnapshot}

/** Gates the r17 SNAPSHOT ARCHIVE (SURVEY §2.14 — the HBase archive
  * dir): maintenance rewrites move snapshot-pinned region files under
  * `_archive/<dir>/` instead of deleting them, snapshot reads resolve
  * live-then-archive at FILE granularity (v2 manifests), restore
  * revives archived generations, and the sweep reclaims archived files
  * the moment nothing pins them. The whole-dir paths (compaction,
  * truncate) are gated by the flipped restore/clone/truncate cases in
  * CellConnectorSpec; this suite covers the file-granular half. */
class ArchiveSpec extends AnyFunSuite {
  private lazy val s = SparkFixture.spark

  test("partial retirement (split): the pinned file archives, a LATER " +
       "snapshot never double-counts, restore revives in place") {
    import scala.collection.JavaConverters._
    val root = java.nio.file.Files
      .createTempDirectory("graft_arch_spec_").toString
    s.conf.set("spark.sql.catalog.graftarch",
               classOf[graft.sources.cell.GraftCellCatalog].getName)
    s.conf.set("spark.sql.catalog.graftarch.root", root)
    s.sql("""CREATE TABLE graftarch.t (rowkey STRING, family STRING,
             qualifier STRING, version BIGINT, value STRING)
             USING graftcell""")
    val store = s"$root/t"
    // ONE batch dir holding TWO region files (roll at 13 rows), so a
    // split can retire one file while the dir stays live — the
    // file-granular archive case a whole-dir rename can't model
    s.createDataFrame(
      ('a' to 'z').map(c =>
        org.apache.spark.sql.Row(c.toString, "d", "q", 1L, s"v$c")).asJava,
      GraftCell.SCHEMA).coalesce(1)
      .write.format("graftcell").option("maxRowsPerFile", 13)
      .mode("append").save(store)
    val d0 = CellFooterCache.committedDirs(store)
    assert(d0.size == 1 && CellFooterCache.filesOf(store).size == 2)
    val batch = d0.head
    def readAll() = s.sql(
      "SELECT rowkey, value FROM graftarch.t ORDER BY rowkey")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    def readAsOf(n: String) = s.sql(
      s"""SELECT rowkey, value FROM graftarch.t VERSION AS OF '$n'
          ORDER BY rowkey""")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val original = readAll()
    s.sql("CALL graftarch.snapshot('t', 's1')")
    // split inside the FIRST file's span: that file is retired (its
    // halves publish in a new dir), the second file stays live
    s.sql("CALL graftarch.split_region('t', 'g')").collect()
    assert(CellFooterCache.committedDirs(store).size == 2)
    // the retired file went to the archive, pinned by s1
    val arch = CellArchive.dirOf(store, batch)
    assert(arch.isDirectory &&
      Option(arch.listFiles).get.exists(_.getName.endsWith(".parquet")),
      "the split victim must be archived (s1 pins its dir)")
    // s1 reads the ORIGINAL generation through the archive
    assert(readAsOf("s1") == original)
    assert(GraftCellSnapshot.list(store).find(_._1 == "s1")
      .exists(_._3.isEmpty), "s1 must report zero missing")
    // a snapshot taken AFTER the split pins the post-split file set —
    // file-granular v2 pins mean the archived original is NOT
    // resurrected next to its split halves (no double count)
    s.sql("CALL graftarch.snapshot('t', 's2')")
    assert(readAsOf("s2") == original, "s2 must read exactly once")
    assert(readAll() == original)
    // restore s1: the split dir (pinned by s2) archives as it retires,
    // and the archived victim hard-links BACK into its still-live dir
    s.sql("CALL graftarch.restore_snapshot('t', 's1')").collect()
    assert(readAll() == original, "restore must revive the archived file")
    assert(CellFooterCache.filesOf(store).size == 2, "pre-split layout")
    // BOTH snapshots remain fully readable after the restore
    assert(readAsOf("s1") == original)
    assert(readAsOf("s2") == original)
    // the live manifest refolded exactly (no footer fallback)
    val opens = CellFooterCache.footerOpens.get()
    CellFooterCache.invalidate(store)
    assert(CellFooterCache.filesOf(store).size == 2)
    assert(CellFooterCache.footerOpens.get() == opens,
      "revive must fold the manifest, not fall back to footers")
    // drops sweep exactly what the dropped snapshot alone pinned
    s.sql("CALL graftarch.drop_snapshot('t', 's1')")
    assert(readAsOf("s2") == original, "s2 must survive s1's drop")
    s.sql("CALL graftarch.drop_snapshot('t', 's2')")
    assert(CellArchive.unreferenced(store) == 0L)
    assert(!CellArchive.root(store).exists(),
      "an empty archive must be removed by the sweep")
    assert(readAll() == original)
    s.sql("DROP TABLE graftarch.t")
  }

  test("crash-completing repair archives maintenance victims exactly " +
       "like the inline path (archive-flagged retire intent)") {
    import scala.collection.JavaConverters._
    val root = java.nio.file.Files
      .createTempDirectory("graft_archrep_spec_").toString
    val store = s"$root/store"
    def put(keys: (String, String)*): Unit = s.createDataFrame(
      keys.map { case (rk, v) =>
        org.apache.spark.sql.Row(rk, "d", "q", 1L, v) }.asJava,
      GraftCell.SCHEMA)
      .write.format("graftcell").mode("append").save(store)
    put("a" -> "1")
    put("b" -> "2")
    GraftCellSnapshot.create(store, "pin")
    val ds = CellFooterCache.committedDirs(store)
    val victimDir = ds.find(d => CellFooterCache.filesUnder(store, d)
      .exists(_.minKey.exists(new String(_) == "a"))).get
    val victim = CellFooterCache.filesUnder(store, victimDir).head.path
    val carrier = new java.io.File(store, ds.filterNot(_ == victimDir).head)
    // the mid-window crash state of a MAINTENANCE publish: intent
    // written, victim not yet deleted
    CellRetire.write(carrier, Seq(victim))
    CellFooterCache.invalidate(store)
    CellRetire.repair(store)
    // the victim was archived before deletion — "pin" still reads it
    assert(!new java.io.File(victim).exists())
    val asOf = CellFooterCache.filesOf(store, Some("pin"))
    assert(asOf.exists(_.path.contains("_archive")),
      s"repair must archive the pinned victim: ${asOf.map(_.path)}")
    val rows = s.read.format("graftcell").option("snapshot", "pin")
      .load(store).collect().map(_.getString(0)).sorted.toSeq
    assert(rows == Seq("a", "b"),
      "the snapshot must read the repaired-away generation in full")
    val victim2 = CellFooterCache.filesUnder(store, victimDir)
      .headOption.map(_.path)
    assert(victim2.isEmpty, "victim dir was emptied and dropped")

    // The publish and CALL repair finish a commit through the same
    // code, so they must leave the same store. Pre-state: a data-less
    // marker dir (an earlier truncate) and two generations pinned by a
    // snapshot, {a} and {b, c}. Five replacing publishes: an
    // overwrite, a minor and a major compaction and a rebucket replace
    // all three dirs, the marker included; a ranged DELETE replaces
    // both data files (emptying {a}, keeping c of {b, c}) and leaves
    // the marker live.
    // For each, copy "<t>i" runs it straight through; copy "<t>r" is
    // planted in the state it leaves right after its rename — the new
    // batch dir carrying the retire intent the publish writes, nothing
    // retired yet — and completed by CALL repair.
    val root2 = java.nio.file.Files
      .createTempDirectory("graft_archrep_cat_").toString
    s.conf.set("spark.sql.catalog.graftrep",
               classOf[graft.sources.cell.GraftCellCatalog].getName)
    s.conf.set("spark.sql.catalog.graftrep.root", root2)
    def names(dir: java.io.File, rel: String = ""): Seq[String] =
      Option(dir.listFiles).getOrElse(Array.empty).toSeq.flatMap { f =>
        if (f.isDirectory) names(f, rel + f.getName + "/")
        else Seq(rel + f.getName)
      }.sorted
    def bytes(f: java.io.File) =
      new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    def state(st: String): Seq[(String, Any)] = {
      CellFooterCache.invalidate(st)
      val live = CellFooterCache.committedDirs(st)
      val arch = CellArchive.root(st)
      Seq(
        "live dirs" -> live,
        "live files" -> live.map(d => names(new java.io.File(st, d))),
        "manifests" -> (live.map(new java.io.File(st, _)) ++
            Option(arch.listFiles).getOrElse(Array.empty).toSeq)
          .map(d => bytes(new java.io.File(d, CellManifest.NAME))),
        "archived" -> names(arch),
        "travel log" -> CellTravelLog.read(st)
          .map(e => (e.kind, e.dir, e.files)).sortBy(_.toString),
        "hbck" -> GraftCellMaintenance.hbck(st))
    }
    def write(st: String, mode: String, keys: String*): Unit =
      s.createDataFrame(
        keys.map(rk => org.apache.spark.sql.Row(rk, "d", "q", 1L, rk)).asJava,
        GraftCell.SCHEMA).coalesce(1)
        .write.format("graftcell").mode(mode).save(st)
    def read(st: String): Seq[String] =
      s.read.format("graftcell").load(st).collect()
        .map(_.getString(0)).sorted.toSeq
    def crashCompare(t: String, want: Seq[String], replacesMarker: Boolean)
                    (publish: String => Unit): Unit = {
      s.sql(s"""CREATE TABLE graftrep.${t}i (rowkey STRING, family STRING,
               qualifier STRING, version BIGINT, value STRING)
               USING graftcell""")
      val inl = s"$root2/${t}i"
      val rep = s"$root2/${t}r"
      write(inl, "append", "a")
      GraftCellSnapshot.create(inl, "old") // keeps the truncated window
      GraftCellMaintenance.truncate(inl)
      val marker = CellFooterCache.committedDirs(inl)
      assert(marker.size == 1 && CellFooterCache.filesUnder(inl, marker.head)
        .isEmpty, s"truncate must leave one data-less marker dir: $marker")
      write(inl, "append", "a")
      write(inl, "append", "b", "c")
      GraftCellSnapshot.create(inl, "pin")
      val before = CellFooterCache.committedDirs(inl)
      assert(before.size == 3)
      val filesBefore = CellFooterCache.filesOf(inl).map(_.path)
      assert(filesBefore.size == 2, s"one file per generation: $filesBefore")
      // the intent each publish writes: overwrite and compaction
      // list the replaced dirs (their files follow); DELETE lists only
      // its victims, and a victim dir drops once it holds no data
      val intentDirs = if (replacesMarker) before else Nil
      val expectReplaced =
        if (replacesMarker) before else before.diff(marker)
      val expectLive = if (replacesMarker) 1L else 2L
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(inl), new java.io.File(rep))
      publish(inl)
      CellFooterCache.invalidate(inl)
      assert(read(inl) == want, s"$t: wrong rows after the publish")
      val dest = CellFooterCache.committedDirs(inl).diff(before)
      assert(dest.size == 1, s"$t must publish one dir: $dest")
      val replacedFiles = filesBefore
        .diff(CellFooterCache.filesOf(inl).map(_.path))
      assert(replacedFiles == filesBefore,
        s"$t must replace both data files: $replacedFiles")
      val replacedDirs = before.diff(CellFooterCache.committedDirs(inl))
      assert(replacedDirs == expectReplaced,
        s"$t must retire $expectReplaced, retired $replacedDirs")
      val destDir = new java.io.File(rep, dest.head)
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(inl, dest.head), destDir)
      CellRetire.write(destDir, filesBefore.map(_.replace(inl, rep)),
                       intentDirs)
      CellFooterCache.invalidate(rep)
      assert(GraftCellMaintenance.hbck(rep)._4 == 1L, "planted intent")
      // batch readers already exclude what the intent lists
      assert(read(rep) == want,
        s"$t: a read before repair must return each row once")
      val r = s.sql(s"CALL graftrep.repair('${t}r')").collect()(0)
      assert(r.getLong(0) == 1L && r.getLong(1) == 2L,
        s"$t: repair must complete the planted intent: $r")
      val (a, b) = (state(inl), state(rep))
      a.zip(b).foreach { case ((what, x), (_, y)) =>
        assert(x == y, s"$t: $what differs: inline $x, repair $y") }
      val got = a.toMap
      assert(got("hbck") == ((expectLive, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L)),
        s"$t: hbck must be clean: ${got("hbck")}")
      // what the publish replaced retired with it: the pinned
      // generations (and, for overwrite and compaction, the
      // data-less marker) moved to the archive; the publish's dir (and,
      // for DELETE, the marker) is live
      assert(got("live dirs") == (before.diff(expectReplaced) ++ dest).sorted)
      assert(expectReplaced.forall(d => CellArchive.dirOf(inl, d).isDirectory),
        s"$t: every pinned replaced dir must be archived: ${got("archived")}")
      assert(got("travel log").asInstanceOf[Seq[(String, String, Seq[String])]]
        .count(_._1 == "retire") == 3,
        s"$t: one retire event per data generation: ${got("travel log")}")
      s.sql(s"DROP TABLE graftrep.${t}i")
    }
    crashCompare("ovw", Seq("a", "b"), replacesMarker = true)(
      write(_, "overwrite", "a", "b"))
    crashCompare("mnr", Seq("a", "b", "c"), replacesMarker = true) { st =>
      assert(GraftCellMaintenance.minorCompact(s, st, Long.MaxValue).size == 3)
      assert(GraftCellSnapshot.names(st).sorted == Seq("old", "pin"),
        "minor compaction must leave no work snapshot")
      assert(!Option(new java.io.File(st).list).get.exists(n =>
        n.startsWith("_tmp_") || n.startsWith("_stage_")),
        "minor compaction must leave no tmp store or stage dir")
    }
    crashCompare("maj", Seq("a", "b", "c"), replacesMarker = true) { st =>
      GraftCellMaintenance.majorCompact(s, st)
      assert(!Option(new java.io.File(st).list).get.exists(n =>
        n.startsWith("_tmp_") || n.startsWith("_stage_")),
        "major compaction must leave no tmp or stage dir")
    }
    crashCompare("rb", Seq("a", "b", "c"), replacesMarker = true) { st =>
      GraftCellMaintenance.rebucket(s, st, 2)
      assert(!Option(new java.io.File(st).list).get.exists(n =>
        n.startsWith("_tmp_") || n.startsWith("_stage_")),
        "rebucket must leave no tmp or stage dir")
    }
    crashCompare("del", Seq("c"), replacesMarker = false) { st =>
      new graft.sources.cell.GraftCellTable(st).deleteWhere(
        Array[org.apache.spark.sql.sources.Filter](
          org.apache.spark.sql.sources.LessThan("rowkey", "c")))
      assert(!Option(new java.io.File(st).list).get.exists(n =>
        n.startsWith("_tmp_") || n.startsWith("_stage_")),
        "DELETE must leave no tmp or stage dir")
    }
  }

  test("export and minor compaction honor the archive: a compacted-away " +
       "snapshot exports byte-faithfully; minor victims archive") {
    import scala.collection.JavaConverters._
    val root = java.nio.file.Files
      .createTempDirectory("graft_archexp_spec_").toString
    val store = s"$root/store"
    def put(keys: (String, String)*): Unit = s.createDataFrame(
      keys.map { case (rk, v) =>
        org.apache.spark.sql.Row(rk, "d", "q", 1L, v) }.asJava,
      GraftCell.SCHEMA)
      .write.format("graftcell").mode("append").save(store)
    put("a" -> "1", "b" -> "2")
    put("c" -> "3")
    GraftCellSnapshot.create(store, "pin")
    // MINOR compaction merges both small generations — the victims are
    // pinned, so they must move to the archive, and the snapshot keeps
    // reading the ORIGINAL generations (not the merged twin)
    graft.sources.cell.GraftCellMaintenance.minorCompact(
      s, store, Long.MaxValue)
    assert(CellFooterCache.committedDirs(store).size == 1,
      "minor compaction must merge to one generation")
    val pinRead = s.read.format("graftcell").option("snapshot", "pin")
      .load(store).collect().map(r => (r.getString(0), r.getString(4)))
      .sorted.toSeq
    assert(pinRead == Seq(("a", "1"), ("b", "2"), ("c", "3")),
      s"the snapshot must survive minor compaction: $pinRead")
    assert(CellFooterCache.filesOf(store, Some("pin"))
      .forall(_.path.contains("_archive")),
      "every pinned file should now resolve through the archive")
    // EXPORT the archived snapshot to an external destination: the
    // backup is standalone, readable, equal to the pinned content, and
    // media-independent (no inode shared with the archive)
    val dest = s"$root/backup"
    val (dirs, files, bytes) =
      GraftCellSnapshot.export(s, store, "pin", dest)
    assert(dirs == 2L && files >= 2L && bytes > 0L,
      s"export summary: ($dirs, $files, $bytes)")
    val back = s.read.format("graftcell").load(dest)
      .collect().map(r => (r.getString(0), r.getString(4))).sorted.toSeq
    assert(back == pinRead, "the export must equal the archived snapshot")
    def inos(dir: java.io.File): Set[Long] =
      Option(dir.listFiles).getOrElse(Array.empty)
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
        .map(f => java.nio.file.Files.getAttribute(f.toPath, "unix:ino")
          .asInstanceOf[Number].longValue()).toSet ++
      Option(dir.listFiles).getOrElse(Array.empty)
        .filter(_.isDirectory).flatMap(inos).toSet
    assert((inos(new java.io.File(dest)) &
            inos(CellArchive.root(store))).isEmpty,
      "an export must copy bytes, never share inodes with the archive")
  }

  test("model check: through RANDOM maintenance sequences every snapshot " +
       "reads exactly its pinned content and the live view its own") {
    // The archive's end-to-end contract as one property: run a seeded
    // random sequence of maintenance ops (append / major / minor /
    // split / normalize / snapshot / restore / drop) against a model
    // that tracks the EXPECTED row set of the live view and of every
    // snapshot; after every op, reality must equal the model for all
    // of them. Appends use unique rowkeys at one version, so every op
    // in the set is content-neutral by contract — any divergence is an
    // archive/retire/revive bug, not semantics. r18 adds ranged DELETE
    // to the op set: the model mutates ONLY the live view, so any
    // snapshot observing the delete is an MVCC bug. r18 also
    // property-gates TOTAL-OR-LOUD clock travel: the model records the
    // live view at every commit stamp, and after every op a TIMESTAMP
    // AS OF sweep over ALL recorded stamps must return EXACTLY the
    // view recorded at that stamp or refuse loudly — a travel that
    // returns anything else (the pre-r18 silent thinning) fails here.
    import scala.collection.JavaConverters._
    import graft.sources.cell.GraftCellMaintenance
    (1 to 2).foreach { seed =>
      val rng = new scala.util.Random(seed)
      val root = java.nio.file.Files
        .createTempDirectory(s"graft_archmodel_${seed}_").toString
      val store = s"$root/store"
      var nextKey = 0
      var live = Set.empty[(String, String)]
      val snaps = scala.collection.mutable.LinkedHashMap
        .empty[String, Set[(String, String)]]
      var snapId = 0
      def append(): Unit = {
        val rows = (1 to 1 + rng.nextInt(4)).map { _ =>
          nextKey += 1
          (f"k$nextKey%05d", s"v$nextKey")
        }
        s.createDataFrame(rows.map { case (k, v) =>
            org.apache.spark.sql.Row(k, "d", "q", 1L, v) }.asJava,
          GraftCell.SCHEMA)
          .write.format("graftcell").mode("append").save(store)
        live ++= rows
      }
      def readSet(snap: Option[String]): Set[(String, String)] = {
        val r = snap.fold(s.read.format("graftcell"))(n =>
          s.read.format("graftcell").option("snapshot", n))
        r.load(store).select("rowkey", "value").collect()
          .map(x => (x.getString(0), x.getString(1))).toSet
      }
      import graft.sources.cell.{CellManifest, CellTravelLog,
                                 GraftCellTimeTravel}
      // the view recorded at each point of structural history: the
      // newest commit stamp, or the latest travel-log event stamp when
      // that is newer (a restore logs its revival at its own stamp,
      // while the revived dirs keep their old commit stamps)
      def latestViewStamp(): Long = {
        val commits = CellFooterCache.committedDirs(store)
          .map(d => CellManifest.commitStampOf(store, d)).max
        math.max(commits,
          CellTravelLog.read(store).map(_.at).maxOption
            .getOrElse(Long.MinValue))
      }
      val viewAt = scala.collection.mutable.LinkedHashMap.empty[
        Long, Set[(String, String)]]
      def readPins(ts: Long): Set[(String, String)] = {
        val pins = GraftCellTimeTravel.resolve(store, ts, "model")
        val metas = CellFooterCache.filesOf(store, None, Some(pins))
        if (metas.isEmpty) Set.empty
        else s.read.parquet(metas.map(_.path): _*)
          .select("rowkey", "value").collect()
          .map(x => (x.getString(0), x.getString(1))).toSet
      }
      def travelSweep(step: Int, what: String): Unit =
        viewAt.foreach { case (ts, want) =>
          scala.util.Try(readPins(ts)) match {
            case scala.util.Success(got) =>
              assert(got == want,
                s"seed $seed step $step ($what): TIMESTAMP AS OF $ts " +
                s"returned a WRONG view (${got.size} rows vs the " +
                s"recorded ${want.size}) — total-or-loud violated")
            case scala.util.Failure(e) =>
              assert(e.getMessage != null &&
                     (e.getMessage.contains("cannot be reconstructed") ||
                      e.getMessage.contains("precedes")),
                s"seed $seed step $step ($what): travel to $ts failed " +
                s"with a non-loud error: $e")
          }
        }
      // r19: the INDEX LIFECYCLE rides the same model. Invariant
      // checked after EVERY op: the index table equals the mapping of
      // the view at its last build/sync — base maintenance never
      // touches it, and sync either lands it on the current view or
      // refuses loudly naming the rebuild verb (never a silently
      // wrong index).
      val idxStore = s"$root/idx"
      var idxView: Option[Set[(String, String)]] = None
      def idxMapping(v: Set[(String, String)]): Set[(String, String)] =
        v.map { case (k, value) => (value + "\u0000" + k, k) }
      def readIdx(): Set[(String, String)] =
        s.read.format("graftcell").load(idxStore)
          .select("rowkey", "value").collect()
          .map(x => (x.getString(0), x.getString(1))).toSet
      def idxCheck(step: Int, what: String): Unit =
        idxView.foreach { v =>
          assert(readIdx() == idxMapping(v),
            s"seed $seed step $step ($what): index diverged from the " +
            "mapping of its last built/synced view")
        }
      append() // never operate on an empty store
      viewAt(latestViewStamp()) = live
      (1 to 10).foreach { step =>
        val op = rng.nextInt(10)
        val what = op match {
          case 0 => append(); "append"
          case 1 => GraftCellMaintenance.majorCompact(s, store); "major"
          case 2 =>
            GraftCellMaintenance.minorCompact(s, store, Long.MaxValue)
            "minor"
          case 3 =>
            val k = f"k${1 + rng.nextInt(math.max(nextKey, 1))}%05d"
            GraftCellMaintenance.splitRegion(s, store, k); s"split@$k"
          case 4 =>
            snapId += 1
            GraftCellSnapshot.create(store, s"s$snapId")
            snaps(s"s$snapId") = live; s"snapshot s$snapId"
          case 5 if snaps.nonEmpty =>
            val n = snaps.keys.toSeq(rng.nextInt(snaps.size))
            GraftCellSnapshot.restore(store, n)
            live = snaps(n); s"restore $n"
          case 6 if snaps.nonEmpty =>
            val n = snaps.keys.toSeq(rng.nextInt(snaps.size))
            GraftCellSnapshot.drop(store, n)
            snaps.remove(n); s"drop $n"
          case 7 if live.size >= 2 =>
            // ranged DELETE (r18 MVCC op): mutates the LIVE model only;
            // never the smallest key, so the store never empties
            val keys = live.map(_._1).toSeq.sorted
            val k = keys(1 + rng.nextInt(keys.size - 1))
            new graft.sources.cell.GraftCellTable(store).deleteWhere(
              Array[org.apache.spark.sql.sources.Filter](
                org.apache.spark.sql.sources.GreaterThanOrEqual("rowkey", k)))
            live = live.filterNot(_._1 >= k)
            s"delete>=$k"
          case 8 =>
            // (re)build the global secondary index on (d, q): the
            // index then covers exactly the current view
            GraftCellMaintenance.buildIndex(s, store, idxStore, "d", "q")
            idxView = Some(live); "build_index"
          case 9 if idxView.isDefined =>
            // sync is TOTAL-OR-LOUD: success lands the index on the
            // current view; refusal must name the rebuild verb, and
            // the rebuild must recover — no third outcome
            scala.util.Try(GraftCellMaintenance.syncIndex(
                s, store, idxStore, "d", "q")) match {
              case scala.util.Success(_) =>
                idxView = Some(live); "sync_index"
              case scala.util.Failure(e) =>
                assert(e.getMessage != null &&
                       e.getMessage.contains("build_index"),
                  s"seed $seed step $step: sync refusal must name the " +
                  s"rebuild verb: $e")
                GraftCellMaintenance.buildIndex(s, store, idxStore,
                                                "d", "q")
                idxView = Some(live); "sync_index refused -> rebuild"
            }
          case _ => append(); "append"
        }
        assert(readSet(None) == live,
          s"seed $seed step $step ($what): live view diverged from model")
        snaps.foreach { case (n, want) =>
          assert(readSet(Some(n)) == want,
            s"seed $seed step $step ($what): snapshot $n diverged")
        }
        // record the view at the current history point and sweep
        // EVERY recorded stamp: exact reconstruction or loud refusal,
        // never a silently wrong answer — through appends, compactions,
        // splits, normalizes, restores, drops AND ranged DELETEs
        viewAt(latestViewStamp()) = live
        travelSweep(step, what)
        idxCheck(step, what)
      }
      // teardown: dropping every snapshot (incl. the index's sync
      // snapshot) reclaims the whole archive
      snaps.keys.toSeq.foreach(GraftCellSnapshot.drop(store, _))
      GraftCellSnapshot.names(store).filter(_.startsWith("__idx_sync_"))
        .foreach(GraftCellSnapshot.drop(store, _))
      assert(CellArchive.unreferenced(store) == 0L)
      assert(!CellArchive.root(store).exists(),
        s"seed $seed: archive must be empty once nothing pins it")
      assert(readSet(None) == live)
    }
  }

  test("legacy v1 snapshot manifests keep dir-granular semantics " +
       "through the archive (whole-dir resolve, live dir wins)") {
    import scala.collection.JavaConverters._
    val root = java.nio.file.Files
      .createTempDirectory("graft_archv1_spec_").toString
    val store = s"$root/store"
    def put(keys: (String, String)*): Unit = s.createDataFrame(
      keys.map { case (rk, v) =>
        org.apache.spark.sql.Row(rk, "d", "q", 1L, v) }.asJava,
      GraftCell.SCHEMA)
      .write.format("graftcell").mode("append").save(store)
    put("a" -> "1")
    val d = CellFooterCache.committedDirs(store).head
    // createPinned writes the legacy dir-name array format
    GraftCellSnapshot.createPinned(store, "old", Seq(d))
    assert(GraftCellSnapshot.pinned(store, "old") == Map(d -> None))
    // live dir present: resolves live, archive ignored
    assert(CellFooterCache.filesOf(store, Some("old")).size == 1)
    // archive the whole dir (as a compaction would), drop the live one
    CellArchive.retireDir(store, new java.io.File(store, d),
                          CellArchive.pins(store))
    CellFooterCache.invalidate(store)
    assert(!new java.io.File(store, d).exists())
    // the v1 pin resolves the archived dir wholesale — still readable
    val metas = CellFooterCache.filesOf(store, Some("old"))
    assert(metas.size == 1 && metas.head.path.contains("_archive"))
    assert(GraftCellSnapshot.list(store) ==
           Seq(("old", Seq(d), Seq.empty[String])))
  }

  test("TIMESTAMP AS OF is total-or-loud over maintenance history (r18): " +
       "archived windows reconstruct exactly, lost windows refuse loudly") {
    import scala.collection.JavaConverters._
    import graft.sources.cell.{CellManifest, CellTravelLog}
    val root = java.nio.file.Files
      .createTempDirectory("graft_ttl_spec_").toString
    s.conf.set("spark.sql.catalog.graftttl",
               classOf[graft.sources.cell.GraftCellCatalog].getName)
    s.conf.set("spark.sql.catalog.graftttl.root", root)
    s.sql("""CREATE TABLE graftttl.t (rowkey STRING, family STRING,
             qualifier STRING, version BIGINT, value STRING)
             USING graftcell""")
    val store = s"$root/t"
    def put(r: Range): Unit = s.createDataFrame(
      r.map(i => org.apache.spark.sql.Row(f"k$i%03d", "d", "q", 1L, s"v$i"))
        .asJava, GraftCell.SCHEMA)
      .write.format("graftcell").mode("append").save(store)
    def newest(): Long = CellFooterCache.committedDirs(store)
      .map(d => CellManifest.commitStampOf(store, d)).max
    def travel(ts: Long) = s.sql(
      s"""SELECT rowkey FROM graftttl.t
          TIMESTAMP AS OF timestamp_micros(${ts}L) ORDER BY rowkey""")
      .collect().map(_.getString(0)).toSeq
    put(1 to 10) // era 1
    s.sql("CALL graftttl.snapshot('t', 'keep')") // pins era 1
    val t1 = newest()
    put(11 to 20) // era 2 — unpinned
    val t2 = newest()
    // minor compaction merges both eras: era 1 archives (pinned),
    // era 2 dies
    s.sql(s"CALL graftttl.compact_minor('t', ${Long.MaxValue}L)")
    val t3 = newest()
    // 1. the minor-compacted window reconstructs EXACTLY through the
    //    archive — the pre-r18 silent-partial path, now total
    assert(travel(t1) == (1 to 10).map(i => f"k$i%03d"),
      "travel into the compacted window must return the exact era-1 view")
    // 2. era 2's window is LOST (unpinned retirement) — loud refusal,
    //    naming the missing files, never a thinned read
    val e2 = intercept[Exception] { travel(t2) }
    assert(e2.getMessage.contains("cannot be reconstructed") &&
           e2.getMessage.contains("refusing a silently partial read"),
      s"era-2 travel must refuse loudly: ${e2.getMessage}")
    // 3. at/past the merge the full live view reads as always
    assert(travel(t3) == (1 to 20).map(i => f"k$i%03d"))
    // 4. pre-creation timestamps still refuse
    val e0 = intercept[Exception] { travel(t1 - 1000000L) }
    assert(e0.getMessage.contains("precedes"), e0.getMessage)
    // 5. REVIVE interleaving never double-counts: snapshot the merged
    //    generation, restore 'keep' (revives era 1, retires the merged
    //    gen into the archive via 'post') — travel into the merged
    //    window still reads the MERGED view once, not era1+merged
    s.sql("CALL graftttl.snapshot('t', 'post')")
    s.sql("CALL graftttl.restore_snapshot('t', 'keep')").collect()
    assert(s.sql("SELECT count(*) FROM graftttl.t").collect()(0).getLong(0)
             == 10L, "restore must rewind to era 1")
    assert(travel(t3) == (1 to 20).map(i => f"k$i%03d"),
      "travel into the merged window after a restore must read the " +
      "merged generation exactly once (no revive double-count)")
    assert(travel(t1) == (1 to 10).map(i => f"k$i%03d"),
      "the era-1 window still reconstructs after the restore")
    // 6. sweeping the archive turns a reconstructable window LOUD:
    //    dropping 'post' reclaims the merged generation's archive (the
    //    revived era-1 dirs stay live, so the current view is intact),
    //    and the t3 travel that just worked now refuses instead of
    //    silently thinning
    s.sql("CALL graftttl.drop_snapshot('t', 'post')")
    s.sql("CALL graftttl.drop_snapshot('t', 'keep')")
    val e3 = intercept[Exception] { travel(t3) }
    assert(e3.getMessage.contains("cannot be reconstructed"),
      s"a swept archive must refuse, not thin: ${e3.getMessage}")
    // the travel log recorded retire AND revive events
    val evs = CellTravelLog.read(store)
    assert(evs.exists(!_.revive) && evs.exists(_.revive),
      s"expected retire and revive events, got $evs")
    s.sql("DROP TABLE graftttl.t")
  }

  test("MVCC under row-level DML (r18): a snapshot reads its " +
       "creation-time content through DELETE and UPDATE; the sweep " +
       "reclaims the DML archive") {
    import scala.collection.JavaConverters._
    val root = java.nio.file.Files
      .createTempDirectory("graft_archmvcc_spec_").toString
    s.conf.set("spark.sql.catalog.graftmvcc",
               classOf[graft.sources.cell.GraftCellCatalog].getName)
    s.conf.set("spark.sql.catalog.graftmvcc.root", root)
    s.sql("""CREATE TABLE graftmvcc.t (rowkey STRING, family STRING,
             qualifier STRING, version BIGINT, value STRING)
             USING graftcell""")
    val store = s"$root/t"
    s.createDataFrame(
      ('a' to 'z').map(c =>
        org.apache.spark.sql.Row(c.toString, "d", "q", 1L, s"v$c")).asJava,
      GraftCell.SCHEMA).coalesce(1)
      .write.format("graftcell").option("maxRowsPerFile", 13)
      .mode("append").save(store)
    def readAll() = s.sql(
      "SELECT rowkey, value FROM graftmvcc.t ORDER BY rowkey")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    def readAsOf(n: String) = s.sql(
      s"""SELECT rowkey, value FROM graftmvcc.t VERSION AS OF '$n'
          ORDER BY rowkey""")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val original = readAll()
    val namesBefore = CellFooterCache.filesOf(store)
      .map(m => new java.io.File(m.path).getName).toSet
    val t0 = CellFooterCache.committedDirs(store)
      .map(d => graft.sources.cell.CellManifest.commitStampOf(store, d)).max
    s.sql("CALL graftmvcc.snapshot('t', 'iso')")
    val deleteVictim = {
      val vs = CellFooterCache.filesOf(store)
        .filter(_.maxKey.exists(k => new String(k, "UTF-8") >= "w"))
      assert(vs.size == 1, s"one DELETE victim expected: $vs")
      new java.io.File(vs.head.path).getName
    }
    // ranged DELETE — the deleteWhere path: the victim's survivors
    // publish in a new batch dir, the pinned original archives
    s.sql("DELETE FROM graftmvcc.t WHERE rowkey >= 'w'")
    // group-replace UPDATE — the COW path: victims retire into the
    // archive, the rewritten rows publish as a new batch dir
    s.sql("""UPDATE graftmvcc.t SET value = concat(value, '*')
             WHERE rowkey < 'c'""")
    val mutated = original.filterNot(_._1 >= "w").map {
      case (k, v) if k < "c" => (k, v + "*")
      case kv                => kv
    }
    assert(readAll() == mutated, "live view must see the DML")
    // the snapshot is ISOLATED: creation-time content, exactly
    assert(readAsOf("iso") == original,
      "snapshot must not observe row-level DML (MVCC)")
    assert(GraftCellSnapshot.list(store).find(_._1 == "iso")
      .exists(_._3.isEmpty), "iso must report zero missing")
    // (dir, name) is write-once: no surviving live file kept a
    // rewritten original's name with different content — the DELETE
    // victim's name is gone from the live set and lives in the archive
    val liveNames = CellFooterCache.filesOf(store)
      .map(m => new java.io.File(m.path).getName).toSet
    val retiredNames = namesBefore -- liveNames
    assert(retiredNames.nonEmpty, "DML must retire the old names")
    assert(!liveNames.contains(deleteVictim),
      s"the DELETE victim's name must leave the live set: $liveNames")
    assert(CellFooterCache.filesOf(store).exists(m =>
        new java.io.File(m.path).getParentFile.getName
          .startsWith("batch_delete_")),
      "the ranged DELETE must publish its survivors in a new dir")
    assert(CellArchive.root(store).isDirectory,
      "pinned DML victims must be archived")
    // the manifest swap stays exact: a cold re-plan opens no footers
    val opens = CellFooterCache.footerOpens.get()
    CellFooterCache.invalidate(store)
    CellFooterCache.filesOf(store)
    assert(CellFooterCache.footerOpens.get() == opens,
      "DML rewrite left the manifest stale (footer fallback)")
    // CLOCK TRAVEL through the DML (r18 — total-or-loud over ranged
    // DELETE too): the pre-DML window reconstructs the ORIGINAL view
    // from the archive ('iso' pins the originals, so the rename
    // retired them into _archive/), never post-DELETE content
    val t0View = s.sql(
      s"""SELECT rowkey, value FROM graftmvcc.t
          TIMESTAMP AS OF timestamp_micros(${t0}L) ORDER BY rowkey""")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(t0View == original,
      "travel into the pre-DML window must reconstruct the original")
    // a snapshot taken AFTER the DML pins the mutated view
    s.sql("CALL graftmvcc.snapshot('t', 'post')")
    assert(readAsOf("post") == mutated)
    // and survives a major compaction via the archive, independently
    s.sql("CALL graftmvcc.compact('t')")
    assert(readAsOf("iso") == original, "iso must survive compaction")
    assert(readAsOf("post") == mutated, "post must survive compaction")
    // restore rolls the table back THROUGH the DML (r18)
    s.sql("CALL graftmvcc.restore_snapshot('t', 'iso')").collect()
    assert(readAll() == original, "restore must undo row-level DML")
    // drops reclaim exactly what the dropped snapshots alone pinned
    s.sql("CALL graftmvcc.drop_snapshot('t', 'iso')")
    s.sql("CALL graftmvcc.drop_snapshot('t', 'post')")
    assert(CellArchive.unreferenced(store) == 0L)
    s.sql("DROP TABLE graftmvcc.t")
  }

  test("upgrade_manifests retires the legacy caveat (r19): a pre-manifest " +
       "layout upgrades, then snapshots isolate through DELETE and UPDATE") {
    import scala.collection.JavaConverters._
    import graft.sources.cell.CellTravelLog
    val root = java.nio.file.Files
      .createTempDirectory("graft_upg_spec_").toString
    s.conf.set("spark.sql.catalog.graftupg",
               classOf[graft.sources.cell.GraftCellCatalog].getName)
    s.conf.set("spark.sql.catalog.graftupg.root", root)
    s.sql("""CREATE TABLE graftupg.t (rowkey STRING, family STRING,
             qualifier STRING, version BIGINT, value STRING)
             USING graftcell""")
    val store = s"$root/t"
    // LEGACY layout: plain parquet written behind the catalog's back,
    // two region dirs, no manifests anywhere
    s.createDataFrame(
      ('a' to 'z').map(c =>
        org.apache.spark.sql.Row(c.toString, "d", "q", 1L, s"v$c")).asJava,
      GraftCell.SCHEMA)
      .withColumn("region",
        org.apache.spark.sql.functions.expr("CASE WHEN rowkey < 'n' THEN 0 ELSE 1 END"))
      .repartition(org.apache.spark.sql.functions.col("region"))
      .sortWithinPartitions("region", "rowkey")
      .write.mode("append").partitionBy("region").parquet(store)
    CellFooterCache.invalidate(store)
    def readAll() = s.sql(
      "SELECT rowkey, value FROM graftupg.t ORDER BY rowkey")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val original = readAll()
    assert(original.size == 26)
    val hb = s.sql("CALL graftupg.hbck('t')").collect()(0)
    assert(hb.getAs[Long]("legacy_dirs") == 2L, hb.toString)
    // upgrade: exact footers → manifests, mtime commit stamps
    val up = s.sql("CALL graftupg.upgrade_manifests('t')").collect()(0)
    assert(up.getAs[Long]("dirs_upgraded") == 2L, up.toString)
    assert(s.sql("CALL graftupg.hbck('t')").collect()(0)
      .getAs[Long]("legacy_dirs") == 0L)
    // the manifest is EXACT: a cold re-plan opens no footers
    val opens = CellFooterCache.footerOpens.get()
    CellFooterCache.invalidate(store)
    assert(readAll() == original)
    assert(CellFooterCache.footerOpens.get() == opens,
      "upgraded manifests must serve planning without footer opens")
    // MVCC now holds: snapshot isolates through DELETE + UPDATE
    s.sql("CALL graftupg.snapshot('t', 'iso')")
    val t0 = CellFooterCache.committedDirs(store)
      .map(d => CellManifest.commitStampOf(store, d)).max
    s.sql("DELETE FROM graftupg.t WHERE rowkey >= 'w'")
    s.sql("UPDATE graftupg.t SET value = concat(value, '*') WHERE rowkey < 'c'")
    val mutated = original.filterNot(_._1 >= "w").map {
      case (k, v) if k < "c" => (k, v + "*")
      case kv                => kv
    }
    assert(readAll() == mutated)
    assert(s.sql("SELECT rowkey, value FROM graftupg.t VERSION AS OF 'iso' ORDER BY rowkey")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq == original,
      "the upgraded store must give snapshot isolation through DML")
    // clock travel into the pre-DML window reconstructs the original
    val t0View = s.sql(
      s"""SELECT rowkey, value FROM graftupg.t
          TIMESTAMP AS OF timestamp_micros(${t0}L) ORDER BY rowkey""")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(t0View == original,
      "pre-DML clock travel must hold on an upgraded store")
    assert(CellTravelLog.read(store).nonEmpty,
      "DML on the upgraded store must log travel events")
    s.sql("DROP TABLE graftupg.t")
  }

  test("nextCommitStamp anchors on travel-log event stamps (r19): a " +
       "backwards clock step can never commit below a logged rename") {
    import graft.sources.cell.CellTravelLog
    val store = java.nio.file.Files
      .createTempDirectory("graft_stamp_spec_").toString
    // a retire event's superseding stamp outlives its dir once later
    // maintenance retires that dir too — only the log persists it, as
    // it does an older release's in-dir DELETE rename stamp. Simulate
    // one logged far ahead of the wall clock
    // (= the wall clock stepped back after it): the next commit stamp
    // must still land strictly above it, or the log's replay order
    // breaks (ADVICE r18).
    val future = System.currentTimeMillis() * 1000L + 3600L * 1000000L
    CellTravelLog.retire(store, "batch_x", future - 10, Seq("f.parquet"),
                         future)
    assert(CellManifest.nextCommitStamp(store) > future,
      "commit stamps must fold the travel log's max event stamp into " +
      "their monotonicity floor")
  }

  test("a ranged DELETE on legacy manifest-less dirs commits through the " +
       "replacing publish: right rows, clean hbck, isolated snapshot") {
    import scala.collection.JavaConverters._
    val root = java.nio.file.Files
      .createTempDirectory("graft_legdel_spec_").toString
    s.conf.set("spark.sql.catalog.graftlegdel",
               classOf[graft.sources.cell.GraftCellCatalog].getName)
    s.conf.set("spark.sql.catalog.graftlegdel.root", root)
    s.sql("""CREATE TABLE graftlegdel.t (rowkey STRING, family STRING,
             qualifier STRING, version BIGINT, value STRING)
             USING graftcell""")
    val store = s"$root/t"
    // LEGACY layout: plain parquet written behind the catalog's back,
    // one file in each of two region dirs, no manifests anywhere
    s.createDataFrame(
      ('a' to 'z').map(c =>
        org.apache.spark.sql.Row(c.toString, "d", "q", 1L, s"v$c")).asJava,
      GraftCell.SCHEMA)
      .withColumn("region",
        org.apache.spark.sql.functions.expr("CASE WHEN rowkey < 'n' THEN 0 ELSE 1 END"))
      .repartition(org.apache.spark.sql.functions.col("region"))
      .sortWithinPartitions("region", "rowkey")
      .write.mode("append").partitionBy("region").parquet(store)
    CellFooterCache.invalidate(store)
    def readAll(sql: String = "SELECT rowkey, value FROM graftlegdel.t") =
      s.sql(s"$sql ORDER BY rowkey")
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val original = readAll()
    assert(original.size == 26)
    assert(CellFooterCache.committedDirs(store) == Seq("region=0", "region=1"))
    assert(CellFooterCache.committedDirs(store).forall(d =>
      CellManifest.read(new java.io.File(store, d)).isEmpty))
    s.sql("CALL graftlegdel.snapshot('t', 'pre')")
    // one victim per region: region=0 keeps a..b, region=1 keeps y..z
    s.sql("DELETE FROM graftlegdel.t WHERE rowkey >= 'c' AND rowkey < 'y'")
    val deleted = original.filter { case (k, _) => k < "c" || k >= "y" }
    assert(readAll() == deleted, "DELETE must leave exactly the survivors")
    val dirs = CellFooterCache.committedDirs(store)
    assert(dirs.size == 1 && dirs.head.startsWith("batch_delete_"),
      s"both emptied legacy dirs retire; one DELETE dir holds the rest: $dirs")
    val h = s.sql("CALL graftlegdel.hbck('t')").collect()(0)
    assert(Seq("missing_files", "orphan_files", "pending_intents",
               "invalid_snapshots", "stale_tmp_dirs",
               "unreferenced_archived", "lost_travel_windows",
               "legacy_dirs").forall(h.getAs[Long](_) == 0L),
      s"hbck must be clean: $h")
    // legacy dirs gain isolation: the snapshot reads its creation-time
    // content through the archive
    assert(readAll("SELECT rowkey, value FROM graftlegdel.t VERSION AS OF 'pre'")
      == original, "the pre-DELETE snapshot must read the original rows")
    s.sql("DROP TABLE graftlegdel.t")
  }

  test("an older release's in-dir rewrite intent fails loudly: hbck " +
       "counts it, CALL repair refuses naming the dir") {
    import scala.collection.JavaConverters._
    val root = java.nio.file.Files
      .createTempDirectory("graft_oldint_spec_").toString
    s.conf.set("spark.sql.catalog.graftoldint",
               classOf[graft.sources.cell.GraftCellCatalog].getName)
    s.conf.set("spark.sql.catalog.graftoldint.root", root)
    s.sql("""CREATE TABLE graftoldint.t (rowkey STRING, family STRING,
             qualifier STRING, version BIGINT, value STRING)
             USING graftcell""")
    val store = s"$root/t"
    s.createDataFrame(
      Seq(org.apache.spark.sql.Row("a", "d", "q", 1L, "va")).asJava,
      GraftCell.SCHEMA)
      .write.format("graftcell").mode("append").save(store)
    val dir = new java.io.File(store, CellFooterCache.committedDirs(store).head)
    java.nio.file.Files.write(
      new java.io.File(dir, "_rewrite_intent.json").toPath,
      """{"stamp":1,"renames":[]}""".getBytes("UTF-8"))
    val h = s.sql("CALL graftoldint.hbck('t')").collect()(0)
    assert(h.getAs[Long]("pending_intents") == 1L,
      s"hbck must count the legacy rewrite intent: $h")
    val e = intercept[Exception](s.sql("CALL graftoldint.repair('t')").collect())
    val ise = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .collectFirst { case x: IllegalStateException => x }
    assert(ise.exists(x => x.getMessage.contains(dir.getPath) &&
                           x.getMessage.contains("older release")),
      s"repair must refuse with an IllegalStateException naming the dir: $e")
    s.sql("DROP TABLE graftoldint.t")
  }
}
