package graft

import java.io.File

import scala.collection.immutable.ListMap

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.cell.{CellArchive, CellFileMeta, CellFooterCache,
                           CellManifest, CellTravelLog, GraftCellCatalog,
                           GraftCellMaintenance, GraftCellSnapshot}

/** Scale evidence for the graftcell store and the dedup pipeline:
  * `sbt "runMain graft.Scale <scenario>|all [sfDir]"` prints one
  * markdown table per scenario. Each scenario grows a synthetic store
  * (or reads `sfDir`, default sf0.1) and shows whether a cost tracks
  * the work it should (the matching slice, the delta, the window, the
  * metadata) rather than the store; it asserts the invariants its
  * timings rest on. Every scenario runs in its own session clone and
  * its own scratch root under /tmp/graft_scale, which is deleted
  * before and after it. Recorded results, each with the commit that
  * produced it, are in SEEKSCALE.md. */
object Scale {
  private type Scenario = (SparkSession, String, String) => Unit

  private val scenarios: ListMap[String, Scenario] = ListMap(
    "manifest" -> manifest, "dml" -> dml, "snapshot" -> snapshot,
    "incremental" -> incremental, "adopt" -> adopt,
    "normalize" -> normalize, "meta" -> meta, "archive" -> archive,
    "fuzzy" -> fuzzy, "travel" -> travel, "index" -> index,
    "route" -> route, "spj" -> spj, "substr" -> substr,
    "compact" -> compact)

  def main(args: Array[String]): Unit = {
    val chosen = args.headOption match {
      case Some("all")                      => scenarios.keys.toSeq
      case Some(n) if scenarios.contains(n) => Seq(n)
      case _ =>
        System.err.println("usage: runMain graft.Scale " +
          s"<${scenarios.keys.mkString("|")}|all> [sfDir]")
        sys.exit(1)
    }
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.local()
    chosen.foreach { name =>
      val root = s"/tmp/graft_scale/$name"
      fresh(root)
      println(s"## $name (local[${spark.sparkContext.defaultParallelism}])")
      println()
      scenarios(name)(spark.newSession(), root, sfDir)
      println()
      fresh(root)
    }
    spark.stop()
  }

  /** Deletes the dir and every cached footer under it. */
  private def fresh(dir: String): Unit = {
    FileUtils.deleteQuietly(new File(dir))
    CellFooterCache.invalidate(dir)
  }

  /** Synthetic cells for ids [lo, hi): rowkey `%010d`, family `d`,
    * qualifier `q`, version = id, value sha1(id) unless given. */
  private def cells(spark: SparkSession, lo: Long, hi: Long,
                    value: Column = sha1(col("id").cast("string")))
      : DataFrame =
    spark.range(lo, hi).select(
      format_string("%010d", col("id")).as("rowkey"),
      lit("d").as("family"), lit("q").as("qualifier"),
      col("id").as("version"), value.as("value"))

  private def append(df: DataFrame, store: String,
                     maxRowsPerFile: Int = 50): Unit =
    df.write.format("graftcell")
      .option("maxRowsPerFile", maxRowsPerFile.toString)
      .mode("append").save(store)

  private def timed[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val out = body
    ((System.nanoTime() - t0) / 1e9, out)
  }

  /** Fastest of k runs, with that run's result. */
  private def minOf[T](k: Int)(body: => T): (Double, T) =
    (1 to k).map(_ => timed(body)).minBy(_._1)

  private val RegionFiles = "regionFiles: (\\d+)/(\\d+)".r

  /** Planned/total region files of every graftcell scan in the plan. */
  private def kn(df: DataFrame): String = {
    val all = RegionFiles.findAllMatchIn(
      df.queryExecution.executedPlan.toString)
      .map(m => s"${m.group(1)}/${m.group(2)}").toSeq
    if (all.isEmpty) "?" else all.mkString(" , ")
  }

  private def header(cols: String*): Unit = {
    println(cols.mkString("| ", " | ", " |"))
    println(cols.map(_ => "---").mkString("|", "|", "|"))
  }

  private def catalog(spark: SparkSession, name: String,
                      root: String): Unit = {
    spark.conf.set(s"spark.sql.catalog.$name",
                   classOf[GraftCellCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.root", root)
  }

  private val CellColumns = """(rowkey STRING, family STRING,
    qualifier STRING, version BIGINT, value STRING) USING graftcell"""

  /** First-plan metadata cost, persisted manifest vs legacy footer
    * sweep, cold (footer cache dropped before every rep). SEEKSCALE.md
    * "Manifest vs footer-sweep first-plan cost (round 15)". */
  private def manifest(spark: SparkSession, root: String,
                       sfDir: String): Unit = {
    header("region files", "manifest cold plan (s)",
           "footer-sweep cold plan (s)", "footer opens")
    Seq(64, 512, 4096).foreach { nFiles =>
      val store = s"$root/s_$nFiles"
      append(cells(spark, 0L, nFiles * 50L), store)
      def coldPlan(): (Double, Long, Int) = {
        val (t, (opens, n)) = (1 to 3).map { _ =>
          CellFooterCache.invalidate(store)
          val o0 = CellFooterCache.footerOpens.get()
          val (t, n) = timed(CellFooterCache.filesOf(store).size)
          (t, (CellFooterCache.footerOpens.get() - o0, n))
        }.minBy(_._1)
        (t, opens, n)
      }
      val (mT, mOpens, mN) = coldPlan()
      require(mOpens == 0, s"manifest path opened $mOpens footers")
      // force the legacy path: drop every manifest
      CellFooterCache.committedDirs(store).foreach { d =>
        new File(new File(store, d), CellManifest.NAME).delete()
      }
      val (fT, fOpens, fN) = coldPlan()
      require(fN == mN && mN >= nFiles,
        s"file counts diverged: manifest=$mN footer=$fN want>=$nFiles")
      println(f"| $mN | $mT%.3f | $fT%.3f | $fOpens |")
      fresh(store)
    }
  }

  /** One-band UPDATE, group filtering on (runtime `_region_file`
    * pruning) vs off (full-table copy-on-write through the same code
    * path), and the same band as a ranged DELETE (footer-pruned
    * `deleteWhere`), each min of 2 on a freshly staged store; the
    * DELETE also reports its Spark jobs. Then 32 successive ranged
    * DELETEs on one store: committed dirs, DELETE seconds and a point
    * get as the DELETEs pile up. SEEKSCALE.md "Group-granular DML vs
    * full-table COW (round 15)". */
  private def dml(spark: SparkSession, root: String,
                  sfDir: String): Unit = {
    val groupFilter =
      "spark.sql.optimizer.runtime.rowLevelOperationGroupFilter.enabled"
    catalog(spark, "graftdml", root)
    header("region files", "group-filtered UPDATE (s)", "files rewritten",
           "full-COW UPDATE (s)", "files rewritten",
           "ranged DELETE (s)", "files rewritten", "jobs")
    Seq(16, 128, 1024).foreach { nFiles =>
      val rows = nFiles * 50L
      def stage(name: String): String = {
        val store = s"$root/$name"
        fresh(store)
        spark.sql(s"DROP TABLE IF EXISTS graftdml.$name")
        spark.sql(s"CREATE TABLE graftdml.$name $CellColumns")
        append(cells(spark, 0L, rows), store)
        store
      }
      def mtimes(store: String): Map[String, Long] =
        CellFooterCache.filesOf(store)
          .map(m => m.path -> new File(m.path).lastModified()).toMap
      // the one-band predicate: rows 100..149 — exactly one region file
      val where = "rowkey >= '0000000100' AND rowkey < '0000000150'"
      // (seconds, files rewritten, jobs) of the fastest of 2 runs
      def measure(name: String, on: Boolean)
                 (stmt: String): (Double, Int, Int) = {
        spark.conf.set(groupFilter, on.toString)
        val best = (1 to 2).map { _ =>
          val store = stage(name)
          val before = mtimes(store)
          val (_, st) = RunCollector(spark).measure(spark.sql(stmt))
          val after = mtimes(store)
          (st.sec, before.count { case (p, m) => !after.get(p).contains(m) },
           st.jobs)
        }.minBy(_._1)
        spark.conf.set(groupFilter, "true")
        best
      }
      def update(name: String, on: Boolean) = measure(name, on)(
        s"UPDATE graftdml.$name SET value = concat(value, '*') WHERE $where")
      val (gT, gN, _) = update(s"t_g$nFiles", on = true)
      val (cT, cN, _) = update(s"t_c$nFiles", on = false)
      val (dT, dN, dJ) = measure(s"t_d$nFiles", on = true)(
        s"DELETE FROM graftdml.t_d$nFiles WHERE $where")
      println(f"| ~$nFiles ($rows rows) | $gT%.2f | $gN | $cT%.2f | $cN | " +
              f"$dT%.2f | $dN | $dJ |")
    }
    // repeated ranged DELETEs on one 128-file store: DELETE k trims 10
    // rows off region file k, so every DELETE rewrites one file and
    // keeps survivors; after it, the committed dirs, its own seconds
    // and a point get (fastest of 3)
    println()
    header("DELETEs so far", "committed dirs", "that DELETE (s)",
           "point get (s)")
    val store = s"$root/t_rep"
    fresh(store)
    spark.sql("DROP TABLE IF EXISTS graftdml.t_rep")
    spark.sql(s"CREATE TABLE graftdml.t_rep $CellColumns")
    append(cells(spark, 0L, 128 * 50L), store)
    (1 to 32).foreach { k =>
      val lo = 50L * k
      val (t, _) = timed(spark.sql(
        f"DELETE FROM graftdml.t_rep WHERE rowkey >= '$lo%010d' " +
        f"AND rowkey < '${lo + 10}%010d'"))
      if (Set(1, 8, 16, 32).contains(k)) {
        val (g, n) = minOf(3)(spark.sql(
          "SELECT value FROM graftdml.t_rep WHERE rowkey = '0000006025'")
          .collect().length)
        require(n == 1, s"the point get must find its row: $n")
        println(f"| $k | ${CellFooterCache.committedDirs(store).size} | " +
                f"$t%.3f | $g%.3f |")
      }
    }
  }

  /** `clone_snapshot` is metadata (hard links + manifest copies): its
    * new disk bytes are manifests only, vs a byte-for-byte copy of the
    * same dirs. SEEKSCALE.md "Snapshot clone: metadata cost, not data
    * cost (round 16)". */
  private def snapshot(spark: SparkSession, root: String,
                       sfDir: String): Unit = {
    def walk(dir: File): Seq[File] =
      Option(dir.listFiles).getOrElse(Array.empty).toSeq.flatMap { f =>
        if (f.isDirectory) walk(f) else Seq(f)
      }
    /** Bytes of files NOT hard-link-shared (nlink == 1) under dir. */
    def freshBytes(dir: File): Long = walk(dir).map { f =>
      val n = java.nio.file.Files
        .getAttribute(f.toPath, "unix:nlink").asInstanceOf[Number].intValue()
      if (n == 1) f.length() else 0L
    }.sum

    header("region files", "store bytes", "clone (s)",
           "fresh bytes (links)", "byte-copy (s)", "fresh bytes (copy)")
    Seq(16, 128, 1024).foreach { nFiles =>
      val rows = nFiles * 50L
      val store = s"$root/src_$nFiles"
      append(cells(spark, 0L, rows), store)
      val storeBytes = CellFooterCache.filesOf(store).map(_.bytes).sum
      GraftCellSnapshot.create(store, "s")

      val linkDest = s"$root/clone_$nFiles"
      new File(linkDest).mkdirs()
      val (linkS, _) = timed(GraftCellSnapshot.clone(store, "s", linkDest))
      val linkFresh = freshBytes(new File(linkDest))

      val copyDest = new File(s"$root/copy_$nFiles")
      val (copyS, _) = timed {
        GraftCellSnapshot.dirs(store, "s").foreach { d =>
          val s0 = new File(store, d)
          val d0 = new File(copyDest, d)
          d0.mkdirs()
          Option(s0.listFiles).getOrElse(Array.empty)
            .filter(_.isFile).foreach { f =>
              java.nio.file.Files.copy(f.toPath, new File(d0, f.getName).toPath)
            }
        }
      }
      val copyFresh = freshBytes(copyDest)
      println(f"| ~$nFiles ($rows rows) | $storeBytes | $linkS%.3f | $linkFresh | $copyS%.3f | $copyFresh |")
    }
  }

  /** `option("sinceSnapshot", s)` prices a periodic consumer by the
    * delta (one 2-file batch), not the store: a content aggregate that
    * pushdown cannot answer, full store vs since-`base`, min of 2.
    * SEEKSCALE.md "Incremental read: O(delta), not O(store) (round 16)". */
  private def incremental(spark: SparkSession, root: String,
                          sfDir: String): Unit = {
    header("store files planned (full)", "files planned (since)",
           "full scan (s)", "since scan (s)")
    Seq(16, 128, 1024).foreach { nFiles =>
      val rows = nFiles * 200L
      val store = s"$root/s_$nFiles"
      append(cells(spark, 0L, rows), store, 200)
      GraftCellSnapshot.create(store, "base")
      append(cells(spark, rows, rows + 400L), store, 200)

      val fullPlanned = CellFooterCache.filesOf(store).size
      val sincePlanned =
        CellFooterCache.filesOf(store, None, None, Some("base")).size
      def agg(df: DataFrame) = df.agg(sum(crc32(col("value")))).collect()
      val (fullS, _) = minOf(2)(agg(
        spark.read.format("graftcell").load(store)))
      val (sinceS, _) = minOf(2)(agg(
        spark.read.format("graftcell").option("sinceSnapshot", "base").load(store)))
      println(f"| $fullPlanned | $sincePlanned | $fullS%.3f | $sinceS%.3f |")
    }
  }

  /** `bulkload` of a FIXED 8-file window costs the same into 16..1024
    * file targets; `hbck` is metadata-only; `verify_rep` self-diff
    * grows with the store, the one column that should. SEEKSCALE.md
    * "Bulkload adoption: O(window), not O(store) (round 16)". */
  private def adopt(spark: SparkSession, root: String,
                    sfDir: String): Unit = {
    // one fixed source window (8 files of 200 rows), shared by every
    // target size — the "last night's batches" being restored
    val src = s"$root/window"
    append(cells(spark, 1000000L, 1001600L), src, 200)

    header("target files before", "bulkload 8-file window (s)",
           "hbck after (s)", "verify_rep self-diff (s)")
    Seq(16, 128, 1024).foreach { nFiles =>
      val store = s"$root/t_$nFiles"
      append(cells(spark, 0L, nFiles * 200L), store, 200)
      val before = CellFooterCache.filesOf(store).size
      val (blS, _) = timed(GraftCellMaintenance.bulkload(spark, store, src))
      assert(CellFooterCache.filesOf(store).size == before + 8,
        "adoption must add exactly the window's files")
      val (hbS, _) = timed {
        val r = GraftCellMaintenance.hbck(store)
        assert((r._2, r._3, r._4, r._5, r._6, r._7, r._8, r._9) ==
                 ((0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L)),
          s"unclean store: $r")
      }
      val (vrS, _) = timed {
        val (ol, or, mm, _) =
          GraftCellMaintenance.verifyRep(spark, store, store)
        assert(ol == 0L && or == 0L && mm == 0L)
      }
      println(f"| $before | $blS%.3f | $hbS%.3f | $vrS%.3f |")
    }
  }

  /** `normalize` is O(anomalous bytes): N uniform files plus ONE
    * oversized region; exactly one victim splits, none merge, seconds
    * flat in N. SEEKSCALE.md "NormalizeScale — normalize cost is
    * O(anomalous bytes), flat across store growth (r16)". */
  private def normalize(spark: SparkSession, root: String,
                        sfDir: String): Unit = {
    // ~2 KB incompressible value: 50 chained sha1s of the id, so data
    // outweighs the ~1 MB/file rowkey-bloom floor
    val blob = concat((1 to 50).map(k =>
      sha1(concat_ws("-", col("id").cast("string"), lit(k.toString)))): _*)
    val partitions = "spark.sql.shuffle.partitions"
    val cpus = spark.conf.get(partitions)

    header("uniform files", "store MB", "normalize (s, min of 2)",
           "files split", "runs merged", "victim MB")
    Seq(16, 128, 1024).foreach { nFiles =>
      val store = s"$root/t$nFiles"
      val (best, (split, merged, storeMb, victimMb)) = (1 to 2).map { _ =>
        fresh(store)
        append(cells(spark, 0L, nFiles * 50L, blob), store)
        // the anomaly: one 2000-row region file (a single write task)
        spark.conf.set(partitions, "1")
        cells(spark, 9000000L, 9002000L, blob)
          .write.format("graftcell").mode("append").save(store)
        spark.conf.set(partitions, cpus)
        val files = CellFooterCache.filesOf(store)
        val (t, (s, r, _, _, _)) =
          timed(GraftCellMaintenance.normalize(spark, store))
        (t, (s, r, files.map(_.bytes).sum / (1 << 20),
             files.map(_.bytes).max / (1 << 20)))
      }.minBy(_._1)
      println(f"| $nFiles | $storeMb | $best%.2f | $split | $merged | $victimMb |")
    }
  }

  /** The `t.files` metadata table plans one partition per committed
    * dir and parses manifests on executors: driver cost O(dirs), zero
    * driver footer opens, cold (min of 3). SEEKSCALE.md "MetaScale —
    * the `t.files` metadata table is flat across 64× file growth". */
  private def meta(spark: SparkSession, root: String,
                   sfDir: String): Unit = {
    catalog(spark, "metascale", root)
    header("dirs", "region files", "files-table fold (s, min of 3)",
           "scan partitions", "driver footer opens")
    Seq(1, 8, 64).foreach { nDirs =>
      val filesPerDir = 64
      val rowsPerDir = filesPerDir * 50L
      spark.sql("DROP TABLE IF EXISTS metascale.t")
      spark.sql(s"CREATE TABLE metascale.t $CellColumns")
      val store = s"$root/t"
      (0 until nDirs).foreach { g =>
        append(cells(spark, g * rowsPerDir, (g + 1) * rowsPerDir), store)
      }
      val nFiles = CellFooterCache.committedDirs(store)
        .map(d => CellFooterCache.filesUnder(store, d).size).sum
      require(nFiles == nDirs * filesPerDir,
        s"expected ${nDirs * filesPerDir} files, got $nFiles")

      val q = "SELECT sum(n_rows) AS r, count(*) AS f FROM metascale.t.files"
      val (best, opens) = (1 to 3).map { _ =>
        CellFooterCache.invalidate(store)
        val o0 = CellFooterCache.footerOpens.get()
        val (t, row) = timed(spark.sql(q).collect().head)
        require(row.getLong(0) == nDirs * rowsPerDir &&
                row.getLong(1) == nFiles.toLong,
          s"files-table fold wrong: $row")
        (t, CellFooterCache.footerOpens.get() - o0)
      }.minBy(_._1)
      val parts = spark.sql("SELECT * FROM metascale.t.files")
        .queryExecution.executedPlan.execute().getNumPartitions
      println(f"| $nDirs | $nFiles | $best%.3f | $parts | $opens |")
    }
  }

  /** Compaction and rebucketing of a 2,000,000-cell base plus six
    * 40,000-cell batches hashed over its key space (minor merges the
    * six batches; `4 -> 8` first rebuckets the store to 4, untimed),
    * each run on a fresh store: min-of-2 seconds with that run's jobs,
    * shuffle bytes and published files. SEEKSCALE.md "CompactScale". */
  private def compact(spark: SparkSession, root: String,
                      sfDir: String): Unit = {
    header("verb", "seconds (min of 2)", "jobs", "shuffle bytes",
           "files published", "cells after")
    def rebucket(n: Int)(st: String): Unit =
      GraftCellMaintenance.rebucket(spark, st, n)
    Seq[(String, String => Unit, (String, Long) => Unit)](
      ("minorCompact", _ => (), (st, base) =>
        GraftCellMaintenance.minorCompact(spark, st, base - 1)),
      ("majorCompact", _ => (), (st, _) =>
        GraftCellMaintenance.majorCompact(spark, st)),
      ("rebucket none -> 4", _ => (), (st, _) => rebucket(4)(st)),
      ("rebucket 4 -> 8", rebucket(4), (st, _) => rebucket(8)(st))
    ).foreach { case (verb, prep, run) =>
      val store = s"$root/${verb.filter(_.isLetterOrDigit)}"
      val (stats, published) = (1 to 2).map { _ =>
        fresh(store)
        cells(spark, 0L, 2000000L).write.format("graftcell").mode("append")
          .save(store)
        val base = CellFooterCache.filesOf(store).map(_.bytes).sum
        (0 until 6).foreach(b => cells(spark, 0L, 40000L).select(
            format_string("%010d", pmod(xxhash64(col("rowkey"), lit(b)),
                                        lit(2000000L))).as("rowkey"),
            col("family"), col("qualifier"),
            (col("version") + 3000000L + b * 40000L).as("version"),
            col("value"))
          .write.format("graftcell").mode("append").save(store))
        prep(store)
        val before = CellFooterCache.committedDirs(store)
        val (_, st) = RunCollector(spark).measure(run(store, base))
        (st, CellFooterCache.committedDirs(store).diff(before)
          .map(CellFooterCache.filesUnder(store, _).size).sum)
      }.minBy(_._1.sec)
      val after = spark.read.format("graftcell").load(store).count()
      println(f"| $verb | ${stats.sec}%.2f | ${stats.jobs} | " +
              s"${stats.shuffleWriteBytes} | $published | $after |")
    }
  }

  /** Snapshot archiving is metadata only: compacting a pinned
    * generation renames it into `_archive/` (every archived file keeps
    * its inode: zero bytes copied), and restore is O(files) hard links.
    * SEEKSCALE.md "ArchiveScale — snapshot archive is metadata-only". */
  private def archive(spark: SparkSession, root: String,
                      sfDir: String): Unit = {
    def inodesOf(metas: Seq[CellFileMeta]): Set[Long] =
      metas.map { m =>
        java.nio.file.Files.getAttribute(new File(m.path).toPath, "unix:ino")
          .asInstanceOf[Number].longValue()
      }.toSet

    header("region files", "compact, no snapshot (s)",
           "compact, archiving (s)", "archived inodes kept",
           "restore from archive (s)", "rows after restore")
    Seq(16, 128, 1024).foreach { nFiles =>
      // baseline: no snapshot — compaction deletes the victims
      val bare = s"$root/bare_$nFiles"
      append(cells(spark, 0L, nFiles * 50L), bare)
      val (bareS, _) = timed(GraftCellMaintenance.majorCompact(spark, bare))

      // archived: a snapshot pins the generation
      val store = s"$root/pin_$nFiles"
      append(cells(spark, 0L, nFiles * 50L), store)
      val preInodes = inodesOf(CellFooterCache.filesOf(store))
      GraftCellSnapshot.create(store, "keep")
      val (archS, _) = timed(GraftCellMaintenance.majorCompact(spark, store))
      val archived = CellFooterCache.filesOf(store, Some("keep"))
        .filter(_.path.contains(CellArchive.DIR))
      val kept = inodesOf(archived).count(preInodes)

      val (restS, _) = timed(GraftCellSnapshot.restore(store, "keep"))
      val rows = spark.read.format("graftcell").load(store).count()
      println(f"| $nFiles | $bareS%.3f | $archS%.3f | $kept/${archived.size} | $restS%.3f | $rows |")
    }
  }

  /** A fixed-position fuzzy-rowkey probe over a salted store plans only
    * the files that can hold a match (its cost tracks the slice); the
    * unpushed twin tracks the store. SEEKSCALE.md "FuzzyScale" (r17)
    * and "FuzzyScale r18 re-run" (2-pattern union). */
  private def fuzzy(spark: SparkSession, root: String,
                    sfDir: String): Unit = {
    header("region files", "fuzzy probe (s)", "planned k/n",
           "unpushed twin (s)", "rows", "2-pattern probe (s)",
           "planned k/n", "rows")
    Seq(16, 64, 256, 1024).foreach { nFiles =>
      val store = s"$root/s_$nFiles"
      val rows = nFiles * 50L
      // salted keys `<salt>-<date>-<id>` over 4 salts; every size covers
      // the same 6-year span (2020..2025), so the 2024-03 probe always
      // has a matching slice to find
      append(spark.range(rows).select(
          concat(
            (col("id") % 4).cast("string"), lit("-"),
            date_format(date_add(lit("2020-01-01").cast("date"),
              (col("id") * 2192L / rows).cast("int")), "yyyy-MM-dd"),
            lit("-"), format_string("%010d", col("id"))).as("rowkey"),
          lit("d").as("family"), lit("q").as("qualifier"),
          col("id").as("version"),
          sha1(col("id").cast("string")).as("value")), store)

      val probe = spark.read.format("graftcell")
        .option("fuzzy", "?-2024-03").load(store).select("rowkey")
      val (fuzzyS, fuzzyRows) = minOf(3)(probe.count())
      val twin = spark.read.format("graftcell").load(store)
        .filter(substring(col("rowkey"), 3, 7) === "2024-03")
        .select("rowkey")
      val (twinS, twinRows) = minOf(3)(twin.count())
      require(fuzzyRows == twinRows, s"$fuzzyRows != $twinRows")
      // two months OR-ed in one probe: the union plan must track its
      // two slices, not the store
      val multi = spark.read.format("graftcell")
        .option("fuzzy", """["?-2024-03","?-2022-07"]""")
        .load(store).select("rowkey")
      val (multiS, multiRows) = minOf(3)(multi.count())
      val mtwin = spark.read.format("graftcell").load(store)
        .filter(substring(col("rowkey"), 3, 7) === "2024-03" ||
                substring(col("rowkey"), 3, 7) === "2022-07")
        .select("rowkey")
      require(multiRows == mtwin.count(), s"multi twin mismatch")
      println(f"| $nFiles | $fuzzyS%.3f | ${kn(probe)} | $twinS%.3f | $fuzzyRows " +
              f"| $multiS%.3f | ${kn(multi)} | $multiRows |")
    }
  }

  /** Total-or-loud `TIMESTAMP AS OF`: travel into an archived
    * (minor-compacted-away) window is a metadata resolution returning
    * exactly era 1's rows; the unpinned era-2 window refuses fast.
    * SEEKSCALE.md "TravelScale — total-or-loud TIMESTAMP AS OF is
    * metadata-priced (r18)". */
  private def travel(spark: SparkSession, root: String,
                     sfDir: String): Unit = {
    catalog(spark, "gtts", root)
    header("region files", "era-1 rows", "log lines / bytes",
           "travel plan (s)", "travel read (s)", "rows @ t1", "refusal (s)")
    Seq(16, 128, 1024).foreach { nFiles =>
      val t = s"t$nFiles"
      spark.sql(s"CREATE TABLE gtts.$t $CellColumns")
      val store = s"$root/$t"
      def lastStamp = CellFooterCache.committedDirs(store)
        .map(d => CellManifest.commitStampOf(store, d)).max
      val half = nFiles * 50L / 2
      append(cells(spark, 0L, half), store)
      spark.sql(s"CALL gtts.snapshot('$t', 'keep')")
      val t1 = lastStamp
      append(cells(spark, half, nFiles * 50L), store)
      val t2 = lastStamp
      spark.sql(s"CALL gtts.compact_minor('$t', ${Long.MaxValue}L)")
      val logFile = new File(store, CellTravelLog.NAME)
      val logLines = CellTravelLog.read(store).size
      // metadata half: catalog resolution + partition planning
      val (planS, df) = timed {
        val df = spark.sql(
          s"""SELECT count(*) AS n FROM gtts.$t
              TIMESTAMP AS OF timestamp_micros(${t1}L)""")
        df.queryExecution.executedPlan // force planning
        df
      }
      val (readS, rows) = timed(df.collect()(0).getLong(0))
      // the lost (unpinned) era-2 window must refuse FAST and loudly
      val (refuseS, refused) = timed(scala.util.Try(spark.sql(
        s"""SELECT count(*) FROM gtts.$t
            TIMESTAMP AS OF timestamp_micros(${t2}L)""").collect()).isFailure)
      require(refused, "era-2 travel must refuse")
      require(rows == half, s"expected $half era-1 rows, got $rows")
      println(f"| $nFiles | $half | $logLines / ${logFile.length()} B " +
              f"| $planS%.3f | $readS%.3f | $rows | $refuseS%.3f |")
    }
  }

  /** A value PREFIX-range probe through the secondary index costs
    * O(matching keys): per-file value stats span the sha1 space and
    * blooms are point-only, so only the index can bound it; the
    * indexless twin scans the store. SEEKSCALE.md "Global secondary
    * index at store scale (round 19)". */
  private def index(spark: SparkSession, root: String,
                    sfDir: String): Unit = {
    header("region files", "index build (s)", "probe via index (s)",
           "idx k/n", "base k/n", "rows", "full-scan twin (s)", "twin k/n")
    Seq(16, 64, 256, 1024).foreach { nFiles =>
      val store = s"$root/s_$nFiles"
      val idx = s"$root/i_$nFiles"
      append(cells(spark, 0L, nFiles * 50L), store)
      val (buildS, _) = timed(GraftCellMaintenance.buildIndex(
        spark, store, idx, "d", "q", maxRowsPerFile = 200L))

      def idxSeek() = spark.read.format("graftcell").load(idx)
        .filter(col("rowkey").startsWith("aa"))
        .select("value")
      def probed(keys: Seq[String]) = spark.read.format("graftcell")
        .load(store).filter(col("rowkey").isin(keys: _*))
      def keys() = idxSeek().collect().map(_.getString(0)).toSeq.sorted
      val (probeS, probeRows) = minOf(3)(probed(keys()).count())
      val twin = spark.read.format("graftcell").load(store)
        .filter(col("value").startsWith("aa"))
      val (twinS, twinRows) = minOf(3)(twin.count())
      require(probeRows == twinRows,
        s"index probe diverged: $probeRows vs $twinRows")
      println(f"| $nFiles | $buildS%.2f | $probeS%.2f | ${kn(idxSeek())} | ${kn(probed(keys()))} | $probeRows | $twinS%.2f | ${kn(twin)} |")
    }
  }

  /** AUTOMATIC index routing: the SAME plain-SQL value probe with the
    * index present (IndexRoute answers it covered from the index) and
    * dropped (full scan + row filter). 5000-row files with ~5000
    * distinct scattered values defeat range stats and saturate blooms,
    * so only the index can bound the probe; it matches a constant 6400
    * rows at every size. SEEKSCALE.md "Automatic index routing: a
    * COVERED plain-SQL probe is O(matches) (round 20)". */
  private def route(spark: SparkSession, root: String,
                    sfDir: String): Unit = {
    catalog(spark, "graftroute", root)
    header("store rows", "routed (s)", "rows matched",
           "planned regionFiles (base , idx)", "dropped (s)", "dropped k/n")
    Seq(64, 256, 1024, 2048).foreach { nFiles =>
      val rows = nFiles * 5000
      val t = s"t$nFiles"
      spark.sql(s"CREATE TABLE graftroute.$t $CellColumns")
      // a multiplicative hash scatters the values over every file; the
      // prefix matches exactly 100 values x 64 rows at every size
      val distinct = math.max(rows / 64, 100)
      spark.sql(s"""INSERT OVERWRITE graftroute.$t
                    SELECT format_string('k%09d', id), 'd', 'q', 1L,
                           format_string('v%08d',
                             (id * 2654435761L) % ${distinct}L)
                    FROM range(0, $rows)""")
      spark.sql(
        s"CALL graftroute.build_index('$t', 'q', 'd', 'q', 5000)").collect()
      def sql = spark.sql(
        s"""SELECT rowkey, version, value FROM graftroute.$t
            WHERE family = 'd' AND qualifier = 'q'
              AND value LIKE 'v000000%'""")
      val routedPlan = sql.queryExecution.optimizedPlan.toString
      assert(routedPlan.contains("_idx_"),
        s"expected the routed (covered) plan:\n$routedPlan")
      val (tRouted, n) = minOf(3)(sql.count())
      val routed = sql
      routed.collect()
      val routedKn = kn(routed)
      spark.sql(s"DROP TABLE graftroute.${t}_idx_q")
      assert(!sql.queryExecution.optimizedPlan.toString
        .contains("_idx_"), "drop must un-route")
      val (tPlain, n2) = minOf(3)(sql.count())
      val plain = sql
      plain.collect()
      assert(n == n2, s"routing changed the answer: $n vs $n2")
      println(f"| $rows | $tRouted%.3f | $n | $routedKn " +
        f"| $tPlain%.3f | ${kn(plain)} |")
    }
  }

  /** A storage-partitioned join of two co-bucketed (16) tables with 75%
    * rowkey overlap plans zero exchanges; the saving over the classic
    * both-sides shuffle grows with the data. Min of 2 each.
    * SEEKSCALE.md "SpjScale — storage-partitioned join vs both-sides
    * shuffle (r16)". */
  private def spj(spark: SparkSession, root: String,
                  sfDir: String): Unit = {
    catalog(spark, "gscale", root)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    header("rows/table", "spj (s)", "shuffled (s)", "shuffled/spj")
    Seq(100000L, 400000L, 1600000L, 6400000L).foreach { n =>
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      def tilde(lo: Long, hi: Long, suffix: String) = cells(spark, lo, hi,
        concat(sha1(col("id").cast("string")), lit(suffix)))
      Seq("pa", "pb").foreach { t =>
        spark.sql(s"DROP TABLE IF EXISTS gscale.$t")
        spark.sql(s"CREATE TABLE gscale.$t $CellColumns TBLPROPERTIES('buckets'='16')")
      }
      tilde(0L, n, "").createOrReplaceTempView("spjscale_a")
      tilde(n / 4, n + n / 4, "~").createOrReplaceTempView("spjscale_b")
      spark.sql("INSERT OVERWRITE gscale.pa SELECT * FROM spjscale_a")
      spark.sql("INSERT OVERWRITE gscale.pb SELECT * FROM spjscale_b")

      def joined() = spark.sql(
        """SELECT /*+ MERGE(a) */ count(*) AS n,
                  sum(crc32(a.value)) AS ca, sum(crc32(b.value)) AS cb
           FROM gscale.pa a JOIN gscale.pb b ON a.rowkey = b.rowkey""")
      // SPJ leg: assert the claim the timing rests on — zero shuffles
      val df = joined()
      df.collect()
      val shuffles = "ShuffleExchange".r
        .findAllIn(df.queryExecution.executedPlan.toString).length
      require(shuffles == 0, s"SPJ leg planned $shuffles shuffle exchanges")
      val (spjS, _) = minOf(2)(joined().collect())
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
      val (shufS, _) = minOf(2)(joined().collect())
      println(f"| $n | $spjS%.3f | $shufS%.3f | ${shufS / spjS}%.2f |")
    }
  }

  /** Shuffle width of the ExactSubstr span exchange (the one cross-doc
    * stage of substring dedup): raw W-char spans (the byte-exact oracle
    * twin) vs xxhash64 longs (production), one full
    * `substringPruneStats` run each, min of 3 warm reps. SEEKSCALE.md
    * "ExactSubstr span-shuffle width: raw spans vs xxhash64 (round 20)". */
  private def substr(spark: SparkSession, root: String,
                     sfDir: String): Unit = {
    import operators.DedupOps
    val collector = RunCollector(spark)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .withColumn("t",
        when(col("doc_id") % 5 === 0,
             concat(col("text"), lit(DedupOps.SUB_BOILER)))
          .otherwise(col("text")))
    def best(hashed: Boolean): RunStats = {
      def once() = collector.measure(
        DedupOps.substringPruneStats(docs, hashed).queryExecution.toRdd.count())._2
      once() // warmup (codegen + page cache)
      (1 to 3).map(_ => once()).minBy(_.sec)
    }
    val raw = best(hashed = false)
    val hashed = best(hashed = true)
    def mib(r: RunStats) = f"${r.shuffleWriteBytes / 1048576.0}%.1f MiB"
    println(s"$sfDir documents; shuffle written per full run.")
    println()
    header("span payload", "shuffle written", "min time (s)")
    println(f"| raw ${DedupOps.SUB_W}-char strings | ${mib(raw)} | ${raw.sec}%.2f |")
    println(f"| xxhash64 longs | ${mib(hashed)} | ${hashed.sec}%.2f |")
    println()
    println(f"Shuffle narrowing: ${raw.shuffleWriteBytes.toDouble / hashed.shuffleWriteBytes}%.2fx.")
  }
}
