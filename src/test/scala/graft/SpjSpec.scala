package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.cell.GraftBucket

/** Gates the BUCKETED-store / storage-partitioned-join surface
  * (SURVEY §2.16): the bucket-clustered write layout, the scan's
  * KeyGroupedPartitioning report, the exchange-free join and
  * aggregation plans, and — the correctness half — every path where
  * the layout claim must DEGRADE to a shuffle rather than lie
  * (untagged rewrites, mismatched bucket counts). */
class SpjSpec extends AnyFunSuite {
  private lazy val s = SparkFixture.spark
  private val root = "/tmp/graft_spj_spec"

  private def registerCat(): Unit = {
    s.conf.set("spark.sql.catalog.gspj",
               classOf[graft.sources.cell.GraftCellCatalog].getName)
    s.conf.set("spark.sql.catalog.gspj.root", root)
    s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    s.conf.set("spark.sql.sources.v2.bucketing.shuffle.enabled", "true")
  }

  private def mkTable(name: String, buckets: Option[Int],
                      rows: Seq[(String, String, String, Long, String)]): Unit = {
    registerCat()
    new java.io.File(root).mkdirs()
    s.sql(s"DROP TABLE IF EXISTS gspj.$name")
    val props = buckets.fold("")(n => s" TBLPROPERTIES('buckets'='$n')")
    s.sql(s"""CREATE TABLE gspj.$name (rowkey STRING, family STRING,
              qualifier STRING, version BIGINT, value STRING)
              USING graftcell$props""")
    insert(name, rows)
  }

  private def insert(name: String,
                     rows: Seq[(String, String, String, Long, String)]): Unit = {
    import s.implicits._
    rows.toDF("rowkey", "family", "qualifier", "version", "value")
      .createOrReplaceTempView("spj_src")
    s.sql(s"INSERT INTO gspj.$name SELECT * FROM spj_src")
    ()
  }

  private def rowsA: Seq[(String, String, String, Long, String)] =
    (1 to 300).map(i => (f"k$i%03d", "f", "q", 1L, s"a$i")) :+
      ((null: String), "f", "q", 1L, "anull")
  private def rowsB: Seq[(String, String, String, Long, String)] =
    (151 to 450).map(i => (f"k$i%03d", "f", "q", 1L, s"b$i"))

  /** Execute (AQE finalizes) and return the physical plan string. */
  private def ranPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }
  private def exchanges(plan: String): Int =
    "Exchange".r.findAllIn(plan).length

  /** The join under test, with broadcast disabled so the only two
    * possible shapes are SPJ (no exchange) and shuffled SMJ/SHJ. */
  private def joined(a: String, b: String): org.apache.spark.sql.DataFrame =
    s.sql(s"""SELECT /*+ MERGE(a) */ a.rowkey, a.value AS av, b.value AS bv
              FROM gspj.$a a JOIN gspj.$b b ON a.rowkey = b.rowkey""")

  private val expectedJoin: Set[(String, String, String)] =
    (151 to 300).map(i => (f"k$i%03d", s"a$i", s"b$i")).toSet

  test("co-bucketed tables join storage-partitioned: zero exchange, exact rows") {
    mkTable("spj_a1", Some(8), rowsA)
    mkTable("spj_b1", Some(8), rowsB)
    val df = joined("spj_a1", "spj_b1")
    val plan = ranPlan(df)
    assert(exchanges(plan) == 0, s"expected exchange-free SPJ plan:\n$plan")
    assert(df.collect().map(r => (r.getString(0), r.getString(1),
      r.getString(2))).toSet == expectedJoin)
  }

  test("a second generation keeps SPJ but drops the per-partition ordering claim") {
    mkTable("spj_a2", Some(8), rowsA)
    mkTable("spj_b2", Some(8), rowsB)
    // generation 2: every bucket now spans TWO files — Spark's own
    // guard (ordering valid only for single-partition key groups) must
    // insert sorts under the merge join, and rows must stay exact
    insert("spj_a2", (301 to 360).map(i => (f"k$i%03d", "f", "q", 1L, s"a$i")))
    insert("spj_b2", (451 to 460).map(i => (f"k$i%03d", "f", "q", 1L, s"b$i")))
    val df = joined("spj_a2", "spj_b2")
    val plan = ranPlan(df)
    assert(exchanges(plan) == 0, s"expected exchange-free SPJ plan:\n$plan")
    assert(plan.contains("Sort "),
      s"multi-file buckets must re-sort before the merge join:\n$plan")
    val expected = expectedJoin ++
      (301 to 360).map(i => (f"k$i%03d", s"a$i", s"b$i"))
    assert(df.collect().map(r => (r.getString(0), r.getString(1),
      r.getString(2))).toSet == expected)
  }

  test("group-by on the bucket column aggregates with zero exchange") {
    mkTable("spj_g", Some(8), rowsA)
    val df = s.sql("""SELECT rowkey, count(*) AS c, max(value) AS mx
                      FROM gspj.spj_g GROUP BY rowkey""")
    val plan = ranPlan(df)
    assert(exchanges(plan) == 0, s"expected exchange-free aggregate:\n$plan")
    assert(df.count() == 301) // 300 keys + the NULL-rowkey group
  }

  test("major compaction preserves the bucket layout: SPJ survives maintenance") {
    mkTable("spj_a3", Some(8), rowsA)
    mkTable("spj_b3", Some(8), rowsB)
    // two generations, then compact back to one — the HBase invariant:
    // compaction never changes the salt layout, so the rewrite
    // re-clusters on the descriptor's bucket count and the join stays
    // exchange-free afterwards
    insert("spj_a3", (301 to 320).map(i => (f"k$i%03d", "f", "q", 1L, s"a$i")))
    s.sql("CALL gspj.compact('spj_a3')")
    val files = Option(new java.io.File(root, "spj_a3").listFiles)
      .getOrElse(Array.empty)
      .filter(d => d.isDirectory && !d.getName.startsWith("_"))
      .flatMap(d => Option(d.listFiles).getOrElse(Array.empty))
      .filter(_.getName.endsWith(".parquet"))
    assert(files.nonEmpty &&
      files.forall(f => GraftBucket.parse(f.getName).exists(_._2 == 8)),
      s"compacted files must stay bucket-tagged: ${files.map(_.getName).toSeq}")
    val df = joined("spj_a3", "spj_b3")
    val plan = ranPlan(df)
    assert(exchanges(plan) == 0,
      s"compaction must not demote the join to a shuffle:\n$plan")
    val expected = expectedJoin ++
      (301 to 320).map(i => (f"k$i%03d", s"a$i", s"b$i"))
    assert(df.collect().map(r => (r.getString(0), r.getString(1),
      r.getString(2))).toSet == expected)
  }

  test("UPDATE preserves the layout: rewritten files stay tagged, SPJ survives DML") {
    mkTable("spj_u", Some(8), rowsA)
    mkTable("spj_bu", Some(8), rowsB)
    // group-granular COW: the one matched region file is replaced by a
    // bucket-clustered, tagged rewrite — the salt survives a Put
    s.sql("UPDATE gspj.spj_u SET value = 'upd' WHERE rowkey = 'k200'")
    val files = Option(new java.io.File(root, "spj_u").listFiles)
      .getOrElse(Array.empty)
      .filter(d => d.isDirectory && !d.getName.startsWith("_"))
      .flatMap(d => Option(d.listFiles).getOrElse(Array.empty))
      .filter(_.getName.endsWith(".parquet"))
    assert(files.nonEmpty &&
      files.forall(f => GraftBucket.parse(f.getName).exists(_._2 == 8)),
      s"COW rewrite must stay bucket-tagged: ${files.map(_.getName).toSeq}")
    val df = joined("spj_u", "spj_bu")
    val plan = ranPlan(df)
    assert(exchanges(plan) == 0,
      s"DML must not demote the join to a shuffle:\n$plan")
    val expected = expectedJoin.map {
      case ("k200", _, bv) => ("k200", "upd", bv)
      case t => t
    }
    assert(df.collect().map(r => (r.getString(0), r.getString(1),
      r.getString(2))).toSet == expected)
  }

  test("region surgery drops the tags and the join degrades to a shuffle, same rows") {
    mkTable("spj_a3b", Some(8), rowsA)
    mkTable("spj_b3b", Some(8), rowsB)
    // split_region rewrites straddling files under new (untagged)
    // names — a hash-bucketed file spans nearly the whole key space,
    // so the cut hits most buckets; the scan must DEGRADE to unkeyed
    // rather than claim a co-partitioning the files no longer prove
    s.sql("CALL gspj.split_region('spj_a3b', 'k150')")
    val df = joined("spj_a3b", "spj_b3b")
    val plan = ranPlan(df)
    assert(exchanges(plan) > 0,
      s"untagged (split) files must not claim co-partitioning:\n$plan")
    assert(df.collect().map(r => (r.getString(0), r.getString(1),
      r.getString(2))).toSet == expectedJoin)
  }

  test("mismatched bucket counts never co-partition (tag carries its count)") {
    mkTable("spj_a4", Some(8), rowsA)
    mkTable("spj_c4", Some(4), rowsB)
    val df = joined("spj_a4", "spj_c4")
    val plan = ranPlan(df)
    assert(exchanges(plan) > 0,
      s"8-bucket and 4-bucket layouts must shuffle:\n$plan")
    assert(df.collect().map(r => (r.getString(0), r.getString(1),
      r.getString(2))).toSet == expectedJoin)
  }

  test("bucket purity: every committed file's rows hash to its file-name tag") {
    mkTable("spj_p", Some(8), rowsA)
    val files = Option(new java.io.File(root, "spj_p").listFiles)
      .getOrElse(Array.empty)
      .filter(d => d.isDirectory && !d.getName.startsWith("_"))
      .flatMap(d => Option(d.listFiles).getOrElse(Array.empty))
      .filter(_.getName.endsWith(".parquet"))
    assert(files.nonEmpty)
    files.foreach { f =>
      val tag = GraftBucket.parse(f.getName)
      assert(tag.exists(_._2 == 8), s"untagged bucketed file ${f.getName}")
      val keys = s.read.parquet(f.getPath).select("rowkey").collect()
        .map(r => if (r.isNullAt(0)) null
                  else r.getString(0).getBytes("UTF-8"))
      assert(keys.nonEmpty)
      keys.foreach(k =>
        assert(GraftBucket.of(k, 8) == tag.get._1,
          s"row in ${f.getName} hashes to ${GraftBucket.of(k, 8)}"))
    }
    // the NULL rowkey landed in bucket 0, like the function says
    assert(GraftBucket.of(null, 8) == 0)
  }

  test("an unbucketed side shuffles INTO the store's grouping; the store side never shuffles") {
    mkTable("spj_os", Some(8), rowsA)
    import s.implicits._
    (151 to 450).map(i => (f"k$i%03d", s"w$i")).toDF("k", "w")
      .createOrReplaceTempView("spj_os_dim")
    val df = s.sql(
      """SELECT /*+ MERGE(a) */ a.rowkey, a.value AS av, d.w
         FROM gspj.spj_os a JOIN spj_os_dim d ON a.rowkey = d.k""")
    val plan = ranPlan(df)
    // the ONE exchange is the dim side re-clustered by the catalog's
    // own bucket function into the store's reported key grouping...
    assert(plan.contains("Exchange keygroupedpartitioning"),
      s"expected a key-grouped dim-side shuffle:\n$plan")
    assert(plan.contains("BoundBucket"),
      s"the exchange must evaluate the catalog bucket function:\n$plan")
    // ...and the store side feeds the join with no exchange at all
    assert(!plan.contains("Exchange hashpartitioning") &&
           !plan.contains("Exchange rangepartitioning"),
      s"no classic shuffle may appear on either side:\n$plan")
    assert(df.collect().map(r => (r.getString(0), r.getString(1),
      r.getString(2))).toSet ==
      (151 to 300).map(i => (f"k$i%03d", s"a$i", s"w$i")).toSet)
  }

  test("point gets plan only the probed keys' bucket files; ranges don't engage") {
    mkTable("spj_pt", Some(8), rowsA)
    val rf = raw"regionFiles: (\d+)/(\d+)".r
    def planned(df: org.apache.spark.sql.DataFrame): (Int, Int) = {
      val m = rf.findFirstMatchIn(df.queryExecution.executedPlan.toString).get
      (m.group(1).toInt, m.group(2).toInt)
    }
    // a single get touches exactly its key's bucket file
    val eq = s.sql("SELECT value FROM gspj.spj_pt WHERE rowkey = 'k007'")
    assert(planned(eq) == (1, 8), s"eq probe planned ${planned(eq)}")
    assert(eq.collect().map(_.getString(0)).toSeq == Seq("a7"))
    // a multiget touches at most one file per probed key
    val in = s.sql(
      "SELECT value FROM gspj.spj_pt WHERE rowkey IN ('k001','k002','k003')")
    assert(planned(in)._1 <= 3 && planned(in)._2 == 8)
    assert(in.collect().map(_.getString(0)).toSet == Set("a1", "a2", "a3"))
    // OR of point probes prunes as the union of the disjuncts' keys
    val or = s.sql(
      "SELECT value FROM gspj.spj_pt WHERE rowkey = 'k001' OR rowkey = 'k250'")
    assert(planned(or)._1 <= 2)
    assert(or.collect().map(_.getString(0)).toSet == Set("a1", "a250"))
    // a RANGE has no point shape — the bucket layer must not engage
    // (a broad range overlaps every bucket file's [min,max], so all 8
    // survive the stat layer and dropping any would lose rows; narrow
    // edge ranges are the STAT pruner's job and still prune)
    val range = s.sql(
      "SELECT value FROM gspj.spj_pt WHERE rowkey >= 'k001' AND rowkey < 'k299'")
    assert(planned(range) == (8, 8))
    assert(range.count() == 298)
    // NULL rowkeys are untouched by point pruning (IS NULL isn't a point)
    assert(s.sql("SELECT value FROM gspj.spj_pt WHERE rowkey IS NULL")
      .collect().map(_.getString(0)).toSeq == Seq("anull"))
    // pruning never drops a true key: every 13th key answers its get
    (1 to 300 by 13).foreach { i =>
      val k = f"k$i%03d"
      val got = s.sql(s"SELECT value FROM gspj.spj_pt WHERE rowkey = '$k'")
      assert(planned(got)._1 == 1)
      assert(got.collect().map(_.getString(0)).toSeq == Seq(s"a$i"), k)
    }
  }

  test("a point DELETE on a bucketed table rewrites only the key's bucket file") {
    mkTable("spj_del", Some(8), rowsA)
    val dir = new java.io.File(root, "spj_del")
    def fileMtimes(): Map[String, Long] =
      Option(dir.listFiles).getOrElse(Array.empty)
        .filter(d => d.isDirectory && !d.getName.startsWith("_"))
        .flatMap(d => Option(d.listFiles).getOrElse(Array.empty))
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    val before = fileMtimes()
    s.sql("DELETE FROM gspj.spj_del WHERE rowkey = 'k007'")
    val after = fileMtimes()
    val touched = after.keySet.filter(k =>
      !before.contains(k) || before(k) != after(k))
    assert(touched.size <= 1,
      s"point delete rewrote ${touched.size} files: $touched")
    assert(s.sql("SELECT count(*) FROM gspj.spj_del").collect()(0).getLong(0)
      == rowsA.size - 1)
    assert(s.sql("SELECT * FROM gspj.spj_del WHERE rowkey = 'k007'").count() == 0)
  }

  test("a point DELETE preserves the layout: survivors stay tagged, SPJ survives") {
    mkTable("spj_dl", Some(8), rowsA)
    mkTable("spj_bdl", Some(8), rowsB)
    // the victim's survivors publish in a new batch_delete_* dir under
    // a name that keeps the victim's bucket tag
    s.sql("DELETE FROM gspj.spj_dl WHERE rowkey = 'k200'")
    val dirs = Option(new java.io.File(root, "spj_dl").listFiles)
      .getOrElse(Array.empty)
      .filter(d => d.isDirectory && !d.getName.startsWith("_"))
    def parquet(ds: Seq[java.io.File]): Seq[java.io.File] =
      ds.flatMap(d => Option(d.listFiles).getOrElse(Array.empty))
        .filter(_.getName.endsWith(".parquet"))
    val rewritten = parquet(dirs.filter(_.getName.startsWith("batch_delete_")))
    assert(rewritten.size == 1 &&
      GraftBucket.parse(rewritten.head.getName).exists(_._2 == 8),
      s"the DELETE output must keep its bucket tag: ${rewritten.map(_.getName)}")
    val files = parquet(dirs)
    assert(files.forall(f => GraftBucket.parse(f.getName).exists(_._2 == 8)),
      s"every live file must stay bucket-tagged: ${files.map(_.getName)}")
    val df = joined("spj_dl", "spj_bdl")
    val plan = ranPlan(df)
    assert(exchanges(plan) == 0,
      s"DELETE must not demote the join to a shuffle:\n$plan")
    assert(df.collect().map(r => (r.getString(0), r.getString(1),
      r.getString(2))).toSet == expectedJoin.filterNot(_._1 == "k200"))
  }

  test("the bucket hash is FROZEN: pinned values can never silently change") {
    // Every bucketed store on disk depends on this arithmetic: a Scala
    // upgrade or a casual 'improvement' that changes one of these pins
    // would silently mis-route every future read and write against
    // existing layouts. These are the values of MurmurHash3.bytesHash
    // (seed 0x67726166) floor-mod n as shipped — fail here means the
    // layout contract broke, not that the test needs updating.
    assert(GraftBucket.of("k001".getBytes("UTF-8"), 8) == 2)
    assert(GraftBucket.of("7".getBytes("UTF-8"), 8) == 2)
    assert(GraftBucket.of("0000001234".getBytes("UTF-8"), 8) == 0)
    assert(GraftBucket.of("".getBytes("UTF-8"), 8) == 2)
    assert(GraftBucket.of("".getBytes("UTF-8"), 16) == 10)
    assert(GraftBucket.of(null, 8) == 0)
    // and the tag round-trips exactly
    assert(GraftBucket.parse(s"part-00001-0002${GraftBucket.tag(3, 8)}.parquet")
      .contains((3, 8)))
    assert(GraftBucket.parse("part-00001-0002.parquet").isEmpty)
  }

  test("time travel keeps the layout: live-vs-snapshot join is exchange-free") {
    mkTable("spj_tt", Some(8), rowsA)
    s.sql("CALL gspj.snapshot('spj_tt', 'pin')")
    // append a generation past the snapshot (dir-granular — exactly
    // what snapshots isolate; since r18 row-level DML isolates too,
    // but an append is what this layout case pins)
    insert("spj_tt", (501 to 520).map(i => (f"k$i%03d", "f", "q", 1L, s"a$i")))
    // the pinned read plans the SAME tagged files the snapshot froze,
    // so it reports the same key grouping as the live side — the
    // co-partitioned what-changed diff a 100 TB audit wants, with no
    // shuffle of either generation
    val df = s.sql(
      """SELECT /*+ MERGE(a) */ a.rowkey
         FROM gspj.spj_tt a
         LEFT ANTI JOIN gspj.spj_tt VERSION AS OF 'pin' b
           ON a.rowkey = b.rowkey""")
    val plan = ranPlan(df)
    assert(exchanges(plan) == 0,
      s"live-vs-snapshot diff must be storage-partitioned:\n$plan")
    // rowsA's NULL-rowkey cell rides along: NULL never equi-matches, so
    // LEFT ANTI keeps it — standard SQL, pinned rather than filtered
    assert(df.collect().map(_.getString(0)).toSet ==
      ((501 to 520).map(i => f"k$i%03d").toSet + (null: String)))
  }

  test("the bucket function is SQL-callable and the descriptor is fixed at CREATE") {
    mkTable("spj_f", Some(8), rowsA.take(3))
    // the catalog serves bucket(n, rowkey) as a V2 function — the same
    // arithmetic the writer used
    val viaSql = s.sql("SELECT gspj.bucket(8, 'k001') AS b").collect()(0).getInt(0)
    assert(viaSql == GraftBucket.of("k001".getBytes("UTF-8"), 8))
    // re-bucketing in place would lie about the existing files
    val e = intercept[Exception] {
      s.sql("ALTER TABLE gspj.spj_f SET TBLPROPERTIES('buckets'='4')")
    }
    assert(e.getMessage.contains("fixed at CREATE"))
    // and nonsense counts are refused before any directory appears
    val bad = intercept[Exception] {
      s.sql("""CREATE TABLE gspj.spj_bad (rowkey STRING, family STRING,
               qualifier STRING, version BIGINT, value STRING)
               USING graftcell TBLPROPERTIES('buckets'='0')""")
    }
    assert(bad.getMessage.contains("buckets"))
    assert(!new java.io.File(root, "spj_bad").exists())
  }

  test("CALL rebucket: one-publish layout evolution — SPJ works at the " +
       "new n on both sides, old tags gone, crash window degrades (r17)") {
    // two co-bucketed 4-bucket tables join exchange-free; rebucket ONE
    // side to 8 → counts mismatch → honest shuffle; rebucket the other
    // → SPJ returns at n = 8
    mkTable("spj_rb_a", Some(4), rowsA)
    mkTable("spj_rb_b", Some(4), rowsB)
    assert(exchanges(ranPlan(joined("spj_rb_a", "spj_rb_b"))) == 0)
    s.sql("CALL gspj.rebucket('spj_rb_a', 8)")
    // descriptor repointed; every file re-tagged at the new count
    val files = Option(new java.io.File(root, "spj_rb_a").listFiles)
      .getOrElse(Array.empty)
      .filter(d => d.isDirectory && !d.getName.startsWith("_"))
      .flatMap(d => Option(d.listFiles).getOrElse(Array.empty))
      .filter(_.getName.endsWith(".parquet"))
    assert(files.nonEmpty &&
      files.forall(f => GraftBucket.parse(f.getName).exists(_._2 == 8)),
      s"old-n tags must be gone: ${files.map(_.getName).toSeq}")
    val shown = s.sql("SHOW TBLPROPERTIES gspj.spj_rb_a").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(shown.get("buckets").contains("8"), s"descriptor: $shown")
    // mismatched counts (8 vs 4) never co-partition — shuffle, exact rows
    val mixed = joined("spj_rb_a", "spj_rb_b")
    assert(exchanges(ranPlan(mixed)) > 0)
    assert(mixed.collect().map(r => (r.getString(0), r.getString(1),
      r.getString(2))).toSet == expectedJoin)
    // rebucket the other side too: SPJ returns at the new count
    s.sql("CALL gspj.rebucket('spj_rb_b', 8)")
    val df = joined("spj_rb_a", "spj_rb_b")
    assert(exchanges(ranPlan(df)) == 0,
      s"SPJ must work at the new bucket count")
    assert(df.collect().map(r => (r.getString(0), r.getString(1),
      r.getString(2))).toSet == expectedJoin)
    // CRASH WINDOW: rewrite committed, descriptor flip lost — the scan
    // must degrade to unkeyed (tag count 16 ≠ descriptor 8), rows exact
    graft.sources.cell.GraftCellMaintenance
      .rebucket(s, s"$root/spj_rb_a", 16)
    val crashed = joined("spj_rb_a", "spj_rb_b")
    assert(exchanges(ranPlan(crashed)) > 0,
      "a half-done rebucket must degrade, never lie")
    assert(crashed.collect().map(r => (r.getString(0), r.getString(1),
      r.getString(2))).toSet == expectedJoin)
    // re-running the verb completes the evolution
    s.sql("CALL gspj.rebucket('spj_rb_a', 16)")
    s.sql("CALL gspj.rebucket('spj_rb_b', 16)")
    assert(exchanges(ranPlan(joined("spj_rb_a", "spj_rb_b"))) == 0)
  }

  test("bucket count and codecs are table properties: a write option " +
       "naming one fails with the TBLPROPERTIES to use") {
    import scala.collection.JavaConverters._
    import graft.sources.cell.GraftCell
    val dest = java.nio.file.Files
      .createTempDirectory("graft_layout_opts_").toString
    val df = s.createDataFrame(
      Seq(org.apache.spark.sql.Row("k1", "f", "q", 1L, "v")).asJava,
      GraftCell.SCHEMA)
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    Seq("buckets" -> "8", "compression" -> "zstd",
        "family.f.compression" -> "gzip").foreach { case (k, v) =>
      val e = intercept[Exception] {
        df.write.format("graftcell").option(k, v).mode("append").save(dest)
      }
      assert(causes(e).exists(c => Option(c.getMessage).exists(m =>
        m.contains(k) && m.contains("TBLPROPERTIES"))),
        s"option $k: expected the TBLPROPERTIES refusal, got: $e")
    }
    assert(graft.sources.cell.CellFooterCache.committedDirs(dest).isEmpty,
      "a refused write must commit nothing")
  }
}
