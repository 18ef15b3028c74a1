package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.cell.GraftCell
import graft.sources.cell.GraftCell.{Bound, KeyRange}

/** Gates the DataSource V2 `graftcell` connector (SURVEY §2.A r14):
  * the pure pruning math, the pushdown plan shape, and end-to-end
  * equality with the inline query-pattern twins. */
class CellConnectorSpec extends AnyFunSuite {
  private lazy val s = SparkFixture.spark
  private val dir = SparkFixture.sf001

  private def b(x: String): Array[Byte] =
    x.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  /** Asserts that each manifest entry is exactly what its file says:
    * every field the footer re-derivation can produce (row count,
    * bytes, rowkey/family/qualifier/version bounds, NULL rowkey and
    * family counts, truncated value bounds, message type) and, where a
    * value or rowkey bloom is present, that it admits every non-null
    * value or rowkey the file holds. */
  private def assertFooterTruth(
      metas: Seq[graft.sources.cell.CellFileMeta]): Unit = {
    import graft.sources.cell.{CellFooterCache, CellValueBloom}
    import org.apache.parquet.schema.MessageTypeParser
    assert(metas.nonEmpty, "no region files to check")
    def same(x: Option[Array[Byte]], y: Option[Array[Byte]]) =
      x.map(_.toSeq) == y.map(_.toSeq)
    metas.foreach { m =>
      val f = CellFooterCache.metaOfFooter(m.path)
      assert(m.path == f.path && m.rowCount == f.rowCount &&
             m.bytes == f.bytes, s"meta mismatch $m vs $f")
      assert(same(m.minKey, f.minKey) && same(m.maxKey, f.maxKey),
             s"rowkey stats mismatch $m vs $f")
      assert(m.minVer == f.minVer && m.maxVer == f.maxVer,
             s"version stats mismatch $m vs $f")
      assert(same(m.minFam, f.minFam) && same(m.maxFam, f.maxFam),
             s"family stats mismatch $m vs $f")
      assert(same(m.minQual, f.minQual) && same(m.maxQual, f.maxQual),
             s"qualifier stats mismatch $m vs $f")
      assert(m.nullKeys == f.nullKeys && m.nullFams == f.nullFams,
             s"null counts mismatch $m vs $f")
      assert(same(m.minVal, f.minVal) && same(m.maxVal, f.maxVal),
             s"value stats mismatch $m vs $f")
      assert(MessageTypeParser.parseMessageType(m.messageType) ==
             MessageTypeParser.parseMessageType(f.messageType))
      m.valueBloom.foreach { bloom =>
        val values = s.read.parquet(m.path).select("value").collect()
          .flatMap(r => Option(r.getString(0)))
        val missed = values.filterNot(v => CellValueBloom.mayContain(bloom, b(v)))
        assert(missed.isEmpty,
               s"value bloom of ${m.path} rejects ${missed.toSeq}")
      }
      m.rowkeyBloom.foreach { bloom =>
        val keys = s.read.parquet(m.path).select("rowkey").collect()
          .flatMap(r => Option(r.getString(0)))
        val missed = keys.filterNot(k => CellValueBloom.mayContain(bloom, b(k)))
        assert(missed.isEmpty,
               s"rowkey bloom of ${m.path} rejects ${missed.toSeq}")
      }
    }
  }

  // ---- pure pruning math -------------------------------------------------

  test("prefixStop increments the last non-0xFF byte (HBase stopRow)") {
    assert(GraftCell.prefixStop(b("10")).map(new String(_)).contains("11"))
    assert(GraftCell.prefixStop(b("1")).map(new String(_)).contains("2"))
    // trailing 0xFF bytes are dropped before the increment
    assert(GraftCell.prefixStop(Array(0x41.toByte, 0xFF.toByte))
      .exists(java.util.Arrays.equals(_, Array(0x42.toByte))))
    // all-0xFF prefix has no upper bound
    assert(GraftCell.prefixStop(Array(0xFF.toByte, 0xFF.toByte)).isEmpty)
  }

  test("keyRange folds rowkey filters into the tightest interval") {
    import org.apache.spark.sql.sources._
    val r = GraftCell.keyRange(Seq(
      GreaterThanOrEqual("rowkey", "30"), LessThan("rowkey", "50"),
      GreaterThan("rowkey", "2"), // looser than >= "30" lexicographically? "2" < "30"? '2'<'3' yes
      IsNotNull("rowkey"), EqualTo("family", "d")))
    assert(r.lo.exists(lo => new String(lo.key) == "30" && lo.inclusive))
    assert(r.hi.exists(hi => new String(hi.key) == "50" && !hi.inclusive))
    // prefix adds [p, stop(p)) bounds
    val p = GraftCell.keyRange(Seq(StringStartsWith("rowkey", "10")))
    assert(p.lo.exists(lo => new String(lo.key) == "10" && lo.inclusive))
    assert(p.hi.exists(hi => new String(hi.key) == "11" && !hi.inclusive))
  }

  test("mayOverlap skips only files provably outside the range") {
    val r = KeyRange(Some(Bound(b("30"), true)), Some(Bound(b("50"), false)))
    assert(!GraftCell.mayOverlap(Some(b("10")), Some(b("2")), r))  // below
    assert(!GraftCell.mayOverlap(Some(b("50")), Some(b("59")), r)) // at excl hi
    assert(GraftCell.mayOverlap(Some(b("3")), Some(b("31")), r))   // straddles lo
    assert(GraftCell.mayOverlap(Some(b("4")), Some(b("49")), r))   // inside
    assert(GraftCell.mayOverlap(None, None, r))                    // no stats ⇒ keep
    // inclusive hi keeps the boundary file
    val ri = KeyRange(None, Some(Bound(b("50"), true)))
    assert(GraftCell.mayOverlap(Some(b("50")), Some(b("59")), ri))
  }

  test("fileMayMatch prunes IN-lists per key, not by envelope (multi-get)") {
    import org.apache.spark.sql.sources._
    val in = Seq(In("rowkey", Array[Any]("101", "905")))
    // a file strictly between the two keys is INSIDE the envelope but
    // contains neither key — per-key pruning must drop it
    assert(!GraftCell.fileMayMatch(Some(b("30")), Some(b("49")), in))
    // files that can hold a listed key survive
    assert(GraftCell.fileMayMatch(Some(b("10")), Some(b("19")), in))  // "101"
    assert(GraftCell.fileMayMatch(Some(b("90")), Some(b("99")), in))  // "905"
    // outside the envelope: dropped as before
    assert(!GraftCell.fileMayMatch(Some(b("0")), Some(b("0")), in))
    // missing stats ⇒ keep (skip only on evidence)
    assert(GraftCell.fileMayMatch(None, None, in))
    // conjunction with a range still applies; nested Ands are split
    assert(!GraftCell.fileMayMatch(Some(b("10")), Some(b("19")),
      Seq(And(In("rowkey", Array[Any]("101", "905")),
              GreaterThanOrEqual("rowkey", "5")))))
    // and the parquet twin carries the IN as a point predicate
    val pred = GraftCell.parquetPred(in)
    assert(pred.nonEmpty && pred.get.toString.contains("in(rowkey"))
    assert(GraftCell.parquetPred(Seq(EqualTo("rowkey", "42")))
      .get.toString.contains("eq(rowkey"))
  }

  // ---- plan shape --------------------------------------------------------

  test("range + projection land in the scan: PushedFilters, ReadSchema, file pruning") {
    val df = SparkEntry.queries("cell_connector_prefix")(s, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GraftCellScan"))
    assert(plan.contains("StringStartsWith(rowkey,10)"))
    assert(plan.contains("In(qualifier"))
    // column pruning reached the scan (3 of 5 columns)
    assert(plan.contains("ReadSchema: struct<rowkey:string,qualifier:string,value:string>"))
    // footer-stats file pruning: fewer region files planned than exist
    val rf = "regionFiles: (\\d+)/(\\d+)".r
    val m = rf.findFirstMatchIn(plan)
    assert(m.nonEmpty, s"no regionFiles marker in:\n$plan")
    assert(m.get.group(1).toInt < m.get.group(2).toInt,
           s"range scan should prune region files: ${m.get.matched}")
  }

  test("TABLESAMPLE pushdown: deterministic identity sample inside the reader") {
    val df = SparkEntry.queries("cell_connector_sample")(s, dir)
    val plan = df.queryExecution.executedPlan.toString
    // complete push: the scan carries the sample, Spark's node is gone
    assert(plan.contains("sample: 0.05 seed=42"), plan)
    assert(!plan.contains("Sample ("),
      s"Spark's Sample node must be elided on a complete push:\n$plan")
    // the rule recomputed independently over the unsampled read
    val store = Fixtures.storePath(dir)
    val full = s.read.format("graftcell").load(store)
      .select("rowkey", "qualifier").collect()
    val md = java.security.MessageDigest.getInstance("MD5")
    def keep(rk: String, q: String): Boolean = {
      md.reset()
      val d = md.digest(s"42:${Option(rk).getOrElse("")}:${Option(q).getOrElse("")}"
        .getBytes("UTF-8"))
      val v = ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
              ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
      (v % 10000L) < 500
    }
    val expected = full.count(r => keep(r.getString(0), r.getString(1)))
    assert(df.count() == expected)
    assert(expected > 0 && expected < full.length) // genuinely sampled
    // replacement sampling is refused: Spark keeps its own Sample node
    // (case-sensitive "Sample" — the scan's own marker prints lowercase)
    val wr = s.read.format("graftcell").load(store)
      .sample(withReplacement = true, fraction = 0.05, seed = 42L)
    val wrPlan = wr.queryExecution.executedPlan.toString
    assert(wrPlan.contains("Sample") && !wrPlan.contains("sample: "),
      s"replacement sampling must stay above the scan:\n$wrPlan")
    // sample under COUNT(*): the metadata aggregate must refuse — a
    // sampled count can't come from manifest stats
    val cnt = s.read.format("graftcell").load(store)
      .sample(withReplacement = false, fraction = 0.05, seed = 42L).count()
    assert(cnt == expected)
  }

  test("multi-get plans fewer region files than the IN-list envelope") {
    val rf = "regionFiles: (\\d+)/(\\d+)".r
    def planned(df: org.apache.spark.sql.DataFrame): (Int, Int) = {
      val m = rf.findFirstMatchIn(df.queryExecution.executedPlan.toString)
      assert(m.nonEmpty, "no regionFiles marker")
      (m.get.group(1).toInt, m.get.group(2).toInt)
    }
    val (got, total) = planned(SparkEntry.queries("cell_connector_multiget")(s, dir))
    // the same keys as a [min,max] range = what envelope pruning would plan
    val store = Fixtures.storePath(dir)
    val (envelope, _) = planned(
      s.read.format("graftcell").load(store)
        .filter(col("rowkey") >= "101" && col("rowkey") <= "905"))
    assert(got < envelope && envelope <= total,
           s"multi-get should beat the envelope: $got vs $envelope/$total")
    // and the scattered gets return exactly the listed keys' cells
    val keys = SparkEntry.queries("cell_connector_multiget")(s, dir)
      .select("rowkey").distinct().collect().map(_.getString(0)).toSet
    assert(keys.subsetOf(Set("101", "42", "77", "905")) && keys.nonEmpty)
  }

  test("snapshot read pins the committed dir set; live store moves on") {
    SparkEntry.queries("cell_connector_snapshot")(s, dir).queryExecution // stage
    val store = Fixtures.storePath(dir) + "_snap"
    val snap = s.read.format("graftcell").option("snapshot", "s1").load(store)
    assert(snap.queryExecution.executedPlan.toString.contains("snapshot=s1"))
    val snapRows = snap.count()
    val liveRows = s.read.format("graftcell").load(store).count()
    // the post-snapshot append grew the live store, not the snapshot
    assert(snapRows > 0 && liveRows > snapRows,
           s"live $liveRows should exceed snapshot $snapRows")
    // snapshot view ≡ the base cells (the oracle's claim, pinned here
    // against the inline pattern too)
    val got = snap.orderBy("rowkey", "qualifier").collect().toSeq
    val want = SparkEntry.queries("sink_hbase_cells")(s, dir).collect().toSeq
    assert(got == want)
    // unknown snapshot names fail loudly; snapshot writes are refused
    intercept[Exception] {
      s.read.format("graftcell").option("snapshot", "nope").load(store).count()
    }
    intercept[Exception] {
      s.range(0).selectExpr("'a' rowkey", "'d' family", "'q' qualifier",
                            "1L version", "'v' value")
        .write.format("graftcell").option("snapshot", "s1")
        .mode("append").save(store)
    }
  }

  test("sql_cell_snapshot_mvcc: the snapshot read is the untouched base; " +
       "the live table carries the DML (r18)") {
    val got = SparkEntry.queries("sql_cell_snapshot_mvcc")(s, dir)
      .collect().map(r => (r.getString(0), r.getString(2), r.getString(4)))
      .toSeq
    // snapshot == the plain rebuild: no '9'-band rows missing, no
    // '2'-band stars — isolation through both DML paths
    val base = SparkEntry.queries("sink_hbase_cells")(s, dir)
      .collect().map(r => (r.getString(0), r.getString(2), r.getString(4)))
      .toSeq
    assert(got == base, "snapshot must read its creation-time content")
    assert(base.exists(_._1 >= "9"), "fixture must cover the deleted band")
    // the LIVE table saw both statements
    val live = s.sql("""SELECT rowkey, value FROM graftcat.events_mvcc
                        ORDER BY rowkey, qualifier""")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(!live.exists(_._1 >= "9"), "live must see the DELETE")
    assert(live.filter(r => r._1 >= "2" && r._1 < "3").forall(_._2.endsWith("*")),
      "live must see the UPDATE")
  }

  test("maxRowsPerFile rolls region files: finer granularity, still disjoint") {
    import graft.sources.cell.CellFooterCache
    SparkEntry.queries("cell_connector_split_regions")(s, dir).queryExecution // stage
    val store = Fixtures.storePath(dir) + "_split"
    val metas = CellFooterCache.filesOf(store)
    assert(metas.nonEmpty)
    // at least one task rolled: a part-XXXXX prefix appears with >1 seq
    val bySeqPrefix = metas.map(_.path.replaceAll("-\\d{4}\\.parquet$", ""))
    assert(bySeqPrefix.groupBy(identity).values.exists(_.size > 1),
           s"no task rolled files: ${metas.map(_.path)}")
    // rolled files respect the cap and keep tight, disjoint footer spans
    assert(metas.forall(_.rowCount <= 500), "maxRowsPerFile cap violated")
    val spans = metas.map(m => (new String(m.minKey.get), new String(m.maxKey.get)))
      .sortBy(_._1)
    spans.sliding(2).foreach {
      case Seq((_, hiA), (loB, _)) => assert(hiA <= loB, s"overlap: $spans")
      case _ =>
    }
    // and the finer-grained store still reads back the full cell set
    val got = s.read.format("graftcell").load(store)
      .orderBy("rowkey", "qualifier").collect().toSeq
    val want = SparkEntry.queries("sink_hbase_cells")(s, dir).collect().toSeq
    assert(got == want)
  }

  test("version TimeRange stats prune whole generations") {
    import org.apache.spark.sql.sources._
    // pure math: bounds fold inclusively, exclusive filters tighten
    val r = GraftCell.verRange(Seq(
      GreaterThanOrEqual("version", java.lang.Long.valueOf(100L)),
      LessThan("version", java.lang.Long.valueOf(200L))))
    assert(r.lo == 100L && r.hi == 199L)
    assert(!GraftCell.verMayOverlap(Some(0L), Some(99L), r))   // below
    assert(!GraftCell.verMayOverlap(Some(200L), Some(300L), r)) // above
    assert(GraftCell.verMayOverlap(Some(150L), Some(300L), r))  // straddles
    assert(GraftCell.verMayOverlap(None, None, r))              // no stats
    // and the parquet twin carries the version bounds
    val pred = GraftCell.parquetPred(Seq(
      GreaterThanOrEqual("version", java.lang.Long.valueOf(100L))))
    assert(pred.nonEmpty && pred.get.toString.contains("gteq(version"))
    // plan: a version-ONLY predicate (rowkey fully unconstrained) still
    // prunes region files — the second generation's era is disjoint
    val df = SparkEntry.queries("cell_connector_timerange")(s, dir)
    val plan = df.queryExecution.executedPlan.toString
    val m = "regionFiles: (\\d+)/(\\d+)".r.findFirstMatchIn(plan)
    assert(m.nonEmpty, s"no regionFiles marker:\n$plan")
    assert(m.get.group(1).toInt < m.get.group(2).toInt,
           s"timerange did not prune: ${m.get.matched}")
    // and the scan returns exactly the late-era generation
    assert(df.select("version").collect()
             .forall(_.getLong(0) >= 8000000000000000L))
  }

  test("minor compaction merges only the small batches; content verbatim") {
    import graft.sources.cell.CellFooterCache
    val got = SparkEntry.queries("cell_connector_compact_minor")(s, dir)
      .collect().toSeq // stages three batches + minor-compacts
    val store = Fixtures.storePath(dir) + "_mnr"
    // the two small re-write batches merged into one; the big base
    // generation was NOT rewritten
    val dirs = CellFooterCache.committedDirs(store)
    assert(dirs.size == 2, s"expected base + merged, got $dirs")
    // content preserved verbatim: base ∪ both band re-writes
    SparkEntry.queries("scan_cell_connector")(s, dir).queryExecution // stage base
    val baseDf = s.read.format("graftcell")
      .load(Fixtures.storePath(dir))
    val rewrites = baseDf
      .filter(col("rowkey").startsWith("2") || col("rowkey").startsWith("7"))
      .withColumn("version", col("version") + lit(1000000L))
      .withColumn("value", concat(col("value"), lit("+")))
    val want = baseDf.unionByName(rewrites)
      .orderBy("rowkey", "qualifier", "version").collect().toSeq
    assert(got == want)
    // no work snapshot and no tmp store left behind, and hbck is clean:
    // the one reported lost window is the one before the compaction,
    // whose unpinned victims were deleted, not archived
    assert(!Option(new java.io.File(store).list).get.exists(n =>
      n.startsWith("_snapshot_") || n.startsWith("_tmp_")))
    assert(graft.sources.cell.GraftCellMaintenance.hbck(store) ==
      ((2L, 0L, 0L, 0L, 0L, 0L, 0L, 1L, 0L)))
  }

  test("maxPartitionBytes splits region files into byte-range partitions, exactly-once") {
    import graft.sources.cell.CellFooterCache
    SparkEntry.queries("scan_cell_connector")(s, dir).queryExecution // stage
    val store = Fixtures.storePath(dir)
    val nFiles = CellFooterCache.filesOf(store).size
    val df = s.read.format("graftcell")
      .option("maxPartitionBytes", "2048").load(store)
    // more partitions than region files: big files fanned out (a region
    // file is not the parallelism unit)
    assert(df.rdd.getNumPartitions > nFiles,
           s"${df.rdd.getNumPartitions} parts for $nFiles files")
    // row-group midpoint assignment delivers every row exactly once
    val got = df.orderBy("rowkey", "qualifier").collect().toSeq
    val want = SparkEntry.queries("sink_hbase_cells")(s, dir).collect().toSeq
    assert(got == want)
  }

  test("TableCatalog: DDL lifecycle — create/list/rename/drop, cell schema enforced") {
    import org.apache.spark.sql.connector.catalog.Identifier
    import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
    val root = SparkFixture.scratchDir("graft_cat_spec_").toString
    val cat = new graft.sources.cell.GraftCellCatalog
    val opts = new java.util.HashMap[String, String](); opts.put("root", root)
    cat.initialize("spec",
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(opts))
    val none = Array.empty[String]
    val id = Identifier.of(none, "t1")
    val props = new java.util.HashMap[String, String]()
    assert(!cat.tableExists(id))
    intercept[NoSuchTableException](cat.loadTable(id))
    // a graftcell table IS the cell model: other schemas are refused
    intercept[IllegalArgumentException] {
      cat.createTable(id,
        new org.apache.spark.sql.types.StructType().add("x", "string"),
        Array.empty, props)
    }
    cat.createTable(id, GraftCell.SCHEMA,
      Array.empty, props)
    assert(cat.tableExists(id))
    assert(cat.listTables(none).map(_.name()).toSeq == Seq("t1"))
    intercept[TableAlreadyExistsException](
      cat.createTable(id, GraftCell.SCHEMA, Array.empty, props))
    val id2 = Identifier.of(none, "t2")
    cat.renameTable(id, id2)
    assert(!cat.tableExists(id) && cat.tableExists(id2))
    assert(cat.loadTable(id2).name().contains("t2"))
    assert(cat.dropTable(id2) && !cat.tableExists(id2))
    assert(!cat.dropTable(id2)) // idempotent-false on a missing table
    // flat namespace only (the HBase default namespace)
    intercept[NoSuchNamespaceException](cat.listTables(Array("ns")))
  }

  test("deleteWhere rewrites only overlapping region files; others untouched") {
    import org.apache.spark.sql.sources.{IsNotNull, LessThan}
    import graft.sources.cell.{CellFooterCache, GraftCellTable}
    import scala.collection.JavaConverters._
    val store = SparkFixture.scratchDir("graft_del_spec_").toString + "/t"
    val rows = ('a' to 't').map(c =>
      org.apache.spark.sql.Row(c.toString, "d", "q", 1L, s"v$c"))
    s.createDataFrame(rows.asJava, GraftCell.SCHEMA)
      .write.format("graftcell").option("maxRowsPerFile", "5")
      .mode("append").save(store)
    val before = CellFooterCache.filesOf(store)
      .map(m => m.path -> new java.io.File(m.path).lastModified()).toMap
    assert(before.size > 1, s"need multiple region files, got $before")
    val t = new GraftCellTable(store)
    assert(t.canDeleteWhere(Array[org.apache.spark.sql.sources.Filter](LessThan("rowkey", "c"))))
    t.deleteWhere(Array[org.apache.spark.sql.sources.Filter](LessThan("rowkey", "c")))
    // survivors: exactly the rows failing the predicate
    val got = s.read.format("graftcell").load(store)
      .select("rowkey").collect().map(_.getString(0)).toSeq.sorted
    assert(got == ('c' to 't').map(_.toString))
    // non-overlapping region files were NOT rewritten (same mtime)
    val after = CellFooterCache.filesOf(store)
      .map(m => m.path -> new java.io.File(m.path).lastModified()).toMap
    val untouched = after.keySet.filter(p =>
      before.get(p).contains(after(p)))
    assert(untouched.nonEmpty,
      s"expected at least one untouched file: before=$before after=$after")
    // a predicate matching everything removes the files outright
    t.deleteWhere(Array[org.apache.spark.sql.sources.Filter](IsNotNull("rowkey")))
    assert(s.read.format("graftcell").load(store).count() == 0L)
    assert(CellFooterCache.filesOf(store).isEmpty)
  }

  test("_region_file metadata column exposes per-cell region provenance") {
    import graft.sources.cell.CellFooterCache
    SparkEntry.queries("scan_cell_connector")(s, dir).queryExecution // stage
    val store = Fixtures.storePath(dir)
    val rows = s.read.format("graftcell").load(store)
      .select(col("rowkey"), col("_region_file")).collect()
    assert(rows.nonEmpty && rows.forall(_.getString(1).endsWith(".parquet")))
    // provenance covers exactly the store's region files
    assert(rows.map(_.getString(1)).distinct.toSet ==
           CellFooterCache.filesOf(store).map(_.path).toSet)
    // hidden: a plain SELECT * must NOT include the metadata column
    assert(!s.read.format("graftcell").load(store).columns
      .contains("_region_file"))
  }

  test("TRUNCATE TABLE and non-acceptable DELETE predicates (COW fallback)") {
    val root = SparkFixture.scratchDir("graft_trunc_spec_").toString
    s.conf.set("spark.sql.catalog.graftspec",
               classOf[graft.sources.cell.GraftCellCatalog].getName)
    s.conf.set("spark.sql.catalog.graftspec.root", root)
    s.sql("""CREATE TABLE graftspec.t (rowkey STRING, family STRING,
             qualifier STRING, version BIGINT, value STRING)
             USING graftcell""")
    import scala.collection.JavaConverters._
    def insert(): Unit = s.createDataFrame(
      ('a' to 'j').map(c =>
        org.apache.spark.sql.Row(c.toString, "d", s"q_$c", 1L, s"v$c")).asJava,
      GraftCell.SCHEMA).createOrReplaceTempView("graft_trunc_src")
    insert()
    s.sql("INSERT INTO graftspec.t SELECT * FROM graft_trunc_src")
    // a predicate the source can't accept (endsWith) falls back to the
    // row-level COW rewrite — and still deletes exactly the right rows
    s.sql("DELETE FROM graftspec.t WHERE qualifier LIKE '%_a'")
    val left = s.sql("SELECT rowkey FROM graftspec.t ORDER BY rowkey")
      .collect().map(_.getString(0)).toSeq
    assert(left == ('b' to 'j').map(_.toString))
    // TRUNCATE takes the metadata-only truncateTable override (r16 —
    // no longer the deleteWhere(AlwaysTrue) default) — must empty the
    // store just the same
    s.sql("TRUNCATE TABLE graftspec.t")
    assert(s.sql("SELECT count(*) FROM graftspec.t").collect()(0).getLong(0) == 0L)
    assert(graft.sources.cell.CellFooterCache
      .filesOf(s"$root/t").isEmpty)
  }

  test("VERSION AS OF resolves named snapshots; snapshot tables refuse DML") {
    val got = SparkEntry.queries("sql_cell_time_travel")(s, dir).collect().toSeq
    val want = SparkEntry.queries("sink_hbase_cells")(s, dir).collect().toSeq
    assert(got == want) // the snapshot view IS the base generation
    // the live table has grown past the snapshot
    val live = s.sql("SELECT count(*) FROM graftcat.events_tt")
      .collect()(0).getLong(0)
    assert(live > want.size, s"live $live vs snapshot ${want.size}")
    // unknown version fails fast; DML through a snapshot is refused
    intercept[Exception] {
      s.sql("SELECT * FROM graftcat.events_tt VERSION AS OF 'nope'").collect()
    }
    intercept[Exception] {
      s.sql("DELETE FROM graftcat.events_tt VERSION AS OF 's1' WHERE rowkey = '1'")
    }
  }

  test("TIMESTAMP AS OF resolves commit-stamped manifests; refuses pre-creation times") {
    import graft.sources.cell.{CellFooterCache, CellManifest}
    // the contract key stages a two-era table and reads era 1 by stamp
    val got = SparkEntry.queries("sql_cell_time_travel_ts")(s, dir).collect().toSeq
    val want = SparkEntry.queries("sink_hbase_cells")(s, dir).collect().toSeq
    assert(got == want && want.nonEmpty) // the pin IS the base generation
    val store = Fixtures.warehouse(dir) + "/events_tts"
    val stamps = CellFooterCache.committedDirs(store)
      .map(d => CellManifest.commitStampOf(store, d)).sorted
    assert(stamps.size == 2 && stamps(0) < stamps(1),
      s"expected two strictly ordered era stamps, got $stamps")
    // a timestamp at/past the newest commit sees the grown live table
    val live = s.sql(s"""SELECT count(*) FROM graftcat.events_tts
                         TIMESTAMP AS OF timestamp_micros(${stamps(1)}L)""")
      .collect()(0).getLong(0)
    assert(live > want.size, s"live-era read $live vs era-1 ${want.size}")
    // a timestamp BEFORE the current first commit is refused, never
    // empty- or thin-read: "precedes" on a fresh store, or (r18) the
    // total-or-loud "cannot be reconstructed" when the travel log
    // remembers an earlier overwritten generation in that window
    val e = intercept[Exception] {
      s.sql(s"""SELECT * FROM graftcat.events_tts
                TIMESTAMP AS OF timestamp_micros(${stamps(0) - 1}L)""").collect()
    }
    assert(e.getMessage != null &&
           (e.getMessage.contains("precedes") ||
            e.getMessage.contains("cannot be reconstructed")),
           s"wrong refusal: $e")
    // and a timestamp before everything the log has ever seen still
    // says "precedes"
    val firstKnown = (stamps ++ graft.sources.cell.CellTravelLog
      .read(store).filter(_.kind == "retire").map(_.stamp)).min
    val e0 = intercept[Exception] {
      s.sql(s"""SELECT * FROM graftcat.events_tts
                TIMESTAMP AS OF timestamp_micros(${firstKnown - 1}L)""").collect()
    }
    assert(e0.getMessage.contains("precedes"), s"wrong refusal: $e0")
    // DML through a timestamp pin is refused like any time-travel view
    intercept[Exception] {
      s.sql(s"""DELETE FROM graftcat.events_tts
                TIMESTAMP AS OF timestamp_micros(${stamps(0)}L)
                WHERE rowkey = '1'""")
    }
  }

  test("reported output ordering elides per-partition sorts above the scan") {
    SparkEntry.queries("scan_cell_connector")(s, dir).queryExecution // stage
    val store = Fixtures.storePath(dir)
    // sortWithinPartitions on the reported prefix: the Sort node must
    // vanish (each partition is already (rowkey, family, qualifier)-
    // sorted — the declared write ordering the scan now reports)
    val sorted = s.read.format("graftcell").load(store)
      .sortWithinPartitions("rowkey", "family")
    assert(!sorted.queryExecution.executedPlan.toString.contains("Sort "),
           s"local sort not elided:\n${sorted.queryExecution.executedPlan}")
    // a non-prefix ordering must still sort
    val resorted = s.read.format("graftcell").load(store)
      .sortWithinPartitions("version")
    assert(resorted.queryExecution.executedPlan.toString.contains("Sort "),
           "version ordering wrongly considered satisfied")
    // correctness unchanged: within every partition rows really are
    // rowkey-ordered
    val ok = sorted.select("rowkey").rdd
      .mapPartitions { it =>
        val keys = it.map(_.getString(0)).toSeq
        Iterator.single(keys == keys.sorted)
      }.collect()
    assert(ok.forall(identity))
  }

  // ---- end-to-end equality with the inline query-pattern twins -----------

  test("connector range scan ≡ cell_scan_range query pattern") {
    val viaConnector = SparkEntry.queries("cell_connector_range")(s, dir)
    val viaPattern = SparkEntry.queries("cell_scan_range")(s, dir)
    assert(viaConnector.collect().toSeq == viaPattern.collect().toSeq)
  }

  test("connector full scan ≡ sink_hbase_cells query pattern") {
    val viaConnector = SparkEntry.queries("scan_cell_connector")(s, dir)
    val viaPattern = SparkEntry.queries("sink_hbase_cells")(s, dir)
    assert(viaConnector.collect().toSeq == viaPattern.collect().toSeq)
  }

  test("runtime (DPP-style) filters prune region files at plan time") {
    import org.apache.spark.sql.sources.In
    // stage + full-scan builder (no static filters)
    SparkEntry.queries("scan_cell_connector")(s, dir).queryExecution // stage
    val store = Fixtures.storePath(dir)
    val builder = new sources.cell.GraftCellScanBuilder(store)
    val scan = builder.build()
    val total = scan.toBatch.planInputPartitions().length
    assert(total > 1, s"need a multi-file store, got $total")
    // a join build side delivered two rowkeys at runtime: the [min,max]
    // envelope must collapse the planned files to the regions they hit
    val rf = scan.asInstanceOf[org.apache.spark.sql.connector.read.SupportsRuntimeFiltering]
    assert(rf.filterAttributes().map(_.toString).toSeq == Seq("rowkey"))
    rf.filter(Array[org.apache.spark.sql.sources.Filter](
      In("rowkey", Array("41", "42"))))
    val pruned = scan.toBatch.planInputPartitions().length
    assert(pruned < total, s"runtime filter did not prune: $pruned/$total")
    // and the runtime filter is evaluated EXACTLY, not just enveloped
    val reader = new sources.cell.CellPartitionReaderFactory()
    val rows = scan.toBatch.planInputPartitions().flatMap { part =>
      val r = reader.createColumnarReader(part)
      val buf = scala.collection.mutable.ArrayBuffer.empty[String]
      while (r.next()) {
        val b = r.get()
        buf ++= (0 until b.numRows()).map(b.column(0).getUTF8String(_).toString)
      }
      r.close(); buf
    }
    assert(rows.nonEmpty && rows.toSet == Set("41", "42"),
           s"runtime-filtered rowkeys: ${rows.toSet}")
  }

  test("limit pushdown stops region readers early") {
    val store = Fixtures.storePath(dir)
    val df = s.read.format("graftcell").load(store).limit(7)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("limit: 7"), s"limit not pushed:\n$plan")
    assert(df.collect().length == 7)
  }

  test("topN pushdown: rowkey-prefix ordering rides the file sort order") {
    val store = Fixtures.storePath(dir)
    val df = s.read.format("graftcell").load(store)
      .orderBy("rowkey").limit(5)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("topN: 5"), s"topN not pushed:\n$plan")
    val got = df.collect().map(_.getString(0))
    // correct global top-5 rowkeys (merged across region files)
    val want = SparkEntry.queries("sink_hbase_cells")(s, dir)
      .orderBy("rowkey").limit(5).collect().map(_.getString(0))
    assert(got.sorted.toSeq == want.sorted.toSeq, s"topN wrong: ${got.toSeq}")
    // a non-prefix ordering must NOT be accepted
    val df2 = s.read.format("graftcell").load(store)
      .orderBy(col("version").desc).limit(5)
    assert(!df2.queryExecution.executedPlan.toString.contains("topN"),
           "topN wrongly accepted for a non-prefix ordering")
    assert(df2.collect().length == 5)
  }

  test("ungrouped COUNT/MIN/MAX are answered from footers (0 data bytes)") {
    SparkEntry.queries("scan_cell_connector")(s, dir).queryExecution // stage
    val store = Fixtures.storePath(dir)
    val df = s.read.format("graftcell").load(store)
      .agg(count(lit(1)).as("n"), min("rowkey").as("mn"),
           max("rowkey").as("mx"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GraftCellAggScan"), s"agg not pushed:\n$plan")
    assert(plan.contains("PushedAggregates: [COUNT(*), MIN(rowkey), MAX(rowkey)]"))
    val r = df.collect()(0)
    val cells = SparkEntry.queries("sink_hbase_cells")(s, dir)
      .agg(count(lit(1)), min("rowkey"), max("rowkey")).collect()(0)
    assert((r.getLong(0), r.getString(1), r.getString(2)) ==
           (cells.getLong(0), cells.getString(1), cells.getString(2)))
    // a REGION-ALIGNED filter keeps the metadata answer (r16): the
    // store is split on the first rowkey byte, so >= '5' puts every
    // file provably in or out
    val filtered = s.read.format("graftcell").load(store)
      .filter(col("rowkey") >= "5").agg(count(lit(1)).as("n"))
    assert(filtered.queryExecution.executedPlan.toString
             .contains("GraftCellAggScan"),
           "aligned filtered agg should stay a metadata answer")
    val wantFiltered = SparkEntry.queries("sink_hbase_cells")(s, dir)
      .filter(col("rowkey") >= "5").count()
    assert(filtered.collect()(0).getLong(0) == wantFiltered)
    // a STRADDLING bound ('55' cuts region-5 files mid-span) refuses
    // the metadata answer (stats can't see inside a file)
    val straddle = s.read.format("graftcell").load(store)
      .filter(col("rowkey") >= "55").agg(count(lit(1)).as("n"))
    assert(!straddle.queryExecution.executedPlan.toString
             .contains("GraftCellAggScan"),
           "agg pushdown must refuse a straddling bound")
    val wantStraddle = SparkEntry.queries("sink_hbase_cells")(s, dir)
      .filter(col("rowkey") >= "55").count()
    assert(straddle.collect()(0).getLong(0) == wantStraddle)
  }

  test("grouped metadata COUNT (r19): COUNT(*) GROUP BY family answers " +
       "from family-pure manifests; a straddling file refuses") {
    import scala.collection.JavaConverters._
    val store = SparkFixture.scratchDir("graft_gfam_spec_").toString + "/t"
    def rows(fam: String, ks: Seq[String]) = s.createDataFrame(
      ks.map(k => org.apache.spark.sql.Row(k, fam, "q", 1L, s"v$k")).asJava,
      GraftCell.SCHEMA)
    // one append per family → every region file is family-pure
    rows("d", ('a' to 'j').map(_.toString))
      .write.format("graftcell").mode("append").save(store)
    rows("m", ('a' to 'e').map(_.toString))
      .write.format("graftcell").mode("append").save(store)
    val df = s.read.format("graftcell").load(store)
      .groupBy(col("family")).agg(count(lit(1)).as("n")).orderBy("family")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GraftCellAggScan") &&
           plan.contains("PushedGroupBy: [family]"),
      s"grouped COUNT not answered from manifests:\n$plan")
    assert(df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
           Seq(("d", 10L), ("m", 5L)))
    // NULL families land in the NULL group — nullFams evidence, not a
    // guess (a file may be all-null-family and still answer)
    s.createDataFrame(
      Seq(org.apache.spark.sql.Row("zz", null, "q", 1L, "vz"),
          org.apache.spark.sql.Row("zy", null, "q", 1L, "vy")).asJava,
      GraftCell.SCHEMA)
      .write.format("graftcell").mode("append").save(store)
    val withNull = s.read.format("graftcell").load(store)
      .groupBy(col("family")).agg(count(lit(1)).as("n")).orderBy("family")
    assert(withNull.queryExecution.executedPlan.toString
             .contains("PushedGroupBy: [family]"))
    assert(withNull.collect()
             .map(r => (r.getString(0), r.getLong(1))).toSeq ==
           Seq((null, 2L), ("d", 10L), ("m", 5L)))
    // a FAMILY-STRADDLING file (two families in one append; same
    // rowkey, so the declared rowkey-clustered distribution provably
    // lands both in ONE file) refuses — the normal scan runs and the
    // answer stays correct
    s.createDataFrame(
      Seq(org.apache.spark.sql.Row("k1", "d", "q", 1L, "v1"),
          org.apache.spark.sql.Row("k1", "m", "q", 1L, "v2")).asJava,
      GraftCell.SCHEMA)
      .write.format("graftcell").mode("append").save(store)
    val mixed = s.read.format("graftcell").load(store)
      .groupBy(col("family")).agg(count(lit(1)).as("n")).orderBy("family")
    assert(!mixed.queryExecution.executedPlan.toString
             .contains("GraftCellAggScan"),
      "grouped pushdown must refuse a family-straddling file")
    assert(mixed.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
           Seq((null, 2L), ("d", 11L), ("m", 6L)))
    // other group-by columns refuse (qualifier is not family-pure
    // evidence) — correctness via the normal scan
    val byQual = s.read.format("graftcell").load(store)
      .groupBy(col("qualifier")).agg(count(lit(1)).as("n"))
    assert(!byQual.queryExecution.executedPlan.toString
             .contains("GraftCellAggScan"))
    assert(byQual.collect()(0).getLong(1) == 19L)
  }

  test("build_index (r19): provenance descriptor persists, a mismatched " +
       "rebuild refuses, a matching rebuild is idempotent") {
    // the contract keys stage the fixture; this spec pins the verbs
    SparkEntry.queries("sql_cell_call_build_index")(s, dir).collect()
    val props = s.sql("SHOW TBLPROPERTIES graftcat.events_gi_idx_uid")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("index.of").contains("events_gi") &&
           props.get("index.family").contains("d") &&
           props.get("index.qualifier").contains("user_id"),
      s"index provenance must persist in the descriptor: $props")
    // repurposing the index to a different column refuses loudly
    val e = intercept[Exception] {
      s.sql("CALL graftcat.build_index('events_gi', 'uid', 'd', 'value')")
        .collect()
    }
    assert(e.getMessage.contains("refusing to rebuild"),
      s"mismatched rebuild must refuse: ${e.getMessage}")
    // a matching rebuild is a full overwrite landing on the same rows
    val before = s.table("graftcat.events_gi_idx_uid")
      .orderBy("rowkey", "version").collect()
    s.sql("CALL graftcat.build_index('events_gi', 'uid', 'd', 'user_id')")
      .collect()
    val after = s.table("graftcat.events_gi_idx_uid")
      .orderBy("rowkey", "version").collect()
    assert(before.sameElements(after), "rebuild must be idempotent")
    // the index changes the plan, never the answer: probe result ==
    // the direct value filter + semi join on the base table
    val probed = SparkEntry.queries("cell_index_probe")(s, dir)
      .collect().map(_.toString).sorted
    val minVal = s.sql(
      """SELECT min(value) FROM graftcat.events_gi
         WHERE family = 'd' AND qualifier = 'value'""")
      .collect()(0).getString(0)
    val base = s.table("graftcat.events_gi")
    val want = base.join(
        base.filter(col("family") === "d" && col("qualifier") === "value" &&
                    col("value") === minVal)
          .select(col("rowkey").as("__rk")).distinct(),
        col("rowkey") === col("__rk"), "left_semi")
      .collect().map(_.toString).sorted
    assert(probed.nonEmpty && probed.sameElements(want),
      s"index-assisted probe diverged from the direct semi join: " +
      s"${probed.length} vs ${want.length} rows")
  }

  test("sync_index across a structural rewrite (r19 refused; r20 takes " +
       "the content-level delta and lands on the rebuild's view)") {
    // the contract key stages events_si + its synced uid index
    SparkEntry.queries("sql_cell_call_sync_index")(s, dir).collect()
    // a compaction rewrites base history: pinned generations leave the
    // live set and the travel log gains post-snapshot events — the
    // dir-granular append-only delta contract is broken
    s.sql("CALL graftcat.compact('events_si')").collect()
    // the indexes metadata table surfaces the rewrite BEFORE any verb
    // is attempted (r19 — SHOW INDEXES' health column; since r20 it
    // means "the next sync takes the content path", not "sync refuses")
    val broken = s.sql(
      "SELECT rewritten_since_sync FROM graftcat.events_si.indexes")
      .collect()
    assert(broken.length == 1 && broken(0).getInt(0) == 1,
      s"g.t.indexes must report the rewrite: ${broken.toSeq}")
    // r20: the sync SUCCEEDS via the content-level delta. This
    // default compaction resolves to max_versions=1, so the '8'-band
    // entities whose uid cells existed at TWO versions (base +
    // the '#'-suffixed sync band) lose the older one — the content
    // sync must DELETE exactly those index entries and append nothing
    val r0 = s.sql("CALL graftcat.sync_index('events_si', 'uid')")
      .collect()(0)
    assert(r0.getString(4) == "content" && r0.getLong(1) == 0L &&
           r0.getLong(3) > 0L,
      s"post-compaction sync must take the content path and delete " +
      s"the GC'd versions' entries: $r0")
    // ... landing the index exactly where a rebuild would (bit-exact)
    val synced = s.table("graftcat.events_si_idx_uid")
      .orderBy("rowkey", "version").collect()
    s.sql("CALL graftcat.build_index('events_si', 'uid', 'd', 'user_id')")
      .collect()
    val rebuilt = s.table("graftcat.events_si_idx_uid")
      .orderBy("rowkey", "version").collect()
    assert(synced.sameElements(rebuilt),
      "content sync must land exactly on the rebuild's view")
    val r = s.sql("CALL graftcat.sync_index('events_si', 'uid')")
      .collect()(0)
    assert(r.getLong(1) == 0L && r.getLong(2) == 0L,
      s"post-rebuild sync must be a no-op: $r")
    // ... and a post-rebuild append syncs incrementally again
    s.sql("""INSERT INTO graftcat.events_si
             SELECT rowkey, family, qualifier,
                    version + 9000000 AS version, value
             FROM graft_catalog_src WHERE rowkey >= '9'""")
    // pre-sync, the metadata table counts the pending delta and stays
    // clean (appends never break the contract)
    val pending = s.sql(
      """SELECT delta_generations, rewritten_since_sync
         FROM graftcat.events_si.indexes""").collect()(0)
    assert(pending.getLong(0) == 1L && pending.getInt(1) == 0,
      s"g.t.indexes must count the pending append delta: $pending")
    val r2 = s.sql("CALL graftcat.sync_index('events_si', 'uid')")
      .collect()(0)
    assert(r2.getLong(1) > 0L && r2.getLong(2) == 1L,
      s"post-rebuild delta must sync: $r2")
    // a table without index provenance refuses the bare call
    s.sql("DROP TABLE IF EXISTS graftcat.plain_idx_p")
    s.sql("""CREATE TABLE graftcat.plain_idx_p (
               rowkey STRING, family STRING, qualifier STRING,
               version BIGINT, value STRING) USING graftcell""")
    val e2 = intercept[Exception] {
      s.sql("CALL graftcat.sync_index('plain', 'p')").collect()
    }
    assert(e2.getMessage.contains("index.of") ||
           e2.getMessage.contains("not an index table") ||
           e2.getMessage.contains("descriptor"),
      s"a provenance-less table must refuse sync: ${e2.getMessage}")
  }

  test("grouped metadata MIN/MAX(version) (r19): answered from per-file " +
       "TimeRanges on group-pure files; a mixed null-family file refuses") {
    import scala.collection.JavaConverters._
    val store = SparkFixture.scratchDir("graft_gver_spec_").toString + "/t"
    def rows(fam: String, ks: Seq[(String, Long)]) = s.createDataFrame(
      ks.map { case (k, v) =>
        org.apache.spark.sql.Row(k, fam, "q", v, s"v$k") }.asJava,
      GraftCell.SCHEMA)
    // one append per family → family-pure, nullFams = 0 everywhere
    rows("d", Seq("a" -> 100L, "b" -> 300L, "c" -> 200L))
      .write.format("graftcell").mode("append").save(store)
    rows("m", Seq("a" -> 900L, "b" -> 50L))
      .write.format("graftcell").mode("append").save(store)
    val df = s.read.format("graftcell").load(store)
      .groupBy(col("family"))
      .agg(count(lit(1)).as("n"), min("version").as("mn"),
           max("version").as("mx"))
      .orderBy("family")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GraftCellAggScan") &&
           plan.contains("PushedGroupBy: [family]") &&
           plan.contains("MIN(version)") && plan.contains("MAX(version)"),
      s"grouped version extremes not answered from manifests:\n$plan")
    assert(df.collect().map(r =>
             (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
             .toSeq ==
           Seq(("d", 3L, 100L, 300L), ("m", 2L, 50L, 900L)))
    // an ALL-NULL-family file is still group-pure: its TimeRange
    // belongs whole to the NULL group
    s.createDataFrame(
      Seq(org.apache.spark.sql.Row("zz", null, "q", 77L, "vz")).asJava,
      GraftCell.SCHEMA)
      .write.format("graftcell").mode("append").save(store)
    val withNull = s.read.format("graftcell").load(store)
      .groupBy(col("family"))
      .agg(min("version").as("mn"), max("version").as("mx"))
      .orderBy("family")
    assert(withNull.queryExecution.executedPlan.toString
             .contains("PushedGroupBy: [family]"))
    assert(withNull.collect().map(r =>
             (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
           Seq((null, 77L, 77L), ("d", 100L, 300L), ("m", 50L, 900L)))
    // grouped MIN/MAX(rowkey) rides the same group-pure rule: each
    // file's key range belongs whole to its one group
    val keyExt = s.read.format("graftcell").load(store)
      .groupBy(col("family"))
      .agg(min("rowkey").as("mnk"), max("rowkey").as("mxk"))
      .orderBy("family")
    assert(keyExt.queryExecution.executedPlan.toString
             .contains("PushedGroupBy: [family]"),
      "grouped rowkey extremes must answer from manifests")
    assert(keyExt.collect().map(r =>
             (r.getString(0), r.getString(1), r.getString(2))).toSeq ==
           Seq((null, "zz", "zz"), ("d", "a", "c"), ("m", "a", "b")))
    // a MIXED file (null-family AND family rows) keeps grouped COUNT
    // (nullFams splits it exactly) but refuses version extremes — the
    // file's one TimeRange spans two groups, neither extreme is
    // attributable. Same rowkey so both rows provably share one file.
    s.createDataFrame(
      Seq(org.apache.spark.sql.Row("k1", "d", "q", 5L, "v1"),
          org.apache.spark.sql.Row("k1", null, "q", 9999L, "v2")).asJava,
      GraftCell.SCHEMA)
      .write.format("graftcell").mode("append").save(store)
    val mixedCnt = s.read.format("graftcell").load(store)
      .groupBy(col("family")).agg(count(lit(1)).as("n"))
    assert(mixedCnt.queryExecution.executedPlan.toString
             .contains("PushedGroupBy: [family]"),
      "grouped COUNT must survive a mixed file (nullFams splits it)")
    val mixedVer = s.read.format("graftcell").load(store)
      .groupBy(col("family")).agg(min("version").as("mn"))
    assert(!mixedVer.queryExecution.executedPlan.toString
             .contains("GraftCellAggScan"),
      "grouped version extremes must refuse a mixed null-family file")
    val mixedKey = s.read.format("graftcell").load(store)
      .groupBy(col("family")).agg(max("rowkey").as("mx"))
    assert(!mixedKey.queryExecution.executedPlan.toString
             .contains("GraftCellAggScan"),
      "grouped rowkey extremes must refuse a mixed null-family file")
    assert(mixedVer.orderBy("family").collect().map(r =>
             (r.getString(0), r.getLong(1))).toSeq ==
           Seq((null, 77L), ("d", 5L), ("m", 50L)),
      "refused pushdown must still answer correctly via the scan")
    // UNGROUPED MIN/MAX(version) answers from the global TimeRange
    // fold (no purity requirement — there is only one group)
    val ung = s.read.format("graftcell").load(store)
      .agg(min("version").as("mn"), max("version").as("mx"))
    val uplan = ung.queryExecution.executedPlan.toString
    assert(uplan.contains("GraftCellAggScan") &&
           uplan.contains("MIN(version)"),
      s"ungrouped version extremes not answered from manifests:\n$uplan")
    assert(ung.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
           Seq((5L, 9999L)))
  }

  test("grouped metadata aggregates over a REGION-ALIGNED band (r19): " +
       "counts subtract nullKeys; straddles and version leaks refuse") {
    import scala.collection.JavaConverters._
    val store = SparkFixture.scratchDir("graft_gband_spec_").toString + "/t"
    def put(fam: String, ks: Seq[(String, Long)]) = s.createDataFrame(
      ks.map { case (k, v) =>
        org.apache.spark.sql.Row(k, fam, "q", v, s"v$k") }.asJava,
      GraftCell.SCHEMA)
      .write.format("graftcell").mode("append").save(store)
    // per-(family, band) appends: every file provably in/out of 'f'
    put("d", Seq("a" -> 10L, "b" -> 20L, "e" -> 30L))
    put("d", Seq("f" -> 40L, "j" -> 50L))
    put("m", Seq("c" -> 60L))
    put("m", Seq("g" -> 70L, "h" -> 15L))
    val band = s.read.format("graftcell").load(store)
      .filter(col("rowkey") >= "f")
      .groupBy(col("family"))
      .agg(count(lit(1)).as("n"), min("version").as("mn"))
      .orderBy("family")
    val plan = band.queryExecution.executedPlan.toString
    assert(plan.contains("GraftCellAggScan") &&
           plan.contains("PushedGroupBy: [family]"),
      s"aligned grouped band count must answer from manifests:\n$plan")
    assert(band.collect().map(r =>
             (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
           Seq(("d", 2L, 40L), ("m", 2L, 15L)))
    // a bound INSIDE a file's span straddles it — refuse, scan answers
    val straddle = s.read.format("graftcell").load(store)
      .filter(col("rowkey") >= "b")
      .groupBy(col("family")).agg(count(lit(1)).as("n"))
    assert(!straddle.queryExecution.executedPlan.toString
             .contains("GraftCellAggScan"),
      "a straddling bound must refuse the grouped metadata answer")
    assert(straddle.orderBy("family").collect().map(r =>
             (r.getString(0), r.getLong(1))).toSeq ==
           Seq(("d", 4L), ("m", 3L)))
    // a NULL-rowkey row inside the band: COUNT pushes (nullKeys splits
    // it exactly) but the filtered version extreme refuses — the null
    // row's version sits in the file's TimeRange yet never qualifies
    put("d", Seq((null, 5L), ("zz", 80L)))
    val cnt = s.read.format("graftcell").load(store)
      .filter(col("rowkey") >= "f")
      .groupBy(col("family")).agg(count(lit(1)).as("n"))
      .orderBy("family")
    assert(cnt.queryExecution.executedPlan.toString
             .contains("PushedGroupBy: [family]"),
      "grouped band COUNT must survive a null-rowkey row (nullKeys)")
    assert(cnt.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
           Seq(("d", 3L), ("m", 2L)))
    val verLeak = s.read.format("graftcell").load(store)
      .filter(col("rowkey") >= "f")
      .groupBy(col("family")).agg(min("version").as("mn"))
    assert(!verLeak.queryExecution.executedPlan.toString
             .contains("GraftCellAggScan"),
      "filtered version extremes must refuse files with null rowkeys")
    assert(verLeak.orderBy("family").collect().map(r =>
             (r.getString(0), r.getLong(1))).toSeq ==
           Seq(("d", 40L), ("m", 15L)),
      "the refused path must exclude the null-rowkey row's version")
    // the UNGROUPED filtered version extreme refuses for the same
    // reason (the null row's version 5 must never surface)
    val ungrouped = s.read.format("graftcell").load(store)
      .filter(col("rowkey") >= "f").agg(min("version").as("mn"))
    assert(!ungrouped.queryExecution.executedPlan.toString
             .contains("GraftCellAggScan"),
      "ungrouped filtered version extremes must refuse null-rowkey files")
    assert(ungrouped.collect()(0).getLong(0) == 15L)
  }

  test("write path emits sorted, non-overlapping region files (declared layout)") {
    // RequiresDistributionAndOrdering evidence: after the connector
    // write, every committed file's footer [min,max] rowkey interval is
    // pairwise disjoint — the range shuffle the sink DECLARED actually
    // shaped the store (and tight stats make read-side pruning work).
    SparkEntry.queries("sink_cell_connector_write")(s, dir).collect()
    val store = Fixtures.storePath(dir) + "_w"
    val metas = sources.cell.CellFooterCache.filesOf(store)
    assert(metas.nonEmpty, "no committed region files")
    assert(metas.forall(m => m.minKey.nonEmpty && m.maxKey.nonEmpty),
           "missing rowkey footer stats")
    val spans = metas.map(m => (m.minKey.get, m.maxKey.get))
      .sortBy(_._1.toSeq.map(b => b & 0xff).mkString(","))
    val sorted = spans.map(x => (new String(x._1), new String(x._2)))
      .sortBy(_._1)
    sorted.sliding(2).foreach {
      case Seq((_, hiA), (loB, _)) =>
        assert(hiA <= loB, s"overlapping region files: $sorted")
      case _ =>
    }
    // and the written store round-trips the full cell set
    val got = s.read.format("graftcell").load(store)
      .orderBy("rowkey", "qualifier").collect().toSeq
    val want = SparkEntry.queries("sink_hbase_cells")(s, dir).collect().toSeq
    assert(got == want)
  }

  // ---- streaming (replication) read --------------------------------------

  test("streaming offset JSON round-trips as a canonical sorted set") {
    import graft.sources.cell.GraftCellOffset
    val o = GraftCellOffset.of(Seq("batch_b", "batch_a", "region=1"))
    assert(o.dirs == Seq("batch_a", "batch_b", "region=1"))
    assert(GraftCellOffset.fromJson(o.json()) == o)
    // set-equality through JSON: insertion order must not matter
    assert(GraftCellOffset.of(Seq("region=1", "batch_a", "batch_b")).json()
           == o.json())
  }

  test("streaming read drains the store batch-by-batch and equals the batch read") {
    val q = SparkEntry.queries("stream_cell_connector")(s, dir)
    val got = q.collect().toSeq
    val want = s.read.format("graftcell")
      .load(graft.operators.CellConnector.stageCdc(s, dir))
      .filter(col("rowkey") >= "20" && col("rowkey") < "40")
      .orderBy("rowkey", "qualifier").collect().toSeq
    assert(got == want && got.nonEmpty)
  }

  test("streaming resume from checkpoint delivers ONLY new batches (exactly-once)") {
    import org.apache.spark.sql.streaming.Trigger
    val root = SparkFixture.scratchDir("graft_cdc_spec_").toString
    val store = s"$root/store"
    val cp = s"$root/ckpt"
    def cellDf(keys: (String, String)*) = {
      import scala.collection.JavaConverters._
      s.createDataFrame(
        keys.map { case (rk, v) =>
          org.apache.spark.sql.Row(rk, "d", "q", 1L, v) }.asJava,
        GraftCell.SCHEMA)
    }
    // the memory sink cannot recover from a checkpoint, so resume
    // evidence uses the FILE sink: one output dir + one checkpoint
    // shared across runs. The sink appends each processed batch, so any
    // replay would surface as duplicate rows in the cumulative set.
    val out = s"$root/out"
    // (rows, fed micro-batches, columnar flags of the last micro-batch's scans)
    def drain(): (Seq[(String, String)], Long, Seq[Boolean]) = {
      val q = s.readStream.format("graftcell").load(store)
        .writeStream.format("parquet").option("path", out)
        .outputMode("append").trigger(Trigger.AvailableNow())
        .option("checkpointLocation", cp).start()
      q.awaitTermination()
      val rows = s.read.schema(GraftCell.SCHEMA).parquet(out)
        .select("rowkey", "value").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq.sorted
      val fedBatches = q.recentProgress.count(_.numInputRows > 0).toLong
      val last = q.asInstanceOf[org.apache.spark.sql.execution.streaming
        .runtime.StreamingQueryWrapper].streamingQuery.lastExecution
      val columnar = Option(last).toSeq.flatMap(_.executedPlan.collect {
        case m: org.apache.spark.sql.execution.datasources.v2
            .MicroBatchScanExec => m.supportsColumnar
      })
      (rows, fedBatches, columnar)
    }
    // two committed batches, first run: both delivered, one per micro-batch
    cellDf("a" -> "1", "b" -> "2").write.format("graftcell").mode("append").save(store)
    cellDf("c" -> "3").write.format("graftcell").mode("append").save(store)
    val (rows1, batches1, columnar1) = drain()
    assert(rows1 == Seq("a" -> "1", "b" -> "2", "c" -> "3"))
    assert(batches1 == 2L, s"admission control should pace 2 dirs as 2 micro-batches, saw $batches1")
    // the micro-batch scan decodes through the same columnar reader as
    // batch reads
    assert(columnar1 == Seq(true),
      s"micro-batch scan should run columnar, saw $columnar1")
    // a third batch commits AFTER the first drain; resume from the same
    // checkpoint must deliver exactly the new batch — nothing replayed
    // (a replay would duplicate a/b/c in the cumulative file-sink set)
    cellDf("d" -> "4").write.format("graftcell").mode("append").save(store)
    val (rows2, batches2, _) = drain()
    assert(rows2 == Seq("a" -> "1", "b" -> "2", "c" -> "3", "d" -> "4"))
    assert(batches2 == 1L, s"resume should feed exactly the 1 new dir, saw $batches2")
    // nothing new: a third resume feeds zero batches and changes nothing
    val (rows3, batches3, _) = drain()
    assert(rows3 == rows2 && batches3 == 0L)
  }

  test("streaming write replicates store-to-store, one epoch dir per source batch") {
    import org.apache.spark.sql.streaming.Trigger
    import graft.sources.cell.CellFooterCache
    val root = SparkFixture.scratchDir("graft_repl_spec_").toString
    val (src, dst, cp) = (s"$root/src", s"$root/dst", s"$root/ckpt")
    def cellDf(keys: (String, String)*) = {
      import scala.collection.JavaConverters._
      s.createDataFrame(
        keys.map { case (rk, v) =>
          org.apache.spark.sql.Row(rk, "d", "q", 1L, v) }.asJava,
        GraftCell.SCHEMA)
    }
    def replicate(): Unit = {
      val q = s.readStream.format("graftcell").load(src)
        .writeStream.format("graftcell").option("path", dst)
        .outputMode("append").trigger(Trigger.AvailableNow())
        .option("checkpointLocation", cp).start()
      q.awaitTermination()
    }
    def cellsOf(store: String): Seq[(String, String)] =
      s.read.format("graftcell").load(store)
        .select("rowkey", "value").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq.sorted
    cellDf("a" -> "1", "b" -> "2").write.format("graftcell").mode("append").save(src)
    cellDf("c" -> "3").write.format("graftcell").mode("append").save(src)
    replicate()
    assert(cellsOf(dst) == cellsOf(src))
    // one replica batch dir per source batch (epoch granularity preserved)
    assert(CellFooterCache.committedDirs(dst).size == 2)
    // incremental: a post-replication source commit arrives as exactly
    // one new replica batch on resume — nothing re-replicated
    cellDf("d" -> "4").write.format("graftcell").mode("append").save(src)
    replicate()
    assert(cellsOf(dst) == cellsOf(src))
    assert(CellFooterCache.committedDirs(dst).size == 3)
  }

  test("streaming-write epoch replay hits the idempotence guard (no double commit)") {
    import graft.sources.cell.GraftCellStreamingWrite
    val root = SparkFixture.scratchDir("graft_epoch_spec_").toString
    val w = new GraftCellStreamingWrite(root, "q1")
    // epoch 0 already committed (dest dir exists with a data file) and a
    // replayed attempt left a tmp dir behind
    val dest = new java.io.File(root, "batch_q1_ep0")
    dest.mkdirs()
    java.nio.file.Files.write(new java.io.File(dest, "part-00000.parquet").toPath,
                              Array[Byte](1))
    val tmp = new java.io.File(root, "_tmp_q1_ep0")
    tmp.mkdirs()
    java.nio.file.Files.write(new java.io.File(tmp, "part-00000.parquet").toPath,
                              Array[Byte](2))
    w.commit(0L, Array.empty)
    // replay dropped: tmp cleaned, committed dir untouched, no stage dir
    assert(!tmp.exists())
    assert(dest.exists() &&
           new java.io.File(dest, "part-00000.parquet").length() == 1L)
    assert(!new java.io.File(root, "_stage_q1_ep0").exists())
  }

  test("overwrite commit that throws while staging leaves the previous rows readable") {
    import graft.sources.cell.{CellFileMeta, CellFilesCommitted, GraftCellBatchWrite}
    val root = SparkFixture.scratchDir("graft_overwrite_spec_").toString
    val cells = {
      import scala.collection.JavaConverters._
      s.createDataFrame(Seq("a", "b", "c").map(rk =>
        org.apache.spark.sql.Row(rk, "d", "q", 1L, rk)).asJava, GraftCell.SCHEMA)
    }
    cells.write.format("graftcell").mode("append").save(root)
    def count() = s.read.format("graftcell").load(root).count()
    val before = count()
    assert(before == 3L)
    // the task-committed file the commit must stage does not exist, so
    // the move into the stage dir throws before anything is published
    val ghost = CellFileMeta(
      new java.io.File(root, "_tmp_q/part-00000.parquet").getPath,
      1L, 1L, None, None, "t")
    intercept[java.nio.file.NoSuchFileException] {
      new GraftCellBatchWrite(root, "q", truncate = true)
        .commit(Array(CellFilesCommitted(Seq(ghost))))
    }
    assert(count() == before, "a failed overwrite lost the store's rows")
  }

  test("in-place compaction leaves ONE committed generation, still non-overlapping") {
    import graft.sources.cell.CellFooterCache
    SparkEntry.queries("cell_connector_compact")(s, dir).queryExecution // stage + compact
    val store = Fixtures.storePath(dir) + "_cmp"
    // truncate-overwrite dropped both input generations: exactly one
    // batch dir remains, and its region files are sorted+disjoint
    assert(CellFooterCache.committedDirs(store).size == 1,
           s"expected 1 generation, got ${CellFooterCache.committedDirs(store)}")
    val metas = CellFooterCache.filesOf(store)
    assert(metas.forall(m => m.minKey.nonEmpty && m.maxKey.nonEmpty))
    val spans = metas.map(m => (new String(m.minKey.get), new String(m.maxKey.get)))
      .sortBy(_._1)
    spans.sliding(2).foreach {
      case Seq((_, hiA), (loB, _)) => assert(hiA <= loB, s"overlap: $spans")
      case _ =>
    }
    // and compaction actually resolved versions: no duplicate cell keys
    val dups = s.read.format("graftcell").load(store)
      .groupBy("rowkey", "family", "qualifier").count()
      .filter(col("count") > 1).count()
    assert(dups == 0L)
  }

  test("SQL temp view over the connector pushes filters into the scan") {
    SparkEntry.queries("sql_cell_connector")(s, dir).queryExecution // registers the view
    val plan = s.sql(
      """SELECT rowkey, value FROM graft_cell_table
         WHERE rowkey >= '60' AND rowkey < '70'""")
      .queryExecution.executedPlan.toString
    assert(plan.contains("GraftCellScan"), s"connector scan missing:\n$plan")
    assert(plan.contains("PushedFilters") && plan.contains("rowkey"),
           s"rowkey filters not pushed:\n$plan")
  }

  test("unsupported filters fall back to Spark above the scan, exactly") {
    // endsWith is not acceptable → must be returned to Spark, and the
    // result must equal the same predicate on the pattern-built cells
    val store = s.read.format("graftcell")
      .load(Fixtures.storePath(dir))
    val got = store.filter(col("qualifier").endsWith("_type") &&
                           col("rowkey") < "2")
      .orderBy("rowkey", "qualifier").collect().toSeq
    val want = SparkEntry.queries("sink_hbase_cells")(s, dir)
      .filter(col("qualifier").endsWith("_type") && col("rowkey") < "2")
      .orderBy("rowkey", "qualifier").collect().toSeq
    assert(got == want && got.nonEmpty)
  }

  test("major compaction GC drops tombstones and TTL-expired versions, one generation") {
    import graft.sources.cell.CellFooterCache
    SparkEntry.queries("cell_connector_gc")(s, dir).queryExecution // stage + GC
    val store = Fixtures.storePath(dir) + "_gc"
    // truncate-commit left exactly one generation
    assert(CellFooterCache.committedDirs(store).size == 1,
           s"expected 1 generation, got ${CellFooterCache.committedDirs(store)}")
    val cells = s.read.format("graftcell").load(store)
    // GC is physical: no marker survives, and no tombstoned pair either
    assert(cells.filter(col("value") === "__TOMBSTONE__").count() == 0L)
    SparkEntry.queries("scan_cell_connector")(s, dir).queryExecution // stage base
    val base = s.read.format("graftcell")
      .load(Fixtures.storePath(dir))
    val errRows = base
      .filter(col("qualifier") === "event_type" && col("value") === "error")
      .select("rowkey")
    assert(cells.filter(col("qualifier") === "value")
      .join(errRows, "rowkey").count() == 0L,
      "tombstoned value cells must be physically gone")
    // TTL expiry really fired (the fixture spans 30 days, TTL is 10)
    assert(cells.count() < base.count())
    // and no surviving version predates the horizon (pre-GC max ≥ base max)
    val ttl = 10L * 86400L * 1000000L
    val baseMax = base.agg(max(col("version"))).head.getLong(0)
    val postMin = cells.agg(min(col("version"))).head.getLong(0)
    assert(postMin >= baseMax - ttl,
           s"version $postMin survived below horizon ${baseMax - ttl}")
    // version resolution happened too: no duplicate cell keys remain
    assert(cells.groupBy("rowkey", "family", "qualifier").count()
      .filter(col("count") > 1).count() == 0L)
  }

  /** The window plan majorCompact ran before compaction became a
    * per-group merge — kept as the reference its GC must equal: TTL
    * against the store-max version (broadcast single-row horizon), then
    * the hide-all-older marker ceiling, then `row_number` over
    * (version DESC, value DESC) per cell key, then "current" markers
    * dropped; per-family policies through a literal map with a
    * table-level fallback. */
  private def referenceGc(cells: org.apache.spark.sql.DataFrame,
      ttlMicros: Option[Long], tombstone: Option[String],
      maxVersions: Int,
      familyPolicies: Map[String,
        graft.sources.cell.GraftCellMaintenance.FamilyPolicy],
      deleteMarkers: Option[String]): org.apache.spark.sql.DataFrame = {
    import graft.sources.cell.GraftCellMaintenance.FamilyPolicy
    import org.apache.spark.sql.expressions.Window
    def famExpr[T](pick: FamilyPolicy => Option[T], table: Option[T],
                   asLit: T => org.apache.spark.sql.Column)
        : org.apache.spark.sql.Column = {
      val m = familyPolicies.collect {
        case (f, p) if pick(p).isDefined => f -> pick(p).get
      }
      val dflt = table.map(asLit).getOrElse(lit(null))
      if (m.isEmpty) dflt
      else {
        val entries = m.toSeq.sortBy(_._1)
          .flatMap { case (f, v) => Seq(lit(f), asLit(v)) }
        when(col("family").isNull, dflt)
          .otherwise(coalesce(element_at(map(entries: _*), col("family")),
                              dflt))
      }
    }
    val ttlExpr = famExpr[Long](_.ttlMicros, ttlMicros, lit(_))
    val tombExpr = famExpr[String](_.tombstone, tombstone, lit(_))
    val maxVExpr = famExpr[Int](_.maxVersions, Some(maxVersions), lit(_))
    val dmExpr = famExpr[String](_.deleteMarkers, deleteMarkers, lit(_))
    val anyTtl = ttlMicros.isDefined ||
      familyPolicies.values.exists(_.ttlMicros.isDefined)
    val live =
      if (!anyTtl) cells
      else cells.crossJoin(broadcast(cells.agg(max(col("version")).as("__maxv"))))
        .filter(ttlExpr.isNull || col("version") >= col("__maxv") - ttlExpr)
        .drop("__maxv")
    val hideAll = coalesce(dmExpr, lit("current")) === "hide-all-older"
    val isMarker = tombExpr.isNotNull && col("value") <=> tombExpr
    val anyHideAll = deleteMarkers.contains("hide-all-older") ||
      familyPolicies.values.exists(_.deleteMarkers.contains("hide-all-older"))
    val wKey = Window.partitionBy("rowkey", "family", "qualifier")
    val masked =
      if (!anyHideAll) live
      else live
        .withColumn("__mceil", max(when(isMarker, col("version"))).over(wKey))
        .filter(!hideAll || (!isMarker &&
          (col("__mceil").isNull || col("version") > col("__mceil"))))
        .drop("__mceil")
    val w = wKey.orderBy(col("version").desc, col("value").desc)
    val latest = masked.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= coalesce(maxVExpr, lit(1))).drop("__rn")
    val anyTomb = tombstone.isDefined ||
      familyPolicies.values.exists(_.tombstone.isDefined)
    if (!anyTomb) latest
    else latest.filter(hideAll || tombExpr.isNull || col("value") =!= tombExpr)
  }

  test("majorCompact ≡ reference GC model on seeded random stores (incl. version ties)") {
    import graft.sources.cell.{CellFooterCache, GraftCellMaintenance}
    import graft.sources.cell.GraftCellMaintenance.FamilyPolicy
    import scala.collection.JavaConverters._
    import s.implicits._
    val TOMB = "__T__"
    def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select("rowkey", "family", "qualifier", "version", "value")
        .collect().map(_.toString).toSeq.sorted
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      // random versions over a SMALL key space so version stacking,
      // tombstone shadowing, and same-version conflicts (two puts at
      // one cell version — the value-desc tiebreak's edge) all occur
      val cells = Seq.fill(400 + rnd.nextInt(200)) {
        (s"r${rnd.nextInt(25)}", "d", s"q${rnd.nextInt(4)}",
         1000000L + rnd.nextInt(50) * 1000L,
         if (rnd.nextDouble() < 0.08) TOMB else s"v${rnd.nextInt(50)}")
      }.distinct
      val store =
        SparkFixture.scratchDir("graft_gcprop_").toString
      val (a, b) = cells.splitAt(cells.size / 2)
      Seq(a, b).foreach(part =>
        part.toDF("rowkey", "family", "qualifier", "version", "value")
          .write.format("graftcell").mode("append").save(store))
      val ttl = 30000L // ~60% of the version span: expiry really fires
      val ref = rowsOf(referenceGc(s.read.format("graftcell").load(store),
        Some(ttl), Some(TOMB), 1, Map.empty, None))
      GraftCellMaintenance.majorCompact(s, store, Some(ttl), Some(TOMB))
      // driver-side reference model: TTL filter on the full-store max,
      // then max-(version, value) per cell key, then drop markers
      val horizon = cells.map(_._4).max - ttl
      val want = cells.filter(_._4 >= horizon)
        .groupBy(c => (c._1, c._2, c._3)).values
        .map(_.maxBy(c => (c._4, c._5))).filter(_._5 != TOMB)
        .toSeq.sorted
      val got = s.read.format("graftcell").load(store)
        .as[(String, String, String, Long, String)].collect().toSeq.sorted
      assert(got == want, s"seed $seed: GC mismatch " +
        s"(got ${got.size} cells, want ${want.size})")
      assert(rowsOf(s.read.format("graftcell").load(store)) == ref,
        s"seed $seed: majorCompact differs from the window plan")
      CellFooterCache.invalidate(store)
    }

    // Against the window plan on richer stores: NULL versions, values
    // and families, same-version ties, three overlapping batches,
    // maxVersions 2, hide-all-older and per-family policies, and a
    // 4-bucket compaction of a store rebucketed to 4 plus one untagged
    // file. In the last case the store is rebucketed to 2, so each
    // tagged input carries a foreign count and must feed the two
    // buckets ≡ its id (mod 2).
    def randomCells(rnd: scala.util.Random): Seq[org.apache.spark.sql.Row] =
      Seq.fill(500 + rnd.nextInt(200)) {
        def sometimesNull[T](p: Double)(v: => T): Any =
          if (rnd.nextDouble() < p) null else v
        org.apache.spark.sql.Row(s"r${rnd.nextInt(30)}",
          sometimesNull(0.1)(Seq("d", "a", "h")(rnd.nextInt(3))),
          s"q${rnd.nextInt(3)}",
          sometimesNull(0.05)(1000000L + rnd.nextInt(40) * 1000L),
          sometimesNull(0.05)(
            if (rnd.nextDouble() < 0.12) TOMB else s"v${rnd.nextInt(6)}"))
      }.distinct
    val policies: Seq[(Option[Long], Int, Option[String], Map[String, FamilyPolicy])] = Seq(
      (Some(25000L), 2, None, Map.empty),
      (Some(30000L), 2, Some("hide-all-older"), Map.empty),
      (None, 2, None, Map(
        "a" -> FamilyPolicy(deleteMarkers = Some("hide-all-older"),
                            maxVersions = Some(3)),
        "h" -> FamilyPolicy(ttlMicros = Some(10000L), tombstone = Some("v0")))),
      (Some(35000L), 1, Some("hide-all-older"), Map(
        "d" -> FamilyPolicy(deleteMarkers = Some("current"),
                            maxVersions = Some(2), ttlMicros = Some(0L)))))
    val cases = (11 to 14).zip(policies).flatMap { case (seed, p) =>
      Seq((seed, p, None), (seed, p, Some(4))) } :+ ((15, policies(1), Some(2)))
    for ((seed, (ttl, maxV, dm, fams), from) <- cases) {
      val bucketed = from.isDefined
      val rnd = new scala.util.Random(seed)
      val cells = randomCells(rnd)
      val store =
        SparkFixture.scratchDir("graft_gcref_").toString
      cells.grouped(cells.size / 3 + 1).foreach(part =>
        s.createDataFrame(part.asJava, GraftCell.SCHEMA)
          .write.format("graftcell").mode("append").save(store))
      val buckets = if (bucketed) Some(4) else None
      from.foreach { m =>
        GraftCellMaintenance.rebucket(s, store, m)
        val parts = s.conf.get("spark.sql.shuffle.partitions")
        s.conf.set("spark.sql.shuffle.partitions", "1")
        try s.createDataFrame(randomCells(rnd).take(60).asJava, GraftCell.SCHEMA)
          .write.format("graftcell").mode("append").save(store)
        finally s.conf.set("spark.sql.shuffle.partitions", parts)
        val untagged = CellFooterCache.filesOf(store)
          .filter(m => graft.sources.cell.GraftBucket.parse(m.path).isEmpty)
        assert(untagged.size == 1, s"one untagged file: ${untagged.map(_.path)}")
        assert(CellFooterCache.filesOf(store).count(f => graft.sources.cell
          .GraftBucket.parse(f.path).exists(_._2 == m)) > 1,
          s"the inputs must carry $m-bucket tags")
      }
      val want = rowsOf(referenceGc(s.read.format("graftcell").load(store),
        ttl, Some(TOMB), maxV, fams, dm))
      GraftCellMaintenance.majorCompact(s, store, ttl, Some(TOMB), maxV,
        buckets, fams, deleteMarkers = dm)
      val got = rowsOf(s.read.format("graftcell").load(store))
      assert(got == want, s"seed $seed from=$from: majorCompact " +
        s"differs from the window plan (got ${got.size}, want ${want.size})\n" +
        s"only got: ${got.diff(want).take(5)}\nonly want: ${want.diff(got).take(5)}")
      if (bucketed) assert(CellFooterCache.filesOf(store).forall(m =>
        graft.sources.cell.GraftBucket.parse(m.path).exists(_._2 == 4)),
        "bucketed compaction must leave only 4-bucket-tagged files")
      CellFooterCache.invalidate(store)
    }
  }

  test("compaction is one shuffle-free job whose layout depends only on the data") {
    import graft.sources.cell.{CellFooterCache, GraftCellMaintenance}
    val collector = RunCollector(s)
    // three overlapping batches hashed over one key space
    def staged(): String = {
      val store =
        SparkFixture.scratchDir("graft_cmpctr_").toString
      (0 until 3).foreach { i =>
        s.range(0, 3000).select(
            format_string("%06d", pmod(col("id") * 7919 + i, lit(100000)))
              .as("rowkey"),
            lit("d").as("family"), lit("q").as("qualifier"),
            (col("id") + i * 10000L).as("version"),
            sha1(col("id").cast("string")).as("value"))
          .write.format("graftcell").mode("append").save(store)
      }
      store
    }
    def layout(store: String): Seq[(Seq[Byte], Seq[Byte], Long)] =
      CellFooterCache.filesOf(store)
        .map(m => (m.minKey.get.toSeq, m.maxKey.get.toSeq, m.rowCount))
        .sortBy(_.toString)
    def copyOf(store: String): String = {
      val twin =
        SparkFixture.scratchDir("graft_cmpctr_twin_").toString
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(store), new java.io.File(twin))
      twin
    }
    def oneJobNoShuffle(what: String, stats: RunStats): Unit =
      assert(stats.jobs == 1 && stats.shuffleWriteBytes == 0L,
        s"$what: ${stats.jobs} jobs, ${stats.shuffleWriteBytes} shuffle bytes")

    val minor = staged()
    val minorTwin = copyOf(minor)
    val (_, minorStats) = collector.measure(
      GraftCellMaintenance.minorCompact(s, minor, Long.MaxValue))
    oneJobNoShuffle("minorCompact", minorStats)
    GraftCellMaintenance.minorCompact(s, minorTwin, Long.MaxValue)
    assert(CellFooterCache.filesOf(minor).size > 1)
    assert(layout(minor) == layout(minorTwin),
      "two identical stores must compact (minor) to the same layout")

    val major = staged()
    val majorTwin = copyOf(major)
    val (_, majorStats) = collector.measure(
      GraftCellMaintenance.majorCompact(s, major, ttlMicros = Some(20000L),
                                        tombstone = Some("x")))
    oneJobNoShuffle("majorCompact", majorStats)
    GraftCellMaintenance.majorCompact(s, majorTwin, ttlMicros = Some(20000L),
                                      tombstone = Some("x"))
    assert(layout(major) == layout(majorTwin),
      "two identical stores must compact (major) to the same layout")

    def tagsOf(store: String) = CellFooterCache.filesOf(store)
      .map(m => graft.sources.cell.GraftBucket.parse(m.path)).sorted
    val bucketed = staged()
    val (_, rebucketStats) = collector.measure(
      GraftCellMaintenance.rebucket(s, bucketed, 4))
    oneJobNoShuffle("rebucket", rebucketStats)
    val filled = s.read.format("graftcell").load(bucketed)
      .select("rowkey").collect().map(r => graft.sources.cell.GraftBucket.of(
        r.getString(0).getBytes("UTF-8"), 4)).distinct.sorted.toSeq
    assert(tagsOf(bucketed) == filled.map(b => Some((b, 4))),
      s"rebucket: one tagged file per non-empty bucket: ${tagsOf(bucketed)}")
    s.range(0, 500).select(format_string("%06d", col("id") * 13).as("rowkey"),
        lit("d").as("family"), lit("q").as("qualifier"),
        (col("id") + 50000L).as("version"), lit("late").as("value"))
      .write.format("graftcell").mode("append").save(bucketed)
    val (_, bucketStats) = collector.measure(
      GraftCellMaintenance.majorCompact(s, bucketed, buckets = Some(4)))
    oneJobNoShuffle("bucketed majorCompact", bucketStats)
    assert(tagsOf(bucketed) == (0 until 4).map(b => Some((b, 4))),
      s"one tagged file per bucket: ${tagsOf(bucketed)}")
  }

  test("a rewrite with nothing to do commits nothing") {
    import graft.sources.cell.{CellFooterCache, GraftCellMaintenance}
    val store =
      SparkFixture.scratchDir("graft_noop_rw_").toString
    GraftCellMaintenance.majorCompact(s, store)
    GraftCellMaintenance.majorCompact(s, store, buckets = Some(4))
    GraftCellMaintenance.rebucket(s, store, 4)
    assert(CellFooterCache.committedDirs(store).isEmpty,
      s"no-op rewrites published: ${CellFooterCache.committedDirs(store)}")
    assert(new java.io.File(store).list().isEmpty,
      s"no-op rewrites left: ${new java.io.File(store).list().toSeq}")
  }

  test("conditional MERGE (checkAnd*): stale puts and absent deletes no-op") {
    val got = SparkEntry.queries("sql_cell_checkand")(s, dir)
    // checkAndPut FAILURE path: the stale-put band ('5') survives
    // verbatim — matched rows where no arm fires are carried over
    assert(got.filter(col("value").endsWith("?")).count() == 0L)
    val base = SparkEntry.queries("sink_hbase_cells")(s, dir)
    val b5 = base.filter(col("rowkey") >= "5" && col("rowkey") < "6")
      .orderBy("rowkey", "qualifier").collect().toSeq
    val g5 = got.filter(col("rowkey") >= "5" && col("rowkey") < "6")
      .orderBy("rowkey", "qualifier").collect().toSeq
    assert(g5 == b5 && g5.nonEmpty, "stale puts must leave rows untouched")
    // checkAndDelete removed exactly the '7' band's value cells
    assert(got.filter(col("rowkey") >= "7" && col("rowkey") < "8" &&
                      col("qualifier") === "value").count() == 0L)
    // delete of an absent row no-ops (HBase semantics): no zz_ rows
    assert(got.filter(col("rowkey").startsWith("zz_")).count() == 0L)
    // the success paths fired too
    assert(got.filter(col("value").endsWith("^")).count() > 0L)
    assert(got.filter(col("rowkey").startsWith("new_")).count() > 0L)
  }

  test("streaming CDC apply: per-micro-batch MERGE converges the replica exactly") {
    val got = SparkEntry.queries("stream_cell_apply")(s, dir)
    // every stale seed row was resolved by the MATCHED newest-version arm
    assert(got.filter(col("value").endsWith("|stale")).count() == 0L)
    // and the drained replica IS the live cell set, byte for byte
    val want = SparkEntry.queries("sink_hbase_cells")(s, dir).collect().toSeq
    assert(got.collect().toSeq == want && want.nonEmpty)
  }

  test("MERGE NOT MATCHED BY SOURCE deletes: replica converges to the source view") {
    val got = SparkEntry.queries("sql_cell_sync")(s, dir)
    // the '<2' band exists only in the replica → deleted by the
    // NOT MATCHED BY SOURCE arm ('new_'/'zz_' sort above '2')
    assert(got.filter(col("rowkey") < "2").count() == 0L)
    // dirty rows ('4' band) rewritten by the conditional UPDATE arm
    assert(got.filter(col("rowkey") >= "4" && col("rowkey") < "5" &&
                      !col("value").endsWith("~")).count() == 0L)
    assert(got.filter(col("rowkey") >= "4" && col("rowkey") < "5").count() > 0L)
    // missing rows (zz_ band) inserted
    assert(got.filter(col("rowkey").startsWith("zz_")).count() > 0L)
  }

  test("group-granular DML: UPDATE/MERGE rewrite only region files holding matched rows") {
    import graft.sources.cell.CellFooterCache
    val root = SparkFixture.scratchDir("graft_groupdml_spec_").toString
    s.conf.set("spark.sql.catalog.graftgrp",
               classOf[graft.sources.cell.GraftCellCatalog].getName)
    s.conf.set("spark.sql.catalog.graftgrp.root", root)
    s.sql("""CREATE TABLE graftgrp.t (rowkey STRING, family STRING,
             qualifier STRING, version BIGINT, value STRING)
             USING graftcell""")
    import scala.collection.JavaConverters._
    val srcDf = s.createDataFrame(
      ('a' to 't').map(c =>
        org.apache.spark.sql.Row(c.toString, "d", "q", 1L, s"v$c")).asJava,
      GraftCell.SCHEMA)
    srcDf.createOrReplaceTempView("graft_grp_src")
    val store = s"$root/t"
    // load through the path write with rolling, so the tiny fixture
    // still lands in several non-overlapping region files (a catalog
    // table IS its store dir — both addressing modes see the same data)
    srcDf.write.format("graftcell").option("maxRowsPerFile", "5")
      .mode("append").save(store)
    def files() = CellFooterCache.filesOf(store)
      .map(m => m.path ->
        (new java.io.File(m.path).lastModified(), m.bytes)).toMap
    val before = files()
    assert(before.size > 1, s"need multiple region files, got $before")
    // the file whose range holds 'a' (the only matched row)
    val victim = CellFooterCache.filesOf(store)
      .filter(m => m.minKey.exists(k => new String(k) <= "a") &&
                   m.maxKey.exists(k => new String(k) >= "a"))
      .map(_.path)
    assert(victim.size == 1)
    s.sql("UPDATE graftgrp.t SET value = concat(value, '*') WHERE rowkey = 'a'")
    // matched file retired; every other region file untouched — same
    // path, same mtime, same bytes (the runtime _region_file group
    // filter pruned the COW scan to the one matched file, and the
    // replace commit deleted exactly that)
    val after = files()
    assert(!after.contains(victim.head),
      s"matched file survived the replace: ${victim.head}")
    (before - victim.head).foreach { case (p, stamp) =>
      assert(after.get(p).contains(stamp),
        s"unmatched region file was rewritten: $p")
    }
    // content correct: one row updated, all 20 present
    val got = s.sql("SELECT rowkey, value FROM graftgrp.t ORDER BY rowkey")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(got.size == 20 && got.head == ("a", "va*") &&
           got(1) == ("b", "vb"))
    // MERGE: matched band 'c'..'d' + a new insert; again only the
    // files holding matched keys may be replaced
    val before2 = files()
    s.sql("""CREATE OR REPLACE TEMPORARY VIEW graft_grp_merge AS
             SELECT rowkey, family, qualifier, 2L AS version,
                    concat(value, '^') AS value
             FROM graft_grp_src WHERE rowkey IN ('c', 'd')
             UNION ALL
             SELECT 'zz' AS rowkey, 'd' AS family, 'q' AS qualifier,
                    1L AS version, 'vzz' AS value""")
    s.sql("""MERGE INTO graftgrp.t t USING graft_grp_merge s
             ON t.rowkey = s.rowkey AND t.family = s.family
                AND t.qualifier = s.qualifier
             WHEN MATCHED THEN UPDATE SET version = s.version,
                                          value = s.value
             WHEN NOT MATCHED THEN INSERT *""")
    val after2 = files()
    val untouched2 = before2.filter { case (p, stamp) =>
      after2.get(p).contains(stamp) }
    assert(untouched2.nonEmpty,
      s"MERGE rewrote every region file: before=$before2 after=$after2")
    val merged = s.sql("SELECT rowkey, value FROM graftgrp.t ORDER BY rowkey")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(merged.size == 21 &&
           merged.contains(("c", "vc^")) && merged.contains(("d", "vd^")) &&
           merged.contains(("zz", "vzz")) && merged.contains(("e", "ve")))
    // the group-replaced store still plans manifest-only (no footers)
    CellFooterCache.invalidate(store)
    val opens0 = CellFooterCache.footerOpens.get()
    CellFooterCache.filesOf(store)
    assert(CellFooterCache.footerOpens.get() == opens0,
      "group-replace commit left a manifest-less or stale dir behind")
    s.sql("DROP TABLE graftgrp.t")
  }

  test("write path stamps a rowkey bloom; point gets skip straddling row groups") {
    import org.apache.hadoop.conf.Configuration
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.filter2.compat.FilterCompat
    import org.apache.parquet.filter2.predicate.FilterApi
    import org.apache.parquet.ParquetReadOptions
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.io.api.Binary
    import scala.collection.JavaConverters._
    import graft.sources.cell.CellFooterCache
    val store = SparkFixture.scratchDir("graft_bloom_spec_").toString + "/t"
    // every OTHER letter, so keys lexically inside [min,max] are absent
    // — stats alone can never skip them, only dictionary/bloom can
    val rows = ('a' to 'y' by 2).map(c =>
      org.apache.spark.sql.Row(c.toString, "d", "q", 1L, s"v$c"))
    s.createDataFrame(rows.asJava, GraftCell.SCHEMA)
      .write.format("graftcell").mode("append").save(store)
    val file = CellFooterCache.filesOf(store).head.path
    val in = HadoopInputFile.fromPath(new Path(file), new Configuration())
    // 1. the bloom exists in the footer metadata, and answers a
    //    straddling absent key with a definite NO
    val r = ParquetFileReader.open(in)
    try {
      val blocks = r.getFooter.getBlocks.asScala
      assert(blocks.nonEmpty)
      blocks.foreach { b =>
        val chunk = b.getColumns.asScala
          .find(_.getPath.toDotString == "rowkey").get
        val bloom = r.getBloomFilterDataReader(b).readBloomFilter(chunk)
        assert(bloom != null,
          s"no rowkey bloom in footer (encodings=${chunk.getEncodings})")
        assert(bloom.findHash(bloom.hash(Binary.fromString("c"))),
          "bloom misses a present key")
        assert(!bloom.findHash(bloom.hash(Binary.fromString("b"))),
          "bloom fails to reject the straddling absent key")
      }
    } finally r.close()
    // 2. row-group skip counter: a point get for the absent straddling
    //    key plans ZERO row groups (dictionary filtering disabled to
    //    prove the bloom alone carries it); the present key keeps one
    def rowGroups(key: String): Int = {
      val opts = ParquetReadOptions.builder()
        .withRecordFilter(FilterCompat.get(
          FilterApi.eq(FilterApi.binaryColumn("rowkey"),
                       Binary.fromString(key))))
        .useStatsFilter(true).useDictionaryFilter(false)
        .useBloomFilter(true).build()
      val fr = ParquetFileReader.open(in, opts)
      try fr.getRowGroups.size finally fr.close()
    }
    assert(rowGroups("b") == 0, "bloom did not skip the straddling point get")
    assert(rowGroups("c") == 1, "present key wrongly skipped")
  }

  test("CALL procedures: admin surface — compact/minor/snapshot lifecycle from SQL") {
    import graft.sources.cell.CellFooterCache
    import scala.collection.JavaConverters._
    val root = SparkFixture.scratchDir("graft_proc_spec_").toString
    s.conf.set("spark.sql.catalog.graftproc",
               classOf[graft.sources.cell.GraftCellCatalog].getName)
    s.conf.set("spark.sql.catalog.graftproc.root", root)
    s.sql("""CREATE TABLE graftproc.t (rowkey STRING, family STRING,
             qualifier STRING, version BIGINT, value STRING)
             USING graftcell""")
    val store = s"$root/t"
    // three generations: base + a tombstone for 'c' + a stale rewrite
    def cells(rows: Seq[(String, Long, String)]) = s.createDataFrame(
      rows.map { case (k, v, value) =>
        org.apache.spark.sql.Row(k, "d", "q", v, value) }.asJava,
      GraftCell.SCHEMA)
    cells(('a' to 'j').map(c => (c.toString, 1000L, s"v$c")))
      .write.format("graftcell").mode("append").save(store)
    cells(Seq(("c", 2000L, "__TOMB__")))
      .write.format("graftcell").mode("append").save(store)
    cells(Seq(("d", 1L, "ancient"))) // below the TTL horizon (max-1500)
      .write.format("graftcell").mode("append").save(store)
    // snapshot BEFORE compaction, via CALL; then GC-compact via CALL
    val snapRow = s.sql("CALL graftproc.snapshot('t', 'pre')").collect()
    assert(snapRow.length == 1 && snapRow(0).getLong(0) == 3L,
      s"snapshot summary: ${snapRow.toSeq}")
    val cRow = s.sql(
      "CALL graftproc.compact('t', 1500, '__TOMB__')").collect()
    assert(cRow.length == 1, s"compact summary: ${cRow.toSeq}")
    // dirs_before=3, dirs_after=1, cells_after = 10 - c(tombstoned)
    //   - d@1 (TTL'd; d@1000 survives: horizon = 2000-1500 = 500)
    assert(cRow(0).getLong(0) == 3L && cRow(0).getLong(1) == 1L &&
           cRow(0).getLong(2) == 9L, s"compact summary: ${cRow.toSeq}")
    val got = s.sql("SELECT rowkey, value FROM graftproc.t ORDER BY rowkey")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(!got.exists(_._1 == "c") && got.exists(_ == ("d", "vd")) &&
           got.size == 9, s"post-GC content: $got")
    // minor compaction via CALL: two small appends merge into one dir
    cells(Seq(("x", 1L, "vx"))).write.format("graftcell")
      .mode("append").save(store)
    cells(Seq(("y", 1L, "vy"))).write.format("graftcell")
      .mode("append").save(store)
    val sizes = CellFooterCache.committedDirs(store)
      .map(d => CellFooterCache.filesUnder(store, d).map(_.bytes).sum)
    val mRow = s.sql(
      s"CALL graftproc.compact_minor('t', ${sizes.max - 1})").collect()
    assert(mRow(0).getLong(0) == 2L, s"minor summary: ${mRow.toSeq}")
    // snapshot lifecycle: listProcedures, drop, and failure modes
    val procs = s.sql("SHOW PROCEDURES IN graftproc")
      .select("procedure_name").collect().map(_.getString(0)).sorted.toSeq
    assert(procs == Seq("build_index", "bulkload", "clone_snapshot", "compact",
                        "compact_minor", "drop_snapshot", "export_snapshot",
                        "hbck", "list_snapshots", "merge_regions",
                        "normalize", "rebucket", "repair",
                        "restore_snapshot", "snapshot", "split_region",
                        "sync_index", "upgrade_manifests", "vacuum",
                        "verify_rep"),
           s"procedures: $procs")
    // repair on a healthy store is a no-op summary
    val rRow = s.sql("CALL graftproc.repair('t')").collect()
    assert(rRow(0).getLong(0) == 0L && rRow(0).getLong(1) == 0L,
      s"repair summary on healthy store: ${rRow.toSeq}")
    s.sql("CALL graftproc.drop_snapshot('t', 'pre')")
    intercept[Exception] { // dropping an unknown snapshot fails fast
      s.sql("CALL graftproc.drop_snapshot('t', 'pre')").collect()
    }
    intercept[Exception] { // unknown procedure fails fast
      s.sql("CALL graftproc.no_such_proc('t')").collect()
    }
    intercept[Exception] { // unknown table fails fast
      s.sql("CALL graftproc.compact('nope')").collect()
    }
    s.sql("DROP TABLE graftproc.t")
  }

  test("TBLPROPERTIES persist in the table descriptor; compact defaults to them (r16)") {
    import scala.collection.JavaConverters._
    val root = SparkFixture.scratchDir("graft_props_spec_").toString
    s.conf.set("spark.sql.catalog.graftprops",
               classOf[graft.sources.cell.GraftCellCatalog].getName)
    s.conf.set("spark.sql.catalog.graftprops.root", root)
    def cells(rows: Seq[(String, Long, String)], store: String) =
      s.createDataFrame(
        rows.map { case (k, v, value) =>
          org.apache.spark.sql.Row(k, "d", "q", v, value) }.asJava,
        GraftCell.SCHEMA)
        .write.format("graftcell").mode("append").save(store)
    val fixture = ('a' to 'j').map(c => (c.toString, 1000L, s"v$c")) ++
      Seq(("c", 2000L, "__TOMB__"), ("d", 1L, "ancient"))
    // table WITH descriptor properties, compacted with NO arguments...
    s.sql("""CREATE TABLE graftprops.t1 (rowkey STRING, family STRING,
             qualifier STRING, version BIGINT, value STRING)
             USING graftcell
             TBLPROPERTIES ('ttl_micros' = '1500', 'tombstone' = '__TOMB__')""")
    cells(fixture, s"$root/t1")
    s.sql("CALL graftprops.compact('t1')")
    // ...equals a property-less table compacted with explicit arguments
    s.sql("""CREATE TABLE graftprops.t2 (rowkey STRING, family STRING,
             qualifier STRING, version BIGINT, value STRING)
             USING graftcell""")
    cells(fixture, s"$root/t2")
    s.sql("CALL graftprops.compact('t2', 1500, '__TOMB__')")
    def content(t: String) = s.sql(
      s"SELECT * FROM graftprops.$t ORDER BY rowkey, qualifier, version")
      .collect().toSeq
    assert(content("t1") == content("t2"),
      "property-driven GC diverged from argument-driven GC")
    // SHOW TBLPROPERTIES surfaces the descriptor
    val shown = s.sql("SHOW TBLPROPERTIES graftprops.t1").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(shown.get("ttl_micros").contains("1500") &&
           shown.get("tombstone").contains("__TOMB__"), s"shown: $shown")
    // ALTER SET updates the descriptor; UNSET removes; survives reload
    s.sql("ALTER TABLE graftprops.t1 SET TBLPROPERTIES ('ttl_micros' = '9999')")
    s.sql("ALTER TABLE graftprops.t1 UNSET TBLPROPERTIES ('tombstone')")
    val shown2 = s.sql("SHOW TBLPROPERTIES graftprops.t1").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(shown2.get("ttl_micros").contains("9999") &&
           !shown2.contains("tombstone"), s"after alter: $shown2")
    // refusals: unknown property keys, non-long TTL, schema changes
    // (max_versions stopped being "unknown" when it became the third
    // descriptor key — its own test covers it now)
    intercept[Exception] {
      s.sql("ALTER TABLE graftprops.t1 SET TBLPROPERTIES ('coprocessor' = 'x')")
    }
    intercept[Exception] {
      s.sql("ALTER TABLE graftprops.t1 SET TBLPROPERTIES ('ttl_micros' = 'soon')")
    }
    intercept[Exception] {
      s.sql("ALTER TABLE graftprops.t1 ADD COLUMN extra STRING")
    }
    intercept[Exception] {
      s.sql("""CREATE TABLE graftprops.t3 (rowkey STRING, family STRING,
               qualifier STRING, version BIGINT, value STRING)
               USING graftcell TBLPROPERTIES ('nope' = '1')""")
    }
    s.sql("DROP TABLE graftprops.t1")
    s.sql("DROP TABLE graftprops.t2")
  }

  test("explicit-off compact arguments override the descriptor policy " +
       "(ADVICE r16: ttl_micros = 0 / tombstone = '' are the off sentinels)") {
    import scala.collection.JavaConverters._
    val root = SparkFixture.scratchDir("graft_off_spec_").toString
    s.conf.set("spark.sql.catalog.graftoff",
               classOf[graft.sources.cell.GraftCellCatalog].getName)
    s.conf.set("spark.sql.catalog.graftoff.root", root)
    s.sql("""CREATE TABLE graftoff.t (rowkey STRING, family STRING,
             qualifier STRING, version BIGINT, value STRING)
             USING graftcell
             TBLPROPERTIES ('ttl_micros' = '1500',
                            'tombstone' = '__TOMB__',
                            'max_versions' = '2')""")
    val fixture = ('a' to 'j').map(c => (c.toString, 1000L, s"v$c")) ++
      Seq(("c", 2000L, "__TOMB__"), ("d", 1L, "ancient"))
    s.createDataFrame(
      fixture.map { case (k, v, value) =>
        org.apache.spark.sql.Row(k, "d", "q", v, value) }.asJava,
      GraftCell.SCHEMA)
      .write.format("graftcell").mode("append").save(s"$root/t")
    def cells() = s.sql(
      "SELECT rowkey, version, value FROM graftoff.t ORDER BY rowkey, version")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq
    val before = cells()
    // the off-run: TTL and tombstone EXPLICITLY disabled for this run
    // despite the declared policy; version resolution (max_versions = 2
    // from the descriptor) keeps every cell — no key has > 2 versions
    s.sql("CALL graftoff.compact('t', 0, '')")
    assert(cells() == before,
      "an explicit-off compact must not apply the descriptor's GC policy")
    // a plain compact then applies the policy: the marker is physically
    // dropped (delete-if-current — with max_versions = 2 the put ranked
    // below it remains, the engine's pinned tombstone model) and the
    // TTL-expired ancient version is gone
    s.sql("CALL graftoff.compact('t')")
    val after = cells()
    assert(!after.exists(_._3 == "__TOMB__"), s"tombstone GC must run: $after")
    assert(!after.exists(_._2 == 1L), s"TTL expiry must run: $after")
    assert(after.map(_._1).toSet == ('a' to 'j').map(_.toString).toSet)
    s.sql("DROP TABLE graftoff.t")
  }

  test("per-family descriptor policies: families age independently " +
       "under one compact; explicit args override; bad keys refused (r17)") {
    import scala.collection.JavaConverters._
    val root = SparkFixture.scratchDir("graft_fam_spec_").toString
    s.conf.set("spark.sql.catalog.graftfam",
               classOf[graft.sources.cell.GraftCellCatalog].getName)
    s.conf.set("spark.sql.catalog.graftfam.root", root)
    s.sql("""CREATE TABLE graftfam.t (rowkey STRING, family STRING,
             qualifier STRING, version BIGINT, value STRING)
             USING graftcell
             TBLPROPERTIES ('ttl_micros' = '1500',
                            'tombstone' = '__TOMB__',
                            'family.audit.ttl_micros' = '999999999',
                            'family.audit.max_versions' = '2',
                            'family.audit.tombstone' = '__NEVER__')""")
    def load(): Unit = {
      val rows = for {
        fam <- Seq("hot", "audit"); k <- 'a' to 'e'
        v <- Seq(1000L, 2000000L)
      } yield org.apache.spark.sql.Row(k.toString, fam, "q", v,
        if (fam == "hot" && k == 'a' && v == 2000000L) "__TOMB__"
        else s"$fam$k$v")
      s.createDataFrame(rows.asJava, GraftCell.SCHEMA)
        .write.format("graftcell").mode("append").save(s"$root/t")
    }
    load()
    def cells() = s.sql(
      """SELECT rowkey, family, version, value FROM graftfam.t
         ORDER BY rowkey, family, version""").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
                 r.getString(3))).toSeq
    // ONE compact, two retention outcomes:
    s.sql("CALL graftfam.compact('t')")
    val after = cells()
    val hot = after.filter(_._2 == "hot")
    val audit = after.filter(_._2 == "audit")
    // hot: table policy — ttl 1500 expires v1000, max_versions 1 keeps
    // the newest, the table tombstone physically drops hot 'a''s marker
    assert(hot.forall(_._3 == 2000000L), s"hot ttl/retention: $hot")
    assert(!hot.exists(_._1 == "a"), s"hot tombstone must drop 'a': $hot")
    assert(hot.size == 4)
    // audit: family overrides — huge ttl keeps v1000, VERSIONS => 2
    // keeps both, the family tombstone ('__NEVER__') matches nothing
    assert(audit.size == 10 && audit.count(_._3 == 1000L) == 5,
      s"audit must keep both generations: $audit")
    // explicit arguments override the FAMILY overrides too: force
    // max_versions 1 uniformly — audit collapses to its newest as well
    // (ttl/tombstone explicitly off so only retention acts)
    s.sql("CALL graftfam.compact('t', 0, '', 1)")
    val uniform = cells()
    assert(uniform.forall(_._3 == 2000000L) &&
           uniform.count(_._2 == "audit") == 5,
      s"an explicit argument must override the family policy: $uniform")
    // property validation: unknown family knob, non-numeric ttl,
    // zero max_versions — all refused
    intercept[Exception] {
      s.sql("""ALTER TABLE graftfam.t
               SET TBLPROPERTIES ('family.hot.coprocessor' = 'x')""")
    }
    intercept[Exception] {
      s.sql("""ALTER TABLE graftfam.t
               SET TBLPROPERTIES ('family.hot.ttl_micros' = 'soon')""")
    }
    intercept[Exception] {
      s.sql("""ALTER TABLE graftfam.t
               SET TBLPROPERTIES ('family.hot.max_versions' = '0')""")
    }
    s.sql("DROP TABLE graftfam.t")
  }

  test("catalog probes with invalid identifier characters resolve to " +
       "'not found', never IllegalArgumentException (ADVICE r16)") {
    import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog}
    val root = SparkFixture.scratchDir("graft_badid_spec_").toString
    s.conf.set("spark.sql.catalog.graftbad",
               classOf[graft.sources.cell.GraftCellCatalog].getName)
    s.conf.set("spark.sql.catalog.graftbad.root", root)
    // touch the catalog so the manager instantiates it
    s.sql("SHOW TABLES IN graftbad").collect()
    val cat = s.sessionState.catalogManager.catalog("graftbad")
      .asInstanceOf[TableCatalog]
    // exists-probes: false, not a throw
    assert(!cat.tableExists(Identifier.of(Array.empty[String], "no such!")))
    assert(!cat.tableExists(Identifier.of(Array("bad ns"), "t")))
    // load-probes: the analysis-friendly NoSuchTableException
    intercept[org.apache.spark.sql.catalyst.analysis.NoSuchTableException] {
      cat.loadTable(Identifier.of(Array.empty[String], "bad:name"))
    }
    intercept[org.apache.spark.sql.catalyst.analysis.NoSuchTableException] {
      cat.loadTable(Identifier.of(Array("bad ns"), "t"), "snap")
    }
    // and through SQL: a weird multipart identifier routed to this
    // catalog surfaces as the standard not-found analysis error
    intercept[org.apache.spark.sql.AnalysisException] {
      s.sql("SELECT * FROM graftbad.`a b`.`t c`").collect()
    }
  }

  test("split_region cuts a straddling file at the key; probes plan fewer files (r16)") {
    import graft.sources.cell.CellFooterCache
    import scala.collection.JavaConverters._
    val root = SparkFixture.scratchDir("graft_split_spec_").toString
    s.conf.set("spark.sql.catalog.graftsplit",
               classOf[graft.sources.cell.GraftCellCatalog].getName)
    s.conf.set("spark.sql.catalog.graftsplit.root", root)
    s.sql("""CREATE TABLE graftsplit.t (rowkey STRING, family STRING,
             qualifier STRING, version BIGINT, value STRING)
             USING graftcell""")
    val store = s"$root/t"
    // ONE region file spanning a..z (single partition write)
    s.createDataFrame(
      ('a' to 'z').map(c =>
        org.apache.spark.sql.Row(c.toString, "d", "q", 1L, s"v$c")).asJava,
      GraftCell.SCHEMA).coalesce(1)
      .write.format("graftcell").mode("append").save(store)
    assert(CellFooterCache.filesOf(store).size == 1)
    def readAll() = s.sql(
      "SELECT rowkey, value FROM graftsplit.t ORDER BY rowkey")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val before = readAll()
    // split at 'm': exactly one straddling file → two, n→n+1
    val sp = s.sql("CALL graftsplit.split_region('t', 'm')").collect()
    assert(sp(0).getLong(0) == 1L && sp(0).getLong(1) == 2L &&
           sp(0).getLong(2) == 2L, s"split summary: ${sp.toSeq}")
    val metas = CellFooterCache.filesOf(store)
    assert(metas.size == 2)
    assertFooterTruth(metas)
    // cut exactly at the key, halves disjoint and tight
    val spans = metas.map(m => (new String(m.minKey.get),
                                new String(m.maxKey.get))).sortBy(_._1)
    assert(spans == Seq(("a", "l"), ("m", "z")), s"spans: $spans")
    // content byte-identical through the surgery
    assert(readAll() == before)
    // a one-sided probe now plans HALF the store: regionFiles 1/2
    val plan = s.sql("SELECT * FROM graftsplit.t WHERE rowkey < 'm'")
      .queryExecution.executedPlan.toString
    val rf = "regionFiles: (\\d+)/(\\d+)".r.findFirstMatchIn(plan)
    assert(rf.exists(m => m.group(1) == "1" && m.group(2) == "2"),
           s"probe did not prune the split store:\n$plan")
    // a key nothing straddles is a no-op (between-files and off-range)
    val noop = s.sql("CALL graftsplit.split_region('t', '!')").collect()
    assert(noop(0).getLong(0) == 0L, s"no-op split: ${noop.toSeq}")
    s.sql("DROP TABLE graftsplit.t")
  }

  test("split_region on a multi-batch store: same-named victims from " +
       "two batches split side by side, no tmp dir left") {
    import graft.sources.cell.{CellFooterCache, GraftCellMaintenance}
    import scala.collection.JavaConverters._
    val store = SparkFixture.scratchDir("graft_split2_spec_").toString + "/t"
    // two appended a..z batches: each is ONE file, and every connector
    // batch names its files part-<pid>-<seq>, so both victims share a
    // name
    (1 to 2).foreach { b =>
      s.createDataFrame(
        ('a' to 'z').map(c =>
          org.apache.spark.sql.Row(c.toString, "d", "q", b.toLong, s"v$c")).asJava,
        GraftCell.SCHEMA).coalesce(1)
        .write.format("graftcell").mode("append").save(store)
    }
    val names = CellFooterCache.filesOf(store)
      .map(m => new java.io.File(m.path).getName)
    assert(names.size == 2 && names.distinct.size == 1,
      s"fixture must hold two same-named victims: $names")
    def readAll() = s.read.format("graftcell").load(store)
      .collect().map(r => (r.getString(0), r.getLong(3), r.getString(4)))
      .sorted.toSeq
    val before = readAll()
    // pins the victims, so the pre-split travel window stays readable
    graft.sources.cell.GraftCellSnapshot.create(store, "pre")
    val (split, created) = GraftCellMaintenance.splitRegion(s, store, "m")
    assert((split, created) == ((2L, 4L)), s"split summary: ($split, $created)")
    val metas = CellFooterCache.filesOf(store)
    assert(metas.size == 4, s"four halves expected: ${metas.map(_.path)}")
    assertFooterTruth(metas)
    assert(readAll() == before, "content must survive the split")
    assert(GraftCellMaintenance.hbck(store) ==
      ((1L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L)), "hbck must be clean")
    assert(!Option(new java.io.File(store).list).get.exists(
      _.startsWith("_tmp_")), "the split must leave no tmp dir")
  }

  test("merge_regions k-way-merges adjacent files; content and sort order preserved (r16)") {
    import graft.sources.cell.CellFooterCache
    import scala.collection.JavaConverters._
    val root = SparkFixture.scratchDir("graft_merge_spec_").toString
    s.conf.set("spark.sql.catalog.graftmerge",
               classOf[graft.sources.cell.GraftCellCatalog].getName)
    s.conf.set("spark.sql.catalog.graftmerge.root", root)
    s.sql("""CREATE TABLE graftmerge.t (rowkey STRING, family STRING,
             qualifier STRING, version BIGINT, value STRING)
             USING graftcell""")
    val store = s"$root/t"
    // rolled files whose boundaries SPLIT a rowkey (aa spans q1..q3 with
    // maxRowsPerFile 4) — the case where naive concat could break the
    // per-file (rowkey, family, qualifier, version) sort order
    val rows = for {
      k <- Seq("aa", "bb", "cc"); q <- Seq("q1", "q2", "q3")
    } yield org.apache.spark.sql.Row(k, if (k == "cc") null else "d", q, 1L,
                                     s"$k/$q")
    s.createDataFrame(rows.asJava, GraftCell.SCHEMA).coalesce(1)
      .write.format("graftcell").option("maxRowsPerFile", "4")
      .mode("append").save(store)
    val nBefore = CellFooterCache.filesOf(store).size
    assert(nBefore == 3, s"expected 3 rolled files, got $nBefore")
    def readAll() = s.sql(
      "SELECT * FROM graftmerge.t ORDER BY rowkey, qualifier")
      .collect().toSeq
    val before = readAll()
    val mr = s.sql("CALL graftmerge.merge_regions('t', 1073741824)").collect()
    assert(mr(0).getLong(0) == 1L && mr(0).getLong(1) == 3L &&
           mr(0).getLong(2) == 1L, s"merge summary: ${mr.toSeq}")
    assert(readAll() == before, "merge changed content")
    // the ONE merged file honors the declared write ordering: raw
    // parquet row order is (rowkey, family, qualifier, version)-sorted
    val merged = CellFooterCache.filesOf(store)
    assert(merged.size == 1)
    assertFooterTruth(merged)
    val raw = s.read.parquet(merged.head.path)
      .select("rowkey", "qualifier").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(raw == raw.sorted, s"merged file out of order: $raw")
    // below-threshold merge is a no-op (every run would exceed max)
    val noop = s.sql("CALL graftmerge.merge_regions('t', 1)").collect()
    assert(noop(0).getLong(0) == 0L, s"no-op merge: ${noop.toSeq}")
    s.sql("DROP TABLE graftmerge.t")
  }

  test("restore_snapshot repoints the live dir set; refusal paths pinned (r16)") {
    import graft.sources.cell.{CellFooterCache, CellRetire, GraftCellSnapshot}
    import scala.collection.JavaConverters._
    val root = SparkFixture.scratchDir("graft_restore_spec_").toString
    s.conf.set("spark.sql.catalog.graftrst",
               classOf[graft.sources.cell.GraftCellCatalog].getName)
    s.conf.set("spark.sql.catalog.graftrst.root", root)
    s.sql("""CREATE TABLE graftrst.t (rowkey STRING, family STRING,
             qualifier STRING, version BIGINT, value STRING)
             USING graftcell""")
    val store = s"$root/t"
    def cells(rows: Seq[(String, String)]) = s.createDataFrame(
      rows.map { case (k, v) =>
        org.apache.spark.sql.Row(k, "d", "q", 1L, v) }.asJava,
      GraftCell.SCHEMA)
    def readAll() = s.sql("SELECT rowkey, value FROM graftrst.t ORDER BY rowkey")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    cells(('a' to 'j').map(c => (c.toString, s"v$c")))
      .write.format("graftcell").mode("append").save(store)
    val good = readAll()
    s.sql("CALL graftrst.snapshot('t', 'good')")
    // two bad batches after the snapshot
    cells(Seq("k" -> "bad1")).write.format("graftcell")
      .mode("append").save(store)
    cells(Seq("m" -> "bad2")).write.format("graftcell")
      .mode("append").save(store)
    assert(readAll().size == 12)
    // list shows the snapshot valid (1 pinned dir, 0 missing)
    val ls = s.sql("CALL graftrst.list_snapshots('t')").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(ls == Seq(("good", 1L, 0L)), s"list: $ls")
    // restore drops exactly the post-snapshot batches, atomically
    val rr = s.sql("CALL graftrst.restore_snapshot('t', 'good')").collect()
    assert(rr(0).getLong(0) == 1L && rr(0).getLong(1) == 2L,
      s"restore summary: ${rr.toSeq}")
    assert(readAll() == good, "restore did not return the pinned content")
    // no pending intent, no orphan dirs beyond pinned + restore marker
    assert(CellRetire.retiredOf(store).isEmpty)
    val dirs = CellFooterCache.committedDirs(store)
    assert(dirs.size == 2 && dirs.exists(_.contains("restore")),
      s"dirs after restore: $dirs")
    // the snapshot survives its own restore (pinned dirs untouched)
    assert(readAll() == good)
    val ls2 = s.sql("CALL graftrst.list_snapshots('t')").collect()
    assert(ls2.length == 1 && ls2(0).getLong(2) == 0L)
    // refusal: unknown snapshot
    intercept[Exception] {
      s.sql("CALL graftrst.restore_snapshot('t', 'nope')").collect()
    }
    // r17 ARCHIVE: compaction retires the pinned generation into
    // _archive/ instead of destroying it — list reports 0 missing and
    // restore brings the pinned generation back (HBase archive-dir
    // semantics: a snapshot survives any maintenance until dropped)
    s.sql("CALL graftrst.compact('t')")
    val ls3 = s.sql("CALL graftrst.list_snapshots('t')").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(ls3 == Seq(("good", 1L, 0L)), s"post-compact list: $ls3")
    assert(new java.io.File(store, "_archive").isDirectory,
      "compaction must archive the pinned generation")
    s.sql("CALL graftrst.restore_snapshot('t', 'good')").collect()
    assert(readAll() == good,
      "restore after compaction must return the pinned generation")
    // a snapshot dies only when explicitly dropped — and the drop
    // sweeps the archived files it alone pinned
    s.sql("CALL graftrst.drop_snapshot('t', 'good')")
    intercept[Exception] {
      s.sql("CALL graftrst.restore_snapshot('t', 'good')").collect()
    }
    assert(graft.sources.cell.CellArchive.unreferenced(store) == 0L,
      "drop_snapshot must sweep archived files nothing pins")
    s.sql("DROP TABLE graftrst.t")
  }

  test("clone_snapshot: hard-linked clone survives source mutations (r16)") {
    import scala.collection.JavaConverters._
    val root = SparkFixture.scratchDir("graft_clone_spec_").toString
    s.conf.set("spark.sql.catalog.graftclone",
               classOf[graft.sources.cell.GraftCellCatalog].getName)
    s.conf.set("spark.sql.catalog.graftclone.root", root)
    s.sql("""CREATE TABLE graftclone.t (rowkey STRING, family STRING,
             qualifier STRING, version BIGINT, value STRING)
             USING graftcell
             TBLPROPERTIES ('ttl_micros' = '777')""")
    val store = s"$root/t"
    s.createDataFrame(
      ('a' to 'j').map(c =>
        org.apache.spark.sql.Row(c.toString, "d", "q", 1L, s"v$c")).asJava,
      GraftCell.SCHEMA)
      .write.format("graftcell").mode("append").save(store)
    def readAll(t: String) = s.sql(
      s"SELECT rowkey, value FROM graftclone.$t ORDER BY rowkey")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val base = readAll("t")
    s.sql("CALL graftclone.snapshot('t', 'base')")
    val cr = s.sql(
      "CALL graftclone.clone_snapshot('t', 'base', 'tclone')").collect()
    assert(cr(0).getLong(0) == 1L && cr(0).getLong(1) >= 1L,
      s"clone summary: ${cr.toSeq}")
    assert(readAll("tclone") == base, "clone does not equal the snapshot")
    // the descriptor traveled with the clone (HBase clone_snapshot)
    val shown = s.sql("SHOW TBLPROPERTIES graftclone.tclone").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(shown.get("ttl_micros").contains("777"), s"clone props: $shown")
    // a source DELETE retires the shared names (its survivors publish
    // in a new batch dir) — the clone keeps its own links
    s.sql("DELETE FROM graftclone.t WHERE rowkey >= 'h'")
    assert(readAll("t").size == 7)
    assert(readAll("tclone") == base, "source DELETE leaked into the clone")
    // a source major compaction UNLINKS the shared names — clone keeps
    s.sql("CALL graftclone.compact('t')")
    assert(readAll("tclone") == base, "source compaction broke the clone")
    // and the clone is a real independent table: it mutates alone
    s.sql("DELETE FROM graftclone.tclone WHERE rowkey = 'a'")
    assert(readAll("tclone").size == 9 && readAll("t").size == 7)
    // refusal: existing destination
    intercept[Exception] {
      s.sql("CALL graftclone.clone_snapshot('t', 'base', 'tclone')").collect()
    }
    // r17 ARCHIVE + r18 MVCC: the compaction above moved base's pinned
    // generation to _archive/, so cloning it still works — and since
    // the ranged DELETE rewrote under a NEW name and archived the
    // pinned original, the clone carries the snapshot's FULL
    // creation-time content (snapshot isolation under DML)
    s.sql("DROP TABLE IF EXISTS graftclone.tclone2")
    s.sql("CALL graftclone.clone_snapshot('t', 'base', 'tclone2')").collect()
    assert(readAll("tclone2") == base,
      "archived clone must equal the snapshot's creation-time content")
    // only an explicit drop kills the snapshot
    s.sql("CALL graftclone.drop_snapshot('t', 'base')")
    s.sql("DROP TABLE IF EXISTS graftclone.tclone3")
    val e = intercept[Exception] {
      s.sql("CALL graftclone.clone_snapshot('t', 'base', 'tclone3')").collect()
    }
    assert(e.getMessage.contains("no snapshot"), e.getMessage)
    s.sql("DROP TABLE graftclone.t")
    s.sql("DROP TABLE graftclone.tclone")
    s.sql("DROP TABLE graftclone.tclone2")
  }

  test("max_versions retention: compact keeps the n newest versions (r16)") {
    import scala.collection.JavaConverters._
    val root = SparkFixture.scratchDir("graft_mv_spec_").toString
    s.conf.set("spark.sql.catalog.graftmv",
               classOf[graft.sources.cell.GraftCellCatalog].getName)
    s.conf.set("spark.sql.catalog.graftmv.root", root)
    def mk(t: String, props: String): Unit = {
      s.sql(s"""CREATE TABLE graftmv.$t (rowkey STRING, family STRING,
               qualifier STRING, version BIGINT, value STRING)
               USING graftcell$props""")
      // three versions per cell for 5 rowkeys
      (1L to 3L).foreach { v =>
        s.createDataFrame(
          ('a' to 'e').map(c =>
            org.apache.spark.sql.Row(c.toString, "d", "q", v, s"v$c$v")).asJava,
          GraftCell.SCHEMA)
          .write.format("graftcell").mode("append").save(s"$root/$t")
      }
    }
    def content(t: String) = s.sql(
      s"""SELECT rowkey, version, value FROM graftmv.$t
          ORDER BY rowkey, version""").collect().toSeq
    // property-driven retention ≡ explicit-argument retention
    mk("t1", " TBLPROPERTIES ('max_versions' = '2')")
    s.sql("CALL graftmv.compact('t1')")
    mk("t2", "")
    s.sql("CALL graftmv.compact('t2', -1, NULL, 2)")
    assert(content("t1") == content("t2"),
      "property-driven retention diverged from argument-driven")
    // exactly versions {2,3} survive per cell
    val got = content("t1").map(r => (r.getString(0), r.getLong(1)))
    assert(got == ('a' to 'e').flatMap(c =>
      Seq((c.toString, 2L), (c.toString, 3L))).toSeq, s"kept: $got")
    // default stays latest-only
    mk("t3", "")
    s.sql("CALL graftmv.compact('t3')")
    assert(content("t3").map(_.getLong(1)).forall(_ == 3L))
    // refusal: zero/negative retention
    intercept[Exception] {
      s.sql("ALTER TABLE graftmv.t3 SET TBLPROPERTIES ('max_versions' = '0')")
    }
    Seq("t1", "t2", "t3").foreach(t => s.sql(s"DROP TABLE graftmv.$t"))
  }

  test("hide-all-older delete markers (r19): a marker masks every " +
       "version at or below it — marker and masked drop together; the " +
       "default family keeps the pinned delete-if-current rule") {
    import scala.collection.JavaConverters._
    val root = SparkFixture.scratchDir("graft_dm_spec_").toString
    s.conf.set("spark.sql.catalog.graftdm",
               classOf[graft.sources.cell.GraftCellCatalog].getName)
    s.conf.set("spark.sql.catalog.graftdm.root", root)
    def mk(t: String, props: String): Unit = {
      s.sql(s"""CREATE TABLE graftdm.$t (rowkey STRING, family STRING,
               qualifier STRING, version BIGINT, value STRING)
               USING graftcell$props""")
      val rows = for {
        fam <- Seq("cur", "hba"); c <- 'a' to 'e'
        (v, value) <- Seq(1L -> "old", 2L -> "mid", 3L -> "__D__") ++
          (if (c >= 'c') Seq(4L -> "new") else Nil)
      } yield org.apache.spark.sql.Row(c.toString, fam, "q", v, value)
      s.createDataFrame(rows.asJava, GraftCell.SCHEMA)
        .write.format("graftcell").mode("append").save(s"$root/$t")
    }
    def content(t: String) = s.sql(
      s"""SELECT family, rowkey, version, value FROM graftdm.$t
          ORDER BY family, rowkey, version""").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
                 r.getString(3))).toSeq
    mk("t1", """ TBLPROPERTIES ('tombstone' = '__D__',
                'max_versions' = '2',
                'family.hba.delete_markers' = 'hide-all-older')""")
    s.sql("CALL graftdm.compact('t1')")
    val got = content("t1")
    // default family: the marker ranks like a put and consumes a
    // retained slot, then drops — version 2 RESURFACES where no newer
    // put exists (delete-if-current, the long-pinned engine rule)
    val expCur = Seq("a", "b").map(k => ("cur", k, 2L, "mid")) ++
      Seq("c", "d", "e").map(k => ("cur", k, 4L, "new"))
    // hide-all-older family: marker at 3 masks versions ≤ 3 — marker
    // AND masked versions drop TOGETHER; only the post-marker put lives
    val expHba = Seq("c", "d", "e").map(k => ("hba", k, 4L, "new"))
    assert(got == expCur ++ expHba, s"got: $got")
    assert(got.forall(_._4 != "__D__"), "no marker may survive")
    // explicit-argument override forces the mode uniform for one run
    mk("t2", " TBLPROPERTIES ('tombstone' = '__D__', 'max_versions' = '2')")
    s.sql("CALL graftdm.compact('t2', -1, NULL, -1, 'hide-all-older')")
    assert(content("t2") ==
      Seq("cur", "hba").flatMap(f =>
        Seq("c", "d", "e").map(k => (f, k, 4L, "new"))),
      "explicit delete_markers argument must apply to every family")
    // refusals: an unknown mode is a lie, at CREATE and at CALL
    intercept[Exception] {
      s.sql("ALTER TABLE graftdm.t2 SET TBLPROPERTIES " +
            "('delete_markers' = 'sometimes')")
    }
    intercept[Exception] {
      s.sql("CALL graftdm.compact('t2', -1, NULL, -1, 'bogus')")
    }
    Seq("t1", "t2").foreach(t => s.sql(s"DROP TABLE graftdm.$t"))
  }

  test("retire intents close the group-replace publish/delete window; repair completes") {
    import graft.sources.cell.{CellFooterCache, CellRetire}
    import scala.collection.JavaConverters._
    val store = SparkFixture.scratchDir("graft_retire_spec_").toString + "/t"
    def cells(rows: Seq[(String, String)]) = s.createDataFrame(
      rows.map { case (k, v) =>
        org.apache.spark.sql.Row(k, "d", "q", 1L, v) }.asJava,
      GraftCell.SCHEMA)
    cells(('a' to 't').map(c => (c.toString, s"v$c")))
      .write.format("graftcell").option("maxRowsPerFile", "5")
      .mode("append").save(store)
    val batch1 = CellFooterCache.committedDirs(store)
    // the file whose range starts the store (holds 'a'..)
    val victim = CellFooterCache.filesOf(store)
      .minBy(_.minKey.map(new String(_)).getOrElse("~"))
    val victimKeys = ('a' to 't').map(_.toString)
      .filter(k => victim.minKey.exists(new String(_) <= k) &&
                   victim.maxKey.exists(new String(_) >= k))
    assert(victimKeys.nonEmpty && victimKeys.size < 20)
    // simulate the CRASH WINDOW of a group replace: the rewritten rows
    // are PUBLISHED (a real connector append) with a retire intent for
    // the victim file, but the victim itself was never deleted
    cells(victimKeys.map(k => (k, s"v$k*")))
      .write.format("graftcell").mode("append").save(store)
    val batch2 = CellFooterCache.committedDirs(store).diff(batch1)
    assert(batch2.size == 1)
    CellRetire.write(new java.io.File(store, batch2.head),
                     Seq(victim.path))
    CellFooterCache.invalidate(store)
    // batch readers exclude the intent-listed file: NO duplicates, the
    // rewritten values win — mid-window reads are already exactly-once
    def readAll() = s.read.format("graftcell").load(store)
      .select("rowkey", "value").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq.sorted
    val during = readAll()
    assert(during.size == 20, s"double-counted rows: ${during.size}")
    victimKeys.foreach(k => assert(during.contains((k, s"v$k*")), s"$k"))
    assert(new java.io.File(victim.path).isFile, "victim gone too early")
    // and the footer-answered aggregate honors the intent too
    val n = s.read.format("graftcell").load(store)
      .agg(count(lit(1))).collect()(0).getLong(0)
    assert(n == 20L, s"agg pushdown double-counted: $n")
    // repair completes the retirement: file deleted, manifest updated,
    // intent dropped, content unchanged, still zero footer opens
    val (intents, removed) = CellRetire.repair(store)
    assert(intents == 1L && removed == 1L, s"repair: $intents/$removed")
    assert(!new java.io.File(victim.path).exists())
    assert(CellRetire.retiredOf(store).isEmpty)
    CellFooterCache.invalidate(store)
    val opens0 = CellFooterCache.footerOpens.get()
    assert(readAll() == during)
    assert(CellFooterCache.footerOpens.get() == opens0,
      "repair left a stale manifest (footer fallback)")
  }

  test("OR pushdown: a multi-range probe plans the UNION of its disjuncts' files (r16)") {
    // HBase MultiRowRangeFilter: before r16 an Or was rejected by
    // pushFilters — zero file pruning, full-store scan. Now it pushes,
    // prunes per disjunct, and the scan plans strictly fewer files
    // than the store holds.
    val df = SparkEntry.queries("cell_connector_multirange")(s, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GraftCellScan"))
    assert(plan.contains("Or("), s"Or not pushed:\n$plan")
    val m = "regionFiles: (\\d+)/(\\d+)".r.findFirstMatchIn(plan)
    assert(m.nonEmpty, s"no regionFiles marker:\n$plan")
    val (got, total) = (m.get.group(1).toInt, m.get.group(2).toInt)
    assert(got < total, s"OR predicate did not prune: ${m.get.matched}")
    // and the union is EXACT on this store: planned files = the union
    // of the per-disjunct plans (no envelope blowup between the bands)
    def planned(d: org.apache.spark.sql.DataFrame): Int =
      "regionFiles: (\\d+)/".r
        .findFirstMatchIn(d.queryExecution.executedPlan.toString)
        .get.group(1).toInt
    val store = Fixtures.storePath(dir)
    val base = s.read.format("graftcell").load(store)
    val perDisjunct = Seq(
      base.filter(col("rowkey") >= "10" && col("rowkey") < "12"),
      base.filter(col("rowkey") >= "85" && col("rowkey") < "90"),
      base.filter(col("rowkey").startsWith("42"))).map(planned)
    assert(got <= perDisjunct.sum && got >= perDisjunct.max,
           s"union pruning off: $got vs per-disjunct $perDisjunct")
  }

  test("minor compaction completes pending retirements first (ADVICE r15: no resurrection)") {
    import graft.sources.cell.{CellFooterCache, CellRetire, GraftCellMaintenance}
    import scala.collection.JavaConverters._
    val store = SparkFixture
      .scratchDir("graft_minor_retire_spec_").toString + "/t"
    def cells(rows: Seq[(String, String)]) = s.createDataFrame(
      rows.map { case (k, v) =>
        org.apache.spark.sql.Row(k, "d", "q", 1L, v) }.asJava,
      GraftCell.SCHEMA)
    // batch1: the LARGE surviving generation (above the minor threshold)
    cells(('a' to 't').map(c => (c.toString, s"v$c")))
      .write.format("graftcell").option("maxRowsPerFile", "5")
      .mode("append").save(store)
    val batch1 = CellFooterCache.committedDirs(store)
    val batch1Bytes = CellFooterCache.filesOf(store).map(_.bytes).sum
    val victim = CellFooterCache.filesOf(store)
      .minBy(_.minKey.map(new String(_)).getOrElse("~"))
    val victimKeys = ('a' to 't').map(_.toString)
      .filter(k => victim.minKey.exists(new String(_) <= k) &&
                   victim.maxKey.exists(new String(_) >= k))
    // batch2: SMALL dir carrying the crash-window intent — its rows
    // replace the victim file that still sits in the big batch1
    cells(victimKeys.map(k => (k, s"v$k*")))
      .write.format("graftcell").mode("append").save(store)
    val batch2 = CellFooterCache.committedDirs(store).diff(batch1)
    CellRetire.write(new java.io.File(store, batch2.head), Seq(victim.path))
    // batch3: a second small dir so the minor compaction has ≥2 victims
    cells(Seq("u" -> "vu", "w" -> "vw", "y" -> "vy"))
      .write.format("graftcell").mode("append").save(store)
    CellFooterCache.invalidate(store)
    def readAll() = s.read.format("graftcell").load(store)
      .select("rowkey", "value").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq.sorted
    val before = readAll()
    assert(before.map(_._1).distinct.size == 23, s"pre-state wrong: $before")
    // minor-compact the two SMALL dirs (batch1 stays): the fix repairs
    // the pending retirement BEFORE selecting victims, so deleting the
    // intent-bearing batch2 dir cannot resurrect the replaced file.
    // Threshold sits just under batch1's POST-repair size (repair
    // removes the victim file from it first).
    val merged = GraftCellMaintenance
      .minorCompact(s, store, batch1Bytes - victim.bytes - 1)
    assert(merged.size == 2, s"expected 2 victims, got $merged")
    val after = readAll()
    assert(after == before,
      s"minor compaction changed content:\n  before=$before\n  after=$after")
    // exactly one row per key — the old bug double-counted victimKeys
    assert(after.map(_._1).distinct.size == after.size,
      s"resurrected retired rows: $after")
    victimKeys.foreach(k => assert(after.contains((k, s"v$k*")), s"$k stale"))
    assert(!new java.io.File(victim.path).exists(),
      "repair did not delete the retired file")
    assert(CellRetire.retiredOf(store).isEmpty, "intent survived compaction")
  }

  test("a SECOND COW scan instance for one row-level operation fails loudly (ADVICE r15)") {
    import graft.sources.cell.GraftCellRowLevelOperation
    import org.apache.spark.sql.connector.write.RowLevelOperation.Command
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val op = new GraftCellRowLevelOperation("/tmp/graft_cow_guard", Command.UPDATE)
    val opts = CaseInsensitiveStringMap.empty()
    val b1 = op.newScanBuilder(opts)
    val scan1 = b1.build()
    // repeated build() on ONE builder returns the cached instance — legal
    assert(b1.build() eq scan1)
    // a different builder would register a DIFFERENT scan instance: the
    // commit could no longer tell which scan executed — refused
    val e = intercept[IllegalArgumentException] {
      op.newScanBuilder(opts).build()
    }
    assert(e.getMessage.contains("second COW scan"))
  }

  test("persisted manifest: plans with ZERO footer opens; stats exactly the footer truth") {
    import graft.sources.cell.{CellFooterCache, CellManifest}
    import scala.collection.JavaConverters._
    val store = SparkFixture.scratchDir("graft_manifest_spec_").toString + "/t"
    val rows = ('a' to 't').map(c => org.apache.spark.sql.Row(c.toString,
      if (c == 'k') null else "d", "q", c.toLong, s"v$c"))
    s.createDataFrame(rows.asJava, GraftCell.SCHEMA)
      .write.format("graftcell").option("maxRowsPerFile", "5")
      .mode("append").save(store)
    // the commit persisted a manifest INSIDE the published batch dir
    // (it rode the same atomic rename as the data files)
    val dirs = CellFooterCache.committedDirs(store)
    assert(dirs.size == 1)
    val mf = new java.io.File(new java.io.File(store, dirs.head),
                              CellManifest.NAME)
    assert(mf.isFile, s"no manifest in $store/${dirs.head}")
    assert(CellManifest.read(mf.getParentFile).exists(_.committedAtMicros > 0))
    // cold plan on a manifest-bearing store: ZERO driver footer opens —
    // the first-plan serialization at millions of region files is gone
    CellFooterCache.invalidate(store)
    val opens0 = CellFooterCache.footerOpens.get()
    val viaManifest = CellFooterCache.filesOf(store)
    assert(viaManifest.size >= 2, "expected multiple rolled region files")
    // ... and reads (with the usual footer-stat pruning) still work
    val got = s.read.format("graftcell").load(store)
      .filter(col("rowkey") >= "c" && col("rowkey") < "f")
      .select("rowkey").collect().map(_.getString(0)).sorted.toSeq
    assert(got == Seq("c", "d", "e"))
    assert(CellFooterCache.footerOpens.get() == opens0,
      "manifest-bearing store opened parquet footers at plan time")
    // the manifest's stats are EXACTLY what the footers say — delete it
    // and force the legacy fallback to re-derive them
    assert(mf.delete())
    CellFooterCache.invalidate(store)
    val viaFooters = CellFooterCache.filesOf(store)
    assert(CellFooterCache.footerOpens.get() > opens0,
      "legacy fallback did not open footers")
    assert(viaManifest.map(_.path).sorted == viaFooters.map(_.path).sorted)
    assertFooterTruth(viaManifest)
  }

  test("qualifier/family manifest stats prune whole generations (r16)") {
    import graft.sources.cell.CellFooterCache
    import scala.collection.JavaConverters._
    // Two generations over the SAME rowkey band that differ only in
    // their qualifier sets — the HBase per-CF store-file shape (an
    // index/annotation era written long after the base columns). A
    // qualifier-only probe has NO rowkey constraint, so before r16 it
    // planned every file; the family/qualifier min/max in the manifest
    // now skip the foreign generation entirely.
    val store = SparkFixture.scratchDir("graft_qual_spec_").toString + "/t"
    def gen(qs: Seq[String]) = s.createDataFrame(
      (for { c <- 'a' to 'j'; q <- qs }
        yield org.apache.spark.sql.Row(c.toString, "d", q, 1L, s"$c/$q")).asJava,
      GraftCell.SCHEMA)
    gen(Seq("alpha", "beta")).write.format("graftcell")
      .mode("append").save(store)
    gen(Seq("zeta")).write.format("graftcell")
      .mode("append").save(store)
    val total = CellFooterCache.filesOf(store).size
    assert(total >= 2)
    val df = s.read.format("graftcell").load(store)
      .filter(col("qualifier") === "zeta")
    val plan = df.queryExecution.executedPlan.toString
    val m = "regionFiles: (\\d+)/(\\d+)".r.findFirstMatchIn(plan)
    assert(m.nonEmpty, s"no regionFiles marker:\n$plan")
    assert(m.get.group(1).toInt < m.get.group(2).toInt,
           s"qualifier-only probe did not prune: ${m.get.matched}\n$plan")
    // and the probe is exact: every zeta cell, nothing else
    val got = df.select("rowkey", "value").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq.sorted
    assert(got == ('a' to 'j').map(c => (c.toString, s"$c/zeta")).toSeq,
           s"content wrong: $got")
    // family stats prune a foreign-family probe to zero files
    val fplan = s.read.format("graftcell").load(store)
      .filter(col("family") === "x")
      .queryExecution.executedPlan.toString
    val fm = "regionFiles: (\\d+)/".r.findFirstMatchIn(fplan)
    assert(fm.exists(_.group(1).toInt == 0), s"family probe planned files:\n$fplan")
  }

  test("persisted manifest stays exact through in-place DELETE rewrites") {
    import graft.sources.cell.{CellFooterCache, GraftCellTable}
    import org.apache.spark.sql.sources.LessThan
    import scala.collection.JavaConverters._
    val store = SparkFixture
      .scratchDir("graft_manifest_del_spec_").toString + "/t"
    // 'd' has a NULL family and survives into the rewritten file
    val rows = ('a' to 't').map(c => org.apache.spark.sql.Row(c.toString,
      if (c == 'd') null else "d", "q", 1L, s"v$c"))
    s.createDataFrame(rows.asJava, GraftCell.SCHEMA)
      .write.format("graftcell").option("maxRowsPerFile", "5")
      .mode("append").save(store)
    new GraftCellTable(store)
      .deleteWhere(Array[org.apache.spark.sql.sources.Filter](
        LessThan("rowkey", "c")))
    // the rewriting tasks shipped fresh stats back into the DELETE
    // dir's manifest, and the victims' manifest dropped their entries,
    // so the cold re-plan still needs no footers
    CellFooterCache.invalidate(store)
    val opens0 = CellFooterCache.footerOpens.get()
    val metas = CellFooterCache.filesOf(store)
    assert(CellFooterCache.footerOpens.get() == opens0,
      "DELETE left the manifest stale (fallback footer opens)")
    assert(metas.map(_.rowCount).sum == 18L) // 20 rows − {a, b}
    // new min key reflects the rewrite: 'a'/'b' gone ⇒ min is 'c'
    val minKey = metas.flatMap(_.minKey).map(new String(_)).min
    assert(minKey == "c", s"stale min key $minKey")
    // and the remembered stats match a footer re-derivation exactly
    assertFooterTruth(metas)
  }

  test("sinceSnapshot plans ONLY post-snapshot generations; between-windows are reproducible (r16)") {
    import graft.sources.cell.{CellFooterCache, GraftCellSnapshot}
    val root = SparkFixture.scratchDir("graft_inc_spec_").toString
    val store = s"$root/store"
    def put(keys: (String, String)*): Unit = {
      import scala.collection.JavaConverters._
      s.createDataFrame(
        keys.map { case (rk, v) =>
          org.apache.spark.sql.Row(rk, "d", "q", 1L, v) }.asJava,
        GraftCell.SCHEMA)
        .write.format("graftcell").mode("append").save(store)
    }
    put("a" -> "1", "b" -> "2")
    GraftCellSnapshot.create(store, "s1")
    put("c" -> "3")
    GraftCellSnapshot.create(store, "s2")
    put("d" -> "4")

    // the incremental listing is exactly the live files MINUS s1's
    // pinned dirs — O(delta) planning, disjoint from the snapshot
    val s1Dirs = GraftCellSnapshot.dirs(store, "s1").toSet
    val delta = CellFooterCache.filesOf(store, None, None, Some("s1"))
    assert(delta.nonEmpty &&
      delta.forall(m => !s1Dirs.contains(
        new java.io.File(m.path).getParentFile.getName)))
    assert(delta.size ==
      CellFooterCache.filesOf(store).size -
      CellFooterCache.filesOf(store, Some("s1")).size)

    // the read returns exactly the post-s1 rows, and the plan carries
    // the since marker (the evidence string PLANS.md prints)
    val sinceDf = s.read.format("graftcell")
      .option("sinceSnapshot", "s1").load(store)
    assert(sinceDf.queryExecution.executedPlan.toString
      .contains("sinceSnapshot=s1"))
    assert(sinceDf.select("rowkey").collect().map(_.getString(0)).sorted
      .toSeq == Seq("c", "d"))
    // metadata aggregate pushdown composes: COUNT(*) of the delta is
    // answered from the delta's manifests alone
    val cnt = sinceDf.groupBy().count()
    assert(cnt.queryExecution.executedPlan.toString.contains("GraftCellAggScan")
           || cnt.collect().head.getLong(0) == 2L)
    assert(cnt.collect().head.getLong(0) == 2L)
    // pushed filters still prune inside the delta
    assert(sinceDf.filter(col("rowkey") === "d").collect().map(_.getString(0))
      .toSeq == Seq("d"))

    // BETWEEN window [s1, s2): both bounds named ⇒ reproducible
    def window() = s.read.format("graftcell")
      .option("snapshot", "s2").option("sinceSnapshot", "s1").load(store)
      .select("rowkey").collect().map(_.getString(0)).toSeq.sorted
    val w1 = window()
    assert(w1 == Seq("c"))
    put("e" -> "5") // the live log moves...
    assert(window() == w1, "a named window must not move with the live log")
    // ...and the open-ended since DOES follow it
    assert(s.read.format("graftcell").option("sinceSnapshot", "s1")
      .load(store).count() == 3L)

    // refusals: unknown since-snapshot; writes through the option
    intercept[Exception] {
      s.read.format("graftcell").option("sinceSnapshot", "nope")
        .load(store).count()
    }
    intercept[Exception] {
      s.range(0).selectExpr("'a' rowkey", "'d' family", "'q' qualifier",
                            "1L version", "'v' value")
        .write.format("graftcell").option("sinceSnapshot", "s1")
        .mode("append").save(store)
    }
  }

  test("streaming sinceSnapshot starts at the snapshot boundary — no replay, tail only (r16)") {
    import org.apache.spark.sql.streaming.Trigger
    import graft.sources.cell.GraftCellSnapshot
    val root = SparkFixture.scratchDir("graft_incstream_spec_").toString
    val (store, cp, out) = (s"$root/store", s"$root/ckpt", s"$root/out")
    def put(keys: (String, String)*): Unit = {
      import scala.collection.JavaConverters._
      s.createDataFrame(
        keys.map { case (rk, v) =>
          org.apache.spark.sql.Row(rk, "d", "q", 1L, v) }.asJava,
        GraftCell.SCHEMA)
        .write.format("graftcell").mode("append").save(store)
    }
    def drain(): (Seq[String], Long) = {
      val q = s.readStream.format("graftcell")
        .option("sinceSnapshot", "boot").load(store)
        .writeStream.format("parquet").option("path", out)
        .outputMode("append").trigger(Trigger.AvailableNow())
        .option("checkpointLocation", cp).start()
      q.awaitTermination()
      val rows = s.read.schema(GraftCell.SCHEMA).parquet(out)
        .select("rowkey").collect().map(_.getString(0)).toSeq.sorted
      (rows, q.recentProgress.count(_.numInputRows > 0).toLong)
    }
    // bootstrap generation, pinned; then two tail batches
    put("a" -> "1", "b" -> "2")
    GraftCellSnapshot.create(store, "boot")
    put("c" -> "3")
    put("d" -> "4")
    // fresh checkpoint: the pinned dirs are the INITIAL offset, so the
    // drain delivers exactly the two tail batches — the bootstrap rows
    // never replay (they ship out of band via clone_snapshot)
    val (rows1, fed1) = drain()
    assert(rows1 == Seq("c", "d"), s"bootstrap replayed: $rows1")
    assert(fed1 == 2L, s"tail should pace as 2 micro-batches, saw $fed1")
    // resume composes: a post-boot commit arrives alone on the next
    // drain — and the bootstrap snapshot may be DROPPED between runs
    // (the offset log owns the position after the first run; the
    // snapshot is only read by initialOffset on a fresh checkpoint)
    GraftCellSnapshot.drop(store, "boot")
    put("e" -> "5")
    val (rows2, fed2) = drain()
    assert(rows2 == Seq("c", "d", "e") && fed2 == 1L)
  }

  test("filtered COUNT/MIN/MAX answer from manifests when the range is region-aligned (r16)") {
    import graft.sources.cell.CellFooterCache
    val root = SparkFixture.scratchDir("graft_aggf_spec_").toString
    val store = s"$root/store"
    import scala.collection.JavaConverters._
    // 26 keys + 2 NULL rowkeys, rolled every 5 rows: NULLS FIRST puts
    // the nulls in file 1 → files [null,null,a..c][d..h][i..m][n..r][s..w][x..z]
    val rows = Seq(null, null) ++ ('a' to 'z').map(_.toString)
    s.createDataFrame(
      rows.map(k => org.apache.spark.sql.Row(k, "d", "q", 1L, s"v$k")).asJava,
      GraftCell.SCHEMA)
      .write.format("graftcell").option("maxRowsPerFile", "5")
      .mode("append").save(store)
    val metas = CellFooterCache.filesOf(store)
    assert(metas.map(_.rowCount).sum == 28L)
    assert(metas.map(_.nullKeys.get).sum == 2L, "write tasks must track null rowkeys")
    def df = s.read.format("graftcell").load(store)
    def isMeta(q: org.apache.spark.sql.DataFrame) =
      q.queryExecution.executedPlan.toString.contains("GraftCellAggScan")

    // region-aligned band: answered from the manifest, zero data read
    val aligned = df.filter(col("rowkey") >= "d" && col("rowkey") < "i").groupBy().count()
    assert(isMeta(aligned), aligned.queryExecution.executedPlan.toString)
    assert(aligned.collect().head.getLong(0) == 5L)
    // a band covering the null-bearing file: NULLs never qualify a
    // rowkey predicate — count is rowCount − nullKeys, not rowCount
    val nullBand = df.filter(col("rowkey") <= "c").groupBy().count()
    assert(isMeta(nullBand))
    assert(nullBand.collect().head.getLong(0) == 3L)
    // unfiltered COUNT(*) still counts every row, nulls included
    val full = df.groupBy().count()
    assert(isMeta(full) && full.collect().head.getLong(0) == 28L)
    // MIN/MAX ride the same eligibility
    val mm = df.filter(col("rowkey") >= "d" && col("rowkey") < "i")
      .agg(min("rowkey"), max("rowkey"))
    assert(isMeta(mm))
    assert(mm.collect().head.toSeq == Seq("d", "h"))
    // a STRADDLING bound refuses the metadata answer and falls back to
    // the normal scan + Spark aggregation — same value, real read
    val straddle = df.filter(col("rowkey") >= "e" && col("rowkey") < "k").groupBy().count()
    assert(!isMeta(straddle))
    assert(straddle.collect().head.getLong(0) == 6L)
    // IN-lists are envelope-pruned, not range-exact: never metadata
    val inList = df.filter(col("rowkey").isin("d", "e")).groupBy().count()
    assert(!isMeta(inList) && inList.collect().head.getLong(0) == 2L)

    // legacy manifests (no nullKeys) refuse the FILTERED answer but
    // keep the unfiltered one; value stays correct through the scan
    val dirName = CellFooterCache.committedDirs(store).head
    val mf = new java.io.File(s"$store/$dirName/_manifest.json")
    val stripped = new String(java.nio.file.Files.readAllBytes(mf.toPath))
      .replaceAll(""","nullKeys":\d+""", "")
    java.nio.file.Files.write(mf.toPath, stripped.getBytes)
    CellFooterCache.invalidate(store)
    assert(CellFooterCache.filesOf(store).forall(_.nullKeys.isEmpty))
    val legacy = df.filter(col("rowkey") >= "d" && col("rowkey") < "i").groupBy().count()
    assert(!isMeta(legacy) && legacy.collect().head.getLong(0) == 5L)
    assert(isMeta(df.groupBy().count()))

    // footer fallback re-derives nullKeys from parquet statistics —
    // deleting the manifest restores filtered-metadata eligibility
    assert(mf.delete())
    CellFooterCache.invalidate(store)
    val before = CellFooterCache.footerOpens.get()
    val refs = CellFooterCache.filesOf(store)
    assert(CellFooterCache.footerOpens.get() > before, "expected footer fallback")
    assert(refs.map(_.nullKeys.get).sum == 2L,
      "footer fallback must re-derive nullKeys from parquet stats")
    val viaFooter = df.filter(col("rowkey") <= "c").groupBy().count()
    assert(isMeta(viaFooter) && viaFooter.collect().head.getLong(0) == 3L)
  }

  test("export_snapshot byte-copies the pinned generation; partial exports wiped, completed refused (r16)") {
    import graft.sources.cell.{CellFooterCache, GraftCellSnapshot}
    val root = SparkFixture.scratchDir("graft_exp_spec_").toString
    val store = s"$root/store"
    import scala.collection.JavaConverters._
    def put(keys: (String, String)*): Unit = s.createDataFrame(
      keys.map { case (rk, v) =>
        org.apache.spark.sql.Row(rk, "d", "q", 1L, v) }.asJava,
      GraftCell.SCHEMA)
      .write.format("graftcell").mode("append").save(store)
    put("a" -> "1", "b" -> "2")
    put("c" -> "3")
    GraftCellSnapshot.create(store, "bak")
    put("d" -> "4") // post-snapshot: must NOT export

    val dest = s"$root/backup"
    // a pre-existing NON-EXPORT directory is user data: refused, not
    // wiped (only the _EXPORTING intent marker authorizes cleanup)
    new java.io.File(dest).mkdirs()
    java.nio.file.Files.write(
      new java.io.File(dest, "precious.txt").toPath, Array[Byte](1, 2, 3))
    intercept[Exception] { GraftCellSnapshot.export(s, store, "bak", dest) }
    assert(new java.io.File(dest, "precious.txt").exists(),
      "a refused export must not touch the destination")
    assert(new java.io.File(dest, "precious.txt").delete())
    // a crashed PARTIAL export (intent marker present) is wiped, redone
    java.nio.file.Files.write(
      new java.io.File(dest, "_EXPORTING").toPath, Array.emptyByteArray)
    java.nio.file.Files.write(
      new java.io.File(dest, "junk.parquet").toPath, Array[Byte](1, 2, 3))
    val (dirs, files, bytes) =
      GraftCellSnapshot.export(s, store, "bak", dest)
    assert(dirs == 2L && files == 2L && bytes > 0L)
    assert(!new java.io.File(dest, "junk.parquet").exists(),
      "partial export debris must be wiped")
    assert(!new java.io.File(dest, "_EXPORTING").exists(),
      "completed export must clear the intent marker")
    // the export is a standalone store carrying the PINNED generation
    val got = s.read.format("graftcell").load(dest)
      .select("rowkey").collect().map(_.getString(0)).toSeq.sorted
    assert(got == Seq("a", "b", "c"), s"exported content: $got")
    // manifests traveled: planning the export opens ZERO footers
    val before = CellFooterCache.footerOpens.get()
    CellFooterCache.invalidate(dest)
    assert(CellFooterCache.filesOf(dest).size == 2)
    assert(CellFooterCache.footerOpens.get() == before,
      "exported manifests must plan without footer opens")
    // BYTE copy, not links: no exported file shares an inode with the
    // source (the clone/export distinction — this one survives media
    // separation), and later source mutations can't reach it
    def walk(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles).getOrElse(Array.empty).toSeq
        .flatMap(f => if (f.isDirectory) walk(f) else Seq(f))
    walk(new java.io.File(dest)).filter(_.getName.endsWith(".parquet"))
      .foreach { f =>
        val n = java.nio.file.Files.getAttribute(f.toPath, "unix:nlink")
          .asInstanceOf[Number].intValue()
        assert(n == 1, s"${f.getName} is hard-linked ($n)")
      }
    // a COMPLETED export refuses overwrite; an invalidated snapshot
    // refuses export
    intercept[Exception] { GraftCellSnapshot.export(s, store, "bak", dest) }
    SparkFixture.plantV1Snapshot(store, "gone", Seq("batch_nonexistent"))
    intercept[Exception] {
      GraftCellSnapshot.export(s, store, "gone", s"$root/backup2")
    }
    // INCREMENTAL export: the [bak, bak2) window ships ONLY the batch
    // committed between the two snapshots — the nightly-backup verb
    GraftCellSnapshot.create(store, "bak2")
    val (wDirs, wFiles, _) =
      GraftCellSnapshot.export(s, store, "bak2", s"$root/inc", Some("bak"))
    assert(wDirs == 1L && wFiles == 1L)
    val incGot = s.read.format("graftcell").load(s"$root/inc")
      .select("rowkey").collect().map(_.getString(0)).toSeq
    assert(incGot == Seq("d"), s"incremental window content: $incGot")
  }

  test("bulkload adopts a completed external store: stats travel, source read-only, refusals (r16)") {
    import graft.sources.cell.{CellFooterCache, CellRetire, GraftCellMaintenance}
    val root = SparkFixture.scratchDir("graft_bl_spec_").toString
    val src = s"$root/src"
    val store = s"$root/store"
    import scala.collection.JavaConverters._
    def put(path: String, keys: (String, String)*): Unit = s.createDataFrame(
      keys.map { case (rk, v) =>
        org.apache.spark.sql.Row(rk, "d", "q", 1L, v) }.asJava,
      GraftCell.SCHEMA)
      .write.format("graftcell").mode("append").save(path)
    put(src, "m" -> "1", "n" -> "2") // source batch 1
    put(src, "p" -> "3")             // source batch 2
    put(store, "a" -> "0")           // the live table's own generation
    val (dirs, files, rows) = GraftCellMaintenance.bulkload(s, store, src)
    assert((dirs, files, rows) == ((2L, 2L, 3L)),
      s"bulkload summary: ($dirs, $files, $rows)")
    // content = target ∪ adopted; SOURCE dir granularity preserved
    // (one adopted generation per source dir — the incremental window
    // replays as batches)
    val got = s.read.format("graftcell").load(store)
      .select("rowkey").collect().map(_.getString(0)).toSeq.sorted
    assert(got == Seq("a", "m", "n", "p"), s"bulkloaded content: $got")
    assert(CellFooterCache.committedDirs(store).size == 3)
    // the source is READ-ONLY throughout: both dirs still committed,
    // content unchanged (copy, never move — it may be a backup volume)
    assert(CellFooterCache.committedDirs(src).size == 2)
    assert(s.read.format("graftcell").load(src).count() == 3L)
    // manifest STATS TRAVELED: re-planning the grown store opens zero
    // parquet footers
    CellFooterCache.invalidate(store)
    val before = CellFooterCache.footerOpens.get()
    assert(CellFooterCache.filesOf(store).size == 3)
    assert(CellFooterCache.footerOpens.get() == before,
      "adopted generations must plan from traveled manifests")
    // refusals: a source without _SUCCESS is a half-written store;
    // a completed-but-empty source has nothing to adopt; the store
    // itself is not a source
    val bad = s"$root/bad"
    new java.io.File(bad).mkdirs()
    intercept[Exception] { GraftCellMaintenance.bulkload(s, store, bad) }
    java.nio.file.Files.write(
      new java.io.File(bad, "_SUCCESS").toPath, Array.emptyByteArray)
    intercept[Exception] { GraftCellMaintenance.bulkload(s, store, bad) }
    intercept[Exception] { GraftCellMaintenance.bulkload(s, store, store) }
    // files listed by a PENDING source retire intent are already
    // replaced there — excluded, exactly as the source's own readers
    // would exclude them. (Dir names are random UUIDs, so identify
    // the two source batches by row count: the 2-row "mn" batch
    // publishes an intent retiring the 1-row "p" batch's file.)
    val byDir = CellFooterCache.committedDirs(src)
      .map(d => d -> CellFooterCache.filesUnder(src, d))
    val mnDir = byDir.find(_._2.exists(_.rowCount == 2L)).get
    val pDir = byDir.find(_._2.exists(_.rowCount == 1L)).get
    CellRetire.write(new java.io.File(src, mnDir._1),
                     pDir._2.map(_.path))
    CellFooterCache.invalidate(src)
    val store2 = s"$root/store2"
    val (d2, f2, r2) = GraftCellMaintenance.bulkload(s, store2, src)
    assert((d2, f2, r2) == ((1L, 1L, 2L)),
      s"retired source files must not adopt: ($d2, $f2, $r2)")
    val got2 = s.read.format("graftcell").load(store2)
      .select("rowkey").collect().map(_.getString(0)).toSeq.sorted
    assert(got2 == Seq("m", "n"), s"store2 content: $got2")
  }

  test("hbck counts each drift class exactly; healthy store is all zeros (r16)") {
    import graft.sources.cell.{CellFooterCache, CellManifest, CellRetire,
                               GraftCellMaintenance, GraftCellSnapshot}
    val root = SparkFixture.scratchDir("graft_hbck_spec_").toString
    val store = s"$root/store"
    import scala.collection.JavaConverters._
    def put(keys: (String, String)*): Unit = s.createDataFrame(
      keys.map { case (rk, v) =>
        org.apache.spark.sql.Row(rk, "d", "q", 1L, v) }.asJava,
      GraftCell.SCHEMA)
      .write.format("graftcell").mode("append").save(store)
    put("a" -> "1")
    put("b" -> "2")
    assert(GraftCellMaintenance.hbck(store) ==
             ((2L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L)),
      "a healthy two-generation store must report all zeros")
    // a PENDING retire intent (the group-replace mid-window state:
    // published dir carries _retire.json, listed file still on disk)
    val ds = CellFooterCache.committedDirs(store)
    val dir1File = CellFooterCache.filesUnder(store, ds.head).head.path
    CellRetire.write(new java.io.File(store, ds.last), Seq(dir1File))
    CellFooterCache.invalidate(store)
    assert(GraftCellMaintenance.hbck(store)._4 == 1L,
      "a pending intent must be reported")
    // repair completes it (file deleted, emptied dir dropped) — hbck
    // converges back to clean, one dir
    CellRetire.repair(store)
    // the completed retirement destroyed an UNPINNED generation: its
    // travel window is now a reported lost window (r18)
    assert(GraftCellMaintenance.hbck(store) ==
             ((1L, 0L, 0L, 0L, 0L, 0L, 0L, 1L, 0L)))
    // one instance of each remaining class: a manifest-listed file
    // deleted from disk; an orphan parquet no manifest lists; an
    // invalidated snapshot (pinned dir gone); a stale _tmp_ dir
    val dirFile = new java.io.File(store,
      CellFooterCache.committedDirs(store).head)
    val listed = CellManifest.read(dirFile).get.files
      .map(m => new java.io.File(m.path).getName).sorted
    assert(new java.io.File(dirFile, listed.head).delete())
    java.nio.file.Files.write(
      new java.io.File(dirFile, "zz_orphan.parquet").toPath,
      Array.emptyByteArray)
    SparkFixture.plantV1Snapshot(store, "gone", Seq("batch_nonexistent"))
    new java.io.File(store, "_tmp_crashed_op").mkdirs()
    // r17: an archived file no snapshot pins (a manifest deleted
    // out-of-band) — the class the archive sweep reclaims
    val archDir = new java.io.File(store, "_archive/batch_dead")
    archDir.mkdirs()
    java.nio.file.Files.write(
      new java.io.File(archDir, "dead.parquet").toPath, Array.emptyByteArray)
    CellFooterCache.invalidate(store)
    assert(GraftCellMaintenance.hbck(store) ==
             ((1L, 1L, 1L, 0L, 1L, 1L, 1L, 1L, 0L)),
      "each constructed anomaly must be counted exactly once")
  }

  test("scan statistics: post-pruning bytes + exact rows drive broadcast (r16)") {
    import org.apache.spark.sql.functions.col
    SparkEntry.queries("scan_cell_connector")(s, dir).queryExecution // stage
    val store = Fixtures.storePath(dir)
    val full = s.read.format("graftcell").load(store)
    val band = full.filter(col("rowkey") >= "6" && col("rowkey") < "7")
    val fullStats = full.queryExecution.optimizedPlan.stats
    val bandStats = band.queryExecution.optimizedPlan.stats
    // pruning shrinks what the planner sees, and numRows is the exact
    // manifest row total of the surviving files (the '6' band aligns
    // with the region split, so it equals the true band count)
    assert(bandStats.sizeInBytes < fullStats.sizeInBytes,
      s"band ${bandStats.sizeInBytes} !< full ${fullStats.sizeInBytes}")
    assert(bandStats.rowCount.contains(BigInt(band.count())))
    assert(fullStats.rowCount.contains(BigInt(full.count())))
    // a threshold BETWEEN band size and full size: the band joins as a
    // broadcast build with no hint; two full scans stay sort-merge —
    // so it is the POST-PRUNING stats making the decision
    val mid = (bandStats.sizeInBytes + fullStats.sizeInBytes) / 2
    val old = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", mid.toString)
    try {
      val bandJoin = band.select(col("rowkey"))
        .join(full.select(col("rowkey").as("rk2")), col("rowkey") === col("rk2"))
      assert(bandJoin.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin"))
      val fullJoin = full.select(col("rowkey"))
        .join(full.select(col("rowkey").as("rk2")), col("rowkey") === col("rk2"))
      assert(!fullJoin.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin"))
    } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
  }

  test("fuzzy rowkey probe (FuzzyRowFilter): files pruned by fixed byte " +
       "segments, rows matched exactly, salt position free (r17)") {
    import org.apache.spark.sql.functions.col
    // dedicated salted store: 4 salts × days, rowkey <salt>-<date>-<id>,
    // ONE sorted connector write rolling small files so each region
    // file spans a narrow salt+month slice (what the common-prefix
    // algebra prunes by)
    val root = SparkFixture.scratchDir("graft_fuzzy_spec_").toString
    val rows = for {
      salt <- 0 to 3; month <- 1 to 4; day <- 1 to 25
    } yield (f"$salt-2024-$month%02d-$day%02d-x", "d", "q", 1L,
             s"v$salt/$month/$day")
    import scala.collection.JavaConverters._
    s.createDataFrame(
      rows.map { case (k, f, q, v, value) =>
        org.apache.spark.sql.Row(k, f, q, v, value) }.asJava,
      GraftCell.SCHEMA)
      .write.format("graftcell").option("maxRowsPerFile", 10)
      .mode("append").save(root)
    val df = s.read.format("graftcell").option("fuzzy", "?-2024-03")
      .load(root).select("rowkey", "value")
    // exact semantics: equals the LIKE twin evaluated without pushdown
    val expect = s.read.format("graftcell").load(root)
      .filter(col("rowkey").substr(3, 7) === "2024-03")
      .select("rowkey", "value").collect().map(_.toString).sorted.toSeq
    assert(df.collect().map(_.toString).sorted.toSeq == expect)
    assert(expect.size == 4 * 25)
    // plan-shaped evidence: the fuzzy probe plans a strict subset of
    // the region files (one month out of four, in every salt)
    val plan = df.queryExecution.executedPlan.toString
    val rf = "regionFiles: (\\d+)/(\\d+)".r.findFirstMatchIn(plan).get
    assert(rf.group(1).toInt < rf.group(2).toInt / 2,
      s"fuzzy pruning must skip most files: $rf\n$plan")
    assert(plan.contains("fuzzy: ?-2024-03"), s"plan must show the probe")
    // a leading-FIXED pattern also engages the plain prefix interval
    val one = s.read.format("graftcell").option("fuzzy", "2-2024-01")
      .load(root).select("rowkey")
    assert(one.count() == 25)
    val rf1 = "regionFiles: (\\d+)/(\\d+)".r
      .findFirstMatchIn(one.queryExecution.executedPlan.toString).get
    assert(rf1.group(1).toInt <= rf.group(1).toInt,
      "a salt-fixed probe must prune at least as hard as the open one")
    // refusals: metadata aggregates and streaming never see fuzzy rows
    val cnt = s.read.format("graftcell").option("fuzzy", "?-2024-03")
      .load(root).count()
    assert(cnt == 4 * 25, "COUNT must reflect the fuzzy filter " +
      "(the metadata aggregate pushdown must refuse under fuzzy)")
    val se = intercept[IllegalArgumentException] {
      new graft.sources.cell.GraftCellScan(root, Array.empty,
        GraftCell.SCHEMA, fuzzy = Some("?-2024-03"))
        .toMicroBatchStream("/tmp/unused")
    }
    assert(se.getMessage.contains("fuzzy"))
    // SOUNDNESS property: a file whose [min,max] provably contains a
    // matching key is never pruned (random patterns over random keys)
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val keyGen = org.scalacheck.Gen.listOfN(6,
      Gen.oneOf('0', '1', '7', 'a', 'b')).map(_.mkString)
    val patGen = Gen.listOfN(4,
      Gen.oneOf('0', '1', '7', 'a', '?')).map(_.mkString)
    val caseGen = for {
      ks <- Gen.listOfN(12, keyGen); p <- patGen
    } yield (ks, p)
    (1 to 80).foreach { i =>
      caseGen(org.scalacheck.Gen.Parameters.default, Seed(i.toLong))
        .foreach { case (ks, p) =>
          val fk = GraftCell.FuzzyKey.parse(p)
          val bs = ks.map(_.getBytes("UTF-8"))
          val mn = bs.min(Ordering.comparatorToOrdering(
            java.util.Arrays.compareUnsigned(_: Array[Byte], _: Array[Byte])))
          val mx = bs.max(Ordering.comparatorToOrdering(
            java.util.Arrays.compareUnsigned(_: Array[Byte], _: Array[Byte])))
          val anyMatch = bs.exists(fk.matches)
          val kept = GraftCell.fuzzyMayMatch(Some(mn), Some(mx), fk)
          assert(!anyMatch || kept,
            s"unsound prune: pattern '$p' matches a key in $ks")
          // and missing stats always keep
          assert(GraftCell.fuzzyMayMatch(None, None, fk))
        }
    }
  }

  test("multi-pattern fuzzy (r18): the pattern LIST ORs, pruning is the " +
       "union of per-pattern survivors, malformed lists refuse") {
    import org.apache.spark.sql.functions.col
    val root = SparkFixture.scratchDir("graft_fuzzym_spec_").toString
    val rows = for {
      salt <- 0 to 3; month <- 1 to 4; day <- 1 to 25
    } yield (f"$salt-2024-$month%02d-$day%02d-x", "d", "q", 1L,
             s"v$salt/$month/$day")
    import scala.collection.JavaConverters._
    s.createDataFrame(
      rows.map { case (k, f, q, v, value) =>
        org.apache.spark.sql.Row(k, f, q, v, value) }.asJava,
      GraftCell.SCHEMA)
      .write.format("graftcell").option("maxRowsPerFile", 10)
      .mode("append").save(root)
    def planned(df: org.apache.spark.sql.DataFrame): (Int, Int) = {
      val m = "regionFiles: (\\d+)/(\\d+)".r
        .findFirstMatchIn(df.queryExecution.executedPlan.toString).get
      (m.group(1).toInt, m.group(2).toInt)
    }
    def probe(opt: String) = s.read.format("graftcell")
      .option("fuzzy", opt).load(root).select("rowkey", "value")
    // exact semantics: the list is the DISJUNCTION of its patterns
    val multi = probe("""["?-2024-01","?-2024-04"]""")
    val expect = s.read.format("graftcell").load(root)
      .filter(col("rowkey").substr(3, 7) === "2024-01" ||
              col("rowkey").substr(3, 7) === "2024-04")
      .select("rowkey", "value").collect().map(_.toString).sorted.toSeq
    assert(multi.collect().map(_.toString).sorted.toSeq == expect)
    assert(expect.size == 2 * 4 * 25)
    // pruning = union of the per-pattern survivors: at least each
    // single plan, at most their sum, and still well under the store
    val (km, n) = planned(multi)
    val (k1, _) = planned(probe("?-2024-01"))
    val (k4, _) = planned(probe("?-2024-04"))
    assert(km >= math.max(k1, k4) && km <= k1 + k4,
      s"union pruning out of bounds: $km vs $k1 + $k4")
    // two months of four (plus boundary straddlers) still skip files
    assert(km < n * 3 / 4, s"union plan must still skip files: $km/$n")
    // a list with one leading-fixed disjunct prunes that disjunct by
    // the prefix interval too — never wider than the two open probes
    val (kf, _) = planned(probe("""["2-2024-01","?-2024-04"]"""))
    assert(kf <= km, s"salt-fixed disjunct must prune at least as hard")
    // single-pattern back-compat unchanged; malformed lists refuse
    assert(probe("?-2024-01").count() == 4 * 25)
    intercept[Exception] { probe("[]").count() }
    intercept[Exception] { probe("""[3]""").count() }
    intercept[Exception] { probe("""["?-2024-01", 3]""").count() }
  }

  test("fuzzy (pattern, mask) pair form + '['-literal fallback (r19): " +
       "a literal '?' byte is expressible, '['-leading patterns parse") {
    import scala.collection.JavaConverters._
    val root = SparkFixture.scratchDir("graft_fuzzyp_spec_").toString
    // rowkeys exercising BOTH blind spots of the string form: a
    // literal '?' at a fixed position, and a literal leading '['
    val keys = Seq("a?c-1", "abc-1", "axc-2", "[x-202", "[y-202", "zz-9")
    s.createDataFrame(
      keys.map(k => org.apache.spark.sql.Row(k, "d", "q", 1L, s"v$k"))
        .asJava, GraftCell.SCHEMA)
      .coalesce(1).write.format("graftcell").mode("append").save(root)
    def probe(opt: String) = s.read.format("graftcell")
      .option("fuzzy", opt).load(root).select("rowkey")
      .collect().map(_.getString(0)).sorted.toSeq
    // string form: '?' is the wildcard — matches all three a_c keys
    assert(probe("a?c") == Seq("a?c-1", "abc-1", "axc-2"))
    // pair form, all-fixed mask: the literal '?' byte — ONE key
    assert(probe("""[{"pattern":"a?c","mask":[0,0,0]}]""") == Seq("a?c-1"))
    // pair form, wildcard via mask byte 1 (HBase's signature): same
    // semantics as the string form's '?'
    assert(probe("""[{"pattern":"a.c","mask":[0,1,0]}]""") ==
      Seq("a?c-1", "abc-1", "axc-2"))
    // pair + string forms mix in one list (disjunction)
    assert(probe("""["zz", {"pattern":"a?c","mask":[0,0,0]}]""") ==
      Seq("a?c-1", "zz-9"))
    // ADVICE r18 back-compat: a '['-leading LITERAL pattern that is
    // not JSON parses as the r17 single-pattern form again
    assert(probe("[?-202") == Seq("[x-202", "[y-202"))
    // malformed pair entries refuse loudly
    intercept[Exception] {
      probe("""[{"pattern":"abc","mask":[0,1]}]""") } // length mismatch
    intercept[Exception] {
      probe("""[{"pattern":"abc","mask":[0,2,0]}]""") } // bad mask byte
    intercept[Exception] { probe("""[{"pattern":"abc"}]""") } // no mask
  }

  test("value-column stats prune region files (SingleColumnValueFilter " +
       "analog, r18): time-batched eras skip, truncation stays sound") {
    import org.apache.spark.sql.functions.col
    import graft.sources.cell.CellFooterCache
    val root = SparkFixture.scratchDir("graft_valstat_spec_").toString
    import scala.collection.JavaConverters._
    // three "eras": values cluster per append (batch), keys interleave
    (0 to 2).foreach { era =>
      s.createDataFrame(
        (0 until 40).map { i =>
          org.apache.spark.sql.Row(f"k${i * 3 + era}%04d", "d", "q", 1L,
                                   f"202$era-${i % 12 + 1}%02d") }.asJava,
        GraftCell.SCHEMA).coalesce(1)
        .write.format("graftcell").option("maxRowsPerFile", 10)
        .mode("append").save(root)
    }
    val df = s.read.format("graftcell").load(root)
      .filter(col("value") >= "2021-" && col("value") < "2022-")
      .select("rowkey", "value")
    // exact rows: the unpushed twin over the same store
    val expect = s.read.format("graftcell").load(root).collect()
      .filter(r => r.getString(4) >= "2021-" && r.getString(4) < "2022-")
      .map(r => (r.getString(0), r.getString(4))).sorted.toSeq
    assert(df.collect().map(r => (r.getString(0), r.getString(1)))
      .sorted.toSeq == expect)
    assert(expect.size == 40)
    // plan evidence: only era-1's files survive (4 of 12)
    val plan = df.queryExecution.executedPlan.toString
    val rf = "regionFiles: (\\d+)/(\\d+)".r.findFirstMatchIn(plan).get
    assert(rf.group(2).toInt == 12 && rf.group(1).toInt <= 4,
      s"value band must plan only its era's files: ${rf.matched}\n$plan")
    // manifest entries carry the value stats (no footer fallback)
    val metas = CellFooterCache.filesOf(root)
    assert(metas.forall(m => m.minVal.nonEmpty && m.maxVal.nonEmpty))
    // truncation soundness: long values cap at 64 bytes with a lower
    // min and a STRICTLY higher max (prefixStop), never a lying bound
    val longVal = "x" * 200
    assert(new String(GraftCell.truncStatMin(longVal.getBytes("UTF-8")))
             == "x" * 64)
    val tmax = GraftCell.truncStatMax(longVal.getBytes("UTF-8")).get
    assert(java.util.Arrays.compareUnsigned(
             tmax, longVal.getBytes("UTF-8")) > 0,
      "truncated max must stay an upper bound")
    assert(tmax.length <= 64)
    // all-0xFF prefix ⇒ unbounded ⇒ None (keep — evidence only)
    assert(GraftCell.truncStatMax(Array.fill(100)(0xFF.toByte)).isEmpty)
    // a DELETE rewrite refreshes the value stats exactly (its new file
    // still prunes; cold re-plan needs no footers)
    new graft.sources.cell.GraftCellTable(root).deleteWhere(
      Array[org.apache.spark.sql.sources.Filter](
        org.apache.spark.sql.sources.GreaterThanOrEqual("rowkey", "k0100")))
    CellFooterCache.invalidate(root)
    val opens0 = CellFooterCache.footerOpens.get()
    assert(CellFooterCache.filesOf(root)
      .forall(m => m.minVal.nonEmpty && m.maxVal.nonEmpty))
    assert(CellFooterCache.footerOpens.get() == opens0)
  }

  test("value BLOOM prunes files on point probes (r19): membership " +
       "evidence inside spanning ranges; saturated blooms keep the file") {
    import org.apache.spark.sql.functions.col
    import graft.sources.cell.CellFooterCache
    val root = SparkFixture.scratchDir("graft_vbloom_spec_").toString
    import scala.collection.JavaConverters._
    def put(prefix: String, values: Seq[String]): Unit = s.createDataFrame(
      values.zipWithIndex.map { case (v, i) =>
        org.apache.spark.sql.Row(f"$prefix$i%04d", "d", "q", 1L, v) }.asJava,
      GraftCell.SCHEMA)
      .write.format("graftcell").mode("append").save(root)
    // two generations whose VALUE RANGES both span the whole alphabet
    // (alternating extremes) — range stats keep everything; only
    // membership evidence can prune
    put("a", (0 until 20).map(i => if (i % 2 == 0) "aa" else "zz"))
    put("b", (0 until 20).map(i => if (i % 2 == 0) "bb" else "yy"))
    val total = CellFooterCache.filesOf(root).size
    assert(CellFooterCache.filesOf(root).forall(_.valueBloom.nonEmpty),
      "enum-valued files must carry an informative bloom")
    def planned(df: org.apache.spark.sql.DataFrame): Int =
      "regionFiles: (\\d+)/(\\d+)".r
        .findFirstMatchIn(df.queryExecution.executedPlan.toString)
        .get.group(1).toInt
    // an ABSENT value inside every file's [min,max]: bloom prunes ALL
    val absent = s.read.format("graftcell").load(root)
      .filter(col("value") === "mm")
    assert(planned(absent) == 0,
      s"bloom must prune every file for an absent point value " +
      s"(${planned(absent)}/$total)\n${absent.queryExecution.executedPlan}")
    assert(absent.count() == 0L)
    // a PRESENT value plans only its generation's files
    val present = s.read.format("graftcell").load(root)
      .filter(col("value") === "zz").select("rowkey")
    assert(planned(present) < total && planned(present) > 0)
    assert(present.count() == 10L)
    // IN-list: union of candidates — 'zz' present, 'qq' absent
    val inList = s.read.format("graftcell").load(root)
      .filter(col("value").isin("zz", "qq"))
    assert(planned(inList) == planned(present))
    assert(inList.count() == 10L)
    // SATURATION: a high-cardinality generation stores NO bloom (no
    // evidence ⇒ keep) — probes stay correct, the file stays planned
    put("c", (0 until 6000).map(i => f"u$i%05d"))
    val cFiles = CellFooterCache.filesOf(root).filter(m =>
      new String(m.minKey.get, "UTF-8").startsWith("c"))
    assert(cFiles.nonEmpty && cFiles.forall(_.valueBloom.isEmpty),
      "a saturated bloom must be dropped (evidence-only)")
    // an absent value INSIDE every generation's [min,max]: the a/b
    // files prune by bloom, the saturated c files keep (no evidence)
    val absent2 = s.read.format("graftcell").load(root)
      .filter(col("value") === "u03000a")
    assert(planned(absent2) == cFiles.size,
      "bloom-less files must stay planned; bloomed ones still prune")
    assert(absent2.count() == 0L)
    // a DELETE rewrite refreshes the bloom exactly (the new file's
    // bloom no longer claims the dropped value; b prunes by bloom, c
    // by range — nothing left to plan)
    new graft.sources.cell.GraftCellTable(root).deleteWhere(
      Array[org.apache.spark.sql.sources.Filter](
        org.apache.spark.sql.sources.EqualTo("value", "zz")))
    CellFooterCache.invalidate(root)
    val gone = s.read.format("graftcell").load(root)
      .filter(col("value") === "zz")
    assert(planned(gone) == 0,
      "the rewritten file's refreshed bloom must prune its old value")
    assert(gone.count() == 0L)
  }

  test("rowkey BLOOM plans only the files that can hold a point key: " +
       "gets, multi-gets and point DELETEs on a hash-spread store") {
    import org.apache.spark.sql.sources.{EqualTo, Filter, In}
    import graft.sources.cell.{CellFooterCache, CellManifest,
                               GraftCellMaintenance, GraftCellTable}
    import scala.collection.JavaConverters._
    val store = SparkFixture.scratchDir("graft_kbloom_spec_").toString + "/t"
    // N appends of keys hashed over the whole key space: every file
    // spans nearly every key, so min/max stats prune nothing
    val appends = 6
    def key(i: Int) =
      f"${scala.util.hashing.MurmurHash3.stringHash(s"k$i")}%08x"
    (0 until appends).foreach { a =>
      s.createDataFrame((0 until 200).map { j =>
        org.apache.spark.sql.Row(key(a * 200 + j), "d", "q", 1L, s"v$a")
      }.asJava, GraftCell.SCHEMA)
        .write.format("graftcell").mode("append").save(store)
    }
    val files = CellFooterCache.filesOf(store)
    assert(files.size >= appends)
    assert(files.forall(_.rowkeyBloom.nonEmpty),
      "every connector-written file must carry a rowkey bloom")
    assertFooterTruth(files)
    def holder(k: String): String = s.read.format("graftcell").load(store)
      .filter(col("rowkey") === k).select("_region_file")
      .distinct().collect().map(_.getString(0)).toSeq match {
        case Seq(f) => f
        case fs     => fail(s"$k lives in $fs")
      }
    def planned(f: Filter): Set[String] = {
      val pruner = new GraftCell.FilePruner(Seq(f))
      CellFooterCache.filesOf(store).filter(pruner.mayMatch).map(_.path).toSet
    }
    val probes = Seq(3, 250, 611, 777, 1010, 1199).map(key)
    // min/max alone would keep every file for every probe
    probes.foreach { k =>
      val inRange = files.count(m =>
        GraftCell.fileMayMatch(m.minKey, m.maxKey, Seq(EqualTo("rowkey", k))))
      assert(inRange == files.size, s"$k: min/max pruned $inRange/${files.size}")
    }
    // 1. a Get plans exactly its file, at plan time and in the scan
    probes.foreach { k =>
      assert(planned(EqualTo("rowkey", k)) == Set(holder(k)), k)
    }
    val get = s.read.format("graftcell").load(store)
      .filter(col("rowkey") === probes.head)
    val parts = get.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.inputPartitions
    }.flatten.collect {
      case p: graft.sources.cell.CellInputPartition => p.file
    }
    assert(parts.toSet == Set(holder(probes.head)), parts)
    assert(get.count() == 1L)
    // 2. a 4-key IN plans at most 4 files, each key's holder among them
    val four = probes.take(4)
    val multi = planned(In("rowkey", four.toArray[Any]))
    assert(multi.size <= 4 && four.map(holder).toSet.subsetOf(multi), multi)
    // an absent key inside every file's range plans (almost) nothing
    assert(planned(EqualTo("rowkey", key(-1))).size <= 1)
    // 3. a point DELETE rewrites only the file that holds its key
    val victim = probes(1)
    val victimFile = holder(victim)
    val before = CellFooterCache.filesOf(store).map(_.path).toSet
    new GraftCellTable(store).deleteWhere(
      Array[Filter](EqualTo("rowkey", victim)))
    CellFooterCache.invalidate(store)
    val rewritten = CellFooterCache.filesOf(store)
    val after = rewritten.map(_.path).toSet
    assert(before -- after == Set(victimFile), s"retired ${before -- after}")
    assert((after -- before).size == 1, s"published ${after -- before}")
    assertFooterTruth(rewritten.filter(m => !before.contains(m.path)))
    assert(s.read.format("graftcell").load(store)
      .filter(col("rowkey") === victim).count() == 0L)
    assert(planned(EqualTo("rowkey", probes(2))) == Set(holder(probes(2))))
    val all = CellFooterCache.filesOf(store).map(_.path).toSet
    // 4. a manifest without the field plans every file for a Get
    val dirs = all.map(p => new java.io.File(p).getParentFile)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    dirs.foreach { d =>
      val f = new java.io.File(d, CellManifest.NAME)
      val root = mapper.readTree(f)
      root.get("files").elements().asScala.foreach(
        _.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
          .remove("rowkeyBloom"))
      mapper.writeValue(f, root)
    }
    CellFooterCache.invalidate(store)
    assert(CellFooterCache.filesOf(store).forall(_.rowkeyBloom.isEmpty))
    assert(planned(EqualTo("rowkey", probes(2))) == all)
    // 5. metas re-derived from footers (CALL upgrade_manifests) carry
    //    no bloom: every file is kept, and reads stay exact
    dirs.foreach(d => new java.io.File(d, CellManifest.NAME).delete())
    CellFooterCache.invalidate(store)
    val (upgraded, _) = GraftCellMaintenance.upgradeManifests(s, store)
    assert(upgraded == dirs.size.toLong)
    CellFooterCache.invalidate(store)
    assert(CellFooterCache.filesOf(store).forall(_.rowkeyBloom.isEmpty))
    assert(planned(EqualTo("rowkey", probes(2))) == all)
    assert(s.read.format("graftcell").load(store)
      .filter(col("rowkey") === probes(2)).count() == 1L)
  }

  test("per-family compression descriptors (r18): codec-pure files with " +
       "-z name tags; codecs travel through compaction and DML rewrites") {
    import graft.sources.cell.{CellFooterCache, GraftCellCodecTag}
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.hadoop.fs.Path
    def footerCodec(path: String): String = {
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(
        new Path(path), new org.apache.hadoop.conf.Configuration()))
      try r.getFooter.getBlocks.get(0).getColumns.get(0)
        .getCodec.name()
      finally r.close()
    }
    // the contract key stages + compacts the dual-codec table
    val n = SparkEntry.queries("sql_cell_family_compression")(s, dir).count()
    assert(n > 0)
    val store = Fixtures.warehouse(dir) + "/events_zip"
    def checkStore(): Unit = {
      val metas = CellFooterCache.filesOf(store)
      assert(metas.nonEmpty)
      metas.foreach { m =>
        // codec-pure: the family range decides the expected codec
        val fam = m.minFam.map(new String(_, "UTF-8"))
        assert(m.minFam.map(_.toSeq) == m.maxFam.map(_.toSeq),
          s"codec-pure file must be family-range-pure here: ${m.path}")
        val expect = if (fam.contains("audit")) "GZIP" else "ZSTD"
        assert(footerCodec(m.path) == expect,
          s"wrong codec for $fam: ${m.path}")
        // the name tag agrees with the actual footer codec
        assert(GraftCellCodecTag.of(m.path).name() == expect,
          s"name tag disagrees with footer: ${m.path}")
      }
    }
    checkStore() // post-compact: the descriptor traveled through CALL compact
    // a ranged DELETE rewrite keeps each file's codec (-z tag parsed
    // from the input name; the output names carry it forward)
    val pathsBefore = CellFooterCache.filesOf(store).map(_.path).toSet
    s.sql("DELETE FROM graftcat.events_zip WHERE rowkey >= '11' AND rowkey < '12'")
    checkStore()
    val after = CellFooterCache.filesOf(store)
    assert((pathsBefore -- after.map(_.path)).nonEmpty,
      "the DELETE victims' names must leave the live set")
    assert(after.exists(m => new java.io.File(m.path).getParentFile.getName
        .startsWith("batch_delete_")),
      "the DELETE survivors must sit in a new batch_delete_* dir")
    // validation: unsupported codec names refuse at CREATE/ALTER
    val e = intercept[Exception] {
      s.sql("""CREATE TABLE graftcat.events_zip_bad (
                 rowkey STRING, family STRING, qualifier STRING,
                 version BIGINT, value STRING) USING graftcell
               TBLPROPERTIES('compression'='LZO')""")
    }
    assert(e.getMessage.contains("must be one of"), e.getMessage)
    val e2 = intercept[Exception] {
      s.sql("""ALTER TABLE graftcat.events_zip
               SET TBLPROPERTIES('family.audit.compression'='BROTLI')""")
    }
    assert(e2.getMessage.contains("must be one of"), e2.getMessage)
  }

  test("a pushed TABLESAMPLE scales the reported statistics (ADVICE r16)") {
    import org.apache.spark.sql.functions.col
    SparkEntry.queries("scan_cell_connector")(s, dir).queryExecution // stage
    val store = Fixtures.storePath(dir)
    val full = s.read.format("graftcell").load(store)
    val sampled = full.sample(0.1, 7L)
    // the sample must actually be pushed (no Sample node survives)
    assert(!sampled.queryExecution.optimizedPlan.toString.contains("Sample"),
      s"sample not pushed:\n${sampled.queryExecution.optimizedPlan}")
    val fs = full.queryExecution.optimizedPlan.stats
    val ss = sampled.queryExecution.optimizedPlan.stats
    // a 10% pushed sample reports ~10% of the rows and bytes — without
    // the scaling a 1% sample still reported 100% and suppressed the
    // broadcasts the pushdown exists to enable
    assert(ss.rowCount.isDefined && fs.rowCount.isDefined)
    assert(ss.rowCount.get * 5 < fs.rowCount.get,
      s"sampled rows ${ss.rowCount} not scaled vs full ${fs.rowCount}")
    assert(ss.rowCount.get > 0, "scaling must not zero a non-empty scan")
    assert(ss.sizeInBytes * 5 < fs.sizeInBytes,
      s"sampled bytes ${ss.sizeInBytes} not scaled vs full ${fs.sizeInBytes}")
  }

  test("CTAS / RTAS through the catalog: cell schema enforced, content exact (r16)") {
    val root = SparkFixture.scratchDir("graft_ctas_spec_").toString
    s.conf.set("spark.sql.catalog.ctasspec",
               classOf[graft.sources.cell.GraftCellCatalog].getName)
    s.conf.set("spark.sql.catalog.ctasspec.root", root)
    s.sql("""CREATE TABLE ctasspec.src (rowkey STRING, family STRING,
             qualifier STRING, version BIGINT, value STRING) USING graftcell""")
    s.sql("""INSERT INTO ctasspec.src VALUES
             ('a','d','q',1,'v'), ('b','d','q',2,'w'), ('c','d','q',3,'x')""")
    // CTAS: the catalog's createTable + the connector's declared write
    // distribution in one statement — the new table is a normal store
    s.sql("""CREATE TABLE ctasspec.dst USING graftcell AS
             SELECT * FROM ctasspec.src WHERE rowkey < 'c'""")
    assert(s.sql("SELECT rowkey FROM ctasspec.dst ORDER BY rowkey")
      .collect().map(_.getString(0)).toSeq == Seq("a", "b"))
    // born manifest-bearing: reading it plans with zero footer opens
    val before = graft.sources.cell.CellFooterCache.footerOpens.get()
    s.sql("SELECT count(*) FROM ctasspec.dst").collect()
    assert(graft.sources.cell.CellFooterCache.footerOpens.get() == before)
    // RTAS replaces the table's content through the same path
    s.sql("""REPLACE TABLE ctasspec.dst USING graftcell AS
             SELECT * FROM ctasspec.src WHERE rowkey = 'c'""")
    assert(s.sql("SELECT rowkey FROM ctasspec.dst").collect()
      .map(_.getString(0)).toSeq == Seq("c"))
    // the cell-schema gate fires BEFORE any write: a non-cell SELECT
    // is refused and no table is left behind
    intercept[Exception](
      s.sql("CREATE TABLE ctasspec.bad USING graftcell AS SELECT 1 AS x"))
    assert(!s.sql("SHOW TABLES IN ctasspec").collect()
      .map(_.getAs[String]("tableName")).contains("bad"))
  }

  test("vacuum reclaims each garbage class, reads unchanged, hbck converges (r16)") {
    import graft.sources.cell.{CellFooterCache, CellRetire,
                               GraftCellMaintenance, GraftCellSnapshot}
    val root = SparkFixture.scratchDir("graft_vac_spec_").toString
    val store = s"$root/store"
    import scala.collection.JavaConverters._
    def put(keys: (String, String)*): Unit = s.createDataFrame(
      keys.map { case (rk, v) =>
        org.apache.spark.sql.Row(rk, "d", "q", 1L, v) }.asJava,
      GraftCell.SCHEMA)
      .write.format("graftcell").mode("append").save(store)
    def readback() = s.read.format("graftcell").load(store)
      .collect().sortBy(_.getString(0)).toSeq
    put("a" -> "1")
    put("b" -> "2")
    // a healthy store vacuums to all zeros (nothing to reclaim)
    assert(GraftCellMaintenance.vacuum(store, true) == ((0L, 0L, 0L, 0L, 0L, 0L)))
    // one reclaimable per class: a pending intent (group-replace
    // mid-window — its victim is already excluded from reads), an
    // orphan parquet in the SURVIVING dir, a stale stage dir, and a
    // compaction-dead snapshot manifest
    // pick the victim BY CONTENT (the file holding row 'a'), not by
    // dir order — batch-dir names need not sort in creation order
    val ds = CellFooterCache.committedDirs(store)
    val victimDir = ds.find(d => CellFooterCache.filesUnder(store, d)
      .exists(_.minKey.exists(new String(_) == "a"))).get
    val victim = CellFooterCache.filesUnder(store, victimDir).head.path
    val carrier = new java.io.File(store, ds.filterNot(_ == victimDir).head)
    CellRetire.write(carrier, Seq(victim))
    java.nio.file.Files.write(
      new java.io.File(carrier, "zz_orphan.parquet").toPath,
      Array.emptyByteArray)
    new java.io.File(store, "_stage_crashed").mkdirs()
    SparkFixture.plantV1Snapshot(store, "gone", Seq("batch_nonexistent"))
    CellFooterCache.invalidate(store)
    val before = readback()
    // without the flag: garbage reclaimed, the dead manifest KEPT
    // (dropping it is the operator's explicit opt-in)
    assert(GraftCellMaintenance.vacuum(store, false) == ((1L, 1L, 1L, 0L, 0L, 0L)))
    assert(GraftCellSnapshot.list(store).map(_._1) == Seq("gone"))
    // a VALID snapshot survives the flagged pass; only the dead drops
    GraftCellSnapshot.create(store, "keep")
    // r19: a LIVE index's sync boundary survives (its dir exists next
    // to the store), an ORPHANED one (index dir gone) is reclaimed
    new java.io.File(root, "store_idx_live").mkdirs()
    GraftCellSnapshot.create(store, "__idx_sync_store_idx_live")
    GraftCellSnapshot.create(store, "__idx_sync_store_idx_dropped")
    assert(GraftCellMaintenance.vacuum(store, true) == ((0L, 0L, 0L, 1L, 1L, 0L)))
    assert(GraftCellSnapshot.list(store).map(_._1) ==
             Seq("__idx_sync_store_idx_live", "keep"),
      "the live index boundary must survive; the orphan must drop")
    GraftCellSnapshot.drop(store, "__idx_sync_store_idx_live")
    // converged: hbck reports clean (intent completion dropped the
    // emptied victim dir, so one dir remains), and the readback is
    // bit-identical to the pre-vacuum view — orphans were invisible,
    // the intent's victim was already excluded
    assert(GraftCellMaintenance.hbck(store) ==
             ((1L, 0L, 0L, 0L, 0L, 0L, 0L, 1L, 0L)))
    assert(readback() == before)
    assert(before.map(_.getString(0)) == Seq("b"),
      "the intent's victim row was excluded before AND after")
  }

  test("verify_rep: identical stores fully match; each divergence class counted once (r16)") {
    import graft.sources.cell.GraftCellMaintenance
    val root = SparkFixture.scratchDir("graft_vr_spec_").toString
    val left = s"$root/left"
    val right = s"$root/right"
    import scala.collection.JavaConverters._
    def put(path: String, rows: (String, String, Long, String)*): Unit =
      s.createDataFrame(
        rows.map { case (rk, q, ver, v) =>
          org.apache.spark.sql.Row(rk, "d", q, ver, v) }.asJava,
        GraftCell.SCHEMA)
        .write.format("graftcell").mode("append").save(path)
    put(left, ("a", "q", 1L, "1"), ("b", "q", 1L, "2"),
              ("d", "q", 1L, null))
    // replica: 'a' matches, 'b' diverges in value, 'c' exists only
    // here, 'd' carries NULL on both sides (null-safe ⇒ matching),
    // and left's 'd' at version 2 is missing here (only-left)
    put(right, ("a", "q", 1L, "1"), ("b", "q", 1L, "X"),
               ("c", "q", 1L, "3"), ("d", "q", 1L, null))
    put(left, ("d", "q", 2L, "late"))
    assert(GraftCellMaintenance.verifyRep(s, left, left) ==
           ((0L, 0L, 0L, 4L)), "self-diff must fully match")
    assert(GraftCellMaintenance.verifyRep(s, left, right) ==
           ((1L, 1L, 1L, 2L)),
      "one only-left, one only-right, one mismatch, two matching " +
      "(incl. the null-safe NULL value)")
  }

  test("index lifecycle on a NAMESPACED table (r19): build/sync/indexes " +
       "resolve ns:table and land the index inside the namespace") {
    import scala.collection.JavaConverters._
    val root = SparkFixture.scratchDir("graft_nsidx_spec_").toString
    s.conf.set("spark.sql.catalog.graftni",
               classOf[graft.sources.cell.GraftCellCatalog].getName)
    s.conf.set("spark.sql.catalog.graftni.root", root)
    s.sql("CREATE NAMESPACE graftni.prod")
    s.sql("""CREATE TABLE graftni.prod.t (rowkey STRING, family STRING,
             qualifier STRING, version BIGINT, value STRING)
             USING graftcell""")
    s.createDataFrame(
      ('a' to 'e').map(c =>
        org.apache.spark.sql.Row(c.toString, "d", "q", 1L, s"v$c")).asJava,
      GraftCell.SCHEMA).createOrReplaceTempView("graft_nsidx_src")
    s.sql("INSERT INTO graftni.prod.t SELECT * FROM graft_nsidx_src")
    // build via the shell-style 'ns:table' reference: the index lands
    // INSIDE the namespace, marker-stamped with provenance
    val r = s.sql("CALL graftni.build_index('prod:t', 'v', 'd', 'q')")
      .collect()(0)
    assert(r.getString(0) == "prod:t_idx_v" && r.getLong(1) == 5L,
      s"namespaced build summary: $r")
    assert(new java.io.File(s"$root/prod/t_idx_v/_GRAFT_TABLE").exists(),
      "the index table must live inside the namespace")
    // the index is a normal namespaced table: seek it by value prefix
    val hit = s.sql("""SELECT value FROM graftni.prod.t_idx_v
                       WHERE rowkey LIKE 'vc%'""").collect()
    assert(hit.length == 1 && hit(0).getString(0) == "c")
    // g.ns.t.indexes resolves the 4-part identifier and reports the
    // sibling-in-namespace index with a clean sync state
    val meta = s.sql("SELECT * FROM graftni.prod.t.indexes").collect()
    assert(meta.length == 1 &&
           meta(0).getString(0) == "t_idx_v" &&
           meta(0).getLong(3) == 5L && meta(0).getLong(4) == 0L &&
           meta(0).getInt(5) == 0,
      s"namespaced g.ns.t.indexes row: ${meta.toSeq}")
    // sync after an append — the delta flows through the ns reference
    s.sql("""INSERT INTO graftni.prod.t
             SELECT rowkey, family, qualifier, version + 10, value
             FROM graft_nsidx_src WHERE rowkey = 'a'""")
    val r2 = s.sql("CALL graftni.sync_index('prod:t', 'v')").collect()(0)
    assert(r2.getLong(1) == 1L && r2.getLong(2) == 1L,
      s"namespaced sync summary: $r2")
    assert(s.table("graftni.prod.t_idx_v").count() == 6L)
  }

  test("namespaces: create_namespace / ns:table lifecycle, HBase-style (r16)") {
    val root = SparkFixture.scratchDir("graft_ns_spec_").toString
    s.conf.set("spark.sql.catalog.graftns",
               classOf[graft.sources.cell.GraftCellCatalog].getName)
    s.conf.set("spark.sql.catalog.graftns.root", root)
    import scala.collection.JavaConverters._

    s.sql("CREATE NAMESPACE graftns.prod COMMENT 'hot serving'")
    s.sql("CREATE NAMESPACE graftns.staging")
    // namespace listing; metadata round-trips through the marker
    assert(s.sql("SHOW NAMESPACES IN graftns").collect()
      .map(_.getString(0)).sorted.toSeq == Seq("prod", "staging"))
    assert(s.sql("DESCRIBE NAMESPACE graftns.prod").collect()
      .exists(r => r.getString(1).contains("hot serving")))

    // tables live at root/<ns>/<table>; same cell schema enforcement
    s.sql("""CREATE TABLE graftns.prod.t (rowkey STRING, family STRING,
             qualifier STRING, version BIGINT, value STRING)
             USING graftcell""")
    assert(new java.io.File(s"$root/prod/t/_GRAFT_TABLE").exists())
    s.createDataFrame(
      ('a' to 'e').map(c =>
        org.apache.spark.sql.Row(c.toString, "d", "q", 1L, s"v$c")).asJava,
      GraftCell.SCHEMA).createOrReplaceTempView("graft_ns_src")
    s.sql("INSERT INTO graftns.prod.t SELECT * FROM graft_ns_src")
    // 3-part reads push down like any graftcell scan
    val probe = s.sql(
      "SELECT rowkey FROM graftns.prod.t WHERE rowkey >= 'c' ORDER BY rowkey")
    assert(probe.queryExecution.executedPlan.toString.contains("GraftCellScan"))
    assert(probe.collect().map(_.getString(0)).toSeq == Seq("c", "d", "e"))
    // namespace scoping: SHOW TABLES per namespace; default ns is empty
    assert(s.sql("SHOW TABLES IN graftns.prod").collect()
      .map(_.getString(1)).toSeq == Seq("t"))
    assert(s.sql("SHOW TABLES IN graftns").collect().isEmpty)

    // procedures address namespaced tables HBase-shell-style ('ns:t')
    s.sql("CALL graftns.snapshot('prod:t', 'keep')")
    assert(new java.io.File(s"$root/prod/t/_snapshot_keep.json").exists())
    s.sql("CALL graftns.clone_snapshot('prod:t', 'keep', 'staging:t2')")
    assert(s.sql("SELECT count(*) FROM graftns.staging.t2")
      .collect()(0).getLong(0) == 5L)

    // cross-namespace rename is a directory move (RENAME TO is
    // catalog-relative in Spark: the destination omits the catalog)
    s.sql("ALTER TABLE graftns.staging.t2 RENAME TO prod.t2")
    assert(s.sql("SHOW TABLES IN graftns.prod").collect()
      .map(_.getString(1)).sorted.toSeq == Seq("t", "t2"))

    // refusals: unknown ns, nested ns, drop non-empty without CASCADE
    intercept[Exception] { s.sql("CREATE TABLE graftns.nope.t3 (rowkey STRING, " +
      "family STRING, qualifier STRING, version BIGINT, value STRING) USING graftcell") }
    intercept[Exception] { s.sql("CREATE NAMESPACE graftns.a.b") }
    intercept[Exception] { s.sql("DROP NAMESPACE graftns.prod") }
    // CASCADE drops the namespace with its tables; empty ns drops plain
    s.sql("DROP NAMESPACE graftns.prod CASCADE")
    s.sql("DROP NAMESPACE graftns.staging")
    assert(s.sql("SHOW NAMESPACES IN graftns").collect().isEmpty)
    assert(!new java.io.File(s"$root/prod").exists())
  }

  test("normalize: splits oversized files at the key midpoint, merges small runs (r16)") {
    import graft.sources.cell.{CellFooterCache, GraftCellMaintenance}
    import scala.collection.JavaConverters._
    val root = SparkFixture.scratchDir("graft_norm_spec_").toString
    val store = s"$root/store"
    // ~2 KB of seeded-random (incompressible) value per row: at spec
    // scale the rowkey BLOOM (~1 MB/file) dominates file bytes and
    // flattens any size contrast — real data has to outweigh it for
    // byte-size-based normalizer decisions to mean anything
    def blob(i: Int): String = {
      val r = new scala.util.Random(i)
      val sb = new StringBuilder(2048)
      while (sb.length < 2048) sb.append(r.nextLong().toHexString)
      sb.toString
    }
    def cells(lo: Int, n: Int) = s.createDataFrame(
      (lo until lo + n).map(i =>
        org.apache.spark.sql.Row(f"$i%05d", "d", "q", 1L, blob(i))).asJava,
      GraftCell.SCHEMA)
    // dir A: 10000 rows (~20 MB); dir B: 900 rows ROLLED at 100/file —
    // one dir of many small adjacent files (~1.2 MB each)
    cells(0, 10000).write.format("graftcell").mode("append").save(store)
    cells(20000, 900).write.format("graftcell")
      .option("maxRowsPerFile", "100").mode("append").save(store)
    val files0 = CellFooterCache.filesOf(store)
    val before = s.read.format("graftcell").load(store)
      .orderBy("rowkey", "qualifier", "version").collect().toSeq
    // pass 1 at the DEFAULT (mean) target: every file > 2x mean splits
    // (the big batch's files dwarf the mean), small runs merge
    val (split1, runs1, b1, a1, tgt1) =
      GraftCellMaintenance.normalize(SparkFixture.spark, store)
    val expectedVictims = files0.count(_.bytes > 2 * tgt1)
    assert(split1 == expectedVictims && split1 >= 1L,
      s"pass 1 split $split1 of $expectedVictims oversized (target $tgt1)")
    assert(runs1 >= 1L, s"pass 1 merged no small runs (target $tgt1)")
    assert(b1 == files0.size.toLong,
      s"pass 1 before=$b1 vs staged ${files0.size}")
    // content is byte-identical through the surgery
    val after = s.read.format("graftcell").load(store)
      .orderBy("rowkey", "qualifier", "version").collect().toSeq
    assert(after == before, "normalize changed table content")
    // a midpoint split actually balances a uniformly-keyed file: every
    // split half holds strictly fewer rows than the original whole
    val maxRows0 = files0.map(_.rowCount).max
    assert(CellFooterCache.filesOf(store).map(_.rowCount).max < maxRows0,
      "no split half is smaller than the pre-split maximum")
    // a huge explicit target merges each dir to ONE file, and repeating
    // it is a fixpoint (split siblings never re-merge IN-pass; across
    // passes the merged store is simply no longer oversized)
    val (s2, r2, _, afterFiles, _) =
      GraftCellMaintenance.normalize(SparkFixture.spark, store,
                                     1073741824L)
    assert(s2 == 0L && r2 >= 1L,
      s"huge-target pass: split=$s2 merged=$r2")
    assert(afterFiles < a1,
      s"huge-target normalize must reduce the file count ($a1 -> $afterFiles)")
    assert(GraftCellMaintenance.normalize(SparkFixture.spark, store,
             1073741824L)._1 == 0L)
    assert(s.read.format("graftcell").load(store)
      .orderBy("rowkey", "qualifier", "version").collect().toSeq == before)
    // midKey arithmetic (HBase Bytes.split): the byte-fraction midpoint
    // is strictly above min and at-or-below max at one extra byte of
    // precision; ISO-8859-1 keeps byte order = string order
    def mid(a: String, b: String) = new String(
      GraftCellMaintenance.midKey(a.getBytes("UTF-8"), b.getBytes("UTF-8")),
      java.nio.charset.StandardCharsets.ISO_8859_1)
    assert(mid("a", "c") == "b\u0000")
    assert(mid("00000", "09999") > "00000" && mid("00000", "09999") <= "09999")
    assert(mid("a", "b") > "a" && mid("a", "b") < "b") // adjacent keys
  }

  test("TRUNCATE TABLE is metadata-only: survives corrupted region files; descriptor kept (r16)") {
    import graft.sources.cell.{CellFooterCache, GraftCellMaintenance}
    val root = SparkFixture.scratchDir("graft_trunc_spec_").toString
    s.conf.set("spark.sql.catalog.grafttr",
               classOf[graft.sources.cell.GraftCellCatalog].getName)
    s.conf.set("spark.sql.catalog.grafttr.root", root)
    s.sql("""CREATE TABLE grafttr.t (rowkey STRING, family STRING,
             qualifier STRING, version BIGINT, value STRING)
             USING graftcell TBLPROPERTIES ('ttl_micros'='123')""")
    val store = s"$root/t"
    s.sql("INSERT INTO grafttr.t VALUES ('a','d','q',1,'v1'), ('b','d','q',1,'v2')")
    s.sql("INSERT INTO grafttr.t VALUES ('c','d','q',1,'v3')")
    s.sql("CALL grafttr.snapshot('t', 'pre')")
    // ZERO-IO proof: clobber every region file with garbage bytes — a
    // truncate that read ANY data byte would throw; the metadata-only
    // retire-all cannot notice (the SupportsDelete default it overrides
    // would rewrite every file and fail here)
    CellFooterCache.committedDirs(store).foreach { d =>
      CellFooterCache.filesUnder(store, d).foreach { m =>
        java.nio.file.Files.write(new java.io.File(m.path).toPath,
          "not parquet".getBytes("UTF-8")); () } }
    s.sql("TRUNCATE TABLE grafttr.t")
    assert(s.sql("SELECT * FROM grafttr.t").collect().isEmpty,
      "truncated table must read back empty")
    // the descriptor survives (HBase truncate keeps the table schema
    // and its properties), and the table is immediately writable again
    val props = s.sql("SHOW TBLPROPERTIES grafttr.t").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("ttl_micros").contains("123"), s"props: $props")
    s.sql("INSERT INTO grafttr.t VALUES ('z','d','q',2,'after')")
    assert(s.sql("SELECT rowkey, value FROM grafttr.t").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq == Seq(("z", "after")))
    // r17 ARCHIVE: the pre-truncate snapshot SURVIVES — its pinned
    // generations moved to _archive/ by rename (still zero data IO:
    // the clobbered garbage bytes above were never read), hbck reports
    // no invalid snapshot and no unreferenced archived file
    val hb = GraftCellMaintenance.hbck(store)
    assert(hb._5 == 0L && hb._7 == 0L,
      s"the pre-truncate snapshot must survive via the archive: $hb")
    assert(new java.io.File(store, "_archive").isDirectory,
      "truncate must archive the pinned generations")
    // truncating an already-empty store is a no-op summary
    s.sql("TRUNCATE TABLE grafttr.t")
    assert(s.sql("SELECT * FROM grafttr.t").collect().isEmpty)
    assert(GraftCellMaintenance.truncate(store) == ((0L, 0L)))
  }
}
