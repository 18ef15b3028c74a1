package graft.operators

import graft.QueryModule
import graft.Fixtures._
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions._

/** SURVEY.md §2.A round-14 addition — the DataSource V2 cell-table
  * connector keys: the engine's HBase cell model exposed as a pluggable
  * `spark.read.format("graftcell")` source (graft.sources.cell) instead
  * of query patterns over an inline flatten.
  *
  * The staged store IS the HBase table layout: pre-split by explicit
  * rowkey ranges (region = first rowkey byte, the production pre-split
  * knob — cf. cell_bulkload_layout), each region's files sorted by
  * rowkey so parquet footers carry tight min/max stats. The connector's
  * three pruning levels (file / row-group / column — see
  * GraftCellSource.scala) then reproduce cell_scan_range /
  * cell_prefix_scan semantics INSIDE the scan, which is where a 100 TB
  * deployment needs them: a range probe touches one region's files, not
  * the table.
  *
  * Every key is oracle-checked against the SAME DuckDB cell rebuild as
  * the query-pattern twins (CellQueries.eventCellsSql), so the connector
  * path must land byte-identically on the statically-derived cells.
  */
object CellConnector extends QueryModule {

  /** Stage the event-cell store once per sf-dir (write-once marker like
    * Sources staging). Pre-split on the first rowkey byte — explicit,
    * data-independent split points, so the layout is deterministic —
    * and rowkey-sorted within partitions so every data file's footer
    * carries a tight min/max rowkey (the HFile metadata the connector
    * prunes on). */
  private[graft] def stage(s: org.apache.spark.sql.SparkSession,
                           dir: String): String =
    stagedOnce(dir, storePath(dir), "_CELLS_READY") {
      CellQueries.eventCells(s, dir)
        .withColumn("region", substring(col("rowkey"), 1, 1))
        .repartition(col("region"))
        .sortWithinPartitions("region", "rowkey", "family", "qualifier")
        .write.mode("overwrite").partitionBy("region").parquet(storePath(dir))
    }

  private def cells(s: org.apache.spark.sql.SparkSession, dir: String) =
    s.read.format("graftcell").load(stage(s, dir))

  /** Stage the FAMILY-PURE store (one connector append per family, so
    * every region file holds exactly one family with zero null
    * families) — the per-CF store-file layout the grouped metadata
    * aggregates (`cell_connector_count_family` / `_minmax_family`)
    * answer from. Staged once per sf-dir behind a wipe-on-partial
    * marker. */
  private def stageFamStore(s: org.apache.spark.sql.SparkSession,
                            dir: String): String = {
    val path = storePath(dir) + "_fam"
    stagedOnce(dir, path, "_STAGED_COUNT_FAM2") {
      val base = CellQueries.eventCells(s, dir)
      // one append per (family, '5'-band side): files stay family-pure
      // AND provably inside one side of the '5' boundary, so the
      // grouped metadata keys can also answer REGION-ALIGNED band
      // probes (cell_connector_count_family_range) from the manifest
      Seq("d", "m", "x").foreach { fam =>
        Seq(col("rowkey") < "5", col("rowkey") >= "5").foreach { band =>
          base.filter(band)
            .select(col("rowkey"), lit(fam).as("family"),
                    col("qualifier"), col("version"), col("value"))
            .write.format("graftcell").mode("append").save(path)
        }
      }
    }
  }

  /** Stage the GLOBAL-SECONDARY-INDEX fixture: base catalog table
    * `graftcat.events_gi` (all event cells) + its (d, user_id) index
    * `graftcat.events_gi_idx_uid` via `CALL build_index`. Staged ONCE
    * per warehouse behind a marker (r21 — guide §1: the six consumer
    * keys only READ the fixture, so each invocation re-paying the two
    * store writes + two index builds measured staging, not the
    * operator; the one key that mutated it, `cell_index_autoroute_
    * stale`, now stages its own table). The body is idempotent (DROP +
    * CREATE + INSERT OVERWRITE + full rebuilds), so a crash before the
    * marker lands simply restages — the stageSpjTables convention. */
  private def stageGiTable(s: org.apache.spark.sql.SparkSession,
                           dir: String): Unit = {
    registerCatalog(s, dir)
    val marker = new java.io.File(warehouse(dir), "_GI_STAGED")
    if (markerUpToDate(marker, srcFp(dir))) return
    CellQueries.eventCells(s, dir)
      .createOrReplaceTempView("graft_catalog_src")
    // hermetic restage: the builds pin __idx_sync_* snapshots on the
    // base, and INSERT OVERWRITE under a pin would archive the old
    // generation — DROP wipes store, snapshots and archive
    Seq("events_gi_idx_uid", "events_gi_idx_val", "events_gi")
      .foreach(t => s.sql(s"DROP TABLE IF EXISTS graftcat.$t"))
    s.sql("""CREATE TABLE graftcat.events_gi (
               rowkey STRING, family STRING, qualifier STRING,
               version BIGINT, value STRING) USING graftcell""")
    s.sql("INSERT OVERWRITE graftcat.events_gi SELECT * FROM graft_catalog_src")
    val r = s.sql(
      "CALL graftcat.build_index('events_gi', 'uid', 'd', 'user_id')")
      .collect()(0)
    assert(r.getString(0) == "events_gi_idx_uid" && r.getLong(1) > 0L,
      s"index build must report its table and a positive cell count: $r")
    // the high-selectivity probe index (d, value) — region files
    // bounded so value-prefix seeks stay sub-store on the fixture
    val r2 = s.sql(
      "CALL graftcat.build_index('events_gi', 'val', 'd', 'value', 400)")
      .collect()(0)
    assert(r2.getString(0) == "events_gi_idx_val" && r2.getLong(1) > 0L,
      s"index build must report its table and a positive cell count: $r2")
    stampMarker(marker, srcFp(dir))
  }

  /** The commonest fixture: `graftcat.<table>` holding exactly the
    * event cells as one pristine OVERWRITE generation — proto-copied
    * (see [[protoTables]]) for keys whose verb then mutates it. */
  private def pristineEventsTable(s: org.apache.spark.sql.SparkSession,
                                  dir: String, table: String): Unit =
    protoTables(s, dir, table, Seq(table)) {
      CellQueries.eventCells(s, dir)
        .createOrReplaceTempView("graft_catalog_src")
      s.sql(s"DROP TABLE IF EXISTS graftcat.$table")
      s.sql(s"""CREATE TABLE graftcat.$table (
                  rowkey STRING, family STRING, qualifier STRING,
                  version BIGINT, value STRING) USING graftcell""")
      s.sql(s"INSERT OVERWRITE graftcat.$table SELECT * FROM graft_catalog_src")
      ()
    }

  /** Stage the metadata-table fixture `graftcat.events_meta` — shared
    * by the three `sql_cell_meta_*` keys, staged ONCE per warehouse
    * behind a marker (r21 — the consumers only READ the meta tables,
    * and the keys' declared columns are layout-independent, so
    * re-paying the two generations + two snapshots per invocation
    * measured staging, not the metadata scan): DROP (hermetic: resets
    * the commit history to exactly two generations) → overwrite
    * (generation 1, all event cells) → snapshot s1 → append
    * (generation 2, the '6' band re-inserted with shifted versions) →
    * snapshot s2. Same deterministic shape as the list_snapshots key.
    * Idempotent from the DROP, so a crash before the marker restages. */
  private def stageMetaTable(s: org.apache.spark.sql.SparkSession,
                             dir: String): Unit = {
    registerCatalog(s, dir)
    val marker = new java.io.File(warehouse(dir), "_META_STAGED")
    if (markerUpToDate(marker, srcFp(dir))) return
    CellQueries.eventCells(s, dir)
      .createOrReplaceTempView("graft_catalog_src")
    s.sql("DROP TABLE IF EXISTS graftcat.events_meta")
    s.sql("""CREATE TABLE graftcat.events_meta (
               rowkey STRING, family STRING, qualifier STRING,
               version BIGINT, value STRING) USING graftcell""")
    s.sql("INSERT OVERWRITE graftcat.events_meta SELECT * FROM graft_catalog_src")
    s.sql("CALL graftcat.snapshot('events_meta', 's1')")
    s.sql("""INSERT INTO graftcat.events_meta
             SELECT rowkey, family, qualifier,
                    version + 1000000 AS version,
                    concat(value, '~') AS value
             FROM graft_catalog_src WHERE rowkey >= '6' AND rowkey < '7'""")
    s.sql("CALL graftcat.snapshot('events_meta', 's2')")
    stampMarker(marker, srcFp(dir))
  }

  /** Stage the two co-BUCKETED catalog tables of the storage-
    * partitioned-join keys: same `buckets` descriptor (8), so their
    * writes cluster on the catalog's `bucket(8, rowkey)` function and
    * their scans report compatible KeyGroupedPartitioning.
    * `events_bkt` holds every event cell; `events_bkt_band` the
    * '5'-and-up band with tilded values (NULL-propagating `||`, the
    * verify_rep convention). The four SPJ keys only READ the staged
    * tables, so staging runs once per warehouse behind a marker — and
    * because CREATE IF NOT EXISTS + INSERT OVERWRITE are idempotent,
    * a crash before the marker lands simply restages (no duplicate
    * risk, unlike the append-staging stores `stagedOnce` wipes). */
  private def stageSpjTables(s: org.apache.spark.sql.SparkSession,
                             dir: String): Unit = {
    registerCatalog(s, dir)
    val marker = new java.io.File(warehouse(dir), "_SPJ_STAGED")
    if (markerUpToDate(marker, srcFp(dir))) return
    CellQueries.eventCells(s, dir)
      .createOrReplaceTempView("graft_catalog_src")
    Seq("events_bkt", "events_bkt_band").foreach { t =>
      s.sql(s"""CREATE TABLE IF NOT EXISTS graftcat.$t (
                  rowkey STRING, family STRING, qualifier STRING,
                  version BIGINT, value STRING)
                USING graftcell TBLPROPERTIES('buckets'='8')""")
    }
    s.sql("INSERT OVERWRITE graftcat.events_bkt SELECT * FROM graft_catalog_src")
    s.sql("""INSERT OVERWRITE graftcat.events_bkt_band
             SELECT rowkey, family, qualifier,
                    version + 1000000 AS version,
                    value || '~' AS value
             FROM graft_catalog_src WHERE rowkey >= '5'""")
    stampMarker(marker, srcFp(dir))
  }

  /** Session CLONE with a PRIVATE SQLConf (the Streaming.streamSession
    * pattern): per-key planner overrides — fixture-scale DPP knobs, the
    * SPJ bucketing enables, the SQL-scripting parser flag — bind to the
    * clone and die with this key's plan, so the shared Bench/Verify
    * session keeps planning every OTHER key under defaults in any run
    * order (VERDICT r21 "what's wrong" #2: the overrides previously
    * leaked session-wide). The clone shares the SparkContext and
    * warehouse; only SQL conf + temp views are private, so the catalog
    * must be re-registered on it. */
  private val scopedSessions =
    scala.collection.concurrent.TrieMap.empty[
      (org.apache.spark.sql.SparkSession, String, String),
      org.apache.spark.sql.SparkSession]

  private def confScopedSession(s0: org.apache.spark.sql.SparkSession,
                                dir: String, confs: (String, String)*)
      : org.apache.spark.sql.SparkSession = {
    // memoized per (parent session, sf-dir, conf set): the clone is
    // pure configuration — reusing it avoids re-instantiating the
    // catalog (and its lazily-read descriptors) on every invocation
    // (measured ~0.2 s/invocation on the SPJ keys). Entries of stopped
    // parents are dropped lazily (the pairCache convention).
    scopedSessions.filterInPlace { case ((p, _, _), _) =>
      !p.sparkContext.isStopped }
    scopedSessions.getOrElseUpdate(
      (s0, dir, confs.map { case (k, v) => s"$k=$v" }.sorted.mkString(";")), {
        val s = s0.newSession()
        graft.Tables.prep(s)
        registerCatalog(s, dir)
        confs.foreach { case (k, v) => s.conf.set(k, v) }
        s
      })
  }

  /** The storage-partitioned-join planner enables, scoped per key. */
  private def spjSession(s0: org.apache.spark.sql.SparkSession,
                         dir: String): org.apache.spark.sql.SparkSession =
    confScopedSession(s0, dir,
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      // one-side storage-partitioned shuffle: an unbucketed join side
      // may be shuffled INTO the bucketed side's reported key grouping
      // (the exchange evaluates the catalog's own bucket function),
      // leaving the store side exchange-free — join_cell_spj_oneside
      // pins it
      "spark.sql.sources.v2.bucketing.shuffle.enabled" -> "true")

  /** Stage the CDC store: the SAME event cells, written as THREE
    * connector-write batches split on deterministic rowkey bands — a
    * replication log of three committed batches for the streaming read
    * key. Guarded by its own marker (the connector stamps `_SUCCESS`
    * after EVERY commit, so that file can't gate a three-write stage). */
  private[graft] def stageCdc(s: org.apache.spark.sql.SparkSession,
                              dir: String): String =
    stagedOnce(dir, storePath(dir) + "_cdc", "_CDC_READY") {
      val path = storePath(dir) + "_cdc"
      val cells = CellQueries.eventCells(s, dir)
      Seq(col("rowkey") < "3",
          col("rowkey") >= "3" && col("rowkey") < "6",
          col("rowkey") >= "6")
        .foreach(band => cells.filter(band)
          .write.format("graftcell").mode("append").save(path))
    }

  /** Stage the INCREMENTAL store: three deterministic rowkey-band
    * batches with a named snapshot after each of the first two —
    * `inc1` pins band 1, `inc2` pins bands 1+2 — the fixture for the
    * sinceSnapshot keys (delta = bands after the named boundary). */
  private[graft] def stageInc(s: org.apache.spark.sql.SparkSession,
                              dir: String): String =
    stagedOnce(dir, storePath(dir) + "_inc", "_INC_READY") {
      val path = storePath(dir) + "_inc"
      val cells = CellQueries.eventCells(s, dir)
      cells.filter(col("rowkey") < "3")
        .write.format("graftcell").mode("append").save(path)
      graft.sources.cell.GraftCellSnapshot.create(path, "inc1")
      cells.filter(col("rowkey") >= "3" && col("rowkey") < "6")
        .write.format("graftcell").mode("append").save(path)
      graft.sources.cell.GraftCellSnapshot.create(path, "inc2")
      cells.filter(col("rowkey") >= "6")
        .write.format("graftcell").mode("append").save(path)
    }

  /** Drain a streaming DF to completion (AvailableNow, memory sink). The
    * throwaway checkpoint is deleted once the query terminates: the
    * drained rows live in the sink and nothing reads it back. */
  private def drain(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val s = df.sparkSession
    val name = s"graft_cellstream_${java.util.UUID.randomUUID.toString.replace("-", "")}"
    val cp = java.nio.file.Files.createTempDirectory("graft_cellckpt_").toString
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", cp).start()
    try q.awaitTermination()
    finally FileUtils.deleteQuietly(new java.io.File(cp))
    s.table(name)
  }

  val queries: Map[String, Q] = Map(
    "scan_cell_connector" -> ((s, dir) =>
      // Full-table read through the connector: proves the store stages
      // and reads back the complete cell set (no filter, no pruning —
      // the correctness floor the pushdown keys stand on).
      cells(s, dir).orderBy("rowkey", "qualifier")),

    "cell_connector_range" -> ((s, dir) =>
      // HBase Scan(startRow, stopRow) THROUGH the scan: the rowkey range
      // is accepted by pushFilters, prunes region files by footer
      // min/max at plan time, skips row groups inside survivors, and is
      // re-checked exactly per row. Same predicate as cell_scan_range,
      // moved from a post-scan Filter into the source.
      cells(s, dir)
        .filter(col("rowkey") >= "30" && col("rowkey") < "50")
        .orderBy("rowkey", "qualifier")),

    "cell_connector_prefix" -> ((s, dir) =>
      // PrefixFilter + addColumn + column projection: prefix becomes the
      // [p, prefixStop(p)) range for pruning, qualifier IN-list drops
      // cells inside the reader, and the projection narrows the parquet
      // read schema to 3 of 5 columns (version/family never decoded).
      cells(s, dir)
        .filter(col("rowkey").startsWith("10") &&
                col("qualifier").isin("event_type", "value"))
        .select("rowkey", "qualifier", "value")
        .orderBy("rowkey", "qualifier")),

    "sink_cell_connector_write" -> ((s, dir) => {
      // The connector WRITE path: df.write.format("graftcell") — the
      // sink itself declares the HFile layout (RequiresDistribution-
      // AndOrdering: range-cluster by rowkey, sort by the full cell
      // key), so Catalyst plans the bulk-load shuffle and every task
      // commits one sorted, non-overlapping region file via the
      // tmp→batch rename protocol. Readback probes a rowkey range
      // THROUGH the just-written store, so the round trip proves
      // write layout + footer stats + pushdown compose.
      val path = stagedOnce(dir, storePath(dir) + "_w", "_W_READY") {
        CellQueries.eventCells(s, dir)
          .write.format("graftcell").mode("append")
          .save(storePath(dir) + "_w")
      }
      s.read.format("graftcell").load(path)
        .filter(col("rowkey") >= "55" && col("rowkey") < "57")
        .orderBy("rowkey", "qualifier")
    }),

    "stream_cell_connector" -> ((s, dir) => {
      // The connector STREAMING read — HBase replication as a Spark
      // micro-batch source: the store's committed write batches (three
      // deterministic rowkey bands, each one atomic `batch_<id>` dir)
      // replay as one micro-batch each, paced by admission control and
      // delivered exactly once via the checkpoint offset log
      // (GraftCellMicroBatchStream). Trigger.AvailableNow drains the
      // dir set pinned at start, so the drained sink equals the batch
      // read of the same store — which is exactly what the oracle
      // checks (the full cell set, restricted to a consumer-side band).
      val path = stageCdc(s, dir)
      drain(s.readStream.format("graftcell").load(path)
              .filter(col("rowkey") >= "20" && col("rowkey") < "40"))
        .orderBy("rowkey", "qualifier")
    }),

    "stream_cell_replicate" -> ((s, dir) => {
      // END-TO-END replication: stream FROM one cell store INTO another
      // through the connector on both sides — the HBase cluster-to-
      // cluster replication pipeline as one Structured Streaming query.
      // Source side: each committed batch dir of the CDC store is one
      // micro-batch (GraftCellMicroBatchStream). Sink side: each epoch
      // publishes one atomically-renamed batch dir in the REPLICA store
      // (GraftCellStreamingWrite), with the declared HFile range-shuffle
      // + sort planned inside every micro-batch and an idempotent
      // epoch-replay guard, so the replica is exactly-once at the store
      // level. The readback probes the REPLICA, so the oracle checks
      // the whole pipeline: source batching → epoch commit → replica
      // footer stats → read-side pruning.
      val src = stageCdc(s, dir)
      // wipe-on-partial matters doubly here: a fresh checkpoint dir is
      // created per staging attempt, so re-draining into a half-written
      // replica would re-deliver every batch (duplicates) — stagedOnce
      // restarts from an empty replica instead
      val dst = stagedOnce(dir, storePath(dir) + "_repl", "_REPL_READY") {
        val cp = java.nio.file.Files.createTempDirectory("graft_replckpt_").toString
        val q = s.readStream.format("graftcell").load(src)
          .writeStream.format("graftcell")
          .option("path", storePath(dir) + "_repl")
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .option("checkpointLocation", cp).start()
        q.awaitTermination()
      }
      s.read.format("graftcell").load(dst)
        .filter(col("rowkey") >= "40" && col("rowkey") < "60")
        .orderBy("rowkey", "qualifier")
    }),

    "cell_connector_compact" -> ((s, dir) => {
      // MAJOR COMPACTION as a STORE operation through the connector —
      // the HBase compaction lifecycle on the pluggable source instead
      // of a query pattern (cf. cell_compact): a two-generation store
      // (base cells + a second write batch of updated versions for the
      // '5'+ band) is rewritten IN PLACE by one query — read latest
      // version per cell key, `mode("overwrite")` (the TRUNCATE
      // capability) — leaving a single sorted, non-overlapping region
      // generation. Safe in place because the write job reads source
      // files while tasks stage to `_tmp_*`; old dirs are deleted only
      // at commit, after all reads, and the new generation publishes by
      // atomic rename. Readback returns the compacted store, so the
      // oracle checks the whole lifecycle: two appends → version
      // resolution → truncate-commit → footer-pruned read.
      val path = stagedOnce(dir, storePath(dir) + "_cmp", "_COMPACTED") {
        val p = storePath(dir) + "_cmp"
        val base = CellQueries.eventCells(s, dir)
        base.write.format("graftcell").mode("append").save(p)
        base.filter(col("rowkey") >= "5")
          .withColumn("version", col("version") + lit(1000000L))
          .withColumn("value", concat(col("value"), lit("!")))
          .write.format("graftcell").mode("append").save(p)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("rowkey", "family", "qualifier")
          .orderBy(col("version").desc)
        s.read.format("graftcell").load(p)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1).drop("rn")
          .write.format("graftcell").mode("overwrite").save(p)
      }
      s.read.format("graftcell").load(path).orderBy("rowkey", "qualifier")
    }),

    "cell_connector_multiget" -> ((s, dir) =>
      // HBase MULTI-GET through the scan: a scattered rowkey IN-list is
      // pruned PER KEY — each listed key selects only the region files
      // whose footer [min,max] can contain it, instead of the IN-list's
      // [min,max] envelope selecting every region in between (the
      // envelope here spans first-byte regions 1..9; per-key pruning
      // plans only the 4 regions the keys live in — spec-pinned).
      // Inside survivors the IN-list becomes a parquet `in()` predicate
      // answered from dictionary/bloom, and membership is re-checked
      // exactly per row.
      cells(s, dir)
        .filter(col("rowkey").isin("101", "42", "77", "905"))
        .orderBy("rowkey", "qualifier")),

    "cell_connector_multirange" -> ((s, dir) =>
      // HBase MultiRowRangeFilter — SEVERAL key ranges in ONE scan —
      // via OR-predicate pushdown (r16): `Or(l, r)` is accepted when
      // both sides are, file pruning is the UNION of the per-disjunct
      // survivors (each disjunct's full rowkey-range/IN/version pruning
      // recursively), the parquet row-group predicate is the or() of
      // the per-disjunct predicates, and membership is re-checked
      // exactly per row by the compiled disjunction. Before r16 an OR
      // was rejected by pushFilters and the probe full-scanned the
      // store — at 100 TB, the difference between touching 3 region
      // bands and touching every region. Three disjuncts (two ranges +
      // a prefix) so the nested Or(Or(..)..) shape is exercised.
      cells(s, dir)
        .filter((col("rowkey") >= "10" && col("rowkey") < "12") ||
                (col("rowkey") >= "85" && col("rowkey") < "90") ||
                col("rowkey").startsWith("42"))
        .orderBy("rowkey", "qualifier")),

    "cell_connector_fuzzy" -> ((s, dir) => {
      // HBase FuzzyRowFilter (r17): a FIXED-POSITION wildcard probe
      // over a SALTED rowkey schema — `option("fuzzy", "?-1995-03")`
      // matches any salt (position 0 is the wildcard) and the fixed
      // year-month segment, the classic "one month across every salt"
      // scan that plain prefix/range pushdown cannot express (the salt
      // destroys the prefix). File pruning uses the fixed byte
      // segments two ways: the pattern's leading fixed run as an
      // ordinary prefix interval, and — the new algebra — the COMMON
      // PREFIX of a file's [min,max] (every key in a byte-ordered
      // interval shares it), so a region file whose stats reveal a
      // different salt-month is skipped without reading a byte. At
      // 100 TB: touch ~1/72 of every salt's region files instead of
      // the whole store (PLANS.md pins regionFiles k/n). Rows are then
      // matched exactly in the reader. Store staged once: orders keyed
      // `<md5-derived-salt>-<date>-<orderkey>` over 4 salts,
      // connector-written (range shuffle ⇒ sorted, salt-clustered
      // region files) rolling small files so each spans a narrow
      // date slice within its salt — the layout the common-prefix
      // algebra prunes by, at every SF.
      val path = stagedOnce(dir, storePath(dir) + "_fuzzy", "_FUZZY_READY_V2") {
        graft.Tables.views(s, dir, "orders")
        // roll to ~200 region files at ANY SF: ~50 files per salt over
        // the 7-year date span ⇒ each file covers ~1.7 months, the
        // granularity a month probe prunes at (HBase: region count
        // grows with data; file span in keyspace stays narrow)
        val perFile = math.max(8L, s.table("orders").count() / 200)
        s.sql("""SELECT concat(
                        CAST(ascii(substring(md5(cast(o_orderkey AS STRING)),
                                             1, 1)) % 4 AS STRING),
                        '-', cast(o_orderdate AS STRING), '-',
                        lpad(cast(o_orderkey AS STRING), 12, '0')) AS rowkey,
                        'o' AS family, 'priority' AS qualifier,
                        CAST(1 AS BIGINT) AS version,
                        o_orderpriority AS value
                 FROM orders""")
          .write.format("graftcell").option("maxRowsPerFile", perFile)
          .mode("append").save(storePath(dir) + "_fuzzy")
      }
      s.read.format("graftcell").option("fuzzy", "?-1995-03").load(path)
        .select("rowkey", "value")
        .orderBy("rowkey")
    }),

    "cell_connector_fuzzy_multi" -> ((s, dir) => {
      // MULTI-PATTERN FuzzyRowFilter (r18 — HBase's real signature
      // takes a LIST of (pattern, mask) pairs OR-ed together; r17's
      // option held one): `option("fuzzy", """["?-1995-03",
      // "?-1997-11"]""")` probes TWO months across every salt in one
      // scan — the multi-tenant / multi-month shape. File pruning is
      // the UNION of the per-pattern survivors (the same Or algebra
      // the multirange key uses for pushed disjunctions): a region
      // file is planned iff ANY pattern's fixed segments could match
      // its [min,max], so at 100 TB the scan touches ~2 month-slices
      // per salt instead of the store (spec pins the union plan still
      // under half the files on the 4-salt store, and ≥ each single
      // pattern's plan). Rows are matched exactly in the reader as the
      // disjunction. Same staged salted orders store as the
      // single-pattern key.
      queries("cell_connector_fuzzy")(s, dir).queryExecution // stage
      val path = storePath(dir) + "_fuzzy"
      s.read.format("graftcell")
        .option("fuzzy", """["?-1995-03","?-1997-11"]""").load(path)
        .select("rowkey", "value")
        .orderBy("rowkey")
    }),

    "cell_connector_value_prune" -> ((s, dir) => {
      // VALUE-COLUMN file pruning (r18 — the HBase
      // SingleColumnValueFilter / ValueFilter analog, VERDICT r17 #4):
      // manifests now carry value min/max next to the
      // rowkey/family/qualifier/version stats (tracked by the same
      // writer pass — zero extra IO; truncation-sound 64-byte bounds so
      // document-sized values stay cheap), and both pruning paths fold
      // pushed value predicates into the same interval algebra. The
      // store below is the shape that makes this matter: a
      // TIME-BATCHED ingest (one append per order-year) keyed by
      // orderkey, so rowkey stats are useless for a date probe but
      // each generation's files span ONE year of values — the value
      // band ['1995-03-01','1995-04-01') plans only the 1995 batch's
      // region files and skips every other era without reading a byte
      // (spec pins regionFiles k/n and the oracle equality; the same
      // probe pre-r18 planned the whole store). At 100 TB this is the
      // "recent data by value" scan every time-batched table wants.
      // Rows are then matched exactly by the reader's pushed-filter
      // eval, and parquet row-group stats skip inside survivors.
      val path = stagedOnce(dir, storePath(dir) + "_valprune", "_VALPRUNE_READY_V1") {
        graft.Tables.views(s, dir, "orders")
        (1992 to 1998).foreach { y =>
          s.sql(s"""SELECT lpad(cast(o_orderkey AS STRING), 12, '0') AS rowkey,
                           'o' AS family, 'odate' AS qualifier,
                           CAST(1 AS BIGINT) AS version,
                           cast(o_orderdate AS STRING) AS value
                    FROM orders WHERE year(o_orderdate) = $y""")
            .write.format("graftcell").mode("append")
            .save(storePath(dir) + "_valprune")
        }
      }
      s.read.format("graftcell").load(path)
        .filter(col("value") >= "1995-03-01" && col("value") < "1995-04-01")
        .select("rowkey", "value")
        .orderBy("rowkey")
    }),

    "cell_connector_snapshot" -> ((s, dir) => {
      // TIME TRAVEL via named SNAPSHOTS — HBase snapshot semantics with
      // zero data copy: a snapshot is a manifest pinning the committed
      // dir set (dirs are write-once, published by atomic rename, so
      // the manifest stays valid under later appends). Staged once per
      // sf-dir: base cells → snapshot "s1" → an updated-version append
      // for the '5'+ band. Reading `.option("snapshot", "s1")` plans
      // exactly the pinned dirs through the same footer-pruned scan, so
      // the read returns the BASE cells only — the oracle is the plain
      // cell rebuild, while the live store (spec-pinned) has grown.
      val path = stagedOnce(dir, storePath(dir) + "_snap", "_SNAP_READY") {
        val p = storePath(dir) + "_snap"
        val base = CellQueries.eventCells(s, dir)
        base.write.format("graftcell").mode("append").save(p)
        graft.sources.cell.GraftCellSnapshot.create(p, "s1")
        base.filter(col("rowkey") >= "5")
          .withColumn("version", col("version") + lit(1000000L))
          .withColumn("value", concat(col("value"), lit("!")))
          .write.format("graftcell").mode("append").save(p)
      }
      s.read.format("graftcell").option("snapshot", "s1").load(path)
        .orderBy("rowkey", "qualifier")
    }),

    "cell_connector_split_regions" -> ((s, dir) => {
      // Region SPLIT-ON-SIZE: `option("maxRowsPerFile", n)` makes every
      // write task ROLL to a new region file each n rows — rows arrive
      // rowkey-sorted (the declared HFile ordering), so rolled files
      // stay sorted and pairwise non-overlapping by construction, and
      // footer-pruning granularity becomes a policy knob instead of a
      // side effect of the shuffle partition count (at 100 TB: bounded
      // region sizes under skewed key bands). Readback range-probes the
      // finer-grained store; the spec pins files-per-task > 1 and the
      // non-overlap invariant.
      val path = stagedOnce(dir, storePath(dir) + "_split", "_SPLIT_READY") {
        CellQueries.eventCells(s, dir)
          .write.format("graftcell")
          .option("maxRowsPerFile", "500")
          .mode("append").save(storePath(dir) + "_split")
      }
      s.read.format("graftcell").load(path)
        .filter(col("rowkey") >= "20" && col("rowkey") < "25")
        .orderBy("rowkey", "qualifier")
    }),

    "cell_connector_timerange" -> ((s, dir) => {
      // HBase Scan TIME RANGE through the scan: the footer cache also
      // tracks the version column's min/max (the HFile TimeRange
      // tracker), so a version predicate SKIPS whole region files of
      // generations written in a different era — here a two-generation
      // store (base versions ~1.7e15 µs; a re-write batch at +8e15)
      // where `version >= 8e15` plans ONLY the second generation's
      // files with the rowkey completely unconstrained (spec-pinned).
      // The same bound rides the parquet predicate for row-group
      // skipping inside survivors, and is re-checked exactly per row.
      // dedicated end-of-staging marker (NOT `_SUCCESS`, which the
      // connector stamps after the FIRST append — it cannot gate a
      // two-append stage; ADVICE r14 medium)
      val path = stagedOnce(dir, storePath(dir) + "_tr", "_TR_READY") {
        val p = storePath(dir) + "_tr"
        val base = CellQueries.eventCells(s, dir)
        base.write.format("graftcell").mode("append").save(p)
        base.filter(col("rowkey") >= "5")
          .withColumn("version", col("version") + lit(8000000000000000L))
          .withColumn("value", concat(col("value"), lit("!")))
          .write.format("graftcell").mode("append").save(p)
      }
      s.read.format("graftcell").load(path)
        .filter(col("version") >= 8000000000000000L)
        .orderBy("rowkey", "qualifier")
    }),

    "cell_connector_compact_minor" -> ((s, dir) => {
      // MINOR COMPACTION as a store operation: merge only the SMALL
      // committed batches into one, leaving the large base generation
      // untouched — HBase's size-tiered minor compaction, bounding
      // read amplification (dir count, footer fetches) without the
      // full-store rewrite of `cell_connector_compact`. Content is
      // preserved VERBATIM (no version resolution — that is major
      // compaction's job): the oracle is the three-batch union, and
      // the spec pins dirs 3→2 with byte-identical readback. Staged
      // once: base cells + two narrow re-write batches, then
      // minorCompact (a shuffle-free merge of the two batches' sorted
      // region files) with a threshold below the base size.
      val path = stagedOnce(dir, storePath(dir) + "_mnr", "_MINOR_READY") {
        val p = storePath(dir) + "_mnr"
        val base = CellQueries.eventCells(s, dir)
        base.write.format("graftcell").mode("append").save(p)
        Seq("2", "7").foreach(band =>
          base.filter(col("rowkey").startsWith(band))
            .withColumn("version", col("version") + lit(1000000L))
            .withColumn("value", concat(col("value"), lit("+")))
            .write.format("graftcell").mode("append").save(p))
        val sizes = graft.sources.cell.CellFooterCache.committedDirs(p)
          .map(d => graft.sources.cell.CellFooterCache
                      .filesUnder(p, d).map(_.bytes).sum)
        graft.sources.cell.GraftCellMaintenance
          .minorCompact(s, p, maxBytes = sizes.max - 1)
      }
      // version joins the sort: re-write bands make (rowkey, qualifier)
      // non-unique, and the gate needs a total order
      s.read.format("graftcell").load(path)
        .orderBy("rowkey", "qualifier", "version")
    }),

    "stream_cell_apply" -> ((s, dir) => {
      // STREAMING DML APPLY — HBase replication when the destination
      // must RESOLVE versions instead of appending blindly
      // (stream_cell_replicate): the CDC store's committed batches
      // replay as micro-batches and each batch is APPLIED to a catalog
      // table with MERGE INTO inside foreachBatch — newest version
      // wins (`WHEN MATCHED AND t.version < s.version THEN UPDATE`),
      // missing cells insert. The replica is seeded with STALE copies
      // of the '5'+ band (version − 1 s, value suffixed), so the
      // MATCHED arm genuinely fires; after the drain the table equals
      // the live cell set EXACTLY — which is literally the oracle.
      // Exactly-once at the table level: the checkpoint offset log
      // delivers each batch once, and the MERGE is idempotent under
      // epoch replay (re-applying a batch upserts the same cells to
      // the same values). Each micro-batch MERGE is a GROUP-GRANULAR
      // commit (r15): the batch's keys runtime-filter the COW scan to
      // the affected region files and the commit replaces only those
      // — per-trigger write amplification is O(touched regions), not
      // O(table).
      registerCatalog(s, dir)
      val src = stageCdc(s, dir)
      stagedOnce(dir, s"${warehouse(dir)}/events_apply", "_APPLY_READY") {
        CellQueries.eventCells(s, dir)
          .createOrReplaceTempView("graft_catalog_src")
        s.sql("""CREATE TABLE IF NOT EXISTS graftcat.events_apply (
                   rowkey STRING, family STRING, qualifier STRING,
                   version BIGINT, value STRING) USING graftcell""")
        s.sql("""INSERT OVERWRITE graftcat.events_apply
                 SELECT rowkey, family, qualifier,
                        version - 1000000 AS version,
                        concat(value, '|stale') AS value
                 FROM graft_catalog_src WHERE rowkey >= '5'""")
        val cp = java.nio.file.Files
          .createTempDirectory("graft_applyckpt_").toString
        val q = s.readStream.format("graftcell").load(src)
          .writeStream
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame,
                           _: Long) =>
            batch.createOrReplaceTempView("graft_apply_batch")
            batch.sparkSession.sql(
              """MERGE INTO graftcat.events_apply t
                 USING graft_apply_batch s
                 ON t.rowkey = s.rowkey AND t.family = s.family
                    AND t.qualifier = s.qualifier
                 WHEN MATCHED AND t.version < s.version THEN UPDATE SET
                   version = s.version, value = s.value
                 WHEN NOT MATCHED THEN INSERT *""")
            ()
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .option("checkpointLocation", cp).start()
        try q.awaitTermination()
        finally FileUtils.deleteQuietly(new java.io.File(cp))
        ()
      }
      s.sql("""SELECT * FROM graftcat.events_apply
               ORDER BY rowkey, qualifier""")
    }),

    "cell_connector_gc" -> ((s, dir) => {
      // MAJOR COMPACTION WITH GARBAGE COLLECTION through the connector
      // (GraftCellMaintenance.majorCompact) — the full HBase compaction
      // semantics as ONE store operation: latest-version resolution
      // (cell_connector_compact) PLUS the two GC rules the query
      // patterns cell_tombstone / cell_ttl established: cells hidden by
      // a __TOMBSTONE__ marker are physically dropped (marker
      // included), and every version older than the TTL horizon
      // (store-max version − 10 days, the deterministic compaction
      // clock) is expired. Staged once: base cells + a DELETE-marker
      // batch for every error event's 'value' cell (1 s newer than the
      // write it hides); then one majorCompact: a shuffle-free merge
      // of the sorted region files, GC'd per cell key. Readback
      // returns the GC'd store through the footer-pruned scan, so the
      // oracle checks append → tombstone → TTL expiry → version
      // resolution → replacing publish → read as one lifecycle.
      val TOMB = "__TOMBSTONE__"
      val path = stagedOnce(dir, storePath(dir) + "_gc", "_GC_READY") {
        val p = storePath(dir) + "_gc"
        val base = CellQueries.eventCells(s, dir)
        base.write.format("graftcell").mode("append").save(p)
        base.filter(col("qualifier") === "event_type" &&
                    col("value") === "error")
          .select(col("rowkey"), col("family"),
                  lit("value").as("qualifier"),
                  (col("version") + 1000000L).as("version"),
                  lit(TOMB).as("value"))
          .write.format("graftcell").mode("append").save(p)
        graft.sources.cell.GraftCellMaintenance.majorCompact(
          s, p, ttlMicros = Some(10L * 86400L * 1000000L),
          tombstone = Some(TOMB))
      }
      s.read.format("graftcell").load(path).orderBy("rowkey", "qualifier")
    }),

    "sql_cell_catalog" -> ((s, dir) => {
      // The CATALOG surface: a DSv2 TableCatalog over a warehouse of
      // cell stores (spark.sql.catalog.graftcat = GraftCellCatalog),
      // so the HBase table lifecycle runs as plain SQL DDL/DML —
      // CREATE TABLE ... USING graftcell, INSERT OVERWRITE (the
      // declared bulk-load range shuffle, idempotent per run via the
      // TRUNCATE capability), SELECT with full pushdown. One
      // GraftCellTable implementation behind both the path and the
      // catalog addressing modes.
      registerCatalog(s, dir)
      CellQueries.eventCells(s, dir)
        .createOrReplaceTempView("graft_catalog_src")
      s.sql("""CREATE TABLE IF NOT EXISTS graftcat.events (
                 rowkey STRING, family STRING, qualifier STRING,
                 version BIGINT, value STRING) USING graftcell""")
      s.sql("INSERT OVERWRITE graftcat.events SELECT * FROM graft_catalog_src")
      s.sql("""SELECT rowkey, qualifier, value FROM graftcat.events
               WHERE rowkey >= '80' AND rowkey < '90'
               ORDER BY rowkey, qualifier""")
    }),

    "sql_cell_delete" -> ((s, dir) => {
      // DELETE FROM through the catalog (SupportsDelete) — the HBase
      // ranged delete, file-granular: footer pruning plans only the
      // region files the predicate can touch, then one distributed
      // task per victim writes its rows without the matching ones, and
      // one new batch dir publishes the survivors while it retires the
      // victims (an all-rows-matched file has no survivors). Two deletes: a
      // pure rowkey range (the region-seek path) and a qualifier+range
      // conjunction (exact per-row rewrite inside survivors).
      // Proto-copy reset (r21): the table restores to the pristine
      // overwrite state before each run, so the DELETEs — the verb —
      // execute per invocation without re-paying the staging write.
      pristineEventsTable(s, dir, "events_del")
      s.sql("DELETE FROM graftcat.events_del WHERE rowkey >= '3' AND rowkey < '5'")
      s.sql("""DELETE FROM graftcat.events_del
               WHERE qualifier = 'value' AND rowkey >= '9'""")
      s.sql("""SELECT * FROM graftcat.events_del
               ORDER BY rowkey, qualifier""")
    }),

    "sql_cell_update" -> ((s, dir) => {
      // UPDATE through the catalog (SupportsRowLevelOperations) — a
      // full-table copy-on-write rewrite: the COW scan feeds every
      // row (no pruning, by design — the paired write truncate-
      // replaces the table), Spark applies the SET as a conditional
      // projection, and one commit swaps the new generation in.
      // Proto-copy reset per run (r21); the UPDATE is the timed verb.
      pristineEventsTable(s, dir, "events_upd")
      s.sql("""UPDATE graftcat.events_upd
               SET value = concat(value, '*')
               WHERE rowkey >= '2' AND rowkey < '3'""")
      s.sql("""SELECT * FROM graftcat.events_upd
               ORDER BY rowkey, qualifier""")
    }),

    "sql_cell_merge" -> ((s, dir) => {
      // MERGE INTO through the catalog — the HBase batch Put (upsert)
      // as SQL: matched cell keys take the source's newer version and
      // value, unmatched source rows insert as new cells, and the
      // whole thing is one copy-on-write commit. Source = updated
      // versions for the '4' band plus brand-new 'zz_'-prefixed
      // rowkeys, so both MERGE arms execute.
      // Proto-copy reset per run (r21); the MERGE is the timed verb
      // (its source view derives from the event cells per run too).
      pristineEventsTable(s, dir, "events_mrg")
      CellQueries.eventCells(s, dir)
        .createOrReplaceTempView("graft_catalog_src")
      // r22: both source bands in ONE pass over the flatten (see the
      // checkand view for the rationale — a UNION ALL branch re-runs
      // the events→cells flatten, and MERGE scans the source twice)
      s.sql("""CREATE OR REPLACE TEMPORARY VIEW graft_merge_src AS
               SELECT CASE WHEN b = 2 THEN concat('zz_', rowkey)
                           ELSE rowkey END AS rowkey,
                      family, qualifier,
                      CASE WHEN b = 1 THEN version + 1000000
                           ELSE version END AS version,
                      CASE WHEN b = 1 THEN concat(value, '^')
                           ELSE value END AS value
               FROM graft_catalog_src
               LATERAL VIEW explode(array(1, 2)) t AS b
               WHERE (b = 1 AND rowkey >= '4' AND rowkey < '5')
                  OR (b = 2 AND rowkey < '1')""")
      s.sql("""MERGE INTO graftcat.events_mrg t
               USING graft_merge_src s
               ON t.rowkey = s.rowkey AND t.family = s.family
                  AND t.qualifier = s.qualifier
               WHEN MATCHED THEN UPDATE SET
                 version = s.version, value = s.value
               WHEN NOT MATCHED THEN INSERT *""")
      s.sql("""SELECT * FROM graftcat.events_mrg
               ORDER BY rowkey, qualifier""")
    }),

    "sql_cell_checkand" -> ((s, dir) => {
      // HBase checkAndPut / checkAndDelete — CONDITIONAL mutation — as
      // conditional MERGE arms through the catalog: the check rides the
      // arm predicates, so a single copy-on-write commit applies only
      // the mutations whose condition holds and leaves the rest
      // untouched (the checkAndPut FAILURE path, which plain MERGE
      // can't express). Arms, in priority order:
      //   WHEN MATCHED AND s.value = '__DELETE__'      THEN DELETE
      //     (checkAndDelete: the marker wins whatever the versions)
      //   WHEN MATCHED AND t.version < s.version       THEN UPDATE
      //     (checkAndPut: put succeeds only against a STALER cell)
      //   WHEN NOT MATCHED AND s.value <> '__DELETE__' THEN INSERT
      //     (delete of an absent row no-ops, as in HBase)
      // Source bands: fresh puts ('3'), STALE puts ('5' — matched, no
      // arm fires, row survives verbatim), deletes ('7' value cells),
      // deletes of absent rows (zz_ prefix, dropped), new inserts
      // (new_ prefix). Proto-copy reset per run (r21); the conditional
      // MERGE is the timed verb.
      pristineEventsTable(s, dir, "events_cas")
      CellQueries.eventCells(s, dir)
        .createOrReplaceTempView("graft_catalog_src")
      // r22: the five source bands as ONE pass over the flatten — a
      // UNION ALL view re-executes the whole events→cells flatten per
      // branch (5× here, and the MERGE group-filter subquery scans the
      // source once more on top). A generator over the branch ids
      // keeps the IDENTICAL multiset (each branch's filter and column
      // transforms keyed on the id) while the flatten runs once per
      // consuming pass.
      s.sql("""CREATE OR REPLACE TEMPORARY VIEW graft_cas_src AS
               SELECT CASE WHEN b = 4 THEN concat('zz_', rowkey)
                           WHEN b = 5 THEN concat('new_', rowkey)
                           ELSE rowkey END AS rowkey,
                      family, qualifier,
                      CASE WHEN b = 1 THEN version + 1000000
                           WHEN b = 2 THEN version - 1000000
                           ELSE version END AS version,
                      CASE WHEN b = 1 THEN concat(value, '^')
                           WHEN b = 2 THEN concat(value, '?')
                           WHEN b = 3 OR b = 4 THEN '__DELETE__'
                           ELSE value END AS value
               FROM graft_catalog_src
               LATERAL VIEW explode(array(1, 2, 3, 4, 5)) t AS b
               WHERE (b = 1 AND rowkey >= '3' AND rowkey < '4')
                  OR (b = 2 AND rowkey >= '5' AND rowkey < '6')
                  OR (b = 3 AND rowkey >= '7' AND rowkey < '8'
                      AND qualifier = 'value')
                  OR (b >= 4 AND rowkey < '1')""")
      s.sql("""MERGE INTO graftcat.events_cas t
               USING graft_cas_src s
               ON t.rowkey = s.rowkey AND t.family = s.family
                  AND t.qualifier = s.qualifier
               WHEN MATCHED AND s.value = '__DELETE__' THEN DELETE
               WHEN MATCHED AND t.version < s.version THEN UPDATE SET
                 version = s.version, value = s.value
               WHEN NOT MATCHED AND s.value <> '__DELETE__' THEN INSERT *""")
      s.sql("""SELECT * FROM graftcat.events_cas
               ORDER BY rowkey, qualifier""")
    }),

    "sql_cell_sync" -> ((s, dir) => {
      // HBase SyncTable — make a replica IDENTICAL to a source table —
      // as the FULL MERGE surface: upsert the dirty rows, insert the
      // missing ones, and delete replica rows the source no longer has
      // via WHEN NOT MATCHED BY SOURCE THEN DELETE (the arm the
      // replication keys can't reach — append-only replication never
      // deletes). The UPDATE arm is conditional on a version/value
      // mismatch, mimicking SyncTable's hash-compare: clean rows are
      // not rewritten by MergeRows (they flow through the COW copy
      // unchanged). Source = the live cells with the '<2' band removed
      // (forces deletes), the '4' band rewritten (forces updates), and
      // a zz_ band added (forces inserts) — so the table afterwards IS
      // the source view, which is exactly what the oracle states.
      // Proto-copy reset per run (r21); the full MERGE is the verb.
      pristineEventsTable(s, dir, "events_sync")
      CellQueries.eventCells(s, dir)
        .createOrReplaceTempView("graft_catalog_src")
      // r22: both source bands in ONE pass over the flatten (see the
      // checkand view for the rationale — a UNION ALL branch re-runs
      // the events→cells flatten, and MERGE scans the source twice)
      s.sql("""CREATE OR REPLACE TEMPORARY VIEW graft_sync_src AS
               SELECT CASE WHEN b = 2 THEN concat('zz_', rowkey)
                           ELSE rowkey END AS rowkey,
                      family, qualifier,
                      CASE WHEN b = 1 AND rowkey >= '4' AND rowkey < '5'
                           THEN version + 1000000 ELSE version END AS version,
                      CASE WHEN b = 1 AND rowkey >= '4' AND rowkey < '5'
                           THEN concat(value, '~') ELSE value END AS value
               FROM graft_catalog_src
               LATERAL VIEW explode(array(1, 2)) t AS b
               WHERE (b = 1 AND rowkey >= '2') OR (b = 2 AND rowkey < '1')""")
      s.sql("""MERGE INTO graftcat.events_sync t
               USING graft_sync_src s
               ON t.rowkey = s.rowkey AND t.family = s.family
                  AND t.qualifier = s.qualifier
               WHEN MATCHED AND (t.version <> s.version
                                 OR t.value <> s.value) THEN UPDATE SET
                 version = s.version, value = s.value
               WHEN NOT MATCHED THEN INSERT *
               WHEN NOT MATCHED BY SOURCE THEN DELETE""")
      s.sql("""SELECT * FROM graftcat.events_sync
               ORDER BY rowkey, qualifier""")
    }),

    "sql_cell_time_travel" -> ((s, dir) => {
      // VERSION AS OF through the catalog: the version string resolves
      // to a named store snapshot (the zero-copy dir-set manifest), so
      // SQL time travel reads the table as of snapshot creation while
      // the live table keeps growing. Re-staged each run: overwrite →
      // snapshot 's1' → append the '6' band rewrite — the snapshot
      // read returns the BASE cells only, whatever the live table
      // holds. Proto-copy reset per run (r21): the snapshot + append +
      // travel read — the verb sequence — still run per invocation on
      // the restored pristine table.
      pristineEventsTable(s, dir, "events_tt")
      CellQueries.eventCells(s, dir)
        .createOrReplaceTempView("graft_catalog_src")
      graft.sources.cell.GraftCellSnapshot.create(
        warehouse(dir) + "/events_tt", "s1")
      s.sql("""INSERT INTO graftcat.events_tt
               SELECT rowkey, family, qualifier,
                      version + 1000000 AS version,
                      concat(value, '~') AS value
               FROM graft_catalog_src WHERE rowkey >= '6' AND rowkey < '7'""")
      s.sql("""SELECT * FROM graftcat.events_tt VERSION AS OF 's1'
               ORDER BY rowkey, qualifier""")
    }),

    "cell_connector_count_meta" -> ((s, dir) =>
      // COMPLETE aggregate pushdown as a CONTRACT key (r15 — was
      // spec-only): ungrouped COUNT(*) / MIN(rowkey) / MAX(rowkey)
      // with no filters are answered from the persisted manifest
      // alone — GraftCellAggScan ships ONE row computed from per-file
      // stats, zero data bytes read at any scale (the HBase
      // coprocessor-aggregate analog; at 100 TB this is a pure
      // metadata query). Grouping/other functions refuse the pushdown
      // (spec-pinned) and the normal scan runs; filters keep it only
      // when region-aligned (r16 — see cell_connector_count_range).
      cells(s, dir).agg(
        count(lit(1)).as("n_cells"),
        min("rowkey").as("min_rowkey"),
        max("rowkey").as("max_rowkey"))),

    "cell_connector_count_family" -> ((s, dir) => {
      // GROUPED metadata aggregate (r19 — VERDICT r18 #5):
      // `COUNT(*) GROUP BY family` answered from the manifest alone
      // when every live file is FAMILY-PURE (minFam == maxFam, known
      // nullFams) — the per-CF store-file layout HBase users build by
      // inserting families separately. Each file contributes whole to
      // exactly one group, so the grouped counts are exact per-file
      // sums: zero data bytes read at any store size (the per-family
      // `status`/`describe` ops query for free). A family-straddling
      // file, unknown stat, filter, or other grouping refuses and the
      // normal scan + Spark aggregation runs (spec-pinned both ways).
      val path = stageFamStore(s, dir)
      s.read.format("graftcell").load(path)
        .groupBy(col("family")).agg(count(lit(1)).as("n_cells"))
        .orderBy("family")
    }),

    "cell_connector_minmax_family" -> ((s, dir) => {
      // GROUPED metadata EXTREMES (r19 — the count_family arm widened):
      // `MIN(version) / MAX(version) GROUP BY family` answered from the
      // manifests' per-file version TimeRanges when every live file is
      // family-pure AND group-pure outright (nullFams 0 or rowCount) —
      // each file's TimeRange then belongs whole to exactly one group,
      // so the grouped extremes are exact per-file folds. This is the
      // "when was each column family last written / how far back does
      // it go" ops query (HBase surfaces it per-store-file in the
      // region server UI), metadata-only at any store size. Mixed
      // null-family files, straddling files, filters, or other
      // groupings refuse (spec-pinned) and the normal scan runs.
      val path = stageFamStore(s, dir)
      val df = s.read.format("graftcell").load(path)
        .groupBy(col("family"))
        .agg(count(lit(1)).as("n_cells"),
             min("version").as("min_ver"),
             max("version").as("max_ver"),
             min("rowkey").as("min_rk"),
             max("rowkey").as("max_rk"))
        .orderBy("family")
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("GraftCellAggScan") &&
             plan.contains("PushedGroupBy: [family]") &&
             plan.contains("MIN(version)") && plan.contains("MAX(version)") &&
             plan.contains("MIN(rowkey)") && plan.contains("MAX(rowkey)"),
        s"grouped extremes not answered from manifests:\n$plan")
      df
    }),

    "cell_connector_count_family_range" -> ((s, dir) => {
      // GROUPED metadata aggregate over a REGION-ALIGNED KEY BAND
      // (r19 — the r16 aligned-filter arm composed with the grouped
      // arm): `COUNT(*) / MIN(version) GROUP BY family WHERE rowkey >=
      // '5'` is manifest-answerable when every live file is BOTH
      // family-pure-outright AND provably fully inside or outside the
      // band — count = rowCount − nullKeys per included file, folded
      // into the file's one group; version extremes additionally need
      // nullKeys == 0 (a NULL-rowkey row never satisfies the band, yet
      // its version sits inside the file's TimeRange — the one leak
      // whole-file stats cannot split). The per-family band count is
      // the "how much of CF x lives in region band y" ops query, zero
      // data bytes at any store size; a straddling file, mixed
      // null-family file, or unknown stat refuses (spec-pinned) and
      // the normal scan runs.
      val path = stageFamStore(s, dir)
      val df = s.read.format("graftcell").load(path)
        .filter(col("rowkey") >= "5")
        .groupBy(col("family"))
        .agg(count(lit(1)).as("n_cells"),
             min("version").as("min_ver"),
             max("version").as("max_ver"))
        .orderBy("family")
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("GraftCellAggScan") &&
             plan.contains("PushedGroupBy: [family]") &&
             plan.contains("GreaterThanOrEqual(rowkey,5"),
        s"grouped band count not answered from manifests:\n$plan")
      df
    }),

    "cell_connector_value_bloom" -> ((s, dir) => {
      // VALUE-BLOOM point probe (r19 — VERDICT r18 #7): every
      // generation's value [min,max] SPANS the probe space by
      // construction (alternating extreme enum values within each
      // file), so the r18 range stats keep everything — only the
      // manifest's per-file 512-byte value bloom can prune. The
      // absent candidate ('mm') is bloom-refuted in every file; the
      // present one ('zz') plans only the first generation's files.
      // Inline plan assertions pin both prunes; the row result is the
      // oracle-checked present-value band. At 100 TB this is the
      // SingleColumnValueFilter point probe costing O(matching files),
      // not O(store).
      val path = storePath(dir) + "_vb"
      stagedOnce(dir, path, "_STAGED_VBLOOM") {
        val base = CellQueries.eventCells(s, dir)
        val band = substring(col("rowkey"), 2, 1) < "5"
        base.select(col("rowkey"), col("family"), col("qualifier"),
                    col("version"),
                    when(band, "aa").otherwise("zz").as("value"))
          .write.format("graftcell").mode("append").save(path)
        base.select(col("rowkey"), col("family"), col("qualifier"),
                    (col("version") + 1000000L).as("version"),
                    when(band, "bb").otherwise("yy").as("value"))
          .write.format("graftcell").mode("append").save(path)
      }
      def planned(df: org.apache.spark.sql.DataFrame): (Int, Int) = {
        val m = "regionFiles: (\\d+)/(\\d+)".r
          .findFirstMatchIn(df.queryExecution.executedPlan.toString).get
        (m.group(1).toInt, m.group(2).toInt)
      }
      val absent = s.read.format("graftcell").load(path)
        .filter(col("value") === "mm")
      assert(planned(absent)._1 == 0,
        s"bloom must refute the absent value in every file: " +
        s"${planned(absent)}")
      val probe = s.read.format("graftcell").load(path)
        .filter(col("value").isin("zz", "mm"))
        .select(col("rowkey"), col("version"), col("value"))
        .orderBy("rowkey", "version")
      val (k, n) = planned(probe)
      assert(k > 0 && k < n,
        s"bloom must plan only the present value's generation: $k/$n")
      probe
    }),

    "cell_connector_count_range" -> ((s, dir) =>
      // FILTERED metadata aggregate (r16): a rowkey-range predicate
      // whose bounds ALIGN with region-file boundaries (here the
      // first-byte band ['3','4') over the byte-partitioned store)
      // keeps COUNT/MIN/MAX answerable from the manifest — every file
      // is provably fully inside or outside, and the included files'
      // rowCount − nullKeys sums to the exact filtered count (NULL
      // rowkeys never satisfy a range predicate, which min/max stats
      // alone cannot see — the manifest's nullKeys stat closes that
      // hole). At 100 TB a region-aligned band count touches zero data
      // bytes; a straddling bound falls back to the real scan
      // (spec-pinned both ways).
      cells(s, dir)
        .filter(col("rowkey") >= "3" && col("rowkey") < "4")
        .agg(
          count(lit(1)).as("n_cells"),
          min("rowkey").as("min_rowkey"),
          max("rowkey").as("max_rowkey"))),

    "sql_cell_time_travel_ts" -> ((s, dir) => {
      // TIMESTAMP AS OF through the catalog — time travel by CLOCK over
      // the commit-stamped persisted manifests (round-15: every commit
      // writes `_manifest.json` with a strictly monotonic
      // committedAtMicros), completing the named-snapshot surface
      // (`sql_cell_time_travel`) with the timestamp half HBase users
      // expect. Re-staged each run: overwrite (era 1) → read era 1's
      // commit stamp FROM ITS MANIFEST → append the '6' band rewrite
      // (era 2, strictly newer stamp) → `TIMESTAMP AS OF
      // timestamp_micros(t1)` resolves to exactly the era-1 dirs, a
      // pure metadata operation, whatever the wall clock was — so the
      // key is deterministic and idempotent for the gate while the
      // stamps themselves are real clock values.
      pristineEventsTable(s, dir, "events_tts")
      CellQueries.eventCells(s, dir)
        .createOrReplaceTempView("graft_catalog_src")
      val store = warehouse(dir) + "/events_tts"
      val t1 = graft.sources.cell.CellFooterCache.committedDirs(store)
        .map(d => graft.sources.cell.CellManifest.commitStampOf(store, d))
        .max
      s.sql("""INSERT INTO graftcat.events_tts
               SELECT rowkey, family, qualifier,
                      version + 1000000 AS version,
                      concat(value, '~') AS value
               FROM graft_catalog_src WHERE rowkey >= '6' AND rowkey < '7'""")
      s.sql(s"""SELECT * FROM graftcat.events_tts
                TIMESTAMP AS OF timestamp_micros(${t1}L)
                ORDER BY rowkey, qualifier""")
    }),

    "sql_cell_time_travel_archive" -> ((s, dir) => {
      // TIMESTAMP AS OF through the ARCHIVE, total-or-loud (r18 —
      // VERDICT r17 #1, the last silent-partial path): before r18 the
      // timestamp pin resolved over LIVE dirs only, so a travel into a
      // minor-compacted window passed the first-commit guard and read
      // a silently THINNED table (the merged-away generations simply
      // missing). Now every structural retirement lands in the
      // append-only travel log ({dir, stamp, supersededAt, files}),
      // view membership is replayed per file, and the pinned read
      // serves retired members from `_archive/<dir>/` — restricted to
      // exactly the retirement-time names — or REFUSES loudly when one
      // resolves nowhere. Sequence: overwrite (era 1) → CALL
      // snapshot('keep') (pins era 1, so its retirement archives) →
      // t1 from the manifest → append era 2 → MINOR COMPACT merges
      // both eras into one new generation (era 1 archived via the
      // snapshot pin; era 2 deleted — unpinned) → `TIMESTAMP AS OF t1`
      // returns era 1 EXACTLY, resolved from the archive. A travel
      // into era 2's window, or after drop_snapshot sweeps the
      // archive, refuses loudly (spec-pinned). Pure metadata at any
      // scale: the log is O(retirements) small lines, the pinned read
      // plans archived manifests like live ones — zero data bytes
      // moved for the whole flow.
      pristineEventsTable(s, dir, "events_tta")
      CellQueries.eventCells(s, dir)
        .createOrReplaceTempView("graft_catalog_src")
      val store = warehouse(dir) + "/events_tta"
      // re-staged each run: the previous run's snapshot must not keep
      // pinning era-1 dirs of an older generation
      scala.util.Try(s.sql(
        "CALL graftcat.drop_snapshot('events_tta', 'keep')"))
      s.sql("CALL graftcat.snapshot('events_tta', 'keep')")
      val t1 = graft.sources.cell.CellFooterCache.committedDirs(store)
        .map(d => graft.sources.cell.CellManifest.commitStampOf(store, d))
        .max
      s.sql("""INSERT INTO graftcat.events_tta
               SELECT rowkey, family, qualifier,
                      version + 1000000 AS version,
                      concat(value, '#GONE') AS value
               FROM graft_catalog_src WHERE rowkey >= '6' AND rowkey < '7'""")
      // minor compaction merges BOTH eras into one new generation:
      // era 1 survives in the archive (pinned by 'keep'), era 2 dies
      s.sql(
        s"CALL graftcat.compact_minor('events_tta', ${Long.MaxValue}L)")
      s.sql(s"""SELECT * FROM graftcat.events_tta
                TIMESTAMP AS OF timestamp_micros(${t1}L)
                ORDER BY rowkey, qualifier""")
    }),

    "sql_cell_call_compact" -> ((s, dir) => {
      // The SQL CALL admin surface (r15 — DSv2 stored procedures,
      // Spark 4.x ProcedureCatalog): HBase shell `major_compact` as
      // `CALL graftcat.compact('<table>')`. A two-generation catalog
      // table (base + an updated-version band) is compacted by the
      // procedure — latest-version resolution in one shuffle-free
      // merge of the sorted region files — and the SELECT afterwards is the
      // oracle-checked result. ttl_micros/tombstone ride as optional
      // defaulted parameters (exercised in CellConnectorSpec with the
      // GC fixture; here the pure major-compact path). Re-staged each
      // run: INSERT OVERWRITE resets the table, so the key is
      // idempotent for the gate.
      pristineEventsTable(s, dir, "events_proc")
      CellQueries.eventCells(s, dir)
        .createOrReplaceTempView("graft_catalog_src")
      s.sql("""INSERT INTO graftcat.events_proc
               SELECT rowkey, family, qualifier,
                      version + 1000000 AS version,
                      concat(value, '!') AS value
               FROM graft_catalog_src WHERE rowkey >= '5'""")
      s.sql("CALL graftcat.compact('events_proc')")
      s.sql("""SELECT * FROM graftcat.events_proc
               ORDER BY rowkey, qualifier""")
    }),

    "sql_cell_call_snapshot" -> ((s, dir) => {
      // HBase shell `snapshot` as `CALL graftcat.snapshot(t, name)`:
      // the procedure pins the committed dir set (the zero-copy
      // manifest), a later append grows only the live table, and
      // `VERSION AS OF` reads the pinned generation — the whole
      // snapshot lifecycle from SQL. Re-staged each run (the CALL
      // re-pins the freshly overwritten base generation).
      pristineEventsTable(s, dir, "events_procsnap")
      CellQueries.eventCells(s, dir)
        .createOrReplaceTempView("graft_catalog_src")
      s.sql("CALL graftcat.snapshot('events_procsnap', 's1')")
      s.sql("""INSERT INTO graftcat.events_procsnap
               SELECT rowkey, family, qualifier,
                      version + 1000000 AS version,
                      concat(value, '~') AS value
               FROM graft_catalog_src WHERE rowkey >= '8'""")
      s.sql("""SELECT * FROM graftcat.events_procsnap VERSION AS OF 's1'
               ORDER BY rowkey, qualifier""")
    }),

    "sql_cell_call_clone" -> ((s, dir) => {
      // HBase shell `clone_snapshot` as SQL (r16) — the last snapshot
      // verb (snapshot/list/restore/clone): a NEW table whose content
      // is the pinned generation, ZERO data copy — pinned dirs are
      // re-created with HARD LINKS to the source region files (the
      // HFile-reference mechanism), so cloning a 100 TB table is a
      // metadata operation. Inode semantics make the share safe: DML
      // and compaction in the source write new files and merely unlink
      // the old names — the clone's links keep the pinned content (spec-pinned by mutating the
      // source after cloning). The source is corrupted AFTER the
      // snapshot here, and the clone reads back the clean generation
      // — oracle = plain rebuild. Re-staged each run (DROP + clone).
      pristineEventsTable(s, dir, "events_cl")
      CellQueries.eventCells(s, dir)
        .createOrReplaceTempView("graft_catalog_src")
      s.sql("CALL graftcat.snapshot('events_cl', 'base')")
      s.sql("""INSERT INTO graftcat.events_cl
               SELECT rowkey, family, qualifier,
                      version + 1000000 AS version,
                      concat(value, '#BAD') AS value
               FROM graft_catalog_src WHERE rowkey >= '8'""")
      s.sql("DROP TABLE IF EXISTS graftcat.events_cl2")
      s.sql("CALL graftcat.clone_snapshot('events_cl', 'base', 'events_cl2')")
      s.sql("""SELECT * FROM graftcat.events_cl2
               ORDER BY rowkey, qualifier""")
    }),

    "sql_cell_max_versions" -> ((s, dir) => {
      // The HBase table descriptor's VERSIONS => n (r16): max_versions
      // is a persisted TBLPROPERTIES key, and major compaction keeps
      // the n NEWEST versions per cell key instead of only the latest
      // — the multi-version retention HBase tables declare. A
      // three-generation store (base + two rewrite eras for the '5'+
      // band) compacted under max_versions=2 keeps exactly the two
      // newest of each cell — the middle era survives for the band,
      // the oldest is GC'd. Oracle = rank ≤ 2 over the same union.
      // r21: the three-generation store is the fixture — proto-copied;
      // the retention compaction (the verb) executes per invocation
      protoTables(s, dir, "events_mv", Seq("events_mv")) {
        CellQueries.eventCells(s, dir)
          .createOrReplaceTempView("graft_catalog_src")
        s.sql("DROP TABLE IF EXISTS graftcat.events_mv")
        s.sql("""CREATE TABLE graftcat.events_mv (
                   rowkey STRING, family STRING, qualifier STRING,
                   version BIGINT, value STRING) USING graftcell
                 TBLPROPERTIES ('max_versions' = '2')""")
        s.sql("INSERT OVERWRITE graftcat.events_mv SELECT * FROM graft_catalog_src")
        Seq(1000000L, 2000000L).foreach { bump =>
          s.sql(s"""INSERT INTO graftcat.events_mv
                    SELECT rowkey, family, qualifier,
                           version + $bump AS version,
                           concat(value, '+') AS value
                    FROM graft_catalog_src WHERE rowkey >= '5'""")
        }
      }
      s.sql("CALL graftcat.compact('events_mv')")
      s.sql("""SELECT * FROM graftcat.events_mv
               ORDER BY rowkey, qualifier, version""")
    }),

    "sql_cell_call_split" -> ((s, dir) => {
      // HBase shell `split 't', 'key'` as SQL (r16): a post-hoc REGION
      // SPLIT of an on-disk store — every region file straddling the
      // key is cut into two exactly at it (one distributed task per
      // victim, crash-safe retire-intent publish), so range probes on
      // either side plan half the bytes without re-loading the table.
      // Content must be byte-identical through the surgery — the
      // oracle is the plain rebuild. Re-staged each run.
      pristineEventsTable(s, dir, "events_split")
      CellQueries.eventCells(s, dir)
        .createOrReplaceTempView("graft_catalog_src")
      s.sql("CALL graftcat.split_region('events_split', '5')")
      s.sql("""SELECT * FROM graftcat.events_split
               ORDER BY rowkey, qualifier""")
    }),

    "sql_cell_call_merge" -> ((s, dir) => {
      // HBase shell `merge_region` as SQL (r16): after two splits have
      // fine-grained the store, merge_regions k-way-merges runs of
      // adjacent region files (per committed dir, up to max_bytes)
      // back into single sorted files — bounding region-file count,
      // and with it manifest size and planning fan-out. Split + merge
      // round-trip must preserve content exactly — oracle = plain
      // rebuild. Re-staged each run.
      pristineEventsTable(s, dir, "events_merge")
      CellQueries.eventCells(s, dir)
        .createOrReplaceTempView("graft_catalog_src")
      s.sql("CALL graftcat.split_region('events_merge', '3')")
      s.sql("CALL graftcat.split_region('events_merge', '6')")
      s.sql("CALL graftcat.merge_regions('events_merge', 1073741824)")
      s.sql("""SELECT * FROM graftcat.events_merge
               ORDER BY rowkey, qualifier""")
    }),

    "sql_cell_call_normalize" -> ((s, dir) => {
      // HBase's region NORMALIZER as SQL (r16 — SimpleRegionNormalizer
      // as `CALL normalize(t)`): one pass PLANS from manifest stats
      // alone — files > 2×target split at the byte-midpoint of their
      // key range (the zero-IO analog of HBase's mid-storefile split
      // point), then runs of adjacent files totalling ≤ target merge
      // back to one; target defaults to the store's MEAN file size, so
      // the verb self-scales with no knob to mis-set at 100 TB. Here
      // the two phases are exercised explicitly: target=1 forces the
      // split pass on every region file, target=1 GiB forces the merge
      // pass back to one file per dir, and the final no-argument CALL
      // runs the self-scaling default (one more midpoint split of the
      // now-dominant big file). Split siblings never re-merge in-pass
      // (their summed bytes exceed the merge bound by construction).
      // Content must be byte-identical through all three passes —
      // oracle = the plain rebuild. Re-staged each run.
      pristineEventsTable(s, dir, "events_norm")
      CellQueries.eventCells(s, dir)
        .createOrReplaceTempView("graft_catalog_src")
      s.sql("CALL graftcat.normalize('events_norm', 1)")
      s.sql("CALL graftcat.normalize('events_norm', 1073741824)")
      s.sql("CALL graftcat.normalize('events_norm')")
      s.sql("""SELECT * FROM graftcat.events_norm
               ORDER BY rowkey, qualifier""")
    }),

    "sql_cell_truncate" -> ((s, dir) => {
      // TRUNCATE TABLE through the catalog (r16 — the HBase shell
      // `truncate`: keep the table and its descriptor, drop ALL data).
      // GraftCellTable OVERRIDES TruncatableTable.truncateTable() with
      // a metadata-only retire-all publish — one atomic rename, zero
      // data bytes read (the SupportsDelete DEFAULT would rewrite
      // every region file through deleteWhere(always_true) just to
      // learn all rows match; the spec proves the zero-IO claim by
      // corrupting every region file first). Band A is loaded and
      // truncated away; the readback is the post-truncate band alone —
      // the oracle. INSERT OVERWRITE re-arms the fixture every run.
      pristineEventsTable(s, dir, "events_trunc")
      CellQueries.eventCells(s, dir)
        .createOrReplaceTempView("graft_catalog_src")
      s.sql("TRUNCATE TABLE graftcat.events_trunc")
      s.sql("""INSERT INTO graftcat.events_trunc
               SELECT rowkey, family, qualifier, version,
                      concat('survivor-', value)
               FROM graft_catalog_src WHERE rowkey < '3'""")
      s.sql("""SELECT * FROM graftcat.events_trunc
               ORDER BY rowkey, qualifier""")
    }),

    "sql_cell_tblproperties" -> ((s, dir) => {
      // PERSISTED TABLE PROPERTIES (r16) — the HBase table DESCRIPTOR:
      // TTL and tombstone policy are declared ONCE at CREATE TABLE
      // (TBLPROPERTIES persisted in the catalog marker, the `alter 't',
      // TTL => ...` surface), and a plain no-argument
      // `CALL compact(t)` applies them — policy lives with the table,
      // not with whoever remembers to pass the right CALL arguments.
      // Fixture = the cell_connector_gc shape (base cells + a
      // tombstone 1 s newer for every error event's value cell), but
      // the GC knobs come from the persisted properties; the oracle is
      // the same GC model, so property-driven compaction must land
      // byte-identically on argument-driven compaction's result.
      // r21: base + tombstone generation is the fixture — proto-copied;
      // the property-driven compaction (the verb) runs per invocation
      protoTables(s, dir, "events_props", Seq("events_props")) {
        CellQueries.eventCells(s, dir)
          .createOrReplaceTempView("graft_catalog_src")
        s.sql("DROP TABLE IF EXISTS graftcat.events_props")
        s.sql("""CREATE TABLE graftcat.events_props (
                   rowkey STRING, family STRING, qualifier STRING,
                   version BIGINT, value STRING) USING graftcell
                 TBLPROPERTIES ('ttl_micros' = '864000000000',
                                'tombstone' = '__TOMBSTONE__')""")
        s.sql("INSERT OVERWRITE graftcat.events_props SELECT * FROM graft_catalog_src")
        s.sql("""INSERT INTO graftcat.events_props
                 SELECT rowkey, family, 'value' AS qualifier,
                        version + 1000000 AS version,
                        '__TOMBSTONE__' AS value
                 FROM graft_catalog_src
                 WHERE qualifier = 'event_type' AND value = 'error'""")
        ()
      }
      s.sql("CALL graftcat.compact('events_props')")
      s.sql("""SELECT * FROM graftcat.events_props
               ORDER BY rowkey, qualifier""")
    }),

    "sql_cell_call_rebucket" -> ((s, dir) => {
      // REBUCKET (r17) — in-place layout evolution for the ONE layout
      // property with no evolution verb until now: `buckets` is
      // create-time-fixed (ALTER refused — the files on disk are
      // hashed against it), so changing a table's bucket count meant
      // CTAS to a new table. `CALL rebucket(t, n)` rewrites the layout
      // in ONE publish (content verbatim — the same shuffle-free
      // rewrite as compaction, archived generations preserved) and
      // repoints the descriptor through the catalog's sanctioned path.
      // Crash between the two steps = tag/descriptor mismatch = the
      // scan degrades to unkeyed (a shuffle, never a wrong join);
      // re-running completes. The key creates a 4-bucket table,
      // rebuckets to 8, and reads the content back — layout surgery is
      // content-neutral, so the oracle is the plain rebuild; the spec
      // pins the layout half (SPJ working at the new n, old tags gone).
      // r21: the 4-bucket table is the fixture — proto-copied; the
      // rebucket rewrite (the verb) executes per invocation
      protoTables(s, dir, "events_rb", Seq("events_rb")) {
        CellQueries.eventCells(s, dir)
          .createOrReplaceTempView("graft_catalog_src")
        s.sql("DROP TABLE IF EXISTS graftcat.events_rb")
        s.sql("""CREATE TABLE graftcat.events_rb (
                   rowkey STRING, family STRING, qualifier STRING,
                   version BIGINT, value STRING) USING graftcell
                 TBLPROPERTIES ('buckets' = '4')""")
        s.sql("INSERT OVERWRITE graftcat.events_rb SELECT * FROM graft_catalog_src")
        ()
      }
      s.sql("CALL graftcat.rebucket('events_rb', 8)")
      s.sql("""SELECT * FROM graftcat.events_rb
               ORDER BY rowkey, qualifier""")
    }),

    "sql_cell_family_policy" -> ((s, dir) => {
      // PER-FAMILY descriptor policies (r17 — HBase sets TTL/VERSIONS
      // per COLUMN FAMILY in the table descriptor): `family.<f>.<knob>`
      // TBLPROPERTIES override the table level for that family, so a
      // hot family and an audit family age differently under ONE
      // `CALL compact`. Fixture: every cell written to BOTH families
      // at version 1000, then re-written at 2000000 — the table policy
      // (ttl 1500, max_versions 1) expires hot's old generation and
      // keeps only its newest, while audit's overrides (a practically
      // infinite TTL, VERSIONS => 2) retain both. One compact, one
      // distributed rewrite, two retention outcomes — the family's
      // policy is looked up once per cell key on the merged stream, no
      // shuffle or join.
      // r21: the dual-family two-era store is the fixture —
      // proto-copied; the policy compaction (the verb) runs per run
      protoTables(s, dir, "events_fam", Seq("events_fam")) {
        CellQueries.eventCells(s, dir)
          .createOrReplaceTempView("graft_catalog_src")
        s.sql("DROP TABLE IF EXISTS graftcat.events_fam")
        s.sql("""CREATE TABLE graftcat.events_fam (
                   rowkey STRING, family STRING, qualifier STRING,
                   version BIGINT, value STRING) USING graftcell
                 TBLPROPERTIES ('ttl_micros' = '1500',
                                'family.audit.ttl_micros' = '864000000000',
                                'family.audit.max_versions' = '2')""")
        s.sql("""INSERT OVERWRITE graftcat.events_fam
                 SELECT rowkey, f.family, qualifier,
                        CAST(1000 AS BIGINT) AS version, value
                 FROM graft_catalog_src
                 LATERAL VIEW explode(array('hot', 'audit')) f AS family""")
        s.sql("""INSERT INTO graftcat.events_fam
                 SELECT rowkey, f.family, qualifier,
                        CAST(2000000 AS BIGINT) AS version, value || '~'
                 FROM graft_catalog_src
                 LATERAL VIEW explode(array('hot', 'audit')) f AS family""")
        ()
      }
      s.sql("CALL graftcat.compact('events_fam')")
      s.sql("""SELECT * FROM graftcat.events_fam
               ORDER BY rowkey, family, qualifier, version""")
    }),

    "sql_cell_delete_markers" -> ((s, dir) => {
      // HIDE-ALL-OLDER delete markers (r19 — HBase's real tombstone
      // semantics as a per-family KEEP_DELETED_CELLS-style knob,
      // closing the documented divergence): under
      // `family.<f>.delete_markers = 'hide-all-older'` a marker at
      // version V masks EVERY version ≤ V and compaction drops marker
      // + masked versions together, VERSIONS ranking only surviving
      // puts; the default family keeps the engine's pinned
      // delete-if-current rule. Fixture: both families get versions
      // 1000 and 2000, an all-keys marker at 3000, and a newer put at
      // 4000 for the '5'+ band only. After ONE compact
      // (max_versions 2): the default family RESURFACES version 2000
      // where no newer put exists (the marker consumed a retained
      // slot), while the hide-all-older family returns NOTHING there —
      // marker and all older versions gone, exactly HBase. The marker
      // ceiling is computed per cell key on the merged stream.
      // r21: the full version history is the fixture — proto-copied;
      // the marker-aware compaction (the verb) runs per invocation
      protoTables(s, dir, "events_dm", Seq("events_dm")) {
        CellQueries.eventCells(s, dir)
          .createOrReplaceTempView("graft_catalog_src")
        s.sql("DROP TABLE IF EXISTS graftcat.events_dm")
        s.sql("""CREATE TABLE graftcat.events_dm (
                   rowkey STRING, family STRING, qualifier STRING,
                   version BIGINT, value STRING) USING graftcell
                 TBLPROPERTIES ('tombstone' = '__DEL__',
                                'max_versions' = '2',
                                'family.hba.delete_markers' = 'hide-all-older')""")
        // ONE overwrite staging the whole version history (4 separate
        // INSERT commits would pay 4 write shuffles for fixture content
        // a single statement expresses)
        s.sql("""INSERT OVERWRITE graftcat.events_dm
                 SELECT rowkey, f.family, qualifier,
                        CAST(v.ver AS BIGINT) AS version,
                        CASE v.ver WHEN 1000 THEN value
                                   WHEN 2000 THEN value || '~'
                                   WHEN 3000 THEN '__DEL__'
                                   ELSE value || '+' END AS value
                 FROM graft_catalog_src
                 LATERAL VIEW explode(array('cur', 'hba')) f AS family
                 LATERAL VIEW explode(array(1000, 2000, 3000, 4000)) v AS ver
                 WHERE v.ver < 4000 OR rowkey >= '5'""")
        ()
      }
      s.sql("CALL graftcat.compact('events_dm')")
      s.sql("""SELECT * FROM graftcat.events_dm
               ORDER BY rowkey, family, qualifier, version""")
    }),

    "sql_cell_call_restore" -> ((s, dir) => {
      // HBase shell `restore_snapshot` as SQL (r16) — the verb users
      // reach for after a bad batch: pin the good generation
      // (CALL snapshot), append a corrupting batch, then
      // CALL restore_snapshot repoints the LIVE dir set to the pinned
      // manifest — one atomic publish (empty generation + retire
      // intent covering every post-snapshot file), so readers flip
      // from corrupted to restored in one rename and a crash
      // mid-cleanup is completed by CALL repair. Zero data copy at any
      // scale: restore is pure metadata + orphan deletion. The SELECT
      // afterwards must equal the pre-corruption cells — the oracle is
      // the plain rebuild. Re-staged each run (INSERT OVERWRITE).
      pristineEventsTable(s, dir, "events_rst")
      CellQueries.eventCells(s, dir)
        .createOrReplaceTempView("graft_catalog_src")
      s.sql("CALL graftcat.snapshot('events_rst', 'good')")
      s.sql("""INSERT INTO graftcat.events_rst
               SELECT rowkey, family, qualifier,
                      version + 1000000 AS version,
                      concat(value, '#CORRUPT') AS value
               FROM graft_catalog_src WHERE rowkey >= '7'""")
      s.sql("CALL graftcat.restore_snapshot('events_rst', 'good')")
      s.sql("""SELECT * FROM graftcat.events_rst
               ORDER BY rowkey, qualifier""")
    }),

    "sql_cell_snapshot_archive" -> ((s, dir) => {
      // SNAPSHOT ARCHIVE (r17 — the HBase archive dir, closing the
      // long-documented "no-archive-dir caveat"): a MAJOR COMPACTION
      // between the snapshot and the restore. In HBase, compaction
      // moves snapshot-referenced HFiles to the archive and a snapshot
      // survives any maintenance until explicitly dropped; here the
      // compaction's truncate-overwrite renames the pinned generations
      // under `_archive/` (metadata-only — one rename per dir, hard
      // links for partial retirement) and restore REVIVES them.
      // Sequence: pin 'keep' → corrupting append → compact (collapses
      // live to one generation; pre-compact dirs archived; 'keep'
      // reports ZERO missing) → restore 'keep' → the table reads the
      // pinned generation exactly. The oracle is the plain rebuild —
      // byte-identical to pre-corruption, pre-compaction content.
      pristineEventsTable(s, dir, "events_ar")
      CellQueries.eventCells(s, dir)
        .createOrReplaceTempView("graft_catalog_src")
      s.sql("CALL graftcat.snapshot('events_ar', 'keep')")
      s.sql("""INSERT INTO graftcat.events_ar
               SELECT rowkey, family, qualifier,
                      version + 1000000 AS version,
                      concat(value, '#CORRUPT') AS value
               FROM graft_catalog_src WHERE rowkey >= '7'""")
      s.sql("CALL graftcat.compact('events_ar')")
      // the compaction must NOT have invalidated the snapshot
      val ls = s.sql("CALL graftcat.list_snapshots('events_ar')")
        .collect().filter(_.getString(0) == "keep")
      assert(ls.length == 1 && ls(0).getLong(2) == 0L,
        s"snapshot must survive compaction via the archive: ${ls.toSeq}")
      s.sql("CALL graftcat.restore_snapshot('events_ar', 'keep')")
      s.sql("""SELECT * FROM graftcat.events_ar
               ORDER BY rowkey, qualifier""")
    }),

    "sql_cell_snapshot_mvcc" -> ((s, dir) => {
      // SNAPSHOT ISOLATION UNDER ROW-LEVEL DML (r18 — the MVCC
      // completion): before r18 a snapshot observed later
      // UPDATE/DELETE/MERGE (in-place rewrites kept the pinned file
      // names — the long-documented caveat). Now every DML rewrite
      // (ranged DELETE and group-replace alike) publishes its rows in
      // a fresh batch dir and ARCHIVES snapshot-pinned
      // originals, so (dir, name) is write-once and a snapshot reads
      // its creation-time content through DML exactly as it does
      // through a compaction — what every modern table format gives
      // and HBase's MVCC read point gives per-RPC. Sequence: stage →
      // snapshot 'iso' → ranged DELETE (deleteWhere path) + UPDATE
      // (group-replace path) → the snapshot read returns the BASE
      // cells exactly; the oracle is the plain rebuild. Metadata-only
      // at any scale: the isolation costs one hard link per retired
      // pinned file. Re-staged each run (INSERT OVERWRITE) so the key
      // is idempotent for the gate.
      pristineEventsTable(s, dir, "events_mvcc")
      CellQueries.eventCells(s, dir)
        .createOrReplaceTempView("graft_catalog_src")
      s.sql("CALL graftcat.snapshot('events_mvcc', 'iso')")
      s.sql("DELETE FROM graftcat.events_mvcc WHERE rowkey >= '9'")
      s.sql("""UPDATE graftcat.events_mvcc
               SET value = concat(value, '*')
               WHERE rowkey >= '2' AND rowkey < '3'""")
      s.sql("""SELECT * FROM graftcat.events_mvcc VERSION AS OF 'iso'
               ORDER BY rowkey, qualifier""")
    }),

    "sql_cell_family_compression" -> ((s, dir) => {
      // PER-FAMILY COMPRESSION descriptors (r18 — HBase's COMPRESSION
      // column-family knob, VERDICT r17 #7): `family.<f>.compression`
      // TBLPROPERTIES (plus a table-level `compression` default) select
      // the parquet codec of every region file holding that family's
      // cells. The writer routes rows to CODEC-KEYED sinks — each
      // emitted file is codec-pure, still cell-key-sorted (a
      // subsequence of the sorted input), and carries a `-z<CODEC>`
      // name tag (SNAPPY, the default, stays untagged) that travels
      // through manifests/snapshots/clone and keeps split/merge/DELETE
      // rewrites codec-faithful. The descriptor travels through
      // maintenance like the r17 family policies: CALL compact /
      // compact_minor / rebucket pass the codec properties to the
      // rewrite, so the compacted generation re-encodes per family.
      // The key: dual-family insert (d → ZSTD via the table default,
      // audit → GZIP override) → CALL compact → readback is
      // byte-identical to the rebuild (codecs change encoding, never
      // content — spec-pinned in the parquet footers). Re-staged each
      // run; idempotent for the gate.
      // r21: the dual-family codec store is the fixture — proto-copied;
      // the codec-faithful compaction (the verb) runs per invocation
      protoTables(s, dir, "events_zip", Seq("events_zip")) {
        CellQueries.eventCells(s, dir)
          .createOrReplaceTempView("graft_catalog_src")
        s.sql("DROP TABLE IF EXISTS graftcat.events_zip")
        s.sql("""CREATE TABLE graftcat.events_zip (
                   rowkey STRING, family STRING, qualifier STRING,
                   version BIGINT, value STRING) USING graftcell
                 TBLPROPERTIES('compression'='ZSTD',
                               'family.audit.compression'='GZIP')""")
        s.sql("""INSERT OVERWRITE graftcat.events_zip
                 SELECT * FROM graft_catalog_src
                 UNION ALL
                 SELECT rowkey, 'audit' AS family, qualifier, version, value
                 FROM graft_catalog_src""")
        ()
      }
      s.sql("CALL graftcat.compact('events_zip')")
      s.sql("""SELECT * FROM graftcat.events_zip
               ORDER BY rowkey, family, qualifier""")
    }),

    "sql_cell_call_list_snapshots" -> ((s, dir) => {
      // HBase shell `list_snapshots` as SQL (r16): one row per snapshot
      // manifest — name, pinned-dir count, and how many pinned dirs a
      // later compaction removed (missing > 0 = invalidated). A
      // multi-row procedure result (LocalScan), deterministic here by
      // construction: overwrite (1 dir) → snapshot s1 → append (2
      // dirs) → snapshot s2. Re-staged each run.
      pristineEventsTable(s, dir, "events_ls")
      CellQueries.eventCells(s, dir)
        .createOrReplaceTempView("graft_catalog_src")
      s.sql("CALL graftcat.snapshot('events_ls', 's1')")
      s.sql("""INSERT INTO graftcat.events_ls
               SELECT rowkey, family, qualifier,
                      version + 1000000 AS version,
                      concat(value, '~') AS value
               FROM graft_catalog_src WHERE rowkey >= '6' AND rowkey < '7'""")
      s.sql("CALL graftcat.snapshot('events_ls', 's2')")
      s.sql("CALL graftcat.list_snapshots('events_ls')")
    }),

    "join_cell_spj" -> ((s, dir) => {
      // STORAGE-PARTITIONED JOIN (r16): two cell tables created with
      // the same `buckets` descriptor cluster their writes on the
      // catalog's `bucket(8, rowkey)` V2 function, land bucket-pure
      // bucket-tagged region files, and their scans report
      // KeyGroupedPartitioning — so this join (AND the group-by on the
      // join key above it) plans with ZERO exchange on either side:
      // Spark aligns the two scans' bucket partitions task-by-task.
      // At 100 TB this is the fact-to-fact join shape (HBase salted
      // tables co-located by the same salt): the alternative shuffles
      // BOTH tables end to end — the single largest avoidable data
      // movement in the engine. Spec pins the exchange-free plan, the
      // compact/mismatch degrade paths, and bucket purity; the oracle
      // pins the results.
      stageSpjTables(s, dir)
      val spj = spjSession(s, dir) // scoped bucketing confs (r22)
      // MERGE hint: at toy SF the band side fits under the broadcast
      // threshold and Catalyst would (correctly) broadcast — the hint
      // pins the plan to the sort-merge shape the key exists to
      // evidence, which is what the planner picks unaided at the
      // fact-to-fact sizes this layout targets
      spj.sql("""SELECT /*+ MERGE(a) */ a.rowkey, count(*) AS n_pairs,
                      min(a.value) AS a_val, min(b.value) AS b_val
               FROM graftcat.events_bkt a
               JOIN graftcat.events_bkt_band b ON a.rowkey = b.rowkey
               GROUP BY a.rowkey
               ORDER BY a.rowkey""")
    }),

    "cell_connector_sample" -> ((s, dir) => {
      // TABLESAMPLE pushdown (r16) — the HBase RandomRowFilter: the
      // pushed sample drops non-members INSIDE the reader (at 100 TB a
      // 5% probe moves 5% of the bytes off the executors), and
      // membership is DETERMINISTIC ROW IDENTITY (md5 of
      // seed:rowkey:qualifier under fraction·10000), not a PRNG — the
      // same sample whatever the partitioning, file layout, or task
      // order, and exactly recomputable by the oracle. Spark removes
      // its own Sample node (complete push, spec-pinned along with the
      // refusal paths: replacement sampling, sample-under-agg).
      cells(s, dir)
        .sample(withReplacement = false, fraction = 0.05, seed = 42L)
        .select("rowkey", "family", "qualifier", "version", "value")
        .orderBy("rowkey", "family", "qualifier", "version")
    }),

    "sql_cell_script_batch" -> ((s, dir) => {
      // SQL SCRIPTING (Spark 4 `BEGIN ... END`) driving the cell
      // catalog — the operational "delete in batches" script every
      // HBase operator runs against a big table (one band-ranged
      // DELETE per iteration instead of one giant statement, so each
      // commit retires only that band's region files and the cluster
      // never holds a table-wide operation): DECLARE + WHILE + SET
      // with the loop variable folding into each DELETE's pushed
      // rowkey range (file pruning engages per iteration exactly as
      // with a literal predicate). The script's final SELECT returns
      // the table readback; the oracle rebuilds the same end state
      // relationally. Control-flow semantics (FOR over a query,
      // IF/LEAVE, variable scoping) are spec-pinned in SqlSurfaceSpec.
      // scripting parser flag scoped to a session clone (r22) — the
      // shared session's conf is never touched
      val sc = confScopedSession(s, dir,
        "spark.sql.scripting.enabled" -> "true")
      pristineEventsTable(s, dir, "events_script")
      sc.sql("""
        BEGIN
          DECLARE band INT DEFAULT 0;
          WHILE band < 5 DO
            DELETE FROM graftcat.events_script
            WHERE rowkey >= CAST(band AS STRING)
              AND rowkey < CAST(band + 1 AS STRING)
              AND qualifier = 'user_id';
            SET band = band + 1;
          END WHILE;
          SELECT rowkey, qualifier, version, value
          FROM graftcat.events_script
          WHERE rowkey < '2'
          ORDER BY rowkey, qualifier;
        END""")
    }),

    "join_cell_spj_oneside" -> ((s, dir) => {
      // ONE-SIDE storage-partitioned shuffle (r16): joining the
      // bucketed store to an UNBUCKETED source, Spark shuffles ONLY
      // that source INTO the store's reported key grouping — the
      // exchange is `keygroupedpartitioning(bucket(8, k))`, evaluating
      // the catalog's own V2 bucket function per row — and the store
      // side feeds the join with no exchange at all. At 100 TB this is
      // the fact-dim shape: shuffle the dim, never the fact. Spec pins
      // the plan (one key-grouped exchange on the dim side, zero on
      // the scan side); the oracle pins the rows.
      stageSpjTables(s, dir)
      val spj = spjSession(s, dir) // scoped bucketing confs (r22)
      graft.Tables.events(spj, dir)
        .select(col("event_id").cast("string").as("k"),
                col("event_type"))
        .createOrReplaceTempView("spj_dim")
      spj.sql("""SELECT /*+ MERGE(a) */ d.event_type,
                      count(*) AS n_cells, min(a.value) AS first_val
               FROM graftcat.events_bkt a
               JOIN spj_dim d ON a.rowkey = d.k
               GROUP BY d.event_type
               ORDER BY d.event_type""")
    }),

    "cell_connector_bucket_get" -> ((s, dir) => {
      // BUCKET-PRUNED point gets (r16) — HBase salted-scan semantics:
      // on a hash-bucketed store every region file spans nearly the
      // whole key range, so min/max stats prune NOTHING for a point
      // probe; the file-name bucket tag is the missing evidence. An
      // eq/IN rowkey probe (and OR-unions of them, and runtime DPP key
      // sets) now plans only the files whose tag equals a probed key's
      // bucket — at 100 TB a multiget touches k files out of n·dirs,
      // exactly like a salted HBase get touches one salt. Spec pins
      // regionFiles k/n on the plan; the oracle pins the rows.
      stageSpjTables(s, dir)
      spjSession(s, dir)
        .sql("""SELECT rowkey, family, qualifier, version, value
               FROM graftcat.events_bkt
               WHERE rowkey IN ('7', '42', '128', '999')
                  OR rowkey = '600'
               ORDER BY rowkey, qualifier, version""")
    }),

    "agg_cell_bucketed" -> ((s, dir) => {
      // BUCKETED AGGREGATION (r16): a GROUP BY on the bucket column of
      // one bucketed table — KeyGroupedPartitioning already satisfies
      // the aggregate's clustering requirement, so the plan is
      // scan → (local) sort → partial+final aggregate with ZERO
      // exchange: the pre-shuffled-on-write layout amortizes the
      // aggregation shuffle across every query that groups on rowkey.
      stageSpjTables(s, dir)
      spjSession(s, dir)
        .sql("""SELECT rowkey, count(*) AS n_cells,
                      min(qualifier) AS first_qual, max(value) AS max_val
               FROM graftcat.events_bkt
               GROUP BY rowkey
               ORDER BY rowkey""")
    }),

    "join_cell_broadcast" -> ((s, dir) => {
      // STATS-DRIVEN BROADCAST (r16): the scan reports POST-PRUNING
      // size/rows (SupportsReportStatistics from the manifest stats of
      // the surviving files), so a band probe over the store joins the
      // events table as a BROADCAST build side with no hint — at
      // 100 TB the difference between shuffling the fact table against
      // a one-region probe and shipping the probe to the fact. The
      // plan is pinned (PLANS.md + spec: a threshold between band size
      // and table size broadcasts the band, never the full scan).
      val c = cells(s, dir)
        .filter(col("rowkey") >= "6" && col("rowkey") < "7" &&
                col("qualifier") === "user_id")
        .select(col("rowkey"), col("value").as("uid"))
      val ev = graft.Tables.events(s, dir)
        .select(col("event_id").cast("string").as("eid"),
                col("event_type"))
      c.join(ev, col("rowkey") === col("eid"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
             min(col("uid")).as("first_uid"))
        .orderBy(col("event_type"))
    }),

    "sql_cell_ctas" -> ((s, dir) => {
      // CTAS through the graftcell catalog (r16): `CREATE TABLE ... AS
      // SELECT` materializes a query as a NEW cell table in one
      // statement — Spark's v2 CTAS drives the catalog's createTable
      // (cell schema enforced: a SELECT that is not cell-shaped is
      // refused before any write) and then the connector's declared
      // write distribution (range shuffle on rowkey), so the new
      // table is born with sorted, manifest-bearing region files
      // exactly like an INSERT-loaded one. DROP+CTAS per run keeps
      // the result deterministic. REPLACE TABLE AS SELECT works via
      // the same path (spec-pinned, incl. the cell-schema refusal).
      registerCatalog(s, dir)
      CellQueries.eventCells(s, dir)
        .createOrReplaceTempView("graft_catalog_src")
      s.sql("DROP TABLE IF EXISTS graftcat.events_ctas")
      s.sql("""CREATE TABLE graftcat.events_ctas USING graftcell AS
               SELECT * FROM graft_catalog_src
               WHERE rowkey >= '4' AND rowkey < '6'""")
      s.sql("""SELECT * FROM graftcat.events_ctas
               ORDER BY rowkey, qualifier""")
    }),

    "sql_cell_meta_files" -> ((s, dir) => {
      // METADATA TABLE `t.files` (r16): one row per live region file,
      // served from the persisted manifests — planned as one partition
      // per committed dir, parsed executor-side (GraftCellMetaTables).
      // The key AGGREGATES the file rows to the store's data-derived
      // totals, so the answer is independent of how many files each
      // generation happened to roll (3-vs-7-partition legs lay out
      // different file sets, same totals) and the oracle can recompute
      // it from the raw cells: the files table is exact iff its
      // per-file stats sum/fold to the true corpus stats.
      stageMetaTable(s, dir)
      s.sql("""SELECT count(DISTINCT batch_dir) AS n_dirs,
                      sum(n_rows) AS n_rows,
                      sum(null_keys) AS n_null_keys,
                      min(min_key) AS min_rowkey,
                      max(max_key) AS max_rowkey,
                      min(min_version) AS min_version,
                      max(max_version) AS max_version,
                      min(min_family) AS min_family,
                      max(max_family) AS max_family,
                      min(min_qualifier) AS min_qualifier,
                      max(max_qualifier) AS max_qualifier
               FROM graftcat.events_meta.files""")
    }),

    "sql_cell_meta_snapshots" -> ((s, dir) => {
      // METADATA TABLE `t.snapshots` (r16): list_snapshots plus what
      // each pinned generation READS (row total, min/max rowkey from
      // the pinned manifests, retire intents subtracted — VERSION AS
      // OF semantics). Layout-independent columns only: s1 pins the
      // overwrite generation, s2 overwrite + append, so the row totals
      // are the statement row counts whatever the file layout.
      stageMetaTable(s, dir)
      s.sql("""SELECT name, n_rows, min_key, max_key
               FROM graftcat.events_meta.snapshots
               ORDER BY name""")
    }),

    "sql_cell_meta_history" -> ((s, dir) => {
      // METADATA TABLE `t.history` (r16): the commit log — one row per
      // generation in monotonic commit-stamp order with the running
      // row total (what TIMESTAMP AS OF up to that commit returns).
      // The key reads the layout-independent columns: generation
      // ordinals and row counts are fixed by the two INSERT statements
      // regardless of parallelism; dir names and commit stamps are not.
      stageMetaTable(s, dir)
      s.sql("""SELECT generation, n_rows, cumulative_rows
               FROM graftcat.events_meta.history
               ORDER BY generation""")
    }),

    "sql_cell_meta_travel_log" -> ((s, dir) => {
      // METADATA TABLE `t.travel_log` (r18): the structural-history
      // events `TIMESTAMP AS OF` replays, from plain SQL — the
      // operator's "what would a travel into this window need"
      // inspection (which generations retired when, superseded by
      // what, revived by which restore). HERMETIC fixture (DROP +
      // CREATE wipes the log): overwrite era 1 → snapshot 'keep' →
      // append era 2 → compact_minor merges both (2 retire events:
      // era 1 archived via the pin, era 2 deleted) → restore 'keep'
      // (1 retire of the merged orphan + 1 revive of era 1). The key
      // reads the layout-independent projection: event kinds and
      // per-kind counts are fixed by the statement sequence whatever
      // the parallelism; dirs, stamps, and file counts are not.
      // r21: the whole structural-history construction is the fixture —
      // proto-copied (the travel log it leaves behind is exactly what
      // the metadata read below replays); the readback runs per run
      protoTables(s, dir, "events_tlog", Seq("events_tlog")) {
        CellQueries.eventCells(s, dir)
          .createOrReplaceTempView("graft_catalog_src")
        s.sql("DROP TABLE IF EXISTS graftcat.events_tlog")
        s.sql("""CREATE TABLE graftcat.events_tlog (
                   rowkey STRING, family STRING, qualifier STRING,
                   version BIGINT, value STRING) USING graftcell""")
        s.sql("INSERT OVERWRITE graftcat.events_tlog SELECT * FROM graft_catalog_src")
        s.sql("CALL graftcat.snapshot('events_tlog', 'keep')")
        s.sql("""INSERT INTO graftcat.events_tlog
                 SELECT rowkey, family, qualifier,
                        version + 1000000 AS version, value
                 FROM graft_catalog_src WHERE rowkey >= '6' AND rowkey < '7'""")
        s.sql(s"CALL graftcat.compact_minor('events_tlog', ${Long.MaxValue}L)")
        s.sql("CALL graftcat.restore_snapshot('events_tlog', 'keep')")
        ()
      }
      s.sql("""SELECT event, CAST(count(*) AS BIGINT) AS n_events
               FROM graftcat.events_tlog.travel_log
               GROUP BY event ORDER BY event""")
    }),

    "sql_cell_connector" -> ((s, dir) => {
      // The SQL surface over the connector: the store registered as a
      // (session-scoped) SQL table via `CREATE TEMPORARY VIEW ... USING
      // graftcell`, probed with plain SQL — predicate pushdown, region
      // pruning, and column projection all engage from SQL text exactly
      // as from the DataFrame API (same ScanBuilder underneath).
      val path = stage(s, dir)
      s.sql(s"""CREATE OR REPLACE TEMPORARY VIEW graft_cell_table
                USING graftcell OPTIONS (path '$path')""")
      s.sql("""SELECT rowkey, qualifier, value FROM graft_cell_table
               WHERE rowkey >= '60' AND rowkey < '70'
               ORDER BY rowkey, qualifier""")
    }),

    "cell_connector_incremental" -> ((s, dir) => {
      // INCREMENTAL read — HBase incremental backup / Iceberg
      // incremental consumption: `option("sinceSnapshot", name)` plans
      // ONLY the generations committed AFTER the named snapshot (live
      // dirs MINUS the snapshot's pinned dirs), so a periodic consumer
      // ("ship me what's new since my last checkpoint") reads O(delta),
      // never O(store) — at 100 TB the difference between re-scanning
      // the table each sync and touching last night's batches. A
      // metadata operation on the same write-once dir log snapshots
      // pin; filter pushdown / projection / region pruning compose
      // unchanged (the delta still footer-prunes). Staged: band 1 →
      // snapshot inc1 → band 2 → snapshot inc2 → band 3; reading since
      // inc1 returns exactly bands 2+3 (rowkey >= '3').
      val path = stageInc(s, dir)
      s.read.format("graftcell").option("sinceSnapshot", "inc1").load(path)
        .filter(col("qualifier").isin("event_type", "value"))
        .select("rowkey", "qualifier", "value")
        .orderBy("rowkey", "qualifier")
    }),

    "cell_connector_incremental_between" -> ((s, dir) => {
      // CHANGES BETWEEN two snapshots: `snapshot` pins the upper bound,
      // `sinceSnapshot` subtracts the lower — dirs(inc2) − dirs(inc1) =
      // exactly the generation committed between them (band 2 here).
      // Both bounds are NAMED manifests, so the window is REPRODUCIBLE:
      // two consumers (or one consumer retrying after a crash) reading
      // the same [inc1, inc2) window get byte-identical increments no
      // matter what has committed since — the checkpointable unit an
      // incremental ETL contract needs, vs "since" alone which moves
      // with the live log.
      val path = stageInc(s, dir)
      s.read.format("graftcell")
        .option("snapshot", "inc2").option("sinceSnapshot", "inc1")
        .load(path)
        .orderBy("rowkey", "qualifier")
    }),

    "sql_cell_call_export" -> ((s, dir) => {
      // HBase `ExportSnapshot` as SQL (r16): byte-copy a pinned
      // generation to an EXTERNAL path — the backup verb for where
      // clone's hard links can't reach (another filesystem/cluster) —
      // as one Spark task per region file (cluster bandwidth, not the
      // driver's), landing a standalone, immediately-readable
      // graftcell store: per-dir manifests travel verbatim, so the
      // backup plans from metadata exactly like the source. The live
      // table is corrupted AFTER the snapshot; the readback probes the
      // EXPORT, which must carry the pinned generation only. Re-staged
      // each run (the previous export is wiped first — `_SUCCESS` is
      // the completed-export marker the procedure refuses to
      // overwrite).
      pristineEventsTable(s, dir, "events_exp")
      CellQueries.eventCells(s, dir)
        .createOrReplaceTempView("graft_catalog_src")
      s.sql("CALL graftcat.snapshot('events_exp', 'bak')")
      s.sql("""INSERT INTO graftcat.events_exp
               SELECT rowkey, family, qualifier,
                      version + 1000000 AS version,
                      concat(value, '#JUNK') AS value
               FROM graft_catalog_src WHERE rowkey >= '6'""")
      val dest = tmpPath("export", dir)
      FileUtils.deleteQuietly(new java.io.File(dest))
      graft.sources.cell.CellFooterCache.invalidate(dest)
      s.sql(s"CALL graftcat.export_snapshot('events_exp', 'bak', '$dest')")
      s.read.format("graftcell").load(dest)
        .orderBy("rowkey", "qualifier")
    }),

    "sql_cell_call_export_inc" -> ((s, dir) => {
      // INCREMENTAL backup (r16): `CALL export_snapshot(t, s2, dest,
      // s1)` exports only the WINDOW dirs(s2) − dirs(s1) — the
      // generations committed between two named snapshots — so the
      // nightly backup ships last night's batches, not the table
      // (same O(delta)-vs-O(store) math as the incremental read, at
      // the backup volume). The window is reproducible (named
      // manifests on both ends) and each incremental lands as a
      // standalone readable store of exactly its window: the readback
      // here probes the export and must contain generation 2 ONLY —
      // not the base (before s1), not the junk committed after s2.
      pristineEventsTable(s, dir, "events_expi")
      CellQueries.eventCells(s, dir)
        .createOrReplaceTempView("graft_catalog_src")
      s.sql("CALL graftcat.snapshot('events_expi', 'b1')")
      s.sql("""INSERT INTO graftcat.events_expi
               SELECT rowkey, family, qualifier,
                      version + 1000000 AS version,
                      concat(value, '~') AS value
               FROM graft_catalog_src WHERE rowkey >= '6'""")
      s.sql("CALL graftcat.snapshot('events_expi', 'b2')")
      s.sql("""INSERT INTO graftcat.events_expi
               SELECT rowkey, family, qualifier,
                      version + 2000000 AS version,
                      concat(value, '#JUNK') AS value
               FROM graft_catalog_src WHERE rowkey < '2'""")
      val dest = tmpPath("exportinc", dir)
      FileUtils.deleteQuietly(new java.io.File(dest))
      graft.sources.cell.CellFooterCache.invalidate(dest)
      s.sql(s"CALL graftcat.export_snapshot('events_expi', 'b2', '$dest', 'b1')")
      s.read.format("graftcell").load(dest)
        .orderBy("rowkey", "qualifier")
    }),

    "sql_cell_call_bulkload" -> ((s, dir) => {
      // HBase `completebulkload` / LoadIncrementalHFiles (r16): ADOPT
      // a completed external graftcell store into a live table — the
      // missing half of the backup story (export on cluster A,
      // bulkload on cluster B). One new generation per source dir,
      // distributed byte-copy (one task per region file), manifest
      // STATS TRAVELING so the adopted files plan without a footer
      // open; the source stays read-only (it may be a backup volume).
      // Fixture: the '6'+ band is prepared in a staging table,
      // snapshotted, exported; the live table holds the '<6' base;
      // bulkload adopts the export — the readback must be the WHOLE
      // cell set, half inserted, half adopted. Re-staged per run
      // (INSERT OVERWRITE resets both tables; the export dest is
      // wiped first).
      // r21: the source table + its shipped snapshot + the receiving
      // table are the fixture — proto-copied; the export (re-shipping
      // the backup) and the bulkload adoption (the verb) run per
      // invocation against the restored pristine pair
      protoTables(s, dir, "bl_fixture", Seq("events_bl", "events_bl2")) {
        CellQueries.eventCells(s, dir)
          .createOrReplaceTempView("graft_catalog_src")
        s.sql("DROP TABLE IF EXISTS graftcat.events_bl")
        s.sql("DROP TABLE IF EXISTS graftcat.events_bl2")
        s.sql("""CREATE TABLE graftcat.events_bl (
                   rowkey STRING, family STRING, qualifier STRING,
                   version BIGINT, value STRING) USING graftcell""")
        s.sql("""INSERT OVERWRITE graftcat.events_bl
                 SELECT * FROM graft_catalog_src WHERE rowkey >= '6'""")
        s.sql("CALL graftcat.snapshot('events_bl', 'ship')")
        s.sql("""CREATE TABLE graftcat.events_bl2 (
                   rowkey STRING, family STRING, qualifier STRING,
                   version BIGINT, value STRING) USING graftcell""")
        s.sql("""INSERT OVERWRITE graftcat.events_bl2
                 SELECT * FROM graft_catalog_src WHERE rowkey < '6'""")
        ()
      }
      val dest = tmpPath("bulkload", dir)
      FileUtils.deleteQuietly(new java.io.File(dest))
      graft.sources.cell.CellFooterCache.invalidate(dest)
      s.sql(s"CALL graftcat.export_snapshot('events_bl', 'ship', '$dest')")
      s.sql(s"CALL graftcat.bulkload('events_bl2', '$dest')")
      s.sql("SELECT * FROM graftcat.events_bl2")
        .orderBy("rowkey", "qualifier")
    }),

    "sql_cell_call_hbck" -> ((s, dir) => {
      // HBase `hbck` (r16; archive-aware r17): the REPORT-ONLY
      // consistency check — pure driver-side metadata (zero data bytes
      // at any store size). The fixture CONSTRUCTS one instance of
      // each anomaly class on the table's store and pins the exact
      // counts: a manifest-listed region file deleted from disk
      // (missing=1); a disk parquet no manifest lists (orphan=1 —
      // invisible to reads, the manifest is authoritative); a snapshot
      // whose pin is in NEITHER live nor archive (invalid=1 — since
      // r17 compaction ARCHIVES pinned generations, so 'hpin' below
      // stays VALID and only the explicitly-dead pin counts); a stale
      // `_tmp_*` dir from a crashed maintenance op (stale=1); an
      // archived file no snapshot pins (unreferenced=1 — the class
      // vacuum's archive sweep reclaims); and (r18) one LOST TRAVEL
      // WINDOW — the unpinned era-2 generation the compaction
      // destroyed, whose window a TIMESTAMP AS OF would refuse
      // (lost_travel_windows=1: the admin verb reports lost history
      // before anyone pays a refused query). Healthy dimensions stay
      // zero (pending intents). Every count is layout-independent —
      // deterministic under any shuffle-partition count.
      // r21: the constructed anomaly set is the fixture — proto-copied
      // (DROP-first stage keeps counts hermetic, now by byte-identical
      // restore); CALL hbck (the report-only verb) runs per invocation
      protoTables(s, dir, "events_hb", Seq("events_hb")) {
        CellQueries.eventCells(s, dir)
          .createOrReplaceTempView("graft_catalog_src")
        s.sql("DROP TABLE IF EXISTS graftcat.events_hb")
        s.sql("""CREATE TABLE graftcat.events_hb (
                   rowkey STRING, family STRING, qualifier STRING,
                   version BIGINT, value STRING) USING graftcell""")
        s.sql("INSERT OVERWRITE graftcat.events_hb SELECT * FROM graft_catalog_src")
        s.sql("CALL graftcat.snapshot('events_hb', 'hpin')")
        s.sql("""INSERT INTO graftcat.events_hb
                 SELECT rowkey, family, qualifier,
                        version + 1000000 AS version, value
                 FROM graft_catalog_src WHERE rowkey >= '6'""")
        // compaction collapses to ONE live generation; 'hpin''s pinned
        // generations move to _archive/ and the snapshot STAYS VALID
        s.sql("CALL graftcat.compact('events_hb')")
        val store = warehouse(dir) + "/events_hb"
        val d = graft.sources.cell.CellFooterCache.committedDirs(store)
        assert(d.size == 1, s"expected one compacted dir, got $d")
        val dirFile = new java.io.File(store, d.head)
        // missing: delete the lexicographically-first manifest-listed file
        val listed = graft.sources.cell.CellManifest.read(dirFile).get.files
          .map(m => new java.io.File(m.path).getName).sorted
        new java.io.File(dirFile, listed.head).delete()
        // orphan: a disk parquet the manifest does not list
        java.nio.file.Files.write(
          new java.io.File(dirFile, "zz_orphan.parquet").toPath,
          Array.emptyByteArray)
        // invalid: a pin resolving neither live nor archived, planted
        // as a legacy v1 manifest (a JSON array of pinned dir names)
        java.nio.file.Files.write(
          new java.io.File(store, "_snapshot_gone.json").toPath,
          """["batch_nonexistent"]""".getBytes("UTF-8"))
        // unreferenced archived: a file in the archive nothing pins
        val deadArch = new java.io.File(store, "_archive/batch_dead")
        deadArch.mkdirs()
        java.nio.file.Files.write(
          new java.io.File(deadArch, "dead.parquet").toPath,
          Array.emptyByteArray)
        // stale tmp: a crashed maintenance op's leavings
        new java.io.File(store, "_tmp_hbck_crash").mkdirs()
        graft.sources.cell.CellFooterCache.invalidate(store)
        ()
      }
      s.sql("CALL graftcat.hbck('events_hb')")
    }),

    "sql_cell_upgrade_manifests" -> ((s, dir) => {
      // LEGACY → MANIFESTED upgrade (r19 — VERDICT r18 #2, retiring
      // the legacy-dir caveat class): the fixture stages a
      // MANIFEST-LESS layout exactly like a pre-manifest ingest (plain
      // parquet `region=k` dirs written behind the catalog's back),
      // proves hbck counts it (`legacy_dirs` > 0), then
      // CALL upgrade_manifests derives exact per-file manifests from
      // the parquet footers EXECUTOR-side — stamped at each dir's
      // mtime (the value commitStampOf already reported, so no travel
      // window shifts) and published atomically. From that point the
      // store is manifest-complete: the snapshot taken next reads its
      // creation-time content THROUGH the ranged DELETE (MVCC, which
      // legacy dirs now get as well), and the live view reads the
      // post-DELETE band. At 100 TB the upgrade is one footer-read
      // task per file, zero data rows moved, run once per store ever.
      // r21: the manifest-less legacy layout is the fixture —
      // proto-copied (the verb's DELETE mutates the store, so each
      // invocation restores the pristine legacy state by file copy);
      // the upgrade + MVCC protocol below runs per invocation
      val src = CellQueries.eventCells(s, dir)
      val store = warehouse(dir) + "/events_upg"
      protoTables(s, dir, "events_upg", Seq("events_upg")) {
        s.sql("DROP TABLE IF EXISTS graftcat.events_upg")
        s.sql("""CREATE TABLE graftcat.events_upg (
                   rowkey STRING, family STRING, qualifier STRING,
                   version BIGINT, value STRING) USING graftcell""")
        src.withColumn("region", substring(col("rowkey"), 1, 1))
          .repartition(col("region"))
          .sortWithinPartitions("region", "rowkey", "family", "qualifier")
          .write.mode("append").partitionBy("region").parquet(store)
        graft.sources.cell.CellFooterCache.invalidate(store)
        ()
      }
      val before = s.sql("CALL graftcat.hbck('events_upg')").collect()(0)
      assert(before.getAs[Long]("legacy_dirs") > 0,
        s"fixture must start manifest-less: $before")
      s.sql("CALL graftcat.upgrade_manifests('events_upg')")
      val after = s.sql("CALL graftcat.hbck('events_upg')").collect()(0)
      assert(after.getAs[Long]("legacy_dirs") == 0L,
        s"upgrade must retire every legacy dir: $after")
      // idempotent: a second run upgrades nothing
      val again = s.sql("CALL graftcat.upgrade_manifests('events_upg')")
        .collect()(0)
      assert(again.getAs[Long]("dirs_upgraded") == 0L, again.toString)
      // the retired caveat, demonstrated: snapshot isolation through
      // row-level DML now holds on the (formerly legacy) store
      s.sql("CALL graftcat.snapshot('events_upg', 'upre')")
      val total = src.count()
      s.sql("DELETE FROM graftcat.events_upg WHERE rowkey >= '7'")
      val iso = s.sql(
        "SELECT * FROM graftcat.events_upg VERSION AS OF 'upre'").count()
      assert(iso == total,
        s"upgraded store must give MVCC isolation: $iso != $total")
      s.sql("""SELECT rowkey, family, qualifier, version, value
               FROM graftcat.events_upg
               ORDER BY rowkey, qualifier""")
    }),

    "sql_cell_call_build_index" -> ((s, dir) => {
      // GLOBAL SECONDARY INDEX bulk build (r19 — the Phoenix
      // `CREATE INDEX ... ASYNC` + IndexTool shape): `CALL build_index`
      // materializes a VALUE-addressable twin of the base table's
      // (d, user_id) column as its own catalog cell table — index
      // rowkey = value ++ 0x00 ++ base rowkey (Phoenix's variable-
      // length separator: value-prefix scans seek the index exactly
      // like rowkey scans seek the base), value = the base rowkey (a
      // covered back-pointer). One distributed pass through the
      // connector (filter pushed, truncate-commit through the declared
      // sorted HFile layout), so the index is born with the same
      // per-file [min,max] stats and blooms as every region file —
      // probe pruning IS the ordinary machinery. The provenance
      // descriptor persists in TBLPROPERTIES and a rebuild with
      // different (family, qualifier) REFUSES (spec-pinned): an index
      // can never be silently repurposed. Readback = the whole index
      // table, oracle-rebuilt in DuckDB. r21: the base table stages
      // once (read-only input), but the BUILD — this key's verb —
      // still executes per invocation as a matching REBUILD (a full
      // overwrite landing on the same rows, spec-pinned idempotent),
      // so the bench keeps timing the build's distributed pass.
      stageGiTable(s, dir)
      val rb = s.sql(
        "CALL graftcat.build_index('events_gi', 'uid', 'd', 'user_id')")
        .collect()(0)
      assert(rb.getString(0) == "events_gi_idx_uid" && rb.getLong(1) > 0L,
        s"index rebuild must report its table and a positive cell count: $rb")
      s.sql("""SELECT * FROM graftcat.events_gi_idx_uid
               ORDER BY rowkey, version""")
    }),

    "cell_index_probe" -> ((s0, dir) => {
      // INDEX-ASSISTED point probe (r19): "all cells of the entities
      // whose (d, value) column equals k" — unanswerable by rowkey
      // math on the base
      // table (the predicate is on a VALUE), so without the index it
      // is a full scan + row filter. With it: (1) a value-prefix seek
      // on the index (ordinary rowkey file pruning — the index IS
      // rowkey-ordered by value), (2) the covered back-pointers flow
      // into the base scan as a BROADCAST SEMI-JOIN whose build side
      // delivers the key set as a RUNTIME filter
      // (SupportsRuntimeFiltering — the DppProbeSpec machinery, the
      // same shape IndexRoute's fallback plans). r21 (VERDICT r20
      // "what's wrong" #1): this replaces the r19 driver-side
      // collect + isin — at 100 TB a hot value is millions of keys
      // and the old shape was a driver OOM; now no back-pointer ever
      // passes through the driver at ANY probe cardinality. Inline
      // pins: the index seek prunes index region files (plan-time),
      // and the executed probe plan carries the injected
      // dynamicpruningexpression on rowkey (the runtime prune).
      // Oracle: the direct semi-join on the rebuild — the index must
      // change the PLAN, never the answer.
      stageGiTable(s0, dir)
      def planned(df: org.apache.spark.sql.DataFrame): (Int, Int) = {
        val m = "regionFiles: (\\d+)/(\\d+)".r
          .findFirstMatchIn(df.queryExecution.executedPlan.toString).get
        (m.group(1).toInt, m.group(2).toInt)
      }
      // the DPP benefit heuristic is sized for TB-scale scans; at
      // fixture scale it must be told pruning pays (DppProbeSpec's
      // note — at production scale the scan's own post-pruning
      // reported statistics make the case and the defaults stand).
      // r22 (VERDICT r21 "what's wrong" #2): the two overrides live on
      // a PRIVATE session clone, so this key's plan (and any replan at
      // sink time) still carries the runtime filter while the shared
      // session — and every key that runs after this one — keeps
      // planning under default DPP settings.
      val s = confScopedSession(s0, dir,
        "spark.sql.optimizer.dynamicPartitionPruning.useStats" -> "false",
        "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio"
          -> "100.0")
      // probe the smallest indexed value (deterministic; as the
      // index's FIRST prefix it provably lives in the first region
      // file, so the seek's prune is layout-independent)
      val probeVal = s.sql(
        """SELECT min(value) FROM graftcat.events_gi
           WHERE family = 'd' AND qualifier = 'value'""")
        .collect()(0).getString(0)
      val idxScan = s.table("graftcat.events_gi_idx_val")
        .filter(col("rowkey").startsWith(probeVal + " "))
        .select(col("value"))
      val (ik, in) = planned(idxScan)
      assert(in == 1 || (ik > 0 && ik < in),
        s"index prefix seek must prune the index store: $ik/$in")
      // the prefix predicate pushes WHOLLY into the index scan, which
      // leaves the build side with no logical Filter for the DPP
      // selectivity check to see — retain a tautological comparison
      // (length >= 0 over already-non-null back-pointers; zero rows
      // change) so Spark's PartitionPruning rule recognizes the build
      // side as filtered and injects the runtime rowkey filter
      val keys = idxScan.select(col("value").as("__rk"))
        .filter(length(col("__rk")) >= 0)
      val probe = s.table("graftcat.events_gi")
        .join(broadcast(keys), col("rowkey") === col("__rk"), "left_semi")
      val exec = probe.queryExecution.executedPlan.toString
      assert(exec.contains("dynamicpruningexpression(rowkey"),
        s"the back-pointer set must reach the base scan as a runtime " +
        s"filter (never a driver collect):\n$exec")
      probe.orderBy("rowkey", "qualifier")
    }),

    "sql_cell_call_sync_index" -> ((s, dir) => {
      // INCREMENTAL index maintenance (r19 — the build_index lifecycle
      // completed): build pins a SYNC SNAPSHOT of the base view it
      // indexed; after new base appends, `CALL sync_index(t, name)`
      // appends exactly the since-snapshot delta's index cells
      // (O(delta) — the generations committed after the boundary,
      // never the store) and advances the boundary. Provenance comes
      // from the index's own descriptor — the two-argument call is
      // sound because build_index persisted (family, qualifier).
      // Inline pins: the delta sync counts exactly the new band's
      // indexed cells; an immediate second sync is a no-op (0 cells,
      // 0 generations). The refusal side (structural rewrite since the
      // snapshot ⇒ rebuild required) is spec-pinned — it mutates the
      // fixture. Own base table (events_si): key isolation, any
      // execution order. Oracle: the index mapping over base ∪ delta.
      // r21: the whole PRE-SYNC state (base + built index + the
      // appended delta band) is the fixture — proto-copied, so the
      // sync verbs below execute per invocation against the exact
      // staged state without re-paying the staging writes.
      protoTables(s, dir, "si_fixture",
                  Seq("events_si", "events_si_idx_uid")) {
        CellQueries.eventCells(s, dir)
          .createOrReplaceTempView("graft_catalog_src")
        s.sql("DROP TABLE IF EXISTS graftcat.events_si_idx_uid")
        s.sql("DROP TABLE IF EXISTS graftcat.events_si")
        s.sql("""CREATE TABLE graftcat.events_si (
                   rowkey STRING, family STRING, qualifier STRING,
                   version BIGINT, value STRING) USING graftcell""")
        s.sql("INSERT OVERWRITE graftcat.events_si SELECT * FROM graft_catalog_src")
        s.sql("CALL graftcat.build_index('events_si', 'uid', 'd', 'user_id')")
          .collect()
        // new base history: one appended generation ('8' band, shifted)
        s.sql("""INSERT INTO graftcat.events_si
                 SELECT rowkey, family, qualifier,
                        version + 3000000 AS version,
                        concat(value, '#') AS value
                 FROM graft_catalog_src WHERE rowkey >= '8' AND rowkey < '9'""")
        ()
      }
      val r = s.sql("CALL graftcat.sync_index('events_si', 'uid')")
        .collect()(0)
      assert(r.getString(0) == "events_si_idx_uid" &&
             r.getLong(1) > 0L && r.getLong(2) == 1L,
        s"sync must append the one delta generation's cells: $r")
      val again = s.sql("CALL graftcat.sync_index('events_si', 'uid')")
        .collect()(0)
      assert(again.getLong(1) == 0L && again.getLong(2) == 0L,
        s"an immediate second sync must be a no-op: $again")
      s.sql("""SELECT * FROM graftcat.events_si_idx_uid
               ORDER BY rowkey, version""")
    }),

    "sql_cell_call_sync_index_compacted" -> ((s, dir) => {
      // INDEX SURVIVAL ACROSS COMPACTION (r20 — r19's verdict gap #2):
      // compaction is content-preserving by the engine's own specs,
      // yet r19's dir-granular sync REFUSED after one and forced a
      // full rebuild. Now the sync detects the rewritten history and
      // takes the CONTENT-LEVEL delta: anti-joins of the boundary's
      // pinned view (readable through the archive — the boundary pin
      // is exactly why compaction archives those files) against the
      // live view on the full cell identity. Inline pins: (1) the
      // post-compaction sync SUCCEEDS in mode 'content' and appends
      // exactly the appended band's indexed cells with zero deletes
      // (pure compaction removes nothing), (2) an immediate second
      // sync is a dir-granular no-op (the promoted boundary pins the
      // post-compaction view — the store is append-only again).
      // Oracle: the index mapping over base ∪ delta — a sync across a
      // compaction must land exactly where a full rebuild would.
      // r21: the whole PRE-SYNC state (two generations + built index +
      // compaction + post-rewrite band) is the fixture — proto-copied;
      // the content-mode sync verbs below execute per invocation.
      protoTables(s, dir, "sc_fixture",
                  Seq("events_sc", "events_sc_idx_uid")) {
        CellQueries.eventCells(s, dir)
          .createOrReplaceTempView("graft_catalog_src")
        s.sql("DROP TABLE IF EXISTS graftcat.events_sc_idx_uid")
        s.sql("DROP TABLE IF EXISTS graftcat.events_sc")
        s.sql("""CREATE TABLE graftcat.events_sc (
                   rowkey STRING, family STRING, qualifier STRING,
                   version BIGINT, value STRING) USING graftcell""")
        s.sql("INSERT OVERWRITE graftcat.events_sc SELECT * FROM graft_catalog_src")
        // two generations so the compaction has something to merge
        s.sql("""INSERT INTO graftcat.events_sc
                 SELECT rowkey, family, qualifier,
                        version + 2000000 AS version,
                        concat(value, '+') AS value
                 FROM graft_catalog_src WHERE rowkey >= '5' AND rowkey < '6'""")
        s.sql("CALL graftcat.build_index('events_sc', 'uid', 'd', 'user_id')")
          .collect()
        // the structural rewrite: merge ALL live generations. Explicit
        // max_versions keeps every version (plain CALL compact(t)
        // resolves to the newest — that GC flavor is the spec's case:
        // the content sync then also DELETES the shadowed entries)
        s.sql("CALL graftcat.compact('events_sc', -1L, NULL, 1000000L)")
          .collect()
        // new history AFTER the rewrite
        s.sql("""INSERT INTO graftcat.events_sc
                 SELECT rowkey, family, qualifier,
                        version + 4000000 AS version,
                        concat(value, '@') AS value
                 FROM graft_catalog_src WHERE rowkey >= '7' AND rowkey < '8'""")
        ()
      }
      val r = s.sql("CALL graftcat.sync_index('events_sc', 'uid')")
        .collect()(0)
      assert(r.getString(0) == "events_sc_idx_uid" && r.getLong(1) > 0L &&
             r.getLong(3) == 0L && r.getString(4) == "content",
        s"post-compaction sync must take the content path and append " +
        s"the delta band's cells with zero deletes: $r")
      val again = s.sql("CALL graftcat.sync_index('events_sc', 'uid')")
        .collect()(0)
      assert(again.getLong(1) == 0L && again.getString(4) == "delta",
        s"the promoted boundary must make the second sync a " +
        s"dir-granular no-op: $again")
      s.sql("""SELECT * FROM graftcat.events_sc_idx_uid
               ORDER BY rowkey, version""")
    }),

    "cell_index_composite" -> ((s, dir) => {
      // COMPOSITE / COVERING index (r20 — Phoenix `CREATE INDEX ON
      // t(user_id, event_type) INCLUDE (value)`): the cell model
      // stores an entity's columns as separate cells, so the build
      // first resolves each entity's ROW IMAGE (latest version per
      // (rowkey, qualifier), max-value tie-break — total and
      // engine-portable), then emits per entity one SEEK cell
      // (rowkey = u ++ 0x00 ++ e ++ 0x00 ++ base_rk, value = the
      // back-pointer) and one COVERED cell per non-null include
      // column — a two-predicate probe is ONE prefix seek and a
      // covered query never touches the base. Inline pins: (1) the
      // two-predicate seek prunes the index store's region files,
      // (2) the covered probe's (back-pointer, value) pairs equal the
      // direct base computation — index only, zero base files.
      // Maintenance is rebuild-only (sync refuses composites —
      // spec-pinned). Oracle: the full row-image pivot rebuilt in SQL.
      // r21: the BASE table (read-only input) stages once behind a
      // marker; the composite BUILD — the key's verb — still executes
      // per invocation (a matching rebuild is a full overwrite landing
      // on the same rows, spec-pinned idempotent), as do both probes.
      registerCatalog(s, dir)
      val ciMarker = new java.io.File(warehouse(dir), "_CI_STAGED")
      if (!markerUpToDate(ciMarker, srcFp(dir))) {
        CellQueries.eventCells(s, dir)
          .createOrReplaceTempView("graft_ci_src")
        s.sql("DROP TABLE IF EXISTS graftcat.events_ci_idx_uev")
        s.sql("DROP TABLE IF EXISTS graftcat.events_ci")
        s.sql("""CREATE TABLE graftcat.events_ci (
                   rowkey STRING, family STRING, qualifier STRING,
                   version BIGINT, value STRING) USING graftcell""")
        s.sql("INSERT OVERWRITE graftcat.events_ci SELECT * FROM graft_ci_src")
        stampMarker(ciMarker, srcFp(dir))
      }
      // maxRowsPerFile 4000 (r21; was 400): the bound exists so the
      // two-predicate seek provably prunes region files, which needs
      // files > 1 at the gate SFs — it does NOT need 500+ files at
      // sf0.1, where the per-invocation build paid one parquet writer +
      // footer read per 400 rows (layout only; the indexed CONTENT and
      // every assert are file-count-independent)
      val r = s.sql(
        """CALL graftcat.build_index('events_ci', 'uev', 'd',
                                     'user_id,event_type', 4000L, 'value')""")
        .collect()(0)
      assert(r.getString(0) == "events_ci_idx_uev" && r.getLong(1) > 0L,
        s"composite build must report its table and cell count: $r")
      // deterministic probe: the smallest (user_id, event_type) image
      val p = s.sql(
        """SELECT min(named_struct('u', u, 'e', e)) AS p FROM (
             SELECT rowkey,
                    max(CASE WHEN qualifier = 'user_id' THEN value END) AS u,
                    max(CASE WHEN qualifier = 'event_type' THEN value END) AS e
             FROM graftcat.events_ci WHERE family = 'd' GROUP BY rowkey)
           WHERE u IS NOT NULL AND e IS NOT NULL""")
        .collect()(0).getStruct(0)
      val (u, e) = (p.getString(0), p.getString(1))
      val prefix = u + "\u0000" + e + "\u0000"
      val seek = s.table("graftcat.events_ci_idx_uev")
        .filter(col("rowkey").startsWith(prefix))
      val m = "regionFiles: (\\d+)/(\\d+)".r
        .findFirstMatchIn(seek.queryExecution.executedPlan.toString).get
      assert(m.group(2).toInt == 1 ||
             m.group(1).toInt < m.group(2).toInt,
        s"the two-predicate seek must prune index files: ${m.matched}")
      // covered read: (back-pointer, included value) from the index
      // ONLY, compared against the direct base computation
      val fromIdx = seek
        .groupBy("rowkey")
        .agg(max(when(col("family") === "i", col("value"))).as("rk"),
             max(when(col("family") === "c" &&
                      col("qualifier") === "value", col("value")))
               .as("v"))
        .select("rk", "v").collect()
        .map(x => (x.getString(0), x.getString(1))).toSet
      val direct = s.sql(
        s"""SELECT rowkey,
                   max(CASE WHEN qualifier = 'value' THEN value END) AS v
            FROM graftcat.events_ci WHERE family = 'd' GROUP BY rowkey
            HAVING max(CASE WHEN qualifier = 'user_id' THEN value END)
                     = '$u'
               AND max(CASE WHEN qualifier = 'event_type' THEN value END)
                     = '$e'""")
        .collect().map(x => (x.getString(0), x.getString(1))).toSet
      assert(fromIdx == direct && fromIdx.nonEmpty,
        s"covered probe must equal the base computation: " +
        s"idx=$fromIdx direct=$direct")
      s.sql("""SELECT * FROM graftcat.events_ci_idx_uev
               ORDER BY rowkey, family, qualifier""")
    }),

    "sql_cell_meta_indexes" -> ((s, dir) => {
      // SHOW INDEXES as a metadata TABLE (r19 — the index lifecycle's
      // observability face): `SELECT * FROM g.t.indexes` lists the
      // warehouse's sibling tables whose descriptor says they index
      // THIS table, with the observable sync state — manifest-folded
      // row count (zero data bytes), delta_generations (what the next
      // CALL sync_index would append) and rewritten_since_sync
      // (exactly the predicate under which sync refuses and a rebuild
      // is due). Fresh builds: both indexes report zero delta, no
      // rewrite. Driver-side metadata at any store size, like every
      // metadata table.
      stageGiTable(s, dir)
      s.sql("""SELECT * FROM graftcat.events_gi.indexes
               ORDER BY index_table""")
    }),

    "cell_index_autoroute" -> ((s, dir) => {
      // AUTOMATIC index routing (r20 — Phoenix's core promise, and
      // what cell_index_probe hand-wires): the PLAIN SQL value
      // predicate engages the secondary index through the IndexRoute
      // optimizer rule (riding spark.sql.extensions), and because
      // every output column reconstructs from the index row alone
      // (rowkey = back-pointer, version carried, family/qualifier =
      // the literals, value = the seek prefix recovered by exact
      // length arithmetic), the plan is a COVERED ANSWER: one index
      // prefix-seek, the base table never touched — with the FULL
      // original predicate re-evaluated on the reconstruction, so the
      // index can change the plan, never the answer. Inline pins:
      // (1) the executed plan scans ONLY the index store (exactly one
      // connector scan, no join, no base path), (2) the seek plans
      // fewer region files than the index store holds. Oracle: the
      // same predicate as a direct filter over the rebuilt cells.
      stageGiTable(s, dir)
      val probeVal = s.sql(
        """SELECT min(value) FROM graftcat.events_gi
           WHERE family = 'd' AND qualifier = 'value'""")
        .collect()(0).getString(0)
      val df = s.sql(
        s"""SELECT rowkey, family, qualifier, version, value
            FROM graftcat.events_gi
            WHERE family = 'd' AND qualifier = 'value'
              AND value = '$probeVal'
            ORDER BY rowkey, version""")
      val exec = df.queryExecution.executedPlan.toString
      val scans = "GraftCellScan path=(\\S+?),".r
        .findAllMatchIn(exec).map(_.group(1)).toSeq
      assert(scans.length == 1 && scans.head.endsWith("events_gi_idx_val"),
        s"the covered answer must scan ONLY the index store: $scans\n$exec")
      val m = "regionFiles: (\\d+)/(\\d+)".r.findFirstMatchIn(exec).get
      assert(m.group(2).toInt == 1 ||
             m.group(1).toInt < m.group(2).toInt,
        s"the index seek must prune region files: ${m.matched}")
      df
    }),

    "cell_index_autoroute_in" -> ((s, dir) => {
      // IN-LIST index routing (r20): `value IN (k1, k2)` routes as a
      // MULTI-SEEK — one prefix disjunct per member on the index
      // (HBase's MultiRowRangeFilter shape, which the connector
      // prunes as the union of per-disjunct survivors), answered
      // COVERED like the equality form (the seek's rows reconstruct
      // the output; the remapped predicate exacts).
      // Bounded: lists past 64 members fall back to the scan (the
      // seek's pruning value is gone). Probe = the index's min and
      // max indexed values — deterministic, and spanning the store so
      // the multi-seek provably touches more than one region file
      // class. Oracle: the IN predicate over the rebuilt cells.
      stageGiTable(s, dir)
      val mm = s.sql(
        """SELECT min(value), max(value) FROM graftcat.events_gi
           WHERE family = 'd' AND qualifier = 'value'""").collect()(0)
      val (lo, hi) = (mm.getString(0), mm.getString(1))
      val df = s.sql(
        s"""SELECT rowkey, family, qualifier, version, value
            FROM graftcat.events_gi
            WHERE family = 'd' AND qualifier = 'value'
              AND value IN ('$lo', '$hi')
            ORDER BY rowkey, version""")
      val scansIn = "GraftCellScan path=(\\S+?),".r
        .findAllMatchIn(df.queryExecution.executedPlan.toString)
        .map(_.group(1)).toSeq
      assert(scansIn.length == 1 &&
             scansIn.head.endsWith("events_gi_idx_val"),
        s"an IN-list value predicate must answer from the index " +
        s"alone: $scansIn")
      df
    }),

    "cell_index_autoroute_prefix" -> ((s, dir) => {
      // VALUE-PREFIX index routing (r20 — the highest-leverage routed
      // form): `value LIKE 'p%'` is the probe NOTHING else bounds — a
      // point probe already prunes via the per-file and parquet
      // row-group value BLOOMS, but a RANGE over a high-cardinality
      // value column defeats range stats (per-file [min,max] spans)
      // and blooms (point-only), so the indexless plan is a genuine
      // full scan + row filter. The rule turns it into ONE
      // unterminated rowkey-prefix seek on the index (the index IS
      // value-ordered) feeding the same broadcast semi-join; the
      // retained LIKE exacts. `graft.Scale route` measures this shape flat
      // across store growth while the dropped twin tracks the store.
      // Probe prefix = the first 4 chars of the min indexed value
      // (deterministic; nonempty by fixture).
      stageGiTable(s, dir)
      val pfx = s.sql(
        """SELECT substring(min(value), 1, 4) FROM graftcat.events_gi
           WHERE family = 'd' AND qualifier = 'value'""")
        .collect()(0).getString(0)
      val df = s.sql(
        s"""SELECT rowkey, family, qualifier, version, value
            FROM graftcat.events_gi
            WHERE family = 'd' AND qualifier = 'value'
              AND value LIKE '$pfx%'
            ORDER BY rowkey, version""")
      val scansP = "GraftCellScan path=(\\S+?),".r
        .findAllMatchIn(df.queryExecution.executedPlan.toString)
        .map(_.group(1)).toSeq
      assert(scansP.length == 1 &&
             scansP.head.endsWith("events_gi_idx_val"),
        s"a value-prefix predicate must answer from the index " +
        s"alone: $scansP")
      df
    }),

    "cell_index_autoroute_stale" -> ((s, dir) => {
      // The FALLBACK side of automatic routing (r20): after a base
      // append the index does not cover (delta_generations > 0 — the
      // exact predicate g.t.indexes reports), so IndexRoute must NOT
      // rewrite — the same SQL plans the plain pushed-filter scan,
      // loudly-by-plan, and the answer includes the un-indexed rows a
      // stale-index rewrite would have silently dropped. Oracle: the
      // predicate over base ∪ the appended band. r21: OWN staged-once
      // table (events_ars) — the stale state (base + val index +
      // post-build append) is the FIXTURE here, stable once staged, so
      // the key no longer mutates the shared events_gi fixture (which
      // forced every GI consumer to restage per invocation); the probe
      // + no-route plan pin still run per invocation.
      registerCatalog(s, dir)
      val marker = new java.io.File(warehouse(dir), "_ARS_STAGED")
      if (!markerUpToDate(marker, srcFp(dir))) {
        CellQueries.eventCells(s, dir)
          .createOrReplaceTempView("graft_ars_src")
        Seq("events_ars_idx_val", "events_ars")
          .foreach(t => s.sql(s"DROP TABLE IF EXISTS graftcat.$t"))
        s.sql("""CREATE TABLE graftcat.events_ars (
                   rowkey STRING, family STRING, qualifier STRING,
                   version BIGINT, value STRING) USING graftcell""")
        s.sql("INSERT OVERWRITE graftcat.events_ars SELECT * FROM graft_ars_src")
        s.sql("CALL graftcat.build_index('events_ars', 'val', 'd', 'value', 400)")
          .collect()
        s.sql("""INSERT INTO graftcat.events_ars
                 SELECT rowkey, family, qualifier,
                        version + 5000000 AS version,
                        concat(value, '%') AS value
                 FROM graft_ars_src WHERE rowkey >= '3' AND rowkey < '4'""")
        stampMarker(marker, srcFp(dir))
      }
      val probeVal = s.sql(
        """SELECT min(value) FROM graftcat.events_ars
           WHERE family = 'd' AND qualifier = 'value'""")
        .collect()(0).getString(0)
      val df = s.sql(
        s"""SELECT rowkey, family, qualifier, version, value
            FROM graftcat.events_ars
            WHERE family = 'd' AND qualifier = 'value'
              AND value = '$probeVal'
            ORDER BY rowkey, version""")
      val planStale = df.queryExecution.optimizedPlan.toString
      assert(!planStale.contains("_idx_"),
        s"a stale index must NOT route: the fallback is the plain " +
        s"scan\n$planStale")
      df
    }),

    "sql_cell_call_repair" -> ((s, dir) => {
      // CRASH-COMPLETION as a CONTRACT key (r19 — `CALL repair` was
      // procedure+spec only): the fixture stages the EXACT state an
      // interrupted group-replace commit leaves behind — the new batch
      // dir is committed WITH its `_retire.json` naming the replaced
      // generation's files, which still exist because the crash hit
      // before the deletions. The key pins the whole protocol inline:
      // (1) readers already exclude intent-listed files (the crash
      // window never double-counts), (2) CALL repair completes exactly
      // one intent and deletes exactly the victims, retiring the
      // emptied generation, (3) a second CALL is a no-op (idempotent).
      // Readback = the post-repair table, whose oracle is the same
      // SQL the COMPLETED commit would have produced — repair must
      // land the store on the commit's intended end state, nowhere
      // else. Metadata-only driver work: O(intent files) deletions.
      // r21: the staged CRASH STATE is the fixture — proto-copied;
      // CALL repair (the verb) and its protocol pins run per invocation
      val store = warehouse(dir) + "/events_rp"
      val fc = graft.sources.cell.CellFooterCache
      protoTables(s, dir, "events_rp", Seq("events_rp")) {
        CellQueries.eventCells(s, dir)
          .createOrReplaceTempView("graft_catalog_src")
        s.sql("DROP TABLE IF EXISTS graftcat.events_rp")
        s.sql("""CREATE TABLE graftcat.events_rp (
                   rowkey STRING, family STRING, qualifier STRING,
                   version BIGINT, value STRING) USING graftcell""")
        s.sql("INSERT OVERWRITE graftcat.events_rp SELECT * FROM graft_catalog_src")
        val gen1 = fc.committedDirs(store).toSet
        // the generation a group-replace would retire
        s.sql("""INSERT INTO graftcat.events_rp
                 SELECT rowkey, family, qualifier,
                        version + 1000000 AS version, value
                 FROM graft_catalog_src WHERE rowkey >= '6' AND rowkey < '7'""")
        val g2 = (fc.committedDirs(store).toSet -- gen1).toSeq
        assert(g2.size == 1, s"expected one new generation, got $g2")
        // the replacing batch (committed) ...
        s.sql("""INSERT INTO graftcat.events_rp
                 SELECT rowkey, family, qualifier,
                        version + 2000000 AS version,
                        concat(value, '+') AS value
                 FROM graft_catalog_src WHERE rowkey >= '6' AND rowkey < '7'""")
        val g3 = (fc.committedDirs(store).toSet -- gen1 -- g2.toSet).toSeq
        assert(g3.size == 1, s"expected one replacing generation, got $g3")
        // ... carrying the intent the crash left pending: gen2's files
        val vs = Option(new java.io.File(store, g2.head).listFiles)
          .getOrElse(Array.empty)
          .filter(f => f.isFile && f.getName.endsWith(".parquet"))
          .map(_.getPath).toSeq.sorted
        assert(vs.nonEmpty, "the retired generation must hold files")
        graft.sources.cell.CellRetire.write(
          new java.io.File(store, g3.head), vs)
        fc.invalidate(store)
      }
      // re-derive the crash state's shape from the restored store: the
      // pending intent's victim list IS gen2's file set
      val victims = graft.sources.cell.CellRetire.retiredOf(store)
        .toSeq.sorted
      assert(victims.nonEmpty, "the fixture must carry a pending intent")
      val gen2 = victims.map(p => new java.io.File(p).getParentFile.getName)
        .distinct
      assert(gen2.size == 1, s"expected one retired generation, got $gen2")
      // (1) the crash window reads complete-and-correct already:
      // intent-listed files are excluded from planning
      val preBand = s.sql(
        """SELECT count(*) FROM graftcat.events_rp
           WHERE version >= 1000000 AND version < 2000000""")
        .collect()(0).getLong(0)
      assert(preBand == 0L,
        s"readers must exclude intent-listed files pre-repair ($preBand rows)")
      // (2) repair completes the one intent, removing exactly gen2
      val rep = s.sql("CALL graftcat.repair('events_rp')").collect()(0)
      assert(rep.getLong(0) == 1L && rep.getLong(1) == victims.size.toLong,
        s"repair must complete 1 intent / ${victims.size} files, got $rep")
      assert(!fc.committedDirs(store).contains(gen2.head),
        "the emptied generation must retire with its metadata")
      // (3) idempotent
      val again = s.sql("CALL graftcat.repair('events_rp')").collect()(0)
      assert(again.getLong(0) == 0L && again.getLong(1) == 0L,
        s"second repair must be a no-op, got $again")
      s.sql("""SELECT * FROM graftcat.events_rp
               ORDER BY rowkey, qualifier, version""")
    }),

    "sql_cell_call_vacuum" -> ((s, dir) => {
      // HBase's CLEANER CHORES as one verb (r16; archive-aware r17) —
      // the FIX side of what hbck reports: the fixture constructs one
      // reclaimable anomaly per class (a snapshot whose pin is in
      // neither live nor archive — compaction no longer invalidates,
      // 'vpin' survives via the archive; an orphan parquet no manifest
      // lists; a stale `_tmp_*` dir; an archived file nothing pins)
      // and the CALL deletes them, pinning the exact counts. No
      // missing-file corruption here (vacuum reclaims garbage, it
      // does not repair corruption) and no pending intent (spec
      // covers the repair-first path) — both dimensions stay zero.
      // Metadata-only driver work: zero data bytes at any store size,
      // and every count is layout-independent.
      // r21: the staged anomaly set is the fixture — proto-copied (the
      // DROP-first stage keeps counts hermetic exactly as before, now
      // by byte-identical restore); CALL vacuum (the verb) runs per
      // invocation and reclaims the same classes every time
      protoTables(s, dir, "events_vc", Seq("events_vc")) {
        CellQueries.eventCells(s, dir)
          .createOrReplaceTempView("graft_catalog_src")
        s.sql("DROP TABLE IF EXISTS graftcat.events_vc")
        s.sql("""CREATE TABLE graftcat.events_vc (
                   rowkey STRING, family STRING, qualifier STRING,
                   version BIGINT, value STRING) USING graftcell""")
        s.sql("INSERT OVERWRITE graftcat.events_vc SELECT * FROM graft_catalog_src")
        s.sql("CALL graftcat.snapshot('events_vc', 'vpin')")
        s.sql("""INSERT INTO graftcat.events_vc
                 SELECT rowkey, family, qualifier,
                        version + 1000000 AS version, value
                 FROM graft_catalog_src WHERE rowkey >= '6'""")
        // compaction archives 'vpin''s generations; the snapshot LIVES
        s.sql("CALL graftcat.compact('events_vc')")
        val store = warehouse(dir) + "/events_vc"
        val d = graft.sources.cell.CellFooterCache.committedDirs(store)
        assert(d.size == 1, s"expected one compacted dir, got $d")
        java.nio.file.Files.write(
          new java.io.File(new java.io.File(store, d.head),
                           "zz_orphan.parquet").toPath,
          Array.emptyByteArray)
        new java.io.File(store, "_tmp_vacuum_crash").mkdirs()
        // a dead pin (drop-eligible, a legacy v1 manifest) + an
        // unpinned archived file (sweep-eligible) — the two classes the
        // flagged pass reclaims
        java.nio.file.Files.write(
          new java.io.File(store, "_snapshot_gone.json").toPath,
          """["batch_nonexistent"]""".getBytes("UTF-8"))
        val deadArch = new java.io.File(store, "_archive/batch_dead")
        deadArch.mkdirs()
        java.nio.file.Files.write(
          new java.io.File(deadArch, "dead.parquet").toPath,
          Array.emptyByteArray)
        // r19: an ORPHANED index-sync boundary — the snapshot a
        // build_index pinned whose index table was since dropped (no
        // sibling dir left); without reclamation it holds base archive
        // history forever
        graft.sources.cell.GraftCellSnapshot.create(
          store, "__idx_sync_events_vc_idx_gone")
        graft.sources.cell.CellFooterCache.invalidate(store)
        ()
      }
      s.sql("CALL graftcat.vacuum('events_vc', true)")
    }),

    "sql_cell_call_verify_rep" -> ((s, dir) => {
      // HBase `VerifyReplication` (r16): a DISTRIBUTED cell-level diff
      // of two tables, aligned on the full cell key (rowkey, family,
      // qualifier, version) via one sort-merge full-outer join — the
      // one shuffle per side the comparison inherently costs; at
      // 100 TB it runs at cluster bandwidth like the HBase MR job.
      // The replica diverges three ways by construction: the '6'+
      // band's values are tilded (mismatch where value is non-NULL;
      // NULL||'~' stays NULL and null-safe-matches), a version-shifted
      // extra band exists only in the replica, and the '<6' band
      // matches verbatim. Nothing is only-in-primary.
      // r21: BOTH tables (primary + the three-way-diverged replica) are
      // the fixture — proto-copied; the distributed diff (the verb)
      // runs per invocation
      protoTables(s, dir, "vr_fixture", Seq("events_vr", "events_vr2")) {
        CellQueries.eventCells(s, dir)
          .createOrReplaceTempView("graft_catalog_src")
        s.sql("DROP TABLE IF EXISTS graftcat.events_vr")
        s.sql("DROP TABLE IF EXISTS graftcat.events_vr2")
        s.sql("""CREATE TABLE graftcat.events_vr (
                   rowkey STRING, family STRING, qualifier STRING,
                   version BIGINT, value STRING) USING graftcell""")
        s.sql("INSERT OVERWRITE graftcat.events_vr SELECT * FROM graft_catalog_src")
        s.sql("""CREATE TABLE graftcat.events_vr2 (
                   rowkey STRING, family STRING, qualifier STRING,
                   version BIGINT, value STRING) USING graftcell""")
        s.sql("""INSERT OVERWRITE graftcat.events_vr2
                 SELECT * FROM graft_catalog_src WHERE rowkey < '6'
                 UNION ALL
                 SELECT rowkey, family, qualifier, version,
                        value || '~' AS value
                 FROM graft_catalog_src WHERE rowkey >= '6'
                 UNION ALL
                 SELECT rowkey, family, qualifier,
                        version + 5000000 AS version, value
                 FROM graft_catalog_src WHERE rowkey < '2'""")
        ()
      }
      s.sql("CALL graftcat.verify_rep('events_vr', 'events_vr2')")
    }),

    "sql_cell_namespace" -> ((s, dir) => {
      // NAMESPACES — HBase `create_namespace` / `'ns:table'` (r16): a
      // namespace is a marker-stamped warehouse subdir, tables resolve
      // at root/<ns>/<table> through the same GraftCellTable, and the
      // full SQL surface follows — CREATE NAMESPACE, three-part
      // CREATE/INSERT/SELECT (with pushdown engaging exactly as in the
      // default namespace), SHOW NAMESPACES / SHOW TABLES IN, and the
      // CALL procedures addressing namespaced tables shell-style
      // ('archive:events_ns'). Pure metadata, like everything in the
      // catalog: a namespace costs one subdir + one marker at any
      // table count.
      // r21: the namespaced table is the fixture — proto-copied (the
      // per-run snapshot re-pin mutates the store dir); the ns-
      // addressed CALL + namespaced SELECT (the verbs) run per run
      protoTables(s, dir, "ns_events", Seq("archive/events_ns")) {
        CellQueries.eventCells(s, dir)
          .createOrReplaceTempView("graft_catalog_src")
        s.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.archive")
        s.sql("DROP TABLE IF EXISTS graftcat.archive.events_ns")
        s.sql("""CREATE TABLE graftcat.archive.events_ns (
                   rowkey STRING, family STRING, qualifier STRING,
                   version BIGINT, value STRING) USING graftcell""")
        s.sql("INSERT OVERWRITE graftcat.archive.events_ns SELECT * FROM graft_catalog_src")
        ()
      }
      // the admin surface reaches namespaced tables ('ns:table')
      s.sql("CALL graftcat.snapshot('archive:events_ns', 'ns_keep')")
      s.sql("""SELECT rowkey, qualifier, value
               FROM graftcat.archive.events_ns
               WHERE rowkey >= '70' AND rowkey < '80'
               ORDER BY rowkey, qualifier""")
    }),

    "stream_cell_since" -> ((s, dir) => {
      // STREAMING from a snapshot boundary: `sinceSnapshot` on
      // readStream makes the snapshot's pinned dirs the INITIAL offset
      // (already-delivered), so a fresh checkpoint starts replicating
      // at the boundary instead of replaying the whole store — the
      // HBase "bootstrap with a snapshot, then stream the tail"
      // handoff: bulk-ship dirs(inc1) out of band (clone_snapshot),
      // then this stream delivers exactly the post-inc1 batches, no
      // gap, no replay. Offsets stay dir-name sets, so the handoff
      // composes with exactly-once delivery and admission control
      // (one committed batch per trigger) unchanged.
      val path = stageInc(s, dir)
      drain(s.readStream.format("graftcell")
              .option("sinceSnapshot", "inc1").load(path))
        .orderBy("rowkey", "qualifier")
    }),
  )

  val oracles: Map[String, String] = Map(
    "scan_cell_connector" ->
      s"""WITH cells AS (${CellQueries.eventCellsSql})
          SELECT * FROM cells ORDER BY rowkey, qualifier""",

    "cell_connector_range" ->
      s"""WITH cells AS (${CellQueries.eventCellsSql})
          SELECT * FROM cells
          WHERE rowkey >= '30' AND rowkey < '50'
          ORDER BY rowkey, qualifier""",

    "cell_connector_prefix" ->
      s"""WITH cells AS (${CellQueries.eventCellsSql})
          SELECT rowkey, qualifier, value FROM cells
          WHERE rowkey LIKE '10%' AND qualifier IN ('event_type', 'value')
          ORDER BY rowkey, qualifier""",

    "sink_cell_connector_write" ->
      s"""WITH cells AS (${CellQueries.eventCellsSql})
          SELECT * FROM cells
          WHERE rowkey >= '55' AND rowkey < '57'
          ORDER BY rowkey, qualifier""",

    "stream_cell_connector" ->
      s"""WITH cells AS (${CellQueries.eventCellsSql})
          SELECT * FROM cells
          WHERE rowkey >= '20' AND rowkey < '40'
          ORDER BY rowkey, qualifier""",

    "stream_cell_replicate" ->
      s"""WITH cells AS (${CellQueries.eventCellsSql})
          SELECT * FROM cells
          WHERE rowkey >= '40' AND rowkey < '60'
          ORDER BY rowkey, qualifier""",

    "sql_cell_connector" ->
      s"""WITH cells AS (${CellQueries.eventCellsSql})
          SELECT rowkey, qualifier, value FROM cells
          WHERE rowkey >= '60' AND rowkey < '70'
          ORDER BY rowkey, qualifier""",

    "cell_connector_multiget" ->
      s"""WITH cells AS (${CellQueries.eventCellsSql})
          SELECT * FROM cells
          WHERE rowkey IN ('101', '42', '77', '905')
          ORDER BY rowkey, qualifier""",

    "cell_connector_multirange" ->
      s"""WITH cells AS (${CellQueries.eventCellsSql})
          SELECT * FROM cells
          WHERE (rowkey >= '10' AND rowkey < '12')
             OR (rowkey >= '85' AND rowkey < '90')
             OR rowkey LIKE '42%'
          ORDER BY rowkey, qualifier""",

    // the fuzzy pattern '?-1995-03': position 0 free (the salt),
    // position 1 '-' (true by construction), positions 2-8 fixed —
    // recomputed verbatim over the same salted-rowkey derivation
    "cell_connector_fuzzy" ->
      """WITH cells AS (
           SELECT concat(
                    CAST(ascii(substring(md5(cast(o_orderkey AS VARCHAR)),
                                         1, 1)) % 4 AS VARCHAR),
                    '-', cast(o_orderdate AS VARCHAR), '-',
                    lpad(cast(o_orderkey AS VARCHAR), 12, '0')) AS rowkey,
                  o_orderpriority AS value
           FROM orders)
         SELECT rowkey, value FROM cells
         WHERE substring(rowkey, 3, 7) = '1995-03'
         ORDER BY rowkey""",

    // the OR-ed pattern list: two fixed year-month segments across
    // every salt, recomputed verbatim over the same derivation
    "cell_connector_fuzzy_multi" ->
      """WITH cells AS (
           SELECT concat(
                    CAST(ascii(substring(md5(cast(o_orderkey AS VARCHAR)),
                                         1, 1)) % 4 AS VARCHAR),
                    '-', cast(o_orderdate AS VARCHAR), '-',
                    lpad(cast(o_orderkey AS VARCHAR), 12, '0')) AS rowkey,
                  o_orderpriority AS value
           FROM orders)
         SELECT rowkey, value FROM cells
         WHERE substring(rowkey, 3, 7) IN ('1995-03', '1997-11')
         ORDER BY rowkey""",

    // the value band over the time-batched orderkey-keyed store —
    // recomputed verbatim (layout only changes the plan, not the rows)
    "cell_connector_value_prune" ->
      """SELECT lpad(cast(o_orderkey AS VARCHAR), 12, '0') AS rowkey,
                cast(o_orderdate AS VARCHAR) AS value
         FROM orders
         WHERE cast(o_orderdate AS VARCHAR) >= '1995-03-01'
           AND cast(o_orderdate AS VARCHAR) < '1995-04-01'
         ORDER BY rowkey""",

    "cell_connector_snapshot" ->
      s"""WITH cells AS (${CellQueries.eventCellsSql})
          SELECT * FROM cells ORDER BY rowkey, qualifier""",

    "cell_connector_split_regions" ->
      s"""WITH cells AS (${CellQueries.eventCellsSql})
          SELECT * FROM cells
          WHERE rowkey >= '20' AND rowkey < '25'
          ORDER BY rowkey, qualifier""",

    "sql_cell_catalog" ->
      s"""WITH cells AS (${CellQueries.eventCellsSql})
          SELECT rowkey, qualifier, value FROM cells
          WHERE rowkey >= '80' AND rowkey < '90'
          ORDER BY rowkey, qualifier""",

    "sql_cell_delete" ->
      s"""WITH cells AS (${CellQueries.eventCellsSql})
          SELECT * FROM cells
          WHERE NOT (rowkey >= '3' AND rowkey < '5')
            AND NOT (qualifier = 'value' AND rowkey >= '9')
          ORDER BY rowkey, qualifier""",

    "sql_cell_time_travel" ->
      s"""WITH cells AS (${CellQueries.eventCellsSql})
          SELECT * FROM cells ORDER BY rowkey, qualifier""",

    "sql_cell_call_compact" ->
      s"""WITH cells AS (${CellQueries.eventCellsSql}),
          two AS (
            SELECT * FROM cells
            UNION ALL
            SELECT rowkey, family, qualifier,
                   version + 1000000 AS version,
                   value || '!' AS value
            FROM cells WHERE rowkey >= '5'),
          latest AS (
            SELECT *, row_number() OVER (
              PARTITION BY rowkey, family, qualifier
              ORDER BY version DESC, value DESC) AS rn
            FROM two)
          SELECT rowkey, family, qualifier, version, value
          FROM latest WHERE rn = 1
          ORDER BY rowkey, qualifier""",

    "sql_cell_call_snapshot" ->
      s"""WITH cells AS (${CellQueries.eventCellsSql})
          SELECT * FROM cells ORDER BY rowkey, qualifier""",

    // the clone pins the pre-corruption generation: plain rebuild
    "sql_cell_call_clone" ->
      s"""WITH cells AS (${CellQueries.eventCellsSql})
          SELECT * FROM cells ORDER BY rowkey, qualifier""",

    // VERSIONS => 2 retention: the two newest versions per cell key
    // out of the three-generation union survive compaction
    "sql_cell_max_versions" ->
      s"""WITH cells AS (${CellQueries.eventCellsSql}),
          three AS (
            SELECT * FROM cells
            UNION ALL
            SELECT rowkey, family, qualifier,
                   version + 1000000 AS version, value || '+' AS value
            FROM cells WHERE rowkey >= '5'
            UNION ALL
            SELECT rowkey, family, qualifier,
                   version + 2000000 AS version, value || '+' AS value
            FROM cells WHERE rowkey >= '5'),
          r AS (
            SELECT *, row_number() OVER (
              PARTITION BY rowkey, family, qualifier
              ORDER BY version DESC, value DESC) AS rn
            FROM three)
          SELECT rowkey, family, qualifier, version, value
          FROM r WHERE rn <= 2
          ORDER BY rowkey, qualifier, version""",

    // layout surgery must preserve content exactly: split at '5'
    // changes only file boundaries, never rows
    "sql_cell_call_split" ->
      s"""WITH cells AS (${CellQueries.eventCellsSql})
          SELECT * FROM cells ORDER BY rowkey, qualifier""",

    // split twice + merge back: the round-trip is content-neutral
    "sql_cell_call_merge" ->
      s"""WITH cells AS (${CellQueries.eventCellsSql})
          SELECT * FROM cells ORDER BY rowkey, qualifier""",

    // normalizer passes (forced split, forced merge, self-scaling
    // default) are content-neutral region surgery
    "sql_cell_call_normalize" ->
      s"""WITH cells AS (${CellQueries.eventCellsSql})
          SELECT * FROM cells ORDER BY rowkey, qualifier""",

    // everything before the truncate is dropped; the survivor band is
    // re-inserted afterwards with a marked value
    "sql_cell_truncate" ->
      s"""WITH cells AS (${CellQueries.eventCellsSql})
          SELECT rowkey, family, qualifier, version,
                 'survivor-' || value AS value
          FROM cells WHERE rowkey < '3'
          ORDER BY rowkey, qualifier""",

    // same GC model as cell_connector_gc (tombstone + 10-day TTL off
    // the store-max horizon), here driven by persisted TBLPROPERTIES
    "sql_cell_tblproperties" ->
      s"""WITH v1 AS (${CellQueries.eventCellsSql}),
          tomb AS (
            SELECT CAST(event_id AS VARCHAR) AS rowkey, 'd' AS family,
                   'value' AS qualifier,
                   epoch_us(ts) + 1000000 AS version,
                   '__TOMBSTONE__' AS value
            FROM events WHERE event_type = 'error'),
          allc AS (
            SELECT * FROM (SELECT * FROM v1 UNION ALL SELECT * FROM tomb)
            WHERE value IS NOT NULL),
          live AS (
            SELECT * FROM allc
            WHERE version >= (SELECT max(version) FROM allc)
                             - 864000000000),
          r AS (
            SELECT *, row_number() OVER (
              PARTITION BY rowkey, family, qualifier
              ORDER BY version DESC, value DESC) AS rn
            FROM live)
          SELECT rowkey, family, qualifier, version, value
          FROM r WHERE rn = 1 AND value != '__TOMBSTONE__'
          ORDER BY rowkey, qualifier""",

    // rebucket is layout surgery — content-neutral by contract, so the
    // oracle is the plain rebuild
    "sql_cell_call_rebucket" ->
      s"""WITH cells AS (${CellQueries.eventCellsSql})
          SELECT * FROM cells ORDER BY rowkey, qualifier""",

    // per-family retention recomputed directly: the hot family keeps
    // only the newest generation (table ttl 1500 expires v1000 anyway,
    // max_versions 1), audit keeps both (family overrides: huge TTL,
    // VERSIONS => 2); event_id is unique so each (rowkey, qualifier)
    // carries exactly the two constructed versions
    "sql_cell_family_policy" ->
      s"""WITH cells AS (${CellQueries.eventCellsSql})
          SELECT rowkey, family, qualifier, version, value FROM (
            SELECT rowkey, 'audit' AS family, qualifier,
                   CAST(1000 AS BIGINT) AS version, value FROM cells
            UNION ALL
            SELECT rowkey, 'audit', qualifier,
                   CAST(2000000 AS BIGINT), value || '~' FROM cells
            UNION ALL
            SELECT rowkey, 'hot', qualifier,
                   CAST(2000000 AS BIGINT), value || '~' FROM cells)
          ORDER BY rowkey, family, qualifier, version""",

    // r19 hide-all-older markers: the marker at 3000 masks versions
    // ≤ 3000 in the 'hba' family (cells without the 4000 put VANISH),
    // while the default 'cur' family keeps the engine's pinned
    // delete-if-current rule (the marker consumes a retained slot, so
    // version 2000 resurfaces where no newer put exists)
    "sql_cell_delete_markers" ->
      s"""WITH cells AS (${CellQueries.eventCellsSql})
          SELECT rowkey, family, qualifier, version, value FROM (
            SELECT rowkey, 'cur' AS family, qualifier,
                   CAST(2000 AS BIGINT) AS version,
                   value || '~' AS value
            FROM cells WHERE rowkey < '5'
            UNION ALL
            SELECT rowkey, 'cur', qualifier,
                   CAST(4000 AS BIGINT), value || '+'
            FROM cells WHERE rowkey >= '5'
            UNION ALL
            SELECT rowkey, 'hba', qualifier,
                   CAST(4000 AS BIGINT), value || '+'
            FROM cells WHERE rowkey >= '5')
          ORDER BY rowkey, family, qualifier, version""",

    // restore repoints the live table to the pre-corruption snapshot,
    // so the result is the plain cell rebuild — corrupt rows gone
    "sql_cell_call_restore" ->
      s"""WITH cells AS (${CellQueries.eventCellsSql})
          SELECT * FROM cells ORDER BY rowkey, qualifier""",

    // r17 archive: snapshot → corrupting append → COMPACT → restore
    // still returns the pinned generation (the compaction archived it
    // instead of destroying it), so the oracle is again the rebuild
    "sql_cell_snapshot_archive" ->
      s"""WITH cells AS (${CellQueries.eventCellsSql})
          SELECT * FROM cells ORDER BY rowkey, qualifier""",

    // r18 MVCC: snapshot → ranged DELETE + band UPDATE → the snapshot
    // read is ISOLATED (DML rewrites publish new names and archive the
    // pinned originals), so the oracle is again the plain rebuild
    "sql_cell_snapshot_mvcc" ->
      s"""WITH cells AS (${CellQueries.eventCellsSql})
          SELECT * FROM cells ORDER BY rowkey, qualifier""",

    // r18 per-family compression: codecs change the encoding, never
    // the content — the oracle is the dual-family rebuild
    "sql_cell_family_compression" ->
      s"""WITH cells AS (${CellQueries.eventCellsSql}),
          two AS (
            SELECT * FROM cells
            UNION ALL
            SELECT rowkey, 'audit' AS family, qualifier, version, value
            FROM cells)
          SELECT * FROM two ORDER BY rowkey, family, qualifier""",

    // deterministic by construction: s1 pins the single overwrite dir,
    // s2 pins overwrite + one append; nothing was compacted ⇒ missing=0
    "sql_cell_call_list_snapshots" ->
      """SELECT 's1' AS name, CAST(1 AS BIGINT) AS pinned_dirs,
                CAST(0 AS BIGINT) AS missing_dirs
         UNION ALL
         SELECT 's2', CAST(2 AS BIGINT), CAST(0 AS BIGINT)
         ORDER BY name""",

    // co-bucketed join = plain rowkey join over the cell rebuild and
    // its tilded '5'-band twin (the layout buys the plan, not the rows)
    "join_cell_spj" ->
      s"""WITH cells AS (${CellQueries.eventCellsSql}),
               band AS (
                 SELECT rowkey, value || '~' AS value FROM cells
                 WHERE rowkey >= '5')
          SELECT a.rowkey, count(*) AS n_pairs,
                 min(a.value) AS a_val, min(band.value) AS b_val
          FROM cells a JOIN band ON a.rowkey = band.rowkey
          GROUP BY a.rowkey
          ORDER BY a.rowkey""",

    // the deterministic sample rule, recomputed verbatim: md5 of
    // seed:rowkey:qualifier (NULLs as empty), first 8 hex digits mod
    // 10000 under 500 (= 5% of 10000)
    "cell_connector_sample" ->
      s"""WITH cells AS (${CellQueries.eventCellsSql})
          SELECT rowkey, family, qualifier, version, value
          FROM cells
          WHERE ('0x' || substr(md5('42:' || coalesce(rowkey, '')
                                 || ':' || coalesce(qualifier, '')),
                                1, 8))::UBIGINT % 10000 < 500
          ORDER BY rowkey, family, qualifier, version""",

    // the batched-delete script's end state, rebuilt relationally:
    // bands 0-4 lose their user_id cells, the probe band readback
    "sql_cell_script_batch" ->
      s"""WITH cells AS (${CellQueries.eventCellsSql})
          SELECT rowkey, qualifier, version, value
          FROM cells
          WHERE rowkey < '2'
            AND NOT (qualifier = 'user_id'
                     AND rowkey >= '0' AND rowkey < '5')
          ORDER BY rowkey, qualifier""",

    // one-side-shuffled fact-dim join = plain join of the rebuild to
    // the events dim, grouped by the dim attribute
    "join_cell_spj_oneside" ->
      s"""WITH cells AS (${CellQueries.eventCellsSql})
          SELECT e.event_type, count(*) AS n_cells,
                 min(c.value) AS first_val
          FROM cells c JOIN events e
            ON c.rowkey = CAST(e.event_id AS VARCHAR)
          GROUP BY e.event_type
          ORDER BY e.event_type""",

    // bucket-pruned multiget = a plain point-set probe of the rebuild
    "cell_connector_bucket_get" ->
      s"""WITH cells AS (${CellQueries.eventCellsSql})
          SELECT rowkey, family, qualifier, version, value
          FROM cells
          WHERE rowkey IN ('7', '42', '128', '999')
             OR rowkey = '600'
          ORDER BY rowkey, qualifier, version""",

    // bucketed group-by = plain per-rowkey aggregate of the rebuild
    "agg_cell_bucketed" ->
      s"""WITH cells AS (${CellQueries.eventCellsSql})
          SELECT rowkey, count(*) AS n_cells,
                 min(qualifier) AS first_qual, max(value) AS max_val
          FROM cells
          GROUP BY rowkey
          ORDER BY rowkey""",

    // band-pruned cell scan joined back to events on the rowkey
    "join_cell_broadcast" ->
      s"""WITH cells AS (${CellQueries.eventCellsSql}),
               band AS (
                 SELECT rowkey, value AS uid FROM cells
                 WHERE rowkey >= '6' AND rowkey < '7'
                   AND qualifier = 'user_id')
          SELECT e.event_type, count(*) AS n_events,
                 min(b.uid) AS first_uid
          FROM band b JOIN events e
            ON b.rowkey = CAST(e.event_id AS VARCHAR)
          GROUP BY e.event_type
          ORDER BY e.event_type""",

    // CTAS lands exactly the selected band as a fresh cell table
    "sql_cell_ctas" ->
      s"""WITH cells AS (${CellQueries.eventCellsSql})
          SELECT * FROM cells
          WHERE rowkey >= '4' AND rowkey < '6'
          ORDER BY rowkey, qualifier""",

    // the files metadata table is exact iff its per-file manifest stats
    // fold back to the true corpus stats: two generations (overwrite +
    // the '6'-band append with versions shifted 1e6), zero null rowkeys
    "sql_cell_meta_files" ->
      s"""WITH cells AS (${CellQueries.eventCellsSql}),
               appended AS (
                 SELECT rowkey, family, qualifier,
                        version + 1000000 AS version,
                        value || '~' AS value
                 FROM cells WHERE rowkey >= '6' AND rowkey < '7'),
               allcells AS (
                 SELECT * FROM cells UNION ALL SELECT * FROM appended)
          SELECT CAST(2 AS BIGINT) AS n_dirs,
                 count(*) AS n_rows,
                 CAST(0 AS BIGINT) AS n_null_keys,
                 min(rowkey) AS min_rowkey, max(rowkey) AS max_rowkey,
                 min(version) AS min_version, max(version) AS max_version,
                 min(family) AS min_family, max(family) AS max_family,
                 min(qualifier) AS min_qualifier,
                 max(qualifier) AS max_qualifier
          FROM allcells""",

    // s1 reads the overwrite generation (all cells); s2 adds the '6'
    // band's re-insert — whose keys lie inside the full range, so the
    // min/max rowkey are those of the full corpus for both
    "sql_cell_meta_snapshots" ->
      s"""WITH cells AS (${CellQueries.eventCellsSql}),
               appended AS (
                 SELECT rowkey FROM cells
                 WHERE rowkey >= '6' AND rowkey < '7')
          SELECT 's1' AS name,
                 (SELECT count(*) FROM cells) AS n_rows,
                 (SELECT min(rowkey) FROM cells) AS min_key,
                 (SELECT max(rowkey) FROM cells) AS max_key
          UNION ALL
          SELECT 's2',
                 (SELECT count(*) FROM cells) +
                   (SELECT count(*) FROM appended),
                 (SELECT min(rowkey) FROM cells),
                 (SELECT max(rowkey) FROM cells)
          ORDER BY name""",

    // the commit log: generation 1 = the overwrite (full corpus),
    // generation 2 = the '6'-band append; cumulative = running total
    "sql_cell_meta_history" ->
      s"""WITH cells AS (${CellQueries.eventCellsSql}),
               appended AS (
                 SELECT rowkey FROM cells
                 WHERE rowkey >= '6' AND rowkey < '7')
          SELECT CAST(1 AS BIGINT) AS generation,
                 (SELECT count(*) FROM cells) AS n_rows,
                 (SELECT count(*) FROM cells) AS cumulative_rows
          UNION ALL
          SELECT CAST(2 AS BIGINT),
                 (SELECT count(*) FROM appended),
                 (SELECT count(*) FROM cells) +
                   (SELECT count(*) FROM appended)
          ORDER BY generation""",

    // r18 travel-log meta table: the hermetic fixture's statement
    // sequence fixes the event census exactly — 3 retirements (era 1 +
    // era 2 into the minor compact, the merged orphan into the
    // restore) and 1 revival (era 1 back from the archive)
    "sql_cell_meta_travel_log" ->
      """SELECT 'retire' AS event, CAST(3 AS BIGINT) AS n_events
         UNION ALL
         SELECT 'revive' AS event, CAST(1 AS BIGINT) AS n_events
         ORDER BY event""",

    "cell_connector_count_meta" ->
      s"""WITH cells AS (${CellQueries.eventCellsSql})
          SELECT count(*) AS n_cells,
                 min(rowkey) AS min_rowkey,
                 max(rowkey) AS max_rowkey
          FROM cells""",

    // r19 value-bloom point probe: the present-value band of the
    // alternating-enum rebuild (the absent candidate matches nothing)
    "cell_connector_value_bloom" ->
      s"""WITH cells AS (${CellQueries.eventCellsSql}),
          g AS (
            SELECT rowkey, version,
                   CASE WHEN substring(rowkey, 2, 1) < '5'
                        THEN 'aa' ELSE 'zz' END AS value
            FROM cells
            UNION ALL
            SELECT rowkey, version + 1000000,
                   CASE WHEN substring(rowkey, 2, 1) < '5'
                        THEN 'bb' ELSE 'yy' END
            FROM cells)
          SELECT rowkey, version, value FROM g
          WHERE value IN ('zz', 'mm')
          ORDER BY rowkey, version""",

    // r19 grouped metadata COUNT: three per-family copies of the cell
    // rebuild — the oracle groups the same union the store holds
    "cell_connector_count_family" ->
      s"""WITH cells AS (${CellQueries.eventCellsSql})
          SELECT f.fam AS family, count(*) AS n_cells
          FROM cells
          CROSS JOIN (VALUES ('d'), ('m'), ('x')) AS f(fam)
          GROUP BY f.fam ORDER BY family""",

    "cell_connector_count_family_range" ->
      s"""WITH cells AS (${CellQueries.eventCellsSql})
          SELECT f.fam AS family, count(*) AS n_cells,
                 min(version) AS min_ver, max(version) AS max_ver
          FROM cells
          CROSS JOIN (VALUES ('d'), ('m'), ('x')) AS f(fam)
          WHERE rowkey >= '5'
          GROUP BY f.fam ORDER BY family""",

    "cell_connector_minmax_family" ->
      s"""WITH cells AS (${CellQueries.eventCellsSql})
          SELECT f.fam AS family, count(*) AS n_cells,
                 min(version) AS min_ver, max(version) AS max_ver,
                 min(rowkey) AS min_rk, max(rowkey) AS max_rk
          FROM cells
          CROSS JOIN (VALUES ('d'), ('m'), ('x')) AS f(fam)
          GROUP BY f.fam ORDER BY family""",

    "cell_connector_count_range" ->
      s"""WITH cells AS (${CellQueries.eventCellsSql})
          SELECT count(*) AS n_cells,
                 min(rowkey) AS min_rowkey,
                 max(rowkey) AS max_rowkey
          FROM cells
          WHERE rowkey >= '3' AND rowkey < '4'""",

    // the timestamp pin resolves to the era-1 generation = the plain
    // cell rebuild, same oracle shape as the named-snapshot key
    "sql_cell_time_travel_ts" ->
      s"""WITH cells AS (${CellQueries.eventCellsSql})
          SELECT * FROM cells ORDER BY rowkey, qualifier""",

    // r18: the same era-1 view, now reconstructed THROUGH the archive
    // after a minor compaction merged it away (total-or-loud travel)
    "sql_cell_time_travel_archive" ->
      s"""WITH cells AS (${CellQueries.eventCellsSql})
          SELECT * FROM cells ORDER BY rowkey, qualifier""",

    "sql_cell_update" ->
      s"""WITH cells AS (${CellQueries.eventCellsSql})
          SELECT rowkey, family, qualifier, version,
                 CASE WHEN rowkey >= '2' AND rowkey < '3'
                      THEN value || '*' ELSE value END AS value
          FROM cells
          ORDER BY rowkey, qualifier""",

    "sql_cell_merge" ->
      s"""WITH cells AS (${CellQueries.eventCellsSql}),
          src AS (
            SELECT rowkey, family, qualifier,
                   version + 1000000 AS version,
                   value || '^' AS value
            FROM cells WHERE rowkey >= '4' AND rowkey < '5'
            UNION ALL
            SELECT 'zz_' || rowkey AS rowkey, family, qualifier,
                   version, value
            FROM cells WHERE rowkey < '1'),
          merged AS (
            SELECT c.rowkey, c.family, c.qualifier,
                   coalesce(s.version, c.version) AS version,
                   coalesce(s.value, c.value) AS value
            FROM cells c
            LEFT JOIN src s
              ON c.rowkey = s.rowkey AND c.family = s.family
                 AND c.qualifier = s.qualifier
            UNION ALL
            SELECT s.rowkey, s.family, s.qualifier, s.version, s.value
            FROM src s
            WHERE NOT EXISTS (
              SELECT 1 FROM cells c
              WHERE c.rowkey = s.rowkey AND c.family = s.family
                AND c.qualifier = s.qualifier))
          SELECT * FROM merged
          ORDER BY rowkey, qualifier""",

    "sql_cell_checkand" ->
      s"""WITH cells AS (${CellQueries.eventCellsSql}),
          src AS (
            SELECT rowkey, family, qualifier,
                   version + 1000000 AS version, value || '^' AS value
            FROM cells WHERE rowkey >= '3' AND rowkey < '4'
            UNION ALL
            SELECT rowkey, family, qualifier,
                   version - 1000000, value || '?'
            FROM cells WHERE rowkey >= '5' AND rowkey < '6'
            UNION ALL
            SELECT rowkey, family, qualifier, version, '__DELETE__'
            FROM cells
            WHERE rowkey >= '7' AND rowkey < '8' AND qualifier = 'value'
            UNION ALL
            SELECT 'zz_' || rowkey, family, qualifier, version, '__DELETE__'
            FROM cells WHERE rowkey < '1'
            UNION ALL
            SELECT 'new_' || rowkey, family, qualifier, version, value
            FROM cells WHERE rowkey < '1'),
          merged AS (
            SELECT t.rowkey, t.family, t.qualifier,
                   CASE WHEN s.rowkey IS NOT NULL
                             AND s.value <> '__DELETE__'
                             AND t.version < s.version
                        THEN s.version ELSE t.version END AS version,
                   CASE WHEN s.rowkey IS NOT NULL
                             AND s.value <> '__DELETE__'
                             AND t.version < s.version
                        THEN s.value ELSE t.value END AS value,
                   CASE WHEN s.rowkey IS NOT NULL
                             AND s.value = '__DELETE__'
                        THEN 1 ELSE 0 END AS del
            FROM cells t
            LEFT JOIN src s
              ON t.rowkey = s.rowkey AND t.family = s.family
                 AND t.qualifier = s.qualifier)
          SELECT rowkey, family, qualifier, version, value
          FROM merged WHERE del = 0
          UNION ALL
          SELECT s.rowkey, s.family, s.qualifier, s.version, s.value
          FROM src s
          WHERE s.value <> '__DELETE__' AND NOT EXISTS (
            SELECT 1 FROM cells t
            WHERE t.rowkey = s.rowkey AND t.family = s.family
              AND t.qualifier = s.qualifier)
          ORDER BY rowkey, qualifier""",

    "sql_cell_sync" ->
      s"""WITH cells AS (${CellQueries.eventCellsSql})
          SELECT rowkey, family, qualifier,
                 CASE WHEN rowkey >= '4' AND rowkey < '5'
                      THEN version + 1000000 ELSE version END AS version,
                 CASE WHEN rowkey >= '4' AND rowkey < '5'
                      THEN value || '~' ELSE value END AS value
          FROM cells WHERE rowkey >= '2'
          UNION ALL
          SELECT 'zz_' || rowkey AS rowkey, family, qualifier,
                 version, value
          FROM cells WHERE rowkey < '1'
          ORDER BY rowkey, qualifier""",

    "stream_cell_apply" ->
      s"""WITH cells AS (${CellQueries.eventCellsSql})
          SELECT * FROM cells ORDER BY rowkey, qualifier""",

    "cell_connector_gc" ->
      s"""WITH v1 AS (${CellQueries.eventCellsSql}),
          tomb AS (
            SELECT CAST(event_id AS VARCHAR) AS rowkey, 'd' AS family,
                   'value' AS qualifier,
                   epoch_us(ts) + 1000000 AS version,
                   '__TOMBSTONE__' AS value
            FROM events WHERE event_type = 'error'),
          allc AS (
            SELECT * FROM (SELECT * FROM v1 UNION ALL SELECT * FROM tomb)
            WHERE value IS NOT NULL),
          live AS (
            SELECT * FROM allc
            WHERE version >= (SELECT max(version) FROM allc)
                             - 864000000000),
          r AS (
            SELECT *, row_number() OVER (
              PARTITION BY rowkey, family, qualifier
              ORDER BY version DESC, value DESC) AS rn
            FROM live)
          SELECT rowkey, family, qualifier, version, value
          FROM r WHERE rn = 1 AND value != '__TOMBSTONE__'
          ORDER BY rowkey, qualifier""",

    "cell_connector_timerange" ->
      s"""WITH cells AS (${CellQueries.eventCellsSql}),
          two AS (
            SELECT * FROM cells
            UNION ALL
            SELECT rowkey, family, qualifier,
                   version + 8000000000000000 AS version,
                   value || '!' AS value
            FROM cells WHERE rowkey >= '5')
          SELECT * FROM two
          WHERE version >= 8000000000000000
          ORDER BY rowkey, qualifier""",

    "cell_connector_compact_minor" ->
      s"""WITH cells AS (${CellQueries.eventCellsSql}),
          three AS (
            SELECT * FROM cells
            UNION ALL
            SELECT rowkey, family, qualifier,
                   version + 1000000 AS version,
                   value || '+' AS value
            FROM cells
            WHERE rowkey LIKE '2%' OR rowkey LIKE '7%')
          SELECT * FROM three
          ORDER BY rowkey, qualifier, version""",

    "cell_connector_compact" ->
      s"""WITH cells AS (${CellQueries.eventCellsSql}),
          two AS (
            SELECT * FROM cells
            UNION ALL
            SELECT rowkey, family, qualifier,
                   version + 1000000 AS version,
                   value || '!' AS value
            FROM cells WHERE rowkey >= '5'),
          latest AS (
            SELECT *, row_number() OVER (
              PARTITION BY rowkey, family, qualifier
              ORDER BY version DESC) AS rn
            FROM two)
          SELECT rowkey, family, qualifier, version, value
          FROM latest WHERE rn = 1
          ORDER BY rowkey, qualifier""",

    "cell_connector_incremental" ->
      s"""WITH cells AS (${CellQueries.eventCellsSql})
          SELECT rowkey, qualifier, value FROM cells
          WHERE rowkey >= '3' AND qualifier IN ('event_type', 'value')
          ORDER BY rowkey, qualifier""",

    "cell_connector_incremental_between" ->
      s"""WITH cells AS (${CellQueries.eventCellsSql})
          SELECT * FROM cells
          WHERE rowkey >= '3' AND rowkey < '6'
          ORDER BY rowkey, qualifier""",

    "stream_cell_since" ->
      s"""WITH cells AS (${CellQueries.eventCellsSql})
          SELECT * FROM cells
          WHERE rowkey >= '3'
          ORDER BY rowkey, qualifier""",

    "sql_cell_namespace" ->
      s"""WITH cells AS (${CellQueries.eventCellsSql})
          SELECT rowkey, qualifier, value FROM cells
          WHERE rowkey >= '70' AND rowkey < '80'
          ORDER BY rowkey, qualifier""",

    // the export carries the pinned (pre-corruption) generation
    "sql_cell_call_export" ->
      s"""WITH cells AS (${CellQueries.eventCellsSql})
          SELECT * FROM cells ORDER BY rowkey, qualifier""",

    // the incremental export carries EXACTLY generation 2 (the window
    // between snapshots b1 and b2)
    "sql_cell_call_export_inc" ->
      s"""WITH cells AS (${CellQueries.eventCellsSql})
          SELECT rowkey, family, qualifier,
                 version + 1000000 AS version,
                 value || '~' AS value
          FROM cells WHERE rowkey >= '6'
          ORDER BY rowkey, qualifier""",

    // the bulkloaded table is base band ∪ adopted export = all cells
    "sql_cell_call_bulkload" ->
      s"""WITH cells AS (${CellQueries.eventCellsSql})
          SELECT * FROM cells ORDER BY rowkey, qualifier""",

    // one constructed anomaly per class, exact counts by construction;
    // r17: compaction archives (hpin valid), only the explicitly-dead
    // pin counts as invalid, and one unpinned archived file is staged
    "sql_cell_call_hbck" ->
      """SELECT CAST(1 AS BIGINT) AS dirs,
                CAST(1 AS BIGINT) AS missing_files,
                CAST(1 AS BIGINT) AS orphan_files,
                CAST(0 AS BIGINT) AS pending_intents,
                CAST(1 AS BIGINT) AS invalid_snapshots,
                CAST(1 AS BIGINT) AS stale_tmp_dirs,
                CAST(1 AS BIGINT) AS unreferenced_archived,
                CAST(1 AS BIGINT) AS lost_travel_windows,
                CAST(0 AS BIGINT) AS legacy_dirs""",

    // r19 upgrade_manifests: the upgraded store's live view after the
    // ranged DELETE — the plain rebuild minus the deleted band (the
    // MVCC isolation itself is asserted inline; the oracle pins the
    // post-DELETE content)
    "sql_cell_upgrade_manifests" ->
      s"""WITH cells AS (${CellQueries.eventCellsSql})
          SELECT rowkey, family, qualifier, version, value FROM cells
          WHERE rowkey < '7'
          ORDER BY rowkey, qualifier""",

    // one reclaimable anomaly per class by construction; no pending
    // intent and no corruption, so intents_completed = 0; r17: 'vpin'
    // survives compaction via the archive, only the dead pin drops,
    // and the one unpinned archived file is swept
    // the index table rebuilt in SQL: one index cell per non-null
    // (d, user_id) base cell, rowkey = value ++ 0x00 ++ base rowkey
    "sql_cell_call_build_index" ->
      s"""WITH cells AS (${CellQueries.eventCellsSql})
          SELECT * FROM (
            SELECT value || chr(0) || rowkey AS rowkey,
                   'i' AS family, 'r' AS qualifier, version,
                   rowkey AS value
            FROM cells
            WHERE family = 'd' AND qualifier = 'user_id'
              AND rowkey IS NOT NULL AND value IS NOT NULL)
          ORDER BY rowkey, version""",

    // the index must change the PLAN, never the answer: the oracle is
    // the direct value semi-join on the rebuild
    "cell_index_probe" ->
      s"""WITH cells AS (${CellQueries.eventCellsSql}),
              keys AS (SELECT DISTINCT rowkey FROM cells
                       WHERE family = 'd' AND qualifier = 'value'
                         AND value = (SELECT min(value) FROM cells
                                      WHERE family = 'd'
                                        AND qualifier = 'value'))
          SELECT c.* FROM cells c JOIN keys USING (rowkey)
          ORDER BY rowkey, qualifier""",

    // the post-sync index: the uid mapping over base ∪ the appended
    // delta band — an incremental sync must land exactly where a full
    // rebuild would
    "sql_cell_call_sync_index" ->
      s"""WITH cells AS (${CellQueries.eventCellsSql}),
              all_cells AS (
                SELECT rowkey, family, qualifier, version, value FROM cells
                UNION ALL
                SELECT rowkey, family, qualifier,
                       version + 3000000 AS version, value || '#' AS value
                FROM cells WHERE rowkey >= '8' AND rowkey < '9')
          SELECT * FROM (
            SELECT value || chr(0) || rowkey AS rowkey,
                   'i' AS family, 'r' AS qualifier, version,
                   rowkey AS value
            FROM all_cells
            WHERE family = 'd' AND qualifier = 'user_id'
              AND rowkey IS NOT NULL AND value IS NOT NULL)
          ORDER BY rowkey, version""",

    // the routed plan may never change the answer: the oracle is the
    // plain predicate over the rebuilt cells — identical to what the
    // un-routed scan computes
    "cell_index_autoroute" ->
      s"""WITH cells AS (${CellQueries.eventCellsSql}),
              k AS (SELECT min(value) AS v FROM cells
                    WHERE family = 'd' AND qualifier = 'value')
          SELECT rowkey, family, qualifier, version, value
          FROM cells, k
          WHERE family = 'd' AND qualifier = 'value' AND value = k.v
          ORDER BY rowkey, version""",

    // the multi-seek IN form: same answer contract as the equality
    "cell_index_autoroute_in" ->
      s"""WITH cells AS (${CellQueries.eventCellsSql}),
              k AS (SELECT min(value) AS lo, max(value) AS hi FROM cells
                    WHERE family = 'd' AND qualifier = 'value')
          SELECT rowkey, family, qualifier, version, value
          FROM cells, k
          WHERE family = 'd' AND qualifier = 'value'
            AND value IN (k.lo, k.hi)
          ORDER BY rowkey, version""",

    // the prefix form: the same answer as the plain LIKE over the
    // rebuilt cells — the routed range seek may only change the plan
    "cell_index_autoroute_prefix" ->
      s"""WITH cells AS (${CellQueries.eventCellsSql}),
              k AS (SELECT substr(min(value), 1, 4) AS p FROM cells
                    WHERE family = 'd' AND qualifier = 'value')
          SELECT rowkey, family, qualifier, version, value
          FROM cells, k
          WHERE family = 'd' AND qualifier = 'value'
            AND value LIKE p || '%'
          ORDER BY rowkey, version""",

    // the stale-index fallback reads base ∪ the un-synced band — the
    // rows a stale-index rewrite would have silently dropped
    "cell_index_autoroute_stale" ->
      s"""WITH cells AS (${CellQueries.eventCellsSql}),
              all_cells AS (
                SELECT rowkey, family, qualifier, version, value FROM cells
                UNION ALL
                SELECT rowkey, family, qualifier,
                       version + 5000000 AS version, value || '%' AS value
                FROM cells WHERE rowkey >= '3' AND rowkey < '4'),
              k AS (SELECT min(value) AS v FROM all_cells
                    WHERE family = 'd' AND qualifier = 'value')
          SELECT rowkey, family, qualifier, version, value
          FROM all_cells, k
          WHERE family = 'd' AND qualifier = 'value' AND value = k.v
          ORDER BY rowkey, version""",

    // a sync across a compaction must land exactly where a full
    // rebuild would: the uid mapping over base ∪ both bands
    "sql_cell_call_sync_index_compacted" ->
      s"""WITH cells AS (${CellQueries.eventCellsSql}),
              all_cells AS (
                SELECT rowkey, family, qualifier, version, value FROM cells
                UNION ALL
                SELECT rowkey, family, qualifier,
                       version + 2000000 AS version, value || '+' AS value
                FROM cells WHERE rowkey >= '5' AND rowkey < '6'
                UNION ALL
                SELECT rowkey, family, qualifier,
                       version + 4000000 AS version, value || '@' AS value
                FROM cells WHERE rowkey >= '7' AND rowkey < '8')
          SELECT * FROM (
            SELECT value || chr(0) || rowkey AS rowkey,
                   'i' AS family, 'r' AS qualifier, version,
                   rowkey AS value
            FROM all_cells
            WHERE family = 'd' AND qualifier = 'user_id'
              AND rowkey IS NOT NULL AND value IS NOT NULL)
          ORDER BY rowkey, version""",

    // the composite index rebuilt in SQL: row image (latest version
    // per (rowkey, qualifier), max-value tie-break), seek cells for
    // complete key images + covered cells for non-null includes
    "cell_index_composite" ->
      s"""WITH cells AS (${CellQueries.eventCellsSql}),
              src AS (SELECT rowkey, qualifier, version, value FROM cells
                      WHERE family = 'd'
                        AND qualifier IN ('user_id', 'event_type', 'value')
                        AND rowkey IS NOT NULL AND version IS NOT NULL
                        AND value IS NOT NULL),
              vmax AS (SELECT rowkey, qualifier, max(version) AS vmax
                       FROM src GROUP BY rowkey, qualifier),
              latest AS (SELECT s.rowkey, s.qualifier, l.vmax,
                                max(s.value) AS v
                         FROM src s JOIN vmax l
                           ON s.rowkey = l.rowkey
                          AND s.qualifier = l.qualifier
                          AND s.version = l.vmax
                         GROUP BY s.rowkey, s.qualifier, l.vmax),
              piv AS (SELECT rowkey AS rk,
                        max(CASE WHEN qualifier = 'user_id' THEN v END) AS k1,
                        max(CASE WHEN qualifier = 'event_type' THEN v END) AS k2,
                        max(CASE WHEN qualifier = 'value' THEN v END) AS c1,
                        greatest(
                          max(CASE WHEN qualifier = 'user_id'
                                   THEN vmax END),
                          max(CASE WHEN qualifier = 'event_type'
                                   THEN vmax END)) AS v_img
                      FROM latest GROUP BY rowkey),
              keyed AS (SELECT rk, c1, v_img,
                               k1 || chr(0) || k2 || chr(0) || rk AS idx_rk
                        FROM piv
                        WHERE k1 IS NOT NULL AND k2 IS NOT NULL)
          SELECT * FROM (
            SELECT idx_rk AS rowkey, 'i' AS family, 'r' AS qualifier,
                   v_img AS version, rk AS value
            FROM keyed
            UNION ALL
            SELECT idx_rk, 'c', 'value', v_img, c1
            FROM keyed WHERE c1 IS NOT NULL)
          ORDER BY rowkey, family, qualifier""",

    // both freshly built indexes: full row counts (one index cell per
    // non-null base cell of the indexed qualifier), zero delta, clean
    "sql_cell_meta_indexes" ->
      s"""WITH cells AS (${CellQueries.eventCellsSql}),
              n AS (SELECT qualifier, count(*) AS n_rows FROM cells
                    WHERE family = 'd' AND rowkey IS NOT NULL
                      AND value IS NOT NULL
                      AND qualifier IN ('user_id', 'value')
                    GROUP BY qualifier)
          SELECT * FROM (
            SELECT 'events_gi_idx_uid' AS index_table, 'd' AS family,
                   'user_id' AS qualifier,
                   (SELECT n_rows FROM n WHERE qualifier = 'user_id')
                     AS n_rows,
                   CAST(0 AS BIGINT) AS delta_generations,
                   CAST(0 AS INT) AS rewritten_since_sync
            UNION ALL
            SELECT 'events_gi_idx_val', 'd', 'value',
                   (SELECT n_rows FROM n WHERE qualifier = 'value'),
                   CAST(0 AS BIGINT), CAST(0 AS INT))
          ORDER BY index_table""",

    // the post-repair table IS the interrupted commit's intended end
    // state: base cells + the replacing batch, the retired generation
    // gone — repair may land the store nowhere else
    "sql_cell_call_repair" ->
      s"""WITH cells AS (${CellQueries.eventCellsSql})
          SELECT * FROM (
            SELECT rowkey, family, qualifier, version, value FROM cells
            UNION ALL
            SELECT rowkey, family, qualifier,
                   version + 2000000 AS version, value || '+' AS value
            FROM cells WHERE rowkey >= '6' AND rowkey < '7')
          ORDER BY rowkey, qualifier, version""",

    "sql_cell_call_vacuum" ->
      """SELECT CAST(0 AS BIGINT) AS intents_completed,
                CAST(1 AS BIGINT) AS orphan_files_deleted,
                CAST(1 AS BIGINT) AS stale_tmp_dirs_deleted,
                CAST(1 AS BIGINT) AS invalid_snapshots_dropped,
                CAST(1 AS BIGINT) AS orphaned_index_syncs_dropped,
                CAST(1 AS BIGINT) AS archived_files_reclaimed""",

    // diff counts derived from the same cell rebuild: the tilde makes
    // a mismatch only where value IS NOT NULL (NULL||'~' stays NULL
    // and null-safe-matches); the shifted band is only-in-replica
    "sql_cell_call_verify_rep" ->
      s"""WITH cells AS (${CellQueries.eventCellsSql})
          SELECT CAST(0 AS BIGINT) AS only_in_table,
                 (SELECT count(*) FROM cells WHERE rowkey < '2')
                   AS only_in_other,
                 (SELECT count(*) FROM cells
                  WHERE rowkey >= '6' AND value IS NOT NULL)
                   AS value_mismatch,
                 (SELECT count(*) FROM cells WHERE rowkey < '6')
                 + (SELECT count(*) FROM cells
                    WHERE rowkey >= '6' AND value IS NULL)
                   AS matching""",
  )
}
