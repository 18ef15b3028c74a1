package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import java.nio.file.{Files, Paths}

/** Dumps `explain("formatted")` of the headline queries to PLANS.md —
  * the physical-plan evidence (pushdown, pruning, broadcast, partial
  * agg, WindowGroupLimit, custom exec) behind the scale claims.
  * Usage: `sbt "runMain graft.Plans [sfDir]"`. */
object Plans {
  private val headline = Seq(
    "filter_pred", "project_arith", "agg_groupby", "agg_rollup",
    "join_inner_bhj", "join_inner_smj", "join_multiway", "join_salted",
    "join_theta", "join_bucketed",
    "join_asof_native", "win_topk_group", "topk_global", "sim_topk",
    "sink_hbase_cells", "cell_versions", "dedup_exact", "dedup_simhash",
    "text_tfidf", "scan_pruned", "scan_json_corrupt",
    "dedup_blocklist", "text_pack_sequences", "split_train_test",
    "q1_pricing", "q3_shipping",
    "scan_dpp", "join_bloom", "layout_zorder", "dedup_minhash_portable",
    "sample_weighted", "sim_rerank", "dedup_embedding_lsh",
    "join_asof_fwd", "win_fill_forward",
    "profile_table", "agg_bitmap_distinct", "agg_histogram_equidepth",
    "agg_salted", "ts_resample", "join_lateral", "graph_pagerank",
    "cell_bulkload_layout", "cell_scan_range", "win_funnel",
    "q5_local_supplier", "q18_large_orders", "win_rolling_corr",
    "join_asof_nearest", "agg_weighted_median",
    "sink_cells_nested", "sink_cells_map", "sink_cells_variant",
    "pipeline_e2e_v2", "fn_variant", "ts_ohlc",
    "graph_triangles", "filter_not_in_null", "q7_volume", "q10_returned",
    "udf_sql", "agg_listagg", "win_share_of_total", "cell_unflatten",
    "q2_min_cost", "layout_hilbert", "scan_avro", "sink_cells_variant_deep",
    "q4_priority", "q16_supplier_cnt", "q21_waiting_supplier",
    "agg_countmin", "pipeline_e2e_v3",
    "q6_forecast", "q9_product_profit", "q13_cust_distribution",
    "q15_top_supplier", "q19_discounted", "q20_potential_promo",
    "dedup_ngram", "join_fuzzy", "ts_retention", "join_fuzzy_shuffled",
    "graph_reachability", "rcte_running_clamp", "sql_pipe", "obs_metrics",
    "cell_connector_range", "cell_connector_prefix",
    "sql_cell_connector", "cell_connector_compact",
    "cell_connector_multiget", "cell_connector_multirange",
    "cell_connector_snapshot",
    "cell_connector_split_regions", "cell_connector_timerange",
    "cell_connector_compact_minor", "sql_cell_catalog", "sql_cell_delete",
    "sql_cell_update", "sql_cell_merge", "sql_cell_time_travel",
    "sql_cell_time_travel_ts", "cell_connector_count_meta",
    "sql_cell_call_compact", "sql_cell_call_snapshot",
    "sql_cell_checkand", "sql_cell_sync", "cell_connector_gc",
    "cell_connector_incremental", "cell_connector_incremental_between",
    "cell_connector_count_range", "sql_cell_namespace",
    "sql_cell_call_export", "sql_cell_call_bulkload",
    "sql_cell_truncate", "sql_cell_call_normalize",
    "sql_cell_meta_files", "sql_cell_meta_snapshots",
    "sql_cell_meta_history", "sql_cell_call_vacuum", "sql_cell_ctas",
    "join_cell_broadcast", "join_cell_spj", "agg_cell_bucketed",
    "cell_connector_bucket_get", "join_cell_spj_oneside",
    "sql_cell_script_batch", "udtf_sql_table", "cell_connector_sample",
    "sql_exec_immediate",
    "cell_connector_fuzzy", "sql_cell_snapshot_archive",
    "sql_cell_family_policy", "sql_cell_call_rebucket",
    // r19 additions: grouped metadata extremes (PushedGroupBy +
    // MIN/MAX(version) from manifests), the index-assisted probe
    // (prefix-seek + multiget plans), and the LLM-pipeline quartet
    "cell_connector_count_family", "cell_connector_minmax_family",
    "cell_connector_count_family_range",
    "cell_index_probe", "dedup_substring", "dedup_winnow",
    "dedup_substring_prune",
    "sample_temperature", "text_quality_buckets",
    // r20 additions: the index as a planner citizen (routed semi-join
    // from plain SQL — equality and IN multi-seek forms), the
    // composite/covering row-image index, the content-level sync
    // across a compaction, and ExactSubstr's hashed-shuffle + rewrite
    "cell_index_autoroute", "cell_index_autoroute_in",
    "cell_index_autoroute_prefix",
    "cell_index_composite", "sql_cell_call_sync_index_compacted",
    "dedup_substring_hashed", "dedup_substring_rewrite")

  /** What to explain per key. `obs_metrics`' query RESULT is a 1-row
    * local relation of listener-delivered values; the plan worth
    * reading is the observed pass with its `CollectMetrics` node. */
  private def planDf(s: SparkSession, name: String, dir: String) =
    name match {
      case "obs_metrics" =>
        operators.SqlSurface.obsPass(s, dir,
          org.apache.spark.sql.Observation())
      case _ => SparkEntry.queries(name)(s, dir)
    }

  /** Runtime-skew evidence (VERDICT r10 #5): a deliberately skewed
    * staged SMJ — one key holds ~95% of the left side — EXECUTED under
    * fixture-scaled AQE thresholds, final adaptive plan dumped so
    * `OptimizeSkewedJoin`'s split (`skew=true` on the SortMergeJoin,
    * `AQEShuffleRead ... skewed`) is visible. This is the runtime half
    * of the skew story; `join_salted` above is the manual half
    * (explicit salt column when the skewed key is KNOWN a priori — no
    * AQE dependence, deterministic layout). PlanSpec pins both. */
  private def skewSection(s: SparkSession): String = {
    import org.apache.spark.sql.functions._
    val confs = Map(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.5",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "100KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.keys.map(k => k -> s.conf.getOption(k)).toMap
    try {
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      val left = s.range(300000)
        .select(when(col("id") % 20 =!= 0, lit(7L)).otherwise(col("id"))
                  .as("k"), xxhash64(col("id")).as("v"))
      val right = s.range(1000)
        .select(col("id").as("k2"), (col("id") * 2).as("w"))
      val joined = left.hint("merge").join(right, col("k") === col("k2"))
        .agg(count(lit(1)).as("n"), max("v").as("mv"), sum("w").as("sw"))
      joined.collect()
      s"## aqe_skew_join (staged evidence, executed final plan)\n\n```\n" +
        joined.queryExecution.executedPlan.toString + "```\n"
    } finally saved.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None)    => s.conf.unset(k)
    }
  }

  /** Round-14 evidence: Spark's DPP machinery driving the graftcell
    * DSv2 scan's SupportsRuntimeFiltering — the broadcast join's build
    * side delivers its rowkey set at runtime and the scan re-plans to
    * only the region files those keys live in (`regionFiles: k/n` with
    * k<n plus `dynamicpruningexpression` in RuntimeFilters). The DPP
    * benefit heuristic is stats-driven and the fixture store is KB-
    * scale, so the probe pins useStats=false + a generous fallback
    * ratio — at 100 TB the scan's reported statistics make the case
    * unaided. Dim-side predicate must be a comparison (isLikelySelective
    * rejects bare boolean columns; a driver-local Seq dim would
    * constant-fold to a LocalRelation with no Filter node at all). */
  private def connectorDppSection(s: SparkSession, sfDir: String): String = {
    import org.apache.spark.sql.functions._
    val confs = Map(
      "spark.sql.optimizer.dynamicPartitionPruning.useStats" -> "false",
      "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio" -> "100.0")
    val saved = confs.keys.map(k => k -> s.conf.getOption(k)).toMap
    try {
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      SparkEntry.queries("scan_cell_connector")(s, sfDir).queryExecution
      val store = "/tmp/graft_cellstore_" + sfDir.replaceAll("[^A-Za-z0-9.]", "_")
      val dimPath = "/tmp/graft_dpp_dim_" + sfDir.replaceAll("[^A-Za-z0-9.]", "_")
      import s.implicits._
      Seq(("41", "keep"), ("42", "keep"), ("999999", "drop"))
        .toDF("rk", "flag").write.mode("overwrite").parquet(dimPath)
      val dim = s.read.parquet(dimPath).filter(col("flag") === "keep")
      val fact = s.read.format("graftcell").load(store)
      val j = fact.join(broadcast(dim), col("rowkey") === col("rk"))
      j.collect()
      "## connector_runtime_dpp (staged evidence, executed final plan)\n\n```\n" +
        j.queryExecution.executedPlan.toString + "```\n"
    } finally saved.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None)    => s.conf.unset(k)
    }
  }

  /** Row-level MERGE pipeline evidence: the conditional-arm MERGE of
    * sql_cell_checkand explained end-to-end — full-outer SMJ →
    * `MergeRows` (one instruction per arm, incl. the carry-over for
    * matched rows where no arm fires — the checkAndPut failure path)
    * → `ReplaceData` with the declared HFile range shuffle + sort
    * INSIDE the write. EXPLAIN only (the contract key executes the
    * real thing); runs after the key has staged the table + view. */
  private def mergePlanSection(s: SparkSession, sfDir: String): String = {
    SparkEntry.queries("sql_cell_checkand")(s, sfDir).queryExecution
    val plan = s.sql(
      """EXPLAIN FORMATTED
         MERGE INTO graftcat.events_cas t
         USING graft_cas_src s
         ON t.rowkey = s.rowkey AND t.family = s.family
            AND t.qualifier = s.qualifier
         WHEN MATCHED AND s.value = '__DELETE__' THEN DELETE
         WHEN MATCHED AND t.version < s.version THEN UPDATE SET
           version = s.version, value = s.value
         WHEN NOT MATCHED AND s.value <> '__DELETE__' THEN INSERT *""")
      .head.getString(0)
    "## rowlevel_merge_checkand (staged evidence, EXPLAIN FORMATTED " +
      "of the MERGE command)\n\n```\n" + plan + "\n```\n"
  }

  /** Round-15 evidence: the GROUP-GRANULAR row-level rewrite executed
    * end-to-end — Spark's RowLevelOperationRuntimeGroupFiltering builds
    * a matching-rows subquery over the normal (pruned) scan projecting
    * `_region_file` and delivers it to the COW scan as a runtime
    * `dynamicpruningexpression(_region_file IN ...)`; the scan plans
    * ONLY the matched region files and the paired write replaces
    * exactly those. The section shows the executed UPDATE plan (the
    * DPP subquery + the filtered BatchScan) plus the store-level
    * outcome: a one-row UPDATE on a 4-file store retires 1 file and
    * leaves 3 byte-untouched — O(touched regions), not O(table). */
  private def groupFilterSection(s: SparkSession): String = {
    import scala.collection.JavaConverters._
    import graft.sources.cell.{CellFooterCache, GraftCell}
    val root = java.nio.file.Files
      .createTempDirectory("graft_plans_grp_").toString
    s.conf.set("spark.sql.catalog.graftplansgrp",
               classOf[graft.sources.cell.GraftCellCatalog].getName)
    s.conf.set("spark.sql.catalog.graftplansgrp.root", root)
    s.sql("""CREATE TABLE graftplansgrp.t (rowkey STRING, family STRING,
             qualifier STRING, version BIGINT, value STRING)
             USING graftcell""")
    val store = s"$root/t"
    s.createDataFrame(
      ('a' to 't').map(c =>
        org.apache.spark.sql.Row(c.toString, "d", "q", 1L, s"v$c")).asJava,
      GraftCell.SCHEMA)
      .write.format("graftcell").option("maxRowsPerFile", "5")
      .mode("append").save(store)
    val before = CellFooterCache.filesOf(store)
      .map(m => m.path -> new java.io.File(m.path).lastModified()).toMap
    val df = s.sql(
      "UPDATE graftplansgrp.t SET value = concat(value, '*') WHERE rowkey = 'a'")
    val plan = df.queryExecution.executedPlan.toString
    val after = CellFooterCache.filesOf(store)
      .map(m => m.path -> new java.io.File(m.path).lastModified()).toMap
    val untouched = before.count { case (p, t) => after.get(p).contains(t) }
    val retired = before.keySet.diff(after.keySet).size
    "## rowlevel_group_filter (executed UPDATE, runtime `_region_file` " +
      "group pruning)\n\n```\n" + plan + "\n```\n\n" +
      s"Store outcome: ${before.size} region files before; one-row UPDATE " +
      s"retired $retired, left $untouched byte-untouched (same path+mtime), " +
      s"published 1 rewritten batch dir — O(touched regions) per statement.\n"
  }

  /** Round-15 MERGE-skew adjudication (r14 verdict #4). The worry was
    * a hot/monotone rowkey band skewing the full-outer SMJ under
    * MERGE. Three facts, each evidenced below:
    *  1. the MERGE shuffle is HASH partitioning on the FULL cell key
    *     (rowkey, family, qualifier) — the executed plan shows it —
    *     and hash partitioning is band-blind: a monotone hot band is
    *     spread uniformly (measured max/mean partition ratio ~1). Only
    *     RANGE partitioners (the write's bulk-load shuffle, which
    *     samples and equalizes) even see bands.
    *  2. the shape that WOULD skew is a merge keyed on rowkey alone
    *     against a fat rowkey (many qualifiers): measured ratio ~32/1
    *     at 32 partitions — and AQE CANNOT rescue it, because
    *     OptimizeSkewedJoin's canSplitLeftSide/canSplitRightSide both
    *     exclude FullOuter (verified against the Spark 4.1 bytecode),
    *     which is what MERGE plans.
    *  3. therefore the engine's contract is structural, not adaptive:
    *     every DML key merges ON the full cell key, where per-key
    *     fan-out is exactly 1 by store uniqueness; a rowkey-only merge
    *     over fat rows must pre-aggregate or salt its SOURCE (the
    *     join_salted pattern) before the MERGE. */
  private def mergeSkewSection(s: SparkSession): String = {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files
      .createTempDirectory("graft_plans_skew_").toString
    s.conf.set("spark.sql.catalog.graftplansskew",
               classOf[graft.sources.cell.GraftCellCatalog].getName)
    s.conf.set("spark.sql.catalog.graftplansskew.root", root)
    s.sql("""CREATE TABLE graftplansskew.t (rowkey STRING, family STRING,
             qualifier STRING, version BIGINT, value STRING)
             USING graftcell""")
    // hot MONOTONE band: 60% of cells under the '7_' prefix (fresh
    // ingest concentrating on the newest band), 4 qualifiers per row
    val rows = s.range(10000).select(
      when(col("id") % 5 < 3,
           concat(lit("7_"), lpad(col("id").cast("string"), 6, "0")))
        .otherwise(concat(lit("3_"), lpad(col("id").cast("string"), 6, "0")))
        .as("rowkey"))
    val cells = rows
      .crossJoin(s.range(4).select(concat(lit("q"), col("id").cast("string")).as("qualifier")))
      .select(col("rowkey"), lit("d").as("family"), col("qualifier"),
              lit(1L).as("version"), sha1(col("rowkey")).as("value"))
    cells.write.format("graftcell").mode("append").save(s"$root/t")
    cells.filter(col("rowkey").startsWith("7_0000"))
      .withColumn("version", lit(2L))
      .createOrReplaceTempView("graft_skew_src")
    val df = s.sql("""MERGE INTO graftplansskew.t t USING graft_skew_src s
                      ON t.rowkey = s.rowkey AND t.family = s.family
                         AND t.qualifier = s.qualifier
                      WHEN MATCHED THEN UPDATE SET version = s.version,
                                                   value = s.value
                      WHEN NOT MATCHED THEN INSERT *""")
    val plan = df.queryExecution.executedPlan.toString
    // the measured balance of the exact partitioner expressions
    def ratio(d: org.apache.spark.sql.DataFrame): Double = {
      // mean over ALL 32 partitions (empty ones included — a fat key
      // leaving 31 partitions empty is exactly the skew being measured)
      val counts = d.groupBy("p").count().agg(
        max("count").as("mx"), sum("count").as("total")).head
      counts.getLong(0).toDouble / (counts.getLong(1).toDouble / 32.0)
    }
    val fullKey = ratio(cells.select(
      pmod(hash(col("rowkey"), col("family"), col("qualifier")), lit(32)).as("p")))
    // the anti-pattern: ONE fat rowkey carrying 20k qualifiers, merge
    // keyed on rowkey alone — everything hashes to one partition
    val fat = s.range(20000).select(
      lit("fatrow").as("rowkey"),
      concat(lit("q"), col("id").cast("string")).as("qualifier"))
    val rowkeyOnly = ratio(fat.select(pmod(hash(col("rowkey")), lit(32)).as("p")))
    "## merge_skew_hash_balance (executed MERGE against a hot monotone " +
      "band + measured partitioner balance)\n\n```\n" + plan + "\n```\n\n" +
      f"Measured max/mean shuffle-partition ratio at 32 partitions: " +
      f"full-cell-key hash over the 60%%-hot-band store = $fullKey%.2f " +
      f"(band-blind, balanced); rowkey-only hash over one fat rowkey " +
      f"with 20k qualifiers = $rowkeyOnly%.1f (all in one partition — " +
      "and UNSPLITTABLE by AQE: OptimizeSkewedJoin excludes the FullOuter " +
      "join MERGE plans). The engine's contract keys therefore merge ON " +
      "the full cell key (per-key fan-out = 1 by store uniqueness); a " +
      "rowkey-only merge over fat rows must pre-aggregate or salt its " +
      "source first (join_salted pattern).\n"
  }

  /** Round-16 evidence: post-hoc REGION SURGERY (CALL split_region /
    * merge_regions) changes what a probe PLANS, not what it returns.
    * A one-file store is split at 'm'; the same one-sided probe that
    * planned the whole store (`regionFiles: 1/1`, all bytes) afterwards
    * plans half of it (`regionFiles: 1/2`); merge_regions folds the
    * halves back (files 2→1) with byte-identical content. At 100 TB:
    * split the one hot region instead of re-loading the table, merge
    * to bound region-file count (manifest size, planning fan-out). */
  private def regionSurgerySection(s: SparkSession): String = {
    import scala.collection.JavaConverters._
    import graft.sources.cell.{CellFooterCache, GraftCell}
    val root = java.nio.file.Files
      .createTempDirectory("graft_plans_surgery_").toString
    s.conf.set("spark.sql.catalog.graftplanssrg",
               classOf[graft.sources.cell.GraftCellCatalog].getName)
    s.conf.set("spark.sql.catalog.graftplanssrg.root", root)
    s.sql("""CREATE TABLE graftplanssrg.t (rowkey STRING, family STRING,
             qualifier STRING, version BIGINT, value STRING)
             USING graftcell""")
    val store = s"$root/t"
    s.createDataFrame(
      ('a' to 'z').map(c =>
        org.apache.spark.sql.Row(c.toString, "d", "q", 1L, s"v$c")).asJava,
      GraftCell.SCHEMA).coalesce(1)
      .write.format("graftcell").mode("append").save(store)
    def probePlan() = {
      val df = s.sql("SELECT * FROM graftplanssrg.t WHERE rowkey < 'm'")
      df.collect()
      df.queryExecution.executedPlan.toString
    }
    val planBefore = probePlan()
    s.sql("CALL graftplanssrg.split_region('t', 'm')").collect()
    val planAfter = probePlan()
    val nSplit = CellFooterCache.filesOf(store).size
    s.sql("CALL graftplanssrg.merge_regions('t', 1073741824)").collect()
    val nMerged = CellFooterCache.filesOf(store).size
    "## region_surgery_split_merge (executed probes before/after " +
      "CALL split_region, then merge_regions)\n\n" +
      "Probe `rowkey < 'm'` BEFORE the split (one region file holds " +
      "a..z — the probe must plan it all):\n\n```\n" + planBefore +
      "```\n\nAFTER `CALL split_region('t', 'm')` (the file is cut at " +
      "the key; the same probe plans only the lo half):\n\n```\n" +
      planAfter + "```\n\n" +
      s"Store outcome: 1 file → $nSplit after split (cut exactly at " +
      s"'m', halves disjoint); `CALL merge_regions('t', 1g)` folds " +
      s"them back to $nMerged with byte-identical content.\n"
  }

  /** Round-16 evidence: FAMILY/QUALIFIER manifest stats (the per-CF
    * store-file analog). A qualifier-only probe carries no rowkey
    * constraint, so file pruning used to plan every region file; with
    * family/qualifier min/max in the write-task stats (zero extra IO,
    * same commit path) the probe skips whole generations written for
    * another column set — `regionFiles: k/n` with k<n and the rowkey
    * completely unconstrained. */
  private def qualifierPruneSection(s: SparkSession): String = {
    import org.apache.spark.sql.functions._
    import scala.collection.JavaConverters._
    import graft.sources.cell.GraftCell
    val store = java.nio.file.Files
      .createTempDirectory("graft_plans_qual_").toString + "/t"
    def gen(qs: Seq[String]) = s.createDataFrame(
      (for { c <- 'a' to 'j'; q <- qs }
        yield org.apache.spark.sql.Row(c.toString, "d", q, 1L, s"$c/$q")).asJava,
      GraftCell.SCHEMA)
    gen(Seq("alpha", "beta")).write.format("graftcell")
      .mode("append").save(store)
    gen(Seq("zeta")).write.format("graftcell")
      .mode("append").save(store)
    val df = s.read.format("graftcell").load(store)
      .filter(col("qualifier") === "zeta")
    df.collect()
    "## qualifier_stats_prune (executed qualifier-only probe over a " +
      "two-generation store)\n\nGeneration 1 holds qualifiers " +
      "{alpha, beta}, generation 2 {zeta}, SAME rowkey band — the " +
      "probe has no rowkey constraint, yet plans only generation 2's " +
      "files from the manifest's qualifier min/max:\n\n```\n" +
      df.queryExecution.executedPlan.toString + "```\n"
  }

  /** Round-18 evidence: VALUE manifest stats — the
    * SingleColumnValueFilter analog's file pruning. A value-only probe
    * carries no rowkey constraint, so until r18 it planned every
    * region file; with value min/max in the write-task stats
    * (truncation-sound 64-byte bounds, zero extra IO) a TIME-BATCHED
    * store — one append per era, keys interleaved — skips every other
    * era's files: `regionFiles: k/n` with k ≪ n and the rowkey
    * completely unconstrained. */
  private def valuePruneSection(s: SparkSession): String = {
    import org.apache.spark.sql.functions._
    import scala.collection.JavaConverters._
    import graft.sources.cell.GraftCell
    val store = java.nio.file.Files
      .createTempDirectory("graft_plans_val_").toString + "/t"
    (0 to 2).foreach { era =>
      s.createDataFrame(
        (0 until 40).map { i =>
          org.apache.spark.sql.Row(f"k${i * 3 + era}%04d", "d", "q", 1L,
                                   f"202$era-${i % 12 + 1}%02d") }.asJava,
        GraftCell.SCHEMA).coalesce(1)
        .write.format("graftcell").option("maxRowsPerFile", 10)
        .mode("append").save(store)
    }
    val df = s.read.format("graftcell").load(store)
      .filter(col("value") >= "2021-" && col("value") < "2022-")
      .select("rowkey", "value")
    df.collect()
    "## value_stats_prune (executed value-only probe over a " +
      "time-batched three-era store)\n\nEach era appended separately " +
      "(values cluster per generation, rowkeys interleave — rowkey " +
      "stats are useless for this probe), yet the 2021 value band " +
      "plans only era 1's region files from the manifest's value " +
      "min/max:\n\n```\n" +
      df.queryExecution.executedPlan.toString + "```\n"
  }

  /** The VECTORIZED connector scan: every graftcell read decodes
    * ColumnarBatches through one reader (`ColumnarToRow` feeding
    * WholeStageCodegen in the plan). A filter-free full-store pass
    * hands out the zero-copy projected view; a FILTERED seek re-checks
    * the pushed predicate exactly against each decoded batch and
    * compacts the survivors, so seek-shaped plans (the connector's
    * signature workload) get the same decode. */
  private def columnarScanSection(s: SparkSession, sfDir: String): String = {
    import org.apache.spark.sql.functions._
    import graft.operators.CellConnector
    val store = CellConnector.stage(s, sfDir)
    val full = s.read.format("graftcell").load(store)
      .groupBy(col("family")).agg(count(lit(1)).as("n"),
                                  max(col("value")).as("mx"))
    full.collect()
    val fullPlan = full.queryExecution.executedPlan.toString
    val seek = s.read.format("graftcell").load(store)
      .filter(col("rowkey") >= "42" && col("rowkey") < "43")
      .select("rowkey", "value")
    seek.collect()
    val seekPlan = seek.queryExecution.executedPlan.toString
    "## columnar_scan (the vectorized connector read path)\n\n" +
      "Every graftcell read — batch and COW scans, micro-batch\n" +
      "streams, DML rewrites and region surgery — decodes\n" +
      "ColumnarBatches through ONE reader over Spark's vectorized\n" +
      "parquet reader (`ColumnarToRow` into WholeStageCodegen). The\n" +
      "full-store aggregation pass (no residual row-level work) gets\n" +
      "the zero-copy projected view:\n\n" +
      "```\n" + fullPlan + "```\n\n" +
      "The filtered seek takes the same decode: pushed filters are\n" +
      "claimed by the scan, re-checked exactly per decoded row, and\n" +
      "the survivors compacted into fresh batches:\n\n" +
      "```\n" + seekPlan + "```\n"
  }

  /** Round-19 evidence: the VALUE BLOOM point probe — membership
    * evidence where the r18 value range stats span everything. */
  /** Round-20 evidence: AUTOMATIC index routing — the same plain-SQL
    * value predicate, executed twice: with a fresh covering index
    * (IndexRoute answers it COVERED: one index prefix-seek, every
    * output column reconstructed from the index row, the base store
    * absent from the plan) and with the index stale (the rule
    * declines, the plan is the ordinary pushed-filter scan). What to
    * read: the routed plan's SINGLE GraftCellScan over the _idx_
    * store with `regionFiles: k/n`, k < n (the value-prefix seek
    * pruning), the reconstruction Project above it; the fallback
    * plan scans the base instead. */
  private def indexRouteSection(s: SparkSession): String = {
    val root = java.nio.file.Files
      .createTempDirectory("graft_plans_ir_").toString
    s.conf.set("spark.sql.catalog.graftir",
               classOf[graft.sources.cell.GraftCellCatalog].getName)
    s.conf.set("spark.sql.catalog.graftir.root", root)
    s.sql("""CREATE TABLE graftir.t (rowkey STRING, family STRING,
             qualifier STRING, version BIGINT, value STRING)
             USING graftcell""")
    s.sql("""INSERT OVERWRITE graftir.t
             SELECT format_string('k%05d', id), 'd', 'user_id', 1L,
                    concat('u', id % 97)
             FROM range(0, 20000)""")
    s.sql("CALL graftir.build_index('t', 'uid', 'd', 'user_id', 2000)")
      .collect()
    val sql = """SELECT rowkey, family, qualifier, version, value
                 FROM graftir.t
                 WHERE family = 'd' AND qualifier = 'user_id'
                   AND value = 'u42'"""
    val routed = s.sql(sql)
    routed.collect()
    s.sql("""INSERT INTO graftir.t VALUES
             ('z00001', 'd', 'user_id', 2L, 'u42')""")
    val stale = s.sql(sql)
    stale.collect()
    // the seek literal embeds the 0x00 separator — rendered as \0 so
    // PLANS.md stays a text file
    def txt(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString.replace("\u0000", "\\0")
    "## cell_index_autoroute (r20 — executed routed plan vs stale " +
      "fallback)\n\nWith a covering index, the plain-SQL value " +
      "predicate is answered COVERED — one index prefix-seek, every " +
      "column reconstructed from the index row, the base store " +
      "nowhere in the plan:\n\n```\n" + txt(routed) +
      "```\n\nOne un-synced base append later, the SAME SQL falls " +
      "back to the plain pushed-filter scan (loudly-by-plan, " +
      "never wrongly-by-data):\n\n```\n" + txt(stale) + "```\n"
  }

  private def valueBloomSection(s: SparkSession): String = {
    import org.apache.spark.sql.functions._
    import scala.collection.JavaConverters._
    import graft.sources.cell.GraftCell
    val store = java.nio.file.Files
      .createTempDirectory("graft_plans_vb_").toString
    def put(prefix: String, values: Seq[String]): Unit = s.createDataFrame(
      values.zipWithIndex.map { case (v, i) =>
        org.apache.spark.sql.Row(f"$prefix$i%04d", "d", "q", 1L, v) }.asJava,
      GraftCell.SCHEMA)
      .write.format("graftcell").mode("append").save(store)
    // every generation's value RANGE spans the alphabet (alternating
    // extremes): only membership evidence can prune a point probe
    put("a", (0 until 20).map(i => if (i % 2 == 0) "aa" else "zz"))
    put("b", (0 until 20).map(i => if (i % 2 == 0) "bb" else "yy"))
    val df = s.read.format("graftcell").load(store)
      .filter(col("value") === "mm").select("rowkey", "value")
    df.collect()
    "## value_bloom_prune (r19 — executed point probe for an ABSENT " +
      "value)\n\nBoth generations' value [min,max] contain 'mm' (the " +
      "ranges span by construction), yet the manifest's per-file value " +
      "bloom proves absence and the scan plans ZERO region files — the " +
      "multiget-style point-probe evidence the 64-byte range stats " +
      "cannot give:\n\n```\n" +
      df.queryExecution.executedPlan.toString + "```\n"
  }

  /** Round-16 §2.13 evidence: the verify_rep diff executed on two
    * staged stores that diverge one cell each way. The plan to read:
    * two GraftCellScans (full schema — the diff needs every cell),
    * ONE shuffle per side into a null-safe full-outer SortMergeJoin on
    * the full cell key, then a partial+final conditional-count
    * aggregate shipping FOUR longs — the inherent cost shape of a
    * cross-cluster integrity check; nothing runs through the driver. */
  private def verifyRepSection(s: SparkSession): String = {
    import scala.collection.JavaConverters._
    import graft.sources.cell.{GraftCell, GraftCellMaintenance}
    val root = java.nio.file.Files
      .createTempDirectory("graft_plans_vr_").toString
    def put(path: String, rows: (String, String)*): Unit =
      s.createDataFrame(
        rows.map { case (rk, v) =>
          org.apache.spark.sql.Row(rk, "d", "q", 1L, v) }.asJava,
        GraftCell.SCHEMA)
        .write.format("graftcell").mode("append").save(path)
    put(s"$root/primary", "a" -> "1", "b" -> "2", "c" -> "3")
    put(s"$root/replica", "a" -> "1", "b" -> "X", "d" -> "4")
    val df = GraftCellMaintenance.repDiff(s, s"$root/primary",
                                          s"$root/replica")
    val row = df.collect()(0)
    "## verify_rep_diff (executed cell-level diff of two stores)\n\n" +
      "```\n" + df.queryExecution.executedPlan.toString + "```\n\n" +
      s"Diff outcome on the staged divergence: only_left=${row.getLong(0)} " +
      s"only_right=${row.getLong(1)} mismatch=${row.getLong(2)} " +
      s"matching=${row.getLong(3)} — one null-safe full-outer SMJ on the " +
      "full cell key + one conditional-count aggregate; four longs " +
      "leave the cluster.\n"
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    // fixed local[4], not the host's cores: PLANS.md stays host-independent
    val spark = GraftSession.local(4)
    val mode = ExplainMode.fromString("formatted")
    val body = headline.map { name =>
      val plan = planDf(spark, name, sfDir)
        .queryExecution.explainString(mode)
      s"## $name\n\n```\n$plan```\n"
    }.mkString("\n") + "\n" + skewSection(spark) + "\n" +
      connectorDppSection(spark, sfDir) + "\n" +
      mergePlanSection(spark, sfDir) + "\n" +
      groupFilterSection(spark) + "\n" +
      mergeSkewSection(spark) + "\n" +
      regionSurgerySection(spark) + "\n" +
      qualifierPruneSection(spark) + "\n" +
      valuePruneSection(spark) + "\n" +
      verifyRepSection(spark) + "\n" +
      columnarScanSection(spark, sfDir) + "\n" +
      valueBloomSection(spark) + "\n" +
      indexRouteSection(spark)
    val header =
      s"""# PLANS — formatted physical plans of headline queries
         |
         |Generated by `graft.Plans` on $sfDir. What to look for:
         |`PushedFilters`/`ReadSchema` on every scan (pushdown+pruning),
         |`BroadcastHashJoin` on dimension joins, partial+final
         |`HashAggregate` pairs, `WindowGroupLimit` below the exchange for
         |top-k, `TakeOrderedAndProject` for global limits, the custom
         |`AsOfJoin` exec, `graft_cosine` inside project nodes,
         |`PartitionFilters` on the pruned partitioned scan (scan_pruned),
         |`Bucketed: true` scans feeding a SortMergeJoin with no exchange
         |below the join (join_bucketed — the storage-partitioned join),
         |`dynamicpruningexpression` on the fact scan (scan_dpp),
         |`bloom_filter_might_contain` on the probe side (join_bloom),
         |`WindowGroupLimit` under sample_weighted's per-stratum rank,
         |partial `HashAggregate` min-lanes under dedup_minhash_portable,
         |and no BroadcastNestedLoopJoin anywhere except broadcast-bounded
         |builds (join_theta is the range-bucketed CDF formulation).
         |Round-13 additions: `UnionLoop` recursion under
         |rcte_running_clamp (linear recursion, one row per order per
         |level) — graph_reachability deliberately has NO UnionLoop: the
         |contract key is the |V|-bounded aggregated-frontier BFS (3
         |unrolled join+agg levels over one checkpointed edge table; the
         |WITH RECURSIVE walk-enumerating twin stays a sf0.001 spec
         |oracle because it aborts on cteRecursionRowLimit at scale) —
         |sql_pipe's plan is byte-shape-identical to q1_pricing (pipe
         |syntax is parser surface only), `CollectMetrics` riding the
         |obs_metrics scan (metrics with zero extra passes), and the
         |executed `aqe_skew_join` final plan showing
         |`OptimizeSkewedJoin` splitting the hot partition (skew=true)
         |next to the manual join_salted path.
         |Round-14: `GraftCellScan` (the DSv2 cell connector) showing
         |`PushedFilters`/`ReadSchema`/`regionFiles: k/n` on the
         |cell_connector_* keys (plan-time footer-stats file pruning +
         |IO-level column pruning), and `connector_runtime_dpp` — the
         |executed broadcast-join plan where Spark's DPP injects
         |`dynamicpruningexpression(rowkey IN ...)` into the scan's
         |RuntimeFilters and the planned regionFiles collapse to the
         |joined keys' regions (SupportsRuntimeFiltering end-to-end).
         |`rowlevel_merge_checkand` shows the conditional-arm MERGE
         |pipeline itself (EXPLAIN FORMATTED of the command): the
         |full-outer SortMergeJoin, the MergeRows instruction set, and
         |ReplaceData planning the declared HFile range shuffle + sort
         |inside the write.
         |Round-15: `rowlevel_group_filter` — the executed UPDATE where
         |RowLevelOperationRuntimeGroupFiltering's matching-rows
         |subquery (itself footer-pruned, regionFiles k/n) feeds a
         |`dynamicpruningexpression(_region_file IN ...)` into the COW
         |scan, which reports `runtimeGroupFilter: 1/4 region files`,
         |and the replace commit retires exactly that one file (store
         |outcome line below the plan) — row-level DML is O(touched
         |regions). `merge_skew_hash_balance` adjudicates the MERGE
         |skew question with the executed hot-band MERGE plan plus
         |measured partitioner balance (full-cell-key hash 1.05
         |max/mean vs 32.0 for the rowkey-only anti-pattern, which AQE
         |cannot split under FullOuter — the mitigation is structural:
         |merge ON the full cell key, or salt the source).
         |`sql_cell_time_travel_ts` plans a timestamp-pinned dir set
         |(`timestampPin=` in the scan description) resolved from the
         |persisted manifests' monotonic commit stamps.
         |Round-16 §2.12: `cell_connector_incremental` /
         |`cell_connector_incremental_between` plan with
         |`sinceSnapshot=inc1` in the scan description and a
         |`regionFiles: k/n` denominator that is ALREADY the delta
         |(live dirs minus the snapshot's pinned dirs — the O(delta)
         |incremental read), with pushed filters pruning inside it.
         |Round-16 §2.13: `sql_cell_call_bulkload`'s readback scans the
         |bulkloaded table planning the ADOPTED generations from their
         |traveled manifests (same GraftCellScan, zero footer opens),
         |and `verify_rep_diff` shows the executed cell-level diff —
         |two connector scans into a null-safe full-outer SortMergeJoin
         |on the full cell key plus one conditional-count aggregate,
         |the cross-cluster integrity check at cluster bandwidth.
         |Round-18: `value_stats_prune` — the executed value-only probe
         |over a time-batched three-era store planning only its era's
         |region files from the manifest's new value min/max (the
         |SingleColumnValueFilter analog; rowkey completely
         |unconstrained).
         |Round-19: `columnar_scan` — the VECTORIZED connector read
         |path: every scan decodes ColumnarBatches (ColumnarToRow into
         |WholeStageCodegen) through one reader, filter-free scans as a
         |zero-copy view, filtered seeks re-checked exactly per row; and
         |`value_bloom_prune` — a point probe for an absent value plans
         |ZERO region files from the manifest's per-file value bloom
         |even though every file's value [min,max] contains it.
         |
         |Perf note (round-2 adjudication of the r01 `sink_hbase_cells`
         |44.3 s outlier): isolated runs at sf0.1 measure 6.6 s cold /
         |1.4-1.9 s steady-state, and a fresh full-bench run scores it
         |1.46 s with an unchanged plan — the r01 number was the
         |documented random driver-side stall (Bench.scala), which
         |min-of-two cannot filter when both passes stall. The bench now
         |also reports per-query failures (`n_fail`/`failed`) so a crash
         |can never score as fast.
         |""".stripMargin
    // index-seek literals embed the 0x00 key separator — render as \0
    // so PLANS.md stays a text file whatever sections carry them
    Files.writeString(Paths.get("PLANS.md"),
      (header + "\n" + body).replace("\u0000", "\\0"))
    println(s"[plans] wrote PLANS.md (${headline.size} queries)")
    spark.stop()
  }
}
