package graft.operators

import graft.{QueryModule, Tables => T}
import org.apache.spark.sql.functions._

/** SURVEY.md §2.A — scans/sources/sinks around the HBase cell model,
  * plus the flagship `pipeline_e2e` (the reference's whole job as one
  * query: parse embedded JSON → flatten to cells → analytic readback). */
object CellQueries extends QueryModule {

  /** events with props parsed into a nested struct — exercises the
    * recursive (dotted-path) branch of the flatten. */
  private def eventsNested(s: org.apache.spark.sql.SparkSession, dir: String) =
    T.fanout(T.events(s, dir), col("event_id"))
      .withColumn("props", from_json(col("props"),
        org.apache.spark.sql.types.StructType.fromDDL("k INT")))
      .select(col("event_id"), col("ts_us"), col("user_id"),
              col("event_type"), col("value"), col("props"))

  private[operators] def eventCells(s: org.apache.spark.sql.SparkSession, dir: String) =
    CellFlatten.flatten(eventsNested(s, dir), col("event_id"), "d",
                        col("ts_us"), exclude = Set("event_id", "ts_us"))

  /** Deeply nested document fixture synthesized per-row from events —
    * depth-3 structs, a VARIABLE-length array of structs (length
    * 1..3 = event_id%3+1) whose elements contain their own arrays, and
    * an array of arrays: the json2hbase input space the flat testdata
    * never exercises. Pure projections, so the fixture is deterministic
    * and the DuckDB oracle rebuilds the same leaves from the same row.
    *
    * Local-bench note: events.parquet is ONE 2 MB row group, and a row
    * group is parquet's atomic split — so without help the ~14-leaf
    * explode runs in a single task here regardless of cores (≈5 s at
    * sf0.1; the round-9 row-group probe (NOISE.md) measured the unchanged plan 5× faster at 16
    * splits). `T.fanout` spreads the NARROW pre-explode rows across
    * the cores only when the scan has fewer splits than parallelism —
    * at 100 TB the scan has thousands of row-group splits and no
    * shuffle is added (guide §2: scale-adaptive partitioning). */
  private def nestedDocs(s: org.apache.spark.sql.SparkSession, dir: String) =
    T.fanout(T.events(s, dir), col("event_id")).select(
      col("event_id"), col("ts_us"),
      struct(
        col("user_id"),
        struct(col("event_type"), col("value")).as("meta"),
        transform(sequence(lit(0L), col("event_id") % 3), i =>
          struct(concat(col("event_type"), lit("_"), i.cast("string")).as("tag"),
                 (col("value") + i).as("score"),
                 array(col("value") + i, col("value") / 2 - i).as("sub")))
          .as("items")
      ).as("doc"),
      array(array(col("user_id"), col("user_id") % 7),
            array(col("user_id") + 1)).as("mat"))

  private def nestedCells(s: org.apache.spark.sql.SparkSession, dir: String) =
    CellFlatten.flatten(nestedDocs(s, dir), col("event_id"), "n",
                        col("ts_us"), exclude = Set("event_id", "ts_us"))

  val queries: Map[String, Q] = Map(
    "scan_parquet" -> ((s, dir) =>
      T.load(s, dir, "nation").orderBy("n_nationkey")),

    "scan_events_ns" -> ((s, dir) =>
      T.events(s, dir)
        .select(col("event_id"), col("ts_us"), col("user_id"),
                col("event_type"), col("value"))
        .orderBy("event_id")),

    "sink_hbase_cells" -> ((s, dir) =>
      eventCells(s, dir).orderBy("rowkey", "qualifier")),

    "sink_cells_arrays" -> ((s, dir) =>
      CellFlatten.flatten(T.fanout(T.load(s, dir, "embeddings"),
                                   col("vec_id")),
                          col("vec_id"), "e",
                          lit(0L), exclude = Set("vec_id"))
        .orderBy("rowkey", "qualifier")),

    "sink_cells_nested" -> ((s, dir) =>
      // Recursive flatten over the deeply nested fixture: array-of-struct
      // elements become `doc.items[i].tag` / `...sub[j]` qualifiers,
      // arrays-of-arrays `mat[i][j]` — the reference's indexed-qualifier
      // semantic at arbitrary depth. Still a shuffle-free per-row explode
      // pipelined with the scan (CellFlattenSpec asserts no Exchange).
      nestedCells(s, dir).orderBy("rowkey", "qualifier")),

    "sink_cells_map" -> ((s, dir) => {
      // MapType → cells: map KEY becomes the qualifier component — the
      // natural HBase mapping for dynamic-membership JSON objects (a
      // fixed struct can't model keys unknown at schema time). One map
      // holds scalars (attrs.<event_type>, attrs.uid), one holds a
      // nested array value (marr.a[j]) to exercise recursion below a
      // map entry.
      val m = T.fanout(T.events(s, dir), col("event_id")).select(
        col("event_id"), col("ts_us"),
        map(col("event_type"), col("value"),
            lit("uid"), col("user_id").cast("double")).as("attrs"),
        map(lit("a"), array(col("value"), col("value") / 2)).as("marr"))
      CellFlatten.flatten(m, col("event_id"), "m", col("ts_us"),
                          exclude = Set("event_id", "ts_us"))
        .orderBy("rowkey", "qualifier")
    }),

    "sink_cells_variant" -> ((s, dir) =>
      // SCHEMA-LESS flatten — the reference's true input mode: json2hbase
      // ingests arbitrary JSON documents whose structure is unknown until
      // runtime, while CellFlatten.flatten needs a static schema. Here
      // the document is a raw JSON STRING parsed once into a Spark 4
      // VARIANT, then flattened by CellFlatten.flattenVariant's one-pass
      // document walk — arbitrary depth, no JSON-text fallback,
      // matching the static flatten's semantics exactly
      // (CellFlattenSpec proves dynamic == static on random nested docs).
      // The fixture carries only long/string leaves: cross-engine JSON
      // rendering of doubles differs, and the oracle rebuilds the same
      // cells directly from the base columns (proving the DYNAMIC path
      // reproduces the statically-known leaves).
      // r22 (VERDICT r21 next-round #4): the VARIANT document is built
      // ONCE per row by to_variant_object — a direct struct→VariantVal
      // encode — instead of parse_json(to_json(...)), which serialized
      // every row to JSON text and re-parsed it (two full passes over
      // the document per row, pure expression overhead). Identical
      // variant values (long/string leaves; no floats, no nulls — the
      // two encoders only diverge on those), and the downstream
      // document walk is untouched; the oracle pins the leaves.
      CellFlatten.flattenVariant(
        T.fanout(T.events(s, dir), col("event_id")).select(
          col("event_id").cast("string").as("rowkey"),
          col("ts_us").as("version"),
          to_variant_object(struct(
            col("user_id").as("uid"),
            col("event_type").as("et"),
            transform(sequence(lit(0L), col("event_id") % 3),
              i => concat(col("event_type"), lit("_"), i.cast("string")))
              .as("tags"),
            struct((col("user_id") % 7).as("a"),
                   struct((col("user_id") + 1).as("c")).as("b")).as("m"),
            array(array(col("event_id"), col("event_id") + 1),
                  array(col("event_id") + 2)).as("arr2"))).as("v")),
        "v", tag = "sink_cells_variant")
        .orderBy("rowkey", "qualifier")),

    "sink_cells_variant_deep" -> ((s, dir) =>
      // Depth-6 schema-less flatten: `a.b.c[i].d[j]` sits SIX levels
      // down (a → b → c → [i] → d → [j]) — twice the old CTE ladder's
      // cap — plus leaves at levels 1..3 to prove emission at every
      // level. The walk goes exactly as deep as the data requires and
      // emits NO JSON-text fallback cells; the oracle rebuilds every
      // leaf from the base columns.
      // r22: direct struct→variant encode (see sink_cells_variant)
      CellFlatten.flattenVariant(
        T.fanout(T.events(s, dir), col("event_id")).select(
          col("event_id").cast("string").as("rowkey"),
          col("ts_us").as("version"),
          to_variant_object(struct(
            struct(
              struct(
                transform(sequence(lit(0L), col("event_id") % 2), i =>
                  struct(array(col("user_id") + i, col("user_id") + i + 1)
                           .as("d"))).as("c"),
                col("event_type").as("s")).as("b"),
              col("event_id").as("x")).as("a"),
            (col("user_id") % 5).as("top"))).as("v")),
        "v", tag = "sink_cells_variant_deep")
        .orderBy("rowkey", "qualifier")),

    "pipeline_e2e_v3" -> ((s, dir) =>
      // The reference's whole job over SCHEMA-LESS input: raw JSON docs
      // (structure unknown at plan time) → one-pass variant flatten →
      // per-leaf-PATH analytic readback (array indices normalized), the
      // dynamic twin of pipeline_e2e_v2 — proving the engine runs the
      // full ingest→cells→analytics pipeline without a schema anywhere.
      // r22: direct struct→variant encode (see sink_cells_variant)
      CellFlatten.flattenVariant(
        T.fanout(T.events(s, dir), col("event_id")).select(
          col("event_id").cast("string").as("rowkey"),
          col("ts_us").as("version"),
          to_variant_object(struct(
            col("user_id").as("uid"),
            transform(sequence(lit(0L), col("event_id") % 3),
              i => concat(col("event_type"), lit("_"), i.cast("string")))
              .as("tags"),
            struct((col("user_id") % 7).as("a"),
                   struct((col("user_id") + 1).as("c")).as("b")).as("m")))
            .as("v")),
        "v", tag = "pipeline_e2e_v3")
        .withColumn("leaf", regexp_replace(col("qualifier"),
                                           "\\[\\d+\\]", "[]"))
        .groupBy("family", "leaf")
        .agg(count(lit(1)).as("n_cells"),
             countDistinct(col("rowkey")).as("n_rows"),
             min(col("version")).as("min_version"),
             max(col("version")).as("max_version"))
        .orderBy("family", "leaf")),

    "pipeline_e2e_v2" -> ((s, dir) =>
      // The reference's whole job over the DEEPLY NESTED input space:
      // build documents → recursive flatten to cells → analytic readback
      // per leaf PATH (array indices normalized away, so variable-length
      // arrays aggregate into one row per schema leaf). Proves the engine
      // covers json2hbase's full document shapes, not just flat rows.
      nestedCells(s, dir)
        .withColumn("leaf", regexp_replace(col("qualifier"),
                                           "\\[\\d+\\]", "[]"))
        .groupBy("family", "leaf")
        .agg(count(lit(1)).as("n_cells"),
             countDistinct(col("rowkey")).as("n_rows"),
             min(col("version")).as("min_version"),
             max(col("version")).as("max_version"))
        .orderBy("family", "leaf")),

    "pipeline_e2e" -> ((s, dir) =>
      eventCells(s, dir)
        .groupBy("family", "qualifier")
        .agg(count(lit(1)).as("n_cells"),
             countDistinct(col("rowkey")).as("n_rows"),
             min(col("version")).as("min_version"),
             max(col("version")).as("max_version"))
        .orderBy("family", "qualifier")),

    "cell_versions" -> ((s, dir) => {
      // HBase multi-version semantics: a second batch re-writes the cells
      // of every purchase event (value doubled) at version ts+1s; the
      // readback is latest-per-(rowkey, family, qualifier) — the default
      // HBase read. One window over the cell key does the version
      // resolution; at 100 TB this is a single shuffle on the cell key
      // with WindowGroupLimit pushing the top-1 below the exchange.
      import org.apache.spark.sql.expressions.Window
      val v1 = eventCells(s, dir)
      val updated = eventsNested(s, dir)
        .filter(col("event_type") === "purchase")
        .withColumn("value", col("value") * 2)
      val v2 = CellFlatten.flatten(updated, col("event_id"), "d",
                                   col("ts_us") + 1000000L,
                                   exclude = Set("event_id", "ts_us"))
      val w = Window.partitionBy("rowkey", "family", "qualifier")
        .orderBy(col("version").desc)
      v1.unionByName(v2)
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select("rowkey", "family", "qualifier", "version", "value")
        .orderBy("rowkey", "qualifier")
    }),

    "sink_cells_multifamily" -> ((s, dir) => {
      // json2hbase-style column-family routing: scalar leaves land in
      // family 'd', the parsed props subtree in family 'p' — one flatten
      // per family over disjoint payload columns, unioned. HBase column
      // families are physically separate stores, so this routing is the
      // reference's schema-design knob (hot scalars cheap to scan, cold
      // nested payloads isolated).
      val base = eventsNested(s, dir)
      val scalars = CellFlatten.flatten(
        base.select("event_id", "ts_us", "user_id", "event_type", "value"),
        col("event_id"), "d", col("ts_us"),
        exclude = Set("event_id", "ts_us"))
      val props = CellFlatten.flatten(
        base.select("event_id", "ts_us", "props"),
        col("event_id"), "p", col("ts_us"),
        exclude = Set("event_id", "ts_us"))
      scalars.unionByName(props)
        .orderBy("rowkey", "family", "qualifier")
    }),

    "cell_ttl" -> ((s, dir) => {
      // HBase TTL semantics: at compaction every cell VERSION older than
      // (newest version in the store − TTL) is expired — reads never see
      // it. A cell re-written after the horizon survives through its
      // fresh version even though its original write has expired; a cell
      // whose only versions predate the horizon disappears entirely.
      // Here purchases are re-written (value doubled) 25 days after
      // their original write and the TTL is 10 days over a 30-day event
      // span, so all three outcomes occur. The horizon is one global
      // max — a broadcast single-row join — and version resolution is
      // the same single window shuffle on the cell key as cell_versions.
      import org.apache.spark.sql.expressions.Window
      val TTL_US = 10L * 86400L * 1000000L
      val REFRESH_US = 25L * 86400L * 1000000L
      val v1 = eventCells(s, dir)
      val updated = eventsNested(s, dir)
        .filter(col("event_type") === "purchase")
        .withColumn("value", col("value") * 2)
      val v2 = CellFlatten.flatten(updated, col("event_id"), "d",
                                   col("ts_us") + REFRESH_US,
                                   exclude = Set("event_id", "ts_us"))
      val allc = v1.unionByName(v2)
      val horizon = allc.agg((max(col("version")) - TTL_US).as("horizon"))
      val w = Window.partitionBy("rowkey", "family", "qualifier")
        .orderBy(col("version").desc)
      allc.crossJoin(broadcast(horizon))
        .filter(col("version") >= col("horizon")) // compaction TTL expiry
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select("rowkey", "family", "qualifier", "version", "value")
        .orderBy("rowkey", "qualifier")
    }),

    "cell_tombstone" -> ((s, dir) => {
      // HBase delete semantics: a DELETE marker written at a newer
      // version hides the cell, and compaction physically drops it. A
      // second batch tombstones the 'value' cell of every error event;
      // the compacted readback keeps all other cells (including the
      // error rows' other qualifiers) and contains NO cell for the
      // tombstoned (rowkey, qualifier) pairs. Same single window shuffle
      // on the cell key as cell_versions.
      import org.apache.spark.sql.expressions.Window
      val TOMB = "__TOMBSTONE__"
      val v1 = eventCells(s, dir)
      val tomb = eventsNested(s, dir)
        .filter(col("event_type") === "error")
        .select(col("event_id").cast("string").as("rowkey"),
                lit("d").as("family"), lit("value").as("qualifier"),
                (col("ts_us") + 1000000L).as("version"),
                lit(TOMB).as("value"))
      val w = Window.partitionBy("rowkey", "family", "qualifier")
        .orderBy(col("version").desc)
      v1.unionByName(tomb)
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .filter(col("value") =!= TOMB) // compaction: drop hidden cells
        .select("rowkey", "family", "qualifier", "version", "value")
        .orderBy("rowkey", "qualifier")
    }),

    "cell_unflatten" -> ((s, dir) =>
      // INVERSE of the flatten — the HBase read path (Get/Scan Result →
      // typed row): one groupBy on rowkey assembles the row, qualifiers
      // pivot back to typed columns via conditional max + cast. Proves
      // flatten∘unflatten = id (modulo the documented string
      // serialization) — the cell model loses nothing. One partial+final
      // hash agg on rowkey; at 100 TB with the rowkey-sorted layout the
      // agg rides the storage order.
      eventCells(s, dir)
        .groupBy(col("rowkey"))
        .agg(
          max(when(col("qualifier") === "event_type", col("value")))
            .as("event_type"),
          max(when(col("qualifier") === "user_id", col("value")))
            .cast("long").as("user_id"),
          max(when(col("qualifier") === "value", col("value")))
            .cast("double").as("value"),
          max(when(col("qualifier") === "props.k", col("value")))
            .cast("long").as("props_k"),
          max(col("version")).as("version"))
        .orderBy("rowkey")),

    "cell_delete_family" -> ((s, dir) => {
      // HBase DeleteFamily semantics (Delete#addFamily): ONE marker per
      // (rowkey, family) hides every cell at or below its version — the
      // row-level delete, vs cell_tombstone's per-qualifier marker.
      // Markers are delete-batch-sized, so they broadcast onto the cell
      // scan: no second shuffle of the store. Here every error event's
      // 'd' family is deleted at +1s (postdating all its writes), so
      // those rows vanish entirely at compaction; a cell RE-WRITTEN
      // after its marker would survive through the version predicate.
      val markers = eventsNested(s, dir)
        .filter(col("event_type") === "error")
        .select(col("event_id").cast("string").as("mrk"),
                lit("d").as("mfam"), (col("ts_us") + 1000000L).as("mver"))
      eventCells(s, dir)
        .join(broadcast(markers),
              col("rowkey") === col("mrk") && col("family") === col("mfam"),
              "left")
        .filter(col("mver").isNull || col("version") > col("mver"))
        .select("rowkey", "family", "qualifier", "version", "value")
        .orderBy("rowkey", "qualifier")
    }),

    "cell_increment" -> ((s, dir) =>
      // HBase Increment/Append semantics — the third mutation family
      // after Put (cell_versions) and Delete (cell_tombstone /
      // cell_delete_family): counters are not versioned cells but
      // atomic read-modify-write folds, and the batch view of a counter
      // table is the SUM of all increments per (rowkey, family,
      // qualifier) plus the op count for audit. One partial+final hash
      // agg on the cell key: increments combine map-side exactly the
      // way HBase merges them server-side, so at 100 TB the shuffle
      // carries one partial counter per (key × task), never raw ops.
      T.events(s, dir)
        .select(col("user_id").cast("string").as("rowkey"),
                lit("c").as("family"),
                concat(lit("cnt_"), col("event_type")).as("qualifier"),
                col("value"))
        .groupBy("rowkey", "family", "qualifier")
        .agg(count(lit(1)).as("n_increments"),
             T.d(sum(T.dec(col("value")))).as("counter"))
        .orderBy("rowkey", "qualifier")),

    "cell_append" -> ((s, dir) =>
      // HBase Append — the last mutation family (Put = cell_versions,
      // Delete = tombstone/delete-family, Increment = cell_increment):
      // each op CONCATENATES its payload onto the cell's current value,
      // so the batch view of an append log is the VERSION-ORDERED
      // concat per cell. LISTAGG WITHIN GROUP makes the fold order
      // explicit ((ts, event_id) — unique, so fully deterministic);
      // one sort-based aggregate on the cell key, payloads bounded by
      // per-key event counts.
      T.events(s, dir)
        .groupBy(col("user_id").cast("string").as("rowkey"))
        .agg(expr("""listagg(substr(event_type, 1, 1), '')
                     WITHIN GROUP (ORDER BY ts_us, event_id)""")
               .as("value"),
             max(col("ts_us")).as("version"),
             count(lit(1)).as("n_appends"))
        .select(col("rowkey"), lit("d").as("family"),
                lit("trail").as("qualifier"), col("version"),
                col("value"), col("n_appends"))
        .orderBy("rowkey")),

    "cell_scan_range" -> ((s, dir) =>
      // HBase Scan(startRow, stopRow): rowkeys are compared as BYTES, so
      // the range is LEXICOGRAPHIC over the string key — "30" < "4" —
      // exactly what string comparison gives on ASCII keys in both
      // engines. At 100 TB the cell store is written rowkey-sorted
      // (sink_parquet_sorted), so this predicate prunes to the files
      // whose min/max rowkey straddle the range instead of scanning the
      // table — the HBase region-seek, re-expressed as parquet
      // min/max file skipping.
      eventCells(s, dir)
        .filter(col("rowkey") >= "30" && col("rowkey") < "50")
        .orderBy("rowkey", "qualifier")),

    "cell_prefix_scan" -> ((s, dir) =>
      // HBase PrefixFilter + explicit column selection
      // (scan.addColumn(family, qualifier)): prefix on the rowkey plus a
      // qualifier IN-list. The prefix is equivalent to the rowkey range
      // ["10", "11") so the same sorted-layout file skipping applies; the
      // qualifier filter drops whole cells before any shuffle.
      eventCells(s, dir)
        .filter(col("rowkey").startsWith("10") &&
                col("qualifier").isin("event_type", "value"))
        .orderBy("rowkey", "qualifier")),

    "cell_region_stats" -> ((s, dir) =>
      // Coprocessor-style per-region aggregate: HBase splits the table
      // into regions by rowkey range and runs server-side aggregation
      // per region. Region id here = first byte of the rowkey; the agg
      // is a plain partial-aggregable groupBy, so at 100 TB each
      // "region server" combines locally and ships one row per
      // (region, qualifier) — the coprocessor pushdown, Spark-style.
      eventCells(s, dir)
        .groupBy(substring(col("rowkey"), 1, 1).as("region"),
                 col("qualifier"))
        .agg(count(lit(1)).as("n_cells"),
             countDistinct(col("rowkey")).as("n_rows"),
             max(col("version")).as("max_version"))
        .orderBy("region", "qualifier")),

    "cell_timerange_scan" -> ((s, dir) => {
      // HBase Scan.setTimeRange + setMaxVersions(1): snapshot-as-of read.
      // Two versions exist for purchase cells (the cell_versions update
      // batch); reading with the time range capped at the MIDPOINT must
      // return the ORIGINAL values — the newer version is outside the
      // range, so the older one is surfaced (time travel, HBase-style).
      // Version filter is a scan predicate (pushable); resolution is the
      // one window shuffle on the cell key.
      import org.apache.spark.sql.expressions.Window
      val v1 = eventCells(s, dir)
      val updated = eventsNested(s, dir)
        .filter(col("event_type") === "purchase")
        .withColumn("value", col("value") * 2)
      val SHIFT_US = 40L * 86400L * 1000000L // past every original version
      val v2 = CellFlatten.flatten(updated, col("event_id"), "d",
                                   col("ts_us") + SHIFT_US,
                                   exclude = Set("event_id", "ts_us"))
      val all = v1.unionByName(v2)
      val cutoff = v1.agg(max(col("version")).as("cut")) // as-of: end of batch 1
      val w = Window.partitionBy("rowkey", "family", "qualifier")
        .orderBy(col("version").desc)
      all.crossJoin(broadcast(cutoff))
        .filter(col("version") <= col("cut"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select("rowkey", "family", "qualifier", "version", "value")
        .orderBy("rowkey", "qualifier")
    }),

    "cell_bulkload_layout" -> ((s, dir) => {
      // HBase bulk-load (HFile) prep: cells must arrive at the region
      // servers RANGE-PARTITIONED by rowkey on the table's pre-split
      // points and SORTED by (rowkey, family, qualifier, version desc)
      // within each file. repartitionByRange + sortWithinPartitions is
      // exactly that shuffle — the one a 100 TB bulk load runs; the
      // readback aggregates per region to stay layout-independent. The
      // split points are explicit (as in a production pre-split table),
      // not sampled, so the layout is deterministic.
      val splitRegion =
        when(col("rowkey") < "2", 0)
          .when(col("rowkey") < "4", 1)
          .when(col("rowkey") < "6", 2)
          .when(col("rowkey") < "8", 3)
          .otherwise(4)
      eventCells(s, dir)
        .withColumn("region", splitRegion)
        .repartitionByRange(5, col("region"))
        .sortWithinPartitions(col("rowkey"), col("family"),
                              col("qualifier"), col("version").desc)
        .groupBy("region")
        .agg(count(lit(1)).as("n_cells"),
             countDistinct(col("rowkey")).as("n_rows"),
             min(col("rowkey")).as("start_key"),
             max(col("rowkey")).as("end_key"))
        .orderBy("region")
    }),

    "cell_compact" -> ((s, dir) => {
      // MAJOR COMPACTION capstone: three store files — the original
      // batch, a value-rewrite batch (+1s versions, purchases doubled),
      // and a tombstone batch (errors' value cells deleted at +2s) —
      // merged in ONE pass applying the full HBase read model: latest
      // version wins, delete markers hide then drop, TTL expires
      // versions older than (newest − 20 days). One union, one global
      // max broadcast, one window shuffle on the cell key — the same
      // plan at 100 TB, with each store file a separate parquet input.
      import org.apache.spark.sql.expressions.Window
      val TOMB = "__TOMBSTONE__"
      val TTL_US = 20L * 86400L * 1000000L
      val base = eventsNested(s, dir)
      val v1 = eventCells(s, dir)
      val v2 = CellFlatten.flatten(
        base.filter(col("event_type") === "purchase")
          .withColumn("value", col("value") * 2),
        col("event_id"), "d", col("ts_us") + 1000000L,
        exclude = Set("event_id", "ts_us"))
      val v3 = base.filter(col("event_type") === "error")
        .select(col("event_id").cast("string").as("rowkey"),
                lit("d").as("family"), lit("value").as("qualifier"),
                (col("ts_us") + 2000000L).as("version"),
                lit(TOMB).as("value"))
      val all = v1.unionByName(v2).unionByName(v3)
      val horizon = all.agg((max(col("version")) - TTL_US).as("h"))
      val w = Window.partitionBy("rowkey", "family", "qualifier")
        .orderBy(col("version").desc)
      all.crossJoin(broadcast(horizon))
        .filter(col("version") >= col("h"))          // TTL expiry
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .filter(col("value") =!= TOMB)               // drop deleted cells
        .select("rowkey", "family", "qualifier", "version", "value")
        .orderBy("rowkey", "qualifier")
    }),

    "cell_salted_rowkey" -> ((s, dir) => {
      // HBase hot-region mitigation: monotonically increasing rowkeys
      // (event ids, timestamps) hammer one region; the standard fix is a
      // SALTED key `salt_originalKey` where salt = hash(key) mod N, so
      // writes spread over N regions. Reads of a logical key then fan
      // out to N prefix scans and strip the salt. Salt must be a
      // DETERMINISTIC function of the key (never random) so reads can
      // reconstruct it. Readback: per-salt-bucket stats prove the
      // spread; original keys recover exactly.
      val N = 8
      val salted = eventCells(s, dir)
        // portable md5-derived salt (the PipelineOps bucket recipe) —
        // crc32 exists only on the Spark side, md5 hex on both
        .withColumn("salt",
          conv(substring(md5(col("rowkey")), 1, 8), 16, 10)
            .cast("long") % N)
        .withColumn("salted_rowkey",
          concat(col("salt").cast("string"), lit("_"), col("rowkey")))
      salted.groupBy("salt")
        .agg(count(lit(1)).as("n_cells"),
             countDistinct(col("rowkey")).as("n_keys"),
             min(col("salted_rowkey")).as("first_key"),
             max(col("salted_rowkey")).as("last_key"))
        .orderBy("salt")
    }),

    "cell_inverted_index" -> ((s, dir) =>
      // Secondary-index emulation: HBase has no native secondary index;
      // the standard pattern is an index TABLE keyed by (qualifier,
      // value) listing the rowkeys. Build the inverted index for the
      // event_type qualifier: one groupBy on the (qualifier, value)
      // pair, rowkey postings kept as count + min/max (posting-list
      // summary) so the output stays scalar and oracle-comparable. At
      // 100 TB this is the index-build job: partial-agg per region,
      // shuffle one posting summary per distinct value.
      eventCells(s, dir)
        .filter(col("qualifier") === "event_type")
        .groupBy(col("qualifier"), col("value"))
        .agg(count(lit(1)).as("n_rows"),
             min(col("rowkey")).as("first_rowkey"),
             max(col("rowkey")).as("last_rowkey"))
        .orderBy("qualifier", "value")),
  )

  /** DuckDB twin of the cell flatten over events: a UNION ALL per leaf.
    * Parameterized so the multi-version oracle can emit a shifted-version
    * update batch from the same template. */
  private def eventCellsSqlWith(where: String, vshift: Long,
                                valueExpr: String) =
    s"""SELECT CAST(event_id AS VARCHAR) AS rowkey, 'd' AS family,
              'event_type' AS qualifier, epoch_us(ts) + $vshift AS version,
              event_type AS value FROM events $where
       UNION ALL
       SELECT CAST(event_id AS VARCHAR), 'd', 'props.k', epoch_us(ts) + $vshift,
              CAST(CAST(json_extract(props, '$$.k') AS BIGINT) AS VARCHAR) FROM events $where
       UNION ALL
       SELECT CAST(event_id AS VARCHAR), 'd', 'user_id', epoch_us(ts) + $vshift,
              CAST(user_id AS VARCHAR) FROM events $where
       UNION ALL
       SELECT CAST(event_id AS VARCHAR), 'd', 'value', epoch_us(ts) + $vshift,
              CAST(CAST($valueExpr AS DECIMAL(28,6)) AS VARCHAR) FROM events $where"""

  private[operators] val eventCellsSql = eventCellsSqlWith("", 0L, "value")

  /** DuckDB twin of the nested-fixture cells: one UNION ALL branch per
    * schema leaf, with `unnest(generate_series(...))` reproducing the
    * variable-length items array per row. */
  private val nestedCellsSql =
    """SELECT CAST(event_id AS VARCHAR) AS rowkey, 'n' AS family,
              'doc.user_id' AS qualifier, ts_us AS version,
              CAST(user_id AS VARCHAR) AS value FROM ev
       UNION ALL
       SELECT CAST(event_id AS VARCHAR), 'n', 'doc.meta.event_type', ts_us,
              event_type FROM ev
       UNION ALL
       SELECT CAST(event_id AS VARCHAR), 'n', 'doc.meta.value', ts_us,
              CAST(CAST(value AS DECIMAL(28,6)) AS VARCHAR) FROM ev
       UNION ALL
       SELECT CAST(event_id AS VARCHAR), 'n',
              'doc.items[' || CAST(i AS VARCHAR) || '].tag', ts_us,
              event_type || '_' || CAST(i AS VARCHAR) FROM its
       UNION ALL
       SELECT CAST(event_id AS VARCHAR), 'n',
              'doc.items[' || CAST(i AS VARCHAR) || '].score', ts_us,
              CAST(CAST(value + i AS DECIMAL(28,6)) AS VARCHAR) FROM its
       UNION ALL
       SELECT CAST(event_id AS VARCHAR), 'n',
              'doc.items[' || CAST(i AS VARCHAR) || '].sub['
                || CAST(j AS VARCHAR) || ']', ts_us,
              CAST(CAST(CASE WHEN j = 0 THEN value + i
                             ELSE value / 2 - i END
                   AS DECIMAL(28,6)) AS VARCHAR)
       FROM its CROSS JOIN (VALUES (0), (1)) AS u(j)
       UNION ALL
       SELECT CAST(event_id AS VARCHAR), 'n', 'mat[0][0]', ts_us,
              CAST(user_id AS VARCHAR) FROM ev
       UNION ALL
       SELECT CAST(event_id AS VARCHAR), 'n', 'mat[0][1]', ts_us,
              CAST(user_id % 7 AS VARCHAR) FROM ev
       UNION ALL
       SELECT CAST(event_id AS VARCHAR), 'n', 'mat[1][0]', ts_us,
              CAST(user_id + 1 AS VARCHAR) FROM ev"""

  private val nestedWith =
    s"""ev AS (SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type,
                      value FROM events),
        its AS (SELECT event_id, ts_us, event_type, value,
                       unnest(generate_series(0, event_id % 3)) AS i
                FROM ev),
        cells AS ($nestedCellsSql)"""

  val oracles: Map[String, String] = Map(
    "scan_parquet" ->
      "SELECT * FROM nation ORDER BY n_nationkey",

    "scan_events_ns" ->
      """SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value
         FROM events ORDER BY event_id""",

    "sink_hbase_cells" ->
      s"""WITH cells AS ($eventCellsSql)
          SELECT * FROM cells ORDER BY rowkey, qualifier""",

    "sink_cells_arrays" ->
      """WITH cells AS (
           SELECT CAST(vec_id AS VARCHAR) AS rowkey, 'e' AS family,
                  'embedding[' || CAST(t.i AS VARCHAR) || ']' AS qualifier,
                  CAST(0 AS BIGINT) AS version,
                  CAST(CAST(CAST(embedding[t.i + 1] AS DOUBLE) AS DECIMAL(28,6)) AS VARCHAR) AS value
           FROM embeddings CROSS JOIN generate_series(0, 63) AS t(i)
           UNION ALL
           SELECT CAST(vec_id AS VARCHAR), 'e', 'label', CAST(0 AS BIGINT),
                  CAST(label AS VARCHAR) FROM embeddings)
         SELECT * FROM cells ORDER BY rowkey, qualifier""",

    "sink_cells_nested" ->
      s"""WITH $nestedWith
          SELECT * FROM cells ORDER BY rowkey, qualifier""",

    "sink_cells_map" ->
      """WITH ev AS (SELECT event_id, epoch_us(ts) AS ts_us, user_id,
                            event_type, value FROM events),
          cells AS (
            SELECT CAST(event_id AS VARCHAR) AS rowkey, 'm' AS family,
                   'attrs.' || event_type AS qualifier, ts_us AS version,
                   CAST(CAST(value AS DECIMAL(28,6)) AS VARCHAR) AS value
            FROM ev
            UNION ALL
            SELECT CAST(event_id AS VARCHAR), 'm', 'attrs.uid', ts_us,
                   CAST(CAST(user_id AS DECIMAL(28,6)) AS VARCHAR) FROM ev
            UNION ALL
            SELECT CAST(event_id AS VARCHAR), 'm', 'marr.a[0]', ts_us,
                   CAST(CAST(value AS DECIMAL(28,6)) AS VARCHAR) FROM ev
            UNION ALL
            SELECT CAST(event_id AS VARCHAR), 'm', 'marr.a[1]', ts_us,
                   CAST(CAST(value / 2 AS DECIMAL(28,6)) AS VARCHAR) FROM ev)
         SELECT * FROM cells ORDER BY rowkey, qualifier""",

    "sink_cells_variant" ->
      // The oracle rebuilds the dynamically-flattened cells DIRECTLY
      // from the base columns: the Spark side must prove the runtime
      // variant walk lands exactly on the statically-known leaves.
      """WITH ev AS (SELECT event_id, epoch_us(ts) AS ts_us, user_id,
                            event_type, value FROM events),
          its AS (SELECT event_id, ts_us, event_type,
                         unnest(generate_series(0, event_id % 3)) AS i
                  FROM ev),
          cells AS (
            SELECT CAST(event_id AS VARCHAR) AS rowkey, 'v' AS family,
                   'uid' AS qualifier, ts_us AS version,
                   CAST(user_id AS VARCHAR) AS value FROM ev
            UNION ALL
            SELECT CAST(event_id AS VARCHAR), 'v', 'et', ts_us,
                   event_type FROM ev
            UNION ALL
            SELECT CAST(event_id AS VARCHAR), 'v',
                   'tags[' || CAST(i AS VARCHAR) || ']', ts_us,
                   event_type || '_' || CAST(i AS VARCHAR) FROM its
            UNION ALL
            SELECT CAST(event_id AS VARCHAR), 'v', 'm.a', ts_us,
                   CAST(user_id % 7 AS VARCHAR) FROM ev
            UNION ALL
            SELECT CAST(event_id AS VARCHAR), 'v', 'm.b.c', ts_us,
                   CAST(user_id + 1 AS VARCHAR) FROM ev
            UNION ALL
            SELECT CAST(event_id AS VARCHAR), 'v', 'arr2[0][0]', ts_us,
                   CAST(event_id AS VARCHAR) FROM ev
            UNION ALL
            SELECT CAST(event_id AS VARCHAR), 'v', 'arr2[0][1]', ts_us,
                   CAST(event_id + 1 AS VARCHAR) FROM ev
            UNION ALL
            SELECT CAST(event_id AS VARCHAR), 'v', 'arr2[1][0]', ts_us,
                   CAST(event_id + 2 AS VARCHAR) FROM ev)
         SELECT * FROM cells ORDER BY rowkey, qualifier""",

    "sink_cells_variant_deep" ->
      // Rebuilds the depth-6 leaves directly from base columns: the
      // Spark side must prove the runtime walk reaches them all.
      """WITH ev AS (SELECT event_id, epoch_us(ts) AS ts_us, user_id,
                            event_type FROM events),
          ivals AS (SELECT event_id, ts_us, user_id,
                           unnest(generate_series(0, event_id % 2)) AS i
                    FROM ev),
          ij AS (SELECT event_id, ts_us, user_id, i,
                        unnest(generate_series(0, 1)) AS j
                 FROM ivals),
          cells AS (
            SELECT CAST(event_id AS VARCHAR) AS rowkey, 'v' AS family,
                   'top' AS qualifier, ts_us AS version,
                   CAST(user_id % 5 AS VARCHAR) AS value FROM ev
            UNION ALL
            SELECT CAST(event_id AS VARCHAR), 'v', 'a.x', ts_us,
                   CAST(event_id AS VARCHAR) FROM ev
            UNION ALL
            SELECT CAST(event_id AS VARCHAR), 'v', 'a.b.s', ts_us,
                   event_type FROM ev
            UNION ALL
            SELECT CAST(event_id AS VARCHAR), 'v',
                   'a.b.c[' || CAST(i AS VARCHAR) || '].d['
                            || CAST(j AS VARCHAR) || ']', ts_us,
                   CAST(user_id + i + j AS VARCHAR) FROM ij)
         SELECT * FROM cells ORDER BY rowkey, qualifier""",

    "pipeline_e2e_v3" ->
      // leaves rebuilt from base columns (as in sink_cells_variant),
      // then the same per-path readback
      """WITH ev AS (SELECT event_id, epoch_us(ts) AS ts_us, user_id,
                            event_type FROM events),
          its AS (SELECT event_id, ts_us,
                         unnest(generate_series(0, event_id % 3)) AS i
                  FROM ev),
          cells AS (
            SELECT CAST(event_id AS VARCHAR) AS rowkey, 'v' AS family,
                   'uid' AS qualifier, ts_us AS version FROM ev
            UNION ALL
            SELECT CAST(event_id AS VARCHAR), 'v', 'tags[]', ts_us FROM its
            UNION ALL
            SELECT CAST(event_id AS VARCHAR), 'v', 'm.a', ts_us FROM ev
            UNION ALL
            SELECT CAST(event_id AS VARCHAR), 'v', 'm.b.c', ts_us FROM ev)
         SELECT family, qualifier AS leaf, count(*) AS n_cells,
                count(DISTINCT rowkey) AS n_rows,
                min(version) AS min_version, max(version) AS max_version
         FROM cells GROUP BY family, leaf
         ORDER BY family, leaf""",

    "pipeline_e2e_v2" ->
      s"""WITH $nestedWith
          SELECT family,
                 regexp_replace(qualifier, '\\[\\d+\\]', '[]', 'g') AS leaf,
                 count(*) AS n_cells, count(DISTINCT rowkey) AS n_rows,
                 min(version) AS min_version, max(version) AS max_version
          FROM cells GROUP BY family, leaf
          ORDER BY family, leaf""",

    "pipeline_e2e" ->
      s"""WITH cells AS ($eventCellsSql)
          SELECT family, qualifier, count(*) AS n_cells,
                 count(DISTINCT rowkey) AS n_rows,
                 min(version) AS min_version, max(version) AS max_version
          FROM cells GROUP BY family, qualifier
          ORDER BY family, qualifier""",

    "cell_versions" ->
      // The WHERE value IS NOT NULL mirrors CellFlatten's null-skip: a
      // NULL leaf never becomes a cell on the Spark side, so it must not
      // become a version candidate here either.
      s"""WITH v1 AS ($eventCellsSql),
               v2 AS (${eventCellsSqlWith(
                 "WHERE event_type = 'purchase'", 1000000L, "value * 2")}),
               allc AS (SELECT * FROM (SELECT * FROM v1 UNION ALL
                                       SELECT * FROM v2)
                        WHERE value IS NOT NULL),
               r AS (SELECT *, row_number() OVER (
                       PARTITION BY rowkey, family, qualifier
                       ORDER BY version DESC) AS rn
                     FROM allc)
          SELECT rowkey, family, qualifier, version, value
          FROM r WHERE rn = 1 ORDER BY rowkey, qualifier""",

    "sink_cells_multifamily" ->
      """WITH cells AS (
           SELECT CAST(event_id AS VARCHAR) AS rowkey, 'd' AS family,
                  'event_type' AS qualifier, epoch_us(ts) AS version,
                  event_type AS value FROM events
           UNION ALL
           SELECT CAST(event_id AS VARCHAR), 'd', 'user_id', epoch_us(ts),
                  CAST(user_id AS VARCHAR) FROM events
           UNION ALL
           SELECT CAST(event_id AS VARCHAR), 'd', 'value', epoch_us(ts),
                  CAST(CAST(value AS DECIMAL(28,6)) AS VARCHAR) FROM events
           UNION ALL
           SELECT CAST(event_id AS VARCHAR), 'p', 'props.k', epoch_us(ts),
                  CAST(CAST(json_extract(props, '$.k') AS BIGINT) AS VARCHAR)
           FROM events)
         SELECT * FROM cells WHERE value IS NOT NULL
         ORDER BY rowkey, family, qualifier""",

    "cell_ttl" ->
      s"""WITH v1 AS ($eventCellsSql),
               v2 AS (${eventCellsSqlWith(
                 "WHERE event_type = 'purchase'", 2160000000000L,
                 "value * 2")}),
               allc AS (SELECT * FROM (SELECT * FROM v1 UNION ALL
                                       SELECT * FROM v2)
                        WHERE value IS NOT NULL),
               r AS (SELECT *, row_number() OVER (
                       PARTITION BY rowkey, family, qualifier
                       ORDER BY version DESC) AS rn
                     FROM allc
                     WHERE version >= (SELECT max(version) FROM allc)
                                      - 864000000000)
          SELECT rowkey, family, qualifier, version, value
          FROM r WHERE rn = 1 ORDER BY rowkey, qualifier""",

    "cell_tombstone" ->
      s"""WITH v1 AS ($eventCellsSql),
               tomb AS (SELECT CAST(event_id AS VARCHAR) AS rowkey,
                               'd' AS family, 'value' AS qualifier,
                               epoch_us(ts) + 1000000 AS version,
                               '__TOMBSTONE__' AS value
                        FROM events WHERE event_type = 'error'),
               allc AS (SELECT * FROM (SELECT * FROM v1 UNION ALL
                                       SELECT * FROM tomb)
                        WHERE value IS NOT NULL),
               r AS (SELECT *, row_number() OVER (
                       PARTITION BY rowkey, family, qualifier
                       ORDER BY version DESC) AS rn
                     FROM allc)
          SELECT rowkey, family, qualifier, version, value
          FROM r WHERE rn = 1 AND value != '__TOMBSTONE__'
          ORDER BY rowkey, qualifier""",

    "cell_unflatten" ->
      s"""WITH cells AS ($eventCellsSql)
          SELECT rowkey,
                 max(CASE WHEN qualifier = 'event_type' THEN value END)
                   AS event_type,
                 CAST(max(CASE WHEN qualifier = 'user_id' THEN value END)
                   AS BIGINT) AS user_id,
                 CAST(max(CASE WHEN qualifier = 'value' THEN value END)
                   AS DOUBLE) AS value,
                 CAST(max(CASE WHEN qualifier = 'props.k' THEN value END)
                   AS BIGINT) AS props_k,
                 max(version) AS version
          FROM cells GROUP BY rowkey ORDER BY rowkey""",

    "cell_delete_family" ->
      s"""WITH cells AS ($eventCellsSql),
               mk AS (SELECT CAST(event_id AS VARCHAR) AS mrk,
                             epoch_us(ts) + 1000000 AS mver
                      FROM events WHERE event_type = 'error')
          SELECT rowkey, family, qualifier, version, value
          FROM cells LEFT JOIN mk ON cells.rowkey = mk.mrk
          WHERE mver IS NULL OR version > mver
          ORDER BY rowkey, qualifier""",

    "cell_append" ->
      """SELECT CAST(user_id AS VARCHAR) AS rowkey, 'd' AS family,
                'trail' AS qualifier, max(epoch_us(ts)) AS version,
                string_agg(substr(event_type, 1, 1), ''
                           ORDER BY epoch_us(ts), event_id) AS value,
                count(*) AS n_appends
         FROM events GROUP BY 1, 2, 3 ORDER BY rowkey""",

    "cell_increment" ->
      """SELECT CAST(user_id AS VARCHAR) AS rowkey, 'c' AS family,
                'cnt_' || event_type AS qualifier,
                count(*) AS n_increments,
                CAST(CAST(sum(CAST(value AS DECIMAL(38,6))) AS STRING)
                  AS DOUBLE) AS counter
         FROM events GROUP BY 1, 2, 3 ORDER BY rowkey, qualifier""",

    "cell_scan_range" ->
      s"""WITH cells AS ($eventCellsSql)
          SELECT * FROM cells WHERE rowkey >= '30' AND rowkey < '50'
          ORDER BY rowkey, qualifier""",

    "cell_prefix_scan" ->
      s"""WITH cells AS ($eventCellsSql)
          SELECT * FROM cells
          WHERE rowkey LIKE '10%' AND qualifier IN ('event_type', 'value')
          ORDER BY rowkey, qualifier""",

    "cell_region_stats" ->
      s"""WITH cells AS ($eventCellsSql)
          SELECT substr(rowkey, 1, 1) AS region, qualifier,
                 count(*) AS n_cells, count(DISTINCT rowkey) AS n_rows,
                 max(version) AS max_version
          FROM cells GROUP BY 1, 2 ORDER BY region, qualifier""",

    "cell_timerange_scan" ->
      // Batch-2 versions sit 40 days past every batch-1 version, and the
      // as-of cutoff = max batch-1 version, so the filter keeps exactly
      // batch 1 — i.e. the snapshot read returns the original cells.
      s"""WITH v1 AS ($eventCellsSql),
               v2 AS (${eventCellsSqlWith(
                 "WHERE event_type = 'purchase'", 40L * 86400L * 1000000L,
                 "value * 2")}),
               allc AS (SELECT * FROM (SELECT * FROM v1 UNION ALL
                                       SELECT * FROM v2)
                        WHERE value IS NOT NULL),
               cut AS (SELECT max(version) AS cut
                       FROM (SELECT * FROM v1) WHERE value IS NOT NULL),
               r AS (SELECT allc.*, row_number() OVER (
                       PARTITION BY rowkey, family, qualifier
                       ORDER BY version DESC) AS rn
                     FROM allc, cut WHERE version <= cut)
          SELECT rowkey, family, qualifier, version, value
          FROM r WHERE rn = 1 ORDER BY rowkey, qualifier""",

    "cell_bulkload_layout" ->
      s"""WITH cells AS ($eventCellsSql)
          SELECT CASE WHEN rowkey < '2' THEN 0 WHEN rowkey < '4' THEN 1
                      WHEN rowkey < '6' THEN 2 WHEN rowkey < '8' THEN 3
                      ELSE 4 END AS region,
                 count(*) AS n_cells, count(DISTINCT rowkey) AS n_rows,
                 min(rowkey) AS start_key, max(rowkey) AS end_key
          FROM cells GROUP BY 1 ORDER BY region""",

    "cell_compact" ->
      s"""WITH v1 AS ($eventCellsSql),
               v2 AS (${eventCellsSqlWith(
                 "WHERE event_type = 'purchase'", 1000000L, "value * 2")}),
               v3 AS (SELECT CAST(event_id AS VARCHAR) AS rowkey,
                             'd' AS family, 'value' AS qualifier,
                             epoch_us(ts) + 2000000 AS version,
                             '__TOMBSTONE__' AS value
                      FROM events WHERE event_type = 'error'),
               allc AS (SELECT * FROM (SELECT * FROM v1 UNION ALL
                                       SELECT * FROM v2 UNION ALL
                                       SELECT * FROM v3)
                        WHERE value IS NOT NULL),
               hz AS (SELECT max(version) - 1728000000000 AS h FROM allc),
               r AS (SELECT allc.*, row_number() OVER (
                       PARTITION BY rowkey, family, qualifier
                       ORDER BY version DESC) AS rn
                     FROM allc, hz WHERE version >= h)
          SELECT rowkey, family, qualifier, version, value
          FROM r WHERE rn = 1 AND value != '__TOMBSTONE__'
          ORDER BY rowkey, qualifier""",

    "cell_salted_rowkey" ->
      s"""WITH cells AS ($eventCellsSql),
          sc AS (SELECT *,
                   TRY_CAST('0x' || substring(md5(rowkey), 1, 8) AS BIGINT)
                     % 8 AS salt,
                   CAST(TRY_CAST('0x' || substring(md5(rowkey), 1, 8) AS BIGINT)
                     % 8 AS VARCHAR) || '_' || rowkey AS salted_rowkey
                 FROM cells)
          SELECT salt, count(*) AS n_cells, count(DISTINCT rowkey) AS n_keys,
                 min(salted_rowkey) AS first_key,
                 max(salted_rowkey) AS last_key
          FROM sc GROUP BY salt ORDER BY salt""",

    "cell_inverted_index" ->
      s"""WITH cells AS ($eventCellsSql)
          SELECT qualifier, value, count(*) AS n_rows,
                 min(rowkey) AS first_rowkey, max(rowkey) AS last_rowkey
          FROM cells WHERE qualifier = 'event_type'
          GROUP BY 1, 2 ORDER BY qualifier, value""",
  )
}
