package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Relational
import graft.text.TextOps
import QueryShared._

/** Core relational surface: TPC-H-ish aggregation, joins
(equi/theta/semi/anti/as-of/range/overlap), window functions, rollup/cube/
grouping sets/pivot, medians, set ops, JSON/VARIANT extraction, MERGE/SCD2/
snapshot-diff table mechanics, and column/skew/outlier profiling.
  *
  * Extracted verbatim from the original single-file SparkEntry map; see
  * [[graft.SparkEntry]] for the driver contract these entries satisfy
  * (column names aligned with the DuckDB oracle SQL pairwise).
  */
object RelationalQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A1/A5 generalized: grouped pricing summary (map-side partial agg)
    "q01_pricing_summary" -> ((s, dir) =>
      Relational.pricingSummary(Tables.lineitem(s, dir))),


    // SURVEY §7.2 slice 0: J3 + P7 + P11 + A2 + J4 (label, distinct, re-attach)
    "q02_label_join" -> ((s, dir) =>
      Relational.labelJoin(Tables.orders(s, dir), Tables.lineitem(s, dir))),


    // J3/J5-shaped dimension chain with broadcast joins
    "q03_dims_rollup" -> ((s, dir) =>
      Relational.dimsRollup(
        Tables.customer(s, dir), Tables.nation(s, dir), Tables.region(s, dir))),


    // J6: theta self-join (equi bucket + inequality residual)
    "q04_theta_pairs" -> ((s, dir) =>
      Relational.thetaPairs(Tables.supplier(s, dir))),


    // J1/J2: left-outer equi join preserving unmatched rows, NULL→0 agg
    "q05_cust_orders" -> ((s, dir) =>
      Relational.customerOrderCounts(Tables.customer(s, dir), Tables.orders(s, dir))),


    // A2: distinct (dedup) on business keys
    "q06_distinct" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .select(col("l_returnflag"), col("l_linestatus"),
          col("l_shipdate").cast("date").as("ship_date"))
        .distinct()),


    // A1/M10: one-pass confusion matrix (vs the reference's 4 scans, lr.scala:51-54)
    "q07_confusion" -> ((s, dir) =>
      Relational.confusionMatrix(
        Tables.events(s, dir)
          .withColumn("label", when(col("event_type") === "purchase", 1).otherwise(0))
          .withColumn("pred", when(col("value") >= 50.0, 1).otherwise(0)),
        "label", "pred")),


    // §2.5 grouped top-k via row_number window
    "q08_topk_orders" -> ((s, dir) =>
      Relational.groupedTopK(
        Tables.orders(s, dir).select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice")),
        Seq("o_orderpriority"), "o_totalprice", "o_orderkey", 3)
        .withColumn("rank", col("rank").cast("long"))),


    // J7 as left-semi: customers with ≥1 order (EXISTS)
    "q09_semi_join" -> ((s, dir) => {
      val c = Tables.customer(s, dir); val o = Tables.orders(s, dir)
      Relational.semiJoin(c, o, c("c_custkey") === o("o_custkey"))
        .select(col("c_custkey"), col("c_name"))
    }),


    // J7 as left-anti: customers with no big-ticket order (NOT EXISTS —
    // broadcast stopword-filter semantics, acq_etl_code.scala:34,41)
    "q10_anti_join" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir).filter(col("o_totalprice") > 450000.0)
      Relational.antiJoin(c, o, c("c_custkey") === o("o_custkey"))
        .select(col("c_custkey"), col("c_name"))
    }),


    // §2.5 set ops: UNION / INTERSECT / EXCEPT with op tags
    "q11_set_ops" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      def keys(status: String) =
        o.filter(col("o_orderstatus") === status).select(col("o_custkey")).distinct()
      val f = keys("F"); val oo = keys("O")
      f.union(oo).distinct().select(lit("union").as("op"), col("o_custkey"))
        .union(f.intersect(oo).select(lit("intersect").as("op"), col("o_custkey")))
        .union(f.except(oo).select(lit("except").as("op"), col("o_custkey")))
    }),


    // §2.8 batch form of the streaming tumbling-window aggregate: 1-hour
    // windows over events (the same date_trunc bucketing the streaming
    // surface uses with a watermark)
    "q21_window_agg" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(
          date_trunc("hour", col("ts")).as("hour"),
          col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          Relational.exactSum(col("value")).as("sum_value"))),


    // As-of join (operator Spark lacks; Temporal.asofJoin): each click
    // attaches the most recent prior-or-simultaneous purchase value of the
    // same user. Union + one window pass — never an inequality join.
    "q30_asof_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("last_purchase_value"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      graft.ops.Temporal.asofJoin(
        clicks, purchases, Seq("user_id"), "ts", Seq("last_purchase_value"))
    }),


    // As-of with a freshness TOLERANCE (round 12) — completes the as-of
    // family (backward q30, forward q242): matches older than 7 days are
    // nulled AFTER the window (Temporal.asofJoinTolerance — the shape
    // stays the one-shuffle union-window, never a range join), and the
    // matched timestamp + 0/1 fresh flag make staleness auditable.
    "q446_asof_tolerance" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("last_purchase_value"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      graft.ops.Temporal.asofJoinTolerance(
        clicks, purchases, Seq("user_id"), "ts",
        Seq("last_purchase_value"), toleranceUs = 7L * 86400000000L)
    }),


    // The SQL-STRING entry point exercised as a checked surface (SURVEY
    // §2: the reference drives Spark through createOrReplaceTempView +
    // spark.sql interchangeably with the DSL — both entries must exist
    // AND be correct): per-segment top-3 customers by exact-cents spend
    // with integer ppm shares, the whole analysis one SQL string through
    // the session parser over registered views. Catalyst sees the same
    // plan a DSL formulation would — the audits and the oracle treat it
    // identically.
    "q445_sql_entry" -> ((s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("g_orders")
      Tables.customer(s, dir).createOrReplaceTempView("g_customer")
      s.sql("""
        WITH spend AS (
          SELECT c.c_mktsegment AS segment, c.c_custkey AS cust,
                 sum(CAST(CAST(o.o_totalprice AS DECIMAL(30,2)) * 100
                     AS BIGINT)) AS cents
          FROM g_orders o JOIN g_customer c ON o.o_custkey = c.c_custkey
          GROUP BY 1, 2),
        seg AS (
          SELECT segment, sum(cents) AS seg_cents FROM spend GROUP BY 1),
        r AS (
          SELECT s.*, row_number() OVER (PARTITION BY segment
            ORDER BY cents DESC, cust) AS rk
          FROM spend s)
        SELECT r.segment, CAST(r.rk AS BIGINT) AS rk, r.cust, r.cents,
               r.cents * 1000000 DIV g.seg_cents AS share_ppm
        FROM r JOIN seg g ON r.segment = g.segment
        WHERE r.rk <= 3
      """)
    }),


    // Range join (point-in-interval; Temporal.rangeJoin): clicks inside the
    // 30-minute window after each purchase, counted per window. Equi join
    // on (user, grain cell) + residual — no inequality-driven cross product.
    "q31_range_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val windows = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ts").as("lo"), (col("ts") + expr("INTERVAL 30 MINUTES")).as("hi"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"))
      graft.ops.Temporal
        .rangeJoin(clicks, windows, Seq("user_id"), "ts", "lo", "hi",
          grainSeconds = 1800L)
        .groupBy(col("purchase_id"))
        .agg(count(lit(1)).as("n_clicks"))
    }),


    // §2.3 FULL OUTER: completes the join-type inventory — both null
    // sides exercised (rich customers with no orders; ordering customers
    // below the balance cut). Same shuffle shape as the inner join; only
    // the null-extension differs.
    "q51_full_outer" -> ((s, dir) => {
      val rich = Tables.customer(s, dir)
        .filter(col("c_acctbal") > 5000)
        .select(col("c_custkey"), col("c_name"))
      val counts = Tables.orders(s, dir)
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"))
      rich.join(counts, col("c_custkey") === col("o_custkey"), "full_outer")
        .select(
          coalesce(col("c_custkey"), col("o_custkey")).cast("long").as("cust_id"),
          col("c_name"), col("n_orders"))
    }),


    // §2.5 CUBE: all four (priority, status) margins in one Expand +
    // map-side-partial hash agg; grouping_id disambiguates super-agg rows
    "q52_cube" -> ((s, dir) =>
      Relational.cubeSummary(
        Tables.orders(s, dir), "o_orderpriority", "o_orderstatus", "o_totalprice")),


    // §2.5 LAG/LEAD: per-customer order history deltas — one shuffle +
    // one sort serves all four window expressions; o_orderkey tie-break
    // makes the sequence total, hence deterministic
    "q53_order_deltas" -> ((s, dir) =>
      ops.Temporal.sequenceDeltas(
        Tables.orders(s, dir), "o_custkey", "o_orderdate", "o_totalprice",
        tieBreak = "o_orderkey")
        .select(col("o_orderkey"), col("o_custkey"),
          col("prev_value").as("prev_price"),
          col("next_value").as("next_price"),
          col("value_delta").as("price_delta"),
          col("days_since_prev"))),


    // §2.5 exact co-moment statistics: corr/covar from order-free BIGINT
    // sums (floor-quantized inputs) — bit-reproducible across engines,
    // unlike the streaming double accumulators of the corr() built-in
    "q54_corr_stats" -> ((s, dir) =>
      Relational.intCorrMoments(
        Tables.lineitem(s, dir), "l_returnflag",
        floor(col("l_quantity")), floor(col("l_extendedprice")))),


    // §2.5 GROUPING SETS: the general margin-list form — exactly the
    // margins asked for ((flag,status), (status), ()), nothing more
    "q55_grouping_sets" -> ((s, dir) =>
      Relational.groupingSetsSummary(
        Tables.lineitem(s, dir),
        Seq(Seq("l_returnflag", "l_linestatus"), Seq("l_linestatus"), Seq.empty),
        Seq("l_returnflag", "l_linestatus"),
        "l_quantity")),


    // §2.5 fixed-width histogram: floor-division bucketing + min/max —
    // binned analytics as a pure projection + one hash agg
    "q56_histogram" -> ((s, dir) =>
      Relational.histogram(Tables.orders(s, dir), "o_totalprice", 20000.0)),


    // training-pipeline: deterministic per-language downsampling — the
    // corpus language-mix rebalance as a pure function of doc_id (same
    // decision on any cluster/partitioning/engine, unlike sampleBy's RNG)
    "q59_stratified_sample" -> ((s, dir) =>
      Relational.stratifiedHashSample(
        Tables.documents(s, dir).select(col("doc_id"), col("lang")),
        "lang", "doc_id",
        Map("en" -> 0.5, "de" -> 1.0, "es" -> 0.25, "fr" -> 0.1))),


    // §2.2 semi-structured extraction: schema'd JSON parse of the props
    // column (from_json — the production form: typed, null on malformed)
    // + integer aggregation. The parse is a pure projection; at scale the
    // win is parsing ONCE into a typed column, not per-expression
    "q66_json_extract" -> ((s, dir) =>
      Tables.events(s, dir)
        .select(col("event_type"),
          from_json(col("props"),
            org.apache.spark.sql.types.StructType.fromDDL("k INT"))
            .getField("k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"),
          max(col("k")).as("max_k"))),


    // §2.5 explicit ROWS frames: trailing-3 rolling spend + frame start +
    // forward-3 look, per customer — the row-bounded counterpart of q47's
    // RANGE frame; all four frame expressions share one partitioned sort.
    // Integer-quantized values make every frame sum engine-exact; the
    // trailing average divides two BIGINTs → identical IEEE double.
    "q67_window_frames" -> ((s, dir) =>
      Relational.rowsFrameStats(
        Tables.orders(s, dir).select(
          col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
          floor(col("o_totalprice")).cast("long").as("price_i")),
        partCol = "o_custkey", orderCol = "o_orderdate",
        tieBreak = "o_orderkey", valueInt = col("price_i"))
        .select(col("o_orderkey"), col("o_custkey"),
          col("trail_sum"), col("trail_n"),
          (col("trail_sum") / col("trail_n")).as("trail_avg"),
          col("frame_first"), col("ahead_sum"))),


    // §2.3 UNPIVOT: wide→long melt of a per-flag aggregate — the inverse
    // of q49's pivot, as the native Unpivot node (one Expand, no
    // self-union re-scan of the input)
    "q68_unpivot" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"),
          sum(floor(col("l_quantity")).cast("long")).as("sum_qty"),
          sum(floor(col("l_extendedprice")).cast("long")).as("sum_price"))
        .unpivot(
          Array(col("l_returnflag")),
          Array(col("n_rows"), col("sum_qty"), col("sum_price")),
          "metric", "value")),


    // §2.5 rank-function family: ntile / percent_rank / cume_dist per
    // priority group — one partitioned window sort serves all three;
    // o_orderkey tie-break keeps rank-derived doubles deterministic
    "q63_rank_family" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      Tables.orders(s, dir).select(
        col("o_orderkey"), col("o_orderpriority"),
        ntile(4).over(w).cast("long").as("quartile"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"))
    }),


    // §2.2 temporal bucketing: calendar-month rollup (date_trunc), count
    // + exact sum per month — the time-series reporting shape
    "q64_monthly" -> ((s, dir) =>
      Tables.orders(s, dir)
        // month as ISO string: a DATE column round-trips through parquet
        // and the two engines' readers with different physical types —
        // the string form is representation-unambiguous for the compare
        .groupBy(date_format(trunc(to_date(col("o_orderdate")), "month"), "yyyy-MM-dd")
          .as("month"))
        .agg(count(lit(1)).as("n_orders"),
          Relational.exactSum(col("o_totalprice")).as("sum_price"))),


    // J-family: fuzzy name join — edit distance within id-suffix blocks
    // (the reference's exact name joins made typo-tolerant; blocking keeps
    // the pair space Σ bucket², never |C|×|S|)
    "q65_fuzzy_names" -> ((s, dir) =>
      Relational.editDistanceJoin(
        Tables.customer(s, dir).select(col("c_custkey"), col("c_name")),
        Tables.supplier(s, dir).select(col("s_suppkey"), col("s_name")),
        "c_name", "s_name",
        bucket = name => regexp_extract(name, "([0-9]{2})$", 1),
        maxDist = 7)
        .select(col("c_custkey"), col("s_suppkey"), col("edit_dist"))),


    // §2.5 PIVOT: long→wide with an EXPLICIT value list (no
    // distinct-collect planning pass — the production form) — token-count
    // buckets × language counts. Conditional-aggregation mirror in SQL.
    "q49_pivot" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(
          (size(TextOps.tokens(col("text"))) >= 50).cast("int").as("long_doc"),
          col("lang"))
        .groupBy(col("long_doc"))
        .pivot("lang", Seq("de", "en", "es", "fr", "zh"))
        .agg(count(lit(1)))
        // fill ONLY the pivoted value columns — an unscoped fill would also
        // rewrite a NULL grouping key to 0 and diverge from the oracle
        .na.fill(0L, Seq("de", "en", "es", "fr", "zh"))),


    // §2.5 exact percentiles (the exact counterpart of q37's sketches):
    // sort-based interpolated median — identical (1-d)·a + d·b arithmetic
    // in both engines ⇒ the double hash-matches.
    "q50_median" -> ((s, dir) =>
      Tables.orders(s, dir)
        .groupBy(col("o_orderpriority"))
        .agg(
          percentile(col("o_totalprice"), lit(0.5)).as("median_price"),
          count(lit(1)).as("n"))),


    // §2.5 ROLLUP: per-(region, nation) subtotals + grand total in one
    // Expand + hash agg pass; NULL super-aggregate rows mirror ANSI
    "q48_rollup" -> ((s, dir) =>
      Relational.dimsHierarchy(
        Tables.customer(s, dir), Tables.nation(s, dir), Tables.region(s, dir))),


    // §2.5 RANGE-frame window (the rolling-aggregate shape tumbling
    // windows can't express: a trailing hour per EVENT, not per bucket) —
    // exact decimal sum inside the frame ⇒ hash-matches the oracle.
    "q47_rolling_hour" -> ((s, dir) =>
      ops.Temporal.rollingStats(Tables.events(s, dir), "user_id", "ts", "value")
        .select(col("event_id").cast("long").as("event_id"),
          col("user_id").cast("long").as("user_id"),
          col("n_win"), col("sum_win"))),


    // §2.5 distinct aggregation inside time buckets: exact distinct users
    // + event count + exact sum per hour — the dashboard rollup shape
    // (Spark plans COUNT(DISTINCT) as the two-phase Expand rewrite: both
    // phases map-side partial, no per-group set materialization)
    "q90_window_distinct" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("hour"))
        .agg(countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events"),
          Relational.exactSum(col("value")).as("sum_value"))),


    // §2.3 temporal family third member: INTERVAL×INTERVAL overlap join
    // (click windows × purchase windows per user) — grain-cell equi
    // decomposition on BOTH sides + pair dedup + residual predicate;
    // never an inequality-only (per-key cross product) join
    "q85_overlap_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("c_id"), col("user_id"),
          col("ts").as("c_lo"), (col("ts") + expr("INTERVAL 20 MINUTES")).as("c_hi"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id"),
          col("ts").as("p_lo"), (col("ts") + expr("INTERVAL 35 MINUTES")).as("p_hi"))
      graft.ops.Temporal.overlapJoin(clicks, purchases, Seq("user_id"),
          "c_lo", "c_hi", "p_lo", "p_hi", grainSeconds = 1800L)
        .select(col("c_id"), col("p_id"))
    }),


    // MERGE/upsert for plain-parquet tables (read-join-rewrite — the
    // primitive every transactional format builds on): a deterministic
    // synthetic change set derived from orders itself — status updates
    // (keys %7), brand-new keys (%13, offset +1e8), and a CONFLICTING
    // second version for %21 keys that must lose to last-writer-wins.
    "q108_merge_upsert" -> ((s, dir) =>
      Relational.upsert(ordersSnapshot(s, dir), ordersChangeSet(s, dir),
        Seq("o_orderkey"), orderCol = "ver", tieCol = "o_orderstatus")),


    // CDC derivation: recover the change feed between the base snapshot
    // and the merged+pruned successor — inserts from the new-key branch,
    // updates from the %7 status rewrite, deletes from the %11 prune.
    "q111_snapshot_diff" -> ((s, dir) => {
      val base = ordersSnapshot(s, dir)
      val next = Relational.upsert(base, ordersChangeSet(s, dir),
          Seq("o_orderkey"), orderCol = "ver", tieCol = "o_orderstatus")
        .filter(col("o_orderkey") % 11 =!= 5)
      Relational.snapshotDiff(base, next, Seq("o_orderkey"),
        Seq("o_orderstatus", "o_totalprice"))
    }),


    // distance-≤1 fuzzy self-pairing with NO blocking key (deletion
    // neighborhoods, full-recall pigeonhole) — the generic form of q65's
    // domain-bucketed editDistanceJoin
    "q110_deletion_join" -> ((s, dir) =>
      Relational.deletionJoinPairs(
        Tables.customer(s, dir).select(col("c_custkey"), col("c_name")),
        "c_custkey", "c_name")),


    // Spark-4 VARIANT path for semi-structured columns: parse_json once,
    // typed variant_get extraction — the open-schema twin of q66's
    // fixed-schema from_json (the 100 TB-relevant difference: VARIANT
    // keeps the full document queryable without committing to a schema
    // at write time)
    "q125_variant" -> ((s, dir) =>
      Tables.events(s, dir)
        .select(col("event_id"),
          expr("variant_get(parse_json(props), '$.k', 'bigint')").as("k"))),


    // robust batch-health monitoring: per-type MAD outliers over event
    // values (exact interpolated median both engines — the q50 recipe)
    "q121_mad_outliers" -> ((s, dir) =>
      ops.Profile.madOutliers(Tables.events(s, dir), "event_type", "value",
        keepCols = Seq("event_id"), k = 3.0)),


    // ANALYZE-TABLE-shaped column profiler (long format, one shared
    // scan); doubles pre-cast to DECIMAL so the string forms are
    // engine-portable
    "q116_profile" -> ((s, dir) =>
      ops.Profile.profileColumns(
        Tables.lineitem(s, dir).select(
          col("l_orderkey"),
          col("l_quantity").cast("decimal(12,2)").as("l_quantity"),
          col("l_returnflag"), col("l_shipdate")),
        Seq("l_orderkey", "l_quantity", "l_returnflag", "l_shipdate"))),


    // join-key skew diagnostics: top-k hot keys + exact-integer Gini of
    // the key distribution — the decision inputs for saltedJoin (q96)
    "q117_key_skew" -> ((s, dir) =>
      ops.Profile.keySkewProfile(Tables.orders(s, dir), "o_custkey", topK = 10)),


    // SCD2 dimension-history build from a change log: per-user event_type
    // versions with [valid_from, valid_to) intervals, no-op changes
    // collapsed, (ts, event_id) ordering so duplicate timestamps stay
    // deterministic.
    "q109_scd2" -> ((s, dir) =>
      ops.Temporal.scd2(Tables.events(s, dir),
        "user_id", "ts", "event_type", "event_id")),

    // §2.8 session windows (oracle-checked: q22 IS in oracleSql — the
    // gaps-and-islands SQL is an independent relational formulation of
    // session_window's merge semantics)
    "q22_session_windows" -> ((s, dir) =>
      streaming.Streams.sessionize(Tables.events(s, dir))),


    // ordered conversion funnel view→click→purchase: per-user earliest
    // step times under STRICT ordering (a purchase before the first
    // click does not advance the funnel) + furthest stage reached.
    // Grouped mins and key-equi left joins only — every shuffle is on
    // user_id.
    "q139_funnel" -> ((s, dir) =>
      ops.Temporal.funnel(Tables.events(s, dir),
        "user_id", "ts", "event_type", Seq("view", "click", "purchase"))),


    // cohort-retention triangle: first-active-day cohorts × day offset →
    // distinct active users; output cardinality is cohorts × offsets,
    // independent of event volume
    "q140_retention" -> ((s, dir) =>
      ops.Temporal.retentionCohorts(Tables.events(s, dir), "user_id", "ts")),


    // hourly resample + last-observation-carried-forward per user: each
    // user's own hour grid (sequence-exploded from one span row), values
    // attached by the union+window as-of pass — the time-series
    // gap-fill/downsample shape, zero inequality joins
    "q142_gap_fill" -> ((s, dir) => {
      val pts = Tables.events(s, dir)
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("v"))
      ops.Temporal.resampleLocf(pts, Seq("user_id"), "ts", "v",
        truncUnit = "hour", stepSeconds = 3600L)
    }),


    // q142 with BOUNDED staleness (pandas merge_asof `tolerance`): LOCF
    // carries a value at most 2 h — a grid hour more than 2 h past the
    // last observation reads NULL, the sensor-freshness contract
    "q177_gap_fill_bounded" -> ((s, dir) => {
      val pts = Tables.events(s, dir)
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("v"))
      ops.Temporal.resampleLocf(pts, Seq("user_id"), "ts", "v",
        truncUnit = "hour", stepSeconds = 3600L,
        maxStalenessSeconds = Some(7200L))
    }),


    // TPC-H Q3 shape (shipping priority): segment-filtered customer ⋈
    // date-filtered orders ⋈ date-filtered lineitem, revenue per open
    // order, deterministic top-10. Filters sit on each branch BEFORE the
    // joins so pushdown reaches all three scans; joins key on o_custkey
    // then o_orderkey — the orders⋈customer exchange is the small one and
    // runs first. Total order (revenue desc, odate, orderkey) makes the
    // LIMIT engine-invariant.
    "q143_tpch_q3" -> ((s, dir) => {
      val cut = to_date(lit("1998-01-01"))
      val c = Tables.customer(s, dir)
        .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      val o = Tables.orders(s, dir)
        .filter(to_date(col("o_orderdate")) < cut)
        .select(col("o_orderkey"), col("o_custkey"),
          to_date(col("o_orderdate")).as("odate"), col("o_orderpriority"))
      val l = Tables.lineitem(s, dir)
        .filter(to_date(col("l_shipdate")) > cut)
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      l.join(o.join(c, col("o_custkey") === col("c_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"), col("odate"), col("o_orderpriority"))
        .agg(Relational.exactSum(
          col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6).as("revenue"))
        .orderBy(col("revenue").desc, col("odate"), col("l_orderkey"))
        .limit(10)
    }),


    // TPC-H Q5 shape (local-supplier volume): six-way join where revenue
    // only counts when the CUSTOMER's nation equals the SUPPLIER's nation.
    // region→nation prune first (broadcast both — a handful of rows), the
    // pruned supplier dim broadcasts into the fact side, and the only
    // shuffles are lineitem⋈orders (orderkey) and ⋈customer (custkey);
    // the nation-match residual rides the supplier broadcast join as a
    // second equi conjunct, never a separate exchange.
    "q144_tpch_q5" -> ((s, dir) => {
      val lo = to_date(lit("1997-01-01"))
      val n = Tables.nation(s, dir)
        .join(broadcast(Tables.region(s, dir).filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))
      val sup = Tables.supplier(s, dir)
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_nationkey"), col("n_name"))
      val o = Tables.orders(s, dir)
        .filter(to_date(col("o_orderdate")) >= lo &&
          to_date(col("o_orderdate")) < add_months(lo, 12))
        .select(col("o_orderkey"), col("o_custkey"))
      val cust = Tables.customer(s, dir).select(col("c_custkey"), col("c_nationkey"))
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_suppkey"),
          col("l_extendedprice"), col("l_discount"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .groupBy(col("n_name"))
        .agg(Relational.exactSum(
          col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6).as("revenue"))
    }),


    // market-basket co-occurrence: within-order part pairs with the
    // family-standard quadratic guard (baskets > 8 distinct parts are
    // dropped whole — declared semantics the oracle mirrors) and a
    // support floor
    "q146_cooccurrence" -> ((s, dir) =>
      Relational.cooccurrencePairs(
        Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_partkey")),
        "l_orderkey", "l_partkey", maxBasket = 8, minSupport = 2L)),


    // CDC round-trip law: applyCdcOps(v0, snapshotDiff(v0, v1)) == v1 —
    // the diff is DERIVED (never hand-built), converted to an I/U/D op
    // log, and applied back with delete support; the oracle expresses v1
    // directly, so a hash match proves diff∘apply is the identity on a
    // change set containing all three op kinds
    "q148_cdc_roundtrip" -> ((s, dir) => {
      val v0 = QueryShared.ordersSnapshot(s, dir)
      val kept = v0.filter(col("o_orderkey") % 19 =!= 0)
        .withColumn("o_orderstatus",
          when(col("o_orderkey") % 7 === 0, lit("X"))
            .otherwise(col("o_orderstatus")))
      val ins = v0.filter(col("o_orderkey") % 13 === 0)
        .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
          lit("N").as("o_orderstatus"), col("o_totalprice"))
      val v1 = kept.unionByName(ins)
      val diff = Relational.snapshotDiff(v0, v1, Seq("o_orderkey"),
        Seq("o_orderstatus", "o_totalprice"))
      val opLog = diff.select(col("o_orderkey"),
        col("new_o_orderstatus").as("o_orderstatus"),
        col("new_o_totalprice").as("o_totalprice"),
        col("change_type").as("op"),
        lit(1L).as("ver"), col("o_orderkey").as("tie"))
      Relational.applyCdcOps(v0, opLog, Seq("o_orderkey"),
        opCol = "op", orderCol = "ver", tieCol = "tie")
    }),


    // referential-integrity audit with deterministically poked holes
    // (parents %23 removed): row/NULL-key/orphan counts + exact-integer
    // orphan ppm; orphan detection is a LEFT ANTI join on the key
    "q149_fk_audit" -> ((s, dir) =>
      Relational.fkAudit(
        Tables.lineitem(s, dir), "l_orderkey",
        Tables.orders(s, dir).filter(col("o_orderkey") % 23 =!= 0),
        "o_orderkey")),


    // item-item similarity from co-occurrence (collaborative-filtering
    // neighborhood): squared cosine support²·10⁶ div (freq_a·freq_b) in
    // exact integers over q146's capped pair counts — the square avoids
    // the sqrt, keeping the whole path BIGINT. Frequencies come from the
    // SAME capped basket set the pairs do, so the ratio is internally
    // consistent.
    // SCD2 dimension LOOKUP (the serving half of q109): each purchase
    // attaches the event-type version valid AT its timestamp — the
    // version chain changes only at valid_from instants, so "the valid
    // version" is exactly the latest valid_from ≤ fact ts: one asofJoin,
    // no interval predicate, no inequality join
    "q158_scd2_lookup" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val hist = ops.Temporal
        .scd2(ev, "user_id", "ts", "event_type", "event_id")
        .groupBy(col("user_id"), col("valid_from").as("ts"))
        .agg(max(col("event_type")).as("dim_type"))
      val facts = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      ops.Temporal.asofJoin(facts, hist, Seq("user_id"), "ts", Seq("dim_type"))
    }),


    // multi-source BFS over the q69 bipartite customer–supplier graph:
    // shortest hop distances from the %97 customer seed set, frontier
    // expansion with first-visit anti-joins (rows bounded by |reachable|,
    // never walk enumeration)
    "q156_bfs_hops" -> ((s, dir) => {
      val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
      val li = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey"))
      val pairs = o.join(li, col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
      val edges = pairs.union(
        pairs.select(col("dst").as("src"), col("src").as("dst")))
      val seeds = Tables.customer(s, dir)
        .filter(col("c_custkey") % 97 === 0)
        .select((col("c_custkey") * 2).as("node"))
      ops.Graph.bfsHops(edges, seeds, maxHops = 4)
    }),


    // per-user event-type transition counts (the Markov-chain view of
    // the clickstream): one window lag over a total (ts, event_id) order,
    // then a grouped count — one shuffle + one sort
    "q157_transitions" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type"))
        .agg(count(lit(1)).as("n"))
    }),


    // TPC-H Q18 shape (large-volume orders): HAVING over a fact
    // aggregation feeding a join — the grouped sum runs FIRST (one
    // shuffle on l_orderkey), survives the threshold, and only then joins
    // orders and customer, so the join inputs are pre-shrunk to the
    // qualifying keys
    "q154_tpch_q18" -> ((s, dir) => {
      val big = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey"))
        .agg(Relational.exactSum(col("l_quantity")).as("sum_qty"))
        .filter(col("sum_qty") > 150.0)
      big.join(Tables.orders(s, dir),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          col("o_totalprice"), col("sum_qty"))
    }),


    // TPC-H Q17 shape (small-quantity-order revenue): the correlated
    // per-part average decorrelated into a grouped (n, S) join; the
    // 0.2·avg predicate runs denominator-free as 5·q·n < S over the
    // integral quantities — no float division before the single final
    // IEEE divide both engines share
    "q155_tpch_q17" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"),
          col("l_quantity").cast("bigint").as("q_i"))
      val perPart = li.groupBy(col("l_partkey").as("pp"))
        .agg(count(lit(1)).as("n_p"), sum(col("q_i")).as("s_p"))
      val parts = Tables.part(s, dir)
        .filter(col("p_brand") === "Brand#19")
        .select(col("p_partkey"))
      li.join(broadcast(parts), col("l_partkey") === col("p_partkey"))
        .join(perPart, col("l_partkey") === col("pp"))
        .filter(lit(5L) * col("q_i") * col("n_p") < col("s_p"))
        .agg(count(lit(1)).as("n_small"),
          (Relational.exactSum(col("l_extendedprice")) / lit(7.0))
            .as("avg_yearly"))
    }),


    // rolling z-score anomaly flags, denominator-free in DECIMAL(38,0):
    // (n·v − S)² > 9·(nQ − S²) over a trailing 7-day RANGE frame —
    // no float division or sqrt, so the flag set is bit-identical to the
    // oracle's HUGEINT replay
    "q153_rolling_anomaly" -> ((s, dir) =>
      ops.Temporal.rollingAnomaly(
        Tables.events(s, dir).select(col("user_id"), col("ts"), col("value")),
        "user_id", "ts", "value",
        windowMicros = 604800000000L, z = 3, minN = 12L)),


    "q151_item_similarity" -> ((s, dir) => {
      val items = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_partkey")).distinct()
      val ok = items
        .withColumn("__bs", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("l_orderkey"))))
        .filter(col("__bs") <= 8).drop("__bs")
      val freq = ok.groupBy(col("l_partkey")).agg(count(lit(1)).as("f"))
      Relational.cooccurrencePairs(
          Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_partkey")),
          "l_orderkey", "l_partkey", maxBasket = 8, minSupport = 2L)
        .join(freq.select(col("l_partkey").as("item_a"), col("f").as("fa")),
          Seq("item_a"))
        .join(freq.select(col("l_partkey").as("item_b"), col("f").as("fb")),
          Seq("item_b"))
        .select(col("item_a"), col("item_b"), col("support"),
          expr("(support * support * 1000000) div (fa * fb)").as("cos2_q6"))
    }),


    // TPC-H Q13 shape (customer order-count distribution): left-outer
    // join so zero-order customers survive, then TWO stacked
    // aggregations — per-customer counts (shuffle on custkey), then the
    // histogram over those counts (shuffle on the count, a frame already
    // reduced to |customers| rows). The second shuffle's input is the
    // first agg's output, so the expensive exchange happens exactly once
    // over fact-sized data.
    "q159_order_count_distribution" -> ((s, dir) => {
      val perCust = Tables.customer(s, dir).select(col("c_custkey"))
        .join(Tables.orders(s, dir)
            .select(col("o_custkey"), col("o_orderkey")),
          col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
      perCust.groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
    }),


    // TPC-H Q4 shape (priority counts over orders with a late-shipping
    // line): EXISTS becomes a LEFT SEMI join whose condition carries the
    // correlated comparison (l_shipdate > o_orderdate) as a join
    // residual — lineitem is never materialized into the output, and
    // the semi join short-circuits per order on first match.
    "q160_late_ship_priority" -> ((s, dir) =>
      Tables.orders(s, dir)
        .join(Tables.lineitem(s, dir)
            .select(col("l_orderkey"), col("l_shipdate")),
          col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") > col("o_orderdate"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))),


    // TPC-H Q19 shape (disjunctive predicate join): the OR of brand ×
    // size-band × quantity-band conjunctions references BOTH sides, so
    // it stays a residual on the partkey equi-join; the per-side halves
    // (p_size >= 1, quantity bounds) are what Catalyst can push below
    // the join, and the broadcast keeps the residual evaluation local.
    "q161_disjunctive_join" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_partkey"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"))
      val p = Tables.part(s, dir)
        .select(col("p_partkey"), col("p_brand"), col("p_size"))
      val bands =
        (col("p_brand") === "Brand#12" &&
          col("p_size").between(1, 5) && col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#23" &&
          col("p_size").between(1, 10) && col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#34" &&
          col("p_size").between(1, 15) && col("l_quantity").between(20, 30))
      li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .filter(bands)
        .agg(count(lit(1)).as("n_items"),
          Relational.exactSum(
            col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6)
            .as("revenue"))
    }),


    // TPC-H Q22 shape (high-balance customers with no urgent orders):
    // the correlated scalar subquery (avg positive balance) decorrelates
    // into one global (n, S) aggregate attached by broadcast, compared
    // DENOMINATOR-FREE as bal·n > S in DECIMAL — no float average, so
    // the qualifying set is bit-identical to the oracle — then a LEFT
    // ANTI join drops customers holding any '1-URGENT' order (the
    // fixture has no fully order-less customers; the priority gate keeps
    // the anti join selective instead of vacuous). The pushed-down
    // priority filter shrinks the anti build side 5× before exchange.
    "q162_no_order_high_balance" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val pos = c.filter(col("c_acctbal") > 0.0)
        .agg(count(lit(1)).as("n_pos"),
          sum(col("c_acctbal").cast("decimal(30,2)")).as("s_pos"))
      c.crossJoin(broadcast(pos))
        .filter(col("c_acctbal").cast("decimal(30,2)") * col("n_pos") >
          col("s_pos"))
        .join(Tables.orders(s, dir)
            .filter(col("o_orderpriority") === "1-URGENT")
            .select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("numcust"),
          Relational.exactSum(col("c_acctbal")).as("totacctbal"))
    }),


    // session path mining: q22's gaps-and-islands sessionization chained
    // into q157's lag transitions, but WITHIN sessions and one step
    // deeper — per-session ordered event-type trigrams. All three
    // windows share the (user_id | user_id,sid) partitioning, so the
    // whole query is ONE shuffle on user_id plus vocabulary-sized
    // grouped counts (|event_types|³ upper bound on the output).
    "q164_session_paths" -> ((s, dir) =>
      ops.Temporal.sessionPaths(Tables.events(s, dir),
        "user_id", "ts", "event_type", tieCols = Seq("event_id"))),


    // winsorized per-segment balance summary (robust-mean monitoring):
    // exact [p05, p95] clamp + integer-µ clamped mean — see
    // Profile.winsorizedStats for the order-free portability recipe.
    "q165_winsorized_stats" -> ((s, dir) =>
      ops.Profile.winsorizedStats(
        Tables.customer(s, dir)
          .select(col("c_mktsegment"), col("c_acctbal")),
        "c_mktsegment", "c_acctbal")),


    // peak concurrency per event type over 10-minute activity intervals
    // (sweep line WITHOUT the single-partition global sort — the
    // Packing-style two-phase cumsum; see Temporal.intervalConcurrency)
    "q167_peak_concurrency" -> ((s, dir) =>
      ops.Temporal.intervalConcurrency(
        Tables.events(s, dir).select(col("event_type"),
          col("ts").as("s_t"),
          (col("ts") + expr("INTERVAL 10 MINUTES")).as("e_t")),
        Seq("event_type"), "s_t", "e_t")),


    // data-quality expectation suite over orders: four row rules
    // reduced in ONE scalar aggregate off one scan + the key-uniqueness
    // expectation as its own grouped pass — the pre-flight batch gate
    "q168_dq_expectations" -> ((s, dir) =>
      ops.Profile.expectations(Tables.orders(s, dir), Seq(
        "o_custkey_not_null" -> col("o_custkey").isNull,
        "o_totalprice_positive" -> !(col("o_totalprice") > 0.0),
        "o_orderstatus_domain" -> !col("o_orderstatus").isin("O", "F", "P"),
        "o_totalprice_upper_400k" -> (col("o_totalprice") > 400000.0)),
        uniqueKeys = Seq("o_orderkey"))),


    // merkle-style bucketed snapshot diff (the 100 TB table-compare):
    // per-bucket digests pre-screen which of the 64 buckets changed,
    // and only those buckets pay the row-level full-outer diff — both
    // sides semi-join-pruned before the expensive exchange. v1 derives
    // deterministically from v0 (status flip %7, delete %11, insert
    // %13), so the oracle rebuilds both snapshots AND the digest screen.
    // The price travels as the STRING form of DECIMAL(30,2) — the fixed
    // two-decimal rendering is engine-identical both in the digest hash
    // AND in the output (raw double formatting is not portable, and
    // decimal columns round-trip as non-comparable objects in the
    // driver's pandas compare).
    "q171_merkle_diff" -> ((s, dir) => {
      // v0/v1 are bare projection scans — deliberately NOT checkpointed
      // (r14): caching a full-snapshot projection trades a cheap prunable
      // re-scan for block storage, and the cached-block reads pollute the
      // bytes_read tripwire (counted as input); measured no wall win.
      val v0 = ordersSnapshot(s, dir)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice").cast("decimal(30,2)").cast("string")
            .as("o_price"))
      val v1 = v0.filter(col("o_orderkey") % 11 =!= 0)
        .withColumn("o_orderstatus",
          when(col("o_orderkey") % 7 === 0, lit("X"))
            .otherwise(col("o_orderstatus")))
        .unionByName(v0.filter(col("o_orderkey") % 13 === 0)
          .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
            lit("N").as("o_orderstatus"), col("o_price")))
      Relational.merkleDiff(v0, v1, Seq("o_orderkey"),
        Seq("o_orderstatus", "o_price"), nBuckets = 64)
    }),


    // q139's strict funnel with CONVERSION WINDOWS: each step counts
    // only within 24 h of the previous step's first-chain time (the
    // product-analytics "converted within a day" semantics); an
    // out-of-window later event does not resurrect the funnel
    "q190_funnel_windowed" -> ((s, dir) =>
      ops.Temporal.funnel(Tables.events(s, dir),
        "user_id", "ts", "event_type", Seq("view", "click", "purchase"),
        maxStepGapSeconds = Some(86400L))),


    // LAST-TOUCH attribution (the marketing-analytics asof): each
    // purchase credits the LATEST preceding view by the same user
    // within a 24 h lookback — the asofJoin union-window (one shuffle,
    // no inequality join) + the staleness null-out, rolled up by the
    // credited view's hour-of-day; NULL hour = unattributed purchases.
    // Both sides pre-grouped to the (user, ts) grain the asof contract
    // requires, carrying exact multiplicity weights.
    "q200_attribution" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(count(lit(1)).as("n_p"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts")).distinct()
        .select(col("user_id"), col("ts"), col("ts").as("v_ts"))
      ops.Temporal.asofJoin(purchases, views,
          Seq("user_id"), "ts", Seq("v_ts"))
        .withColumn("v_ok",
          when(col("ts") <= col("v_ts") + expr("INTERVAL 24 HOURS"),
            col("v_ts")))
        .groupBy(hour(col("v_ok")).cast("int").as("view_hour"))
        .agg(sum(col("n_p")).as("n_purchases"))
    }),


    // the experiment readout PRODUCT teams actually ship: q190's
    // windowed funnel split by assignment (user_id parity = the q182
    // variant rule) → per-variant per-stage reach counts; integer
    // counts only, the conversion-rate division left to the consumer
    "q199_funnel_ab" -> ((s, dir) =>
      ops.Temporal.funnel(Tables.events(s, dir),
        "user_id", "ts", "event_type", Seq("view", "click", "purchase"),
        maxStepGapSeconds = Some(86400L))
        .select((col("user_id") % 2).cast("int").as("variant"), col("stage"))
        .groupBy(col("variant"), col("stage"))
        .agg(count(lit(1)).as("n_users"))),


    // deterministic Poisson(1) bootstrap replicates — distributed error
    // bars: each (event, replicate r) draws a weight from the Poisson
    // inverse CDF evaluated on a 56-bit md5 uniform (content-addressed:
    // the same row gets the same weight on any cluster), thresholds
    // pre-quantized to exact integer literals so the draw is pure
    // integer comparison. Output = per (type, replicate) exact integer
    // sufficient stats (Σw, Σw·cents) + the one-division mean; the
    // replicate spread IS the standard error. One explode (×16) + one
    // grouped pass.
    "q189_bootstrap" -> ((s, dir) => {
      val th = Seq(26508507426831584L, 53017014853663168L,
        66271268567078960L, 70689353138217560L, 71793874281002208L)
      val u = conv(substring(md5(
        concat(col("event_id").cast("string"), lit(":"),
          col("r").cast("string"))), 1, 14), 16, 10).cast("long")
      val w = th.map(t => when(u >= t, 1L).otherwise(0L))
        .reduce(_ + _)
      Tables.events(s, dir)
        .select(col("event_id"), col("event_type"),
          (col("value").cast("decimal(30,2)") * 100).cast("long")
            .as("cents"))
        .withColumn("r", explode(typedLit((0 until 16).toList)))
        .withColumn("w", w)
        .groupBy(col("event_type"), col("r"))
        .agg(sum(col("w")).as("n_eff"),
          sum(col("w") * col("cents")).as("wsum_cents"))
        .withColumn("mean_r",
          col("wsum_cents").cast("double") /
            (col("n_eff").cast("double") * 100.0))
    }),


    // the anti-entropy loop CLOSED: q171's bucket-pruned diff converted
    // to an I/U/D op log and applied back onto v0 — the reconstructed
    // snapshot must equal v1 row-for-row (oracle states v1 directly).
    // This is the 100 TB replica-sync path: ship only the changed
    // buckets' rows, replay them, converge.
    "q180_merkle_sync" -> ((s, dir) => {
      // v0/v1 bare projection scans — not checkpointed (r14, the q171
      // rationale: cheap prunable re-scan beats block storage here)
      val v0 = ordersSnapshot(s, dir)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice").cast("decimal(30,2)").cast("string")
            .as("o_price"))
      val v1 = v0.filter(col("o_orderkey") % 11 =!= 0)
        .withColumn("o_orderstatus",
          when(col("o_orderkey") % 7 === 0, lit("X"))
            .otherwise(col("o_orderstatus")))
        .unionByName(v0.filter(col("o_orderkey") % 13 === 0)
          .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
            lit("N").as("o_orderstatus"), col("o_price")))
      val ops = Relational.merkleDiff(v0, v1, Seq("o_orderkey"),
          Seq("o_orderstatus", "o_price"), nBuckets = 64)
        .select(col("o_orderkey"),
          col("new_o_orderstatus").as("o_orderstatus"),
          col("new_o_price").as("o_price"),
          col("change_type").as("op"),
          lit(1L).as("ver"), col("o_orderkey").as("tie"))
      Relational.applyCdcOps(v0, ops, Seq("o_orderkey"), "op", "ver", "tie")
    }),


    // A/B experiment readout with EXACT sufficient statistics: per
    // variant n, Σx, Σx² in integer cents (one grouped pass, map-side
    // partial), mean and sample variance derived by decimal-exact
    // integer algebra + ONE final double division each — the float
    // accumulation a naive avg/var_samp would make order-dependent
    // never happens.
    "q182_ab_metrics" -> ((s, dir) =>
      Tables.events(s, dir)
        .select((col("user_id") % 2).cast("int").as("variant"),
          (col("value").cast("decimal(30,2)") * 100).cast("long").as("c"))
        .groupBy(col("variant"))
        .agg(count(lit(1)).as("n"),
          sum(col("c")).as("sum_cents"),
          sum(col("c") * col("c")).as("sumsq_cents2"))
        .withColumn("mean",
          col("sum_cents").cast("double") / (col("n").cast("double") * 100.0))
        .withColumn("var_cents2",
          (col("n").cast("decimal(38,0)") *
            col("sumsq_cents2").cast("decimal(38,0)") -
            col("sum_cents").cast("decimal(38,0)") *
            col("sum_cents").cast("decimal(38,0)")).cast("double") /
            (col("n") * (col("n") - lit(1L))).cast("double"))),


    // per-user TIME-WEIGHTED average (the piecewise-constant integral a
    // plain AVG gets wrong when observations are unevenly spaced): lead
    // over the (ts, event_id) total order makes [obs, next) segments,
    // weight = whole seconds (identical floor arithmetic both engines),
    // value in cents — the weighted sum stays exact BIGINT and ONE final
    // double division yields the TWA. One shuffle on user_id.
    "q178_time_weighted_avg" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          (col("value").cast("decimal(30,2)") * 100).cast("long")
            .as("v_cents"),
          unix_micros(col("ts").cast("timestamp")).as("us"))
        .withColumn("nxt_us", lead(col("us"), 1).over(w))
        .filter(col("nxt_us").isNotNull)
        .withColumn("dur_s", expr("(nxt_us - us) div 1000000"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_segments"),
          sum(col("dur_s")).as("span_s"),
          sum(col("v_cents") * col("dur_s")).as("wsum"))
        .filter(col("span_s") > 0)
        .withColumn("twa",
          col("wsum").cast("double") / (col("span_s").cast("double") * 100.0))
    }),


    // parent↔child reconciliation report (the cross-table DQ check):
    // per order the lineitem gross sum in exact cents vs the stored
    // total, grouped into a per-status report — orders without lines
    // counted, max absolute drift surfaced. LEFT join + two grouped
    // passes, both keyed on o_orderkey/o_orderstatus.
    "q179_reconciliation" -> ((s, dir) => {
      val child = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey"))
        .agg(sum((col("l_extendedprice").cast("decimal(30,2)") * 100)
          .cast("long")).as("line_cents"))
      Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderstatus"),
          (col("o_totalprice").cast("decimal(30,2)") * 100).cast("long")
            .as("total_cents"))
        .join(child, col("o_orderkey") === col("l_orderkey"), "left_outer")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          sum(when(col("line_cents").isNotNull, 1L).otherwise(0L))
            .as("n_with_lines"),
          sum(when(col("line_cents") === col("total_cents"), 1L)
            .otherwise(0L)).as("n_exact"),
          max(abs(col("total_cents") - col("line_cents")))
            .as("max_abs_diff_cents"))
    }),


    // hourly OHLC bars per user (the time-series bar aggregation):
    // open/close via total-order row_numbers (asc + desc share ONE
    // shuffle on the bar key), high/low/count/decimal-sum in the same
    // grouped pass; (ts, event_id) tie-break makes open/close exact
    "q172_ohlc_bars" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = Tables.events(s, dir).select(col("user_id"),
        date_trunc("hour", col("ts")).as("hour"),
        col("ts"), col("event_id"), col("value"))
      val asc = Window.partitionBy(col("user_id"), col("hour"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val desc = Window.partitionBy(col("user_id"), col("hour"))
        .orderBy(col("ts").desc, col("event_id").desc)
      e.withColumn("rn_a", row_number().over(asc))
        .withColumn("rn_d", row_number().over(desc))
        .groupBy(col("user_id"), col("hour"))
        .agg(
          max(when(col("rn_a") === 1, col("value"))).as("open"),
          max(when(col("rn_d") === 1, col("value"))).as("close"),
          max(col("value")).as("high"),
          min(col("value")).as("low"),
          count(lit(1)).as("n"),
          Relational.exactSum(col("value"), 6).as("sum_v"))
    }),


    // JOIN-CARDINALITY ESTIMATE from key histograms — the planner-style
    // diagnostic run BEFORE a big join: |A ⋈ B| = Σ_k n_A(k)·n_B(k),
    // computed exactly from two key-grain count frames (each a map-side
    // partial aggregate, output |keys| rows not |rows|), plus the
    // matched/unmatched key split and the worst single-key fanout (the
    // skew red flag that says "salt this join"). The full-outer join
    // runs on the key-grain frames only — the facts are never joined.
    "q213_join_cardinality" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .groupBy(col("o_orderkey").as("k")).agg(count(lit(1)).as("n_o"))
      val l = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey").as("k")).agg(count(lit(1)).as("n_l"))
      o.join(l, Seq("k"), "full_outer")
        .agg(
          sum(when(col("n_o").isNotNull && col("n_l").isNotNull, 1L)
            .otherwise(0L)).as("n_matched_keys"),
          sum(when(col("n_l").isNull, 1L).otherwise(0L)).as("n_left_only"),
          sum(when(col("n_o").isNull, 1L).otherwise(0L)).as("n_right_only"),
          sum(when(col("n_o").isNotNull && col("n_l").isNotNull,
            col("n_o") * col("n_l")).otherwise(0L)).as("join_rows"),
          max(when(col("n_o").isNotNull && col("n_l").isNotNull,
            col("n_o") * col("n_l"))).as("max_key_fanout"))
    }),


    // min-label propagation, 3 SYNCHRONOUS rounds over the q156
    // bipartite customer–supplier graph: after k rounds equal labels
    // certify distance-k connectivity (to fixpoint it is connected
    // components; the FIXED round count keeps it oracle-replayable
    // round-for-round as three chained CTEs).
    "q222_label_prop" -> ((s, dir) => {
      val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
      val li = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey"))
      val pairs = o.join(li, col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
      val edges = pairs.union(
        pairs.select(col("dst").as("src"), col("src").as("dst")))
      ops.Graph.minLabelPropagation(edges, rounds = 3)
    }),


    // degree histogram of the same symmetric graph — the shape profile
    // (hub detection) read before any iterative graph algorithm.
    "q223_degree_histogram" -> ((s, dir) => {
      val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
      val li = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey"))
      val pairs = o.join(li, col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
      val edges = pairs.union(
        pairs.select(col("dst").as("src"), col("src").as("dst")))
      ops.Graph.degreeHistogram(edges)
    }),


    // Mode per group with a deterministic tie-break (most frequent
    // quantity per return flag; ties to the smallest value) — the
    // categorical summary a profile pass reports next to the median.
    "q231_group_mode" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"), col("l_quantity").cast("long").as("qty"))
        .agg(count(lit(1)).as("n"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("l_returnflag"))
            .orderBy(col("n").desc, col("qty"))))
        .filter(col("rn") === 1)
        .select(col("l_returnflag"), col("qty").as("mode_qty"), col("n"))
    }),


    // Whole-table content checksum (merkleDiff's digest as ONE row):
    // order-free, partitioning-free table fingerprint for replication /
    // migration smoke tests — one map-side-partial scan.
    "q232_table_checksum" -> ((s, dir) =>
      Relational.tableChecksum(Tables.orders(s, dir),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))),


    // ERASURE WITH PROOF (round 12) — the GDPR-shaped governance
    // composition over q195's targeted delete and q232's additive
    // checksum: the erase set (custkeys ≡ 0 mod 97 — "the users who
    // asked") is deleted by REWRITING storage (the surviving rows
    // persist to parquet and the proof reads the STORED table, not a
    // plan), and the certificate is pure algebra both engines state:
    // the 56-bit row digests are summed, so checksum(before) must equal
    // checksum(after) + checksum(deleted) exactly (DECIMAL — no float
    // loss), counts must reconcile, and a residual scan of the stored
    // table for erased keys must return zero. All three sides are
    // keys=[] scalar aggregates riding one broadcast chain.
    "q443_erasure_proof" -> ((s, dir) => {
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_orderpriority")
      val base = Tables.orders(s, dir)
        .select(cols.map(col): _*)
      val erased = col("o_custkey") % 97 === 0
      sources.Sources.writeParquet(base.filter(!erased),
        predsPath("q443_after"))
      val stored = s.read.parquet(predsPath("q443_after"))
      val cb = Relational.tableChecksum(base, cols)
        .select(col("n_rows").as("n_before"),
          col("content_checksum").as("ck_before"))
      val cd = Relational.tableChecksum(base.filter(erased), cols)
        .select(col("n_rows").as("n_deleted"),
          col("content_checksum").as("ck_deleted"))
      val ca = Relational.tableChecksum(stored, cols)
        .select(col("n_rows").as("n_after"),
          col("content_checksum").as("ck_after"))
      val residual = stored
        .agg(sum(when(erased, 1L).otherwise(0L)).as("residual_rows"))
      cb.crossJoin(broadcast(cd)).crossJoin(broadcast(ca))
        .crossJoin(broadcast(residual))
        .withColumn("counts_reconcile",
          col("n_before") === col("n_after") + col("n_deleted"))
        .withColumn("checksums_reconcile",
          col("ck_before").cast("decimal(30,0)") ===
            col("ck_after").cast("decimal(30,0)")
              + col("ck_deleted").cast("decimal(30,0)"))
    }),


    // Community MODULARITY (round 12) — the quality score of q222's
    // label-propagation communities: Q = Σ_c [e_c/m − (d_c/2m)²] in
    // exact ppm (term2 via the split-div device — d_c ≤ 2m keeps it in
    // [0, 10⁶]; the square's Long bound is the declared d_c ≤ 3·10⁹
    // contract, the q424 overflow class). Per-community rows carry the
    // signed q_c contribution; the corpus modularity attaches as the
    // keys=[] scalar broadcast. Labels come from the same fixed-3-round
    // propagation the q222 oracle unrolls.
    "q444_modularity" -> ((s, dir) => {
      // q92's co-supply graph at a TIGHTER threshold (>48): the >45 and
      // bipartite forms min-label into one giant community (score 0);
      // at >48 the fixture yields real multi-community structure
      val li = Tables.lineitem(s, dir)
        .filter(col("l_quantity") > 48)
        .select(col("l_orderkey"), col("l_suppkey"))
      val pairs = li.alias("x").join(li.alias("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
            col("x.l_suppkey") < col("y.l_suppkey"))
        .select(col("x.l_suppkey").as("src"), col("y.l_suppkey").as("dst"))
        .distinct().localCheckpoint(true)
      val edges = pairs.union(
        pairs.select(col("dst").as("src"), col("src").as("dst")))
      val labels = ops.Graph.minLabelPropagation(edges, rounds = 3)
        .localCheckpoint(true)
      val mAgg = pairs.agg(count(lit(1)).as("m"))
      val deg = edges.groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("d"))
      val dC = labels.join(deg, Seq("node"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_nodes"), sum(col("d")).as("d_c"))
      val eC = pairs
        .join(labels.select(col("node").as("src"), col("label").as("ls")),
          Seq("src"))
        .join(labels.select(col("node").as("dst"), col("label").as("ld")),
          Seq("dst"))
        .filter(col("ls") === col("ld"))
        .groupBy(col("ls").as("label"))
        .agg(count(lit(1)).as("e_intra"))
      val perC = dC.join(eC, Seq("label"), "left_outer")
        .withColumn("e_intra", coalesce(col("e_intra"), lit(0L)))
        .crossJoin(broadcast(mAgg))
        .withColumn("q_c_ppm", expr(
          "e_intra * 1000000 div m" +
            " - ((d_c * d_c div (4 * m * m)) * 1000000" +
            "    + (d_c * d_c % (4 * m * m)) * 1000000 div (4 * m * m))"))
        .select(col("label"), col("n_nodes"), col("e_intra"), col("d_c"),
          col("q_c_ppm"))
        .localCheckpoint(true)
      perC.crossJoin(broadcast(
        perC.agg(sum(col("q_c_ppm")).as("modularity_ppm"))))
    }),


    // Benford first-digit conformance test on order totals — the
    // forensic-accounting DQ read: leading digit via exact integer→
    // string math (no libm log10 on data), expected mass from the
    // hard-coded log10(1+1/d) literals (identical constants on both
    // engines), per-digit chi-square contribution against a
    // scalar-total broadcast.
    "q224_benford" -> ((s, dir) => {
      val digits = Seq(
        1 -> 0.3010299956639812, 2 -> 0.17609125905568124,
        3 -> 0.12493873660829992, 4 -> 0.09691001300805642,
        5 -> 0.07918124604762482, 6 -> 0.06694678963061322,
        7 -> 0.05799194697768673, 8 -> 0.05115252244738129,
        9 -> 0.04575749056067514)
      import s.implicits._
      val p = digits.toDF("digit", "p_benford")
      val obs = Tables.orders(s, dir)
        .filter(col("o_totalprice") > 0.0)
        .select(substring(floor(col("o_totalprice")).cast("long")
          .cast("string"), 1, 1).cast("int").as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("n"))
      val withP = broadcast(p).join(obs, Seq("digit"), "left_outer")
        .withColumn("n", coalesce(col("n"), lit(0L)))
      withP
        .crossJoin(broadcast(withP.agg(sum(col("n")).as("total"))))
        .withColumn("expected", col("total").cast("double") * col("p_benford"))
        .withColumn("chi2_term",
          (col("n").cast("double") - col("expected")) *
            (col("n").cast("double") - col("expected")) / col("expected"))
        .select(col("digit"), col("n"), col("expected"), col("chi2_term"))
    }),
  )

  /** `edges → l0 → … → l<rounds>`: synchronous min-label rounds over the
    * undirected `pairs(src, dst)` CTE, each a chained CTE of the same
    * min-of-self-and-neighbours step. */
  private def labelRoundsChain(rounds: Int): String =
    ("""edges AS (
      |  SELECT src, dst FROM pairs UNION SELECT dst, src FROM pairs
      |), l0 AS (
      |  SELECT node, node AS label FROM
      |    (SELECT src AS node FROM edges
      |     UNION SELECT dst FROM edges) n
      |)""".stripMargin +: (1 to rounds).map(r =>
      s"""l$r AS (
         |  SELECT l.node,
         |         least(l.label, coalesce(m.nl, l.label)) AS label
         |  FROM l${r - 1} l LEFT JOIN (
         |    SELECT e.src AS node, min(x.label) AS nl
         |    FROM edges e JOIN l${r - 1} x ON x.node = e.dst GROUP BY 1) m
         |    USING (node)
         |)""".stripMargin)).mkString(", ")

  /** DuckDB-runnable oracle equivalents; keys lacking an entry here are
    * rows-only checked by the driver (non-portable hash/codec/fit paths,
    * each pinned by a dedicated spec instead). */
  val sql: Map[String, String] = Map(
    "q01_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  ${dSum("l_quantity", 2, "sum_qty")},
         |  ${dSum("l_extendedprice", 2, "sum_base_price")},
         |  ${dSum("l_extendedprice * (1.0 - l_discount)", 6, "sum_disc_price")},
         |  COUNT(*) AS count_order
         |FROM lineitem GROUP BY 1, 2""".stripMargin,


    "q02_label_join" ->
      """WITH joined AS (
        |  SELECT o.o_orderkey, CAST(o.o_orderdate AS DATE) AS odate, o.o_orderpriority,
        |         datediff('day', CAST(o.o_orderdate AS DATE), CAST(l.l_shipdate AS DATE)) AS diff
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |), labeled AS (
        |  SELECT *, CASE WHEN diff >= 0 AND diff < 365 THEN 1 ELSE 0 END AS acquired
        |  FROM joined
        |), positives AS (
        |  SELECT DISTINCT o_orderkey AS p_orderkey, odate AS p_odate, acquired AS p_acquired
        |  FROM labeled WHERE acquired = 1
        |)
        |SELECT o.o_orderkey, CAST(o.o_orderdate AS DATE) AS o_date, o.o_orderpriority,
        |       COALESCE(p.p_acquired, 0) AS acquired
        |FROM orders o LEFT JOIN positives p
        |  ON o.o_orderkey = p.p_orderkey AND CAST(o.o_orderdate AS DATE) = p.p_odate""".stripMargin,


    "q03_dims_rollup" ->
      s"""SELECT r_name, COUNT(*) AS n_customers, ${dSum("c_acctbal", 2, "sum_acctbal")}
         |FROM customer c
         |JOIN nation n ON c.c_nationkey = n.n_nationkey
         |JOIN region r ON n.n_regionkey = r.r_regionkey
         |GROUP BY 1""".stripMargin,


    // Declared semantic: pair the top-1000 suppliers per nation bucket
    // (acctbal desc, suppkey tiebreak) — the quadratic-output cap that makes
    // the theta join scale-safe. At sf<=0.1 no bucket reaches the cap, so
    // this equals the unpruned join.
    "q04_theta_pairs" ->
      """WITH pruned AS (
        |  SELECT * FROM (
        |    SELECT s_suppkey, s_nationkey, s_acctbal,
        |           ROW_NUMBER() OVER (PARTITION BY s_nationkey
        |                              ORDER BY s_acctbal DESC, s_suppkey) AS rk
        |    FROM supplier) WHERE rk <= 1000
        |)
        |SELECT a.s_suppkey AS a_suppkey, b.s_suppkey AS b_suppkey,
        |       a.s_nationkey AS nationkey, a.s_acctbal + b.s_acctbal AS pair_bal
        |FROM pruned a JOIN pruned b
        |  ON a.s_nationkey = b.s_nationkey AND a.s_suppkey <> b.s_suppkey""".stripMargin,


    "q05_cust_orders" ->
      s"""SELECT c.c_custkey, c.c_mktsegment, COUNT(o.o_orderkey) AS n_orders,
         |  ${dSum("COALESCE(o.o_totalprice, 0.0)", 2, "sum_spend")}
         |FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
         |GROUP BY 1, 2""".stripMargin,


    "q06_distinct" ->
      """SELECT DISTINCT l_returnflag, l_linestatus, CAST(l_shipdate AS DATE) AS ship_date
        |FROM lineitem""".stripMargin,


    "q07_confusion" ->
      """SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label,
        |       CASE WHEN value >= 50.0 THEN 1 ELSE 0 END AS prediction,
        |       COUNT(*) AS n
        |FROM events GROUP BY 1, 2""".stripMargin,


    "q08_topk_orders" ->
      """SELECT * FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
        |                            ORDER BY o_totalprice DESC, o_orderkey) AS rank
        |  FROM orders) WHERE rank <= 3""".stripMargin,


    "q09_semi_join" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""".stripMargin,


    "q10_anti_join" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_totalprice > 450000.0)""".stripMargin,


    "q11_set_ops" ->
      """WITH f AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'),
        |     oo AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O')
        |SELECT 'union' AS op, o_custkey FROM (SELECT * FROM f UNION SELECT * FROM oo)
        |UNION ALL
        |SELECT 'intersect' AS op, o_custkey FROM (SELECT * FROM f INTERSECT SELECT * FROM oo)
        |UNION ALL
        |SELECT 'except' AS op, o_custkey FROM (SELECT * FROM f EXCEPT SELECT * FROM oo)""".stripMargin,


    "q21_window_agg" -> hourlyWindowSql,


    "q22_session_windows" -> sessionWindowsSql,


    "q108_merge_upsert" -> mergeUpsertSql,


    // independent SCD2 formulation: lag-collapse no-ops, then lead over
    // the survivors gives each version its [valid_from, valid_to)
    "q109_scd2" ->
      """WITH m AS (
        |  SELECT user_id, ts, event_id, event_type,
        |         lag(event_type) OVER (PARTITION BY user_id
        |                               ORDER BY ts, event_id) AS prev
        |  FROM events
        |), k AS (
        |  SELECT user_id, ts, event_id, event_type FROM m
        |  WHERE prev IS NULL OR event_type <> prev
        |)
        |SELECT user_id, event_type, ts AS valid_from,
        |       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |         AS valid_to,
        |       CAST(CASE WHEN lead(ts) OVER (PARTITION BY user_id
        |                                     ORDER BY ts, event_id) IS NULL
        |            THEN 1 ELSE 0 END AS INT) AS is_current
        |FROM k""".stripMargin,


    // VARIANT extraction == plain JSON path extraction over the same strings
    "q125_variant" ->
      """SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k
        |FROM events""".stripMargin,


    "q121_mad_outliers" ->
      """WITH med AS (
        |  SELECT event_type, quantile_cont(value, 0.5) AS med
        |  FROM events GROUP BY 1
        |), dev AS (
        |  SELECT event_id, event_type, value, med, abs(value - med) AS dev
        |  FROM events JOIN med USING (event_type)
        |), mad AS (
        |  SELECT event_type, quantile_cont(dev, 0.5) AS mad
        |  FROM dev GROUP BY 1
        |)
        |SELECT event_type, event_id, value, med, mad
        |FROM dev JOIN mad USING (event_type)
        |WHERE dev > 3 * mad""".stripMargin,


    "q116_profile" ->
      """SELECT 'l_orderkey' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        |       CAST(count(DISTINCT v) AS BIGINT) AS n_distinct,
        |       min(v) AS min_s, max(v) AS max_s
        |FROM (SELECT CAST(l_orderkey AS VARCHAR) AS v FROM lineitem)
        |UNION ALL
        |SELECT 'l_quantity', CAST(count(*) AS BIGINT),
        |       CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |       CAST(count(DISTINCT v) AS BIGINT), min(v), max(v)
        |FROM (SELECT CAST(CAST(l_quantity AS DECIMAL(12,2)) AS VARCHAR) AS v
        |      FROM lineitem)
        |UNION ALL
        |SELECT 'l_returnflag', CAST(count(*) AS BIGINT),
        |       CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |       CAST(count(DISTINCT v) AS BIGINT), min(v), max(v)
        |FROM (SELECT CAST(l_returnflag AS VARCHAR) AS v FROM lineitem)
        |UNION ALL
        |SELECT 'l_shipdate', CAST(count(*) AS BIGINT),
        |       CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |       CAST(count(DISTINCT v) AS BIGINT), min(v), max(v)
        |FROM (SELECT CAST(l_shipdate AS VARCHAR) AS v FROM lineitem)""".stripMargin,


    "q117_key_skew" ->
      """WITH counts AS (
        |  SELECT CAST(o_custkey AS VARCHAR) AS key, CAST(count(*) AS BIGINT) AS c
        |  FROM orders GROUP BY 1
        |), ranked AS (
        |  SELECT key, c, row_number() OVER (ORDER BY c ASC, key ASC) AS i
        |  FROM counts
        |), stats AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_keys,
        |         CAST(sum(c) AS BIGINT) AS n_rows,
        |         CAST(sum(i * c) AS BIGINT) AS s1
        |  FROM ranked
        |)
        |SELECT key, c, CAST(r AS BIGINT) AS metric
        |FROM (SELECT key, c,
        |             row_number() OVER (ORDER BY c DESC, key ASC) AS r
        |      FROM counts)
        |WHERE r <= 10
        |UNION ALL
        |SELECT '__gini__', n_keys,
        |       CAST(floor(1e6 * (CAST(2*s1 - (n_keys+1)*n_rows AS DOUBLE) /
        |                         CAST(n_keys*n_rows AS DOUBLE))) AS BIGINT)
        |FROM stats""".stripMargin,


    // the Spark side blocks with deletion neighborhoods; the oracle is the
    // BRUTE-FORCE quadratic join — the hash match proves the blocking has
    // full recall at distance <= 1
    "q110_deletion_join" ->
      """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
        |       CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS edit_dist
        |FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
        |WHERE levenshtein(a.c_name, b.c_name) <= 1""".stripMargin,


    "q111_snapshot_diff" ->
      """WITH o AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |), u AS (
        |  SELECT o_orderkey, 'X' AS o_orderstatus, o_totalprice, 2 AS ver
        |  FROM o WHERE o_orderkey % 7 = 0
        |  UNION ALL
        |  SELECT o_orderkey, 'D', o_totalprice, 1 FROM o WHERE o_orderkey % 21 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, 'N', o_totalprice, 1
        |  FROM o WHERE o_orderkey % 13 = 0
        |), win AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice
        |  FROM (SELECT *, row_number() OVER (PARTITION BY o_orderkey
        |                    ORDER BY ver DESC, o_orderstatus DESC) AS rn
        |        FROM u)
        |  WHERE rn = 1
        |), nxt AS (
        |  SELECT * FROM (
        |    SELECT o.o_orderkey, o.o_orderstatus, o.o_totalprice FROM o
        |    WHERE o.o_orderkey NOT IN (SELECT o_orderkey FROM win)
        |    UNION ALL
        |    SELECT o_orderkey, o_orderstatus, o_totalprice FROM win)
        |  WHERE o_orderkey % 11 <> 5
        |)
        |SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
        |       o.o_orderstatus AS old_o_orderstatus,
        |       o.o_totalprice  AS old_o_totalprice,
        |       n.o_orderstatus AS new_o_orderstatus,
        |       n.o_totalprice  AS new_o_totalprice,
        |       CASE WHEN o.o_orderkey IS NULL THEN 'I'
        |            WHEN n.o_orderkey IS NULL THEN 'D'
        |            WHEN (o.o_orderstatus IS DISTINCT FROM n.o_orderstatus)
        |              OR (o.o_totalprice  IS DISTINCT FROM n.o_totalprice)
        |            THEN 'U' END AS change_type
        |FROM o FULL JOIN nxt n ON o.o_orderkey = n.o_orderkey
        |WHERE CASE WHEN o.o_orderkey IS NULL THEN 'I'
        |           WHEN n.o_orderkey IS NULL THEN 'D'
        |           WHEN (o.o_orderstatus IS DISTINCT FROM n.o_orderstatus)
        |             OR (o.o_totalprice  IS DISTINCT FROM n.o_totalprice)
        |           THEN 'U' END IS NOT NULL""".stripMargin,


    "q30_asof_join" ->
      """WITH p AS (SELECT user_id, ts, max(value) AS last_purchase_value
        |           FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |     c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click')
        |SELECT c.event_id, c.user_id, c.ts, p.last_purchase_value
        |FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts""".stripMargin,


    // the same ASOF match with the 7-day freshness CASE applied after
    "q446_asof_tolerance" ->
      """WITH p AS (SELECT user_id, ts, max(value) AS v
        |           FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |     c AS (SELECT event_id, user_id, ts FROM events
        |           WHERE event_type = 'click'),
        |     j AS (
        |  SELECT c.event_id, c.user_id, c.ts, p.v, p.ts AS mts
        |  FROM c ASOF LEFT JOIN p
        |    ON c.user_id = p.user_id AND c.ts >= p.ts
        |)
        |SELECT event_id, user_id, ts,
        |  CASE WHEN mts IS NOT NULL
        |        AND epoch_us(ts) - epoch_us(mts) <= 604800000000
        |       THEN v END AS last_purchase_value,
        |  CASE WHEN mts IS NOT NULL
        |        AND epoch_us(ts) - epoch_us(mts) <= 604800000000
        |       THEN mts END AS matched_ts,
        |  CAST(CASE WHEN mts IS NOT NULL
        |        AND epoch_us(ts) - epoch_us(mts) <= 604800000000
        |       THEN 1 ELSE 0 END AS BIGINT) AS fresh
        |FROM j""".stripMargin,


    // the identical SQL (dialect-translated: DIV → //) — the entry point
    // itself is what this surface checks
    "q445_sql_entry" ->
      """WITH spend AS (
        |  SELECT c.c_mktsegment AS segment, c.c_custkey AS cust,
        |         CAST(sum(CAST(CAST(o.o_totalprice AS DECIMAL(30,2)) * 100
        |             AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  GROUP BY 1, 2),
        |seg AS (
        |  SELECT segment, CAST(sum(cents) AS BIGINT) AS seg_cents
        |  FROM spend GROUP BY 1),
        |r AS (
        |  SELECT s.*, row_number() OVER (PARTITION BY segment
        |    ORDER BY cents DESC, cust) AS rk
        |  FROM spend s)
        |SELECT r.segment, CAST(r.rk AS BIGINT) AS rk, r.cust, r.cents,
        |       CAST(r.cents * 1000000 // g.seg_cents AS BIGINT) AS share_ppm
        |FROM r JOIN seg g ON r.segment = g.segment
        |WHERE r.rk <= 3""".stripMargin,


    "q31_range_join" ->
      """WITH p AS (SELECT event_id AS purchase_id, user_id, ts AS lo,
        |                  ts + INTERVAL 30 MINUTE AS hi
        |           FROM events WHERE event_type = 'purchase'),
        |     c AS (SELECT user_id, ts FROM events WHERE event_type = 'click')
        |SELECT p.purchase_id, CAST(count(*) AS BIGINT) AS n_clicks
        |FROM p JOIN c ON p.user_id = c.user_id AND c.ts >= p.lo AND c.ts <= p.hi
        |GROUP BY 1""".stripMargin,


    "q51_full_outer" ->
      s"""WITH l AS (SELECT c_custkey, c_name FROM customer WHERE c_acctbal > 5000),
        |$custOrdersCte
        |SELECT CAST(COALESCE(l.c_custkey, r.o_custkey) AS BIGINT) AS cust_id,
        |       l.c_name AS c_name, r.n_ord AS n_orders
        |FROM l FULL JOIN nord r ON l.c_custkey = r.o_custkey""".stripMargin,


    "q52_cube" ->
      s"""SELECT o_orderpriority, o_orderstatus,
         |       CAST(GROUPING(o_orderpriority, o_orderstatus) AS BIGINT) AS gid,
         |       CAST(count(*) AS BIGINT) AS n_rows,
         |       ${dSum("o_totalprice", 2, "sum_value")}
         |FROM orders
         |GROUP BY CUBE (o_orderpriority, o_orderstatus)""".stripMargin,


    "q53_order_deltas" ->
      """SELECT o_orderkey, o_custkey,
        |       lag(o_totalprice) OVER w AS prev_price,
        |       lead(o_totalprice) OVER w AS next_price,
        |       o_totalprice - lag(o_totalprice) OVER w AS price_delta,
        |       CAST(date_diff('day', CAST(lag(o_orderdate) OVER w AS DATE),
        |                      CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since_prev
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin,


    // co-moments as exact BIGINT sums over floor-quantized values; the
    // closed-form corr/covar combination is the IDENTICAL double
    // expression in both engines, so the doubles hash-match
    "q54_corr_stats" ->
      """WITH q AS (
        |  SELECT l_returnflag,
        |         CAST(floor(l_quantity) AS BIGINT) AS xq,
        |         CAST(floor(l_extendedprice) AS BIGINT) AS yq
        |  FROM lineitem
        |), m AS (
        |  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(xq) AS BIGINT) AS sx, CAST(sum(yq) AS BIGINT) AS sy,
        |         CAST(sum(xq*xq) AS BIGINT) AS sxx,
        |         CAST(sum(xq*yq) AS BIGINT) AS sxy,
        |         CAST(sum(yq*yq) AS BIGINT) AS syy
        |  FROM q GROUP BY 1
        |)
        |SELECT l_returnflag, n, sx, sy, sxx, sxy, syy,
        |  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS covar_pop,
        |  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |         * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS corr
        |FROM m""".stripMargin,


    "q55_grouping_sets" ->
      s"""SELECT l_returnflag, l_linestatus,
         |       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
         |       CAST(count(*) AS BIGINT) AS n_rows,
         |       ${dSum("l_quantity", 2, "sum_value")}
         |FROM lineitem
         |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())""".stripMargin,


    "q56_histogram" ->
      """SELECT CAST(floor(o_totalprice / 20000.0) AS BIGINT) AS bucket,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       min(o_totalprice) AS min_value,
        |       max(o_totalprice) AS max_value
        |FROM orders GROUP BY 1""".stripMargin,


    // first 32 bits of md5(key) as an unsigned int vs fraction*2^32 —
    // the q44 content-addressed trick widened to per-stratum thresholds
    "q59_stratified_sample" ->
      """SELECT doc_id, lang FROM documents
        |WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) <
        |  CASE lang WHEN 'en' THEN 2147483648 WHEN 'de' THEN 4294967296
        |            WHEN 'es' THEN 1073741824 WHEN 'fr' THEN 429496729
        |            ELSE 0 END""".stripMargin,


    "q66_json_extract" ->
      """SELECT event_type,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
        |  CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
        |FROM events GROUP BY 1""".stripMargin,


    "q67_window_frames" ->
      """SELECT o_orderkey, o_custkey,
        |  CAST(sum(price_i) OVER w AS BIGINT) AS trail_sum,
        |  CAST(count(*) OVER w AS BIGINT) AS trail_n,
        |  CAST(sum(price_i) OVER w AS BIGINT) / CAST(count(*) OVER w AS BIGINT) AS trail_avg,
        |  first_value(price_i) OVER w AS frame_first,
        |  CAST(sum(price_i) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN 1 FOLLOWING AND 3 FOLLOWING) AS BIGINT) AS ahead_sum
        |FROM (SELECT o_orderkey, o_custkey, o_orderdate,
        |        CAST(floor(o_totalprice) AS BIGINT) AS price_i FROM orders)
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)""".stripMargin,


    "q68_unpivot" ->
      """WITH wide AS (
        |  SELECT l_returnflag,
        |    CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
        |    CAST(sum(CAST(floor(l_extendedprice) AS BIGINT)) AS BIGINT) AS sum_price
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, 'n_rows' AS metric, n_rows AS value FROM wide
        |UNION ALL
        |SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM wide
        |UNION ALL
        |SELECT l_returnflag, 'sum_price' AS metric, sum_price AS value FROM wide""".stripMargin,


    "q63_rank_family" ->
      """SELECT o_orderkey, o_orderpriority,
        |       CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |       percent_rank() OVER w AS pct_rank,
        |       cume_dist() OVER w AS cume
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)""".stripMargin,


    "q64_monthly" ->
      s"""SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month,
         |       CAST(count(*) AS BIGINT) AS n_orders,
         |       ${dSum("o_totalprice", 2, "sum_price")}
         |FROM orders GROUP BY 1""".stripMargin,


    "q65_fuzzy_names" ->
      """SELECT c_custkey, s_suppkey,
        |       CAST(levenshtein(c_name, s_name) AS BIGINT) AS edit_dist
        |FROM customer c JOIN supplier s
        |  ON regexp_extract(c_name, '([0-9]{2})$', 1) = regexp_extract(s_name, '([0-9]{2})$', 1)
        |WHERE levenshtein(c_name, s_name) <= 7""".stripMargin,


    "q49_pivot" ->
      """SELECT CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) >= 50 AS INT) AS long_doc,
        |       CAST(count(*) FILTER (lang = 'de') AS BIGINT) AS de,
        |       CAST(count(*) FILTER (lang = 'en') AS BIGINT) AS en,
        |       CAST(count(*) FILTER (lang = 'es') AS BIGINT) AS es,
        |       CAST(count(*) FILTER (lang = 'fr') AS BIGINT) AS fr,
        |       CAST(count(*) FILTER (lang = 'zh') AS BIGINT) AS zh
        |FROM documents GROUP BY 1""".stripMargin,


    "q50_median" ->
      """SELECT o_orderpriority,
        |       quantile_cont(o_totalprice, 0.5) AS median_price,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM orders GROUP BY 1""".stripMargin,


    "q48_rollup" ->
      s"""SELECT r_name, n_name, COUNT(*) AS n_customers, ${dSum("c_acctbal", 2, "sum_acctbal")}
         |FROM customer c
         |JOIN nation n ON c.c_nationkey = n.n_nationkey
         |JOIN region r ON n.n_regionkey = r.r_regionkey
         |GROUP BY ROLLUP (r_name, n_name)""".stripMargin,


    // RANGE frame over epoch micros; ties on the timestamp are included by
    // RANGE semantics identically in both engines
    "q47_rolling_hour" ->
      """SELECT CAST(event_id AS BIGINT) AS event_id,
        |       CAST(user_id AS BIGINT) AS user_id,
        |       CAST(count(*) OVER w AS BIGINT) AS n_win,
        |       CAST(sum(CAST(value AS DECIMAL(30,2))) OVER w AS DOUBLE) AS sum_win
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""".stripMargin,


    "q85_overlap_join" ->
      """WITH c AS (SELECT event_id AS c_id, user_id, ts AS c_lo,
        |                  ts + INTERVAL 20 MINUTE AS c_hi
        |           FROM events WHERE event_type = 'click'),
        |     p AS (SELECT event_id AS p_id, user_id, ts AS p_lo,
        |                  ts + INTERVAL 35 MINUTE AS p_hi
        |           FROM events WHERE event_type = 'purchase')
        |SELECT c_id, p_id
        |FROM c JOIN p ON c.user_id = p.user_id
        |              AND c.c_lo < p.p_hi AND p.p_lo < c.c_hi""".stripMargin,


    "q90_window_distinct" ->
      """SELECT date_trunc('hour', ts) AS hour,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1""".stripMargin,


    "q139_funnel" -> funnelSql,


    "q140_retention" -> retentionSql,


    // v1 expressed directly — the engine must reproduce it via
    // diff-then-apply
    "q148_cdc_roundtrip" ->
      """WITH v0 AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders)
        |SELECT o_orderkey,
        |       CASE WHEN o_orderkey % 7 = 0 THEN 'X' ELSE o_orderstatus END
        |         AS o_orderstatus,
        |       o_totalprice
        |FROM v0 WHERE o_orderkey % 19 <> 0
        |UNION ALL
        |SELECT o_orderkey + 100000000, 'N', o_totalprice
        |FROM v0 WHERE o_orderkey % 13 = 0""".stripMargin,


    // q109's version chain + per-(user, valid_from) max collapse, then
    // DuckDB's native ASOF JOIN picks the version valid at each purchase
    "q158_scd2_lookup" ->
      """WITH m AS (
        |  SELECT user_id, ts, event_id, event_type,
        |         lag(event_type) OVER (PARTITION BY user_id
        |                               ORDER BY ts, event_id) AS prev
        |  FROM events
        |), k AS (
        |  SELECT user_id, ts, event_id, event_type FROM m
        |  WHERE prev IS NULL OR event_type <> prev
        |), hist AS (
        |  SELECT user_id, ts, max(event_type) AS dim_type
        |  FROM k GROUP BY 1, 2
        |), f AS (
        |  SELECT event_id, user_id, ts FROM events
        |  WHERE event_type = 'purchase'
        |)
        |SELECT f.event_id, f.user_id, f.ts, hist.dim_type
        |FROM f ASOF LEFT JOIN hist
        |  ON f.user_id = hist.user_id AND f.ts >= hist.ts""".stripMargin,


    // UNION (distinct) recursion keeps rows bounded by nodes × hops —
    // (node, hop) pairs, not walks; min(hop) = BFS distance
    "q156_bfs_hops" ->
      """WITH RECURSIVE pairs AS (
        |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |edges AS (SELECT src, dst FROM pairs
        |          UNION SELECT dst, src FROM pairs),
        |seeds AS (SELECT DISTINCT c_custkey * 2 AS node
        |          FROM customer WHERE c_custkey % 97 = 0),
        |bfs AS (
        |  SELECT node, 0 AS hop FROM seeds
        |  UNION
        |  SELECT e.dst, b.hop + 1 FROM bfs b JOIN edges e ON e.src = b.node
        |  WHERE b.hop < 4)
        |SELECT CAST(node AS BIGINT) AS node, CAST(min(hop) AS INT) AS hop
        |FROM bfs GROUP BY 1""".stripMargin,


    "q157_transitions" ->
      """WITH t AS (
        |  SELECT event_type,
        |         lag(event_type) OVER (PARTITION BY user_id
        |                               ORDER BY ts, event_id) AS prev_type
        |  FROM events)
        |SELECT prev_type, event_type, CAST(count(*) AS BIGINT) AS n
        |FROM t WHERE prev_type IS NOT NULL
        |GROUP BY 1, 2""".stripMargin,


    "q154_tpch_q18" ->
      s"""WITH big AS (
         |  SELECT l_orderkey, ${dSum("l_quantity", 2, "sum_qty")}
         |  FROM lineitem GROUP BY 1
         |  HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) > 150.0)
         |SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice, big.sum_qty
         |FROM big
         |JOIN orders o ON big.l_orderkey = o.o_orderkey
         |JOIN customer c ON o.o_custkey = c.c_custkey""".stripMargin,


    "q155_tpch_q17" ->
      s"""WITH li AS (
         |  SELECT l_partkey, l_extendedprice,
         |         CAST(l_quantity AS BIGINT) AS q_i
         |  FROM lineitem),
         |pp AS (
         |  SELECT l_partkey AS pp, CAST(count(*) AS BIGINT) AS n_p,
         |         CAST(sum(q_i) AS BIGINT) AS s_p
         |  FROM li GROUP BY 1),
         |pk AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#19')
         |SELECT CAST(count(*) AS BIGINT) AS n_small,
         |       ${dSum("l_extendedprice", 2)} / 7.0 AS avg_yearly
         |FROM li
         |JOIN pk ON li.l_partkey = pk.p_partkey
         |JOIN pp ON li.l_partkey = pp.pp
         |WHERE 5 * q_i * n_p < s_p""".stripMargin,


    // HUGEINT mirror of the DECIMAL(38,0) arithmetic — same frame, same
    // denominator-free test
    "q153_rolling_anomaly" ->
      """WITH b AS (SELECT user_id, epoch_us(ts) AS ts_us,
        |                  CAST(floor(value * 100) AS HUGEINT) AS v_c
        |           FROM events),
        |wnd AS (SELECT user_id, ts_us, v_c,
        |               CAST(count(*) OVER w AS HUGEINT) AS n_w,
        |               CAST(sum(v_c) OVER w AS HUGEINT) AS s_w,
        |               CAST(sum(v_c * v_c) OVER w AS HUGEINT) AS q_w
        |        FROM b
        |        WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
        |                     RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW))
        |SELECT user_id, ts_us, CAST(v_c AS BIGINT) AS v_c,
        |       CAST(n_w AS BIGINT) AS n_w
        |FROM wnd
        |WHERE n_w >= 12
        |  AND (n_w * v_c - s_w) * (n_w * v_c - s_w) > 9 * (n_w * q_w - s_w * s_w)""".stripMargin,


    // same capped basket set feeds both the pair counts and the
    // frequencies; the squared-cosine ratio is one integer floor-div
    "q151_item_similarity" ->
      """WITH it AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |sz AS (SELECT l_orderkey, l_partkey,
        |              count(*) OVER (PARTITION BY l_orderkey) AS bs
        |       FROM it),
        |ok AS (SELECT l_orderkey, l_partkey FROM sz WHERE bs <= 8),
        |fr AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS f FROM ok GROUP BY 1),
        |pr AS (SELECT a.l_partkey AS item_a, b.l_partkey AS item_b,
        |              CAST(count(*) AS BIGINT) AS support
        |       FROM ok a JOIN ok b ON a.l_orderkey = b.l_orderkey
        |                          AND a.l_partkey < b.l_partkey
        |       GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT pr.item_a, pr.item_b, pr.support,
        |       (pr.support * pr.support * 1000000) // (fa.f * fb.f) AS cos2_q6
        |FROM pr JOIN fr fa ON pr.item_a = fa.l_partkey
        |        JOIN fr fb ON pr.item_b = fb.l_partkey""".stripMargin,


    "q149_fk_audit" ->
      """WITH p AS (SELECT DISTINCT o_orderkey FROM orders
        |           WHERE o_orderkey % 23 <> 0),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |             CAST(count(CASE WHEN l_orderkey IS NULL THEN 1 END) AS BIGINT)
        |               AS n_null_keys
        |      FROM lineitem),
        |o AS (SELECT CAST(count(*) AS BIGINT) AS n_orphans
        |      FROM lineitem l
        |      WHERE l.l_orderkey IS NOT NULL
        |        AND NOT EXISTS (SELECT 1 FROM p WHERE p.o_orderkey = l.l_orderkey))
        |SELECT t.n_rows, t.n_null_keys, o.n_orphans,
        |       (o.n_orphans * 1000000) // t.n_rows AS orphan_ppm
        |FROM t, o""".stripMargin,


    "q143_tpch_q3" ->
      s"""SELECT l_orderkey, odate, o_orderpriority, revenue FROM (
         |  SELECT l.l_orderkey, CAST(o.o_orderdate AS DATE) AS odate,
         |         o.o_orderpriority,
         |         ${dSum("l.l_extendedprice * (1.0 - l.l_discount)", 6, "revenue")}
         |  FROM customer c
         |  JOIN orders o ON o.o_custkey = c.c_custkey
         |  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
         |  WHERE c.c_mktsegment = 'BUILDING'
         |    AND CAST(o.o_orderdate AS DATE) < DATE '1998-01-01'
         |    AND CAST(l.l_shipdate AS DATE) > DATE '1998-01-01'
         |  GROUP BY 1, 2, 3)
         |ORDER BY revenue DESC, odate, l_orderkey
         |LIMIT 10""".stripMargin,


    "q144_tpch_q5" ->
      s"""SELECT n.n_name,
         |       ${dSum("l.l_extendedprice * (1.0 - l.l_discount)", 6, "revenue")}
         |FROM lineitem l
         |JOIN orders o ON l.l_orderkey = o.o_orderkey
         |JOIN customer c ON o.o_custkey = c.c_custkey
         |JOIN supplier s ON l.l_suppkey = s.s_suppkey
         |              AND c.c_nationkey = s.s_nationkey
         |JOIN nation n ON s.s_nationkey = n.n_nationkey
         |JOIN region r ON n.n_regionkey = r.r_regionkey
         |WHERE r.r_name = 'ASIA'
         |  AND CAST(o.o_orderdate AS DATE) >= DATE '1997-01-01'
         |  AND CAST(o.o_orderdate AS DATE) < DATE '1998-01-01'
         |GROUP BY 1""".stripMargin,


    // same distinct-items → window basket-size cap → a<b self-join →
    // support floor
    "q146_cooccurrence" ->
      """WITH it AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |sz AS (SELECT l_orderkey, l_partkey,
        |              count(*) OVER (PARTITION BY l_orderkey) AS bs
        |       FROM it),
        |ok AS (SELECT l_orderkey, l_partkey FROM sz WHERE bs <= 8)
        |SELECT a.l_partkey AS item_a, b.l_partkey AS item_b,
        |       CAST(count(*) AS BIGINT) AS support
        |FROM ok a JOIN ok b ON a.l_orderkey = b.l_orderkey
        |                   AND a.l_partkey < b.l_partkey
        |GROUP BY 1, 2
        |HAVING count(*) >= 2""".stripMargin,


    // DuckDB's native ASOF JOIN replays the union+window LOCF attach;
    // generate_series spans each user's own [trunc(min), trunc(max)]
    "q142_gap_fill" ->
      """WITH p AS (SELECT user_id, ts, max(value) AS v
        |           FROM events GROUP BY 1, 2),
        |b AS (SELECT user_id, date_trunc('hour', min(ts)) AS lo,
        |             date_trunc('hour', max(ts)) AS hi
        |      FROM events GROUP BY 1),
        |g AS (SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS ts
        |      FROM b)
        |SELECT g.user_id, g.ts, p.v
        |FROM g ASOF LEFT JOIN p ON g.user_id = p.user_id AND g.ts >= p.ts""".stripMargin,


    "q159_order_count_distribution" ->
      """SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        |FROM (SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS c_count
        |      FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        |      GROUP BY 1)
        |GROUP BY 1""".stripMargin,


    "q160_late_ship_priority" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        |FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_shipdate > o.o_orderdate)
        |GROUP BY 1""".stripMargin,


    "q161_disjunctive_join" ->
      s"""SELECT CAST(count(*) AS BIGINT) AS n_items,
         |       ${dSum("l_extendedprice * (1.0 - l_discount)", 6, "revenue")}
         |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
         |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
         |        AND l_quantity BETWEEN 1 AND 11)
         |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
         |        AND l_quantity BETWEEN 10 AND 20)
         |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
         |        AND l_quantity BETWEEN 20 AND 30)""".stripMargin,


    // denominator-free decorrelation mirrored exactly: bal·n_pos > s_pos
    // in DECIMAL, NOT EXISTS for the anti join
    "q162_no_order_high_balance" ->
      s"""WITH pos AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_pos,
         |         SUM(CAST(c_acctbal AS DECIMAL(30,2))) AS s_pos
         |  FROM customer WHERE c_acctbal > 0.0)
         |SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS numcust,
         |       ${dSum("c_acctbal", 2, "totacctbal")}
         |FROM customer c, pos
         |WHERE CAST(c.c_acctbal AS DECIMAL(30,2)) * pos.n_pos > pos.s_pos
         |  AND NOT EXISTS (SELECT 1 FROM orders o
         |                  WHERE o.o_custkey = c.c_custkey
         |                    AND o.o_orderpriority = '1-URGENT')
         |GROUP BY 1""".stripMargin,


    // q22's gaps-and-islands CTEs + a session-partitioned double lag;
    // (ts, event_id) ordering on BOTH sides makes ties deterministic
    "q164_session_paths" ->
      """WITH m AS (
        |  SELECT user_id, event_id, ts, event_type,
        |         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
        |                                      ORDER BY ts, event_id)
        |                   < INTERVAL 30 MINUTE
        |              THEN 0 ELSE 1 END AS new_s
        |  FROM events
        |), g AS (
        |  SELECT user_id, event_id, ts, event_type,
        |         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                          ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m
        |), t AS (
        |  SELECT lag(event_type, 2) OVER w AS t1,
        |         lag(event_type, 1) OVER w AS t2,
        |         event_type AS t3
        |  FROM g
        |  WINDOW w AS (PARTITION BY user_id, sid ORDER BY ts, event_id)
        |)
        |SELECT t1, t2, t3, CAST(count(*) AS BIGINT) AS n
        |FROM t WHERE t1 IS NOT NULL GROUP BY 1, 2, 3""".stripMargin,


    // exact quantile_cont == Spark percentile (the q50 recipe); the
    // clamped mean replayed through the same round(·10⁶)→BIGINT
    // quantization so no float SUM exists on either side
    "q165_winsorized_stats" ->
      """WITH nn AS (
        |  SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_null
        |  FROM customer WHERE c_acctbal IS NULL GROUP BY 1
        |), b AS (
        |  SELECT c_mktsegment,
        |         quantile_cont(c_acctbal, 0.05) AS p_lo,
        |         quantile_cont(c_acctbal, 0.95) AS p_hi
        |  FROM customer WHERE c_acctbal IS NOT NULL GROUP BY 1
        |), a AS (
        |SELECT c.c_mktsegment, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CASE WHEN c_acctbal < p_lo THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
        |       CAST(sum(CASE WHEN c_acctbal > p_hi THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
        |       min(p_lo) AS p_lo, min(p_hi) AS p_hi,
        |       CAST(sum(CAST(round(greatest(least(c_acctbal, p_hi), p_lo) * 1e6)
        |                     AS BIGINT)) AS BIGINT) AS wsum_micros,
        |       CAST(sum(CAST(round(greatest(least(c_acctbal, p_hi), p_lo) * 1e6)
        |                     AS BIGINT)) AS DOUBLE) / (count(*) * 1000000.0) AS wmean
        |FROM customer c JOIN b ON c.c_mktsegment = b.c_mktsegment
        |WHERE c_acctbal IS NOT NULL
        |GROUP BY 1)
        |SELECT coalesce(a.c_mktsegment, nn.c_mktsegment) AS c_mktsegment,
        |       coalesce(a.n, 0) AS n, coalesce(a.n_low, 0) AS n_low,
        |       coalesce(a.n_high, 0) AS n_high, a.p_lo, a.p_hi,
        |       coalesce(a.wsum_micros, 0) AS wsum_micros, a.wmean,
        |       coalesce(nn.n_null, 0) AS n_null
        |FROM a FULL JOIN nn ON a.c_mktsegment = nn.c_mktsegment""".stripMargin,


    // the naive single-window sweep line — the oracle states the global
    // form and hash-matches, proving the two-phase decomposition exact
    // (the q72 packing proof pattern); -1 sorts before +1 at equal t
    "q167_peak_concurrency" ->
      """WITH d AS (
        |  SELECT event_type, ts AS t, 1 AS d FROM events
        |  UNION ALL
        |  SELECT event_type, ts + INTERVAL 10 MINUTE, -1 FROM events
        |), r AS (
        |  SELECT event_type, t,
        |         sum(d) OVER (PARTITION BY event_type ORDER BY t, d
        |                      ROWS UNBOUNDED PRECEDING) AS c
        |  FROM d
        |), m AS (
        |  SELECT event_type, max(c) AS mx FROM r GROUP BY 1
        |)
        |SELECT r.event_type, CAST(m.mx AS BIGINT) AS max_concurrent,
        |       min(r.t) AS peak_t
        |FROM r JOIN m ON r.event_type = m.event_type AND r.c = m.mx
        |GROUP BY 1, 2""".stripMargin,


    // same rules, same NULL-counts-as-violation coalesce
    "q168_dq_expectations" ->
      """WITH base AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |    SUM(CASE WHEN COALESCE(o_custkey IS NULL, TRUE) THEN 1 ELSE 0 END) AS v0,
        |    SUM(CASE WHEN COALESCE(NOT (o_totalprice > 0.0), TRUE) THEN 1 ELSE 0 END) AS v1,
        |    SUM(CASE WHEN COALESCE(o_orderstatus NOT IN ('O','F','P'), TRUE) THEN 1 ELSE 0 END) AS v2,
        |    SUM(CASE WHEN COALESCE(o_totalprice > 400000.0, TRUE) THEN 1 ELSE 0 END) AS v3
        |  FROM orders
        |), u AS (
        |  SELECT CAST(sum(kn) AS BIGINT) AS n_rows,
        |         CAST(sum(CASE WHEN kn > 1 THEN kn ELSE 0 END) AS BIGINT) AS v
        |  FROM (SELECT count(*) AS kn FROM orders GROUP BY o_orderkey)
        |)
        |SELECT 'o_custkey_not_null' AS rule, n_rows,
        |       CAST(v0 AS BIGINT) AS n_violations, v0 = 0 AS pass FROM base
        |UNION ALL SELECT 'o_totalprice_positive', n_rows,
        |       CAST(v1 AS BIGINT), v1 = 0 FROM base
        |UNION ALL SELECT 'o_orderstatus_domain', n_rows,
        |       CAST(v2 AS BIGINT), v2 = 0 FROM base
        |UNION ALL SELECT 'o_totalprice_upper_400k', n_rows,
        |       CAST(v3 AS BIGINT), v3 = 0 FROM base
        |UNION ALL SELECT 'unique(o_orderkey)', n_rows, v, v = 0 FROM u""".stripMargin,


    // both snapshots, the md5 bucket/row-hash digests, the disagreement
    // screen, and the restricted row diff — all rebuilt independently
    "q171_merkle_diff" ->
      """WITH v0 AS (
        |  SELECT o_orderkey, o_orderstatus,
        |         CAST(CAST(o_totalprice AS DECIMAL(30,2)) AS VARCHAR) AS o_price
        |  FROM orders
        |), v1 AS (
        |  SELECT o_orderkey,
        |         CASE WHEN o_orderkey % 7 = 0 THEN 'X' ELSE o_orderstatus END
        |           AS o_orderstatus,
        |         o_price
        |  FROM v0 WHERE o_orderkey % 11 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, 'N', o_price
        |  FROM v0 WHERE o_orderkey % 13 = 0
        |), b0 AS (
        |  SELECT *, CAST('0x' || substr(md5(
        |                 coalesce(md5(CAST(o_orderkey AS VARCHAR)), 'N')), 1, 8)
        |                 AS BIGINT) % 64 AS bucket,
        |         CAST(CAST('0x' || substr(md5(
        |                  coalesce(md5(CAST(o_orderkey AS VARCHAR)), 'N') || '|' ||
        |                  coalesce(md5(o_orderstatus), 'N') || '|' ||
        |                  coalesce(md5(CAST(o_price AS VARCHAR)), 'N')), 1, 14)
        |              AS BIGINT) AS DECIMAL(20,0)) AS rh
        |  FROM v0
        |), b1 AS (
        |  SELECT *, CAST('0x' || substr(md5(
        |                 coalesce(md5(CAST(o_orderkey AS VARCHAR)), 'N')), 1, 8)
        |                 AS BIGINT) % 64 AS bucket,
        |         CAST(CAST('0x' || substr(md5(
        |                  coalesce(md5(CAST(o_orderkey AS VARCHAR)), 'N') || '|' ||
        |                  coalesce(md5(o_orderstatus), 'N') || '|' ||
        |                  coalesce(md5(CAST(o_price AS VARCHAR)), 'N')), 1, 14)
        |              AS BIGINT) AS DECIMAL(20,0)) AS rh
        |  FROM v1
        |), d0 AS (
        |  SELECT bucket, count(*) AS n_o,
        |         CAST(sum(rh) AS DECIMAL(30,0)) AS h_o FROM b0 GROUP BY 1
        |), d1 AS (
        |  SELECT bucket, count(*) AS n_n,
        |         CAST(sum(rh) AS DECIMAL(30,0)) AS h_n FROM b1 GROUP BY 1
        |), dis AS (
        |  SELECT bucket FROM d0 FULL JOIN d1 USING (bucket)
        |  WHERE n_o IS DISTINCT FROM n_n OR h_o IS DISTINCT FROM h_n
        |), o AS (SELECT b0.* FROM b0 JOIN dis USING (bucket)
        |), n AS (SELECT b1.* FROM b1 JOIN dis USING (bucket)
        |), j AS (
        |  SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
        |         COALESCE(o.bucket, n.bucket) AS bucket,
        |         CASE WHEN o.o_orderkey IS NULL THEN 'I'
        |              WHEN n.o_orderkey IS NULL THEN 'D'
        |              WHEN o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
        |                OR o.o_price IS DISTINCT FROM n.o_price THEN 'U'
        |         END AS change_type,
        |         o.o_orderstatus AS old_o_orderstatus,
        |         n.o_orderstatus AS new_o_orderstatus,
        |         o.o_price AS old_o_price, n.o_price AS new_o_price
        |  FROM o FULL JOIN n
        |    ON o.o_orderkey = n.o_orderkey AND o.bucket = n.bucket
        |)
        |SELECT * FROM j WHERE change_type IS NOT NULL""".stripMargin,


    // DuckDB's native ASOF replays the union-window attach; same 24 h
    // credit rule, same hour rollup
    "q200_attribution" ->
      """WITH p AS (
        |  SELECT user_id, ts, CAST(count(*) AS BIGINT) AS n_p
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
        |), v AS (
        |  SELECT user_id, ts, ts AS v_ts
        |  FROM (SELECT DISTINCT user_id, ts FROM events
        |        WHERE event_type = 'view')
        |), a AS (
        |  SELECT p.user_id, p.ts, p.n_p, v.v_ts
        |  FROM p ASOF LEFT JOIN v
        |    ON p.user_id = v.user_id AND p.ts >= v.ts
        |)
        |SELECT CAST(CASE WHEN a.ts <= a.v_ts + INTERVAL 24 HOUR
        |                 THEN extract(hour FROM a.v_ts) END AS INT)
        |         AS view_hour,
        |       CAST(sum(n_p) AS BIGINT) AS n_purchases
        |FROM a GROUP BY 1""".stripMargin,


    // q190's chain + the parity split + the stage histogram
    "q199_funnel_ab" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS t_view
        |            FROM events WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT s1.user_id, s1.t_view, min(e.ts) AS t_click
        |       FROM s1 LEFT JOIN events e
        |         ON e.user_id = s1.user_id AND e.event_type = 'click'
        |        AND e.ts > s1.t_view
        |        AND e.ts <= s1.t_view + INTERVAL 24 HOUR
        |       GROUP BY 1, 2),
        |s3 AS (SELECT s2.user_id, s2.t_click, min(e.ts) AS t_purchase
        |       FROM s2 LEFT JOIN events e
        |         ON e.user_id = s2.user_id AND e.event_type = 'purchase'
        |        AND e.ts > s2.t_click
        |        AND e.ts <= s2.t_click + INTERVAL 24 HOUR
        |       GROUP BY 1, 2)
        |SELECT CAST(user_id % 2 AS INT) AS variant,
        |       CAST(1 + CASE WHEN t_click IS NULL THEN 0 ELSE 1 END
        |              + CASE WHEN t_purchase IS NULL THEN 0 ELSE 1 END
        |            AS INT) AS stage,
        |       CAST(count(*) AS BIGINT) AS n_users
        |FROM s3 GROUP BY 1, 2""".stripMargin,


    // q139's guarded-min chain + the 24 h window bound on each step
    "q190_funnel_windowed" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS t_view
        |            FROM events WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT s1.user_id, s1.t_view, min(e.ts) AS t_click
        |       FROM s1 LEFT JOIN events e
        |         ON e.user_id = s1.user_id AND e.event_type = 'click'
        |        AND e.ts > s1.t_view
        |        AND e.ts <= s1.t_view + INTERVAL 24 HOUR
        |       GROUP BY 1, 2),
        |s3 AS (SELECT s2.user_id, s2.t_view, s2.t_click, min(e.ts) AS t_purchase
        |       FROM s2 LEFT JOIN events e
        |         ON e.user_id = s2.user_id AND e.event_type = 'purchase'
        |        AND e.ts > s2.t_click
        |        AND e.ts <= s2.t_click + INTERVAL 24 HOUR
        |       GROUP BY 1, 2, 3)
        |SELECT user_id, t_view, t_click, t_purchase,
        |       CAST(1 + CASE WHEN t_click IS NULL THEN 0 ELSE 1 END
        |              + CASE WHEN t_purchase IS NULL THEN 0 ELSE 1 END
        |            AS INT) AS stage
        |FROM s3""".stripMargin,


    // same md5-uniform, same integer thresholds, same draw
    "q189_bootstrap" ->
      """WITH e AS (
        |  SELECT event_id, event_type,
        |         CAST(CAST(value AS DECIMAL(30,2)) * 100 AS BIGINT) AS cents,
        |         unnest(generate_series(0, 15)) AS r
        |  FROM events
        |), d AS (
        |  SELECT event_type, r, cents,
        |    CAST('0x' || substr(md5(CAST(event_id AS VARCHAR) || ':' ||
        |                            CAST(r AS VARCHAR)), 1, 14) AS BIGINT) AS u
        |  FROM e
        |), wtab AS (
        |  SELECT event_type, CAST(r AS INT) AS r, cents,
        |    (CASE WHEN u >= 26508507426831584 THEN 1 ELSE 0 END) +
        |    (CASE WHEN u >= 53017014853663168 THEN 1 ELSE 0 END) +
        |    (CASE WHEN u >= 66271268567078960 THEN 1 ELSE 0 END) +
        |    (CASE WHEN u >= 70689353138217560 THEN 1 ELSE 0 END) +
        |    (CASE WHEN u >= 71793874281002208 THEN 1 ELSE 0 END) AS w
        |  FROM d
        |)
        |SELECT event_type, r, CAST(sum(w) AS BIGINT) AS n_eff,
        |       CAST(sum(w * cents) AS BIGINT) AS wsum_cents,
        |       CAST(sum(w * cents) AS DOUBLE) /
        |         (CAST(sum(w) AS DOUBLE) * 100.0) AS mean_r
        |FROM wtab GROUP BY 1, 2""".stripMargin,


    // diff∘apply is identity: the oracle simply states v1
    "q180_merkle_sync" ->
      """SELECT o_orderkey,
        |       CASE WHEN o_orderkey % 7 = 0 THEN 'X' ELSE o_orderstatus END
        |         AS o_orderstatus,
        |       CAST(CAST(o_totalprice AS DECIMAL(30,2)) AS VARCHAR) AS o_price
        |FROM orders WHERE o_orderkey % 11 <> 0
        |UNION ALL
        |SELECT o_orderkey + 100000000, 'N',
        |       CAST(CAST(o_totalprice AS DECIMAL(30,2)) AS VARCHAR)
        |FROM orders WHERE o_orderkey % 13 = 0""".stripMargin,


    "q182_ab_metrics" ->
      """WITH e AS (
        |  SELECT CAST(user_id % 2 AS INT) AS variant,
        |         CAST(CAST(value AS DECIMAL(30,2)) * 100 AS BIGINT) AS c
        |  FROM events
        |), a AS (
        |  SELECT variant, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(c) AS BIGINT) AS sum_cents,
        |         CAST(sum(c * c) AS BIGINT) AS sumsq_cents2
        |  FROM e GROUP BY 1
        |)
        |SELECT variant, n, sum_cents, sumsq_cents2,
        |       CAST(sum_cents AS DOUBLE) / (CAST(n AS DOUBLE) * 100.0) AS mean,
        |       CAST(n * sumsq_cents2 - sum_cents * sum_cents AS DOUBLE) /
        |         CAST(n * (n - 1) AS DOUBLE) AS var_cents2
        |FROM a""".stripMargin,


    // same segment construction: epoch_us + floor-div seconds + cents
    "q178_time_weighted_avg" ->
      """WITH e AS (
        |  SELECT user_id, event_id,
        |         CAST(CAST(value AS DECIMAL(30,2)) * 100 AS BIGINT) AS v_cents,
        |         epoch_us(ts) AS us,
        |         lead(epoch_us(ts), 1) OVER (PARTITION BY user_id
        |                                     ORDER BY ts, event_id) AS nxt_us
        |  FROM events
        |), seg AS (
        |  SELECT user_id, v_cents, (nxt_us - us) // 1000000 AS dur_s
        |  FROM e WHERE nxt_us IS NOT NULL
        |), a AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_segments,
        |         CAST(sum(dur_s) AS BIGINT) AS span_s,
        |         CAST(sum(v_cents * dur_s) AS BIGINT) AS wsum
        |  FROM seg GROUP BY 1
        |)
        |SELECT user_id, n_segments, span_s, wsum,
        |       CAST(wsum AS DOUBLE) / (CAST(span_s AS DOUBLE) * 100.0) AS twa
        |FROM a WHERE span_s > 0""".stripMargin,


    "q179_reconciliation" ->
      """WITH child AS (
        |  SELECT l_orderkey,
        |         CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(30,2)) * 100
        |                       AS BIGINT)) AS BIGINT) AS line_cents
        |  FROM lineitem GROUP BY 1
        |)
        |SELECT o_orderstatus,
        |       CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(CASE WHEN line_cents IS NOT NULL THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_with_lines,
        |       CAST(sum(CASE WHEN line_cents =
        |                  CAST(CAST(o_totalprice AS DECIMAL(30,2)) * 100 AS BIGINT)
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
        |       CAST(max(abs(CAST(CAST(o_totalprice AS DECIMAL(30,2)) * 100 AS BIGINT)
        |                    - line_cents)) AS BIGINT) AS max_abs_diff_cents
        |FROM orders o LEFT JOIN child c ON o.o_orderkey = c.l_orderkey
        |GROUP BY 1""".stripMargin,


    // q142's ASOF replay + the staleness CASE on the matched ts
    "q177_gap_fill_bounded" ->
      """WITH p AS (SELECT user_id, ts, max(value) AS v
        |           FROM events GROUP BY 1, 2),
        |b AS (SELECT user_id, date_trunc('hour', min(ts)) AS lo,
        |             date_trunc('hour', max(ts)) AS hi
        |      FROM events GROUP BY 1),
        |g AS (SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS ts
        |      FROM b)
        |SELECT g.user_id, g.ts,
        |       CASE WHEN g.ts - p.ts <= INTERVAL 2 HOUR THEN p.v END AS v
        |FROM g ASOF LEFT JOIN p ON g.user_id = p.user_id AND g.ts >= p.ts""".stripMargin,


    "q172_ohlc_bars" ->
      s"""WITH e AS (
         |  SELECT user_id, date_trunc('hour', ts) AS hour, value,
         |    row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
         |                       ORDER BY ts ASC, event_id ASC) AS rn_a,
         |    row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
         |                       ORDER BY ts DESC, event_id DESC) AS rn_d
         |  FROM events
         |)
         |SELECT user_id, hour,
         |       max(CASE WHEN rn_a = 1 THEN value END) AS open,
         |       max(CASE WHEN rn_d = 1 THEN value END) AS close,
         |       max(value) AS high, min(value) AS low,
         |       CAST(count(*) AS BIGINT) AS n,
         |       ${dSum("value", 6, "sum_v")}
         |FROM e GROUP BY 1, 2""".stripMargin,


    "q213_join_cardinality" ->
      """WITH o AS (
        |  SELECT o_orderkey AS k, CAST(count(*) AS BIGINT) AS n_o
        |  FROM orders GROUP BY 1
        |), l AS (
        |  SELECT l_orderkey AS k, CAST(count(*) AS BIGINT) AS n_l
        |  FROM lineitem GROUP BY 1
        |)
        |SELECT
        |  CAST(sum(CASE WHEN n_o IS NOT NULL AND n_l IS NOT NULL
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_matched_keys,
        |  CAST(sum(CASE WHEN n_l IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_left_only,
        |  CAST(sum(CASE WHEN n_o IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_right_only,
        |  CAST(sum(CASE WHEN n_o IS NOT NULL AND n_l IS NOT NULL
        |    THEN n_o * n_l ELSE 0 END) AS BIGINT) AS join_rows,
        |  CAST(max(CASE WHEN n_o IS NOT NULL AND n_l IS NOT NULL
        |    THEN n_o * n_l END) AS BIGINT) AS max_key_fanout
        |FROM o FULL JOIN l USING (k)""".stripMargin,


    // three synchronous rounds, each a chained CTE of the same
    // min-of-self-and-neighbors step
    "q222_label_prop" ->
      s"""WITH pairs AS (
         |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |), ${labelRoundsChain(3)}
         |SELECT node, label FROM l3""".stripMargin,


    "q223_degree_histogram" ->
      """WITH pairs AS (
        |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |), edges AS (
        |  SELECT src, dst FROM pairs UNION SELECT dst, src FROM pairs
        |), deg AS (
        |  SELECT src AS node, CAST(count(*) AS BIGINT) AS degree
        |  FROM edges GROUP BY 1
        |)
        |SELECT degree, CAST(count(*) AS BIGINT) AS n_nodes
        |FROM deg GROUP BY 1""".stripMargin,


    "q231_group_mode" ->
      """WITH c AS (
        |  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS qty,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM lineitem GROUP BY 1, 2
        |), r AS (
        |  SELECT *, row_number() OVER (PARTITION BY l_returnflag
        |                               ORDER BY n DESC, qty) AS rn
        |  FROM c
        |)
        |SELECT l_returnflag, qty AS mode_qty, n FROM r WHERE rn = 1""".stripMargin,


    // the q232 digest stated three ways (source, erased slice, STORED
    // survivors) + the decimal reconciliation and residual scan
    "q443_erasure_proof" ->
      s"""WITH ${erasureChecksumsChain(predsPath("q443_after"))}, res AS (
         |  SELECT CAST(coalesce(sum(CASE WHEN o_custkey % 97 = 0
         |    THEN 1 ELSE 0 END), 0) AS BIGINT) AS residual_rows
         |  FROM adig
         |)
         |SELECT cb.n_before, cb.ck_before, cd.n_deleted, cd.ck_deleted,
         |  ca.n_after, ca.ck_after, res.residual_rows,
         |  cb.n_before = ca.n_after + cd.n_deleted AS counts_reconcile,
         |  CAST(cb.ck_before AS DECIMAL(30,0)) =
         |    CAST(ca.ck_after AS DECIMAL(30,0))
         |      + CAST(cd.ck_deleted AS DECIMAL(30,0))
         |    AS checksums_reconcile
         |FROM cb CROSS JOIN cd CROSS JOIN ca CROSS JOIN res""".stripMargin,

    // the fixed-3-round min-label unroll over q92's thresholded graph
    // + the exact modularity algebra
    "q444_modularity" ->
      s"""WITH li AS (
         |  SELECT l_orderkey, l_suppkey FROM lineitem WHERE l_quantity > 48
         |), pairs AS (
         |  SELECT DISTINCT x.l_suppkey AS src, y.l_suppkey AS dst
         |  FROM li x JOIN li y
         |    ON x.l_orderkey = y.l_orderkey AND x.l_suppkey < y.l_suppkey
         |), ${labelRoundsChain(3)}, mm AS (
         |  SELECT CAST(count(*) AS BIGINT) AS m FROM pairs
         |), deg AS (
         |  SELECT src AS node, CAST(count(*) AS BIGINT) AS d
         |  FROM edges GROUP BY 1
         |), dc AS (
         |  SELECT l3.label, CAST(count(*) AS BIGINT) AS n_nodes,
         |    CAST(sum(deg.d) AS BIGINT) AS d_c
         |  FROM l3 JOIN deg ON l3.node = deg.node GROUP BY 1
         |), ec AS (
         |  SELECT ls.label, CAST(count(*) AS BIGINT) AS e_intra
         |  FROM pairs p
         |  JOIN l3 ls ON p.src = ls.node
         |  JOIN l3 ld ON p.dst = ld.node
         |  WHERE ls.label = ld.label
         |  GROUP BY 1
         |), perc AS (
         |  SELECT dc.label, dc.n_nodes, coalesce(ec.e_intra, 0) AS e_intra,
         |    dc.d_c,
         |    CAST(coalesce(ec.e_intra, 0) * 1000000 // mm.m
         |      - ((dc.d_c * dc.d_c // (4 * mm.m * mm.m)) * 1000000
         |         + (dc.d_c * dc.d_c % (4 * mm.m * mm.m)) * 1000000
         |           // (4 * mm.m * mm.m)) AS BIGINT) AS q_c_ppm
         |  FROM dc LEFT JOIN ec ON dc.label = ec.label CROSS JOIN mm
         |)
         |SELECT label, n_nodes, CAST(e_intra AS BIGINT) AS e_intra, d_c,
         |  q_c_ppm,
         |  (SELECT CAST(sum(q_c_ppm) AS BIGINT) FROM perc)
         |    AS modularity_ppm
         |FROM perc""".stripMargin,

    "q232_table_checksum" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(CAST(sum(CAST(CAST('0x' || substr(md5(
        |    coalesce(md5(CAST(o_orderkey AS VARCHAR)), 'N') || '|' ||
        |    coalesce(md5(CAST(o_custkey AS VARCHAR)), 'N') || '|' ||
        |    coalesce(md5(o_orderstatus), 'N') || '|' ||
        |    coalesce(md5(o_orderpriority), 'N')), 1, 14)
        |    AS BIGINT) AS DECIMAL(20,0))) AS DECIMAL(30,0)) AS VARCHAR)
        |    AS content_checksum
        |FROM orders""".stripMargin,


    "q224_benford" ->
      """WITH p(digit, p_benford) AS (VALUES
        |  (1, 0.3010299956639812), (2, 0.17609125905568124),
        |  (3, 0.12493873660829992), (4, 0.09691001300805642),
        |  (5, 0.07918124604762482), (6, 0.06694678963061322),
        |  (7, 0.05799194697768673), (8, 0.05115252244738129),
        |  (9, 0.04575749056067514)
        |), obs AS (
        |  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
        |           AS VARCHAR), 1, 1) AS INT) AS digit,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM orders WHERE o_totalprice > 0.0 GROUP BY 1
        |), w AS (
        |  SELECT p.digit, p.p_benford, coalesce(obs.n, 0) AS n
        |  FROM p LEFT JOIN obs USING (digit)
        |), t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM w)
        |SELECT digit, n,
        |       CAST(total AS DOUBLE) * p_benford AS expected,
        |       (CAST(n AS DOUBLE) - CAST(total AS DOUBLE) * p_benford) *
        |       (CAST(n AS DOUBLE) - CAST(total AS DOUBLE) * p_benford) /
        |       (CAST(total AS DOUBLE) * p_benford) AS chi2_term
        |FROM w, t""".stripMargin,
  )
}
