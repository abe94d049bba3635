package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import QueryShared._

/** Experiment analytics and supervised-baseline surfaces: CUPED variance
  * reduction, sample-ratio-mismatch gating, multi-touch linear
  * attribution, grouped least-squares, nearest-centroid classification,
  * and cohort LTV curves.
  *
  * Portability recipe throughout: every aggregate is integer-exact
  * (cents / micro-units, BIGINT sums), and ratios/regression
  * coefficients are derived from those exact integers by a FIXED
  * sequence of IEEE double operations mirrored token-for-token in the
  * oracle SQL — float accumulation (the one order-dependent operation)
  * never happens on either engine.
  */
object ExperimentQueries {

  private val cut = "2024-01-16"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // CUPED (controlled-experiment variance reduction): per-user
    // pre-period metric X and post-period metric Y fold in ONE grouped
    // pass (conditional sums, map-side partial); θ = cov(X,Y)/var(X)
    // comes from a scalar aggregate over the user grain (the
    // crossJoin(broadcast(scalar)) idiom), and each variant's adjusted
    // mean Ŷ−θ(X̄_v−X̄) is exact-integer algebra + doubles at the end.
    // At 100 TB the user-grain frame is the only shuffle; the scalar
    // stats and the variant rollup both reduce it map-side.
    "q207_cuped" -> ((s, dir) =>
      graft.ops.Experiment.cuped(Tables.events(s, dir),
        "user_id", "ts", "value", cutover = cut)),


    // Sample-ratio mismatch gate: per event type, the 50/50 split's
    // chi-square statistic from exact counts — the pre-read every
    // experiment readout must pass before its metrics mean anything.
    // One grouped pass, map-side partial; the chi² is derived math.
    "q208_srm_check" -> ((s, dir) =>
      graft.ops.Experiment.srmCheck(Tables.events(s, dir),
        "event_type", "user_id")),


    // Multi-touch LINEAR attribution (the even-split counterpart of
    // q200's last-touch): every view within the purchase's 24 h lookback
    // shares the credit equally, credit = 1000000 div n in integer
    // micro-units so the split is exact and order-free (1/n double sums
    // are not). The join is user-equi + a time-range residual — shuffle
    // by user only, never an inequality-only join; the per-purchase
    // window count runs on the already-joined grain.
    "q209_linear_attribution" -> ((s, dir) =>
      graft.ops.Experiment.linearAttribution(Tables.events(s, dir),
        "user_id", "ts", "event_type", "event_id",
        convType = "purchase", touchType = "view")
        .groupBy(hour(col("touch_ts")).cast("long").as("view_hour"))
        .agg(count(lit(1)).as("n_credited"),
          sum(col("credit_micros")).as("credit_micros"))),


    // Grouped least squares (price-vs-quantity slope per brand): the
    // five sufficient statistics (n, Σx, Σy, Σxy, Σx²) fold in ONE
    // grouped pass as exact BIGINTs; slope and intercept are a fixed
    // double formula over them. The closed form needs no iteration, no
    // driver round-trips — at any scale this is one map-side-partial
    // aggregate over the broadcast-joined brand key.
    "q210_group_regression" -> ((s, dir) =>
      graft.ops.Experiment.groupedLeastSquares(
        Tables.lineitem(s, dir)
          .join(broadcast(Tables.part(s, dir)
              .select(col("p_partkey"), col("p_brand"))),
            col("l_partkey") === col("p_partkey"))
          .select(col("p_brand"), col("l_quantity").cast("long").as("x"),
            (col("l_extendedprice").cast("decimal(30,2)") * 100).cast("long")
              .as("y")),
        "p_brand", "x", "y")
        .select(col("p_brand"), col("n"), col("slope").as("slope_cents"),
          col("intercept").as("intercept_cents"))),


    // Nearest-centroid classifier, fit+serve in one plan: class
    // centroids from offset-positive micro-quantized dims (the q89
    // recipe — `div`//`//` agree on non-negatives), then every vector
    // scores against the 10-row broadcast centroid table with an exact
    // BIGINT squared distance (zip_with/aggregate — codegen'd, no UDF);
    // argmin by (dist², label) is deterministic. Scale shape: the fit is
    // a dims×labels aggregate (tiny output), the serve is a constant-key
    // broadcast hash join — embeddings shuffle once for the per-vector
    // window, nothing is quadratic in the corpus.
    "q211_centroid_classify" -> ((s, dir) =>
      graft.ml.Centroid.classify(Tables.embeddings(s, dir),
        "vec_id", "label", "embedding")),


    // Cohort LTV curve: cohort = the user's first-activity date, age in
    // days, per-(cohort, age) active users and purchase revenue, and the
    // running cumulative revenue per cohort. Two shuffles (user grain
    // for first-activity, cohort/age rollup) plus one cohort-partitioned
    // window — each cohort's curve is one partition, never a global sort.
    "q212_cohort_ltv" -> ((s, dir) =>
      graft.ops.Experiment.cohortLtv(Tables.events(s, dir),
        "user_id", "ts", "event_type", "value", revenueType = "purchase")
        .select(col("cohort"), col("age_days"), col("n_active"),
          col("rev_cents"), col("cum_rev_cents"))),


    // CUSUM changepoint per user: argmax of the n-scaled cumulative
    // deviation |n·prefix_t − t·total| — all-BIGINT algebra on cents
    // (see ops.Temporal.cusumChangepoint for the exactness recipe).
    "q214_cusum_changepoint" -> ((s, dir) =>
      graft.ops.Temporal.cusumChangepoint(Tables.events(s, dir),
        "user_id", "ts", "value", "event_id")),


    // Time-to-convert distribution per variant: each user's FIRST view →
    // the first purchase at-or-after it, delta in whole seconds (exact
    // integer epoch math), then min/median/p90/max per variant — the
    // exact interpolated percentile both engines share (the q50 recipe).
    // Shape: two user-grain aggregates + one user-equi join; the
    // distribution rollup sees user-count rows, never raw events.
    "q215_time_to_convert" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val firstView = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("v_ts"))
      val purch = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("p_ts"))
      firstView.join(purch, Seq("user_id"))
        .filter(col("p_ts") >= col("v_ts"))
        .groupBy(col("user_id"), col("v_ts"))
        .agg(min(col("p_ts")).as("p_ts"))
        .withColumn("delta_s",
          expr("(unix_micros(CAST(p_ts AS TIMESTAMP)) - " +
            "unix_micros(CAST(v_ts AS TIMESTAMP))) div 1000000"))
        .groupBy((col("user_id") % 2).cast("int").as("variant"))
        .agg(count(lit(1)).as("n_converted"),
          min(col("delta_s")).as("min_s"),
          percentile(col("delta_s"), lit(0.5)).as("median_s"),
          percentile(col("delta_s"), lit(0.9)).as("p90_s"),
          max(col("delta_s")).as("max_s"))
    }),


    // Lag-1 autocorrelation of each user's value series (the
    // repeated-behavior signal): consecutive pairs via lag over the
    // (ts, event_id) total order, Pearson r over the pairs from SIX
    // exact BIGINT sums; the only doubles are the final closed form
    // (IEEE sqrt is correctly rounded, so both engines agree exactly).
    // Zero-variance series are dropped (r undefined), keyed filter on
    // the exact integer discriminants so the cut is engine-identical.
    "q216_lag_autocorr" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          (col("value").cast("decimal(30,2)") * 100).cast("long").as("c"))
        .withColumn("prev", lag(col("c"), 1).over(w))
        .filter(col("prev").isNotNull)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("prev")).as("sx"), sum(col("c")).as("sy"),
          // product moments as decimal(38,0) (operands lifted first):
          // a long cent-product wraps past ~3e9 per operand while the
          // oracle promotes to HUGEINT — decimal keeps both exact
          sum(col("prev").cast("decimal(19,0)") * col("c").cast("decimal(19,0)"))
            .as("sxy"),
          sum(col("prev").cast("decimal(19,0)") * col("prev").cast("decimal(19,0)"))
            .as("sxx"),
          sum(col("c").cast("decimal(19,0)") * col("c").cast("decimal(19,0)"))
            .as("syy"))
        .filter(col("n_pairs") * col("sxx") -
            col("sx").cast("decimal(19,0)") * col("sx").cast("decimal(19,0)") > 0 &&
          col("n_pairs") * col("syy") -
            col("sy").cast("decimal(19,0)") * col("sy").cast("decimal(19,0)") > 0)
        .withColumn("r",
          (col("n_pairs").cast("double") * col("sxy").cast("double") -
            col("sx").cast("double") * col("sy").cast("double")) /
            sqrt((col("n_pairs").cast("double") * col("sxx").cast("double") -
              col("sx").cast("double") * col("sx").cast("double")) *
              (col("n_pairs").cast("double") * col("syy").cast("double") -
                col("sy").cast("double") * col("sy").cast("double"))))
        .select(col("user_id"), col("n_pairs"), col("r"))
    }),


    // Seasonality profile: the day-of-week × hour-of-day activity matrix
    // with exact integer-ppm shares (n·10⁶ div total — no float ratio).
    // One grouped pass + a scalar-total broadcast; at any scale the
    // matrix is ≤ 7×24 rows. Spark's dayofweek is 1=Sunday; −1 aligns it
    // with DuckDB's 0=Sunday.
    "q218_seasonal_profile" -> ((s, dir) => {
      val d = Tables.events(s, dir)
        .select((dayofweek(col("ts")) - 1).cast("long").as("dow"),
          hour(col("ts")).cast("long").as("hod"))
        .groupBy(col("dow"), col("hod"))
        .agg(count(lit(1)).as("n"))
      d.crossJoin(broadcast(d.agg(sum(col("n")).as("total"))))
        .withColumn("share_ppm", expr("n * 1000000 div total"))
        .select(col("dow"), col("hod"), col("n"), col("share_ppm"))
    }),


    // Order-to-ship latency distribution by priority: exact day deltas,
    // per-priority min/median/p90/max through the exact interpolated
    // percentile (the q50 recipe). One fact-fact join on orderkey, one
    // grouped pass over priority — a handful of output rows.
    "q219_ship_latency" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), to_date(col("l_shipdate")).as("sd"))
        .join(Tables.orders(s, dir)
            .select(col("o_orderkey"), to_date(col("o_orderdate")).as("od"),
              col("o_orderpriority")),
          col("l_orderkey") === col("o_orderkey"))
        .withColumn("latency_days", datediff(col("sd"), col("od")).cast("long"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          min(col("latency_days")).as("min_d"),
          percentile(col("latency_days"), lit(0.5)).as("median_d"),
          percentile(col("latency_days"), lit(0.9)).as("p90_d"),
          max(col("latency_days")).as("max_d"))),


    // RFM segmentation without a global sort: recency/frequency/monetary
    // fold at the user grain, each metric's quintile boundaries come from
    // ONE exact-percentile scalar aggregate broadcast back (the q150
    // threshold idiom — a global ntile would be a single-partition sort
    // at 100 TB), and the bin is 1 + the count of exceeded boundaries.
    // Reference "now" is the corpus max ts, itself a broadcast scalar.
    "q220_rfm_segments" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val now = ev.agg(max(to_date(col("ts"))).as("now_d"))
      val rfm = ev
        .crossJoin(broadcast(now))
        .groupBy(col("user_id"))
        .agg(min(datediff(col("now_d"), to_date(col("ts"))).cast("long"))
            .as("recency_days"),
          count(lit(1)).as("frequency"),
          sum(when(col("event_type") === "purchase",
            (col("value").cast("decimal(30,2)") * 100).cast("long"))
            .otherwise(0L)).as("monetary_cents"))
      val qs = rfm.agg(
        percentile(col("recency_days"), lit(0.2)).as("r1"),
        percentile(col("recency_days"), lit(0.4)).as("r2"),
        percentile(col("recency_days"), lit(0.6)).as("r3"),
        percentile(col("recency_days"), lit(0.8)).as("r4"),
        percentile(col("frequency"), lit(0.2)).as("f1"),
        percentile(col("frequency"), lit(0.4)).as("f2"),
        percentile(col("frequency"), lit(0.6)).as("f3"),
        percentile(col("frequency"), lit(0.8)).as("f4"),
        percentile(col("monetary_cents"), lit(0.2)).as("m1"),
        percentile(col("monetary_cents"), lit(0.4)).as("m2"),
        percentile(col("monetary_cents"), lit(0.6)).as("m3"),
        percentile(col("monetary_cents"), lit(0.8)).as("m4"))
      def bin(v: String, t: Seq[String]) =
        t.map(q => when(col(v) > col(q), 1).otherwise(0))
          .reduce(_ + _).cast("int") + 1
      rfm.crossJoin(broadcast(qs))
        .select(col("user_id"), col("recency_days"), col("frequency"),
          col("monetary_cents"),
          bin("recency_days", Seq("r1", "r2", "r3", "r4")).as("r_bin"),
          bin("frequency", Seq("f1", "f2", "f3", "f4")).as("f_bin"),
          bin("monetary_cents", Seq("m1", "m2", "m3", "m4")).as("m_bin"))
    }),


    // Frequency-cap audit: (user, day) activity cells over the k=50/day
    // cap — the abuse/bot screen and ad-frequency hygiene read. Two
    // grouped passes, exact counts.
    "q251_frequency_cap" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("user_id"), to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("n_events"))
        .groupBy(col("d"))
        .agg(count(lit(1)).as("n_user_days"),
          sum(when(col("n_events") > 50L, 1L).otherwise(0L))
            .as("n_over_cap"),
          max(col("n_events")).as("max_events"))),


    // Basket-size profile: orders histogrammed by lineitem count with
    // the exact mean order value per size (integer cents, one double
    // division per size bucket) — the order-economics shape read.
    "q252_basket_size_profile" -> ((s, dir) =>
      Tables.orders(s, dir)
        .select(col("o_orderkey"),
          (col("o_totalprice").cast("decimal(30,2)") * 100).cast("long")
            .as("price_cents"))
        .join(Tables.lineitem(s, dir)
            .groupBy(col("l_orderkey")).agg(count(lit(1)).as("basket_size")),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("basket_size"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("price_cents")).as("sum_cents"))
        .withColumn("mean_value",
          col("sum_cents").cast("double") /
            (col("n_orders").cast("double") * 100.0))),


    // ABC classification over q243's Pareto curve: brands bucket into
    // A (first 80% of cumulative revenue), B (to 95%), C (tail) — the
    // inventory-management rollup; class boundaries evaluated on the
    // same integer-ppm cumulative shares.
    "q249_abc_classification" -> ((s, dir) => {
      val rev = Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir)
            .select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(sum((col("l_extendedprice").cast("decimal(30,2)") * 100)
          .cast("long")).as("rev_cents"))
      val w = Window.orderBy(col("rev_cents").desc, col("p_brand"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      rev.crossJoin(broadcast(rev.agg(sum(col("rev_cents")).as("grand"))))
        .withColumn("cum_ppm",
          expr("(sum(rev_cents) OVER (ORDER BY rev_cents DESC, p_brand " +
            "ROWS UNBOUNDED PRECEDING)) * 1000000 div grand"))
        .withColumn("abc",
          when(col("cum_ppm") <= 800000L, "A")
            .when(col("cum_ppm") <= 950000L, "B").otherwise("C"))
        .groupBy(col("abc"))
        .agg(count(lit(1)).as("n_brands"),
          sum(col("rev_cents")).as("rev_cents"))
    }),


    // Staleness histogram: days since each user's last activity
    // (reference = the corpus max date, a scalar broadcast — no
    // engine-divergent now()), bucketed exactly — the inactive-user /
    // data-freshness read.
    "q250_staleness" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val lastAct = ev.groupBy(col("user_id"))
        .agg(to_date(max(col("ts"))).as("last_d"))
      lastAct
        .crossJoin(broadcast(ev.agg(to_date(max(col("ts"))).as("ref_d"))))
        .withColumn("stale_days",
          datediff(col("ref_d"), col("last_d")).cast("long"))
        .groupBy(col("stale_days"))
        .agg(count(lit(1)).as("n_users"))
    }),


    // GROWTH ACCOUNTING (the revenue bridge): the period-over-period
    // delta decomposed into new / churned / expansion / contraction /
    // flat user segments — per-user period revenues fold in ONE
    // conditional-sum pass (exact cents), the segment label is pure
    // derived algebra, and the category deltas provably sum to the
    // total change. Periods: first vs second half of the corpus month.
    "q248_growth_accounting" -> ((s, dir) => {
      val perUser = Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"),
          (col("value").cast("decimal(30,2)") * 100).cast("long").as("c"),
          (col("ts") < lit(cut).cast("timestamp_ntz")).as("a"))
        .groupBy(col("user_id"))
        .agg(sum(when(col("a"), col("c")).otherwise(0L)).as("rev_a"),
          sum(when(col("a"), lit(0L)).otherwise(col("c"))).as("rev_b"))
      perUser
        .withColumn("segment",
          when(col("rev_a") === 0L && col("rev_b") > 0L, "new")
            .when(col("rev_a") > 0L && col("rev_b") === 0L, "churned")
            .when(col("rev_b") > col("rev_a"), "expansion")
            .when(col("rev_b") < col("rev_a"), "contraction")
            .otherwise("flat"))
        .groupBy(col("segment"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("rev_a")).as("rev_a_cents"),
          sum(col("rev_b")).as("rev_b_cents"),
          sum(col("rev_b") - col("rev_a")).as("delta_cents"))
    }),


    // New-vs-returning daily split: each active (user, day) classifies
    // by whether the day is the user's FIRST activity date — the
    // product-growth read next to q140's retention triangle. Two
    // user-grain passes, exact counts.
    "q246_new_vs_returning" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val first = ev.groupBy(col("user_id"))
        .agg(to_date(min(col("ts"))).as("first_d"))
      ev.select(col("user_id"), to_date(col("ts")).as("d")).distinct()
        .join(first, Seq("user_id"))
        .groupBy(col("d"))
        .agg(count(lit(1)).as("n_active"),
          sum(when(col("d") === col("first_d"), 1L).otherwise(0L))
            .as("n_new"))
        .withColumn("n_returning", col("n_active") - col("n_new"))
    }),


    // Monthly order-value percentile trend: exact p50/p90 per month
    // from ONE array-percentile buffer per group (the q229 lesson),
    // month-grain output.
    "q247_monthly_percentiles" -> ((s, dir) =>
      Tables.orders(s, dir)
        .groupBy(date_trunc("month", col("o_orderdate")).cast("date")
          .as("month"))
        .agg(count(lit(1)).as("n"),
          percentile(col("o_totalprice"), typedLit(Seq(0.5, 0.9)))
            .as("qs"))
        .select(col("month"), col("n"),
          element_at(col("qs"), 1).as("p50"),
          element_at(col("qs"), 2).as("p90"))),


    // Pareto (cumulative-share) curve of revenue by brand — the 80/20
    // read: revenue folds to the BRAND grain first (exact cents,
    // map-side partial), and only that tiny frame pays the ordered
    // window; cumulative share is integer ppm with a (revenue desc,
    // brand) total order.
    "q243_pareto_revenue" -> ((s, dir) => {
      val rev = Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir)
            .select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(sum((col("l_extendedprice").cast("decimal(30,2)") * 100)
          .cast("long")).as("rev_cents"))
      val w = Window.orderBy(col("rev_cents").desc, col("p_brand"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      rev.crossJoin(broadcast(rev.agg(sum(col("rev_cents")).as("grand"))))
        .withColumn("cum_cents", sum(col("rev_cents")).over(w))
        .withColumn("rank", row_number().over(
          Window.orderBy(col("rev_cents").desc, col("p_brand"))))
        .withColumn("cum_share_ppm", expr("cum_cents * 1000000 div grand"))
        .select(col("rank"), col("p_brand"), col("rev_cents"),
          col("cum_share_ppm"))
    }),


    // FORWARD as-of: each click attaches the user's NEXT purchase value
    // at-or-after it (q30's mirror — the union-window shape walked from
    // the other end of the timeline; one shuffle, no inequality join).
    // Both sides pre-grouped to the (user, ts) grain the asof contract
    // requires.
    "q242_asof_forward" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("next_purchase_value"))
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts"))
        .agg(count(lit(1)).as("n_clicks"))
      graft.ops.Temporal.asofJoinForward(clicks, purchases,
        Seq("user_id"), "ts", Seq("next_purchase_value"))
    }),


    // Association rules (confidence + lift) over q146's capped basket
    // universe — both directed rules per surviving pair, statistics
    // mutually consistent by construction (same cap everywhere).
    "q240_association_rules" -> ((s, dir) =>
      graft.ops.Relational.associationRules(
        Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_partkey")),
        "l_orderkey", "l_partkey", maxBasket = 8, minSupport = 2L)),


    // Time-in-state: dwell seconds per event type (each event holds its
    // state until the user's next event — the LOCF segment view), with
    // exact integer share-of-total ppm. One user-partitioned lead pass.
    "q241_time_in_state" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val seg = Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"),
          unix_micros(col("ts").cast("timestamp")).as("us"))
        .withColumn("nxt", lead(col("us"), 1).over(w))
        .filter(col("nxt").isNotNull)
        .withColumn("dur_s", expr("(nxt - us) div 1000000"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_segments"),
          sum(col("dur_s")).as("total_s"))
      seg.crossJoin(broadcast(seg.agg(sum(col("total_s")).as("grand_s"))))
        .withColumn("share_ppm", expr("total_s * 1000000 div grand_s"))
        .select(col("event_type"), col("n_segments"), col("total_s"),
          col("share_ppm"))
    }),


    // HARD-NEGATIVE MINING (the contrastive-training prep q237's random
    // negatives can't give): for each vector, the nearest
    // DIFFERENT-label vector within its nearest-centroid cell — the
    // cell blocking keeps the pair space Σ cell², never n² (declared
    // in-cluster-negatives semantics, the SemDeDup/ANN family rule),
    // with the family-standard cell-size cap made LOUD via
    // capCellsWithDiagnostics (the cap is mirrored in the oracle's
    // `capped` CTE; ExperimentSpec pins that a forced-oversized cell
    // surfaces on the diagnostics side). Exact BIGINT distances over the
    // retained quantized dims; argmin ties break to the smaller
    // candidate id.
    "q239_hard_negatives" -> ((s, dir) => {
      val cells = graft.ml.Centroid.assignCells(
        Tables.embeddings(s, dir), "vec_id", "label", "embedding")
      // both sides of the within-cell self-join consume `capped`; without a
      // materialization the whole assignCells pipeline (posexplode centroid
      // fit + argmin window) is inlined and executed twice (r15, guide §5).
      // The frame is BOUNDED, not corpus-grain: the cap keeps only cells
      // with <= 200 members and cells are centroid labels, so the
      // checkpoint holds at most 200 x |labels| rows.
      val capped = graft.ml.Centroid.capCellsWithDiagnostics(cells, 200)._1
        .localCheckpoint(true)
      val other = capped.select(col("cell"), col("vec_id").as("o_id"),
        col("label").as("o_label"), col("q").as("o_q"))
      capped.join(other, Seq("cell"))
        .filter(col("label") =!= col("o_label"))
        .withColumn("pair_dist2",
          aggregate(zip_with(col("q"), col("o_q"),
            (a, b) => (a - b) * (a - b)), lit(0L), (acc, x) => acc + x))
        // a ragged-vector pair folds to NULL, which sorts FIRST under
        // the asc argmin and would silently win as the "nearest" hard
        // negative — exclude it, mirroring Centroid.scored's guard
        .filter(col("pair_dist2").isNotNull)
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("vec_id"))
            .orderBy(col("pair_dist2"), col("o_id"))))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("label"), col("o_id").as("hard_neg_id"),
          col("o_label").as("hard_neg_label"), col("pair_dist2"))
    }),


    // Deterministic NEGATIVE SAMPLING (the recsys/contrastive training
    // prep): each observed (customer, part) positive draws 2 negatives
    // by md5-indexing into the part catalog — a pure function of the
    // positive's key (same negatives on any cluster/partitioning, the
    // q44/q59 portable-sampler recipe) — and accidental positives are
    // anti-joined away. The catalog index is a row_number over the part
    // DIM (dim-sized window, broadcast back); the only big shuffles are
    // the positive join and the anti join, both key-equi.
    "q237_negative_sampling" -> ((s, dir) => {
      // three consumers (draws, the accidental-positive anti-join, the
      // final union) — materialize the fact-scale positive set once
      // (r14, guide §5; before plan: 18 scans). Staged to parquet rather
      // than localCheckpoint (r15, r14 VERDICT #3): the frame is
      // order-line-derived, so the materialization must be replayable
      // and off-heap at 100 TB, not pinned in executor memory.
      val pos = QueryShared.stageFrame(
        Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_custkey"))
          .join(Tables.lineitem(s, dir)
              .select(col("l_orderkey"), col("l_partkey")),
            col("o_orderkey") === col("l_orderkey"))
          .select(col("o_custkey").as("user_id"),
            col("l_partkey").as("item")).distinct(),
        "q237_pos")
      val nParts = lit(2000L)
      // catalog index via the two-phase bucketed rank (p_partkey unique,
      // so rank() == row_number) — dim-sized today, but the device holds
      // at a 100 TB catalog where a partition-less window would not
      val idx = ops.Stats.distributedRank(
          Tables.part(s, dir).select(col("p_partkey")),
          "p_partkey", out = "rn", bucketWidth = 1L << 10)
        .select(col("p_partkey"), (col("rn") - 1).as("pidx"))
      val draws = pos.select(col("user_id"), col("item"),
          explode(array(lit(1), lit(2))).as("j"))
        .withColumn("pidx",
          pmod(conv(substring(md5(concat_ws("_",
            col("user_id"), col("item"), col("j"))), 1, 8), 16, 10)
            .cast("long"), nParts))
      val negs = draws
        .join(broadcast(idx), Seq("pidx"))
        .select(col("user_id"), col("p_partkey").as("item"))
        .join(pos, Seq("user_id", "item"), "left_anti")
        .distinct()
      pos.withColumn("label", lit(1))
        .unionByName(negs.withColumn("label", lit(0)))
    }),


    // FEATURE HASHING (the hashing trick): tokens map to 256 buckets by
    // portable md5, each occurrence signed ±1 by an independent hash
    // bit, folded per (doc, bucket) — the fixed-width sparse featurizer
    // that needs NO vocabulary fit, no broadcast dictionary, no OOV
    // path; long-format output, one grouped pass.
    "q238_feature_hashing" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(graft.text.TextOps.tokens(col("text"))).as("token"))
        .select(col("doc_id"),
          pmod(conv(substring(md5(col("token")), 1, 8), 16, 10)
            .cast("long"), lit(256L)).as("bucket"),
          (pmod(conv(substring(md5(col("token")), 9, 1), 16, 10)
            .cast("long"), lit(2L)) * 2 - 1).as("sign"))
        .groupBy(col("doc_id"), col("bucket"))
        .agg(sum(col("sign")).as("w"))),


    // Covered time per user (union of overlapping activity intervals —
    // the sweep the naive sum-of-durations gets wrong when intervals
    // overlap): each event opens a 10-minute interval; islands form
    // where a start exceeds the running max end (gaps-and-islands, one
    // user-partitioned window pass); covered seconds = Σ island spans,
    // all integer epoch math.
    "q234_covered_time" -> ((s, dir) => {
      val iv = Tables.events(s, dir)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts").cast("timestamp")).as("st"))
        .withColumn("en", col("st") + lit(600L * 1000000L))
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("st"), col("event_id"))
      val prevMax = max(col("en")).over(
        byUser.rowsBetween(Window.unboundedPreceding, -1))
      val marked = iv
        .withColumn("island_start",
          when(prevMax.isNull || col("st") > prevMax, 1L).otherwise(0L))
        .withColumn("island",
          sum(col("island_start")).over(byUser.rowsBetween(
            Window.unboundedPreceding, Window.currentRow)))
      marked.groupBy(col("user_id"), col("island"))
        .agg(min(col("st")).as("i_st"), max(col("en")).as("i_en"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_islands"),
          sum(col("i_en") - col("i_st")).as("covered_us"))
        // integer div, not float /: the micro sum need not divide evenly
        // and double-cast truncation rules differ across engines
        .withColumn("covered_s", expr("covered_us div 1000000"))
        .drop("covered_us")
    }),


    // Out-of-order depth profile — the watermark-sizing diagnostic: how
    // far behind its user-stream's running max (in ARRIVAL order, the
    // event_id sequence) each event's timestamp lands, summarized per
    // event type (max and exact p95/p99 lateness in whole seconds). The
    // running max is one user-partitioned window pass.
    "q235_ooo_depth" -> ((s, dir) => {
      val byArrival = Window.partitionBy(col("user_id"))
        .orderBy(col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts").cast("timestamp")).as("us"))
        .withColumn("late_s",
          expr("(max(us) OVER (PARTITION BY user_id ORDER BY event_id " +
            "ROWS UNBOUNDED PRECEDING) - us) div 1000000"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          max(col("late_s")).as("max_late_s"),
          percentile(col("late_s"), lit(0.95)).as("p95_late_s"),
          percentile(col("late_s"), lit(0.99)).as("p99_late_s"))
    }),


    // Chi-square test of independence over the status × priority
    // contingency table: observed counts exact, expected =
    // row_total · col_total / grand (the only doubles), per-cell
    // contribution reported — the categorical-association read a
    // DQ/experiment pass runs before trusting a segmentation.
    "q236_chi2_independence" -> ((s, dir) => {
      val obs = Tables.orders(s, dir)
        .groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
      val rowT = obs.groupBy(col("o_orderstatus"))
        .agg(sum(col("n")).as("row_n"))
      val colT = obs.groupBy(col("o_orderpriority"))
        .agg(sum(col("n")).as("col_n"))
      val grand = obs.agg(sum(col("n")).as("grand_n"))
      obs.join(broadcast(rowT), Seq("o_orderstatus"))
        .join(broadcast(colT), Seq("o_orderpriority"))
        .crossJoin(broadcast(grand))
        .withColumn("expected",
          col("row_n").cast("double") * col("col_n").cast("double") /
            col("grand_n").cast("double"))
        .withColumn("chi2_term",
          (col("n").cast("double") - col("expected")) *
            (col("n").cast("double") - col("expected")) / col("expected"))
        .select(col("o_orderstatus"), col("o_orderpriority"), col("n"),
          col("expected"), col("chi2_term"))
    }),


    // CRAMÉR'S V (round 13) — the effect-size read over q236's
    // independence test: chi² says WHETHER status and priority
    // associate, V² = chi²/(N·(min(r,c)−1)) says HOW MUCH on a 0–1
    // scale comparable across tables. Division-free until the end:
    // per-cell deviation n·N − r·c is exact in long, its square lifts
    // to DECIMAL(38,0), each cell's chi² term quantizes to micro by
    // truncating div (deterministic both engines — no float sum
    // order), and V² is one more integer division. One fact pass +
    // three broadcast marginals.
    "q478_cramers_v" -> ((s, dir) => {
      val obs = Tables.orders(s, dir)
        .groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
      val rowT = obs.groupBy(col("o_orderstatus"))
        .agg(sum(col("n")).as("row_n"))
      val colT = obs.groupBy(col("o_orderpriority"))
        .agg(sum(col("n")).as("col_n"))
      val grand = obs.agg(sum(col("n")).as("grand_n"),
        countDistinct(col("o_orderstatus")).as("r"),
        countDistinct(col("o_orderpriority")).as("c"))
      obs.join(broadcast(rowT), Seq("o_orderstatus"))
        .join(broadcast(colT), Seq("o_orderpriority"))
        .crossJoin(broadcast(grand))
        .withColumn("dev", col("n") * col("grand_n")
          - col("row_n") * col("col_n"))
        .withColumn("term_micro", expr(
          "cast(dev as decimal(38,0)) * dev * 1000000" +
            " div (row_n * col_n * grand_n)"))
        .groupBy(col("grand_n"), col("r"), col("c"))
        .agg(sum(col("term_micro")).as("chi2_micro"))
        .withColumn("v2_ppm", expr(
          "chi2_micro div (grand_n * (least(r, c) - 1))"))
        .select(col("grand_n"), col("r"), col("c"), col("chi2_micro"),
          col("v2_ppm"))
    }),


    // Decile lift table of a ranking score (the model-eval gains chart,
    // engine-exact): decile bins via broadcast percentile thresholds
    // (the q150/q220 idiom — no global ntile sort), positive rate and
    // lift from exact integer counts with one double ratio at the end.
    // Score = order total, positives = 'F' status — a mechanical
    // stand-in with the same plan shape as a model-score lift.
    "q229_decile_lift" -> ((s, dir) => {
      val scored = Tables.orders(s, dir)
        .select(col("o_totalprice").as("score"),
          when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("pos"))
      // thresholds AND grand totals in ONE scalar aggregate — one scan,
      // one broadcast; the nine thresholds come from a SINGLE
      // array-percentile (one sort buffer, not nine copies of every
      // value — the 7x-at-10x-data slope the per-threshold form showed)
      val g = scored.agg(
        percentile(col("score"),
          typedLit((1 to 9).map(_ / 10.0))).as("qs"),
        count(lit(1)).as("n_all"), sum(col("pos")).as("pos_all"))
      val binned = scored.crossJoin(broadcast(g))
        .withColumn("decile",
          (1 to 9).map(i =>
            when(col("score") > element_at(col("qs"), i), 1).otherwise(0))
            .reduce(_ + _).cast("int") + 1)
      binned.groupBy(col("decile"), col("n_all"), col("pos_all"))
        .agg(count(lit(1)).as("n"), sum(col("pos")).as("n_pos"))
        .withColumn("pos_rate",
          col("n_pos").cast("double") / col("n").cast("double"))
        .withColumn("lift",
          (col("n_pos").cast("double") * col("n_all").cast("double")) /
            (col("n").cast("double") * col("pos_all").cast("double")))
        .select(col("decile"), col("n"), col("n_pos"), col("pos_rate"),
          col("lift"))
    }),


    // Two-sample Kolmogorov–Smirnov distance between the variants'
    // value distributions, EXACT: at every value v the ecdf gap is
    // |cum0·n1 − cum1·n0| in integers (RANGE frame so ties collapse
    // deterministically); KS is the max, divided once at the end.
    // Grouped by event type so the window partitions.
    "q230_ks_test" -> ((s, dir) => {
      val d = Tables.events(s, dir)
        .select(col("event_type"),
          (col("value").cast("decimal(30,2)") * 100).cast("long").as("v"),
          when(col("user_id") % 2 === 0, 1L).otherwise(0L).as("is0"),
          when(col("user_id") % 2 === 1, 1L).otherwise(0L).as("is1"))
      val wRange = Window.partitionBy(col("event_type")).orderBy(col("v"))
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy(col("event_type"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      d.withColumn("cum0", sum(col("is0")).over(wRange))
        .withColumn("cum1", sum(col("is1")).over(wRange))
        .withColumn("n0", sum(col("is0")).over(wAll))
        .withColumn("n1", sum(col("is1")).over(wAll))
        .withColumn("gap",
          abs(col("cum0") * col("n1") - col("cum1") * col("n0")))
        .groupBy(col("event_type"))
        .agg(min(col("n0")).as("n0"), min(col("n1")).as("n1"),
          max(col("gap")).as("ks_scaled"))
        .withColumn("ks",
          col("ks_scaled").cast("double") /
            (col("n0").cast("double") * col("n1").cast("double")))
    }),


    // Exact weighted median of price weighted by quantity, per return
    // flag — the all-integer boundary rule (see Profile.weightedMedian)
    // the float-interpolated percentile cannot give for weighted data.
    "q227_weighted_median" -> ((s, dir) =>
      graft.ops.Profile.weightedMedian(
        Tables.lineitem(s, dir).select(col("l_returnflag"),
          (col("l_extendedprice").cast("decimal(30,2)") * 100).cast("long")
            .as("price_cents"),
          col("l_quantity").cast("long").as("qty")),
        "l_returnflag", "price_cents", "qty")),


    // Session bounce rate by entry event type (30-min inactivity
    // sessions, the q22/q164 gap rule): single-event sessions / all
    // sessions as exact integer ppm.
    "q228_bounce_rate" -> ((s, dir) =>
      graft.ops.Temporal.bounceRate(Tables.events(s, dir),
        "user_id", "ts", "event_type", tieCols = Seq("event_id"))),


    // Max drawdown per user (the finance-style worst peak-to-trough of
    // the cumulative value series): running prefix in exact cents,
    // running max of the prefix, drawdown = runmax − prefix, argmax with
    // earliest-(ts, tie) tiebreak. Two window passes over each user's
    // partition — no self-join, no global sort.
    "q221_max_drawdown" -> ((s, dir) => {
      val wRun = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          (col("value").cast("decimal(30,2)") * 100).cast("long").as("c"))
        .withColumn("prefix", sum(col("c")).over(wRun))
        .withColumn("runmax", max(col("prefix")).over(wRun))
        .withColumn("dd", col("runmax") - col("prefix"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("user_id"))
            .orderBy(col("dd").desc, col("ts"), col("event_id"))))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("ts").as("dd_ts"),
          col("dd").as("max_drawdown_cents"))
    }),
  )

  val sql: Map[String, String] = Map(

    "q207_cuped" ->
      s"""WITH pu AS (
         |  SELECT user_id,
         |    CAST(sum(CASE WHEN ts < TIMESTAMP '$cut'
         |      THEN CAST(CAST(value AS DECIMAL(30,2)) * 100 AS BIGINT)
         |      ELSE 0 END) AS BIGINT) AS x,
         |    CAST(sum(CASE WHEN ts < TIMESTAMP '$cut' THEN 0
         |      ELSE CAST(CAST(value AS DECIMAL(30,2)) * 100 AS BIGINT)
         |      END) AS BIGINT) AS y
         |  FROM events GROUP BY 1
         |), g AS (
         |  SELECT CAST(count(*) AS DOUBLE) AS gn,
         |         CAST(CAST(sum(x) AS BIGINT) AS DOUBLE) AS gsx,
         |         CAST(CAST(sum(y) AS BIGINT) AS DOUBLE) AS gsy,
         |         CAST(sum(x * y) AS DOUBLE) AS gsxy,
         |         CAST(sum(x * x) AS DOUBLE) AS gsxx
         |  FROM pu
         |), v AS (
         |  SELECT CAST(user_id % 2 AS INT) AS variant,
         |         CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(x) AS BIGINT) AS sum_x_cents,
         |         CAST(sum(y) AS BIGINT) AS sum_y_cents
         |  FROM pu GROUP BY 1
         |)
         |SELECT variant, n, sum_x_cents, sum_y_cents,
         |  CASE WHEN gn * gsxx - gsx * gsx = 0 THEN 0.0
         |       ELSE (gn * gsxy - gsx * gsy) / (gn * gsxx - gsx * gsx)
         |  END AS theta,
         |  CAST(sum_y_cents AS DOUBLE) / (CAST(n AS DOUBLE) * 100.0) AS mean_y,
         |  (CAST(sum_y_cents AS DOUBLE) / CAST(n AS DOUBLE)
         |    - (CASE WHEN gn * gsxx - gsx * gsx = 0 THEN 0.0
         |            ELSE (gn * gsxy - gsx * gsy) / (gn * gsxx - gsx * gsx)
         |       END)
         |      * (CAST(sum_x_cents AS DOUBLE) / CAST(n AS DOUBLE) - gsx / gn))
         |    / 100.0 AS mean_adj
         |FROM v, g""".stripMargin,

    "q208_srm_check" -> srmCheckSql,

    "q209_linear_attribution" ->
      """WITH p AS (
        |  SELECT event_id AS p_id, user_id, ts AS p_ts
        |  FROM events WHERE event_type = 'purchase'
        |), v AS (
        |  SELECT user_id, ts AS v_ts FROM events WHERE event_type = 'view'
        |), j AS (
        |  SELECT p.p_id, v.v_ts,
        |         count(*) OVER (PARTITION BY p.p_id) AS n_views
        |  FROM p JOIN v ON p.user_id = v.user_id
        |  WHERE v.v_ts <= p.p_ts AND v.v_ts >= p.p_ts - INTERVAL 24 HOUR
        |)
        |SELECT CAST(date_part('hour', v_ts) AS BIGINT) AS view_hour,
        |       CAST(count(*) AS BIGINT) AS n_credited,
        |       CAST(sum(CAST(1000000 // n_views AS BIGINT)) AS BIGINT)
        |         AS credit_micros
        |FROM j GROUP BY 1""".stripMargin,

    "q210_group_regression" ->
      """WITH d AS (
        |  SELECT p.p_brand, CAST(l.l_quantity AS BIGINT) AS x,
        |         CAST(CAST(l.l_extendedprice AS DECIMAL(30,2)) * 100 AS BIGINT)
        |           AS y
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |), a AS (
        |  SELECT p_brand, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |         sum(x * y) AS sxy,
        |         sum(x * x) AS sxx
        |  FROM d GROUP BY 1
        |)
        |SELECT p_brand, n,
        |  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |  (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope_cents,
        |  (CAST(sy AS DOUBLE) -
        |    ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |     (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
        |    * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS intercept_cents
        |FROM a""".stripMargin,

    "q211_centroid_classify" ->
      """WITH q AS (
        |  SELECT vec_id, CAST(label AS BIGINT) AS label,
        |         CAST(i - 1 AS INT) AS pos,
        |         CAST(round((CAST(embedding[i] AS DOUBLE) + 1024.0) * 1e6)
        |              AS BIGINT) AS v
        |  FROM embeddings,
        |       unnest(generate_series(1, len(embedding))) AS t(i)
        |), cent AS (
        |  SELECT label AS c_label, pos,
        |         CAST(sum(v) // count(*) AS BIGINT) AS c
        |  FROM q GROUP BY 1, 2
        |), d AS (
        |  SELECT q.vec_id, q.label, cent.c_label,
        |         CAST(sum((q.v - cent.c) * (q.v - cent.c)) AS BIGINT) AS dist2
        |  FROM q JOIN cent ON q.pos = cent.pos
        |  GROUP BY 1, 2, 3
        |), r AS (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id
        |                               ORDER BY dist2, c_label) AS rn
        |  FROM d
        |)
        |SELECT vec_id, label, c_label AS pred_label, dist2
        |FROM r WHERE rn = 1""".stripMargin,

    "q214_cusum_changepoint" ->
      """WITH e AS (
        |  SELECT user_id, ts, event_id,
        |         CAST(CAST(value AS DECIMAL(30,2)) * 100 AS BIGINT) AS c
        |  FROM events
        |), w AS (
        |  SELECT user_id, ts, event_id,
        |    CAST(sum(c) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS prefix,
        |    CAST(row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS BIGINT) AS t,
        |    CAST(sum(c) OVER (PARTITION BY user_id) AS BIGINT) AS total,
        |    CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n
        |  FROM e
        |), d AS (
        |  SELECT *, abs(n * prefix - t * total) AS dev FROM w
        |), r AS (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY dev DESC, ts, event_id) AS rn
        |  FROM d
        |)
        |SELECT user_id, n, ts AS change_ts, t AS change_pos,
        |       CAST(dev AS BIGINT) AS max_dev_scaled
        |FROM r WHERE rn = 1""".stripMargin,


    "q215_time_to_convert" ->
      """WITH fv AS (
        |  SELECT user_id, min(ts) AS v_ts
        |  FROM events WHERE event_type = 'view' GROUP BY 1
        |), conv AS (
        |  SELECT fv.user_id, fv.v_ts, min(e.ts) AS p_ts
        |  FROM fv JOIN events e ON e.user_id = fv.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts >= fv.v_ts
        |  GROUP BY 1, 2
        |), d AS (
        |  SELECT user_id,
        |         (epoch_us(p_ts) - epoch_us(v_ts)) // 1000000 AS delta_s
        |  FROM conv
        |)
        |SELECT CAST(user_id % 2 AS INT) AS variant,
        |       CAST(count(*) AS BIGINT) AS n_converted,
        |       CAST(min(delta_s) AS BIGINT) AS min_s,
        |       quantile_cont(delta_s, 0.5) AS median_s,
        |       quantile_cont(delta_s, 0.9) AS p90_s,
        |       CAST(max(delta_s) AS BIGINT) AS max_s
        |FROM d GROUP BY 1""".stripMargin,


    "q216_lag_autocorr" ->
      """WITH e AS (
        |  SELECT user_id, ts, event_id,
        |         CAST(CAST(value AS DECIMAL(30,2)) * 100 AS BIGINT) AS c,
        |         lag(CAST(CAST(value AS DECIMAL(30,2)) * 100 AS BIGINT), 1)
        |           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events
        |), a AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_pairs,
        |         CAST(sum(prev) AS BIGINT) AS sx,
        |         CAST(sum(c) AS BIGINT) AS sy,
        |         sum(prev * c) AS sxy,
        |         sum(prev * prev) AS sxx,
        |         sum(c * c) AS syy
        |  FROM e WHERE prev IS NOT NULL GROUP BY 1
        |)
        |SELECT user_id, n_pairs,
        |  (CAST(n_pairs AS DOUBLE) * CAST(sxy AS DOUBLE)
        |    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |  sqrt((CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
        |    (CAST(n_pairs AS DOUBLE) * CAST(syy AS DOUBLE)
        |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS r
        |FROM a
        |WHERE n_pairs * sxx - sx * sx > 0
        |  AND n_pairs * syy - sy * sy > 0""".stripMargin,


    "q218_seasonal_profile" ->
      """WITH d AS (
        |  SELECT CAST(dayofweek(ts) AS BIGINT) AS dow,
        |         CAST(date_part('hour', ts) AS BIGINT) AS hod,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2
        |), t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM d)
        |SELECT dow, hod, n,
        |       CAST(n * 1000000 // total AS BIGINT) AS share_ppm
        |FROM d, t""".stripMargin,


    "q219_ship_latency" ->
      """WITH d AS (
        |  SELECT o.o_orderpriority,
        |         CAST(datediff('day', CAST(o.o_orderdate AS DATE),
        |                       CAST(l.l_shipdate AS DATE)) AS BIGINT)
        |           AS latency_days
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |)
        |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |       CAST(min(latency_days) AS BIGINT) AS min_d,
        |       quantile_cont(latency_days, 0.5) AS median_d,
        |       quantile_cont(latency_days, 0.9) AS p90_d,
        |       CAST(max(latency_days) AS BIGINT) AS max_d
        |FROM d GROUP BY 1""".stripMargin,


    "q220_rfm_segments" ->
      """WITH now_d AS (SELECT CAST(max(ts) AS DATE) AS nd FROM events),
        |rfm AS (
        |  SELECT user_id,
        |    CAST(min(datediff('day', CAST(ts AS DATE), nd)) AS BIGINT)
        |      AS recency_days,
        |    CAST(count(*) AS BIGINT) AS frequency,
        |    CAST(sum(CASE WHEN event_type = 'purchase'
        |      THEN CAST(CAST(value AS DECIMAL(30,2)) * 100 AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS monetary_cents
        |  FROM events, now_d GROUP BY 1
        |), q AS (
        |  SELECT
        |    quantile_cont(recency_days, 0.2) AS r1,
        |    quantile_cont(recency_days, 0.4) AS r2,
        |    quantile_cont(recency_days, 0.6) AS r3,
        |    quantile_cont(recency_days, 0.8) AS r4,
        |    quantile_cont(frequency, 0.2) AS f1,
        |    quantile_cont(frequency, 0.4) AS f2,
        |    quantile_cont(frequency, 0.6) AS f3,
        |    quantile_cont(frequency, 0.8) AS f4,
        |    quantile_cont(monetary_cents, 0.2) AS m1,
        |    quantile_cont(monetary_cents, 0.4) AS m2,
        |    quantile_cont(monetary_cents, 0.6) AS m3,
        |    quantile_cont(monetary_cents, 0.8) AS m4
        |  FROM rfm
        |)
        |SELECT user_id, recency_days, frequency, monetary_cents,
        |  CAST(1 + (CASE WHEN recency_days > r1 THEN 1 ELSE 0 END)
        |         + (CASE WHEN recency_days > r2 THEN 1 ELSE 0 END)
        |         + (CASE WHEN recency_days > r3 THEN 1 ELSE 0 END)
        |         + (CASE WHEN recency_days > r4 THEN 1 ELSE 0 END) AS INT)
        |    AS r_bin,
        |  CAST(1 + (CASE WHEN frequency > f1 THEN 1 ELSE 0 END)
        |         + (CASE WHEN frequency > f2 THEN 1 ELSE 0 END)
        |         + (CASE WHEN frequency > f3 THEN 1 ELSE 0 END)
        |         + (CASE WHEN frequency > f4 THEN 1 ELSE 0 END) AS INT)
        |    AS f_bin,
        |  CAST(1 + (CASE WHEN monetary_cents > m1 THEN 1 ELSE 0 END)
        |         + (CASE WHEN monetary_cents > m2 THEN 1 ELSE 0 END)
        |         + (CASE WHEN monetary_cents > m3 THEN 1 ELSE 0 END)
        |         + (CASE WHEN monetary_cents > m4 THEN 1 ELSE 0 END) AS INT)
        |    AS m_bin
        |FROM rfm, q""".stripMargin,


    "q251_frequency_cap" ->
      """WITH ud AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d,
        |         CAST(count(*) AS BIGINT) AS n_events
        |  FROM events GROUP BY 1, 2
        |)
        |SELECT d, CAST(count(*) AS BIGINT) AS n_user_days,
        |       CAST(sum(CASE WHEN n_events > 50 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_over_cap,
        |       CAST(max(n_events) AS BIGINT) AS max_events
        |FROM ud GROUP BY 1""".stripMargin,


    "q252_basket_size_profile" ->
      """WITH bs AS (
        |  SELECT l_orderkey, CAST(count(*) AS BIGINT) AS basket_size
        |  FROM lineitem GROUP BY 1
        |), j AS (
        |  SELECT bs.basket_size,
        |         CAST(CAST(o.o_totalprice AS DECIMAL(30,2)) * 100 AS BIGINT)
        |           AS price_cents
        |  FROM orders o JOIN bs ON o.o_orderkey = bs.l_orderkey
        |)
        |SELECT basket_size, CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(price_cents) AS BIGINT) AS sum_cents,
        |       CAST(sum(price_cents) AS DOUBLE) /
        |         (CAST(count(*) AS DOUBLE) * 100.0) AS mean_value
        |FROM j GROUP BY 1""".stripMargin,


    "q249_abc_classification" ->
      """WITH rev AS (
        |  SELECT p.p_brand,
        |         CAST(sum(CAST(CAST(l.l_extendedprice AS DECIMAL(30,2)) * 100
        |                       AS BIGINT)) AS BIGINT) AS rev_cents
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |  GROUP BY 1
        |), g AS (SELECT CAST(sum(rev_cents) AS BIGINT) AS grand FROM rev),
        |c AS (
        |  SELECT p_brand, rev_cents,
        |    CAST(CAST(sum(rev_cents) OVER (ORDER BY rev_cents DESC, p_brand
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) * 1000000 // grand
        |      AS BIGINT) AS cum_ppm
        |  FROM rev, g
        |), a AS (
        |  SELECT CASE WHEN cum_ppm <= 800000 THEN 'A'
        |              WHEN cum_ppm <= 950000 THEN 'B' ELSE 'C' END AS abc,
        |         rev_cents
        |  FROM c
        |)
        |SELECT abc, CAST(count(*) AS BIGINT) AS n_brands,
        |       CAST(sum(rev_cents) AS BIGINT) AS rev_cents
        |FROM a GROUP BY 1""".stripMargin,


    "q250_staleness" ->
      """WITH la AS (
        |  SELECT user_id, CAST(max(ts) AS DATE) AS last_d
        |  FROM events GROUP BY 1
        |), r AS (SELECT CAST(max(ts) AS DATE) AS ref_d FROM events)
        |SELECT CAST(datediff('day', last_d, ref_d) AS BIGINT) AS stale_days,
        |       CAST(count(*) AS BIGINT) AS n_users
        |FROM la, r GROUP BY 1""".stripMargin,


    "q248_growth_accounting" ->
      s"""WITH pu AS (
         |  SELECT user_id,
         |    CAST(sum(CASE WHEN ts < TIMESTAMP '$cut'
         |      THEN CAST(CAST(value AS DECIMAL(30,2)) * 100 AS BIGINT)
         |      ELSE 0 END) AS BIGINT) AS rev_a,
         |    CAST(sum(CASE WHEN ts < TIMESTAMP '$cut' THEN 0
         |      ELSE CAST(CAST(value AS DECIMAL(30,2)) * 100 AS BIGINT)
         |      END) AS BIGINT) AS rev_b
         |  FROM events WHERE event_type = 'purchase' GROUP BY 1
         |), seg AS (
         |  SELECT *,
         |    CASE WHEN rev_a = 0 AND rev_b > 0 THEN 'new'
         |         WHEN rev_a > 0 AND rev_b = 0 THEN 'churned'
         |         WHEN rev_b > rev_a THEN 'expansion'
         |         WHEN rev_b < rev_a THEN 'contraction'
         |         ELSE 'flat' END AS segment
         |  FROM pu
         |)
         |SELECT segment, CAST(count(*) AS BIGINT) AS n_users,
         |       CAST(sum(rev_a) AS BIGINT) AS rev_a_cents,
         |       CAST(sum(rev_b) AS BIGINT) AS rev_b_cents,
         |       CAST(sum(rev_b - rev_a) AS BIGINT) AS delta_cents
         |FROM seg GROUP BY 1""".stripMargin,


    "q246_new_vs_returning" ->
      """WITH f AS (
        |  SELECT user_id, CAST(min(ts) AS DATE) AS first_d
        |  FROM events GROUP BY 1
        |), a AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
        |)
        |SELECT d, CAST(count(*) AS BIGINT) AS n_active,
        |       CAST(sum(CASE WHEN d = first_d THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_new,
        |       CAST(count(*) - sum(CASE WHEN d = first_d THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_returning
        |FROM a JOIN f USING (user_id)
        |GROUP BY 1""".stripMargin,


    "q247_monthly_percentiles" ->
      """SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
        |       CAST(count(*) AS BIGINT) AS n,
        |       quantile_cont(o_totalprice, 0.5) AS p50,
        |       quantile_cont(o_totalprice, 0.9) AS p90
        |FROM orders GROUP BY 1""".stripMargin,


    "q243_pareto_revenue" -> paretoRevenueSql,


    // the union-window replay, walked in DESC ts order — right rows
    // (side 0) sort before left at equal ts so coincident purchases
    // are visible, exactly the engine's contract
    "q242_asof_forward" ->
      """WITH p AS (
        |  SELECT user_id, ts, max(value) AS v
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
        |), c AS (
        |  SELECT user_id, ts, CAST(count(*) AS BIGINT) AS n_clicks
        |  FROM events WHERE event_type = 'click' GROUP BY 1, 2
        |), u AS (
        |  SELECT user_id, ts, 0 AS side, v, NULL::BIGINT AS n_clicks FROM p
        |  UNION ALL
        |  SELECT user_id, ts, 1, NULL, n_clicks FROM c
        |), w AS (
        |  SELECT *, last_value(v IGNORE NULLS) OVER (
        |    PARTITION BY user_id ORDER BY ts DESC, side ASC
        |    ROWS UNBOUNDED PRECEDING) AS nxt
        |  FROM u
        |)
        |SELECT user_id, ts, n_clicks, nxt AS next_purchase_value
        |FROM w WHERE side = 1""".stripMargin,


    "q240_association_rules" ->
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
        |  FROM lineitem
        |), sized AS (
        |  SELECT basket, item FROM (
        |    SELECT *, count(*) OVER (PARTITION BY basket) AS bs FROM items)
        |  WHERE bs <= 8
        |), supp AS (
        |  SELECT item, CAST(count(*) AS BIGINT) AS item_support
        |  FROM sized GROUP BY 1
        |), nb AS (
        |  SELECT CAST(count(DISTINCT basket) AS BIGINT) AS n_baskets
        |  FROM sized
        |), pairs AS (
        |  SELECT a.item AS item_a, b.item AS item_b,
        |         CAST(count(*) AS BIGINT) AS support
        |  FROM sized a JOIN sized b ON a.basket = b.basket
        |  WHERE a.item < b.item
        |  GROUP BY 1, 2 HAVING count(*) >= 2
        |), rules AS (
        |  SELECT item_a AS antecedent, item_b AS consequent, support
        |  FROM pairs
        |  UNION ALL
        |  SELECT item_b, item_a, support FROM pairs
        |)
        |SELECT r.antecedent, r.consequent, r.support,
        |  sa.item_support AS ant_support, sc.item_support AS cons_support,
        |  CAST(r.support AS DOUBLE) / CAST(sa.item_support AS DOUBLE)
        |    AS confidence,
        |  CAST(r.support AS DOUBLE) / CAST(sa.item_support AS DOUBLE)
        |    * CAST(n_baskets AS DOUBLE) / CAST(sc.item_support AS DOUBLE)
        |    AS lift
        |FROM rules r
        |JOIN supp sa ON sa.item = r.antecedent
        |JOIN supp sc ON sc.item = r.consequent, nb""".stripMargin,


    "q241_time_in_state" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS us,
        |         lead(epoch_us(ts), 1) OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id) AS nxt
        |  FROM events
        |), seg AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_segments,
        |         CAST(sum((nxt - us) // 1000000) AS BIGINT) AS total_s
        |  FROM e WHERE nxt IS NOT NULL GROUP BY 1
        |), g AS (SELECT CAST(sum(total_s) AS BIGINT) AS grand_s FROM seg)
        |SELECT event_type, n_segments, total_s,
        |       CAST(total_s * 1000000 // grand_s AS BIGINT) AS share_ppm
        |FROM seg, g""".stripMargin,


    // q211's centroid/assignment CTEs + the within-cell different-label
    // pair argmin, capped at 200 members per cell
    "q239_hard_negatives" ->
      """WITH q AS (
        |  SELECT vec_id, CAST(label AS BIGINT) AS label,
        |         CAST(i - 1 AS INT) AS pos,
        |         CAST(round((CAST(embedding[i] AS DOUBLE) + 1024.0) * 1e6)
        |              AS BIGINT) AS v
        |  FROM embeddings,
        |       unnest(generate_series(1, len(embedding))) AS t(i)
        |), cent AS (
        |  SELECT label AS c_label, pos,
        |         CAST(sum(v) // count(*) AS BIGINT) AS c
        |  FROM q GROUP BY 1, 2
        |), d AS (
        |  SELECT q.vec_id, q.label, cent.c_label,
        |         CAST(sum((q.v - cent.c) * (q.v - cent.c)) AS BIGINT) AS dist2
        |  FROM q JOIN cent ON q.pos = cent.pos
        |  GROUP BY 1, 2, 3
        |), assign AS (
        |  SELECT vec_id, label, c_label AS cell FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id
        |                                 ORDER BY dist2, c_label) AS rn
        |    FROM d) WHERE rn = 1
        |), capped AS (
        |  SELECT * FROM (
        |    SELECT *, count(*) OVER (PARTITION BY cell) AS cn FROM assign)
        |  WHERE cn <= 200
        |), pairs AS (
        |  SELECT a.vec_id, a.label, b.vec_id AS o_id, b.label AS o_label,
        |         CAST(sum((qa.v - qb.v) * (qa.v - qb.v)) AS BIGINT)
        |           AS pair_dist2
        |  FROM capped a
        |  JOIN capped b ON a.cell = b.cell AND a.label <> b.label
        |  JOIN q qa ON qa.vec_id = a.vec_id
        |  JOIN q qb ON qb.vec_id = b.vec_id AND qb.pos = qa.pos
        |  GROUP BY 1, 2, 3, 4
        |)
        |SELECT vec_id, label, o_id AS hard_neg_id,
        |       o_label AS hard_neg_label, pair_dist2
        |FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
        |                                   ORDER BY pair_dist2, o_id) AS rn
        |      FROM pairs)
        |WHERE rn = 1""".stripMargin,


    "q237_negative_sampling" ->
      """WITH pos AS (
        |  SELECT DISTINCT o.o_custkey AS user_id, l.l_partkey AS item
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |), idx AS (
        |  SELECT p_partkey,
        |         CAST(row_number() OVER (ORDER BY p_partkey) - 1 AS BIGINT)
        |           AS pidx
        |  FROM part
        |), draws AS (
        |  SELECT user_id, item,
        |    CAST('0x' || substr(md5(CAST(user_id AS VARCHAR) || '_' ||
        |      CAST(item AS VARCHAR) || '_' || CAST(j AS VARCHAR)), 1, 8)
        |      AS BIGINT) % 2000 AS pidx
        |  FROM pos, unnest([1, 2]) AS t(j)
        |), negs AS (
        |  SELECT DISTINCT d.user_id, idx.p_partkey AS item
        |  FROM draws d JOIN idx USING (pidx)
        |  WHERE NOT EXISTS (SELECT 1 FROM pos p
        |                    WHERE p.user_id = d.user_id
        |                      AND p.item = idx.p_partkey)
        |)
        |SELECT user_id, item, 1 AS label FROM pos
        |UNION ALL
        |SELECT user_id, item, 0 AS label FROM negs""".stripMargin,


    "q238_feature_hashing" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |         unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
        |  FROM documents
        |), h AS (
        |  SELECT doc_id,
        |    CAST('0x' || substr(md5(token), 1, 8) AS BIGINT) % 256 AS bucket,
        |    (CAST('0x' || substr(md5(token), 9, 1) AS BIGINT) % 2) * 2 - 1
        |      AS sign
        |  FROM tok
        |)
        |SELECT doc_id, bucket, CAST(sum(sign) AS BIGINT) AS w
        |FROM h GROUP BY 1, 2""".stripMargin,


    "q234_covered_time" ->
      """WITH iv AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS st,
        |         epoch_us(ts) + 600 * 1000000 AS en
        |  FROM events
        |), m AS (
        |  SELECT user_id, event_id, st, en,
        |    max(en) OVER (PARTITION BY user_id ORDER BY st, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
        |  FROM iv
        |), mk AS (
        |  SELECT *, CASE WHEN prev_max IS NULL OR st > prev_max
        |                 THEN 1 ELSE 0 END AS island_start
        |  FROM m
        |), isl AS (
        |  SELECT user_id, event_id, st, en,
        |    CAST(sum(island_start) OVER (PARTITION BY user_id
        |      ORDER BY st, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |      AS island
        |  FROM mk
        |), spans AS (
        |  SELECT user_id, island, min(st) AS i_st, max(en) AS i_en
        |  FROM isl GROUP BY 1, 2
        |)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_islands,
        |       CAST(sum(i_en - i_st) // 1000000 AS BIGINT) AS covered_s
        |FROM spans GROUP BY 1""".stripMargin,


    "q235_ooo_depth" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us
        |  FROM events
        |), l AS (
        |  SELECT event_type,
        |    (max(us) OVER (PARTITION BY user_id ORDER BY event_id
        |       ROWS UNBOUNDED PRECEDING) - us) // 1000000 AS late_s
        |  FROM e
        |)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |       CAST(max(late_s) AS BIGINT) AS max_late_s,
        |       quantile_cont(late_s, 0.95) AS p95_late_s,
        |       quantile_cont(late_s, 0.99) AS p99_late_s
        |FROM l GROUP BY 1""".stripMargin,


    // identical integer deviation/marginal algebra; HUGEINT carries the
    // squared deviation, // the same truncating micro quantization
    "q478_cramers_v" ->
      """WITH obs AS (
        |  SELECT o_orderstatus, o_orderpriority,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM orders GROUP BY 1, 2
        |), rt AS (
        |  SELECT o_orderstatus, CAST(sum(n) AS BIGINT) AS row_n
        |  FROM obs GROUP BY 1
        |), ct AS (
        |  SELECT o_orderpriority, CAST(sum(n) AS BIGINT) AS col_n
        |  FROM obs GROUP BY 1
        |), g AS (
        |  SELECT CAST(sum(n) AS BIGINT) AS grand_n,
        |    CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS r,
        |    CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS c
        |  FROM obs
        |), t AS (
        |  SELECT g.grand_n, g.r, g.c,
        |    CAST(CAST(obs.n * g.grand_n - rt.row_n * ct.col_n AS HUGEINT)
        |      * (obs.n * g.grand_n - rt.row_n * ct.col_n) * 1000000
        |      // (rt.row_n * ct.col_n * g.grand_n) AS BIGINT) AS term_micro
        |  FROM obs
        |  JOIN rt ON obs.o_orderstatus = rt.o_orderstatus
        |  JOIN ct ON obs.o_orderpriority = ct.o_orderpriority
        |  CROSS JOIN g
        |)
        |SELECT grand_n, r, c,
        |  CAST(sum(term_micro) AS BIGINT) AS chi2_micro,
        |  CAST(sum(term_micro) // (grand_n * (least(r, c) - 1))
        |    AS BIGINT) AS v2_ppm
        |FROM t GROUP BY 1, 2, 3""".stripMargin,


    "q236_chi2_independence" ->
      """WITH obs AS (
        |  SELECT o_orderstatus, o_orderpriority,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM orders GROUP BY 1, 2
        |), r AS (
        |  SELECT o_orderstatus, CAST(sum(n) AS BIGINT) AS row_n
        |  FROM obs GROUP BY 1
        |), c AS (
        |  SELECT o_orderpriority, CAST(sum(n) AS BIGINT) AS col_n
        |  FROM obs GROUP BY 1
        |), g AS (SELECT CAST(sum(n) AS BIGINT) AS grand_n FROM obs)
        |SELECT obs.o_orderstatus, obs.o_orderpriority, obs.n,
        |  CAST(row_n AS DOUBLE) * CAST(col_n AS DOUBLE) /
        |    CAST(grand_n AS DOUBLE) AS expected,
        |  (CAST(n AS DOUBLE) - CAST(row_n AS DOUBLE) * CAST(col_n AS DOUBLE)
        |     / CAST(grand_n AS DOUBLE)) *
        |  (CAST(n AS DOUBLE) - CAST(row_n AS DOUBLE) * CAST(col_n AS DOUBLE)
        |     / CAST(grand_n AS DOUBLE)) /
        |  (CAST(row_n AS DOUBLE) * CAST(col_n AS DOUBLE)
        |     / CAST(grand_n AS DOUBLE)) AS chi2_term
        |FROM obs JOIN r USING (o_orderstatus)
        |         JOIN c USING (o_orderpriority), g""".stripMargin,


    "q229_decile_lift" ->
      """WITH scored AS (
        |  SELECT o_totalprice AS score,
        |         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS pos
        |  FROM orders
        |), q AS (
        |  SELECT quantile_cont(score,
        |           [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS qs
        |  FROM scored
        |), t AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_all,
        |         CAST(sum(pos) AS BIGINT) AS pos_all
        |  FROM scored
        |), b AS (
        |  SELECT CAST(1 + (CASE WHEN score > qs[1] THEN 1 ELSE 0 END)
        |    + (CASE WHEN score > qs[2] THEN 1 ELSE 0 END)
        |    + (CASE WHEN score > qs[3] THEN 1 ELSE 0 END)
        |    + (CASE WHEN score > qs[4] THEN 1 ELSE 0 END)
        |    + (CASE WHEN score > qs[5] THEN 1 ELSE 0 END)
        |    + (CASE WHEN score > qs[6] THEN 1 ELSE 0 END)
        |    + (CASE WHEN score > qs[7] THEN 1 ELSE 0 END)
        |    + (CASE WHEN score > qs[8] THEN 1 ELSE 0 END)
        |    + (CASE WHEN score > qs[9] THEN 1 ELSE 0 END) AS INT) AS decile,
        |    pos
        |  FROM scored, q
        |), a AS (
        |  SELECT decile, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(pos) AS BIGINT) AS n_pos
        |  FROM b GROUP BY 1
        |)
        |SELECT decile, n, n_pos,
        |       CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS pos_rate,
        |       (CAST(n_pos AS DOUBLE) * CAST(n_all AS DOUBLE)) /
        |       (CAST(n AS DOUBLE) * CAST(pos_all AS DOUBLE)) AS lift
        |FROM a, t""".stripMargin,


    "q230_ks_test" ->
      """WITH d AS (
        |  SELECT event_type,
        |         CAST(CAST(value AS DECIMAL(30,2)) * 100 AS BIGINT) AS v,
        |         CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS is0,
        |         CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END AS is1
        |  FROM events
        |), w AS (
        |  SELECT event_type,
        |    CAST(sum(is0) OVER (PARTITION BY event_type ORDER BY v
        |      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum0,
        |    CAST(sum(is1) OVER (PARTITION BY event_type ORDER BY v
        |      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum1,
        |    CAST(sum(is0) OVER (PARTITION BY event_type) AS BIGINT) AS n0,
        |    CAST(sum(is1) OVER (PARTITION BY event_type) AS BIGINT) AS n1
        |  FROM d
        |), g AS (
        |  SELECT event_type, min(n0) AS n0, min(n1) AS n1,
        |         CAST(max(abs(cum0 * n1 - cum1 * n0)) AS BIGINT) AS ks_scaled
        |  FROM w GROUP BY 1
        |)
        |SELECT event_type, n0, n1, ks_scaled,
        |       CAST(ks_scaled AS DOUBLE) /
        |         (CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE)) AS ks
        |FROM g""".stripMargin,


    "q227_weighted_median" ->
      """WITH d AS (
        |  SELECT l_returnflag,
        |         CAST(CAST(l_extendedprice AS DECIMAL(30,2)) * 100 AS BIGINT)
        |           AS v,
        |         CAST(l_quantity AS BIGINT) AS wt
        |  FROM lineitem
        |), w AS (
        |  SELECT l_returnflag, v,
        |    CAST(sum(wt) OVER (PARTITION BY l_returnflag ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumw,
        |    CAST(sum(wt) OVER (PARTITION BY l_returnflag) AS BIGINT) AS totw
        |  FROM d
        |)
        |SELECT l_returnflag,
        |       CAST(min(v) AS BIGINT) AS weighted_median,
        |       CAST(min(totw) AS BIGINT) AS total_weight
        |FROM w WHERE cumw * 2 >= totw GROUP BY 1""".stripMargin,


    "q228_bounce_rate" ->
      """WITH m AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN ts < lag(ts) OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id) + INTERVAL 1800 SECOND
        |         THEN 0 ELSE 1 END AS new_s
        |  FROM events
        |), sid AS (
        |  SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |    AS s_id
        |  FROM m
        |), r AS (
        |  SELECT *, row_number() OVER (PARTITION BY user_id, s_id
        |                               ORDER BY ts, event_id) AS rn
        |  FROM sid
        |), s AS (
        |  SELECT user_id, s_id, CAST(count(*) AS BIGINT) AS n_events,
        |         max(CASE WHEN rn = 1 THEN event_type END) AS entry_type
        |  FROM r GROUP BY 1, 2
        |), a AS (
        |  SELECT entry_type, CAST(count(*) AS BIGINT) AS n_sessions,
        |         CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |           AS n_bounce
        |  FROM s GROUP BY 1
        |)
        |SELECT entry_type, n_sessions, n_bounce,
        |       CAST(n_bounce * 1000000 // n_sessions AS BIGINT) AS bounce_ppm
        |FROM a""".stripMargin,


    "q221_max_drawdown" ->
      """WITH e AS (
        |  SELECT user_id, ts, event_id,
        |         CAST(CAST(value AS DECIMAL(30,2)) * 100 AS BIGINT) AS c
        |  FROM events
        |), p AS (
        |  SELECT user_id, ts, event_id,
        |    CAST(sum(c) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS prefix
        |  FROM e
        |), w AS (
        |  SELECT user_id, ts, event_id, prefix,
        |    CAST(max(prefix) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                           ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |      AS runmax
        |  FROM p
        |), d AS (
        |  SELECT *, runmax - prefix AS dd,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY runmax - prefix DESC, ts, event_id)
        |      AS rn
        |  FROM w
        |)
        |SELECT user_id, ts AS dd_ts, CAST(dd AS BIGINT) AS max_drawdown_cents
        |FROM d WHERE rn = 1""".stripMargin,


    "q212_cohort_ltv" ->
      """WITH c AS (
        |  SELECT user_id, CAST(min(ts) AS DATE) AS cohort
        |  FROM events GROUP BY 1
        |), a AS (
        |  SELECT c.cohort,
        |         CAST(datediff('day', c.cohort, CAST(e.ts AS DATE)) AS BIGINT)
        |           AS age_days,
        |         CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_active,
        |         CAST(sum(CASE WHEN e.event_type = 'purchase'
        |           THEN CAST(CAST(e.value AS DECIMAL(30,2)) * 100 AS BIGINT)
        |           ELSE 0 END) AS BIGINT) AS rev_cents
        |  FROM events e JOIN c ON e.user_id = c.user_id
        |  GROUP BY 1, 2
        |)
        |SELECT cohort, age_days, n_active, rev_cents,
        |       CAST(sum(rev_cents) OVER (PARTITION BY cohort ORDER BY age_days
        |         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_rev_cents
        |FROM a""".stripMargin,
  )
}
