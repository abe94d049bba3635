package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-9 analytics + training-evaluation surfaces (q253–q273):
  * inequality/concentration measures (Gini, HHI, Pareto's cousins), rank
  * tests (Mann-Whitney U), feature engineering (target encoding, decision
  * stumps, k-fold audits), ranking/classification evaluation (ROC points,
  * quantized NDCG), survival (Kaplan-Meier life table), drift (PSI bins,
  * source-cosine), and corpus-scaling diagnostics (learning curve, Heaps
  * vocab growth, hapax/TTR).
  *
  * Portability recipes (the house rules): money quantizes to exact cents
  * BEFORE any aggregate; ratios are integer ppm via `div`/`//` over
  * non-negative operands; product moments lift operands to decimal(19,0)
  * so neither product nor sum can wrap; the only doubles are a final
  * fixed-text formula both engines evaluate identically over exact
  * integers (and `ln`, which Spark and DuckDB agree on per the q83
  * precedent). Decile/threshold binning uses the q220 idiom — ONE exact
  * array-percentile scalar broadcast back, bin = 1 + #exceeded edges —
  * never a global ntile (a single-partition sort at 100 TB).
  *
  * Scale notes: the only intentionally global windows are (a) the
  * Mann-Whitney rank (an exact rank test is a total order by definition —
  * the 100 TB path is the binned normal approximation) and (b) windows
  * over already-tiny grains (50 part sizes, ≤ 100 months, 10 bins).
  * Everything else shuffles once on its natural key and reduces map-side.
  */
object AnalyticsQueries {

  private def cents(c: Column): Column =
    (c.cast("decimal(30,2)") * 100).cast("long")

  /** c·ln(c) with the 0·ln(0)=0 limit — the entropy term both engines
    * share (Spark `log` and DuckDB `ln` are both natural log). */
  private def xlnx(c: Column): Column =
    when(c > 0, c.cast("double") * log(c.cast("double"))).otherwise(lit(0.0))

  /** The q237 portable-hash recipe: first 8 md5 hex chars as a long. */
  private def md5Long(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 8), 16, 10).cast("long")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Gini coefficient of customer revenue per nation — the standard
    // inequality read over the rank formula G = (2·Σi·vᵢ − (n+1)·Σv) /
    // (n·Σv) on ascending (value, custkey) ranks: all sufficient stats
    // are exact (rank·value lifts to decimal so the dot product cannot
    // wrap), the coefficient is one fixed double expression. The window
    // partitions by nation — no global sort.
    "q253_gini_coefficient" -> ((s, dir) => {
      val rev = Tables.orders(s, dir)
        .groupBy(col("o_custkey"))
        .agg(sum(cents(col("o_totalprice"))).as("v"))
      val j = rev
        .join(Tables.customer(s, dir)
          .select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, dir)
          .select(col("n_nationkey"), col("n_name"))),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name"), col("o_custkey"), col("v"))
      j.withColumn("rn", row_number().over(
          Window.partitionBy(col("n_name"))
            .orderBy(col("v"), col("o_custkey"))))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n"),
          sum(col("v").cast("decimal(38,0)")).cast("double").as("sd"),
          sum(col("rn").cast("decimal(19,0)") * col("v").cast("decimal(19,0)"))
            .cast("double").as("swd"))
        .withColumn("gini",
          (lit(2.0) * col("swd") - (col("n").cast("double") + lit(1.0)) * col("sd")) /
            (col("n").cast("double") * col("sd")))
        .select(col("n_name"), col("n"), col("gini"))
    }),


    // Herfindahl-Hirschman concentration of brand revenue within each
    // supplier nation: shares in exact integer ppm (revenue·10⁶ div
    // nation total — at 100 TB lift the numerator to decimal), HHI =
    // Σshare² scaled back to ppm. Dim joins broadcast; one fact shuffle.
    "q254_herfindahl" -> ((s, dir) => {
      val rev = Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir)
          .select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .join(broadcast(Tables.supplier(s, dir)
          .select(col("s_suppkey"), col("s_nationkey"))),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, dir)
          .select(col("n_nationkey"), col("n_name"))),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), col("p_brand"))
        .agg(sum(cents(col("l_extendedprice"))).as("r"))
      rev.withColumn("tot",
          sum(col("r")).over(Window.partitionBy(col("n_name"))))
        .withColumn("share_ppm", expr("r * 1000000 div tot"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_brands"),
          expr("sum(share_ppm * share_ppm) div 1000000").as("hhi_ppm"))
    }),


    // Mann-Whitney U (urgent vs low-priority order value): exact
    // tie-averaged ranks carried as INTEGER doubled ranks (2·minrank +
    // ties − 1 — halves never materialize), the tie-correction term
    // Σ(t³−t) exact, and z one fixed double formula. The global rank IS
    // the test (total order by definition) but its EXECUTION is the
    // two-phase bucketed Stats.distributedRank — no single-partition
    // sort of the fact table; the oracle still states the naive
    // rank() OVER (ORDER BY v) and hash-matches bit-for-bit.
    "q255_mann_whitney" -> ((s, dir) => {
      val d = Tables.orders(s, dir)
        .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .select(cents(col("o_totalprice")).as("v"),
          (col("o_orderpriority") === "1-URGENT").as("g1"))
      val ranked = ops.Stats.distributedRank(d, "v", out = "mr")
        .withColumn("tc", count(lit(1)).over(Window.partitionBy(col("v"))))
        .withColumn("dr", lit(2L) * col("mr") + col("tc") - lit(1L))
      val ties = d.groupBy(col("v")).agg(count(lit(1)).as("t"))
        .agg(sum(col("t") * col("t") * col("t") - col("t")).as("tie_term"))
      ranked.agg(
          sum(when(col("g1"), 1L).otherwise(0L)).as("n1"),
          sum(when(!col("g1"), 1L).otherwise(0L)).as("n2"),
          sum(when(col("g1"), col("dr")).otherwise(0L)).as("r1_doubled"))
        .crossJoin(broadcast(ties))
        .withColumn("u1",
          col("r1_doubled").cast("double") / lit(2.0) -
            col("n1").cast("double") * (col("n1").cast("double") + lit(1.0)) / lit(2.0))
        .withColumn("nn", col("n1").cast("double") + col("n2").cast("double"))
        .withColumn("var_u",
          col("n1").cast("double") * col("n2").cast("double") / lit(12.0) *
            ((col("nn") + lit(1.0)) -
              col("tie_term").cast("double") / (col("nn") * (col("nn") - lit(1.0)))))
        .withColumn("z",
          (col("u1") - col("n1").cast("double") * col("n2").cast("double") / lit(2.0)) /
            sqrt(col("var_u")))
        .select(col("n1"), col("n2"), col("r1_doubled"), col("tie_term"),
          col("u1"), col("z"))
    }),


    // Smoothed target (mean) encoding of brand → return rate, the
    // leakage-prone feature-engineering op done exactly: enc =
    // (pos·G + m·P) / ((n+m)·G) with m=10 — numerator and denominator
    // exact integer products (lifted to decimal), ONE final double
    // division. Global stats attach via the audited crossJoin(broadcast).
    "q256_target_encoding" -> ((s, dir) => {
      val d = Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir)
          .select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .select(col("p_brand"),
          when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y"))
      val g = d.agg(count(lit(1)).as("gn"), sum(col("y")).as("gpos"))
      d.groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("pos"))
        .crossJoin(broadcast(g))
        .withColumn("enc",
          (col("pos").cast("decimal(19,0)") * col("gn").cast("decimal(19,0)") +
            lit(10).cast("decimal(19,0)") * col("gpos").cast("decimal(19,0)"))
            .cast("double") /
            ((col("n") + lit(10L)).cast("decimal(19,0)") *
              col("gn").cast("decimal(19,0)")).cast("double"))
        .select(col("p_brand"), col("n"), col("pos"), col("enc"))
    }),


    // Decision-stump split search (best p_size threshold for the return
    // label by weighted Gini impurity): per-size counts fold map-side,
    // the cumulative scan runs over ≤ 50 rows, impurity is a fixed
    // double expression over exact integer counts (squares lifted to
    // decimal), argmin ties break to the smaller threshold.
    "q257_gini_stump" -> ((s, dir) => {
      val perSize = Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir)
          .select(col("p_partkey"), col("p_size"))),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_size").cast("long").as("split_size"))
        .agg(count(lit(1)).as("cnt"),
          sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("pos"))
      val wCum = Window.orderBy(col("split_size"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.orderBy(col("split_size"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      def sq(c: Column): Column =
        (c.cast("decimal(19,0)") * c.cast("decimal(19,0)")).cast("double")
      perSize
        .withColumn("nl", sum(col("cnt")).over(wCum))
        .withColumn("posl", sum(col("pos")).over(wCum))
        .withColumn("nt", sum(col("cnt")).over(wAll))
        .withColumn("post", sum(col("pos")).over(wAll))
        .withColumn("nr", col("nt") - col("nl"))
        .withColumn("posr", col("post") - col("posl"))
        .filter(col("nr") > 0)
        .withColumn("impurity",
          (sq(col("nl")) - sq(col("posl")) - sq(col("nl") - col("posl"))) /
            col("nl").cast("double") +
            (sq(col("nr")) - sq(col("posr")) - sq(col("nr") - col("posr"))) /
              col("nr").cast("double"))
        .withColumn("rnk", row_number().over(
          Window.orderBy(col("impurity"), col("split_size"))))
        .filter(col("rnk") === 1)
        .select(col("split_size"), col("nl").as("n_left"),
          col("posl").as("pos_left"), col("nr").as("n_right"),
          col("posr").as("pos_right"), col("impurity"))
    }),


    // Order fill rate by priority: per order, how many of its lines
    // shipped within 30 days; rolled up to exact per-priority ppm plus
    // the fully-on-time order count. One orderkey shuffle, one rollup.
    "q258_fill_rate" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), to_date(col("l_shipdate")).as("sd"))
        .join(Tables.orders(s, dir)
          .select(col("o_orderkey"), to_date(col("o_orderdate")).as("od"),
            col("o_orderpriority")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderkey"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_lines"),
          sum(when(datediff(col("sd"), col("od")) <= 30, 1L).otherwise(0L))
            .as("n_fast"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("n_lines")).as("sum_lines"),
          sum(col("n_fast")).as("sum_fast"),
          sum(when(col("n_fast") === col("n_lines"), 1L).otherwise(0L))
            .as("n_perfect"))
        .withColumn("fill_ppm", expr("sum_fast * 1000000 div sum_lines"))),


    // K-fold assignment audit: md5-hash folds (pure function of the key,
    // re-derivable anywhere — the q44 hashSplit family), then the
    // per-fold balance readout every CV split should pass: row count,
    // exact revenue cents, urgent-priority share ppm.
    "q259_kfold_assign" -> ((s, dir) =>
      Tables.orders(s, dir)
        .withColumn("fold", pmod(md5Long(col("o_orderkey")), lit(5L)))
        .groupBy(col("fold"))
        .agg(count(lit(1)).as("n"),
          sum(cents(col("o_totalprice"))).as("rev_cents"),
          sum(when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L))
            .as("n_urgent"))
        .withColumn("urgent_ppm", expr("n_urgent * 1000000 div n"))),


    // Learning-curve prefixes: corpus ordered by md5(doc_id) (a
    // deterministic shuffle), stats at n/8, n/4, n/2, n — the
    // scaling-law data-diet readout. The 4-row size table broadcasts;
    // the doc rank executes as the two-phase bucketed device over the
    // numeric md5 prefix (hex lexicographic == numeric order; ties
    // break on the full digest then doc_id, identical to the oracle's
    // ORDER BY md5, doc_id), width 2^49 over the 2^60 digest domain
    // → ~2k balanced buckets at any corpus size.
    "q260_learning_curve" -> ((s, dir) => {
      val ranked = ops.Stats.distributedRank(
          Tables.documents(s, dir)
            .select(col("doc_id"), col("n_chars"))
            .withColumn("_h", md5(col("doc_id").cast("string")))
            .withColumn("_hv",
              conv(substring(col("_h"), 1, 15), 16, 10).cast("long")),
          "_hv", tieBreak = Seq("_h", "doc_id"), out = "rn",
          bucketWidth = 1L << 49)
        .drop("_h", "_hv")
      val sizes = ranked.agg(count(lit(1)).as("n_total"))
        .select(explode(array(lit(8L), lit(4L), lit(2L), lit(1L))).as("denom"),
          col("n_total"))
        .withColumn("size", expr("n_total div denom"))
        .select(col("denom"), col("size"))
      ranked.crossJoin(broadcast(sizes))
        .filter(col("rn") <= col("size"))
        .groupBy(col("denom"), col("size"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .withColumn("mean_chars",
          col("sum_chars").cast("double") / col("n_docs").cast("double"))
    }),


    // Behavioral trigrams: each user's event-type 3-grams in (ts,
    // event_id) arrival order, global top-20 by (count desc, trigram).
    // Two leads over one user-partitioned window; only the trigram
    // rollup (tiny — ≤ |types|³ keys) pays the final ordered pick.
    "q261_behavior_trigrams" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
        .withColumn("t2", lead(col("event_type"), 1).over(w))
        .withColumn("t3", lead(col("event_type"), 2).over(w))
        .filter(col("t2").isNotNull && col("t3").isNotNull)
        .groupBy(concat_ws(">", col("event_type"), col("t2"), col("t3"))
          .as("trigram"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rnk", row_number().over(
          Window.orderBy(col("cnt").desc, col("trigram"))))
        .filter(col("rnk") <= 20)
        .select(col("trigram"), col("cnt"))
    }),


    // Per-user session entropy over the FIXED event-type alphabet:
    // H = ln(n) − Σc·ln(c)/n with the five type terms summed in one
    // explicit left-to-right expression — identical association both
    // engines, so the float sum is order-free by construction (the
    // grouped-sum order nondeterminism never enters). The result ships
    // floor-quantized to integer micro-nats (the q83 ln recipe —
    // Java's and DuckDB's ln may differ in the last ulp, raw doubles
    // hash-mismatched at sf0.01).
    "q262_session_entropy" -> ((s, dir) => {
      def c(t: String): Column =
        sum(when(col("event_type") === t, 1L).otherwise(0L))
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"),
          c("click").as("c_click"), c("error").as("c_error"),
          c("purchase").as("c_purchase"), c("signup").as("c_signup"),
          c("view").as("c_view"))
        .withColumn("entropy_micronats",
          floor(lit(1e6) * (log(col("n").cast("double")) -
            (xlnx(col("c_click")) + xlnx(col("c_error")) +
              xlnx(col("c_purchase")) + xlnx(col("c_signup")) +
              xlnx(col("c_view"))) / col("n").cast("double")))
            .cast("long"))
        .select(col("user_id"), col("n"), col("entropy_micronats"))
    }),


    // Source-pair token-vector cosine — the corpus drift matrix: term
    // counts fold to the (source, token) grain (one shuffle), dot
    // products are exact integer sums over the token-equi self-join,
    // norms are per-source scalars broadcast back; the cosine is one
    // double expression over exact integers.
    "q263_source_cosine" -> ((s, dir) => {
      val tc = Tables.documents(s, dir)
        .select(col("source"),
          explode(graft.text.TextOps.tokens(col("text"))).as("token"))
        .groupBy(col("source"), col("token"))
        .agg(count(lit(1)).as("c"))
      val norms = tc.groupBy(col("source"))
        .agg(sum(col("c").cast("decimal(19,0)") * col("c").cast("decimal(19,0)"))
          .cast("double").as("nrm2"))
      val a = tc.select(col("source").as("src_a"), col("token"),
        col("c").as("ca"))
      val b = tc.select(col("source").as("src_b"), col("token"),
        col("c").as("cb"))
      a.join(b, Seq("token"))
        .filter(col("src_a") < col("src_b"))
        .groupBy(col("src_a"), col("src_b"))
        .agg(sum(col("ca").cast("decimal(19,0)") * col("cb").cast("decimal(19,0)"))
          .cast("double").as("dot"))
        .join(broadcast(norms.select(col("source").as("src_a"),
          col("nrm2").as("na2"))), Seq("src_a"))
        .join(broadcast(norms.select(col("source").as("src_b"),
          col("nrm2").as("nb2"))), Seq("src_b"))
        .withColumn("cosine", col("dot") / (sqrt(col("na2")) * sqrt(col("nb2"))))
        .select(col("src_a"), col("src_b"), col("cosine"))
    }),


    // Kaplan-Meier LIFE TABLE for signup→purchase conversion: per user,
    // time from first event to first purchase (or censoring at the last
    // event), in whole days of integer epoch math; per day, the at-risk
    // count, events, and censorings — the survival curve's exact integer
    // sufficient statistics without the float product (the curve itself
    // is a trivial downstream fold). User grain shuffles once; the day
    // table is ≤ observation-window days.
    "q264_life_table" -> ((s, dir) => {
      val perUser = Tables.events(s, dir)
        .select(col("user_id"),
          unix_micros(col("ts").cast("timestamp")).as("us"),
          (col("event_type") === "purchase").as("isp"))
        .groupBy(col("user_id"))
        .agg(min(col("us")).as("first_us"),
          min(when(col("isp"), col("us"))).as("conv_us"),
          max(col("us")).as("last_us"))
        .withColumn("event", col("conv_us").isNotNull.cast("long"))
        .withColumn("t_day", expr(
          "(coalesce(conv_us, last_us) - first_us) div 86400000000"))
      val exits = perUser.groupBy(col("t_day"))
        .agg(sum(col("event")).as("n_event"),
          sum(lit(1L) - col("event")).as("n_censored"))
      val total = perUser.agg(count(lit(1)).as("n_total"))
      exits.crossJoin(broadcast(total))
        .withColumn("prior_exits", coalesce(
          sum(col("n_event") + col("n_censored")).over(
            Window.orderBy(col("t_day"))
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("n_risk", col("n_total") - col("prior_exits"))
        .select(col("t_day"), col("n_risk"), col("n_event"),
          col("n_censored"))
    }),


    // Two-proportion z-test of heavy-purchaser conversion (≥ 14
    // purchases) by variant (user_id % 2): exact per-variant user and
    // converter counts, pooled z as one fixed double formula. The
    // degenerate pooled rates (0 or 1 — zero variance) surface as a
    // NULL z, never a 0/0 (ANSI would throw, the oracle would NaN).
    // One user-grain shuffle, scalar out.
    "q265_two_proportion" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg((sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          >= 14).cast("long").as("conv"))
        .withColumn("variant", pmod(col("user_id"), lit(2L)))
        .groupBy()
        .agg(sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n0"),
          sum(when(col("variant") === 0, col("conv")).otherwise(0L)).as("c0"),
          sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n1"),
          sum(when(col("variant") === 1, col("conv")).otherwise(0L)).as("c1"))
        .withColumn("pp",
          (col("c0") + col("c1")).cast("double") /
            (col("n0") + col("n1")).cast("double"))
        .withColumn("z",
          when(col("pp") > 0.0 && col("pp") < 1.0,
            (col("c0").cast("double") / col("n0").cast("double") -
              col("c1").cast("double") / col("n1").cast("double")) /
              sqrt(col("pp") * (lit(1.0) - col("pp")) *
                (lit(1.0) / col("n0").cast("double") +
                  lit(1.0) / col("n1").cast("double")))))
        .select(col("n0"), col("c0"), col("n1"), col("c1"), col("z"))),


    // PSI (population stability index) drift bins for order value,
    // pre-1998 vs 1998+: bin edges are ONE exact array-percentile over
    // the reference half broadcast back (the q220 threshold idiom — no
    // global ntile), bin = 1 + #exceeded edges via a codegen'd array
    // filter; per-bin exact counts/ppm plus the ln-based PSI term (NULL
    // where either side is empty — surfaced, not silently dropped).
    "q266_psi_bins" -> ((s, dir) => {
      val d = Tables.orders(s, dir)
        .select(cents(col("o_totalprice")).as("v"),
          (year(col("o_orderdate")) < 1998).as("ref"))
      val edges = d.filter(col("ref"))
        .agg(percentile(col("v"),
          typedLit(Seq(0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9)))
          .as("edges"))
      val binned = d.crossJoin(broadcast(edges))
        .withColumn("bin",
          (size(filter(col("edges"), e => col("v").cast("double") > e)) + 1)
            .cast("long"))
        .groupBy(col("bin"))
        .agg(sum(when(col("ref"), 1L).otherwise(0L)).as("c1"),
          sum(when(!col("ref"), 1L).otherwise(0L)).as("c2"))
      val tot = binned.agg(sum(col("c1")).as("t1"), sum(col("c2")).as("t2"))
      binned.crossJoin(broadcast(tot))
        .withColumn("p1_ppm", expr("c1 * 1000000 div t1"))
        .withColumn("p2_ppm", expr("c2 * 1000000 div t2"))
        // floor-quantized to nano units (q83 ln recipe: raw ln doubles
        // may drift a ulp between engines)
        .withColumn("psi_term_nano",
          when(col("c1") > 0 && col("c2") > 0,
            floor(lit(1e9) *
              ((col("c1").cast("double") / col("t1").cast("double") -
                col("c2").cast("double") / col("t2").cast("double")) *
                log((col("c1").cast("double") / col("t1").cast("double")) /
                  (col("c2").cast("double") / col("t2").cast("double")))))
              .cast("long")))
        .select(col("bin"), col("c1"), col("c2"), col("p1_ppm"),
          col("p2_ppm"), col("psi_term_nano"))
    }),


    // Inter-order gap distribution by market segment: exact day gaps
    // from a customer-partitioned lag, then min/median/p90/max through
    // the exact interpolated percentile (the q50/q219 recipe). The
    // customer attach is the only second shuffle.
    "q267_order_gap_stats" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("od"), col("o_orderkey"))
      Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"),
          to_date(col("o_orderdate")).as("od"))
        .withColumn("prev", lag(col("od"), 1).over(w))
        .filter(col("prev").isNotNull)
        .withColumn("gap_days", datediff(col("od"), col("prev")).cast("long"))
        .join(Tables.customer(s, dir)
          .select(col("c_custkey"), col("c_mktsegment")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_gaps"),
          min(col("gap_days")).as("min_d"),
          percentile(col("gap_days"), lit(0.5)).as("median_d"),
          percentile(col("gap_days"), lit(0.9)).as("p90_d"),
          max(col("gap_days")).as("max_d"))
    }),


    // Monthly seasonality index: each month's revenue against its
    // trailing-12-month window, as exact integer ppm (rev·12·10⁶ div
    // Σ12 — no float ratio). The window runs over the ≤ |months| rollup,
    // never the fact table; months without a full window are excluded
    // by the exact count, not a NULL-leaking average.
    "q268_seasonality_index" -> ((s, dir) =>
      Tables.orders(s, dir)
        .groupBy(date_trunc("month", col("o_orderdate")).cast("date")
          .as("month"))
        .agg(sum(cents(col("o_totalprice"))).as("rev_cents"))
        .withColumn("s12", sum(col("rev_cents")).over(
          Window.orderBy(col("month")).rowsBetween(-11, 0)))
        .withColumn("n12", count(lit(1)).over(
          Window.orderBy(col("month")).rowsBetween(-11, 0)))
        .filter(col("n12") === 12)
        .withColumn("index_ppm", expr("rev_cents * 12 * 1000000 div s12"))
        .select(col("month"), col("rev_cents"), col("index_ppm"))),


    // Hapax/type-token profile per source — the vocabulary-richness
    // screen: vocab size, hapax count (frequency-1 tokens), total
    // tokens, TTR and hapax share in exact ppm. One (source, token)
    // shuffle, tiny per-source rollup.
    "q269_hapax_ttr" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("source"),
          explode(graft.text.TextOps.tokens(col("text"))).as("token"))
        .groupBy(col("source"), col("token"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("vocab"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).as("hapax"),
          sum(col("c")).as("total_tokens"))
        .withColumn("ttr_ppm", expr("vocab * 1000000 div total_tokens"))
        .withColumn("hapax_ppm", expr("hapax * 1000000 div vocab"))),


    // ROC operating points for the value→F-status stump: decile
    // thresholds from ONE exact array-percentile (q220 idiom, no global
    // sort), per-bin exact pos/neg counts, cumulative from the
    // highest-score bin down, TPR/FPR in exact ppm. The curve is 10
    // rows; everything before it is map-side.
    "q270_roc_points" -> ((s, dir) => {
      val d = Tables.orders(s, dir)
        .select(cents(col("o_totalprice")).as("v"),
          (col("o_orderstatus") === "F").as("pos"))
      val edges = d.agg(percentile(col("v"),
        typedLit(Seq(0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9)))
        .as("edges"))
      val binned = d.crossJoin(broadcast(edges))
        .withColumn("bin",
          (size(filter(col("edges"), e => col("v").cast("double") > e)) + 1)
            .cast("long"))
        .groupBy(col("bin"))
        .agg(sum(when(col("pos"), 1L).otherwise(0L)).as("p"),
          sum(when(!col("pos"), 1L).otherwise(0L)).as("q"))
      val wDesc = Window.orderBy(col("bin").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.orderBy(col("bin"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      binned
        .withColumn("cum_pos", sum(col("p")).over(wDesc))
        .withColumn("cum_neg", sum(col("q")).over(wDesc))
        .withColumn("tp", sum(col("p")).over(wAll))
        .withColumn("tn", sum(col("q")).over(wAll))
        .withColumn("tpr_ppm", expr("cum_pos * 1000000 div tp"))
        .withColumn("fpr_ppm", expr("cum_neg * 1000000 div tn"))
        .select(col("bin"), col("cum_pos"), col("cum_neg"),
          col("tpr_ppm"), col("fpr_ppm"))
    }),


    // Quantized NDCG@10 of the popularity ranking against each
    // customer's purchase set: position weights 1/log₂(pos+1) quantize
    // to integer micro-units ONCE (a 10-row broadcast table), so DCG and
    // ideal DCG are exact integer sums — the float-order trap in
    // per-user gain sums never opens. Mean NDCG reports per segment in
    // exact ppm.
    "q271_ndcg_popularity" -> ((s, dir) => {
      val top10 = Tables.lineitem(s, dir)
        .groupBy(col("l_partkey")).agg(count(lit(1)).as("cnt"))
        .withColumn("pos", row_number().over(
          Window.orderBy(col("cnt").desc, col("l_partkey"))))
        .filter(col("pos") <= 10)
        .withColumn("w_ppm",
          round(lit(1e6) * log(lit(2.0)) / log(col("pos").cast("double") + lit(1.0)))
            .cast("long"))
      val cumw = top10.select(col("pos"), col("w_ppm"))
        .withColumn("cw", sum(col("w_ppm")).over(Window.orderBy(col("pos"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("pos"), col("cw"))
      val rel = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"))
        .join(Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_partkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey"), col("l_partkey")).distinct()
      val perCust = rel
        .join(broadcast(top10.select(col("l_partkey"), col("w_ppm"))),
          Seq("l_partkey"), "left_outer")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("nrel"),
          coalesce(sum(col("w_ppm")), lit(0L)).as("dcg_q"))
        .withColumn("ideal_k", least(col("nrel"), lit(10L)).cast("int"))
        .join(broadcast(cumw), col("ideal_k") === col("pos"))
        .withColumn("ndcg_ppm", expr("dcg_q * 1000000 div cw"))
      perCust
        .join(Tables.customer(s, dir)
          .select(col("c_custkey"), col("c_mktsegment")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_users"),
          expr("sum(ndcg_ppm) div count(1)").as("mean_ndcg_ppm"))
    }),


    // Heaps-law vocabulary growth: distinct tokens seen within the
    // md5-ordered corpus prefix at n/8, n/4, n/2, n — computed in ONE
    // pass via each token's first-occurrence rank (min over a
    // deterministic doc order), then four threshold counts against the
    // broadcast size table. No per-prefix distinct scans; the doc rank
    // rides the q260 two-phase numeric-md5 device (no global sort).
    "q272_vocab_growth" -> ((s, dir) => {
      val ranked = ops.Stats.distributedRank(
          Tables.documents(s, dir)
            .select(col("doc_id"), col("text"))
            .withColumn("_h", md5(col("doc_id").cast("string")))
            .withColumn("_hv",
              conv(substring(col("_h"), 1, 15), 16, 10).cast("long")),
          "_hv", tieBreak = Seq("_h", "doc_id"), out = "rn",
          bucketWidth = 1L << 49)
        .drop("_h", "_hv")
      val firstSeen = ranked
        .select(col("rn"),
          explode(graft.text.TextOps.tokens(col("text"))).as("token"))
        .groupBy(col("token")).agg(min(col("rn")).as("first_rn"))
      val sizes = ranked.agg(count(lit(1)).as("n_total"))
        .select(explode(array(lit(8L), lit(4L), lit(2L), lit(1L))).as("denom"),
          col("n_total"))
        .withColumn("size", expr("n_total div denom"))
        .select(col("denom"), col("size"))
      firstSeen.crossJoin(broadcast(sizes))
        .filter(col("first_rn") <= col("size"))
        .groupBy(col("denom"), col("size"))
        .agg(count(lit(1)).as("vocab"))
    }),


    // WAU / trailing-28-day MAU stickiness per week: activity dedups to
    // the (user, day) grain FIRST (the only fact-sized shuffle); a day d
    // belongs to week wk's trailing-28 window iff wk ∈ {monday(d)+7k,
    // k=0..3}, so each user-day EXPANDS to exactly its 4 candidate
    // Mondays and equi-joins the observed-week table — a ×4 map-side
    // expansion instead of a nested-loop range join (which a 100 TB
    // fact side could never afford). k=0 rows are precisely the WAU
    // membership. Weeks truncate Monday-start in both engines.
    "q273_wau_mau" -> ((s, dir) => {
      val ud = Tables.events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
      val weeks = ud.select(date_trunc("week", col("d")).cast("date").as("wk"))
        .distinct()
      ud.withColumn("k", explode(array(lit(0), lit(1), lit(2), lit(3))))
        .withColumn("wk",
          date_add(date_trunc("week", col("d")).cast("date"), col("k") * 7))
        .join(broadcast(weeks), Seq("wk"))
        .groupBy(col("wk"))
        .agg(countDistinct(col("user_id")).as("mau"),
          countDistinct(when(col("k") === 0, col("user_id"))).as("wau"))
        .withColumn("stickiness_ppm", expr("wau * 1000000 div mau"))
    }),


    // Collocation mining by PMI: adjacent-bigram vs unigram frequencies,
    // PMI in log space as a FIXED-ORDER sum of five ln terms (ln c_xy +
    // 2·ln N_uni − ln N_bi − ln c_x − ln c_y — no product can overflow
    // at any scale), floor-quantized to micro-nats (q83 recipe); top 30
    // by (pmi desc, bigram). Two token-grain shuffles; the ordered pick
    // runs over the min-count-filtered bigram table only.
    "q274_collocation_pmi" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), graft.text.TextOps.tokens(col("text")).as("ts"))
      val uni = toks.select(explode(col("ts")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
      val bi = toks
        .select(explode(graft.text.TextOps.ngrams(col("ts"), 2)).as("bigram"))
        .groupBy(col("bigram")).agg(count(lit(1)).as("c_xy"))
        .filter(col("c_xy") >= 5)
      val nUni = uni.agg(sum(col("c")).as("n_uni"))
      val nBi = toks.select((size(col("ts")) - 1).cast("long").as("nb"))
        .agg(sum(when(col("nb") > 0, col("nb")).otherwise(0L)).as("n_bi"))
      bi.withColumn("w1", split(col("bigram"), " ").getItem(0))
        .withColumn("w2", split(col("bigram"), " ").getItem(1))
        .join(uni.select(col("w").as("w1"), col("c").as("c_x")), Seq("w1"))
        .join(uni.select(col("w").as("w2"), col("c").as("c_y")), Seq("w2"))
        .crossJoin(broadcast(nUni)).crossJoin(broadcast(nBi))
        .withColumn("pmi_micronats",
          floor(lit(1e6) * (log(col("c_xy").cast("double")) +
            lit(2.0) * log(col("n_uni").cast("double")) -
            log(col("n_bi").cast("double")) -
            log(col("c_x").cast("double")) -
            log(col("c_y").cast("double")))).cast("long"))
        .withColumn("rnk", row_number().over(
          Window.orderBy(col("pmi_micronats").desc, col("bigram"))))
        .filter(col("rnk") <= 30)
        .select(col("bigram"), col("c_xy"), col("c_x"), col("c_y"),
          col("pmi_micronats"))
    }),


    // MRR + hit-rate@10 of the popularity ranking (q271's retrieval
    // cousin): per customer, the FIRST top-10 part they bought (min
    // position); reciprocal rank is exact integer ppm (10⁶ div pos);
    // per-segment means are integer div of integer sums — no float
    // averaging anywhere.
    "q275_mrr_hitrate" -> ((s, dir) => {
      val top10 = Tables.lineitem(s, dir)
        .groupBy(col("l_partkey")).agg(count(lit(1)).as("cnt"))
        .withColumn("pos", row_number().over(
          Window.orderBy(col("cnt").desc, col("l_partkey"))))
        .filter(col("pos") <= 10)
        .select(col("l_partkey"), col("pos").cast("long").as("pos"))
      val rel = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"))
        .join(Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_partkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey"), col("l_partkey")).distinct()
      rel.join(broadcast(top10), Seq("l_partkey"), "left_outer")
        .groupBy(col("o_custkey"))
        .agg(min(col("pos")).as("first_pos"))
        .withColumn("hit", col("first_pos").isNotNull.cast("long"))
        .withColumn("rr_ppm",
          when(col("first_pos").isNotNull, expr("1000000 div first_pos"))
            .otherwise(lit(0L)))
        .join(Tables.customer(s, dir)
          .select(col("c_custkey"), col("c_mktsegment")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("hit")).as("n_hits"),
          expr("sum(hit) * 1000000 div count(1)").as("hit_ppm"),
          expr("sum(rr_ppm) div count(1)").as("mean_rr_ppm"))
    }),


    // KMV (k-minimum-values) distinct sketch per event type, k=32, with
    // the exact count alongside — the mergeable-sketch audit pair: the
    // 60-bit md5 key space is engine-portable, the k-th minimum is an
    // exact integer, and the estimator (k_eff−1)·2⁶⁰/kth is one double
    // division (floor-quantized). The per-type window runs over DISTINCT
    // hashes only.
    "q276_kmv_distinct" -> ((s, dir) => {
      val h = Tables.events(s, dir)
        .select(col("event_type"),
          conv(substring(md5(col("user_id").cast("string")), 1, 15), 16, 10)
            .cast("long").as("h"))
        .distinct()
      val exact = h.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_exact"))
      val sketch = h
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("event_type")).orderBy(col("h"))))
        .filter(col("rn") <= 32)
        .groupBy(col("event_type"))
        .agg(max(col("h")).as("kth_min"), count(lit(1)).as("k_eff"))
      sketch.join(exact, Seq("event_type"))
        .withColumn("est",
          floor((col("k_eff").cast("double") - lit(1.0)) *
            pow(lit(2.0), lit(60.0)) / col("kth_min").cast("double"))
            .cast("long"))
        .select(col("event_type"), col("n_exact"), col("k_eff"),
          col("kth_min"), col("est"))
    }),


    // KMV SET ALGEBRA (round 13) — what makes bottom-k sketches the
    // 100 TB cohort tool: two cohorts' sketches MERGE into the union's
    // sketch (k smallest of the combined distinct hashes — union is
    // closed under KMV), and the intersection estimates WITHOUT ever
    // joining the cohorts at fact scale (Beyer et al. 2007: ρ = the
    // share of union-sketch hashes present in both sets, |A∩B| ≈
    // ρ·|A∪B|). Per-cohort and union sketches are ORDER BY h LIMIT k
    // (TakeOrderedAndProject — k-bounded, no global window); membership
    // probes are semi joins of the 64-row sketch against the hash sets;
    // every scalar rides a keys=[] broadcast. md5-derived hashes make
    // the whole estimator portable — the oracle replays it exactly,
    // including the floor-double estimate and the integer ρ division.
    "q475_kmv_setops" -> ((s, dir) => {
      val k = 64
      val h = Tables.events(s, dir)
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("event_type"),
          conv(substring(md5(col("user_id").cast("string")), 1, 15), 16, 10)
            .cast("long").as("h"))
        .distinct()
        // ha/hb are filtered views consumed 5×/4× by the sketch and
        // exact legs — materialize the hashed distinct set once (r14,
        // guide §5; before plan: 24 scans)
        .localCheckpoint(true)
      val ha = h.filter(col("event_type") === "click").select(col("h"))
      val hb = h.filter(col("event_type") === "purchase").select(col("h"))
      def sketch(df: org.apache.spark.sql.DataFrame, est: String,
          keff: String): org.apache.spark.sql.DataFrame =
        df.orderBy(col("h")).limit(k)
          .agg(max(col("h")).as("kth"), count(lit(1)).as(keff))
          .select(col(keff),
            floor((col(keff).cast("double") - lit(1.0)) *
              pow(lit(2.0), lit(60.0)) / col("kth").cast("double"))
              .cast("long").as(est))
      val sku = ha.unionByName(hb).distinct().orderBy(col("h")).limit(k)
        .localCheckpoint(true)
      val rho = sku
        .join(ha, Seq("h"), "left_semi")
        .join(hb, Seq("h"), "left_semi")
        .agg(count(lit(1)).as("rho_cnt"))
      ha.agg(count(lit(1)).as("n_exact_a"))
        .crossJoin(broadcast(hb.agg(count(lit(1)).as("n_exact_b"))))
        .crossJoin(broadcast(ha.join(hb, Seq("h"), "left_semi")
          .agg(count(lit(1)).as("n_exact_intersect"))))
        .crossJoin(broadcast(sketch(ha, "est_a", "k_a")))
        .crossJoin(broadcast(sketch(hb, "est_b", "k_b")))
        .crossJoin(broadcast(
          sku.agg(max(col("h")).as("kth"), count(lit(1)).as("k_u"))
            .select(col("k_u"),
              floor((col("k_u").cast("double") - lit(1.0)) *
                pow(lit(2.0), lit(60.0)) / col("kth").cast("double"))
                .cast("long").as("est_union"))))
        .crossJoin(broadcast(rho))
        .withColumn("n_exact_union",
          col("n_exact_a") + col("n_exact_b") - col("n_exact_intersect"))
        .withColumn("est_intersect",
          expr("rho_cnt * est_union div k_u"))
        .select(col("n_exact_a"), col("n_exact_b"),
          col("n_exact_intersect"), col("n_exact_union"),
          col("k_a"), col("est_a"), col("k_b"), col("est_b"),
          col("k_u"), col("est_union"), col("rho_cnt"),
          col("est_intersect"))
    }),


    // Volume-weighted average retail price per brand-month: numerator
    // Σ(price_cents·qty) lifts to decimal (no product wrap), denominator
    // is an exact quantity sum, VWAP is ONE double division. Dim join
    // broadcasts; one brand-month rollup shuffle.
    "q277_vwap" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir)
          .select(col("p_partkey"), col("p_brand"), col("p_retailprice"))),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"),
          date_trunc("month", col("l_shipdate")).cast("date").as("month"))
        .agg(sum(col("l_quantity").cast("long")).as("sum_qty"),
          sum(cents(col("p_retailprice")).cast("decimal(19,0)") *
            col("l_quantity").cast("long").cast("decimal(19,0)"))
            .cast("double").as("num"))
        .withColumn("vwap_cents", col("num") / col("sum_qty").cast("double"))
        .drop("num")),


    // Degree assortativity of the customer-supplier trade graph: Pearson
    // r of (customer degree, supplier degree) across distinct edges, all
    // six sufficient statistics exact (decimal-lifted products), r one
    // fixed double formula — do high-degree customers trade with
    // high-degree suppliers? Edge grain shuffles once; degrees attach by
    // two key joins.
    "q278_degree_assortativity" -> ((s, dir) => {
      val edges = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"))
        .join(Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey"), col("l_suppkey")).distinct()
      val dc = edges.groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("x"))
      val ds = edges.groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("y"))
      def d19(c: Column): Column = c.cast("decimal(19,0)")
      edges.join(dc, Seq("o_custkey")).join(broadcast(ds), Seq("l_suppkey"))
        .agg(count(lit(1)).as("n_edges"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(d19(col("x")) * d19(col("y"))).cast("double").as("sxy"),
          sum(d19(col("x")) * d19(col("x"))).cast("double").as("sxx"),
          sum(d19(col("y")) * d19(col("y"))).cast("double").as("syy"))
        .withColumn("r",
          (col("n_edges").cast("double") * col("sxy") -
            col("sx").cast("double") * col("sy").cast("double")) /
            sqrt((col("n_edges").cast("double") * col("sxx") -
              col("sx").cast("double") * col("sx").cast("double")) *
              (col("n_edges").cast("double") * col("syy") -
                col("sy").cast("double") * col("sy").cast("double"))))
        .select(col("n_edges"), col("sx"), col("sy"), col("r"))
    }),


    // Poisson overdispersion check per event type: variance-to-mean
    // ratio of per-(user, day) activity counts over observed cells —
    // population moments from exact integer sums (squares decimal-
    // lifted), VMR a fixed double expression. VMR ≫ 1 ⇒ the iid-Poisson
    // traffic assumption is wrong (bursty users). One cell-grain
    // shuffle, tiny per-type rollup.
    "q279_overdispersion" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("event_type"), col("user_id"), to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_cells"),
          sum(col("n")).as("sum_n"),
          sum(col("n").cast("decimal(19,0)") * col("n").cast("decimal(19,0)"))
            .cast("double").as("sum_n2"))
        .withColumn("vmr",
          (col("n_cells").cast("double") * col("sum_n2") -
            col("sum_n").cast("double") * col("sum_n").cast("double")) /
            (col("n_cells").cast("double") * col("sum_n").cast("double")))
        .select(col("event_type"), col("n_cells"), col("sum_n"), col("vmr"))),


    // Catalog cold-start coverage: parts never ordered, by brand, in
    // exact ppm — the recsys item-coverage gate. The sold-part set
    // dedups at the part grain first, then ONE broadcast-able anti
    // probe; never a fact-sized join per part.
    "q280_catalog_coverage" -> ((s, dir) => {
      val sold = Tables.lineitem(s, dir).select(col("l_partkey")).distinct()
      Tables.part(s, dir)
        .select(col("p_partkey"), col("p_brand"))
        .join(sold, col("p_partkey") === col("l_partkey"), "left_outer")
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_parts"),
          sum(when(col("l_partkey").isNull, 1L).otherwise(0L)).as("n_cold"))
        .withColumn("cold_ppm", expr("n_cold * 1000000 div n_parts"))
    }),


    // Price dispersion per part (n ≥ 8 lineitems): coefficient of
    // variation from exact cent moments — population sd via one
    // correctly-rounded sqrt over decimal-lifted integer sums, CV one
    // double division. The per-part grain IS the output; no float
    // averaging across parts.
    "q281_price_dispersion" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy(col("l_partkey"))
        .agg(count(lit(1)).as("n"),
          sum(cents(col("l_extendedprice"))).as("s"),
          sum(cents(col("l_extendedprice")).cast("decimal(19,0)") *
            cents(col("l_extendedprice")).cast("decimal(19,0)"))
            .cast("double").as("s2"))
        .filter(col("n") >= 8)
        .withColumn("mean_cents", col("s").cast("double") / col("n").cast("double"))
        .withColumn("cv",
          sqrt((col("n").cast("double") * col("s2") -
            col("s").cast("double") * col("s").cast("double"))) /
            col("s").cast("double"))
        .select(col("l_partkey"), col("n"), col("s").as("sum_cents"),
          col("mean_cents"), col("cv"))),


    // K-anonymity / l-diversity audit per nation: quasi-identifier =
    // (nation, segment, acctbal decile — edges from ONE broadcast
    // percentile array, the q220 idiom), sensitive attribute = order
    // priority. Per nation: group count, small-group (k < 5) count,
    // users at risk in exact ppm, and the minimum sensitive diversity —
    // the privacy pre-publish gate. Two shuffles (QI grain, nation
    // rollup); the order join carries only (custkey, priority).
    "q283_k_anonymity" -> ((s, dir) => {
      val edges = Tables.customer(s, dir)
        .agg(percentile(col("c_acctbal"),
          typedLit(Seq(0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9)))
          .as("edges"))
      val qi = Tables.customer(s, dir)
        .crossJoin(broadcast(edges))
        .withColumn("bal_bin",
          (size(filter(col("edges"), e => col("c_acctbal") > e)) + 1)
            .cast("long"))
        .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"),
          col("bal_bin"))
      val sens = Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_orderpriority")).distinct()
      val groups = qi
        .join(sens, col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy(col("c_nationkey"), col("c_mktsegment"), col("bal_bin"))
        .agg(countDistinct(col("c_custkey")).as("k"),
          countDistinct(col("o_orderpriority")).as("l"))
      groups.groupBy(col("c_nationkey").cast("long").as("nationkey"))
        .agg(count(lit(1)).as("n_groups"),
          sum(when(col("k") < 5, 1L).otherwise(0L)).as("n_small_groups"),
          sum(col("k")).as("n_users"),
          sum(when(col("k") < 5, col("k")).otherwise(0L)).as("n_at_risk"),
          min(col("l")).as("min_l"))
        .withColumn("risk_ppm", expr("n_at_risk * 1000000 div n_users"))
    }),


    // Corpus-level autocorrelation function, lags 1–7 days: the daily
    // event-count series folds from the fact scan (the only real work),
    // then each lag's Pearson r comes from exact integer sufficient
    // stats over the (t, t+k) pair join of the tiny series. One row per
    // lag — the seasonality/burstiness fingerprint q216's per-user lag-1
    // cannot see.
    "q284_acf" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("n"))
        .select(datediff(col("d"), lit("2024-01-01").cast("date"))
          .cast("long").as("t"), col("n"))
      def d19(c: Column): Column = c.cast("decimal(19,0)")
      daily
        .withColumn("lag",
          explode(array((1 to 7).map(i => lit(i.toLong)): _*)))
        .withColumn("t2", col("t") + col("lag"))
        .join(daily.select(col("t").as("t2"), col("n").as("n2")),
          Seq("t2"))
        .groupBy(col("lag"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("n")).as("sx"), sum(col("n2")).as("sy"),
          sum(d19(col("n")) * d19(col("n2"))).cast("double").as("sxy"),
          sum(d19(col("n")) * d19(col("n"))).cast("double").as("sxx"),
          sum(d19(col("n2")) * d19(col("n2"))).cast("double").as("syy"))
        .withColumn("r",
          (col("n_pairs").cast("double") * col("sxy") -
            col("sx").cast("double") * col("sy").cast("double")) /
            sqrt((col("n_pairs").cast("double") * col("sxx") -
              col("sx").cast("double") * col("sx").cast("double")) *
              (col("n_pairs").cast("double") * col("syy") -
                col("sy").cast("double") * col("sy").cast("double"))))
        .select(col("lag"), col("n_pairs"), col("r"))
    }),


    // Seasonal-naive forecast backtest: predict month m's revenue with
    // month m−12's (the standard baseline every real forecaster must
    // beat), errors in exact cents, APE in exact integer ppm — the
    // whole backtest is one lag over the ≤ |months| rollup.
    "q285_seasonal_backtest" -> ((s, dir) =>
      Tables.orders(s, dir)
        .groupBy(date_trunc("month", col("o_orderdate")).cast("date")
          .as("month"))
        .agg(sum(cents(col("o_totalprice"))).as("actual_cents"))
        .withColumn("pred_cents",
          lag(col("actual_cents"), 12).over(Window.orderBy(col("month"))))
        .filter(col("pred_cents").isNotNull)
        .withColumn("abs_err_cents",
          abs(col("actual_cents") - col("pred_cents")))
        .withColumn("ape_ppm", expr("abs_err_cents * 1000000 div actual_cents"))
        .select(col("month"), col("actual_cents"), col("pred_cents"),
          col("abs_err_cents"), col("ape_ppm"))),


    // Difference-in-differences estimator: variant (user_id % 2) ×
    // period (before/after the window midpoint), four cell means from
    // exact cent sums, DiD = (T_post−T_pre) − (C_post−C_pre) as one
    // fixed double formula — the causal-readout counterpart of q207's
    // variance reduction. One grouped pass over the fact, scalar out.
    "q286_diff_in_diff" -> ((s, dir) => {
      def cell(v: Int, pre: Boolean, c: Column): Column =
        sum(when(pmod(col("user_id"), lit(2L)) === v &&
          (if (pre) col("pre") else !col("pre")), c).otherwise(0L))
      Tables.events(s, dir)
        .select(col("user_id"),
          (col("ts") < lit("2024-01-16 00:00:00").cast("timestamp_ntz"))
            .as("pre"),
          cents(col("value")).as("c"))
        .agg(
          cell(0, pre = true, lit(1L)).as("n_c_pre"),
          cell(0, pre = true, col("c")).as("s_c_pre"),
          cell(0, pre = false, lit(1L)).as("n_c_post"),
          cell(0, pre = false, col("c")).as("s_c_post"),
          cell(1, pre = true, lit(1L)).as("n_t_pre"),
          cell(1, pre = true, col("c")).as("s_t_pre"),
          cell(1, pre = false, lit(1L)).as("n_t_post"),
          cell(1, pre = false, col("c")).as("s_t_post"))
        .withColumn("did_cents",
          (col("s_t_post").cast("double") / col("n_t_post").cast("double") -
            col("s_t_pre").cast("double") / col("n_t_pre").cast("double")) -
            (col("s_c_post").cast("double") / col("n_c_post").cast("double") -
              col("s_c_pre").cast("double") / col("n_c_pre").cast("double")))
    }),


    // SMA crossover signals (the trading-indicator shape applied to the
    // revenue series): 7- vs 28-day trailing sums over the DAY grain,
    // signal = sign(s7·28 − s28·7) — cross-multiplied so the comparison
    // never divides — emitted only where the long window is full, and
    // only on days the signal FLIPS (lag over the same ordered frame).
    // The global-order window runs on the day grain, a bounded calendar
    // dimension (~36.5k rows/century), never on the fact. All-integer:
    // exact cents, exact products, no float anywhere.
    "q295_sma_crossover" -> ((s, dir) => {
      val daily = Tables.orders(s, dir)
        .groupBy(to_date(col("o_orderdate")).as("d"))
        .agg(sum(cents(col("o_totalprice"))).as("v"))
      val ord = Window.orderBy(col("d"))
      val w7 = ord.rowsBetween(-6, 0)
      val w28 = ord.rowsBetween(-27, 0)
      daily
        .withColumn("s7", sum(col("v")).over(w7))
        .withColumn("s28", sum(col("v")).over(w28))
        .withColumn("n28", count(lit(1)).over(w28))
        .filter(col("n28") === 28)
        .withColumn("sig",
          when(col("s7") * 28 > col("s28") * 7, 1L)
            .when(col("s7") * 28 < col("s28") * 7, -1L)
            .otherwise(0L))
        .withColumn("prev_sig", lag(col("sig"), 1).over(ord))
        .filter(col("prev_sig").isNotNull && col("sig") =!= col("prev_sig"))
        .select(col("d"), col("prev_sig"), col("sig"))
    }),


    // Bollinger-band breakouts in EXACT integer algebra: against the
    // trailing 20 PRIOR days (the current day never contaminates its own
    // band), flag |x − μ| > 2σ without ever computing μ or σ —
    // (n·x − S)² > 4·(n·Q − S²) over decimal(38,0)-lifted cents, the
    // whole inequality exact in both engines (DuckDB runs it in HUGEINT).
    // The anomaly-gate counterpart of q153's rolling z-score, division-
    // and sqrt-free.
    "q296_bollinger_breakouts" -> ((s, dir) => {
      def d38(c: Column): Column = c.cast("decimal(38,0)")
      val daily = Tables.orders(s, dir)
        .groupBy(to_date(col("o_orderdate")).as("d"))
        .agg(sum(cents(col("o_totalprice"))).as("v"))
      val w = Window.orderBy(col("d")).rowsBetween(-20, -1)
      daily
        .withColumn("sp", sum(col("v")).over(w))
        .withColumn("qp", sum(d38(col("v")) * d38(col("v"))).over(w))
        .withColumn("np", count(lit(1)).over(w))
        .filter(col("np") === 20)
        .withColumn("dev", d38(col("v") * 20) - d38(col("sp")))
        .withColumn("var4",
          (d38(lit(20L)) * col("qp") - d38(col("sp")) * d38(col("sp"))) * 4)
        .filter(col("dev") * col("dev") > col("var4"))
        .withColumn("dir", when(col("dev") > 0, 1L).otherwise(-1L))
        .select(col("d"), col("v"), col("dir"))
    }),
  )

  /** DuckDB-runnable oracle equivalents — same math, same fixed-order
    * double formulas, same integer ppm/`//` conventions. */
  val sql: Map[String, String] = Map(

    "q253_gini_coefficient" ->
      """WITH rev AS (
        |  SELECT o_custkey,
        |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(30,2)) * 100
        |                       AS BIGINT)) AS BIGINT) AS v
        |  FROM orders GROUP BY 1
        |), j AS (
        |  SELECT n.n_name, r.v, r.o_custkey
        |  FROM rev r
        |  JOIN customer c ON r.o_custkey = c.c_custkey
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey
        |), rk AS (
        |  SELECT n_name, v, row_number() OVER (PARTITION BY n_name
        |                                       ORDER BY v, o_custkey) AS rn
        |  FROM j
        |), a AS (
        |  SELECT n_name, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(v) AS DOUBLE) AS sd,
        |         CAST(sum(CAST(rn AS DECIMAL(19,0)) * CAST(v AS DECIMAL(19,0)))
        |              AS DOUBLE) AS swd
        |  FROM rk GROUP BY 1
        |)
        |SELECT n_name, n,
        |       (2.0 * swd - (CAST(n AS DOUBLE) + 1.0) * sd) /
        |       (CAST(n AS DOUBLE) * sd) AS gini
        |FROM a""".stripMargin,

    "q254_herfindahl" ->
      """WITH rev AS (
        |  SELECT n.n_name, p.p_brand,
        |         CAST(sum(CAST(CAST(l.l_extendedprice AS DECIMAL(30,2)) * 100
        |                       AS BIGINT)) AS BIGINT) AS r
        |  FROM lineitem l
        |  JOIN part p ON l.l_partkey = p.p_partkey
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  JOIN nation n ON s.s_nationkey = n.n_nationkey
        |  GROUP BY 1, 2
        |), sh AS (
        |  SELECT n_name, p_brand,
        |         CAST(r * 1000000 // sum(r) OVER (PARTITION BY n_name)
        |              AS BIGINT) AS share_ppm
        |  FROM rev
        |)
        |SELECT n_name, CAST(count(*) AS BIGINT) AS n_brands,
        |       CAST(sum(share_ppm * share_ppm) // 1000000 AS BIGINT) AS hhi_ppm
        |FROM sh GROUP BY 1""".stripMargin,

    "q255_mann_whitney" ->
      """WITH d AS (
        |  SELECT CAST(CAST(o_totalprice AS DECIMAL(30,2)) * 100 AS BIGINT) AS v,
        |         o_orderpriority = '1-URGENT' AS g1
        |  FROM orders
        |  WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
        |), rk AS (
        |  SELECT v, g1,
        |         2 * rank() OVER (ORDER BY v) +
        |         count(*) OVER (PARTITION BY v) - 1 AS dr
        |  FROM d
        |), ties AS (
        |  SELECT CAST(sum(t * t * t - t) AS BIGINT) AS tie_term
        |  FROM (SELECT count(*) AS t FROM d GROUP BY v)
        |), a AS (
        |  SELECT CAST(sum(CASE WHEN g1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |         CAST(sum(CASE WHEN g1 THEN 0 ELSE 1 END) AS BIGINT) AS n2,
        |         CAST(sum(CASE WHEN g1 THEN dr ELSE 0 END) AS BIGINT)
        |           AS r1_doubled
        |  FROM rk
        |), b AS (
        |  SELECT n1, n2, r1_doubled, tie_term,
        |         CAST(r1_doubled AS DOUBLE) / 2.0 -
        |           CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) + 1.0) / 2.0 AS u1,
        |         CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) AS nn
        |  FROM a, ties
        |)
        |SELECT n1, n2, r1_doubled, tie_term, u1,
        |       (u1 - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 2.0) /
        |       sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0 *
        |            ((nn + 1.0) - CAST(tie_term AS DOUBLE) /
        |                          (nn * (nn - 1.0)))) AS z
        |FROM b""".stripMargin,

    "q256_target_encoding" ->
      """WITH d AS (
        |  SELECT p.p_brand,
        |         CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |), g AS (
        |  SELECT CAST(count(*) AS BIGINT) AS gn,
        |         CAST(sum(y) AS BIGINT) AS gpos
        |  FROM d
        |)
        |SELECT p_brand, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(y) AS BIGINT) AS pos,
        |       CAST(CAST(sum(y) AS DECIMAL(19,0)) * CAST(gn AS DECIMAL(19,0)) +
        |            CAST(10 AS DECIMAL(19,0)) * CAST(gpos AS DECIMAL(19,0))
        |            AS DOUBLE) /
        |       CAST(CAST(count(*) + 10 AS DECIMAL(19,0)) *
        |            CAST(gn AS DECIMAL(19,0)) AS DOUBLE) AS enc
        |FROM d, g GROUP BY p_brand, gn, gpos""".stripMargin,

    "q257_gini_stump" ->
      """WITH per_size AS (
        |  SELECT CAST(p.p_size AS BIGINT) AS split_size,
        |         CAST(count(*) AS BIGINT) AS cnt,
        |         CAST(sum(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
        |              AS BIGINT) AS pos
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |  GROUP BY 1
        |), cum AS (
        |  SELECT split_size,
        |    CAST(sum(cnt) OVER (ORDER BY split_size ROWS UNBOUNDED PRECEDING)
        |         AS BIGINT) AS nl,
        |    CAST(sum(pos) OVER (ORDER BY split_size ROWS UNBOUNDED PRECEDING)
        |         AS BIGINT) AS posl,
        |    CAST(sum(cnt) OVER () AS BIGINT) AS nt,
        |    CAST(sum(pos) OVER () AS BIGINT) AS post
        |  FROM per_size
        |), im AS (
        |  SELECT split_size, nl, posl, nt - nl AS nr, post - posl AS posr,
        |    CAST(CAST(nl AS DECIMAL(19,0)) * CAST(nl AS DECIMAL(19,0)) -
        |         CAST(posl AS DECIMAL(19,0)) * CAST(posl AS DECIMAL(19,0)) -
        |         CAST(nl - posl AS DECIMAL(19,0)) *
        |         CAST(nl - posl AS DECIMAL(19,0)) AS DOUBLE) /
        |      CAST(nl AS DOUBLE) +
        |    CAST(CAST(nt - nl AS DECIMAL(19,0)) * CAST(nt - nl AS DECIMAL(19,0)) -
        |         CAST(post - posl AS DECIMAL(19,0)) *
        |         CAST(post - posl AS DECIMAL(19,0)) -
        |         CAST((nt - nl) - (post - posl) AS DECIMAL(19,0)) *
        |         CAST((nt - nl) - (post - posl) AS DECIMAL(19,0)) AS DOUBLE) /
        |      CAST(nt - nl AS DOUBLE) AS impurity
        |  FROM cum WHERE nt - nl > 0
        |)
        |SELECT split_size, nl AS n_left, posl AS pos_left,
        |       nr AS n_right, posr AS pos_right, impurity
        |FROM (SELECT *, row_number() OVER (ORDER BY impurity, split_size)
        |               AS rnk
        |      FROM im)
        |WHERE rnk = 1""".stripMargin,

    "q258_fill_rate" ->
      """WITH per_order AS (
        |  SELECT o.o_orderkey, o.o_orderpriority,
        |         CAST(count(*) AS BIGINT) AS n_lines,
        |         CAST(sum(CASE WHEN datediff('day', CAST(o.o_orderdate AS DATE),
        |                                     CAST(l.l_shipdate AS DATE)) <= 30
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_fast
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  GROUP BY 1, 2
        |)
        |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(n_lines) AS BIGINT) AS sum_lines,
        |       CAST(sum(n_fast) AS BIGINT) AS sum_fast,
        |       CAST(sum(CASE WHEN n_fast = n_lines THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_perfect,
        |       CAST(sum(n_fast) * 1000000 // sum(n_lines) AS BIGINT) AS fill_ppm
        |FROM per_order GROUP BY 1""".stripMargin,

    "q259_kfold_assign" ->
      """SELECT CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)
        |            AS BIGINT) % 5 AS fold,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(30,2)) * 100
        |                     AS BIGINT)) AS BIGINT) AS rev_cents,
        |       CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_urgent,
        |       CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
        |                     THEN 1 ELSE 0 END) * 1000000 // count(*)
        |            AS BIGINT) AS urgent_ppm
        |FROM orders GROUP BY 1""".stripMargin,

    "q260_learning_curve" ->
      """WITH r AS (
        |  SELECT doc_id, n_chars,
        |         row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)),
        |                            doc_id) AS rn
        |  FROM documents
        |), t AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM r),
        |sizes AS (
        |  SELECT denom, CAST(n_total // denom AS BIGINT) AS sz
        |  FROM t, unnest([8, 4, 2, 1]) AS u(denom)
        |)
        |SELECT CAST(s.denom AS BIGINT) AS denom, s.sz AS size,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(r.n_chars) AS BIGINT) AS sum_chars,
        |       CAST(CAST(sum(r.n_chars) AS BIGINT) AS DOUBLE) /
        |         CAST(count(*) AS DOUBLE) AS mean_chars
        |FROM sizes s JOIN r ON r.rn <= s.sz
        |GROUP BY 1, 2""".stripMargin,

    "q261_behavior_trigrams" ->
      """WITH tri AS (
        |  SELECT event_type || '>' ||
        |         lead(event_type, 1) OVER w || '>' ||
        |         lead(event_type, 2) OVER w AS trigram
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), c AS (
        |  SELECT trigram, CAST(count(*) AS BIGINT) AS cnt
        |  FROM tri WHERE trigram IS NOT NULL GROUP BY 1
        |)
        |SELECT trigram, cnt
        |FROM (SELECT *, row_number() OVER (ORDER BY cnt DESC, trigram) AS rnk
        |      FROM c)
        |WHERE rnk <= 20""".stripMargin,

    "q262_session_entropy" ->
      """WITH a AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |         AS BIGINT) AS c_click,
        |    CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        |         AS BIGINT) AS c_error,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |         AS BIGINT) AS c_purchase,
        |    CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
        |         AS BIGINT) AS c_signup,
        |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |         AS BIGINT) AS c_view
        |  FROM events GROUP BY 1
        |)
        |SELECT user_id, n,
        |  CAST(floor(1e6 * (ln(CAST(n AS DOUBLE)) -
        |  (CASE WHEN c_click > 0
        |        THEN CAST(c_click AS DOUBLE) * ln(CAST(c_click AS DOUBLE))
        |        ELSE 0.0 END +
        |   CASE WHEN c_error > 0
        |        THEN CAST(c_error AS DOUBLE) * ln(CAST(c_error AS DOUBLE))
        |        ELSE 0.0 END +
        |   CASE WHEN c_purchase > 0
        |        THEN CAST(c_purchase AS DOUBLE) * ln(CAST(c_purchase AS DOUBLE))
        |        ELSE 0.0 END +
        |   CASE WHEN c_signup > 0
        |        THEN CAST(c_signup AS DOUBLE) * ln(CAST(c_signup AS DOUBLE))
        |        ELSE 0.0 END +
        |   CASE WHEN c_view > 0
        |        THEN CAST(c_view AS DOUBLE) * ln(CAST(c_view AS DOUBLE))
        |        ELSE 0.0 END) / CAST(n AS DOUBLE))) AS BIGINT)
        |    AS entropy_micronats
        |FROM a""".stripMargin,

    "q263_source_cosine" ->
      """WITH tc AS (
        |  SELECT source, tok AS token, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT source,
        |               unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
        |                 AS tok
        |        FROM documents)
        |  GROUP BY 1, 2
        |), norms AS (
        |  SELECT source,
        |         CAST(sum(CAST(c AS DECIMAL(19,0)) * CAST(c AS DECIMAL(19,0)))
        |              AS DOUBLE) AS nrm2
        |  FROM tc GROUP BY 1
        |), dots AS (
        |  SELECT a.source AS src_a, b.source AS src_b,
        |         CAST(sum(CAST(a.c AS DECIMAL(19,0)) *
        |                  CAST(b.c AS DECIMAL(19,0))) AS DOUBLE) AS dot
        |  FROM tc a JOIN tc b ON a.token = b.token AND a.source < b.source
        |  GROUP BY 1, 2
        |)
        |SELECT d.src_a, d.src_b,
        |       d.dot / (sqrt(na.nrm2) * sqrt(nb.nrm2)) AS cosine
        |FROM dots d
        |JOIN norms na ON d.src_a = na.source
        |JOIN norms nb ON d.src_b = nb.source""".stripMargin,

    "q264_life_table" ->
      """WITH pu AS (
        |  SELECT user_id, min(epoch_us(ts)) AS first_us,
        |         min(CASE WHEN event_type = 'purchase'
        |                  THEN epoch_us(ts) END) AS conv_us,
        |         max(epoch_us(ts)) AS last_us
        |  FROM events GROUP BY 1
        |), d AS (
        |  SELECT CASE WHEN conv_us IS NOT NULL THEN 1 ELSE 0 END AS event,
        |         (coalesce(conv_us, last_us) - first_us) // 86400000000
        |           AS t_day
        |  FROM pu
        |), exits AS (
        |  SELECT t_day, CAST(sum(event) AS BIGINT) AS n_event,
        |         CAST(sum(1 - event) AS BIGINT) AS n_censored
        |  FROM d GROUP BY 1
        |), tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM pu)
        |SELECT CAST(t_day AS BIGINT) AS t_day,
        |       n_total - CAST(coalesce(
        |         sum(n_event + n_censored) OVER (ORDER BY t_day
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |         AS BIGINT) AS n_risk,
        |       n_event, n_censored
        |FROM exits, tot""".stripMargin,

    "q265_two_proportion" ->
      """WITH pu AS (
        |  SELECT user_id,
        |         CAST(sum(CASE WHEN event_type = 'purchase'
        |                       THEN 1 ELSE 0 END) >= 14 AS BIGINT) AS conv,
        |         user_id % 2 AS variant
        |  FROM events GROUP BY 1
        |), a AS (
        |  SELECT
        |    CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
        |    CAST(sum(CASE WHEN variant = 0 THEN conv ELSE 0 END) AS BIGINT) AS c0,
        |    CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN variant = 1 THEN conv ELSE 0 END) AS BIGINT) AS c1
        |  FROM pu
        |), b AS (
        |  SELECT n0, c0, n1, c1,
        |         CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE) AS pp
        |  FROM a
        |)
        |SELECT n0, c0, n1, c1,
        |       CASE WHEN pp > 0.0 AND pp < 1.0 THEN
        |         (CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE) -
        |          CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE)) /
        |         sqrt(pp * (1.0 - pp) * (1.0 / CAST(n0 AS DOUBLE) +
        |                                 1.0 / CAST(n1 AS DOUBLE)))
        |       END AS z
        |FROM b""".stripMargin,

    "q266_psi_bins" ->
      """WITH d AS (
        |  SELECT CAST(CAST(o_totalprice AS DECIMAL(30,2)) * 100 AS BIGINT) AS v,
        |         year(o_orderdate) < 1998 AS ref
        |  FROM orders
        |), e AS (
        |  SELECT quantile_cont(v, [0.1, 0.2, 0.3, 0.4, 0.5,
        |                           0.6, 0.7, 0.8, 0.9]) AS edges
        |  FROM d WHERE ref
        |), binned AS (
        |  SELECT CAST(len(list_filter(e.edges,
        |                x -> CAST(d.v AS DOUBLE) > x)) + 1 AS BIGINT) AS bin,
        |         CAST(sum(CASE WHEN d.ref THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |         CAST(sum(CASE WHEN d.ref THEN 0 ELSE 1 END) AS BIGINT) AS c2
        |  FROM d, e GROUP BY 1
        |), tot AS (
        |  SELECT CAST(sum(c1) AS BIGINT) AS t1,
        |         CAST(sum(c2) AS BIGINT) AS t2
        |  FROM binned
        |)
        |SELECT bin, c1, c2,
        |       CAST(c1 * 1000000 // t1 AS BIGINT) AS p1_ppm,
        |       CAST(c2 * 1000000 // t2 AS BIGINT) AS p2_ppm,
        |       CASE WHEN c1 > 0 AND c2 > 0 THEN
        |         CAST(floor(1e9 *
        |           ((CAST(c1 AS DOUBLE) / CAST(t1 AS DOUBLE) -
        |             CAST(c2 AS DOUBLE) / CAST(t2 AS DOUBLE)) *
        |            ln((CAST(c1 AS DOUBLE) / CAST(t1 AS DOUBLE)) /
        |               (CAST(c2 AS DOUBLE) / CAST(t2 AS DOUBLE)))))
        |              AS BIGINT)
        |       END AS psi_term_nano
        |FROM binned, tot""".stripMargin,

    "q267_order_gap_stats" ->
      """WITH g AS (
        |  SELECT o_custkey,
        |         datediff('day',
        |           lag(CAST(o_orderdate AS DATE), 1)
        |             OVER (PARTITION BY o_custkey
        |                   ORDER BY CAST(o_orderdate AS DATE), o_orderkey),
        |           CAST(o_orderdate AS DATE)) AS gap_days
        |  FROM orders
        |), d AS (
        |  SELECT c.c_mktsegment, CAST(g.gap_days AS BIGINT) AS gap_days
        |  FROM g JOIN customer c ON g.o_custkey = c.c_custkey
        |  WHERE g.gap_days IS NOT NULL
        |)
        |SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_gaps,
        |       CAST(min(gap_days) AS BIGINT) AS min_d,
        |       quantile_cont(gap_days, 0.5) AS median_d,
        |       quantile_cont(gap_days, 0.9) AS p90_d,
        |       CAST(max(gap_days) AS BIGINT) AS max_d
        |FROM d GROUP BY 1""".stripMargin,

    "q268_seasonality_index" ->
      """WITH m AS (
        |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
        |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(30,2)) * 100
        |                       AS BIGINT)) AS BIGINT) AS rev_cents
        |  FROM orders GROUP BY 1
        |), w AS (
        |  SELECT month, rev_cents,
        |    CAST(sum(rev_cents) OVER (ORDER BY month
        |      ROWS BETWEEN 11 PRECEDING AND CURRENT ROW) AS BIGINT) AS s12,
        |    count(*) OVER (ORDER BY month
        |      ROWS BETWEEN 11 PRECEDING AND CURRENT ROW) AS n12
        |  FROM m
        |)
        |SELECT month, rev_cents,
        |       CAST(rev_cents * 12 * 1000000 // s12 AS BIGINT) AS index_ppm
        |FROM w WHERE n12 = 12""".stripMargin,

    "q269_hapax_ttr" ->
      """WITH tc AS (
        |  SELECT source, tok AS token, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT source,
        |               unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
        |                 AS tok
        |        FROM documents)
        |  GROUP BY 1, 2
        |)
        |SELECT source, CAST(count(*) AS BIGINT) AS vocab,
        |       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
        |       CAST(sum(c) AS BIGINT) AS total_tokens,
        |       CAST(count(*) * 1000000 // sum(c) AS BIGINT) AS ttr_ppm,
        |       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000000
        |            // count(*) AS BIGINT) AS hapax_ppm
        |FROM tc GROUP BY 1""".stripMargin,

    "q270_roc_points" ->
      """WITH d AS (
        |  SELECT CAST(CAST(o_totalprice AS DECIMAL(30,2)) * 100 AS BIGINT) AS v,
        |         o_orderstatus = 'F' AS pos
        |  FROM orders
        |), e AS (
        |  SELECT quantile_cont(v, [0.1, 0.2, 0.3, 0.4, 0.5,
        |                           0.6, 0.7, 0.8, 0.9]) AS edges
        |  FROM d
        |), binned AS (
        |  SELECT CAST(len(list_filter(e.edges,
        |                x -> CAST(d.v AS DOUBLE) > x)) + 1 AS BIGINT) AS bin,
        |         CAST(sum(CASE WHEN d.pos THEN 1 ELSE 0 END) AS BIGINT) AS p,
        |         CAST(sum(CASE WHEN d.pos THEN 0 ELSE 1 END) AS BIGINT) AS q
        |  FROM d, e GROUP BY 1
        |)
        |SELECT bin,
        |  CAST(sum(p) OVER (ORDER BY bin DESC ROWS UNBOUNDED PRECEDING)
        |       AS BIGINT) AS cum_pos,
        |  CAST(sum(q) OVER (ORDER BY bin DESC ROWS UNBOUNDED PRECEDING)
        |       AS BIGINT) AS cum_neg,
        |  CAST(sum(p) OVER (ORDER BY bin DESC ROWS UNBOUNDED PRECEDING)
        |       * 1000000 // sum(p) OVER () AS BIGINT) AS tpr_ppm,
        |  CAST(sum(q) OVER (ORDER BY bin DESC ROWS UNBOUNDED PRECEDING)
        |       * 1000000 // sum(q) OVER () AS BIGINT) AS fpr_ppm
        |FROM binned""".stripMargin,

    "q271_ndcg_popularity" ->
      """WITH pop AS (
        |  SELECT l_partkey, CAST(count(*) AS BIGINT) AS cnt
        |  FROM lineitem GROUP BY 1
        |), top10 AS (
        |  SELECT l_partkey, pos,
        |         CAST(round(1000000.0 * ln(2.0) /
        |                    ln(CAST(pos AS DOUBLE) + 1.0)) AS BIGINT) AS w_ppm
        |  FROM (SELECT l_partkey,
        |               row_number() OVER (ORDER BY cnt DESC, l_partkey) AS pos
        |        FROM pop)
        |  WHERE pos <= 10
        |), cumw AS (
        |  SELECT pos, CAST(sum(w_ppm) OVER (ORDER BY pos
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cw
        |  FROM top10
        |), rel AS (
        |  SELECT DISTINCT o.o_custkey, l.l_partkey
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |), per_cust AS (
        |  SELECT r.o_custkey, CAST(count(*) AS BIGINT) AS nrel,
        |         CAST(coalesce(sum(t.w_ppm), 0) AS BIGINT) AS dcg_q
        |  FROM rel r LEFT JOIN top10 t ON r.l_partkey = t.l_partkey
        |  GROUP BY 1
        |), scored AS (
        |  SELECT p.o_custkey,
        |         CAST(p.dcg_q * 1000000 // c.cw AS BIGINT) AS ndcg_ppm
        |  FROM per_cust p
        |  JOIN cumw c ON c.pos = least(p.nrel, 10)
        |)
        |SELECT cu.c_mktsegment, CAST(count(*) AS BIGINT) AS n_users,
        |       CAST(sum(s.ndcg_ppm) // count(*) AS BIGINT) AS mean_ndcg_ppm
        |FROM scored s JOIN customer cu ON s.o_custkey = cu.c_custkey
        |GROUP BY 1""".stripMargin,

    "q272_vocab_growth" ->
      """WITH r AS (
        |  SELECT doc_id, text,
        |         row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)),
        |                            doc_id) AS rn
        |  FROM documents
        |), fs AS (
        |  SELECT tok AS token, CAST(min(rn) AS BIGINT) AS first_rn
        |  FROM (SELECT rn,
        |               unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
        |                 AS tok
        |        FROM r)
        |  GROUP BY 1
        |), t AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM r),
        |sizes AS (
        |  SELECT denom, CAST(n_total // denom AS BIGINT) AS sz
        |  FROM t, unnest([8, 4, 2, 1]) AS u(denom)
        |)
        |SELECT CAST(s.denom AS BIGINT) AS denom, s.sz AS size,
        |       CAST(count(*) AS BIGINT) AS vocab
        |FROM sizes s JOIN fs f ON f.first_rn <= s.sz
        |GROUP BY 1, 2""".stripMargin,

    "q273_wau_mau" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
        |), weeks AS (
        |  SELECT DISTINCT CAST(date_trunc('week', d) AS DATE) AS wk FROM ud
        |), ex AS (
        |  SELECT u.user_id, t.k,
        |         CAST(date_trunc('week', u.d) AS DATE) + t.k * 7 AS wk
        |  FROM ud u, unnest([0, 1, 2, 3]) AS t(k)
        |)
        |SELECT e.wk,
        |       CAST(count(DISTINCT e.user_id) AS BIGINT) AS mau,
        |       CAST(count(DISTINCT CASE WHEN e.k = 0
        |                                THEN e.user_id END) AS BIGINT) AS wau,
        |       CAST(count(DISTINCT CASE WHEN e.k = 0
        |                                THEN e.user_id END) * 1000000 //
        |            count(DISTINCT e.user_id) AS BIGINT) AS stickiness_ppm
        |FROM ex e JOIN weeks w ON e.wk = w.wk
        |GROUP BY 1""".stripMargin,

    "q274_collocation_pmi" ->
      """WITH t AS (
        |  SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
        |  FROM documents
        |), uni AS (
        |  SELECT w, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT unnest(ts) AS w FROM t) GROUP BY 1
        |), bi AS (
        |  SELECT bigram, CAST(count(*) AS BIGINT) AS c_xy
        |  FROM (SELECT unnest(list_transform(generate_series(1, len(ts)-1),
        |                 i -> ts[i] || ' ' || ts[i+1])) AS bigram
        |        FROM t)
        |  GROUP BY 1 HAVING count(*) >= 5
        |), nu AS (SELECT CAST(sum(c) AS BIGINT) AS n_uni FROM uni),
        |nb AS (
        |  SELECT CAST(sum(greatest(len(ts) - 1, 0)) AS BIGINT) AS n_bi FROM t
        |), j AS (
        |  SELECT b.bigram, b.c_xy, ux.c AS c_x, uy.c AS c_y,
        |    CAST(floor(1e6 * (ln(CAST(b.c_xy AS DOUBLE)) +
        |      2.0 * ln(CAST(nu.n_uni AS DOUBLE)) -
        |      ln(CAST(nb.n_bi AS DOUBLE)) -
        |      ln(CAST(ux.c AS DOUBLE)) -
        |      ln(CAST(uy.c AS DOUBLE)))) AS BIGINT) AS pmi_micronats
        |  FROM bi b
        |  JOIN uni ux ON ux.w = split_part(b.bigram, ' ', 1)
        |  JOIN uni uy ON uy.w = split_part(b.bigram, ' ', 2)
        |  CROSS JOIN nu CROSS JOIN nb
        |)
        |SELECT bigram, c_xy, c_x, c_y, pmi_micronats
        |FROM (SELECT *, row_number() OVER (ORDER BY pmi_micronats DESC,
        |                                   bigram) AS rnk
        |      FROM j)
        |WHERE rnk <= 30""".stripMargin,

    "q275_mrr_hitrate" ->
      """WITH pop AS (
        |  SELECT l_partkey, CAST(count(*) AS BIGINT) AS cnt
        |  FROM lineitem GROUP BY 1
        |), top10 AS (
        |  SELECT l_partkey, CAST(pos AS BIGINT) AS pos
        |  FROM (SELECT l_partkey,
        |               row_number() OVER (ORDER BY cnt DESC, l_partkey) AS pos
        |        FROM pop)
        |  WHERE pos <= 10
        |), rel AS (
        |  SELECT DISTINCT o.o_custkey, l.l_partkey
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |), per_cust AS (
        |  SELECT r.o_custkey, min(t.pos) AS first_pos
        |  FROM rel r LEFT JOIN top10 t ON r.l_partkey = t.l_partkey
        |  GROUP BY 1
        |), scored AS (
        |  SELECT o_custkey,
        |         CASE WHEN first_pos IS NOT NULL THEN 1 ELSE 0 END AS hit,
        |         CASE WHEN first_pos IS NOT NULL
        |              THEN CAST(1000000 // first_pos AS BIGINT)
        |              ELSE 0 END AS rr_ppm
        |  FROM per_cust
        |)
        |SELECT cu.c_mktsegment, CAST(count(*) AS BIGINT) AS n_users,
        |       CAST(sum(s.hit) AS BIGINT) AS n_hits,
        |       CAST(sum(s.hit) * 1000000 // count(*) AS BIGINT) AS hit_ppm,
        |       CAST(sum(s.rr_ppm) // count(*) AS BIGINT) AS mean_rr_ppm
        |FROM scored s JOIN customer cu ON s.o_custkey = cu.c_custkey
        |GROUP BY 1""".stripMargin,

    "q276_kmv_distinct" -> QueryShared.kmvDistinctSql,

    // identical md5 hash space, LIMIT-k sketches, floor-double
    // estimates and the integer rho division
    "q475_kmv_setops" ->
      """WITH h AS (
        |  SELECT DISTINCT event_type,
        |    CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
        |         AS BIGINT) AS h
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |), ha AS (SELECT h FROM h WHERE event_type = 'click'),
        |hb AS (SELECT h FROM h WHERE event_type = 'purchase'),
        |ska AS (SELECT h FROM ha ORDER BY h LIMIT 64),
        |skb AS (SELECT h FROM hb ORDER BY h LIMIT 64),
        |sku AS (
        |  SELECT h FROM (SELECT DISTINCT h FROM (
        |    SELECT h FROM ska UNION ALL SELECT h FROM skb))
        |  ORDER BY h LIMIT 64
        |), ea AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k_a,
        |    CAST(floor((CAST(count(*) AS DOUBLE) - 1.0) * pow(2.0, 60.0)
        |      / CAST(max(h) AS DOUBLE)) AS BIGINT) AS est_a
        |  FROM ska
        |), eb AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k_b,
        |    CAST(floor((CAST(count(*) AS DOUBLE) - 1.0) * pow(2.0, 60.0)
        |      / CAST(max(h) AS DOUBLE)) AS BIGINT) AS est_b
        |  FROM skb
        |), eu AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k_u,
        |    CAST(floor((CAST(count(*) AS DOUBLE) - 1.0) * pow(2.0, 60.0)
        |      / CAST(max(h) AS DOUBLE)) AS BIGINT) AS est_union
        |  FROM sku
        |), xa AS (SELECT CAST(count(*) AS BIGINT) AS n_exact_a FROM ha),
        |xb AS (SELECT CAST(count(*) AS BIGINT) AS n_exact_b FROM hb),
        |xi AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_exact_intersect
        |  FROM ha WHERE h IN (SELECT h FROM hb)
        |), r AS (
        |  SELECT CAST(count(*) AS BIGINT) AS rho_cnt
        |  FROM sku WHERE h IN (SELECT h FROM ha)
        |    AND h IN (SELECT h FROM hb)
        |)
        |SELECT xa.n_exact_a, xb.n_exact_b, xi.n_exact_intersect,
        |  CAST(xa.n_exact_a + xb.n_exact_b - xi.n_exact_intersect
        |    AS BIGINT) AS n_exact_union,
        |  ea.k_a, ea.est_a, eb.k_b, eb.est_b, eu.k_u, eu.est_union,
        |  r.rho_cnt,
        |  CAST(r.rho_cnt * eu.est_union // eu.k_u AS BIGINT)
        |    AS est_intersect
        |FROM xa, xb, xi, ea, eb, eu, r""".stripMargin,


    "q277_vwap" ->
      """SELECT p.p_brand,
        |       CAST(date_trunc('month', l.l_shipdate) AS DATE) AS month,
        |       CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |       CAST(sum(CAST(CAST(CAST(p.p_retailprice AS DECIMAL(30,2)) * 100
        |                          AS BIGINT) AS DECIMAL(19,0)) *
        |                CAST(CAST(l.l_quantity AS BIGINT) AS DECIMAL(19,0)))
        |            AS DOUBLE) /
        |         CAST(CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT)
        |              AS DOUBLE) AS vwap_cents
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |GROUP BY 1, 2""".stripMargin,

    "q278_degree_assortativity" ->
      """WITH edges AS (
        |  SELECT DISTINCT o.o_custkey, l.l_suppkey
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |), dc AS (
        |  SELECT o_custkey, CAST(count(*) AS BIGINT) AS x
        |  FROM edges GROUP BY 1
        |), ds AS (
        |  SELECT l_suppkey, CAST(count(*) AS BIGINT) AS y
        |  FROM edges GROUP BY 1
        |), a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_edges,
        |         CAST(sum(dc.x) AS BIGINT) AS sx,
        |         CAST(sum(ds.y) AS BIGINT) AS sy,
        |         CAST(sum(CAST(dc.x AS DECIMAL(19,0)) *
        |                  CAST(ds.y AS DECIMAL(19,0))) AS DOUBLE) AS sxy,
        |         CAST(sum(CAST(dc.x AS DECIMAL(19,0)) *
        |                  CAST(dc.x AS DECIMAL(19,0))) AS DOUBLE) AS sxx,
        |         CAST(sum(CAST(ds.y AS DECIMAL(19,0)) *
        |                  CAST(ds.y AS DECIMAL(19,0))) AS DOUBLE) AS syy
        |  FROM edges e
        |  JOIN dc ON e.o_custkey = dc.o_custkey
        |  JOIN ds ON e.l_suppkey = ds.l_suppkey
        |)
        |SELECT n_edges, sx, sy,
        |       (CAST(n_edges AS DOUBLE) * sxy -
        |        CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |       sqrt((CAST(n_edges AS DOUBLE) * sxx -
        |             CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
        |            (CAST(n_edges AS DOUBLE) * syy -
        |             CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS r
        |FROM a""".stripMargin,

    "q279_overdispersion" ->
      """WITH cells AS (
        |  SELECT event_type, user_id, CAST(ts AS DATE) AS d,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2, 3
        |), a AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_cells,
        |         CAST(sum(n) AS BIGINT) AS sum_n,
        |         CAST(sum(CAST(n AS DECIMAL(19,0)) * CAST(n AS DECIMAL(19,0)))
        |              AS DOUBLE) AS sum_n2
        |  FROM cells GROUP BY 1
        |)
        |SELECT event_type, n_cells, sum_n,
        |       (CAST(n_cells AS DOUBLE) * sum_n2 -
        |        CAST(sum_n AS DOUBLE) * CAST(sum_n AS DOUBLE)) /
        |       (CAST(n_cells AS DOUBLE) * CAST(sum_n AS DOUBLE)) AS vmr
        |FROM a""".stripMargin,

    "q280_catalog_coverage" ->
      """WITH sold AS (SELECT DISTINCT l_partkey FROM lineitem)
        |SELECT p.p_brand, CAST(count(*) AS BIGINT) AS n_parts,
        |       CAST(sum(CASE WHEN s.l_partkey IS NULL THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_cold,
        |       CAST(sum(CASE WHEN s.l_partkey IS NULL THEN 1 ELSE 0 END)
        |            * 1000000 // count(*) AS BIGINT) AS cold_ppm
        |FROM part p LEFT JOIN sold s ON p.p_partkey = s.l_partkey
        |GROUP BY 1""".stripMargin,

    "q281_price_dispersion" ->
      """WITH a AS (
        |  SELECT l_partkey, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(30,2)) * 100
        |                  AS BIGINT)) AS BIGINT) AS s,
        |    CAST(sum(CAST(CAST(CAST(l_extendedprice AS DECIMAL(30,2)) * 100
        |                       AS BIGINT) AS DECIMAL(19,0)) *
        |             CAST(CAST(CAST(l_extendedprice AS DECIMAL(30,2)) * 100
        |                       AS BIGINT) AS DECIMAL(19,0))) AS DOUBLE) AS s2
        |  FROM lineitem GROUP BY 1
        |)
        |SELECT l_partkey, n, s AS sum_cents,
        |       CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean_cents,
        |       sqrt(CAST(n AS DOUBLE) * s2 -
        |            CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) /
        |         CAST(s AS DOUBLE) AS cv
        |FROM a WHERE n >= 8""".stripMargin,

    "q283_k_anonymity" ->
      """WITH e AS (
        |  SELECT quantile_cont(c_acctbal, [0.1, 0.2, 0.3, 0.4, 0.5,
        |                                   0.6, 0.7, 0.8, 0.9]) AS edges
        |  FROM customer
        |), qi AS (
        |  SELECT c.c_custkey, c.c_nationkey, c.c_mktsegment,
        |         CAST(len(list_filter(e.edges, x -> c.c_acctbal > x)) + 1
        |              AS BIGINT) AS bal_bin
        |  FROM customer c, e
        |), sens AS (
        |  SELECT DISTINCT o_custkey, o_orderpriority FROM orders
        |), groups AS (
        |  SELECT q.c_nationkey, q.c_mktsegment, q.bal_bin,
        |         CAST(count(DISTINCT q.c_custkey) AS BIGINT) AS k,
        |         CAST(count(DISTINCT s.o_orderpriority) AS BIGINT) AS l
        |  FROM qi q LEFT JOIN sens s ON q.c_custkey = s.o_custkey
        |  GROUP BY 1, 2, 3
        |)
        |SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
        |       CAST(count(*) AS BIGINT) AS n_groups,
        |       CAST(sum(CASE WHEN k < 5 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_small_groups,
        |       CAST(sum(k) AS BIGINT) AS n_users,
        |       CAST(sum(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT)
        |         AS n_at_risk,
        |       CAST(min(l) AS BIGINT) AS min_l,
        |       CAST(sum(CASE WHEN k < 5 THEN k ELSE 0 END) * 1000000 //
        |            sum(k) AS BIGINT) AS risk_ppm
        |FROM groups GROUP BY 1""".stripMargin,

    "q284_acf" ->
      """WITH daily AS (
        |  SELECT CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE))
        |              AS BIGINT) AS t,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1
        |), pairs AS (
        |  SELECT l.lag, a.n AS x, b.n AS y
        |  FROM unnest([1, 2, 3, 4, 5, 6, 7]) AS l(lag)
        |  JOIN daily a ON TRUE
        |  JOIN daily b ON b.t = a.t + l.lag
        |), a AS (
        |  SELECT lag, CAST(count(*) AS BIGINT) AS n_pairs,
        |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |         CAST(sum(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
        |              AS DOUBLE) AS sxy,
        |         CAST(sum(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0)))
        |              AS DOUBLE) AS sxx,
        |         CAST(sum(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
        |              AS DOUBLE) AS syy
        |  FROM pairs GROUP BY 1
        |)
        |SELECT CAST(lag AS BIGINT) AS lag, n_pairs,
        |       (CAST(n_pairs AS DOUBLE) * sxy -
        |        CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |       sqrt((CAST(n_pairs AS DOUBLE) * sxx -
        |             CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
        |            (CAST(n_pairs AS DOUBLE) * syy -
        |             CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS r
        |FROM a""".stripMargin,

    "q285_seasonal_backtest" ->
      """WITH m AS (
        |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
        |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(30,2)) * 100
        |                       AS BIGINT)) AS BIGINT) AS actual_cents
        |  FROM orders GROUP BY 1
        |), f AS (
        |  SELECT month, actual_cents,
        |         lag(actual_cents, 12) OVER (ORDER BY month) AS pred_cents
        |  FROM m
        |)
        |SELECT month, actual_cents, pred_cents,
        |       CAST(abs(actual_cents - pred_cents) AS BIGINT) AS abs_err_cents,
        |       CAST(abs(actual_cents - pred_cents) * 1000000 // actual_cents
        |            AS BIGINT) AS ape_ppm
        |FROM f WHERE pred_cents IS NOT NULL""".stripMargin,

    "q286_diff_in_diff" ->
      """WITH d AS (
        |  SELECT user_id,
        |         ts < TIMESTAMP '2024-01-16 00:00:00' AS pre,
        |         CAST(CAST(value AS DECIMAL(30,2)) * 100 AS BIGINT) AS c
        |  FROM events
        |), a AS (
        |  SELECT
        |    CAST(sum(CASE WHEN user_id % 2 = 0 AND pre THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_c_pre,
        |    CAST(sum(CASE WHEN user_id % 2 = 0 AND pre THEN c ELSE 0 END)
        |         AS BIGINT) AS s_c_pre,
        |    CAST(sum(CASE WHEN user_id % 2 = 0 AND NOT pre THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_c_post,
        |    CAST(sum(CASE WHEN user_id % 2 = 0 AND NOT pre THEN c ELSE 0 END)
        |         AS BIGINT) AS s_c_post,
        |    CAST(sum(CASE WHEN user_id % 2 = 1 AND pre THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_t_pre,
        |    CAST(sum(CASE WHEN user_id % 2 = 1 AND pre THEN c ELSE 0 END)
        |         AS BIGINT) AS s_t_pre,
        |    CAST(sum(CASE WHEN user_id % 2 = 1 AND NOT pre THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_t_post,
        |    CAST(sum(CASE WHEN user_id % 2 = 1 AND NOT pre THEN c ELSE 0 END)
        |         AS BIGINT) AS s_t_post
        |  FROM d
        |)
        |SELECT n_c_pre, s_c_pre, n_c_post, s_c_post,
        |       n_t_pre, s_t_pre, n_t_post, s_t_post,
        |       (CAST(s_t_post AS DOUBLE) / CAST(n_t_post AS DOUBLE) -
        |        CAST(s_t_pre AS DOUBLE) / CAST(n_t_pre AS DOUBLE)) -
        |       (CAST(s_c_post AS DOUBLE) / CAST(n_c_post AS DOUBLE) -
        |        CAST(s_c_pre AS DOUBLE) / CAST(n_c_pre AS DOUBLE)) AS did_cents
        |FROM a""".stripMargin,


    "q295_sma_crossover" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS d,
        |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(30,2)) * 100
        |                       AS BIGINT)) AS BIGINT) AS v
        |  FROM orders GROUP BY 1
        |), r AS (
        |  SELECT d,
        |    sum(v) OVER (ORDER BY d ROWS BETWEEN 6 PRECEDING
        |                 AND CURRENT ROW) AS s7,
        |    sum(v) OVER (ORDER BY d ROWS BETWEEN 27 PRECEDING
        |                 AND CURRENT ROW) AS s28,
        |    count(*) OVER (ORDER BY d ROWS BETWEEN 27 PRECEDING
        |                   AND CURRENT ROW) AS n28
        |  FROM daily
        |), sg AS (
        |  SELECT d,
        |    CAST(CASE WHEN s7 * 28 > s28 * 7 THEN 1
        |              WHEN s7 * 28 < s28 * 7 THEN -1 ELSE 0 END
        |         AS BIGINT) AS sig
        |  FROM r WHERE n28 = 28
        |), x AS (
        |  SELECT d, lag(sig) OVER (ORDER BY d) AS prev_sig, sig FROM sg
        |)
        |SELECT d, prev_sig, sig FROM x
        |WHERE prev_sig IS NOT NULL AND sig <> prev_sig""".stripMargin,


    "q296_bollinger_breakouts" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS d,
        |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(30,2)) * 100
        |                       AS BIGINT)) AS BIGINT) AS v
        |  FROM orders GROUP BY 1
        |), r AS (
        |  SELECT d, v,
        |    sum(v) OVER w AS sp,
        |    sum(CAST(v AS HUGEINT) * v) OVER w AS qp,
        |    count(*) OVER w AS np
        |  FROM daily
        |  WINDOW w AS (ORDER BY d ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
        |), b AS (
        |  SELECT d, v,
        |    CAST(v AS HUGEINT) * 20 - sp AS dev,
        |    (CAST(20 AS HUGEINT) * qp - CAST(sp AS HUGEINT) * sp) * 4 AS var4
        |  FROM r WHERE np = 20
        |)
        |SELECT d, v, CAST(CASE WHEN dev > 0 THEN 1 ELSE -1 END AS BIGINT) AS dir
        |FROM b WHERE dev * dev > var4""".stripMargin,
  )
}
