package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.text.TextOps
import QueryShared.repeatBuyerChain

/** Round-9 continuation surfaces (q298–q316, less the streamed q306 which
  * lives with its family in [[StreamingQueries]]): group-to-group set
  * overlap (Jaccard matrix), rank correlation (Spearman with ties),
  * consecutive-active-day streaks, corpus power laws (Zipf slope),
  * dependence (mutual information, lagged cross-correlation), EDF
  * distances (KS + Cramér–von Mises), robust location (trimmed mean),
  * inequality (Theil, Lorenz curve points), data-quality gap profiles,
  * inter-event burstiness, calibration (ECE bins), item-item
  * co-visitation, a Matryoshka prefix-dimension recall audit over the
  * embedding corpus, period-over-period segment migration, an
  * embedding-hygiene audit, and brand rank momentum.
  *
  * Same house portability rules as [[AnalyticsQueries]]: money is exact
  * cents BEFORE any aggregate; ratios are integer ppm via `div`/`//` on
  * non-negative operands; product moments lift to decimal(38,0) (DuckDB
  * HUGEINT) so nothing wraps; `ln` is quantized (`floor(1e6·ln x)`) or
  * confined to ONE final fixed-text double formula evaluated identically
  * by both engines over exact integer sufficient statistics (the q83 /
  * cuped precedent — decimal(38,0)→double and HUGEINT→double round the
  * same way).
  *
  * Scale notes: the deliberate global orders are (a) q310's calibration
  * rank — like q255's Mann-Whitney it IS a rank statistic (the 100 TB
  * path swaps the exact rank for q220-style broadcast percentile edges),
  * and (b) windows over bounded grains (≤15 MI cells, 1000 Zipf terms,
  * the day calendar). Everything else partitions on its natural key
  * (segment / nation / user) and reduces map-side.
  */
object Analytics2Queries {

  private def cents(c: Column): Column =
    (c.cast("decimal(30,2)") * 100).cast("long")

  private def d38(c: Column): Column = c.cast("decimal(38,0)")

  /** Exact integer → double through its DECIMAL STRING: beyond 2^53,
    * Spark's decimal→double and DuckDB's HUGEINT→double round the last
    * ulp differently (measured: q304 at sf0.01), but BOTH engines parse
    * a decimal string with correct round-to-nearest (Double.parseDouble
    * / fast_float) — so the string is the portable bridge. */
  private def toD(c: Column): Column =
    c.cast("string").cast("double")

  /** Pearson correlation from decimal-lifted exact sufficient statistics:
    * appends num/d1/d2 (double) and `corr` computed as ONE fixed-order
    * formula `num / (sqrt(d1) * sqrt(d2))`, NULL when either side has
    * zero variance. Inputs are the exact integer sums named by the five
    * column args; the oracle mirrors the same text over HUGEINT. */
  private def pearsonFromSums(df: DataFrame, n: String, sx: String,
      sy: String, sxy: String, sxx: String, syy: String,
      out: String): DataFrame =
    df.withColumn("num",
        toD(d38(col(n)) * col(sxy) - d38(col(sx)) * d38(col(sy))))
      .withColumn("d1",
        toD(d38(col(n)) * col(sxx) - d38(col(sx)) * d38(col(sx))))
      .withColumn("d2",
        toD(d38(col(n)) * col(syy) - d38(col(sy)) * d38(col(sy))))
      .withColumn(out,
        when(col("d1") > 0 && col("d2") > 0,
          col("num") / (sqrt(col("d1")) * sqrt(col("d2")))))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Group-to-group set overlap (the audience-overlap matrix): Jaccard
    // and overlap coefficient between supplier nations' PART BASKETS,
    // via a postings join on the part key — pair volume is Σ_part
    // (nations-per-part)², bounded by |groups|² per posting, never
    // |parts|². Intersections are exact counts, union = s1+s2−inter by
    // inclusion-exclusion, shares in integer ppm. The set-similarity
    // sibling of q313's item-item counts at the GROUP grain.
    "q298_basket_overlap" -> ((s, dir) => {
      val np = Tables.lineitem(s, dir)
        .join(Tables.supplier(s, dir),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_nationkey").cast("long").as("nk"),
          col("l_partkey").as("pk"))
        .distinct()
        // three consumers (sizes + both self-join sides) re-ran the
        // lineitem⋈supplier distinct; nation×part grain is reduced vs the
        // fact — materialize once (r15, guide §5)
        .localCheckpoint(true)
      val sizes = np.groupBy(col("nk")).agg(count(lit(1)).as("sz"))
      val inter = np.select(col("nk").as("n1"), col("pk"))
        .join(np.select(col("nk").as("n2"), col("pk")), Seq("pk"))
        .filter(col("n1") < col("n2"))
        .groupBy(col("n1"), col("n2"))
        .agg(count(lit(1)).as("inter"))
      inter
        .join(sizes.select(col("nk").as("n1"), col("sz").as("s1")), Seq("n1"))
        .join(sizes.select(col("nk").as("n2"), col("sz").as("s2")), Seq("n2"))
        .withColumn("uni", col("s1") + col("s2") - col("inter"))
        .withColumn("jaccard_ppm", expr("inter * 1000000 div uni"))
        .withColumn("overlap_ppm",
          expr("inter * 1000000 div least(s1, s2)"))
        .select(col("n1"), col("n2"), col("inter"), col("uni"),
          col("jaccard_ppm"), col("overlap_ppm"))
    }),


    // Spearman rank correlation WITH ties (account balance vs lifetime
    // revenue, per market segment): tied ranks via the doubled-average-
    // rank trick — 2·avgrank = 2·rank + |tie group| − 1 stays an exact
    // integer — then Pearson over the doubled ranks from five decimal-
    // lifted sums. Rank windows partition by segment (the rank test IS
    // the total order, q255's declared exception); the final rho is one
    // fixed-order double formula.
    "q299_spearman_corr" -> ((s, dir) => {
      val rev = Tables.orders(s, dir)
        .groupBy(col("o_custkey"))
        .agg(sum(cents(col("o_totalprice"))).as("y"))
      val base = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"),
          cents(col("c_acctbal")).as("x"))
        .join(rev, col("c_custkey") === col("o_custkey"), "left")
        .withColumn("y", coalesce(col("y"), lit(0L)))
      val wx = Window.partitionBy(col("c_mktsegment")).orderBy(col("x"))
      val wy = Window.partitionBy(col("c_mktsegment")).orderBy(col("y"))
      val cx = Window.partitionBy(col("c_mktsegment"), col("x"))
      val cy = Window.partitionBy(col("c_mktsegment"), col("y"))
      val ranked = base
        .withColumn("rx2", rank().over(wx).cast("long") * 2
          + count(lit(1)).over(cx) - 1)
        .withColumn("ry2", rank().over(wy).cast("long") * 2
          + count(lit(1)).over(cy) - 1)
      pearsonFromSums(
        ranked.groupBy(col("c_mktsegment"))
          // sx/sy lift to decimal too: doubled ranks grow with n, so at
          // extreme partition sizes even the FIRST moment can wrap a long
          .agg(count(lit(1)).as("n"),
            sum(d38(col("rx2"))).as("sx"), sum(d38(col("ry2"))).as("sy"),
            sum(d38(col("rx2")) * d38(col("ry2"))).as("sxy"),
            sum(d38(col("rx2")) * d38(col("rx2"))).as("sxx"),
            sum(d38(col("ry2")) * d38(col("ry2"))).as("syy")),
        "n", "sx", "sy", "sxy", "sxx", "syy", "rho")
        .select(col("c_mktsegment"), col("n"), col("rho"))
    }),


    // Compressibility × quality VALIDATION (round 12) — the zlib gate's
    // justification measured: per-doc deflate ratio (engine-local codec
    // — persisted ONCE, the q91 split) against the lexical-diversity
    // quality signal, Spearman per source via q299's doubled-rank +
    // decimal-moment device over the STORED scores. A strongly negative
    // rho is the "compressible ⇒ boilerplate" assumption the cheap
    // quality gates rest on — now a number per source, not folklore.
    "q459_compress_quality_corr" -> ((s, dir) => {
      val per = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          graft.exprapi.deflateLen(col("text").cast("binary"))
            .cast("long").as("zlen"),
          length(col("text")).cast("long").as("rawlen"),
          TextOps.tokens(col("text")).as("ts"))
        .select(col("doc_id"), col("source"),
          expr("zlen * 1000000 div greatest(rawlen, 1)").as("comp_ppm"),
          expr("size(array_distinct(ts)) * 1000000" +
            " div greatest(size(ts), 1)").cast("long").as("quality_ppm"))
      sources.Sources.writeParquet(per,
        QueryShared.predsPath("q459_scores"))
      val st = s.read.parquet(QueryShared.predsPath("q459_scores"))
      val wx = Window.partitionBy(col("source")).orderBy(col("comp_ppm"))
      val wy = Window.partitionBy(col("source")).orderBy(col("quality_ppm"))
      val cx = Window.partitionBy(col("source"), col("comp_ppm"))
      val cy = Window.partitionBy(col("source"), col("quality_ppm"))
      val ranked = st
        .withColumn("rx2", rank().over(wx).cast("long") * 2
          + count(lit(1)).over(cx) - 1)
        .withColumn("ry2", rank().over(wy).cast("long") * 2
          + count(lit(1)).over(cy) - 1)
      pearsonFromSums(
        ranked.groupBy(col("source"))
          .agg(count(lit(1)).as("n"),
            sum(d38(col("rx2"))).as("sx"), sum(d38(col("ry2"))).as("sy"),
            sum(d38(col("rx2")) * d38(col("ry2"))).as("sxy"),
            sum(d38(col("rx2")) * d38(col("rx2"))).as("sxx"),
            sum(d38(col("ry2")) * d38(col("ry2"))).as("syy")),
        "n", "sx", "sy", "sxy", "sxx", "syy", "rho")
        .select(col("source"), col("n"), col("rho"))
    }),


    // Longest consecutive-active-day streak per user (the engagement
    // read DAUs can't give): distinct (user, day) marks, a day-grain
    // gaps-and-islands pass (new island iff the day gap exceeds 1),
    // best and latest streak lengths plus the streak-ending day —
    // all integer day arithmetic, windows partition by user. The
    // "ending" streak is the island containing the user's last active
    // day (a pipeline with a corpus cutoff reads it as the current
    // streak, the q250 no-engine-now() rule).
    "q300_active_streaks" -> ((s, dir) => {
      val days = Tables.events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("day"))
        .distinct()
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      val isl = days
        .withColumn("new_isl",
          when(lag(col("day"), 1).over(w).isNull ||
            datediff(col("day"), lag(col("day"), 1).over(w)) > 1, 1L)
            .otherwise(0L))
        .withColumn("isl", sum(col("new_isl")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("isl"))
        .agg(count(lit(1)).as("len"), max(col("day")).as("isl_end"))
      isl.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_streaks"),
          sum(col("len")).as("n_active_days"),
          max(col("len")).as("best_streak"),
          // isl_end is unique per user (islands are disjoint day runs),
          // so max_by is deterministic without a tiebreak
          max_by(col("len"), col("isl_end")).as("ending_streak"),
          max(col("isl_end")).as("last_day"))
    }),


    // Zipf rank-frequency slope over the document corpus: top-1000
    // tokens under a deterministic (freq desc, token) total order —
    // TakeOrdered, never a full-vocab global sort — then least squares
    // of quantized ln(freq) on quantized ln(rank): integer µ-nat sums
    // (decimal-lifted products), slope and intercept as the final
    // fixed-order double formulas. A healthy natural-language corpus
    // reads slope ≈ −1; the power-law drift monitor for ingest.
    "q301_zipf_slope" -> ((s, dir) => {
      val tf = Tables.documents(s, dir)
        .select(explode(TextOps.tokens(col("text"))).as("t"))
        .groupBy(col("t")).agg(count(lit(1)).as("f"))
        .orderBy(col("f").desc, col("t")).limit(1000)
      val w = Window.orderBy(col("f").desc, col("t"))
      tf.withColumn("r", row_number().over(w).cast("long"))
        .withColumn("lx",
          floor(log(col("r").cast("double")) * lit(1000000.0)).cast("long"))
        .withColumn("ly",
          floor(log(col("f").cast("double")) * lit(1000000.0)).cast("long"))
        .agg(count(lit(1)).as("n_terms"),
          sum(col("lx")).as("sx"), sum(col("ly")).as("sy"),
          sum(d38(col("lx")) * d38(col("ly"))).as("sxy"),
          sum(d38(col("lx")) * d38(col("lx"))).as("sxx"))
        .withColumn("slope",
          toD(d38(col("n_terms")) * col("sxy")
            - d38(col("sx")) * d38(col("sy")))
          / toD(d38(col("n_terms")) * col("sxx")
            - d38(col("sx")) * d38(col("sx"))))
        .withColumn("icept",
          (col("sy").cast("double") - col("slope") * col("sx").cast("double"))
            / (col("n_terms").cast("double") * lit(1000000.0)))
        .select(col("n_terms"), col("slope"), col("icept"))
    }),


    // Mutual-information cell table for two categorical feature pairs
    // (order priority×status; lineitem returnflag×linestatus): per-cell
    // pointwise term n_xy·(ln n_xy + ln N − ln n_x − ln n_y) quantized
    // to integer µ-nats — the q274 PMI recipe applied to the full MI
    // decomposition. Marginals come from windows over the cell grain
    // (≤15 rows per pair), never a second fact pass.
    "q302_mutual_information" -> ((s, dir) => {
      def cellsOf(df: DataFrame, xc: String, yc: String,
          tag: String): DataFrame = {
        val wx = Window.partitionBy(col("x"))
        val wy = Window.partitionBy(col("y"))
        val wAll = Window.rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)
        df.groupBy(col(xc).as("x"), col(yc).as("y"))
          .agg(count(lit(1)).as("n_xy"))
          .withColumn("n_x", sum(col("n_xy")).over(wx))
          .withColumn("n_y", sum(col("n_xy")).over(wy))
          .withColumn("n_tot", sum(col("n_xy")).over(wAll))
          .withColumn("term_micro", floor(
            (log(col("n_xy").cast("double")) + log(col("n_tot").cast("double"))
              - log(col("n_x").cast("double")) - log(col("n_y").cast("double")))
              * col("n_xy").cast("double") * lit(1000000.0)).cast("long"))
          .select(lit(tag).as("pair"), col("x"), col("y"),
            col("n_xy"), col("term_micro"))
      }
      cellsOf(Tables.orders(s, dir), "o_orderpriority", "o_orderstatus",
          "priority_status")
        .unionByName(cellsOf(Tables.lineitem(s, dir), "l_returnflag",
          "l_linestatus", "returnflag_linestatus"))
    }),


    // Two-sided 10% trimmed mean of order value per market segment (the
    // robust-location read the plain mean gets wrong under heavy
    // tails): asc and desc row_numbers under one deterministic
    // (value, orderkey) order, drop ⌊n/10⌋ from each side by COUNT (not
    // by value — exact, tie-stable), mean in exact cents via `div`.
    "q303_trimmed_mean" -> ((s, dir) => {
      val v = Tables.orders(s, dir)
        .join(Tables.customer(s, dir),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment"), col("o_orderkey"),
          cents(col("o_totalprice")).as("v"))
      val seg = Window.partitionBy(col("c_mktsegment"))
      val wA = seg.orderBy(col("v"), col("o_orderkey"))
      val wD = seg.orderBy(col("v").desc, col("o_orderkey").desc)
      v.withColumn("ra", row_number().over(wA).cast("long"))
        .withColumn("rd", row_number().over(wD).cast("long"))
        .withColumn("cut",
          expr("count(1) over (partition by c_mktsegment) div 10"))
        .filter(col("ra") > col("cut") && col("rd") > col("cut"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("kept_n"), sum(col("v")).as("kept_sum"))
        .withColumn("mean_cents", expr("kept_sum div kept_n"))
    }),


    // Lagged cross-correlation between the URGENT and LOW daily revenue
    // series (does one family lead the other?): lags −7..+7 exploded
    // ROW-LOCALLY onto the day grain (a literal sequence — no join, no
    // nested loop), then ONE equi join aligns the shifted days. The
    // fact table is touched once to build each series. Per lag:
    // Pearson r from decimal-lifted exact cent sums over the aligned
    // days, the q299 formula.
    "q304_cross_correlation" -> ((s, dir) => {
      val daily = Tables.orders(s, dir)
        .groupBy(to_date(col("o_orderdate")).as("d"), col("o_orderpriority"))
        .agg(sum(cents(col("o_totalprice"))).as("v"))
      val a = daily.filter(col("o_orderpriority") === "1-URGENT")
        .select(col("d"), col("v").as("va"))
      val b = daily.filter(col("o_orderpriority") === "5-LOW")
        .select(col("d").as("db"), col("v").as("vb"))
      val joined = a
        .withColumn("lag", explode(sequence(lit(-7), lit(7))))
        .withColumn("d2", expr("date_add(d, lag)"))
        .join(b, col("d2") === col("db"))
      pearsonFromSums(
        joined.groupBy(col("lag"))
          .agg(count(lit(1)).as("n_days"),
            sum(col("va")).as("sx"), sum(col("vb")).as("sy"),
            sum(d38(col("va")) * d38(col("vb"))).as("sxy"),
            sum(d38(col("va")) * d38(col("va"))).as("sxx"),
            sum(d38(col("vb")) * d38(col("vb"))).as("syy")),
        "n_days", "sx", "sy", "sxy", "sxx", "syy", "r")
        .select(col("lag").cast("long").as("lag"), col("n_days"), col("r"))
    }),


    // Theil T inequality index of customer revenue per nation —
    // the decomposable cousin of q253's Gini: T = (Σ v·ln v)/S − ln(S/n)
    // computed division-free on the integer side — Σ v·⌊1e6·ln v⌋ `div`
    // S over decimal(38,0) (HUGEINT in DuckDB) minus the one fixed
    // double term ⌊1e6·ln(S/n)⌋. Output in µ-nats.
    "q305_theil_index" -> ((s, dir) => {
      val rev = Tables.orders(s, dir)
        .groupBy(col("o_custkey"))
        .agg(sum(cents(col("o_totalprice"))).as("v"))
        .filter(col("v") > 0)
      rev.join(Tables.customer(s, dir),
          col("o_custkey") === col("c_custkey"))
        .join(Tables.nation(s, dir),
          col("c_nationkey") === col("n_nationkey"))
        .withColumn("lv",
          floor(log(col("v").cast("double")) * lit(1000000.0)).cast("long"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("s_cents"),
          sum(d38(col("v")) * d38(col("lv"))).as("svl"))
        .withColumn("theil_micro",
          expr("svl div s_cents")
            - floor(log(col("s_cents").cast("double")
                / col("n").cast("double")) * lit(1000000.0)).cast("long"))
        .select(col("n_name"), col("n"), col("s_cents"), col("theil_micro"))
    }),


    // Matryoshka prefix-dimension recall audit (MRL-style truncated
    // embeddings): exact top-10 neighbor overlap between the full
    // 64-dim ranking and its 8/16/32-dim prefixes, per query vector —
    // the "how many dims can serving drop" read. Both rankings are the
    // q17 integer-quantized dot under the same (dot desc, n_id)
    // deterministic order; overlap and recall are exact integers.
    "q307_matryoshka_recall" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val q = e.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
      val c = e.select(col("vec_id").as("n_id"), col("embedding").as("ce"))
      val full = llm.Similarity.bruteForceTopK(
          q.select(col("q_id"), col("qe").as("q_emb")),
          c.select(col("n_id"), col("ce").as("n_emb")), k = 10)
        .select(col("q_id"), col("n_id")).withColumn("hit", lit(1L))
      Seq(8, 16, 32).map { m =>
        llm.Similarity.bruteForceTopK(
            q.select(col("q_id"), slice(col("qe"), 1, m).as("q_emb")),
            c.select(col("n_id"), slice(col("ce"), 1, m).as("n_emb")),
            k = 10)
          .select(col("q_id"), col("n_id")).withColumn("m", lit(m))
      }.reduce(_ unionByName _)
        .join(full, Seq("q_id", "n_id"), "left")
        .groupBy(col("m"), col("q_id"))
        .agg(sum(coalesce(col("hit"), lit(0L))).as("overlap"))
        .withColumn("recall_ppm", expr("overlap * 1000000 div 10"))
    }),


    // Order-day gap profile per nation (the data-quality read for
    // "did ingest skip days?"): distinct active days, span, missing-day
    // count, gap count and the longest gap — all from ONE lag over the
    // nation-partitioned day grain, no calendar explosion.
    "q308_order_day_gaps" -> ((s, dir) => {
      val days = Tables.orders(s, dir)
        .join(Tables.customer(s, dir),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_nationkey"), to_date(col("o_orderdate")).as("d"))
        .distinct()
      val w = Window.partitionBy(col("c_nationkey")).orderBy(col("d"))
      days.withColumn("gap",
          (datediff(col("d"), lag(col("d"), 1).over(w)) - 1).cast("long"))
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_active"),
          min(col("d")).as("first_d"), max(col("d")).as("last_d"),
          sum(when(col("gap") > 0, 1L).otherwise(0L)).as("n_gaps"),
          max(coalesce(col("gap"), lit(0L))).as("max_gap"))
        .withColumn("span_days",
          datediff(col("last_d"), col("first_d")).cast("long") + 1)
        .withColumn("n_missing", col("span_days") - col("n_active"))
    }),


    // Inter-event burstiness per user: B = (σ−μ)/(σ+μ) over whole-
    // second gaps, computed n-free as (√D − S)/(√D + S) with
    // D = n·Σg² − S² — the variance numerator in exact decimal-lifted
    // integers, ONE sqrt in the final shared formula. B→−1 periodic,
    // B→0 Poisson, B→1 bursty — the traffic-shape read per entity.
    "q309_burstiness" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      Tables.events(s, dir)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts").cast("timestamp")).as("ts_us"))
        .withColumn("prev", lag(col("ts_us"), 1).over(w))
        .filter(col("prev").isNotNull)
        .withColumn("g", expr("(ts_us - prev) div 1000000"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_gaps"), sum(col("g")).as("s_g"),
          sum(d38(col("g")) * d38(col("g"))).as("q_g"))
        .filter(col("n_gaps") >= 2)
        .withColumn("dd",
          toD(d38(col("n_gaps")) * col("q_g")
            - d38(col("s_g")) * d38(col("s_g"))))
        .withColumn("b_coeff",
          when(sqrt(col("dd")) + col("s_g").cast("double") > 0,
            (sqrt(col("dd")) - col("s_g").cast("double"))
              / (sqrt(col("dd")) + col("s_g").cast("double"))))
        .select(col("user_id"), col("n_gaps"), col("s_g"), col("b_coeff"))
    }),


    // Lorenz curve decile points per nation — the CURVE behind q253's
    // Gini scalar: customers ranked ascending by revenue, the k/10
    // population boundary rows with exact-integer cumulative population
    // and revenue shares in ppm (decimal-lifted so the cum·1e6 product
    // cannot wrap). ops.Stats.lorenzPoints.
    "q311_lorenz_points" -> ((s, dir) => {
      val rev = Tables.orders(s, dir)
        .groupBy(col("o_custkey"))
        .agg(sum(cents(col("o_totalprice"))).as("v"))
      val j = rev
        .join(Tables.customer(s, dir),
          col("o_custkey") === col("c_custkey"))
        .join(Tables.nation(s, dir),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name"), col("o_custkey"), col("v"))
      ops.Stats.lorenzPoints(j, "n_name", "o_custkey", "v")
    }),


    // Two-sample EDF distance panel per market segment (URGENT vs LOW
    // order values): Cramér–von Mises — the INTEGRAL of the squared CDF
    // gap, tail-sensitive where q230's KS sees only the worst point —
    // plus KS itself from the same one-pass per-value CDF fold. Both
    // numerators are division-free exact integers
    // (max |cum_a·n_b − cum_b·n_a| and Σ cnt·gap²); both travel as
    // decimal strings (each exceeds BIGINT at scale), classical forms
    // via the decimal-string bridge. ops.Stats.edfDistances.
    "q312_edf_distances" -> ((s, dir) => {
      val t = Tables.orders(s, dir)
        .join(Tables.customer(s, dir),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment"), col("o_orderpriority"),
          cents(col("o_totalprice")).as("v"))
      ops.Stats.edfDistances(t, "c_mktsegment", "o_orderpriority", "v",
        "1-URGENT", "5-LOW")
    }),


    // Item-item co-visitation top-5 (the "bought with" serving table —
    // the counts-only sibling of q240's association rules): distinct
    // (order, part) baskets, oversized baskets dropped LOUDLY (cap 20 —
    // pair volume is Σ basket², the capped-universe rule), ordered pair
    // counts, deterministic per-item top-5. ops.Stats.covisitationTopK;
    // the drop count rides every serving row as a scalar-agg broadcast
    // (n_dropped_baskets — the cap is visible IN the registered surface,
    // not just in the helper's diagnostic frame), and the per-basket
    // diagnostic frame is additionally spec-pinned.
    "q313_covisitation" -> ((s, dir) => {
      val (serving, dropped) = ops.Stats.covisitationTopK(
        Tables.lineitem(s, dir), "l_orderkey", "l_partkey",
        k = 5, maxBasket = 20)
      serving.crossJoin(broadcast(
        dropped.agg(count(lit(1)).as("n_dropped_baskets"))))
    }),


    // Segment-migration matrix (period-over-period): customers
    // classified into revenue quintiles independently in the pre- and
    // post-1998 halves (q220's broadcast exact-percentile edges — no
    // global ntile), class 0 = inactive that period; the transition
    // matrix counts + per-origin row shares in integer ppm. The churn/
    // upgrade/downgrade flow read behind cohort dashboards.
    "q314_segment_migration" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .select(col("o_custkey"), to_date(col("o_orderdate")).as("d"),
          cents(col("o_totalprice")).as("c"))
      def rev(f: Column, out: String) =
        o.filter(f).groupBy(col("o_custkey")).agg(sum(col("c")).as(out))
      val p1 = rev(col("d") < to_date(lit("1998-01-01")), "v1")
        .withColumnRenamed("o_custkey", "ck1")
      val p2 = rev(col("d") >= to_date(lit("1998-01-01")), "v2")
        .withColumnRenamed("o_custkey", "ck2")
      val q1 = p1.agg(percentile(col("v1"), lit(0.2)).as("a1"),
        percentile(col("v1"), lit(0.4)).as("a2"),
        percentile(col("v1"), lit(0.6)).as("a3"),
        percentile(col("v1"), lit(0.8)).as("a4"))
      val q2 = p2.agg(percentile(col("v2"), lit(0.2)).as("b1"),
        percentile(col("v2"), lit(0.4)).as("b2"),
        percentile(col("v2"), lit(0.6)).as("b3"),
        percentile(col("v2"), lit(0.8)).as("b4"))
      def cls(v: String, t: Seq[String]) =
        when(col(v).isNull, 0).otherwise(
          t.map(q => when(col(v) > col(q), 1).otherwise(0))
            .reduce(_ + _) + 1).cast("int")
      p1.join(p2, col("ck1") === col("ck2"), "full_outer")
        .crossJoin(broadcast(q1)).crossJoin(broadcast(q2))
        .select(cls("v1", Seq("a1", "a2", "a3", "a4")).as("from_class"),
          cls("v2", Seq("b1", "b2", "b3", "b4")).as("to_class"))
        .groupBy(col("from_class"), col("to_class"))
        .agg(count(lit(1)).as("n"))
        .withColumn("row_ppm", expr(
          "n * 1000000 div sum(n) over (partition by from_class)"))
    }),


    // Embedding-hygiene audit (the QA gate an ANN pipeline runs before
    // indexing): per label — vector count, all-zero vectors, ragged
    // dims, and L2-norm stats off the SAME integer-quantized
    // self-dot the similarity family ranks with (norm_micro =
    // floor(1e6·sqrt(dot_self/1e12)), one shared double formula).
    // Row-local scan + one grouped fold; no joins.
    "q315_embedding_audit" -> ((s, dir) =>
      Tables.embeddings(s, dir)
        .select(col("label"),
          graft.exprapi.quantizedDotFast(col("embedding"), col("embedding"))
            .as("dot_self"),
          size(col("embedding")).as("dim"))
        .withColumn("norm_micro",
          floor(sqrt(col("dot_self").cast("double") / lit(1.0e12))
            * lit(1000000.0)).cast("long"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
          sum(when(col("dot_self") === 0L, 1L).otherwise(0L)).as("n_zero"),
          sum(when(col("dim") =!= 64, 1L).otherwise(0L)).as("n_ragged"),
          min(col("norm_micro")).as("min_norm_micro"),
          max(col("norm_micro")).as("max_norm_micro"),
          sum(col("norm_micro")).as("sum_norm_micro"))),


    // Brand rank momentum: monthly revenue rank per brand (deterministic
    // row_number under (revenue desc, brand)) and its month-over-month
    // delta — the leaderboard-movement read. Rank windows partition by
    // MONTH (bounded grain); the lag partitions by brand over its own
    // months. Exact cents only.
    "q316_rank_momentum" -> ((s, dir) => {
      val m = Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir)
          .select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .groupBy(date_trunc("month", col("l_shipdate")).cast("date")
            .as("month"), col("p_brand"))
        .agg(sum(cents(col("l_extendedprice"))).as("rev_cents"))
      val wRank = Window.partitionBy(col("month"))
        .orderBy(col("rev_cents").desc, col("p_brand"))
      val wLag = Window.partitionBy(col("p_brand")).orderBy(col("month"))
      m.withColumn("rnk", row_number().over(wRank).cast("long"))
        .withColumn("prev_rnk", lag(col("rnk"), 1).over(wLag))
        .withColumn("rank_delta", col("prev_rnk") - col("rnk"))
        .select(col("month"), col("p_brand"), col("rev_cents"),
          col("rnk"), col("prev_rnk"), col("rank_delta"))
    }),


    // Price/volume/mix decomposition of brand revenue change (1996 →
    // 1997, the FP&A bridge): per (brand, part) conditional-sum pivot
    // in ONE pass, div-derived integer unit prices, then
    // Δrev = Σ(q1−q0)·p0 [volume] + Σq1·(p1−p0) [price] + residual
    // (the declared div-truncation + mix remainder — the bridge always
    // reconciles exactly because the residual is DEFINED as the gap).
    // Only parts traded in both years enter; decimal-lifted products.
    "q317_price_volume_mix" -> ((s, dir) => {
      val pp = Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir)
          .select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .withColumn("yr", year(col("l_shipdate")))
        .filter(col("yr").isin(1996, 1997))
        .groupBy(col("p_brand"), col("l_partkey"))
        .agg(
          sum(when(col("yr") === 1996,
            col("l_quantity").cast("long")).otherwise(0L)).as("q0"),
          sum(when(col("yr") === 1996,
            cents(col("l_extendedprice"))).otherwise(0L)).as("r0"),
          sum(when(col("yr") === 1997,
            col("l_quantity").cast("long")).otherwise(0L)).as("q1"),
          sum(when(col("yr") === 1997,
            cents(col("l_extendedprice"))).otherwise(0L)).as("r1"))
        .filter(col("q0") > 0 && col("q1") > 0)
        .withColumn("p0", expr("r0 div q0"))
        .withColumn("p1", expr("r1 div q1"))
      pp.groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_parts"),
          sum(col("r1") - col("r0")).as("d_rev"),
          sum(d38(col("q1") - col("q0")) * d38(col("p0")))
            .cast("long").as("vol_effect"),
          sum(d38(col("q1")) * d38(col("p1") - col("p0")))
            .cast("long").as("price_effect"))
        .withColumn("residual",
          col("d_rev") - col("vol_effect") - col("price_effect"))
    }),


    // Sequential probability ratio test (Wald's SPRT) on the B arm's
    // daily purchase conversion — the "stop the experiment early"
    // machinery: H0 p=0.04 vs H1 p=0.05, cumulative
    // LLR = k·ln(p1/p0) + (n−k)·ln((1−p1)/(1−p0)) in floor-quantized
    // µ-nats (constants are literal expressions both engines evaluate
    // identically), boundaries ±ln(19) (α=β=0.05). Output: the daily
    // LLR path with its accept/continue state — a window cumsum over
    // the bounded day grain.
    "q318_sprt" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .filter(col("user_id") % 2 === 1)
        .groupBy(to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("n_t"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("k_t"))
      val w = Window.orderBy(col("d"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val c1 = log(lit(0.05 / 0.04))
      val c2 = log(lit(0.95 / 0.96))
      val upMicro = floor(log(lit(19.0)) * lit(1000000.0)).cast("long")
      daily
        .withColumn("n_cum", sum(col("n_t")).over(w))
        .withColumn("k_cum", sum(col("k_t")).over(w))
        .withColumn("llr_micro",
          floor((col("k_cum").cast("double") * c1
            + (col("n_cum") - col("k_cum")).cast("double") * c2)
            * lit(1000000.0)).cast("long"))
        .withColumn("state",
          when(col("llr_micro") >= upMicro, "accept_h1")
            .when(col("llr_micro") <= -upMicro, "accept_h0")
            .otherwise("continue"))
        .select(col("d"), col("n_cum"), col("k_cum"),
          col("llr_micro"), col("state"))
    }),


    // Nelson–Aalen cumulative hazard over q264's life-table derivation
    // (the estimator sibling: hazard increments instead of survival
    // products): first event → first purchase, censored at last
    // activity; per exit day, increment = d·1e6 div n_risk (integer
    // µ-hazard), H = one cumulative window over the bounded day grain.
    "q319_nelson_aalen" -> ((s, dir) => {
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
      val wPrior = Window.orderBy(col("t_day"))
      exits.crossJoin(broadcast(total))
        .withColumn("prior_exits", coalesce(
          sum(col("n_event") + col("n_censored")).over(
            wPrior.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("n_risk", col("n_total") - col("prior_exits"))
        .withColumn("h_inc_micro", expr("n_event * 1000000 div n_risk"))
        .withColumn("h_cum_micro", sum(col("h_inc_micro")).over(
          wPrior.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("t_day"), col("n_risk"), col("n_event"),
          col("h_inc_micro"), col("h_cum_micro"))
    }),


    // Fixed-round k-core peel of the thresholded customer–supplier
    // graph (k=2 over edges with ≥2 linking orders; 8 rounds — fixture
    // fixpoint is ≤4 at every SF, and the FIXED round count is the
    // declared cross-engine semantics, the pageRankInt rule): each
    // round recomputes degrees and keeps ≥k nodes via two semi joins.
    // Output: surviving node (cust·2 / supp·2+1 encoding) and its final
    // core degree.
    "q321_kcore" -> ((s, dir) => {
      val base = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"))
        .join(Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy((col("o_custkey") * 2).as("a"),
          (col("l_suppkey") * 2 + 1).as("b"))
        .agg(countDistinct(col("o_orderkey")).as("w"))
        .filter(col("w") >= 2).select(col("a"), col("b"))
        .localCheckpoint()
      // per-round shuffle width tracks the edge frame, not the core count
      ops.Graph.withLoopWidth(base) {
      val e = ops.Fixpoint.frames("q321_kcore", 8)(base) { (e, _) =>
        val deg = e.select(col("a").as("n"))
          .unionByName(e.select(col("b").as("n")))
          .groupBy(col("n")).agg(count(lit(1)).as("d"))
          .filter(col("d") >= 2)
        e.join(deg.select(col("n").as("a")), Seq("a"), "left_semi")
          .join(deg.select(col("n").as("b")), Seq("b"), "left_semi")
      }.state
      e.select(col("a").as("n")).unionByName(e.select(col("b").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("degree"))
      }
    }),


    // First-order Markov attribution with removal effects (the
    // model-based sibling of q209's rule-based linear credit): user
    // paths truncate at the first purchase (CONV) or end in NULL;
    // transition counts are distributed aggregation; the ≤7-state
    // absorbing chain then solves by 48 JACOBI value-iteration rounds
    // in EXACT integer micro-units — p'(s) = Σ n(s,s')·val(s') div
    // total(s) — so both engines walk bit-identical paths (the oracle
    // unrolls the same 48 rounds; float sums would be order-dependent,
    // integer sums are not). Removal effect of channel c = share of
    // conversion probability lost when c is forced non-converting.
    // The matrix collect is BOUNDED (|event types|² cells — the vocab/
    // scalar-witness allowance, not a data collect).
    "q322_markov_attribution" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
      val ranked = Tables.events(s, dir)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts").cast("timestamp")).as("us"),
          col("event_type"))
        .withColumn("rn", row_number().over(w))
      val convRank = ranked.filter(col("event_type") === "purchase")
        .groupBy(col("user_id")).agg(min(col("rn")).as("cr"))
      val kept = ranked
        .join(convRank, Seq("user_id"), "left")
        .filter(col("cr").isNull || col("rn") <= col("cr"))
        .withColumn("state", when(col("event_type") === "purchase",
          lit("CONV")).otherwise(col("event_type")))
      val w2 = Window.partitionBy(col("user_id")).orderBy(col("rn"))
      val trans = kept
        .withColumn("src", coalesce(lag(col("state"), 1).over(w2),
          lit("START")))
        .select(col("src"), col("state").as("dst"))
      val terminal = kept
        .withColumn("mx", max(col("rn")).over(
          Window.partitionBy(col("user_id"))))
        .filter(col("rn") === col("mx") && col("state") =!= "CONV")
        .select(col("state").as("src"), lit("NULL").as("dst"))
      // the collect is alphabet²-bounded BY INTENT; the fused guard
      // (round-12 VERDICT wrong #1) makes a fact-scale event_type
      // domain fail loudly with a sizing message instead of silently
      // OOMing the driver fold below
      val counts = ops.Stats.guardedSmallFrame(
          trans.unionByName(terminal)
            .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("n")),
          maxRows = 4096, device = "q322 markov transition matrix")
        .collect().map(r => (r.getString(0), r.getString(1),
          r.getLong(2))).toSeq
      val totals = counts.groupBy(_._1)
        .map { case (k, v) => k -> v.map(_._3).sum }
      val states = counts.map(_._1).distinct.sorted
      val channels = states.filter(_ != "START")
      def pStart(removed: Option[String]): Long = {
        var p = states.map(_ -> 0L).toMap
        for (_ <- 1 to 48) {
          p = states.map { st =>
            st -> (if (removed.contains(st)) 0L
            else {
              val num = counts.filter(_._1 == st).map { case (_, dst, n) =>
                val v = dst match {
                  case "CONV" => 1000000L
                  case "NULL" => 0L
                  case d if removed.contains(d) => 0L
                  case d => p(d)
                }
                BigInt(n) * v
              }.sum
              (num / totals(st)).toLong
            })
          }.toMap
        }
        p("START")
      }
      val base = pStart(None)
      val rows = (("(none)", base, 0L) +: channels.map { c =>
        val pr = pStart(Some(c))
        (c, pr,
          if (base > 0) (base - pr) * 1000000L / base else 0L)
      }).toList
      import s.implicits._
      rows.toDF("removed", "p_start_micro", "removal_micro")
    }),


    // Personalized PageRank from a seed set (fixed 5 rounds, exact
    // integer — the q69 discipline with a seed-restricted teleport):
    // proximity-to-seeds over the undirected customer–supplier graph,
    // the graph-expansion/trust-propagation read. Seeds = every 100th
    // customer; mass leaks only from the damped walk, restarts land on
    // seeds alone. ops.Graph.personalizedPageRankInt.
    "q323_personalized_pagerank" -> ((s, dir) => {
      val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_suppkey"))
      val pairs = o.join(li, col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
      val edges = pairs.union(
        pairs.select(col("dst").as("src"), col("src").as("dst")))
      val seeds = Tables.customer(s, dir)
        .filter(col("c_custkey") % 100 === 0)
        .select((col("c_custkey") * 2).as("node"))
      ops.Graph.personalizedPageRankInt(edges, seeds, iters = 5)
    }),


    // Time-decay + position-based (U-shaped) attribution micro-credits
    // — the model family around q209's linear rule: per (purchase,
    // view-within-24h) pair, exponential decay exp(age_h·ln½) (ONE
    // shared double formula, half-life 1 h, floor-quantized micro) and
    // the 40/20/40 U-shape on the (touch_us, touch id)-ordered rank —
    // integer micro splits with `div` truncation declared. Rolled up
    // by view hour like q209.
    "q324_decay_attribution" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val conv = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("conv_id"), col("user_id").as("_u"),
          unix_micros(col("ts").cast("timestamp")).as("conv_us"))
      val touch = ev.filter(col("event_type") === "view")
        .select(col("user_id").as("_u"), col("ts").as("touch_ts"),
          col("event_id").as("t_eid"),
          unix_micros(col("ts").cast("timestamp")).as("touch_us"))
      val wc = Window.partitionBy(col("conv_id"))
      val joined = conv.join(touch, Seq("_u"))
        .filter(col("touch_us") <= col("conv_us") &&
          col("touch_us") > col("conv_us") - lit(24L * 3600L * 1000000L))
        .withColumn("rn", row_number().over(
          wc.orderBy(col("touch_us"), col("t_eid"))))
        .withColumn("n", count(lit(1)).over(wc))
        .withColumn("age_s", expr("(conv_us - touch_us) div 1000000"))
        .withColumn("decay_micro",
          floor(exp(col("age_s").cast("double") / lit(3600.0)
            * log(lit(0.5))) * lit(1000000.0)).cast("long"))
        .withColumn("u_micro",
          when(col("n") === 1, 1000000L)
            .when(col("n") === 2, 500000L)
            .when(col("rn") === 1 || col("rn") === col("n"), 400000L)
            .otherwise(expr("200000 div (n - 2)")))
      joined.groupBy(hour(col("touch_ts")).cast("long").as("view_hour"))
        .agg(count(lit(1)).as("n_credited"),
          sum(col("decay_micro")).as("decay_micros"),
          sum(col("u_micro")).as("u_micros"))
    }),


    // Calibration bins + per-bin ECE contribution for a monotone score
    // (global acctbal percent-rank as confidence ppm) against the
    // repeat-buyer label: ten fixed-width confidence bins, per-bin
    // accuracy vs mean confidence, |gap| — all integer ppm. The global
    // percent-rank EXECUTES as the two-phase bucketed
    // Stats.distributedRank (round-9 "implement the declared tier");
    // the total attaches as the audited scalar-agg broadcast and the
    // oracle keeps the naive row_number() form.
    "q310_calibration_ece" -> ((s, dir) => {
      val nOrd = Tables.orders(s, dir)
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_ord"))
      val base = Tables.customer(s, dir)
        .select(col("c_custkey"), cents(col("c_acctbal")).as("x"))
        .join(nOrd, col("c_custkey") === col("o_custkey"), "left")
        .withColumn("label",
          when(coalesce(col("n_ord"), lit(0L)) >= 2, 1L).otherwise(0L))
      val rk = ops.Stats.distributedRank(
        base, "x", tieBreak = Seq("c_custkey"), out = "rn",
        bucketWidth = 1L << 14)
      rk.crossJoin(broadcast(rk.agg(count(lit(1)).as("nc"))))
        .withColumn("conf_ppm", expr("(rn - 1) * 1000000 div (nc - 1)"))
        .withColumn("bin", least(expr("conf_ppm div 100000"), lit(9L)))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_b"), sum(col("label")).as("pos"),
          sum(col("conf_ppm")).as("conf_sum"))
        .withColumn("acc_ppm", expr("pos * 1000000 div n_b"))
        .withColumn("conf_mean_ppm", expr("conf_sum div n_b"))
        .withColumn("gap_ppm", abs(col("acc_ppm") - col("conf_mean_ppm")))
        .select(col("bin"), col("n_b"), col("acc_ppm"),
          col("conf_mean_ppm"), col("gap_ppm"))
    }),
  )

  /** DuckDB-runnable oracle equivalents — same exact-integer sufficient
    * statistics (HUGEINT where Spark lifts to decimal), same fixed-order
    * final double formulas, same `//` truncating division. */
  val sql: Map[String, String] = Map(

    "q298_basket_overlap" ->
      """WITH np AS (
        |  SELECT DISTINCT CAST(s.s_nationkey AS BIGINT) AS nk,
        |         l.l_partkey AS pk
        |  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey),
        |sizes AS (
        |  SELECT nk, CAST(count(*) AS BIGINT) AS sz FROM np GROUP BY 1),
        |inter AS (
        |  SELECT a.nk AS n1, b.nk AS n2, CAST(count(*) AS BIGINT) AS inter
        |  FROM np a JOIN np b ON a.pk = b.pk AND a.nk < b.nk
        |  GROUP BY 1, 2)
        |SELECT i.n1, i.n2, i.inter,
        |  s1.sz + s2.sz - i.inter AS uni,
        |  CAST(i.inter * 1000000 // (s1.sz + s2.sz - i.inter) AS BIGINT)
        |    AS jaccard_ppm,
        |  CAST(i.inter * 1000000 // least(s1.sz, s2.sz) AS BIGINT)
        |    AS overlap_ppm
        |FROM inter i
        |JOIN sizes s1 ON i.n1 = s1.nk
        |JOIN sizes s2 ON i.n2 = s2.nk""".stripMargin,

    // q299's doubled-rank Spearman over the STORED per-doc scores (the
    // deflate codec is engine-local; the artifact is the contract)
    "q459_compress_quality_corr" ->
      s"""WITH st AS (
         |  SELECT source, comp_ppm, quality_ppm
         |  FROM read_parquet('${QueryShared.predsPath("q459_scores")}/*.parquet')
         |), ranked AS (
         |  SELECT source,
         |    CAST(rank() OVER (PARTITION BY source ORDER BY comp_ppm)
         |      AS BIGINT) * 2
         |      + count(*) OVER (PARTITION BY source, comp_ppm) - 1 AS rx2,
         |    CAST(rank() OVER (PARTITION BY source ORDER BY quality_ppm)
         |      AS BIGINT) * 2
         |      + count(*) OVER (PARTITION BY source, quality_ppm) - 1
         |      AS ry2
         |  FROM st
         |), mo AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n,
         |    sum(rx2) AS sx, sum(ry2) AS sy,
         |    sum(CAST(rx2 AS HUGEINT) * ry2) AS sxy,
         |    sum(CAST(rx2 AS HUGEINT) * rx2) AS sxx,
         |    sum(CAST(ry2 AS HUGEINT) * ry2) AS syy
         |  FROM ranked GROUP BY 1
         |), f AS (
         |  SELECT source, n,
         |    CAST(CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS VARCHAR) AS DOUBLE) AS num,
         |    CAST(CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS VARCHAR) AS DOUBLE) AS d1,
         |    CAST(CAST(CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS VARCHAR) AS DOUBLE) AS d2
         |  FROM mo)
         |SELECT source, n,
         |  CASE WHEN d1 > 0 AND d2 > 0
         |       THEN num / (sqrt(d1) * sqrt(d2)) END AS rho
         |FROM f""".stripMargin,

    "q299_spearman_corr" ->
      """WITH rev AS (
        |  SELECT o_custkey,
        |         sum(CAST(CAST(o_totalprice AS DECIMAL(30,2)) * 100 AS BIGINT)) AS y
        |  FROM orders GROUP BY 1),
        |base AS (
        |  SELECT c.c_mktsegment,
        |         CAST(CAST(c.c_acctbal AS DECIMAL(30,2)) * 100 AS BIGINT) AS x,
        |         CAST(coalesce(r.y, 0) AS BIGINT) AS y
        |  FROM customer c LEFT JOIN rev r ON c.c_custkey = r.o_custkey),
        |ranked AS (
        |  SELECT c_mktsegment,
        |    CAST(rank() OVER (PARTITION BY c_mktsegment ORDER BY x) AS BIGINT) * 2
        |      + count(*) OVER (PARTITION BY c_mktsegment, x) - 1 AS rx2,
        |    CAST(rank() OVER (PARTITION BY c_mktsegment ORDER BY y) AS BIGINT) * 2
        |      + count(*) OVER (PARTITION BY c_mktsegment, y) - 1 AS ry2
        |  FROM base),
        |st AS (
        |  SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
        |    sum(rx2) AS sx, sum(ry2) AS sy,
        |    sum(CAST(rx2 AS HUGEINT) * ry2) AS sxy,
        |    sum(CAST(rx2 AS HUGEINT) * rx2) AS sxx,
        |    sum(CAST(ry2 AS HUGEINT) * ry2) AS syy
        |  FROM ranked GROUP BY 1),
        |f AS (
        |  SELECT c_mktsegment, n,
        |    CAST(CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS VARCHAR) AS DOUBLE) AS num,
        |    CAST(CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS VARCHAR) AS DOUBLE) AS d1,
        |    CAST(CAST(CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS VARCHAR) AS DOUBLE) AS d2
        |  FROM st)
        |SELECT c_mktsegment, n,
        |  CASE WHEN d1 > 0 AND d2 > 0
        |       THEN num / (sqrt(d1) * sqrt(d2)) END AS rho
        |FROM f""".stripMargin,

    "q300_active_streaks" ->
      """WITH d AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |m AS (
        |  SELECT user_id, day,
        |    CASE WHEN lag(day) OVER (PARTITION BY user_id ORDER BY day)
        |              IS NULL
        |           OR day - lag(day) OVER (PARTITION BY user_id
        |                                   ORDER BY day) > 1
        |         THEN 1 ELSE 0 END AS new_isl
        |  FROM d),
        |i AS (
        |  SELECT user_id, day,
        |    sum(new_isl) OVER (PARTITION BY user_id ORDER BY day
        |      ROWS UNBOUNDED PRECEDING) AS isl
        |  FROM m),
        |s AS (
        |  SELECT user_id, isl, CAST(count(*) AS BIGINT) AS len,
        |         max(day) AS isl_end
        |  FROM i GROUP BY 1, 2)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_streaks,
        |  CAST(sum(len) AS BIGINT) AS n_active_days,
        |  CAST(max(len) AS BIGINT) AS best_streak,
        |  CAST(max_by(len, isl_end) AS BIGINT) AS ending_streak,
        |  max(isl_end) AS last_day
        |FROM s GROUP BY 1""".stripMargin,

    "q301_zipf_slope" ->
      """WITH tf AS (
        |  SELECT t, CAST(count(*) AS BIGINT) AS f
        |  FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t
        |        FROM documents)
        |  GROUP BY 1 ORDER BY f DESC, t LIMIT 1000),
        |ranked AS (
        |  SELECT f, CAST(row_number() OVER (ORDER BY f DESC, t) AS BIGINT) AS r
        |  FROM tf),
        |q AS (
        |  SELECT *,
        |    CAST(floor(ln(CAST(r AS DOUBLE)) * 1000000.0) AS BIGINT) AS lx,
        |    CAST(floor(ln(CAST(f AS DOUBLE)) * 1000000.0) AS BIGINT) AS ly
        |  FROM ranked),
        |st AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_terms,
        |    sum(lx) AS sx, sum(ly) AS sy,
        |    sum(CAST(lx AS HUGEINT) * ly) AS sxy,
        |    sum(CAST(lx AS HUGEINT) * lx) AS sxx
        |  FROM q),
        |f AS (
        |  SELECT n_terms, sx, sy,
        |    CAST(CAST(CAST(n_terms AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS VARCHAR) AS DOUBLE)
        |      / CAST(CAST(CAST(n_terms AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS VARCHAR) AS DOUBLE)
        |      AS slope
        |  FROM st)
        |SELECT n_terms, slope,
        |  (CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE))
        |    / (CAST(n_terms AS DOUBLE) * 1000000.0) AS icept
        |FROM f""".stripMargin,

    "q302_mutual_information" ->
      """WITH c1 AS (
        |  SELECT o_orderpriority AS x, o_orderstatus AS y,
        |         CAST(count(*) AS BIGINT) AS n_xy
        |  FROM orders GROUP BY 1, 2),
        |c2 AS (
        |  SELECT l_returnflag AS x, l_linestatus AS y,
        |         CAST(count(*) AS BIGINT) AS n_xy
        |  FROM lineitem GROUP BY 1, 2),
        |cells AS (
        |  SELECT 'priority_status' AS pair, * FROM c1
        |  UNION ALL
        |  SELECT 'returnflag_linestatus' AS pair, * FROM c2),
        |m AS (
        |  SELECT pair, x, y, n_xy,
        |    sum(n_xy) OVER (PARTITION BY pair, x) AS n_x,
        |    sum(n_xy) OVER (PARTITION BY pair, y) AS n_y,
        |    sum(n_xy) OVER (PARTITION BY pair) AS n_tot
        |  FROM cells)
        |SELECT pair, x, y, n_xy,
        |  CAST(floor((ln(CAST(n_xy AS DOUBLE)) + ln(CAST(n_tot AS DOUBLE))
        |    - ln(CAST(n_x AS DOUBLE)) - ln(CAST(n_y AS DOUBLE)))
        |    * CAST(n_xy AS DOUBLE) * 1000000.0) AS BIGINT) AS term_micro
        |FROM m""".stripMargin,

    "q303_trimmed_mean" ->
      """WITH v AS (
        |  SELECT c.c_mktsegment, o.o_orderkey,
        |         CAST(CAST(o.o_totalprice AS DECIMAL(30,2)) * 100 AS BIGINT) AS v
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
        |r AS (
        |  SELECT c_mktsegment, v,
        |    CAST(row_number() OVER (PARTITION BY c_mktsegment
        |      ORDER BY v, o_orderkey) AS BIGINT) AS ra,
        |    CAST(row_number() OVER (PARTITION BY c_mktsegment
        |      ORDER BY v DESC, o_orderkey DESC) AS BIGINT) AS rd,
        |    count(*) OVER (PARTITION BY c_mktsegment) // 10 AS cut
        |  FROM v)
        |SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS kept_n,
        |  CAST(sum(v) AS BIGINT) AS kept_sum,
        |  CAST(sum(v) // count(*) AS BIGINT) AS mean_cents
        |FROM r WHERE ra > cut AND rd > cut
        |GROUP BY 1""".stripMargin,

    "q304_cross_correlation" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS d, o_orderpriority,
        |         sum(CAST(CAST(o_totalprice AS DECIMAL(30,2)) * 100 AS BIGINT)) AS v
        |  FROM orders GROUP BY 1, 2),
        |a AS (SELECT d, CAST(v AS BIGINT) AS va FROM daily
        |      WHERE o_orderpriority = '1-URGENT'),
        |b AS (SELECT d AS db, CAST(v AS BIGINT) AS vb FROM daily
        |      WHERE o_orderpriority = '5-LOW'),
        |lags AS (SELECT unnest(generate_series(-7, 7)) AS lag),
        |j AS (
        |  SELECT l.lag, a.va, b.vb
        |  FROM a CROSS JOIN lags l
        |  JOIN b ON b.db = a.d + CAST(l.lag AS INTEGER)),
        |st AS (
        |  SELECT lag, CAST(count(*) AS BIGINT) AS n_days,
        |    sum(va) AS sx, sum(vb) AS sy,
        |    sum(CAST(va AS HUGEINT) * vb) AS sxy,
        |    sum(CAST(va AS HUGEINT) * va) AS sxx,
        |    sum(CAST(vb AS HUGEINT) * vb) AS syy
        |  FROM j GROUP BY 1),
        |f AS (
        |  SELECT lag, n_days,
        |    CAST(CAST(CAST(n_days AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS VARCHAR) AS DOUBLE) AS num,
        |    CAST(CAST(CAST(n_days AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS VARCHAR) AS DOUBLE) AS d1,
        |    CAST(CAST(CAST(n_days AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS VARCHAR) AS DOUBLE) AS d2
        |  FROM st)
        |SELECT CAST(lag AS BIGINT) AS lag, n_days,
        |  CASE WHEN d1 > 0 AND d2 > 0
        |       THEN num / (sqrt(d1) * sqrt(d2)) END AS r
        |FROM f""".stripMargin,

    "q305_theil_index" ->
      """WITH rev AS (
        |  SELECT * FROM (
        |    SELECT o_custkey,
        |      CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(30,2)) * 100 AS BIGINT))
        |           AS BIGINT) AS v
        |    FROM orders GROUP BY 1) WHERE v > 0),
        |j AS (
        |  SELECT n.n_name, r.v,
        |    CAST(floor(ln(CAST(r.v AS DOUBLE)) * 1000000.0) AS BIGINT) AS lv
        |  FROM rev r
        |  JOIN customer c ON r.o_custkey = c.c_custkey
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey),
        |st AS (
        |  SELECT n_name, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(v) AS BIGINT) AS s_cents,
        |    sum(CAST(v AS HUGEINT) * lv) AS svl
        |  FROM j GROUP BY 1)
        |SELECT n_name, n, s_cents,
        |  CAST(svl // s_cents AS BIGINT)
        |    - CAST(floor(ln(CAST(s_cents AS DOUBLE) / CAST(n AS DOUBLE))
        |           * 1000000.0) AS BIGINT) AS theil_micro
        |FROM st""".stripMargin,

    "q307_matryoshka_recall" -> {
      def topk(m: String, alias: String): String =
        s"""$alias AS (
           |  SELECT q_id, n_id FROM (
           |    SELECT q_id, n_id,
           |      row_number() OVER (PARTITION BY q_id ORDER BY dot_q DESC, n_id) AS rk
           |    FROM (
           |      SELECT q_id, n_id,
           |        CAST(list_sum(list_transform(generate_series(1, $m), i ->
           |          CAST(floor(CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)
           |            * 1000000000000) AS BIGINT))) AS BIGINT) AS dot_q
           |      FROM q, c WHERE q_id <> n_id))
           |  WHERE rk <= 10)"""
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings
         |           WHERE vec_id % 50 = 0),
         |c AS (SELECT vec_id AS n_id, embedding AS ce FROM embeddings),
         |${topk("len(qe)", "full_tk")},
         |${topk("8", "p8")},
         |${topk("16", "p16")},
         |${topk("32", "p32")},
         |pref AS (
         |  SELECT CAST(8 AS INT) AS m, q_id, n_id FROM p8
         |  UNION ALL SELECT CAST(16 AS INT), q_id, n_id FROM p16
         |  UNION ALL SELECT CAST(32 AS INT), q_id, n_id FROM p32)
         |SELECT p.m, p.q_id,
         |  CAST(sum(CASE WHEN f.n_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS overlap,
         |  CAST(sum(CASE WHEN f.n_id IS NOT NULL THEN 1 ELSE 0 END)
         |    * 1000000 // 10 AS BIGINT) AS recall_ppm
         |FROM pref p LEFT JOIN full_tk f
         |  ON p.q_id = f.q_id AND p.n_id = f.n_id
         |GROUP BY 1, 2""".stripMargin
    },

    "q308_order_day_gaps" ->
      """WITH days AS (
        |  SELECT DISTINCT c.c_nationkey, CAST(o.o_orderdate AS DATE) AS d
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
        |g AS (
        |  SELECT c_nationkey, d,
        |    CAST(d - lag(d) OVER (PARTITION BY c_nationkey ORDER BY d)
        |         AS BIGINT) - 1 AS gap
        |  FROM days),
        |a AS (
        |  SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_active,
        |    min(d) AS first_d, max(d) AS last_d,
        |    CAST(sum(CASE WHEN gap > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_gaps,
        |    CAST(max(coalesce(gap, 0)) AS BIGINT) AS max_gap
        |  FROM g GROUP BY 1)
        |SELECT c_nationkey, n_active, first_d, last_d, n_gaps, max_gap,
        |  CAST(last_d - first_d AS BIGINT) + 1 AS span_days,
        |  CAST(last_d - first_d AS BIGINT) + 1 - n_active AS n_missing
        |FROM a""".stripMargin,

    "q309_burstiness" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
        |l AS (
        |  SELECT user_id, ts_us,
        |    lag(ts_us) OVER (PARTITION BY user_id
        |      ORDER BY ts_us, event_id) AS prev
        |  FROM e),
        |g AS (
        |  SELECT user_id, CAST((ts_us - prev) // 1000000 AS BIGINT) AS g
        |  FROM l WHERE prev IS NOT NULL),
        |st AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
        |    CAST(sum(g) AS BIGINT) AS s_g,
        |    sum(CAST(g AS HUGEINT) * g) AS q_g
        |  FROM g GROUP BY 1 HAVING count(*) >= 2),
        |f AS (
        |  SELECT user_id, n_gaps, s_g,
        |    CAST(CAST(CAST(n_gaps AS HUGEINT) * q_g
        |         - CAST(s_g AS HUGEINT) * s_g AS VARCHAR) AS DOUBLE) AS dd
        |  FROM st)
        |SELECT user_id, n_gaps, s_g,
        |  CASE WHEN sqrt(dd) + CAST(s_g AS DOUBLE) > 0
        |       THEN (sqrt(dd) - CAST(s_g AS DOUBLE))
        |            / (sqrt(dd) + CAST(s_g AS DOUBLE)) END AS b_coeff
        |FROM f""".stripMargin,

    // q69's PageRank recurrence, unrolled, with a seed-restricted teleport:
    // per-node base mass (seeds only), 5 identical integer rounds
    "q323_personalized_pagerank" -> {
      def round(k: Int): String =
        s"""pr$k AS (
           |  SELECT n.node,
           |    CAST(n.base + (85 * COALESCE(m.s, 0)) // 100 AS BIGINT) AS score
           |  FROM nodes n LEFT JOIN (
           |    SELECT e.dst AS node, SUM(p.score // d.deg) AS s
           |    FROM pr${k - 1} p JOIN deg d ON p.node = d.node
           |    JOIN edges e ON e.src = p.node
           |    GROUP BY e.dst) m ON n.node = m.node)""".stripMargin
      """WITH pairs AS (
        |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |edges AS (SELECT src, dst FROM pairs UNION ALL SELECT dst, src FROM pairs),
        |deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
        |        FROM edges GROUP BY 1),
        |nodes0 AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
        |sds AS (SELECT c_custkey * 2 AS node FROM customer
        |        WHERE c_custkey % 100 = 0),
        |sd AS (SELECT DISTINCT n.node FROM nodes0 n
        |       JOIN sds s ON n.node = s.node),
        |params AS (
        |  SELECT CAST(1000000000000 // count(*) AS BIGINT) AS init,
        |         CAST((15 * (1000000000000 // count(*))) // 100 AS BIGINT)
        |           AS baseval
        |  FROM sd),
        |nodes AS (
        |  SELECT n.node,
        |    CASE WHEN s.node IS NOT NULL THEN (SELECT baseval FROM params)
        |         ELSE CAST(0 AS BIGINT) END AS base
        |  FROM nodes0 n LEFT JOIN sd s ON n.node = s.node),
        |pr0 AS (
        |  SELECT n.node,
        |    CASE WHEN s.node IS NOT NULL THEN (SELECT init FROM params)
        |         ELSE CAST(0 AS BIGINT) END AS score
        |  FROM nodes0 n LEFT JOIN sd s ON n.node = s.node),
        |""".stripMargin +
        (1 to 5).map(round).mkString(",\n") +
        "\nSELECT node, score FROM pr5"
    },

    "q324_decay_attribution" ->
      """WITH conv AS (
        |  SELECT event_id AS conv_id, user_id AS u, epoch_us(ts) AS conv_us
        |  FROM events WHERE event_type = 'purchase'),
        |touch AS (
        |  SELECT user_id AS u, ts AS touch_ts, event_id AS t_eid,
        |         epoch_us(ts) AS touch_us
        |  FROM events WHERE event_type = 'view'),
        |j AS (
        |  SELECT c.conv_id, t.touch_ts, t.t_eid, t.touch_us, c.conv_us
        |  FROM conv c JOIN touch t ON c.u = t.u
        |  WHERE t.touch_us <= c.conv_us
        |    AND t.touch_us > c.conv_us - CAST(86400000000 AS BIGINT)),
        |r AS (
        |  SELECT *,
        |    CAST(row_number() OVER (PARTITION BY conv_id
        |      ORDER BY touch_us, t_eid) AS BIGINT) AS rn,
        |    count(*) OVER (PARTITION BY conv_id) AS n,
        |    CAST((conv_us - touch_us) // 1000000 AS BIGINT) AS age_s
        |  FROM j),
        |cr AS (
        |  SELECT touch_ts,
        |    CAST(floor(exp(CAST(age_s AS DOUBLE) / 3600.0 * ln(0.5))
        |         * 1000000.0) AS BIGINT) AS decay_micro,
        |    CASE WHEN n = 1 THEN 1000000
        |         WHEN n = 2 THEN 500000
        |         WHEN rn = 1 OR rn = n THEN 400000
        |         ELSE 200000 // (n - 2) END AS u_micro
        |  FROM r)
        |SELECT CAST(hour(touch_ts) AS BIGINT) AS view_hour,
        |  CAST(count(*) AS BIGINT) AS n_credited,
        |  CAST(sum(decay_micro) AS BIGINT) AS decay_micros,
        |  CAST(sum(u_micro) AS BIGINT) AS u_micros
        |FROM cr GROUP BY 1""".stripMargin,

    // 8 unrolled peel stages — the same FIXED round count the Spark
    // loop runs (fixed-round semantics make the fixpoint question moot
    // for parity; the fixture converges by round 4 at every SF)
    "q321_kcore" -> {
      val stages = (1 to 8).map { i =>
        s"""n$i AS MATERIALIZED (
           |  SELECT n FROM (SELECT a AS n FROM e${i - 1}
           |                 UNION ALL SELECT b FROM e${i - 1})
           |  GROUP BY 1 HAVING count(*) >= 2),
           |e$i AS MATERIALIZED (
           |  SELECT a, b FROM e${i - 1}
           |  WHERE a IN (SELECT n FROM n$i) AND b IN (SELECT n FROM n$i))"""
      }.mkString(",\n")
      s"""WITH e0 AS MATERIALIZED (
         |  SELECT a, b FROM (
         |    SELECT o.o_custkey * 2 AS a, l.l_suppkey * 2 + 1 AS b,
         |           count(DISTINCT o.o_orderkey) AS w
         |    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
         |    GROUP BY 1, 2) WHERE w >= 2),
         |$stages
         |SELECT n, CAST(count(*) AS BIGINT) AS degree
         |FROM (SELECT a AS n FROM e8 UNION ALL SELECT b FROM e8)
         |GROUP BY 1""".stripMargin
    },

    // the same 48 exact-integer Jacobi rounds the Spark driver loop
    // runs, unrolled — integer micro-units make every round's sum
    // order-free, so the two engines walk bit-identical paths
    "q322_markov_attribution" -> {
      val iters = (1 to 48).map { i =>
        s"""p$i AS MATERIALIZED (
           |  SELECT x.ch, x.s,
           |    CASE WHEN x.s = x.ch THEN CAST(0 AS BIGINT) ELSE
           |      CAST(COALESCE(sum(c.n * CASE WHEN c.dst = 'CONV' THEN 1000000
           |        WHEN c.dst = 'NULL' THEN 0
           |        WHEN c.dst = x.ch THEN 0
           |        ELSE coalesce(pp.p, 0) END), 0) // max(t.total) AS BIGINT)
           |    END AS p
           |  FROM p${i - 1} x
           |  JOIN counts c ON c.src = x.s
           |  JOIN tot t ON t.src = x.s
           |  LEFT JOIN p${i - 1} pp ON pp.ch = x.ch AND pp.s = c.dst
           |  GROUP BY x.ch, x.s)"""
      }.mkString(",\n")
      s"""WITH ev AS (
         |  SELECT user_id, event_id, epoch_us(ts) AS us, event_type
         |  FROM events),
         |rk AS (
         |  SELECT *, row_number() OVER (PARTITION BY user_id
         |    ORDER BY us, event_id) AS rn FROM ev),
         |cr AS (SELECT user_id, min(rn) AS crn FROM rk
         |       WHERE event_type = 'purchase' GROUP BY 1),
         |kept AS MATERIALIZED (
         |  SELECT r.user_id, r.rn,
         |    CASE WHEN r.event_type = 'purchase' THEN 'CONV'
         |         ELSE r.event_type END AS state
         |  FROM rk r LEFT JOIN cr ON r.user_id = cr.user_id
         |  WHERE cr.crn IS NULL OR r.rn <= cr.crn),
         |tr AS (
         |  SELECT coalesce(lag(state) OVER (PARTITION BY user_id
         |    ORDER BY rn), 'START') AS src, state AS dst FROM kept),
         |term AS (
         |  SELECT state AS src, 'NULL' AS dst FROM (
         |    SELECT state, rn, max(rn) OVER (PARTITION BY user_id) AS mx
         |    FROM kept) WHERE rn = mx AND state <> 'CONV'),
         |counts AS MATERIALIZED (
         |  SELECT src, dst, CAST(count(*) AS BIGINT) AS n
         |  FROM (SELECT * FROM tr UNION ALL SELECT * FROM term)
         |  GROUP BY 1, 2),
         |tot AS MATERIALIZED (SELECT src, CAST(sum(n) AS BIGINT) AS total
         |        FROM counts GROUP BY 1),
         |chs AS (SELECT DISTINCT src AS ch FROM counts WHERE src <> 'START'
         |        UNION ALL SELECT '(none)'),
         |sts AS (SELECT DISTINCT src AS s FROM counts),
         |p0 AS MATERIALIZED (SELECT ch, s, CAST(0 AS BIGINT) AS p
         |       FROM chs CROSS JOIN sts),
         |$iters,
         |pb AS (SELECT p AS base_p FROM p48
         |       WHERE ch = '(none)' AND s = 'START')
         |SELECT x.ch AS removed, x.p AS p_start_micro,
         |  CASE WHEN x.ch = '(none)' THEN CAST(0 AS BIGINT)
         |       WHEN pb.base_p > 0
         |         THEN CAST((pb.base_p - x.p) * 1000000 // pb.base_p AS BIGINT)
         |       ELSE CAST(0 AS BIGINT) END AS removal_micro
         |FROM p48 x CROSS JOIN pb WHERE x.s = 'START'""".stripMargin
    },

    "q317_price_volume_mix" ->
      """WITH pp AS (
        |  SELECT * FROM (
        |    SELECT p.p_brand, l.l_partkey,
        |      CAST(sum(CASE WHEN year(l.l_shipdate) = 1996
        |        THEN CAST(l.l_quantity AS BIGINT) ELSE 0 END) AS BIGINT) AS q0,
        |      CAST(sum(CASE WHEN year(l.l_shipdate) = 1996
        |        THEN CAST(CAST(l.l_extendedprice AS DECIMAL(30,2)) * 100
        |             AS BIGINT) ELSE 0 END) AS BIGINT) AS r0,
        |      CAST(sum(CASE WHEN year(l.l_shipdate) = 1997
        |        THEN CAST(l.l_quantity AS BIGINT) ELSE 0 END) AS BIGINT) AS q1,
        |      CAST(sum(CASE WHEN year(l.l_shipdate) = 1997
        |        THEN CAST(CAST(l.l_extendedprice AS DECIMAL(30,2)) * 100
        |             AS BIGINT) ELSE 0 END) AS BIGINT) AS r1
        |    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |    WHERE year(l.l_shipdate) IN (1996, 1997)
        |    GROUP BY 1, 2) WHERE q0 > 0 AND q1 > 0),
        |pr AS (
        |  SELECT p_brand, q0, r0, q1, r1,
        |    CAST(r0 // q0 AS BIGINT) AS p0, CAST(r1 // q1 AS BIGINT) AS p1
        |  FROM pp)
        |SELECT p_brand, CAST(count(*) AS BIGINT) AS n_parts,
        |  CAST(sum(r1 - r0) AS BIGINT) AS d_rev,
        |  CAST(sum(CAST(q1 - q0 AS HUGEINT) * p0) AS BIGINT) AS vol_effect,
        |  CAST(sum(CAST(q1 AS HUGEINT) * (p1 - p0)) AS BIGINT) AS price_effect,
        |  CAST(sum(r1 - r0) AS BIGINT)
        |    - CAST(sum(CAST(q1 - q0 AS HUGEINT) * p0) AS BIGINT)
        |    - CAST(sum(CAST(q1 AS HUGEINT) * (p1 - p0)) AS BIGINT) AS residual
        |FROM pr GROUP BY 1""".stripMargin,

    "q318_sprt" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS n_t,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |         AS BIGINT) AS k_t
        |  FROM events WHERE user_id % 2 = 1 GROUP BY 1),
        |c AS (
        |  SELECT d,
        |    sum(n_t) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS n_cum,
        |    sum(k_t) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS k_cum
        |  FROM daily),
        |l AS (
        |  SELECT d, CAST(n_cum AS BIGINT) AS n_cum,
        |    CAST(k_cum AS BIGINT) AS k_cum,
        |    CAST(floor((CAST(k_cum AS DOUBLE) * ln(0.05 / 0.04)
        |      + CAST(n_cum - k_cum AS DOUBLE) * ln(0.95 / 0.96))
        |      * 1000000.0) AS BIGINT) AS llr_micro
        |  FROM c)
        |SELECT d, n_cum, k_cum, llr_micro,
        |  CASE WHEN llr_micro >= CAST(floor(ln(19.0) * 1000000.0) AS BIGINT)
        |         THEN 'accept_h1'
        |       WHEN llr_micro <= -CAST(floor(ln(19.0) * 1000000.0) AS BIGINT)
        |         THEN 'accept_h0'
        |       ELSE 'continue' END AS state
        |FROM l""".stripMargin,

    "q319_nelson_aalen" ->
      """WITH pu AS (
        |  SELECT user_id, min(epoch_us(ts)) AS first_us,
        |    min(CASE WHEN event_type = 'purchase'
        |             THEN epoch_us(ts) END) AS conv_us,
        |    max(epoch_us(ts)) AS last_us
        |  FROM events GROUP BY 1),
        |t AS (
        |  SELECT CASE WHEN conv_us IS NOT NULL THEN 1 ELSE 0 END AS event,
        |    CAST((coalesce(conv_us, last_us) - first_us) // 86400000000
        |         AS BIGINT) AS t_day
        |  FROM pu),
        |ex AS (
        |  SELECT t_day, CAST(sum(event) AS BIGINT) AS n_event,
        |    CAST(sum(1 - event) AS BIGINT) AS n_censored
        |  FROM t GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM pu),
        |r AS (
        |  SELECT t_day, n_event,
        |    n_total - coalesce(sum(n_event + n_censored) OVER (
        |      ORDER BY t_day ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND 1 PRECEDING), 0) AS n_risk
        |  FROM ex CROSS JOIN tot),
        |h AS (
        |  SELECT t_day, CAST(n_risk AS BIGINT) AS n_risk, n_event,
        |    CAST(n_event * 1000000 // n_risk AS BIGINT) AS h_inc_micro
        |  FROM r)
        |SELECT t_day, n_risk, n_event, h_inc_micro,
        |  CAST(sum(h_inc_micro) OVER (ORDER BY t_day
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS h_cum_micro
        |FROM h""".stripMargin,

    "q314_segment_migration" ->
      """WITH o AS (
        |  SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
        |    CAST(CAST(o_totalprice AS DECIMAL(30,2)) * 100 AS BIGINT) AS c
        |  FROM orders),
        |p1 AS (SELECT o_custkey AS ck1, CAST(sum(c) AS BIGINT) AS v1
        |       FROM o WHERE d < DATE '1998-01-01' GROUP BY 1),
        |p2 AS (SELECT o_custkey AS ck2, CAST(sum(c) AS BIGINT) AS v2
        |       FROM o WHERE d >= DATE '1998-01-01' GROUP BY 1),
        |q1 AS (SELECT quantile_cont(v1, 0.2) AS a1, quantile_cont(v1, 0.4) AS a2,
        |              quantile_cont(v1, 0.6) AS a3, quantile_cont(v1, 0.8) AS a4
        |       FROM p1),
        |q2 AS (SELECT quantile_cont(v2, 0.2) AS b1, quantile_cont(v2, 0.4) AS b2,
        |              quantile_cont(v2, 0.6) AS b3, quantile_cont(v2, 0.8) AS b4
        |       FROM p2),
        |j AS (SELECT v1, v2 FROM p1 FULL OUTER JOIN p2 ON ck1 = ck2),
        |cl AS (
        |  SELECT
        |    CAST(CASE WHEN v1 IS NULL THEN 0 ELSE
        |      1 + (CASE WHEN v1 > a1 THEN 1 ELSE 0 END)
        |        + (CASE WHEN v1 > a2 THEN 1 ELSE 0 END)
        |        + (CASE WHEN v1 > a3 THEN 1 ELSE 0 END)
        |        + (CASE WHEN v1 > a4 THEN 1 ELSE 0 END) END AS INT) AS from_class,
        |    CAST(CASE WHEN v2 IS NULL THEN 0 ELSE
        |      1 + (CASE WHEN v2 > b1 THEN 1 ELSE 0 END)
        |        + (CASE WHEN v2 > b2 THEN 1 ELSE 0 END)
        |        + (CASE WHEN v2 > b3 THEN 1 ELSE 0 END)
        |        + (CASE WHEN v2 > b4 THEN 1 ELSE 0 END) END AS INT) AS to_class
        |  FROM j CROSS JOIN q1 CROSS JOIN q2)
        |SELECT from_class, to_class, CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(*) * 1000000
        |       // sum(count(*)) OVER (PARTITION BY from_class) AS BIGINT)
        |    AS row_ppm
        |FROM cl GROUP BY 1, 2""".stripMargin,

    "q315_embedding_audit" ->
      """WITH d AS (
        |  SELECT label,
        |    CAST(list_sum(list_transform(generate_series(1, len(embedding)), i ->
        |      CAST(floor(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
        |        * 1000000000000) AS BIGINT))) AS BIGINT) AS dot_self,
        |    len(embedding) AS dim
        |  FROM embeddings),
        |n AS (
        |  SELECT label, dot_self, dim,
        |    CAST(floor(sqrt(CAST(dot_self AS DOUBLE) / 1000000000000.0)
        |         * 1000000.0) AS BIGINT) AS norm_micro
        |  FROM d)
        |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
        |  CAST(sum(CASE WHEN dot_self = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
        |  CAST(sum(CASE WHEN dim <> 64 THEN 1 ELSE 0 END) AS BIGINT) AS n_ragged,
        |  min(norm_micro) AS min_norm_micro,
        |  max(norm_micro) AS max_norm_micro,
        |  CAST(sum(norm_micro) AS BIGINT) AS sum_norm_micro
        |FROM n GROUP BY 1""".stripMargin,

    "q316_rank_momentum" ->
      """WITH m AS (
        |  SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
        |    p.p_brand,
        |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(30,2)) * 100
        |             AS BIGINT)) AS BIGINT) AS rev_cents
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |  GROUP BY 1, 2),
        |r AS (
        |  SELECT month, p_brand, rev_cents,
        |    CAST(row_number() OVER (PARTITION BY month
        |      ORDER BY rev_cents DESC, p_brand) AS BIGINT) AS rnk
        |  FROM m)
        |SELECT month, p_brand, rev_cents, rnk,
        |  lag(rnk) OVER (PARTITION BY p_brand ORDER BY month) AS prev_rnk,
        |  lag(rnk) OVER (PARTITION BY p_brand ORDER BY month) - rnk
        |    AS rank_delta
        |FROM r""".stripMargin,

    "q311_lorenz_points" ->
      """WITH rev AS (
        |  SELECT o_custkey,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(30,2)) * 100 AS BIGINT))
        |         AS BIGINT) AS v
        |  FROM orders GROUP BY 1),
        |j AS (
        |  SELECT n.n_name, r.o_custkey, r.v
        |  FROM rev r
        |  JOIN customer c ON r.o_custkey = c.c_custkey
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey),
        |r AS (
        |  SELECT n_name,
        |    CAST(row_number() OVER (PARTITION BY n_name
        |      ORDER BY v, o_custkey) AS BIGINT) AS rn,
        |    sum(v) OVER (PARTITION BY n_name ORDER BY v, o_custkey
        |      ROWS UNBOUNDED PRECEDING) AS cum_v,
        |    count(*) OVER (PARTITION BY n_name) AS n,
        |    sum(v) OVER (PARTITION BY n_name) AS tot_v
        |  FROM j)
        |SELECT n_name, CAST(rn * 10 // n AS BIGINT) AS k,
        |  CAST(rn * 1000000 // n AS BIGINT) AS pop_ppm,
        |  CAST(CAST(cum_v AS HUGEINT) * 1000000 // tot_v AS BIGINT) AS value_ppm
        |FROM r WHERE rn * 10 // n > (rn - 1) * 10 // n""".stripMargin,

    "q312_edf_distances" ->
      """WITH t AS (
        |  SELECT c.c_mktsegment,
        |    CAST(CAST(o.o_totalprice AS DECIMAL(30,2)) * 100 AS BIGINT) AS v,
        |    CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS a,
        |    CASE WHEN o.o_orderpriority = '5-LOW' THEN 1 ELSE 0 END AS b
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  WHERE o.o_orderpriority IN ('1-URGENT', '5-LOW')),
        |pv AS (
        |  SELECT c_mktsegment, v, CAST(sum(a) AS BIGINT) AS da,
        |         CAST(sum(b) AS BIGINT) AS db
        |  FROM t GROUP BY 1, 2),
        |r AS (
        |  SELECT c_mktsegment, da, db,
        |    sum(da) OVER (PARTITION BY c_mktsegment ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) AS cum_a,
        |    sum(db) OVER (PARTITION BY c_mktsegment ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) AS cum_b,
        |    sum(da) OVER (PARTITION BY c_mktsegment) AS na,
        |    sum(db) OVER (PARTITION BY c_mktsegment) AS nb
        |  FROM pv),
        |g AS (
        |  SELECT c_mktsegment, da, db, CAST(na AS BIGINT) AS n_a,
        |    CAST(nb AS BIGINT) AS n_b,
        |    abs(CAST(cum_a AS HUGEINT) * nb - CAST(cum_b AS HUGEINT) * na) AS gap
        |  FROM r),
        |m AS (
        |  SELECT c_mktsegment, max(n_a) AS n_a, max(n_b) AS n_b,
        |    max(gap) AS ks_dec,
        |    sum(CAST(da + db AS HUGEINT) * gap * gap) AS cvm_dec
        |  FROM g GROUP BY 1)
        |SELECT c_mktsegment, n_a, n_b,
        |  CAST(ks_dec AS VARCHAR) AS ks_num,
        |  CAST(cvm_dec AS VARCHAR) AS cvm_num,
        |  CASE WHEN n_a > 0 AND n_b > 0
        |       THEN CAST(CAST(ks_dec AS VARCHAR) AS DOUBLE)
        |            / CAST(CAST(CAST(n_a AS HUGEINT) * n_b AS VARCHAR)
        |                   AS DOUBLE) END AS ks,
        |  CASE WHEN n_a > 0 AND n_b > 0
        |       THEN CAST(CAST(cvm_dec AS VARCHAR) AS DOUBLE)
        |            / CAST(CAST(CAST(n_a AS HUGEINT) * n_b * (n_a + n_b)
        |                * (n_a + n_b) AS VARCHAR) AS DOUBLE) END AS cvm
        |FROM m""".stripMargin,

    "q313_covisitation" ->
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem),
        |sized AS (
        |  SELECT bk, it, count(*) OVER (PARTITION BY bk) AS bs FROM items),
        |kept AS (SELECT bk, it FROM sized WHERE bs <= 20),
        |pairs AS (
        |  SELECT a.it AS item, b.it AS co_item,
        |         CAST(count(*) AS BIGINT) AS n_cobaskets
        |  FROM kept a JOIN kept b ON a.bk = b.bk AND a.it <> b.it
        |  GROUP BY 1, 2),
        |ranked AS (
        |  SELECT item, co_item, n_cobaskets,
        |    CAST(row_number() OVER (PARTITION BY item
        |      ORDER BY n_cobaskets DESC, co_item) AS BIGINT) AS rank
        |  FROM pairs),
        |dropped AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_dropped_baskets
        |  FROM (SELECT bk FROM sized WHERE bs > 20 GROUP BY bk))
        |SELECT item, co_item, n_cobaskets, rank, d.n_dropped_baskets
        |FROM ranked CROSS JOIN dropped d WHERE rank <= 5""".stripMargin,

    "q310_calibration_ece" ->
      s"""WITH $repeatBuyerChain,
        |r AS (
        |  SELECT label,
        |    CAST(row_number() OVER (ORDER BY x, c_custkey) AS BIGINT) AS rn,
        |    count(*) OVER () AS nc
        |  FROM base),
        |conf AS (
        |  SELECT label, CAST((rn - 1) * 1000000 // (nc - 1) AS BIGINT) AS conf_ppm
        |  FROM r),
        |bins AS (
        |  SELECT least(conf_ppm // 100000, 9) AS bin, label, conf_ppm
        |  FROM conf)
        |SELECT CAST(bin AS BIGINT) AS bin, CAST(count(*) AS BIGINT) AS n_b,
        |  CAST(sum(label) * 1000000 // count(*) AS BIGINT) AS acc_ppm,
        |  CAST(sum(conf_ppm) // count(*) AS BIGINT) AS conf_mean_ppm,
        |  CAST(abs(sum(label) * 1000000 // count(*)
        |    - sum(conf_ppm) // count(*)) AS BIGINT) AS gap_ppm
        |FROM bins GROUP BY 1""".stripMargin,
  )
}
