package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-9 session-4 surfaces (q325+): classical k-sample inference
  * (one-way ANOVA F, Kruskal–Wallis H), rank association (Kendall
  * tau-b), rater agreement (Cohen's kappa), graph link prediction
  * (resource-allocation index) and two more fixed-round graph kernels
  * (Bellman–Ford weighted shortest path, HITS hubs/authorities), plus
  * the exact-arithmetic analytics that follow in this file's second
  * half.
  *
  * House portability rules, inherited from [[AnalyticsQueries]] /
  * [[Analytics2Queries]]: money is exact cents BEFORE any aggregate;
  * product moments lift to decimal(38,0) (DuckDB HUGEINT) so nothing
  * wraps; exact integer quotients use the mod-subtract-divide form on
  * the Spark side (decimal `div` would overflow LongType) against
  * DuckDB HUGEINT `//` (identical on the non-negative operands used
  * here); every real-valued statistic is ONE final fixed-text double
  * formula over exact integer sufficient statistics, bridged through
  * [[toD]] (decimal STRING → double, the q304 rule). Iterative kernels
  * run a FIXED round count in exact integers — the q69/q321/q322
  * discipline — so the oracle unrolls the identical recurrence and the
  * driver hash-checks the loop, not a tolerance band.
  *
  * Scale notes (the 100 TB lens): the round-9 declared-in-comment tiers
  * are now IN CODE — q326/q343's per-nation pair join rides the
  * md5-order per-group cap in [[nationPairs]] (Σ_g min(n_g, 256)², the
  * thetaPairs rule, mirrored in both oracles), and q327's global rank —
  * like q255/q310/q344 — executes as the two-phase bucketed
  * [[graft.ops.Stats.distributedRank]] (no single-partition fact
  * sort; PlanAuditSpec enforces this map-wide). q328 keeps its q314
  * broadcast-percentile edge. q329 caps part hubs LOUDLY (candidate volume
  * Σ deg², the covisitation rule) and rides the drop count on every
  * output row. The graph loops localCheckpoint per round (plan
  * truncation, the dupClusters rule) and their messages are sums/mins
  * of integers — order-free, partition-count-invariant.
  */
object Analytics3Queries {

  private def cents(c: Column): Column =
    (c.cast("decimal(30,2)") * 100).cast("long")

  private def d38(c: Column): Column = c.cast("decimal(38,0)")

  /** Exact integer → double through its DECIMAL STRING (the q304 bridge:
    * decimal(38,0)→double and HUGEINT→double round the last ulp
    * differently beyond 2^53; both engines parse the string with correct
    * round-to-nearest). */
  private def toD(c: Column): Column =
    c.cast("string").cast("double")

  /** Exact integral quotient of two non-negative decimals, kept in
    * decimal(38,0): (a − a mod b) / b. Spark's `div` returns LongType
    * (which the ~1e20 quotients here would overflow); the oracle's
    * HUGEINT `//` floors, which equals this truncation on non-negative
    * operands. */
  private def decDiv(a: Column, b: Column): Column =
    ((a - a % b) / b).cast("decimal(38,0)")

  /** Customer repeat-buyer base — (c_custkey, x = balance cents,
    * label = 1 iff ≥2 orders) — shared by q328/q347/q357/q360 so the
    * label rule lives in ONE Spark-side place (the oracle SQL texts
    * necessarily restate it, but the engine side cannot drift). */
  private def labeledCustomers(s: SparkSession, dir: String): DataFrame = {
    val nOrd = Tables.orders(s, dir)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_ord"))
    Tables.customer(s, dir)
      .select(col("c_custkey"), cents(col("c_acctbal")).as("x"))
      .join(nOrd, col("c_custkey") === col("o_custkey"), "left")
      .withColumn("label",
        when(coalesce(col("n_ord"), lit(0L)) >= 2, 1L).otherwise(0L))
      .select(col("c_custkey"), col("x"), col("label"))
  }

  /** [[labeledCustomers]] plus the q310 global percent-rank grid:
    * rn (1-based rank by (x, key)), nc (total), and
    * conf_ppm = (rn−1)·1e6 div (nc−1). The global rank EXECUTES as the
    * two-phase bucketed [[graft.ops.Stats.distributedRank]] (round-9
    * "implement the declared 100 TB tier"); nc attaches as the audited
    * scalar-agg broadcast. Shared by q347/q357/q360; oracles keep
    * stating the naive row_number() OVER (ORDER BY x, key). */
  private def labeledConfBase(s: SparkSession, dir: String): DataFrame = {
    // width 2^14 over the ±1e6-cent acctbal domain → ~130 balanced
    // buckets (the default 2^20 would collapse this narrow domain to ~2)
    val rk = ops.Stats.distributedRank(
      labeledCustomers(s, dir), "x", tieBreak = Seq("c_custkey"),
      out = "rn", bucketWidth = 1L << 14)
    rk.crossJoin(broadcast(rk.agg(count(lit(1)).as("nc"))))
      .withColumn("conf_ppm", expr("(rn - 1) * 1000000 div (nc - 1)"))
  }

  /** Constant-but-NON-FOLDABLE zero join key (the ml.Centroid device):
    * a literal key would constant-fold and Catalyst would plan the
    * dimension-grid join as a nested-loop; pmod(<expr of the column>, 1)
    * evaluates to 0 on every row but survives as a hash key, so the
    * bounded grid attaches via BroadcastHashJoin — which keeps
    * PlanAuditSpec's no-nested-loop rule mechanical over the whole map. */
  private def zeroKeyNum(c: Column): Column =
    pmod(coalesce(c, lit(0L)), lit(1L))
  private def zeroKeyStr(c: Column): Column =
    pmod(coalesce(length(c), lit(0)), lit(1))

  /** Per-group entity cap for [[nationPairs]]: 256 customers per nation,
    * selected in deterministic md5(custkey) order — the same portable
    * hash-order device as Packing.tokenBudgetSample, so the oracle SQL
    * replays the identical selection. Σ_g min(n_g, 256)² bounds the pair
    * volume at ~33k pairs/group at ANY corpus size. */
  private[graft] val NationPairCap = 256L

  /** Within-nation customer pair frame over (x = balance cents,
    * y = lifetime revenue cents), k1 < k2 — the formerly-declared
    * quadratic tier with its 100 TB mitigation now IN CODE (round-9
    * VERDICT "What's wrong" #1): each nation's roster is capped to
    * [[NationPairCap]] entities in deterministic md5(custkey) order
    * BEFORE the self-join (the thetaPairs per-bucket rule, here as a
    * per-group hash sample), so pair volume is Σ_g min(n_g, cap)², never
    * Σ_g n_g². The q326/q343 oracle SQL mirrors the cap CTE exactly (the
    * q78/incrementalDupMarks mirror rule), so both engines compute the
    * same capped statistic at every SF — the cap engages at sf0.1
    * (600 customers/nation) and is slack at sf0.001/0.01. Shared by
    * q326 (Kendall tau-b) and q343 (Theil–Sen); both are now ESTIMATES
    * on the deterministic per-group sample wherever a group exceeds the
    * cap — the declared semantics of a rank statistic at corpus scale. */
  private[graft] def nationPairs(
      s: SparkSession, dir: String,
      cap: Long = NationPairCap): DataFrame = {
    val rev = Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(cents(col("o_totalprice"))).as("y"))
    val base = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_nationkey").cast("long").as("nk"),
        cents(col("c_acctbal")).as("x"))
      .join(rev, col("c_custkey") === col("o_custkey"), "left")
      .select(col("nk"), col("c_custkey").as("ck"), col("x"),
        coalesce(col("y"), lit(0L)).as("y"))
    val capped = base
      .withColumn("hr", row_number().over(
        Window.partitionBy(col("nk"))
          .orderBy(md5(col("ck").cast("string")), col("ck"))).cast("long"))
      .filter(col("hr") <= cap)
      .drop("hr")
    val a = capped.select(col("nk"), col("ck").as("k1"),
      col("x").as("x1"), col("y").as("y1"))
    val b = capped.select(col("nk"), col("ck").as("k2"),
      col("x").as("x2"), col("y").as("y2"))
    a.join(b, Seq("nk")).filter(col("k1") < col("k2"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // One-way ANOVA F across order priorities on order value: per-group
    // exact sufficient statistics (n, Σx, Σx² decimal-lifted), between/
    // within sums of squares via the QUANTIZED per-group term
    // S_g² div n_g (truncation ≤1 cent² per group — declared semantics,
    // identical both engines), F from one fixed-order double formula.
    // Everything reduces map-side to 5 group rows, then one global row.
    "q325_anova_f" -> ((s, dir) => {
      val g = Tables.orders(s, dir)
        .select(col("o_orderpriority").as("grp"),
          cents(col("o_totalprice")).as("x"))
        .groupBy(col("grp"))
        .agg(count(lit(1)).as("n_g"), sum(col("x")).as("s_g"),
          sum(d38(col("x")) * col("x")).as("q_g"))
        .withColumn("term",
          decDiv(d38(col("s_g")) * col("s_g"), d38(col("n_g"))))
      g.agg(count(lit(1)).as("k"), sum(col("n_g")).as("n"),
          sum(col("s_g")).as("s_all"), sum(col("q_g")).as("q_all"),
          sum(col("term")).as("t_all"))
        .withColumn("s2n",
          decDiv(d38(col("s_all")) * col("s_all"), d38(col("n"))))
        .withColumn("ssb", toD(col("t_all") - col("s2n")))
        .withColumn("ssw", toD(col("q_all") - col("t_all")))
        .withColumn("f_stat",
          when(col("k") > 1 && col("n") > col("k") && col("ssw") > 0,
            (col("ssb") / (col("k") - 1).cast("double")) /
              (col("ssw") / (col("n") - col("k")).cast("double"))))
        .select(col("k"), col("n"), col("ssb"), col("ssw"), col("f_stat"))
    }),


    // Kendall tau-b per nation (account balance vs lifetime revenue):
    // concordant / discordant / tied pairs counted exactly over the
    // nationPairs capped frame (≤256 md5-selected customers per nation,
    // mirrored in the oracle's capped CTE — pair volume Σ min(n_g,256)²,
    // never Σ n_g²), tau-b from the tie-adjusted fixed-order double
    // formula. Distinct from q299's Spearman: tau counts pair
    // inversions, rho ranks.
    "q326_kendall_tau" -> ((s, dir) => {
      nationPairs(s, dir)
        .groupBy(col("nk"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when((col("x1") < col("x2") && col("y1") < col("y2")) ||
            (col("x1") > col("x2") && col("y1") > col("y2")), 1L)
            .otherwise(0L)).as("nc"),
          sum(when((col("x1") < col("x2") && col("y1") > col("y2")) ||
            (col("x1") > col("x2") && col("y1") < col("y2")), 1L)
            .otherwise(0L)).as("nd"),
          sum(when(col("x1") === col("x2") && col("y1") =!= col("y2"), 1L)
            .otherwise(0L)).as("tx"),
          sum(when(col("y1") === col("y2") && col("x1") =!= col("x2"), 1L)
            .otherwise(0L)).as("ty"),
          sum(when(col("x1") === col("x2") && col("y1") === col("y2"), 1L)
            .otherwise(0L)).as("txy"))
        .withColumn("tau_b",
          when(col("n_pairs") > col("tx") + col("txy") &&
            col("n_pairs") > col("ty") + col("txy"),
            (col("nc") - col("nd")).cast("double") /
              (sqrt((col("n_pairs") - col("tx") - col("txy")).cast("double")) *
               sqrt((col("n_pairs") - col("ty") - col("txy")).cast("double")))))
    }),


    // Kruskal–Wallis H across order priorities: tied ranks via the
    // doubled-average-rank trick (2·avgrank = 2·rank + |tie group| − 1
    // stays an exact integer — the q299 device), per-group rank-sum
    // squares quantized with decDiv, the tie-correction factor from
    // exact Σ(t³−t). H and the corrected H are each one fixed-order
    // double formula over the exact integers (N³ stays under 2^53
    // through sf0.1; the formula text is shared, so the bound is a
    // fixture property, not a parity risk). The global rank EXECUTES as
    // the two-phase bucketed Stats.distributedRank — same algebra, no
    // single-partition fact sort; the oracle states the naive form.
    "q327_kruskal_wallis" -> ((s, dir) => {
      val t = Tables.orders(s, dir)
        .select(col("o_orderpriority").as("grp"),
          cents(col("o_totalprice")).as("x"))
      val ranked = ops.Stats.distributedRank(t, "x", out = "rk")
        .withColumn("tsz", count(lit(1)).over(Window.partitionBy(col("x"))))
        .withColumn("r2", lit(2L) * col("rk") + col("tsz") - 1L)
      val g = ranked.groupBy(col("grp"))
        .agg(count(lit(1)).as("n_g"), sum(col("r2")).as("r2_g"))
        .withColumn("term",
          decDiv(d38(col("r2_g")) * col("r2_g"), d38(col("n_g"))))
      val ties = t.groupBy(col("x")).agg(count(lit(1)).as("tt"))
        .agg(sum(d38(col("tt")) * col("tt") * col("tt") - col("tt"))
          .as("tie_s"))
      g.agg(count(lit(1)).as("k"), sum(col("n_g")).as("n"),
          sum(col("term")).as("t_all"))
        .crossJoin(broadcast(ties))
        .withColumn("nd", col("n").cast("double"))
        .withColumn("h",
          lit(3.0) * toD(col("t_all")) / (col("nd") * (col("nd") + 1.0)) -
            lit(3.0) * (col("nd") + 1.0))
        .withColumn("c_tie",
          lit(1.0) - toD(col("tie_s")) /
            (col("nd") * col("nd") * col("nd") - col("nd")))
        .withColumn("h_corr", when(col("c_tie") > 0, col("h") / col("c_tie")))
        .select(col("k"), col("n"), col("h"), col("c_tie"), col("h_corr"))
    }),


    // Cohen's kappa between two deterministic raters over customers —
    // "repeat buyer" (≥2 orders) vs "above-median balance" (exact
    // percentile edge, broadcast — the q314 idiom): the 2×2 agreement
    // counts are exact, kappa = (po − pe)/(1 − pe) rewritten over exact
    // integers as (N·agree − Σrc)/(N² − Σrc), decimal-lifted so the
    // 100 TB N² cannot wrap, evaluated as one fixed double division.
    "q328_cohens_kappa" -> ((s, dir) => {
      val base = labeledCustomers(s, dir).withColumn("a", col("label"))
      val med = base.agg(percentile(col("x"), lit(0.5)).as("med"))
      base.crossJoin(broadcast(med))
        .withColumn("b",
          when(col("x").cast("double") > col("med"), 1L).otherwise(0L))
        .agg(count(lit(1)).as("n"),
          sum(when(col("a") === 1 && col("b") === 1, 1L).otherwise(0L))
            .as("n11"),
          sum(when(col("a") === 1 && col("b") === 0, 1L).otherwise(0L))
            .as("n10"),
          sum(when(col("a") === 0 && col("b") === 1, 1L).otherwise(0L))
            .as("n01"),
          sum(when(col("a") === 0 && col("b") === 0, 1L).otherwise(0L))
            .as("n00"))
        .withColumn("rc",
          d38(col("n11") + col("n10")) * (col("n11") + col("n01")) +
            d38(col("n00") + col("n01")) * (col("n00") + col("n10")))
        .withColumn("kappa",
          when(d38(col("n")) * col("n") =!= col("rc"),
            toD(d38(col("n")) * (col("n11") + col("n00")) - col("rc")) /
              toD(d38(col("n")) * col("n") - col("rc"))))
        .select(col("n"), col("n11"), col("n10"), col("n01"), col("n00"),
          col("kappa"))
    }),


    // Link prediction by the resource-allocation index (Zhou–Lü–Zhang):
    // supplier pairs sharing parts, scored Σ_shared 1e6 div deg(part) —
    // the inverse-hub weighting that separates RA from q313's raw
    // co-counts, in EXACT integer micro-units (no ln, unlike
    // Adamic–Adar — exactness chose the index). Part hubs above deg 20
    // are dropped LOUDLY (pair volume is Σ deg² — the covisitation cap
    // rule) and the drop count rides every row as a scalar-agg
    // broadcast. Output kept to pairs with ≥2 shared parts.
    "q329_resource_allocation" -> ((s, dir) => {
      val ps = Tables.lineitem(s, dir)
        .select(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
        .distinct()
      val deg = ps.groupBy(col("pk")).agg(count(lit(1)).as("deg"))
      val kept = ps.join(deg.filter(col("deg").between(2, 20)), Seq("pk"))
      val dropped = deg.filter(col("deg") > 20)
      val a = kept.select(col("pk"), col("deg"), col("sk").as("s1"))
      val b = kept.select(col("pk"), col("sk").as("s2"))
      a.join(b, Seq("pk")).filter(col("s1") < col("s2"))
        .groupBy(col("s1"), col("s2"))
        .agg(count(lit(1)).as("n_common"),
          sum(expr("1000000 div deg")).as("ra_micro"))
        .filter(col("n_common") >= 2)
        .crossJoin(broadcast(
          dropped.agg(count(lit(1)).as("n_dropped_parts"))))
    }),


    // Bellman–Ford weighted shortest path from a seed set (every 100th
    // customer) over the customer↔supplier trade graph, edge weight
    // 1e6 div (#linking orders) — stronger trade = shorter edge. SIX
    // fixed relaxation rounds (the q69/q321 fixed-round semantics) of
    // ops.Graph.bellmanFordConverged: each round is union + min — an
    // order-free integer reduction that any partitioning reproduces —
    // and a round that improves nothing ends the loop early with the
    // distances the remaining rounds would repeat.
    // Distinct from q156's BFS (unweighted hop counts): this relaxes
    // WEIGHTED distances, and a later round may SHORTEN an
    // already-reached node. Output: reached node → exact distance.
    "q330_bellman_ford" -> ((s, dir) => {
      val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_suppkey"))
      val base = o.join(li, col("o_orderkey") === col("l_orderkey"))
        .groupBy((col("o_custkey") * 2).as("a"),
          (col("l_suppkey") * 2 + 1).as("b"))
        .agg(countDistinct(col("o_orderkey")).as("no"))
        .withColumn("w", expr("1000000 div no"))
        .select(col("a"), col("b"), col("w"))
      val edges = base.select(col("a").as("src"), col("b").as("dst"), col("w"))
        .unionByName(
          base.select(col("b").as("src"), col("a").as("dst"), col("w")))
      val seeds = Tables.customer(s, dir)
        .filter(col("c_custkey") % 100 === 0)
        .select((col("c_custkey") * 2).as("node"))
      ops.Graph.bellmanFordConverged(edges, seeds, maxIters = 6)._1
    }),


    // HITS hubs & authorities on the directed customer→supplier trade
    // graph: five fixed rounds of ops.Graph.hits — a(v)=Σ_{u→v}h(u),
    // h(u)=Σ_{u→v}a(v), each half-step max-normalized to the 1e6
    // integer grid (score·1e6 div max — exact, order-free). Integer
    // products stay ≤ |nodes|·1e12 — comfortably in BIGINT; the 100 TB
    // path lifts the sums to decimal. Distinct from q69's PageRank: no
    // damping/teleport, bipartite mutual reinforcement, max (not mass)
    // normalization.
    "q331_hits" -> ((s, dir) => {
      val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_suppkey"))
      val e = o.join(li, col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
      val (hub, auth, _, _) = ops.Graph.hits(e, maxIters = 5)
      hub.select(col("node"), lit("hub").as("kind"), col("h").as("score"))
        .unionByName(auth.select(col("node"), lit("auth").as("kind"),
          col("a").as("score")))
    }),


    // EWMA smoothing with α = 1/2 over each region's daily revenue, in
    // EXACT integer e8 units: the 8-lag closed form Σ x_{t−j}·w_j with
    // w_j = 1e8·2^{−(j+1)} (tail lag carries the remaining mass so
    // Σw = 1e8 exactly — every weight is an integer because 2^8 | 1e8).
    // No float pow/recursion anywhere, so the smoothing is bit-exact
    // and order-free on both engines; rows emit once the window is full
    // (rn ≥ 8, declared). The per-key sequential model every control
    // chart needs, kept hash-checkable. Partitions by region; the
    // window grain is the day calendar.
    "q332_ewma_exact" -> ((s, dir) => {
      val daily = Tables.orders(s, dir)
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(Tables.nation(s, dir), col("c_nationkey") === col("n_nationkey"))
        .join(Tables.region(s, dir), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), to_date(col("o_orderdate")).as("d"))
        .agg(sum(cents(col("o_totalprice"))).as("c"))
      val w = Window.partitionBy(col("r_name")).orderBy(col("d"))
      val wts = Seq(50000000L, 25000000L, 12500000L, 6250000L,
        3125000L, 1562500L, 781250L, 781250L)
      daily
        .withColumn("rn", row_number().over(w))
        .withColumn("ewma_e8",
          wts.zipWithIndex.map { case (wt, j) =>
            lag(col("c"), j).over(w) * lit(wt)
          }.reduce(_ + _))
        .filter(col("rn") >= 8)
        .select(col("r_name"), col("d"), col("c"), col("ewma_e8"))
    }),


    // RAKE keyword scoring (Rose et al.): candidate phrases are maximal
    // stopword-free token runs (phrase id = running stopword count per
    // doc — one window), word degree = Σ length of containing phrases,
    // word score = deg/freq in integer ppm via `div`. All counts exact;
    // min support 5. Everything shuffles on the word key after a
    // map-side phrase pass — no pair space at all.
    "q333_rake_keywords" -> ((s, dir) => {
      val stop = text.TextOps.EnglishFunctionWords
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"),
          posexplode(text.TextOps.tokens(col("text"))).as(Seq("pos", "w")))
        .withColumn("is_stop", col("w").isInCollection(stop))
      val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val ph = toks
        .withColumn("pid",
          sum(when(col("is_stop"), 1L).otherwise(0L)).over(wDoc))
        .filter(!col("is_stop"))
        .select(col("doc_id"), col("pid"), col("w"))
      val plen = ph.groupBy(col("doc_id"), col("pid"))
        .agg(count(lit(1)).as("plen"))
      ph.join(plen, Seq("doc_id", "pid"))
        .groupBy(col("w"))
        .agg(count(lit(1)).as("freq"), sum(col("plen")).as("deg"))
        .filter(col("freq") >= 5)
        .withColumn("score_ppm", expr("deg * 1000000 div freq"))
    }),


    // TextRank keywords (Mihalcea–Tarau): co-occurrence edges between
    // non-stopword tokens at original distance ≤2, then the SAME
    // fixed-round exact-integer PageRank kernel as q69
    // (ops.Graph.pageRankInt, 5 rounds) over md5-derived word nodes,
    // scores joined back to the word strings. The shifted-copy
    // self-join is two equi-joins on (doc, pos) — never a per-doc
    // quadratic pair space.
    "q334_textrank" -> ((s, dir) => {
      val stop = text.TextOps.EnglishFunctionWords
      def h15(c: Column): Column =
        conv(substring(md5(c), 1, 15), 16, 10).cast("long")
      val a = Tables.documents(s, dir)
        .select(col("doc_id"),
          posexplode(text.TextOps.tokens(col("text"))).as(Seq("pos", "w")))
        .filter(!col("w").isInCollection(stop))
      val shifted = a.select(col("doc_id"), (col("pos") + 1).as("pos"),
          col("w").as("w2"))
        .unionByName(a.select(col("doc_id"), (col("pos") + 2).as("pos"),
          col("w").as("w2")))
      val pairs = a.join(shifted, Seq("doc_id", "pos"))
        .filter(col("w") =!= col("w2"))
        .select(h15(col("w")).as("src"), h15(col("w2")).as("dst"))
      val edges = pairs.unionByName(
        pairs.select(col("dst").as("src"), col("src").as("dst"))).distinct()
      val vocab = a.select(col("w")).distinct()
        .withColumn("node", h15(col("w")))
      ops.Graph.pageRankInt(edges, iters = 5)
        .join(vocab, Seq("node"))
        .select(col("w"), col("score"))
    }),


    // Mean average precision @10 for the popularity recommender (the
    // precision-curve sibling of q275's MRR): top-10 parts per nation
    // from pre-1997 orders, relevance = the customer's own post-1997
    // distinct purchases, AP in integer micro-units (hits@i·1e6 div i,
    // summed over hit ranks, div min(10, |relevant|)) — truncating
    // `div` at each step is the declared quantization, identical both
    // engines. Partitions by customer; the rec list is a broadcast-size
    // dim (10 rows per nation).
    "q335_map_eval" -> ((s, dir) => {
      val cn = Tables.customer(s, dir)
        .select(col("c_custkey").as("ck"), col("c_nationkey").cast("long").as("nk"))
      val ol = Tables.orders(s, dir)
        .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
        .join(cn, col("o_custkey") === col("ck"))
        .select(col("ck"), col("nk"), col("l_partkey").as("pk"),
          to_date(col("o_orderdate")).as("d"))
      val split = to_date(lit("1997-01-01"))
      val recs = ol.filter(col("d") < split)
        .groupBy(col("nk"), col("pk")).agg(count(lit(1)).as("cnt"))
        .withColumn("pos", row_number().over(Window.partitionBy(col("nk"))
          .orderBy(col("cnt").desc, col("pk"))).cast("long"))
        .filter(col("pos") <= 10)
        .select(col("nk"), col("pk"), col("pos"))
      val rel = ol.filter(col("d") >= split)
        .select(col("ck"), col("nk"), col("pk")).distinct()
        // NOT checkpointed (r15): tried materializing the distinct-triple
        // frame for its two consumers (nrel, hits) and measured a 46%
        // regression (1.42 → 2.07 s) — the distinct's exchange is already
        // shared via ReuseExchange (the q45 trap), so the checkpoint only
        // added an eager serialization barrier.
      val nrel = rel.groupBy(col("ck"), col("nk"))
        .agg(count(lit(1)).as("n_rel"))
      val hits = rel.join(broadcast(recs), Seq("nk", "pk"))
        .withColumn("hr", row_number().over(Window.partitionBy(col("ck"))
          .orderBy(col("pos"))).cast("long"))
        .withColumn("term", expr("hr * 1000000 div pos"))
        .groupBy(col("ck")).agg(sum(col("term")).as("tsum"))
      nrel.join(hits, Seq("ck"), "left")
        .withColumn("ap_micro",
          expr("coalesce(tsum, 0) div least(10, n_rel)"))
        .groupBy(col("nk"))
        .agg(count(lit(1)).as("n_users"), sum(col("ap_micro")).as("ap_sum"))
        .withColumn("map_micro", expr("ap_sum div n_users"))
    }),


    // Quantile normalization (the bioinformatics/feature-prep mapper):
    // each supplier balance is replaced by the customer balance at the
    // SAME quantile — rank r of n maps to reference index
    // ceil(r·m/n) = (r·m + n − 1) div n, a pure exact-integer mapping
    // with no interpolation, then one equi-join on the index. Both
    // total orders execute as the two-phase bucketed
    // Stats.distributedRank (no single-partition entity sort).
    "q336_quantile_normalize" -> ((s, dir) => {
      // src and ref each feed two consumers (the scalar count + the map
      // join) — materialize each multi-stage rank once (r14, guide §5;
      // before plan: 24 scans)
      val src = ops.Stats.distributedRank(
        Tables.supplier(s, dir)
          .select(col("s_suppkey"), cents(col("s_acctbal")).as("x_orig")),
        "x_orig", tieBreak = Seq("s_suppkey"), out = "r",
        bucketWidth = 1L << 14)
        .localCheckpoint(true)
      val ref = ops.Stats.distributedRank(
        Tables.customer(s, dir)
          .select(cents(col("c_acctbal")).as("x_mapped"), col("c_custkey")),
        "x_mapped", tieBreak = Seq("c_custkey"), out = "idx",
        bucketWidth = 1L << 14)
        .select(col("idx"), col("x_mapped"))
        .localCheckpoint(true)
      val n = src.agg(count(lit(1)).as("n"))
      val m = ref.agg(count(lit(1)).as("m"))
      src.crossJoin(broadcast(n)).crossJoin(broadcast(m))
        .withColumn("idx", expr("(r * m + n - 1) div n"))
        .join(ref, Seq("idx"))
        .select(col("s_suppkey"), col("x_orig"), col("x_mapped"))
    }),


    // Unnormalized Haar wavelet coefficients over the global daily
    // revenue series, 8-day blocks × 3 levels: every coefficient is a
    // SIGNED SUM over the block's 8 positions (one groupBy — no
    // recursion, no floats), so the whole transform is exact integers.
    // The multi-resolution fingerprint behind series similarity /
    // anomaly localization, kept hash-checkable. Partial trailing
    // blocks are dropped (count = 8 required, declared).
    "q337_haar_wavelet" -> ((s, dir) => {
      val daily = Tables.orders(s, dir)
        .groupBy(to_date(col("o_orderdate")).as("d"))
        .agg(sum(cents(col("o_totalprice"))).as("c"))
        .withColumn("rn0",
          row_number().over(Window.orderBy(col("d"))).cast("long") - 1L)
        .withColumn("blk", expr("rn0 div 8"))
        .withColumn("pos", expr("rn0 % 8"))
        .withColumn("nb", count(lit(1)).over(
          Window.partitionBy(col("blk"))))
        .filter(col("nb") === 8)
      def signed(sign: Column): Column = sum(sign * col("c"))
      daily.groupBy(col("blk"))
        .agg(min(col("d")).as("d_start"),
          sum(col("c")).as("a3"),
          signed(when(col("pos") < 4, 1L).otherwise(-1L)).as("d3"),
          signed(when(col("pos") < 2, 1L).when(col("pos") < 4, -1L)
            .otherwise(0L)).as("d2_0"),
          signed(when(col("pos") >= 6, -1L).when(col("pos") >= 4, 1L)
            .otherwise(0L)).as("d2_1"),
          signed(when(col("pos") === 0, 1L).when(col("pos") === 1, -1L)
            .otherwise(0L)).as("d1_0"),
          signed(when(col("pos") === 2, 1L).when(col("pos") === 3, -1L)
            .otherwise(0L)).as("d1_1"),
          signed(when(col("pos") === 4, 1L).when(col("pos") === 5, -1L)
            .otherwise(0L)).as("d1_2"),
          signed(when(col("pos") === 6, 1L).when(col("pos") === 7, -1L)
            .otherwise(0L)).as("d1_3"))
    }),


    // Jensen–Shannon divergence of each source's token distribution vs
    // the rest of the corpus (the symmetric, bounded cousin of q188's
    // log-ratio drift): add-one-smoothed probabilities over the shared
    // vocabulary grid (|sources|·|vocab| rows — vocabulary-sized, never
    // corpus-sized), each token's pointwise ½·(KL(p‖m)+KL(q‖m)) term
    // floor-quantized to µnats (the q274/q188 ln discipline) so the
    // per-source sum is an order-free integer bounded by ln 2 µnats.
    "q339_js_divergence" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("source"),
          explode(text.TextOps.tokens(col("text"))).as("token"))
      val bySrc = toks.groupBy(col("source"), col("token"))
        .agg(count(lit(1)).as("c1"))
      val glob = toks.groupBy(col("token")).agg(count(lit(1)).as("g"))
      val tot = glob.agg(sum(col("g")).as("n_all"),
        count(lit(1)).as("v"))
      val np = toks.groupBy(col("source")).agg(count(lit(1)).as("np"))
      // broadcast the BOUNDED side (the source list); the vocabulary
      // side is corpus-dependent and streams
      val grid = glob.withColumn("_k", zeroKeyStr(col("token")))
        .join(broadcast(toks.select(col("source")).distinct()
          .withColumn("_k", zeroKeyStr(col("source")))), Seq("_k"))
        .drop("_k")
        .join(bySrc, Seq("source", "token"), "left")
        .withColumn("c1", coalesce(col("c1"), lit(0L)))
        .withColumn("c2", col("g") - col("c1"))
        .join(np, Seq("source"))
        .crossJoin(broadcast(tot))
        .withColumn("p",
          (col("c1") + 1).cast("double") / (col("np") + col("v")).cast("double"))
        .withColumn("q",
          (col("c2") + 1).cast("double") /
            (col("n_all") - col("np") + col("v")).cast("double"))
        .withColumn("term_micro",
          floor(lit(1e6) * lit(0.5) * (col("p") * log(lit(2.0) * col("p") /
            (col("p") + col("q"))) + col("q") * log(lit(2.0) * col("q") /
            (col("p") + col("q"))))).cast("long"))
      grid.groupBy(col("source"))
        .agg(max(col("np")).as("n_src_tok"),
          sum(col("term_micro")).as("jsd_micro"))
    }),


    // Brown–Forsythe variance-homogeneity test across return flags on
    // line price: absolute deviations from the GROUP MEDIAN, kept exact
    // by doubling (2·|x − med| = |2x − 2·med| and 2·med is an exact
    // integer for any half-grid percentile of cents), then the q325
    // ANOVA machinery on the deviations — exact decimal sufficient
    // statistics, quantized per-group terms, one fixed-order W formula.
    // The robust sibling of q325: same F shape, deviations not levels.
    "q340_brown_forsythe" -> ((s, dir) => {
      val t = Tables.lineitem(s, dir)
        .select(col("l_returnflag").as("grp"),
          cents(col("l_extendedprice")).as("x"))
      val med = t.groupBy(col("grp"))
        .agg((percentile(col("x"), lit(0.5)) * 2).cast("long").as("m2"))
      val z = t.join(broadcast(med), Seq("grp"))
        .select(col("grp"), abs(col("x") * 2 - col("m2")).as("z2"))
      val g = z.groupBy(col("grp"))
        .agg(count(lit(1)).as("n_g"), sum(col("z2")).as("s_g"),
          sum(d38(col("z2")) * col("z2")).as("q_g"))
        .withColumn("term",
          decDiv(d38(col("s_g")) * col("s_g"), d38(col("n_g"))))
      g.agg(count(lit(1)).as("k"), sum(col("n_g")).as("n"),
          sum(col("s_g")).as("s_all"), sum(col("q_g")).as("q_all"),
          sum(col("term")).as("t_all"))
        .withColumn("s2n",
          decDiv(d38(col("s_all")) * col("s_all"), d38(col("n"))))
        .withColumn("ssb", toD(col("t_all") - col("s2n")))
        .withColumn("ssw", toD(col("q_all") - col("t_all")))
        .withColumn("w_stat",
          when(col("k") > 1 && col("n") > col("k") && col("ssw") > 0,
            (col("ssb") / (col("k") - 1).cast("double")) /
              (col("ssw") / (col("n") - col("k")).cast("double"))))
        .select(col("k"), col("n"), col("ssb"), col("ssw"), col("w_stat"))
    }),


    // Partial autocorrelation (lags 1–3) of the daily event-count
    // series via the unrolled Durbin–Levinson recursion: each lag's r_k
    // folds from exact integer sufficient statistics over the (t, t+k)
    // pair join (the q284 device, decimal-lifted), then φ11/φ22/φ33 are
    // fixed-text double formulas over (r1, r2, r3). PACF separates
    // direct lag effects from propagated ones — the AR-order diagnostic
    // q284's raw ACF cannot express.
    "q341_pacf" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("n"))
        .select(datediff(col("d"), lit("2024-01-01").cast("date"))
          .cast("long").as("t"), col("n"))
      val r = daily
        .withColumn("lag",
          explode(array((1 to 3).map(i => lit(i.toLong)): _*)))
        .withColumn("t2", col("t") + col("lag"))
        .join(daily.select(col("t").as("t2"), col("n").as("n2")), Seq("t2"))
        .groupBy(col("lag"))
        .agg(count(lit(1)).as("np"),
          sum(col("n")).as("sx"), sum(col("n2")).as("sy"),
          sum(d38(col("n")) * col("n2")).cast("double").as("sxy"),
          sum(d38(col("n")) * col("n")).cast("double").as("sxx"),
          sum(d38(col("n2")) * col("n2")).cast("double").as("syy"))
        .withColumn("r",
          (col("np").cast("double") * col("sxy") -
            col("sx").cast("double") * col("sy").cast("double")) /
            sqrt((col("np").cast("double") * col("sxx") -
              col("sx").cast("double") * col("sx").cast("double")) *
              (col("np").cast("double") * col("syy") -
                col("sy").cast("double") * col("sy").cast("double"))))
      r.agg(max(when(col("lag") === 1, col("r"))).as("r1"),
          max(when(col("lag") === 2, col("r"))).as("r2"),
          max(when(col("lag") === 3, col("r"))).as("r3"))
        .withColumn("pacf1", col("r1"))
        .withColumn("pacf2",
          (col("r2") - col("r1") * col("r1")) /
            (lit(1.0) - col("r1") * col("r1")))
        .withColumn("phi21", col("r1") * (lit(1.0) - col("pacf2")))
        .withColumn("pacf3",
          (col("r3") - col("phi21") * col("r2") - col("pacf2") * col("r1")) /
            (lit(1.0) - col("phi21") * col("r1") - col("pacf2") * col("r2")))
        .select(col("r1"), col("r2"), col("r3"),
          col("pacf1"), col("pacf2"), col("pacf3"))
    }),


    // Friedman blocked rank test: nations are blocks, market segments
    // are treatments, the cell value is the block×treatment revenue
    // (missing cells coalesce to 0 on the complete grid). Within-block
    // ranks use the doubled-average-rank trick (exact integers under
    // ties), treatment rank sums square through decimal, and Q is one
    // fixed-order double formula — the repeated-measures sibling of
    // q327 (which ranks one global pool, not per block).
    "q342_friedman" -> ((s, dir) => {
      // cells feeds three consumers (nk grid, seg grid, the left join)
      // and grid three (ranked, nBlocks) — materialize each
      // nation×segment-grain stage once, mirroring q480_page_trend
      // (r15, guide §5; before plan: 24 scans)
      val cells = Tables.orders(s, dir)
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey").cast("long").as("nk"),
          col("c_mktsegment").as("seg"))
        .agg(sum(cents(col("o_totalprice"))).as("x"))
        .localCheckpoint(true)
      val grid = cells.select(col("nk")).distinct()
        .withColumn("_k", zeroKeyNum(col("nk")))
        .join(broadcast(cells.select(col("seg")).distinct()
          .withColumn("_k", zeroKeyStr(col("seg")))), Seq("_k"))
        .drop("_k")
        .join(cells, Seq("nk", "seg"), "left")
        .withColumn("x", coalesce(col("x"), lit(0L)))
        .localCheckpoint(true)
      val ranked = grid
        .withColumn("rk", rank().over(
          Window.partitionBy(col("nk")).orderBy(col("x"))).cast("long"))
        .withColumn("tsz", count(lit(1)).over(
          Window.partitionBy(col("nk"), col("x"))))
        .withColumn("r2", lit(2L) * col("rk") + col("tsz") - 1L)
      val byTreat = ranked.groupBy(col("seg"))
        .agg(sum(col("r2")).as("r2_j"))
      val nBlocks = grid.select(col("nk")).distinct()
        .agg(count(lit(1)).as("n"))
      byTreat.agg(count(lit(1)).as("k"),
          sum(d38(col("r2_j")) * col("r2_j")).as("sq"))
        .crossJoin(broadcast(nBlocks))
        .withColumn("q_stat",
          lit(3.0) * toD(col("sq")) /
            (col("n").cast("double") * col("k").cast("double") *
              (col("k").cast("double") + 1.0)) -
            lit(3.0) * col("n").cast("double") *
              (col("k").cast("double") + 1.0))
        .select(col("n"), col("k"), col("q_stat"))
    }),


    // PAGE'S L TREND TEST (round 13) — the ordered-alternative sibling
    // of q342's Friedman: when the k treatments carry a HYPOTHESIZED
    // order (here: mktsegment alphabetical, declared), L = Σ j·R_j
    // weights each treatment's rank sum by its position, detecting a
    // monotone trend Friedman's omnibus squares away. Same block grid,
    // zero-filled cells and doubled midranks (r2 = 2·rank + ties − 1 —
    // exact under ties); doubled L against the doubled no-ties null
    // moments E[2L] = b·k(k+1)²/2 and 4·Var[L] = b·k²(k+1)(k²−1)/36,
    // z² in exact integer micro vs the declared 1.96² = 3 841 600
    // bound. The position map is a k-row aggregate-bounded window;
    // block ranks partition by block — nothing global.
    "q480_page_trend" -> ((s, dir) => {
      // cells feeds four consumers (grid ×3 + jmap) and grid two
      // (ranked + dims) — materialize each nation×segment stage once
      // (r14, guide §5; before plan: 24 scans)
      val cells = Tables.orders(s, dir)
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey").cast("long").as("nk"),
          col("c_mktsegment").as("seg"))
        .agg(sum(cents(col("o_totalprice"))).as("x"))
        .localCheckpoint(true)
      val grid = cells.select(col("nk")).distinct()
        .withColumn("_k", zeroKeyNum(col("nk")))
        .join(broadcast(cells.select(col("seg")).distinct()
          .withColumn("_k", zeroKeyStr(col("seg")))), Seq("_k"))
        .drop("_k")
        .join(cells, Seq("nk", "seg"), "left")
        .withColumn("x", coalesce(col("x"), lit(0L)))
        .localCheckpoint(true)
      val jmap = cells.select(col("seg")).distinct()
        .withColumn("j", row_number().over(
          Window.orderBy(col("seg"))).cast("long"))
      val ranked = grid
        .withColumn("rk", rank().over(
          Window.partitionBy(col("nk")).orderBy(col("x"))).cast("long"))
        .withColumn("tsz", count(lit(1)).over(
          Window.partitionBy(col("nk"), col("x"))))
        .withColumn("r2", lit(2L) * col("rk") + col("tsz") - 1L)
      val l2 = ranked.join(broadcast(jmap), Seq("seg"))
        .agg(sum(col("j") * col("r2")).as("l2"))
      val dims = grid.agg(
        countDistinct(col("nk")).as("b"),
        countDistinct(col("seg")).as("k"))
      l2.crossJoin(broadcast(dims))
        .withColumn("e2", expr("b * k * (k + 1) * (k + 1) div 2"))
        .withColumn("var4",
          expr("b * k * k * (k + 1) * (k * k - 1) div 36"))
        .withColumn("z2_micro", expr(
          "(l2 - e2) * (l2 - e2) * 1000000 div greatest(var4, 1)"))
        .withColumn("trend", col("z2_micro") > 3841600L)
        .select(col("b"), col("k"), col("l2"), col("e2"), col("var4"),
          col("z2_micro"), col("trend"))
    }),


    // Theil–Sen slope per nation (balance → revenue): the median of all
    // pairwise slopes — the high-breakdown robust regressor. Slopes are
    // single IEEE divisions of exact cent deltas (identical both
    // engines); the median picks rank (m+1) div 2 under the total order
    // (slope, k1, k2) — declared lower-median semantics, no averaging.
    // Rides q326's capped nationPairs frame (≤256 customers/nation in
    // md5 order, oracle-mirrored); the slope-median window partitions
    // by nation over the ≤33k-slope groups.
    "q343_theil_sen" -> ((s, dir) => {
      val slopes = nationPairs(s, dir)
        .filter(col("x1") =!= col("x2"))
        .select(col("nk"), col("k1"), col("k2"),
          ((col("y2") - col("y1")).cast("double") /
            (col("x2") - col("x1")).cast("double")).as("slope"))
      val w = Window.partitionBy(col("nk"))
      slopes
        .withColumn("rn", row_number().over(
          w.orderBy(col("slope"), col("k1"), col("k2"))).cast("long"))
        .withColumn("m", count(lit(1)).over(w))
        .filter(col("rn") === expr("(m + 1) div 2"))
        .select(col("nk"), col("m").as("n_slopes"),
          col("slope").as("ts_slope"))
    }),


    // Wilcoxon signed-rank test on paired pre/post-1997 customer
    // revenue: zero differences drop (declared), |d| ranks use the
    // doubled-average-rank trick, W⁺/W⁻ stay exact integers (their sum
    // conserves n(n+1) — spec law), and the normal-approximation z is
    // one fixed-text double formula. Completes the nonparametric
    // family: q255 unpaired, q327 k-sample, q342 blocked, this paired.
    "q344_wilcoxon" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .select(col("o_custkey"), to_date(col("o_orderdate")).as("d"),
          cents(col("o_totalprice")).as("c"))
      val split = to_date(lit("1997-01-01"))
      def half(f: Column, out: String) =
        o.filter(f).groupBy(col("o_custkey")).agg(sum(col("c")).as(out))
      val pre = half(col("d") < split, "pre")
        .withColumnRenamed("o_custkey", "ck1")
      val post = half(col("d") >= split, "post")
        .withColumnRenamed("o_custkey", "ck2")
      val diffs = pre.join(post, col("ck1") === col("ck2"), "full_outer")
        .select((coalesce(col("post"), lit(0L)) -
          coalesce(col("pre"), lit(0L))).as("dd"))
        .filter(col("dd") =!= 0)
        .withColumn("ad", abs(col("dd")))
      // |d| ranks via the two-phase bucketed device — the paired-diff
      // frame is customer-scale and the old global window single-
      // partition-sorted it (round-9 weak set)
      val ranked = ops.Stats.distributedRank(diffs, "ad", out = "rk")
        .withColumn("tsz", count(lit(1)).over(
          Window.partitionBy(col("ad"))))
        .withColumn("r2", lit(2L) * col("rk") + col("tsz") - 1L)
      ranked.agg(count(lit(1)).as("n"),
          sum(when(col("dd") > 0, col("r2")).otherwise(0L)).as("w2_plus"),
          sum(when(col("dd") < 0, col("r2")).otherwise(0L)).as("w2_minus"))
        .withColumn("z",
          (col("w2_plus").cast("double") / 2.0 -
            col("n").cast("double") * (col("n").cast("double") + 1.0) / 4.0) /
            sqrt(col("n").cast("double") * (col("n").cast("double") + 1.0) *
              (lit(2.0) * col("n").cast("double") + 1.0) / 24.0))
        .select(col("n"), col("w2_plus"), col("w2_minus"), col("z"))
    }),


    // Gumbel fit on monthly block maxima of daily revenue (extreme-value
    // capacity planning): block maxima are exact cents; the
    // method-of-moments fit (β = s√6/π, μ = m − γβ) and the 12-block
    // return level are ONE fixed-text double formula over exact decimal
    // sufficient statistics — γ and π enter as shared literals.
    "q345_gumbel_maxima" -> ((s, dir) => {
      val mx = Tables.orders(s, dir)
        .groupBy(to_date(col("o_orderdate")).as("d"))
        .agg(sum(cents(col("o_totalprice"))).as("c"))
        .groupBy(date_trunc("month", col("d")).cast("date").as("month"))
        .agg(max(col("c")).as("mx"))
      mx.agg(count(lit(1)).as("n"), sum(col("mx")).as("s"),
          sum(d38(col("mx")) * col("mx")).as("q"))
        .withColumn("mean_c", toD(col("s")) / col("n").cast("double"))
        .withColumn("var_c",
          toD(d38(col("n")) * col("q") - d38(col("s")) * col("s")) /
            (col("n").cast("double") * (col("n").cast("double") - 1.0)))
        .withColumn("sd_c", sqrt(col("var_c")))
        .withColumn("beta",
          col("sd_c") * sqrt(lit(6.0)) / lit(3.141592653589793))
        .withColumn("mu",
          col("mean_c") - lit(0.5772156649015329) * col("beta"))
        .withColumn("rl12",
          col("mu") - col("beta") * log(-log(lit(1.0) - lit(1.0) / 12.0)))
        .select(col("n"), col("mean_c"), col("sd_c"), col("beta"),
          col("mu"), col("rl12"))
    }),


    // Hurst rescaled-range diagnostic over non-overlapping 16-day
    // windows of daily revenue: deviations stay exact by scaling
    // through the window length (dev = 16·x − Σx — no fractional mean),
    // the cumulative-deviation range R is an exact integer, σ folds
    // from Σdev² (decimal-lifted), and R/S plus the ln-ratio Hurst
    // proxy are fixed-text double formulas (µ-quantized, the q274 ln
    // rule). The long-memory fingerprint behind burstiness (q309) that
    // a variance alone cannot see.
    "q346_hurst_rs" -> ((s, dir) => {
      val daily = Tables.orders(s, dir)
        .groupBy(to_date(col("o_orderdate")).as("d"))
        .agg(sum(cents(col("o_totalprice"))).as("c"))
        .withColumn("rn0",
          row_number().over(Window.orderBy(col("d"))).cast("long") - 1L)
        .withColumn("blk", expr("rn0 div 16"))
        .withColumn("pos", expr("rn0 % 16"))
        .withColumn("nb", count(lit(1)).over(Window.partitionBy(col("blk"))))
        .filter(col("nb") === 16)
      val wBlk = Window.partitionBy(col("blk"))
      val z = daily
        .withColumn("s16", sum(col("c")).over(wBlk))
        .withColumn("dev", col("c") * 16 - col("s16"))
        .withColumn("zc", sum(col("dev")).over(
          wBlk.orderBy(col("pos"))))
      z.groupBy(col("blk"))
        .agg(min(col("d")).as("d_start"),
          (max(col("zc")) - min(least(col("zc"), lit(0L)))).as("r16"),
          sum(d38(col("dev")) * col("dev")).as("q_dev"))
        .withColumn("s_dev",
          sqrt(toD(col("q_dev")) / 16.0) / 16.0)
        .withColumn("rs",
          when(col("s_dev") > 0,
            col("r16").cast("double") / 16.0 / col("s_dev")))
        .withColumn("h_micro",
          floor(lit(1e6) * log(col("rs")) / log(lit(8.0))).cast("long"))
        .select(col("blk"), col("d_start"), col("r16"), col("rs"),
          col("h_micro"))
    }),


    // Brier score for the q310 confidence/label pairing (the
    // squared-error sibling of its ECE): confidence is the global
    // acctbal percent-rank in ppm, label the repeat-buyer bit, and the
    // score folds from ONE exact integer sum Σ(conf − label·1e6)² —
    // brier_micro = SSE div (n·1e6) is pure integer arithmetic, no
    // float anywhere. The global rank is the declared tier (q255).
    "q347_brier_score" -> ((s, dir) => {
      labeledConfBase(s, dir)
        .withColumn("e", col("conf_ppm") - col("label") * 1000000L)
        .agg(count(lit(1)).as("n"),
          sum(d38(col("e")) * col("e")).as("sse"))
        .withColumn("brier_micro",
          decDiv(col("sse"), d38(col("n")) * 1000000L).cast("long"))
        .select(col("n"), toD(col("sse")).as("sse_d"), col("brier_micro"))
    }),


    // Standardized mean difference (Cohen's d with pooled variance)
    // between the deterministic A/B split (custkey parity) for three
    // covariates — the balance audit run before any q207/q286-style
    // causal read: per covariate, means and variances fold from exact
    // decimal sufficient statistics, and SMD is one fixed-text double
    // formula. Output one row per covariate.
    "q348_smd_balance" -> ((s, dir) => {
      val rev = Tables.orders(s, dir)
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("no"), sum(cents(col("o_totalprice"))).as("rv"))
      val base = Tables.customer(s, dir)
        .select(col("c_custkey"), (col("c_custkey") % 2).as("v"),
          cents(col("c_acctbal")).as("bal"))
        .join(rev, col("c_custkey") === col("o_custkey"), "left")
        .select(col("v"), col("bal"),
          coalesce(col("no"), lit(0L)).as("no"),
          coalesce(col("rv"), lit(0L)).as("rv"))
      val melted = base.select(col("v"), explode(map(
        lit("acctbal_cents"), col("bal"),
        lit("n_orders"), col("no"),
        lit("revenue_cents"), col("rv"))).as(Seq("covariate", "x")))
      val g = melted.groupBy(col("covariate"), col("v"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("s"),
          sum(d38(col("x")) * col("x")).as("q"))
        .withColumn("m", toD(col("s")) / col("n").cast("double"))
        .withColumn("var",
          toD(d38(col("n")) * col("q") - d38(col("s")) * col("s")) /
            (col("n").cast("double") * (col("n").cast("double") - 1.0)))
      val g0 = g.filter(col("v") === 0).select(col("covariate"),
        col("n").as("n0"), col("m").as("m0"), col("var").as("v0"))
      val g1 = g.filter(col("v") === 1).select(col("covariate"),
        col("n").as("n1"), col("m").as("m1"), col("var").as("v1"))
      g0.join(g1, Seq("covariate"))
        .withColumn("smd",
          (col("m1") - col("m0")) /
            sqrt((col("v1") + col("v0")) / lit(2.0)))
        .select(col("covariate"), col("n0"), col("n1"), col("m0"),
          col("m1"), col("smd"))
    }),


    // Minimum detectable effect at α=.05 (two-sided) / 80% power for
    // the running A/B split, per event type: the experiment-DESIGN
    // number (how small a lift this sample could even see) —
    // mde = (z_{α/2}+z_{β})·√(v0/n0 + v1/n1) with the z's as shared
    // literals, variances from exact decimal sums, relative MDE
    // micro-quantized against the control mean.
    "q349_mde" -> ((s, dir) => {
      val base = Tables.events(s, dir)
        .select(col("event_type"), (col("user_id") % 2).as("v"),
          cents(col("value")).as("x"))
      val g = base.groupBy(col("event_type"), col("v"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("s"),
          sum(d38(col("x")) * col("x")).as("q"))
        .withColumn("m", toD(col("s")) / col("n").cast("double"))
        .withColumn("var",
          toD(d38(col("n")) * col("q") - d38(col("s")) * col("s")) /
            (col("n").cast("double") * (col("n").cast("double") - 1.0)))
      val g0 = g.filter(col("v") === 0).select(col("event_type"),
        col("n").as("n0"), col("m").as("m0"), col("var").as("v0"))
      val g1 = g.filter(col("v") === 1).select(col("event_type"),
        col("n").as("n1"), col("var").as("v1"))
      g0.join(g1, Seq("event_type"))
        .withColumn("mde_abs",
          lit(2.8015852181129683) *
            sqrt(col("v0") / col("n0").cast("double") +
              col("v1") / col("n1").cast("double")))
        .withColumn("mde_rel_micro",
          floor(lit(1e6) * col("mde_abs") / col("m0")).cast("long"))
        .select(col("event_type"), col("n0"), col("n1"), col("mde_abs"),
          col("mde_rel_micro"))
    }),


    // Rolling 16-day market beta of Europe's daily revenue against the
    // global series: per window, cov/var fold from exact decimal window
    // sums (the regression coefficient is one fixed-text double formula
    // per day) — the rolling-regression primitive behind exposure and
    // hedge dashboards. Missing Europe days coalesce to 0 on the global
    // calendar, so the window is always 16 actual days.
    "q350_rolling_beta" -> ((s, dir) => {
      val glob = Tables.orders(s, dir)
        .groupBy(to_date(col("o_orderdate")).as("d"))
        .agg(sum(cents(col("o_totalprice"))).as("x"))
      val eur = Tables.orders(s, dir)
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(Tables.nation(s, dir), col("c_nationkey") === col("n_nationkey"))
        .join(Tables.region(s, dir), col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "EUROPE")
        .groupBy(to_date(col("o_orderdate")).as("d"))
        .agg(sum(cents(col("o_totalprice"))).as("y"))
      val series = glob.join(eur, Seq("d"), "left")
        .withColumn("y", coalesce(col("y"), lit(0L)))
      val w = Window.orderBy(col("d")).rowsBetween(-15, 0)
      series
        .withColumn("rn", row_number().over(Window.orderBy(col("d"))))
        .withColumn("sx", sum(col("x")).over(w))
        .withColumn("sy", sum(col("y")).over(w))
        .withColumn("sxy", sum(d38(col("x")) * col("y")).over(w))
        .withColumn("sxx", sum(d38(col("x")) * col("x")).over(w))
        .filter(col("rn") >= 16)
        .withColumn("num",
          toD(lit(16L).cast("decimal(38,0)") * col("sxy") -
            d38(col("sx")) * col("sy")))
        .withColumn("den",
          toD(lit(16L).cast("decimal(38,0)") * col("sxx") -
            d38(col("sx")) * col("sx")))
        .withColumn("beta", when(col("den") > 0, col("num") / col("den")))
        .select(col("d"), col("x"), col("y"), col("beta"))
    }),


    // Laspeyres / Paasche / Fisher price indices, 1996 → 1997, over the
    // parts traded in BOTH years: per-part unit prices quantize to
    // exact micro-cents (r·1e6 div q — declared), index numerators and
    // denominators lift to decimal, L and P land as integer ppm and
    // Fisher is the one √(L·P) double formula. The index-number
    // economics read on top of q317's additive price/volume/mix bridge.
    "q351_price_index" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .withColumn("yr", year(col("l_shipdate")))
        .filter(col("yr").isin(1996, 1997))
        .groupBy(col("l_partkey"), col("yr"))
        .agg(sum(col("l_quantity").cast("long")).as("q"),
          sum(cents(col("l_extendedprice"))).as("r"))
        .withColumn("p_micro", expr("r * 1000000 div q"))
      val y0 = li.filter(col("yr") === 1996).select(col("l_partkey"),
        col("q").as("q0"), col("p_micro").as("p0"))
      val y1 = li.filter(col("yr") === 1997).select(col("l_partkey"),
        col("q").as("q1"), col("p_micro").as("p1"))
      y0.join(y1, Seq("l_partkey"))
        .agg(count(lit(1)).as("n_parts"),
          sum(d38(col("p1")) * col("q0")).as("l_num"),
          sum(d38(col("p0")) * col("q0")).as("l_den"),
          sum(d38(col("p1")) * col("q1")).as("p_num"),
          sum(d38(col("p0")) * col("q1")).as("p_den"))
        .withColumn("l_ppm",
          decDiv(col("l_num") * 1000000L, col("l_den")).cast("long"))
        .withColumn("p_ppm",
          decDiv(col("p_num") * 1000000L, col("p_den")).cast("long"))
        .withColumn("fisher",
          sqrt(col("l_ppm").cast("double") * col("p_ppm").cast("double"))
            / lit(1000000.0))
        .select(col("n_parts"), col("l_ppm"), col("p_ppm"), col("fisher"))
    }),


    // Knee-point detection on the cumulative part-revenue curve (q243's
    // Pareto base): the classic max-distance-to-chord rule with the
    // distance kept as an EXACT integer cross product
    // (n−1)(cum_i−c_1) − (c_n−c_1)(i−1), decimal-lifted; argmax breaks
    // ties toward the smaller rank. Where the 80/20 curve actually
    // bends — the cutoff picker for curation and assortment decisions.
    "q352_knee_point" -> ((s, dir) => {
      val curve = Tables.lineitem(s, dir)
        .groupBy(col("l_partkey"))
        .agg(sum(cents(col("l_extendedprice"))).as("rev"))
        .withColumn("i", row_number().over(
          Window.orderBy(col("rev").desc, col("l_partkey"))).cast("long"))
        .withColumn("cum", sum(col("rev")).over(
          Window.orderBy(col("rev").desc, col("l_partkey"))))
      val ends = curve.agg(max(col("i")).as("nn"),
        max(when(col("i") === 1, col("cum"))).as("c1"),
        max(col("cum")).as("cn"))
      curve.crossJoin(broadcast(ends))
        .withColumn("cross",
          d38(col("nn") - 1) * (col("cum") - col("c1")) -
            d38(col("cn") - col("c1")) * (col("i") - 1))
        .withColumn("rk", row_number().over(
          Window.orderBy(col("cross").desc, col("i"))))
        .filter(col("rk") === 1)
        .withColumn("share_ppm", expr("cum * 1000000 div cn"))
        .select(col("i").as("knee_i"), col("nn").as("n_parts"),
          col("cum").as("cum_at_knee"), col("share_ppm"),
          toD(col("cross")).as("cross_d"))
    }),


    // MATCH_RECOGNIZE-style motif detection on the daily revenue
    // series: V (down-down-up-up) and Λ (up-up-down-down) shapes over
    // four consecutive day-over-day deltas, matched with a lag chain —
    // four exact sign comparisons per row, no state machine needed for
    // a fixed motif. Emits the match date, the motif, and the exact
    // amplitude (max−min of the five points).
    "q354_motif_vshape" -> ((s, dir) => {
      val w = Window.orderBy(col("d"))
      val daily = Tables.orders(s, dir)
        .groupBy(to_date(col("o_orderdate")).as("d"))
        .agg(sum(cents(col("o_totalprice"))).as("c"))
      val lagged = daily
        .withColumn("c1", lag(col("c"), 1).over(w))
        .withColumn("c2", lag(col("c"), 2).over(w))
        .withColumn("c3", lag(col("c"), 3).over(w))
        .withColumn("c4", lag(col("c"), 4).over(w))
        .filter(col("c4").isNotNull)
      val v = lagged.filter(col("c3") < col("c4") && col("c2") < col("c3") &&
          col("c1") > col("c2") && col("c") > col("c1"))
        .withColumn("motif", lit("V"))
      val cap = lagged.filter(col("c3") > col("c4") && col("c2") > col("c3") &&
          col("c1") < col("c2") && col("c") < col("c1"))
        .withColumn("motif", lit("A"))
      v.unionByName(cap)
        .withColumn("amplitude_cents",
          greatest(col("c"), col("c1"), col("c2"), col("c3"), col("c4")) -
            least(col("c"), col("c1"), col("c2"), col("c3"), col("c4")))
        .select(col("d"), col("motif"), col("amplitude_cents"))
    }),


    // Nearest-VALUE join (each supplier balance to its closest customer
    // balance): ONE merged sort of both tables, a LINEAR running count
    // of customer rows (each supplier's preceding-customer ORDINAL),
    // then two equi-joins back to the ordinal-indexed customer list for
    // the preceding/following candidates — an exact nearest-neighbor
    // join with no pair space and no quadratic window (a growing-frame
    // IGNORE-NULLS last() re-scans its frame per row in WindowExec —
    // measured 8.6 s vs 0.4 s for this running-count form at sf0.1).
    // Ties at equal distance resolve to the preceding row (declared);
    // customers sort before suppliers at equal value ('c' < 's'), so an
    // exact match is always the preceding row with distance 0. The
    // merged running count executes as the two-phase bucketed
    // Stats.distributedPrefixSum — value-range buckets ARE the 100 TB
    // range partitioning, no single-partition sort.
    "q355_nearest_value_join" -> ((s, dir) => {
      val cust = Tables.customer(s, dir)
        .select(cents(col("c_acctbal")).as("v"), col("c_custkey").as("k"),
          lit("c").as("tag"))
      val supp = Tables.supplier(s, dir)
        .select(cents(col("s_acctbal")).as("v"), col("s_suppkey").as("k"),
          lit("s").as("tag"))
      val merged = ops.Stats.distributedPrefixSum(
        cust.unionByName(supp), "v", tieBreak = Seq("tag", "k"),
        addend = when(col("tag") === "c", 1L).otherwise(0L),
        out = "cgrp", bucketWidth = 1L << 14)
        // three consumers (prev, next, the supplier filter) each inlined
        // the whole two-phase prefix-sum pipeline — materialize the
        // merged rank frame once (r15, guide §5)
        .localCheckpoint(true)
      val custOrd = merged.filter(col("tag") === "c")
        .select(col("cgrp").as("ord"), col("v").as("cv"), col("k").as("ck"))
      val prev = custOrd.select(col("ord").as("cgrp"),
        col("cv").as("pcv"), col("ck").as("pck"))
      val next = custOrd.select((col("ord") - 1).as("cgrp"),
        col("cv").as("ncv"), col("ck").as("nck"))
      merged.filter(col("tag") === "s")
        .join(prev, Seq("cgrp"), "left")
        .join(next, Seq("cgrp"), "left")
        .withColumn("use_prev",
          col("ncv").isNull ||
            (col("pcv").isNotNull &&
              col("v") - col("pcv") <= col("ncv") - col("v")))
        .select(col("k").as("s_suppkey"), col("v").as("s_val"),
          when(col("use_prev"), col("pck")).otherwise(col("nck"))
            .as("nearest_ck"),
          when(col("use_prev"), col("pcv")).otherwise(col("ncv"))
            .as("nearest_val"),
          when(col("use_prev"), col("v") - col("pcv"))
            .otherwise(col("ncv") - col("v")).as("dist"))
    }),


    // Multinomial Naive Bayes, trained and served in ONE declarative
    // plan with exact integer scores: even doc_ids train, odd serve;
    // per-(lang, token) log-likelihoods and per-lang log-priors are
    // floor-quantized µnats (the q274 ln rule) over add-one-smoothed
    // counts, so the per-doc score is an order-free integer SUM and the
    // argmax (score desc, lang asc) is exact. Unseen-at-train tokens
    // drop (declared). Output: the test confusion matrix. The
    // classifier IS aggregation — no fit artifact, no UDF, fully
    // hash-checkable, which no float NB can offer.
    "q356_naive_bayes" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          text.TextOps.tokens(col("text")).as("ts"))
      val train = docs.filter(col("doc_id") % 2 === 0)
      val test = docs.filter(col("doc_id") % 2 === 1)
      val tokTr = train.select(col("lang"), explode(col("ts")).as("w"))
      // nL and vocab used to re-tokenize the whole training corpus; both
      // are derivable from the (lang, token)-grain counts — nl is the sum
      // of c1 per lang and vocab the distinct tokens of cLw — so the
      // explode runs once and the materialized frame is vocab-grain, not
      // corpus-grain (r15, guide §2.3/§5)
      val cLw = tokTr.groupBy(col("lang"), col("w"))
        .agg(count(lit(1)).as("c1"))
        .localCheckpoint(true)
      val nL = cLw.groupBy(col("lang")).agg(sum(col("c1")).as("nl"))
      val vocab = cLw.select(col("w")).distinct()
      val vCount = vocab.agg(count(lit(1)).as("v"))
      val priors = train.groupBy(col("lang")).agg(count(lit(1)).as("nd"))
      val nDocs = train.agg(count(lit(1)).as("ndoc"))
      // broadcast the BOUNDED side (per-language totals); the vocabulary
      // side is corpus-dependent and streams
      val grid = vocab.withColumn("_k", zeroKeyStr(col("w")))
        .join(broadcast(nL.withColumn("_k", zeroKeyStr(col("lang")))),
          Seq("_k"))
        .drop("_k")
        .join(cLw, Seq("lang", "w"), "left")
        .withColumn("c1", coalesce(col("c1"), lit(0L)))
        .crossJoin(broadcast(vCount))
        .withColumn("term_micro",
          floor(lit(1e6) * log((col("c1") + 1).cast("double") /
            (col("nl") + col("v")).cast("double"))).cast("long"))
        .select(col("lang"), col("w"), col("term_micro"))
      val priorM = priors.crossJoin(broadcast(nDocs))
        .withColumn("prior_micro",
          floor(lit(1e6) * log(col("nd").cast("double") /
            col("ndoc").cast("double"))).cast("long"))
        .select(col("lang").as("cand"), col("prior_micro"))
      val scores = test
        .select(col("doc_id"), col("lang").as("actual"),
          explode(col("ts")).as("w"))
        .join(broadcast(grid.withColumnRenamed("lang", "cand")), Seq("w"))
        .groupBy(col("doc_id"), col("actual"), col("cand"))
        .agg(sum(col("term_micro")).as("ll"))
        .join(broadcast(priorM), Seq("cand"))
        .withColumn("score", col("ll") + col("prior_micro"))
      scores
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("doc_id"))
            .orderBy(col("score").desc, col("cand"))))
        .filter(col("rk") === 1)
        .groupBy(col("actual"), col("cand").as("pred"))
        .agg(count(lit(1)).as("n"))
    }),


    // Weight-of-evidence / information-value profile (the credit-
    // scoring binning standard): acctbal deciles by exact global rank
    // (declared tier) against the repeat-buyer label, add-one smoothed
    // class shares in integer ppm, WoE as ONE floor-quantized ln of an
    // exact integer cross-ratio, IV contributions in exact pico units
    // (micro × micro). Output one row per bin; the spec pins ΣIV ≥ 0.
    "q357_woe_iv" -> ((s, dir) => {
      val binned = labeledConfBase(s, dir)
        .withColumn("bin", least(expr("(rn - 1) * 10 div nc"), lit(9L)))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_b"), sum(col("label")).as("g"))
        .withColumn("b", col("n_b") - col("g"))
        // 10-row bin frame, two consumers — materialize instead of
        // re-running labeledConfBase per reference (r14, guide §5)
        .localCheckpoint(true)
      val tot = binned.agg(sum(col("g")).as("gt"), sum(col("b")).as("bt"))
      binned.crossJoin(broadcast(tot))
        .withColumn("gs_micro", expr("(g + 1) * 1000000 div (gt + 10)"))
        .withColumn("bs_micro", expr("(b + 1) * 1000000 div (bt + 10)"))
        .withColumn("woe_micro",
          floor(lit(1e6) * log(
            ((col("g") + 1) * (col("bt") + 10)).cast("double") /
              ((col("b") + 1) * (col("gt") + 10)).cast("double")))
            .cast("long"))
        .withColumn("iv_term_pico",
          (col("gs_micro") - col("bs_micro")) * col("woe_micro"))
        .select(col("bin"), col("n_b"), col("g"), col("b"),
          col("gs_micro"), col("bs_micro"), col("woe_micro"),
          col("iv_term_pico"))
    }),


    // Calendarization (finance proration): each line's revenue spreads
    // evenly across the days from order to ship, the integer remainder
    // pinned to day 0 so cents CONSERVE EXACTLY (spec law). Spans gate
    // to [0, 120] days (declared — the synthetic fixture has symmetric
    // spans) which also bounds the explode fan-out; the monthly rollup
    // is map-side combinable right after the explode.
    "q358_calendarize" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), cents(col("l_extendedprice")).as("v"),
          to_date(col("l_shipdate")).as("ship"))
        .join(Tables.orders(s, dir)
          .select(col("o_orderkey"), to_date(col("o_orderdate")).as("od")),
          col("l_orderkey") === col("o_orderkey"))
        .withColumn("span", datediff(col("ship"), col("od")))
        .filter(col("span").between(0, 120))
        .withColumn("days", (col("span") + 1).cast("long"))
      li.select(col("v"), col("od"), col("days"),
          explode(sequence(lit(0), col("span"))).as("pos"))
        .withColumn("day", date_add(col("od"), col("pos")))
        .withColumn("slice",
          expr("v div days") +
            when(col("pos") === 0, expr("v % days")).otherwise(0L))
        .groupBy(date_trunc("month", col("day")).cast("date").as("month"))
        .agg(count(lit(1)).as("n_slices"),
          sum(col("slice")).as("prorated_cents"))
    }),


    // Grid-bucketed spatial neighbor join: synthetic md5-derived
    // coordinates on a 100×100 grid, suppliers exploded to their 3×3
    // neighbor cells, one equi-join on the cell key, then the exact
    // integer squared-distance gate d² ≤ 100 — the classic spatial-
    // index join shape (bucket, probe neighbors, refine) with no trig
    // and no cross product; candidate volume is supplier × 9 × cell
    // density, never |cust|·|supp|.
    "q359_grid_neighbors" -> ((s, dir) => {
      def coord(c: Column, salt: String): Column =
        pmod(conv(substring(md5(concat(lit(salt), c)), 1, 15), 16, 10)
          .cast("long"), lit(100L))
      val cust = Tables.customer(s, dir)
        .select(col("c_custkey").as("ck"),
          coord(col("c_custkey"), "cgx").as("cx"),
          coord(col("c_custkey"), "cgy").as("cy"))
        .withColumn("gx", expr("cx div 10"))
        .withColumn("gy", expr("cy div 10"))
      val supp = Tables.supplier(s, dir)
        .select(col("s_suppkey").as("sk"),
          coord(col("s_suppkey"), "sgx").as("sx"),
          coord(col("s_suppkey"), "sgy").as("sy"))
        .withColumn("dx", explode(array(lit(-1L), lit(0L), lit(1L))))
        .withColumn("dy", explode(array(lit(-1L), lit(0L), lit(1L))))
        .withColumn("gx", expr("sx div 10") + col("dx"))
        .withColumn("gy", expr("sy div 10") + col("dy"))
      supp.join(cust, Seq("gx", "gy"))
        .withColumn("d2",
          (col("cx") - col("sx")) * (col("cx") - col("sx")) +
            (col("cy") - col("sy")) * (col("cy") - col("sy")))
        .filter(col("d2") <= 100)
        .select(col("ck"), col("sk"), col("cx"), col("cy"),
          col("sx"), col("sy"), col("d2"))
    }),


    // Declarative hyperparameter grid search: Platt-style affine
    // recalibration p = clip(a·conf/10 + b/10) fitted by EXACT integer
    // squared error over a 21×21 (slope, offset) grid — the sweep is a
    // row-multiplying explode pair, the objective one decimal-lifted
    // sum per cell, the winner an exact argmin (sse, a, b). Model
    // selection as a PLAN: no iterations, no floats, hash-checkable —
    // and at 100 TB the data side streams one pass while the sweep
    // rides map-side.
    "q360_grid_search_calibration" -> ((s, dir) => {
      val base = labeledConfBase(s, dir).select(col("conf_ppm"), col("label"))
      // the 21×21 sweep rides as two explodes — a pure row multiplier on
      // the data side, no join node at all (audit-clean by construction)
      base
        .withColumn("a", explode(sequence(lit(0L), lit(20L))))
        .withColumn("b", explode(sequence(lit(-10L), lit(10L))))
        .withColumn("p_ppm",
          greatest(lit(0L), least(lit(1000000L),
            expr("a * conf_ppm div 10") + col("b") * 100000L)))
        .withColumn("e", col("p_ppm") - col("label") * 1000000L)
        .groupBy(col("a"), col("b"))
        .agg(count(lit(1)).as("n"), sum(d38(col("e")) * col("e")).as("sse"))
        .withColumn("rk", row_number().over(
          Window.orderBy(col("sse"), col("a"), col("b"))))
        .filter(col("rk") === 1)
        .select(col("a"), col("b"), col("n"), toD(col("sse")).as("sse_d"))
    }),


    // Greedy maximum-coverage assortment (the classic submodular 1−1/e
    // greedy): five fixed rounds, each picking the part that NEWLY
    // covers the most customers (count desc, partkey asc — exact
    // argmax), then semi-join-removing its customers from the residual
    // universe; per-round localCheckpoint truncates the plan. The
    // oracle unrolls the identical five rounds. Output: the pick per
    // round with its exact marginal gain and the running covered total.
    "q361_greedy_cover" -> ((s, dir) => {
      val pc = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"))
        .join(Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_partkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("l_partkey").as("pk"), col("o_custkey").as("ck"))
        .distinct()
        .localCheckpoint()
      var remaining = pc
      var total = 0L
      var exhausted = false
      val picks = scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long)]()
      for (round <- 1 to 5 if !exhausted) {
        // bounded: ONE row per round (scalar witness); empty when the
        // residual universe runs dry before round 5 — then STOP, the
        // same <5-row output the oracle's empty LIMIT 1 CTEs produce
        val top = remaining.groupBy(col("pk"))
          .agg(count(lit(1)).as("gain"))
          .orderBy(col("gain").desc, col("pk"))
          .limit(1)
          .collect()
        if (top.isEmpty) exhausted = true
        else {
          val (pk, gain) = (top(0).getLong(0), top(0).getLong(1))
          total += gain
          picks += ((round.toLong, pk, gain, total))
          val covered = remaining.filter(col("pk") === pk)
            .select(col("ck")).distinct()
          remaining = remaining
            .join(covered, Seq("ck"), "left_anti")
            .localCheckpoint()
        }
      }
      import s.implicits._
      picks.toSeq.toDF("round", "pk", "gain", "covered_total")
    }),


    // Prefix-index top-k (the autocomplete/trie materialization): every
    // 1–4-char prefix of every token maps to its most frequent
    // completion (count desc, token asc — exact argmax), with the
    // prefix's distinct-completion and total-occurrence counts. One
    // explode bounded by 4× the token count, then word-key shuffles.
    "q362_prefix_topk" -> ((s, dir) => {
      val tok = Tables.documents(s, dir)
        .select(explode(text.TextOps.tokens(col("text"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      val pref = tok
        .withColumn("l", explode(sequence(lit(1),
          least(length(col("w")), lit(4)))))
        .withColumn("prefix", col("w").substr(lit(1), col("l")))
      val stats = pref.groupBy(col("prefix"))
        .agg(count(lit(1)).as("n_completions"),
          sum(col("cnt")).as("total_cnt"))
      val top = pref
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("prefix"))
            .orderBy(col("cnt").desc, col("w"))))
        .filter(col("rk") === 1)
        .select(col("prefix"), col("w").as("top_token"),
          col("cnt").as("top_cnt"))
      stats.join(top, Seq("prefix"))
    }),


    // Tukey median polish (one row sweep + one column sweep) on the
    // nation × segment revenue matrix: values pre-scale by 4 so BOTH
    // median passes stay exact integers (a median of two multiples of
    // 2^k is a multiple of 2^{k-1} — the doubled-rank idea applied to
    // iterative medians), leaving exact row effects, column effects and
    // residuals. The robust two-way decomposition behind outlier-cell
    // detection in cohort grids — q342's Friedman asks IF treatments
    // differ, the polish shows WHERE.
    "q363_median_polish" -> ((s, dir) => {
      val cells = Tables.orders(s, dir)
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey").cast("long").as("nk"),
          col("c_mktsegment").as("seg"))
        .agg(sum(cents(col("o_totalprice"))).as("x"))
        // cells/grid/r1 each feed ≥2 consumers — materialize the
        // nation×segment grain once per stage instead of re-running the
        // fact join per reference (r14, guide §5; before plan: 48 scans)
        .localCheckpoint(true)
      val grid = cells.select(col("nk")).distinct()
        .withColumn("_k", zeroKeyNum(col("nk")))
        .join(broadcast(cells.select(col("seg")).distinct()
          .withColumn("_k", zeroKeyStr(col("seg")))), Seq("_k"))
        .drop("_k")
        .join(cells, Seq("nk", "seg"), "left")
        .withColumn("x4", coalesce(col("x"), lit(0L)) * 4)
        .localCheckpoint(true)
      val rowMed = grid.groupBy(col("nk"))
        .agg(percentile(col("x4"), lit(0.5)).cast("long").as("row_eff"))
      val r1 = grid.join(broadcast(rowMed), Seq("nk"))
        .withColumn("res1", col("x4") - col("row_eff"))
        .localCheckpoint(true)
      val colMed = r1.groupBy(col("seg"))
        .agg(percentile(col("res1"), lit(0.5)).cast("long").as("col_eff"))
      r1.join(broadcast(colMed), Seq("seg"))
        .withColumn("resid_x4", col("res1") - col("col_eff"))
        .select(col("nk"), col("seg"), col("x4"), col("row_eff"),
          col("col_eff"), col("resid_x4"))
    }),


    // Consistent-hash ring rebalance audit: 16 md5-placed virtual nodes,
    // every customer key assigned to its clockwise successor (wrap =
    // global min), then the SAME assignment re-run with a 17th node —
    // per-node key counts before/after and the exact remap count (the
    // 1/(n+1) promise of consistent hashing, measured). The 16/17-way
    // vnode table rides as an explode (pure row multiplier, no join);
    // assignment is one min-aggregate per key.
    "q364_hash_ring" -> ((s, dir) => {
      def h15(c: Column): Column =
        conv(substring(md5(c), 1, 15), 16, 10).cast("long")
      def assigned(nNodes: Int, out: String): DataFrame =
        Tables.customer(s, dir)
          .select(col("c_custkey").as("ck"),
            h15(concat(lit("k"), col("c_custkey"))).as("kp"))
          .withColumn("i", explode(sequence(lit(0), lit(nNodes - 1))))
          .withColumn("pos", h15(concat(lit("node"), col("i"))))
          .groupBy(col("ck"), col("kp"))
          .agg(min(when(col("pos") >= col("kp"), col("pos"))).as("ge"),
            min(col("pos")).as("mn"))
          .select(col("ck"), coalesce(col("ge"), col("mn")).as(out))
      val a16 = assigned(16, "pos16")
      val a17 = assigned(17, "pos17")
      val vn = s.range(1)
        .withColumn("i", explode(sequence(lit(0), lit(16))))
        .select(col("i").cast("long").as("node_id"),
          h15(concat(lit("node"), col("i"))).as("pos"))
      val both = a16.join(a17, Seq("ck"))
      val remap = both
        .agg(sum(when(col("pos16") =!= col("pos17"), 1L).otherwise(0L))
          .as("n_remapped"))
      both
        .join(vn.select(col("pos").as("pos17"), col("node_id")), Seq("pos17"))
        .groupBy(col("node_id"))
        .agg(count(lit(1)).as("n_after"),
          sum(when(col("pos16") === col("pos17"), 1L).otherwise(0L))
            .as("n_kept"))
        .crossJoin(broadcast(remap))
    }),


    // 2-D skyline (Pareto-dominance query) over parts minimizing
    // (retail price, size): one sort, one strictly-cheaper RANGE window
    // for the running size minimum, one equal-price partition minimum —
    // a point survives iff nothing cheaper-or-equal is also
    // smaller-or-equal with one strict. Linear, no pair space — the
    // dominance join every "best tradeoff" screen needs.
    "q365_skyline_2d" -> ((s, dir) => {
      ops.Stats.skyline2D(
        Tables.part(s, dir)
          .select(col("p_partkey").as("pk"),
            cents(col("p_retailprice")).as("price"),
            col("p_size").cast("long").as("sz")),
        "price", "sz")
    }),


    // Largest-remainder (Hamilton) apportionment of 100 seats to
    // nations by exact revenue share: base = v·100 div S, remainders
    // ranked (desc, nation asc) hand out the leftover — all integer,
    // seats conserve exactly (spec law). The proportional-allocation
    // primitive behind budget splits and quota assignment.
    "q366_apportionment" -> ((s, dir) => {
      // ONE pass over the nation-grain aggregate (r15, guide §2.4/§5):
      // the grand total and the leftover used to attach via
      // crossJoin(broadcast(agg)) — two extra scalar consumers that each
      // re-ran the orders⋈customer aggregate (before plan: 16 scans).
      // Both are partition-less window sums instead, sitting directly on
      // the Aggregate so the global-window audit can still PROVE the
      // frame bounded (a checkpoint here would erase that proof).
      val wAll = Window.partitionBy()
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.orders(s, dir)
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey").cast("long").as("nk"))
        .agg(sum(cents(col("o_totalprice"))).as("v"))
        .withColumn("s", sum(col("v")).over(wAll))
        .withColumn("base", decDiv(d38(col("v")) * 100L, d38(col("s")))
          .cast("long"))
        // the remainder stays DECIMAL for the rank — a double detour
        // could collide two distinct remainders beyond 2^53
        .withColumn("rem", (d38(col("v")) * 100L) % d38(col("s")))
        .withColumn("leftover", lit(100L) - sum(col("base")).over(wAll))
        .withColumn("rk", row_number().over(
          Window.orderBy(col("rem").desc, col("nk"))).cast("long"))
        .withColumn("extra",
          when(col("rk") <= col("leftover"), 1L).otherwise(0L))
        .withColumn("seats", col("base") + col("extra"))
        .select(col("nk"), col("v"), col("base"), col("extra"),
          col("seats"))
    }),


    // Intra-list diversity of each nation's top-10 popularity recs (the
    // recsys health metric next to q335's MAP and q275's MRR): exact
    // integer pair distance 1000·[brand differs] + |size delta| over
    // the 45 in-list pairs, averaged with `div`. Pair space is 45 rows
    // per nation by construction — a bounded self-join on the rec list,
    // never on the catalog.
    "q367_intra_list_diversity" -> ((s, dir) => {
      val cn = Tables.customer(s, dir)
        .select(col("c_custkey").as("ck"),
          col("c_nationkey").cast("long").as("nk"))
      val recs = Tables.orders(s, dir)
        .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
        .join(cn, col("o_custkey") === col("ck"))
        .groupBy(col("nk"), col("l_partkey").as("pk"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("pos", row_number().over(Window.partitionBy(col("nk"))
          .orderBy(col("cnt").desc, col("pk"))))
        .filter(col("pos") <= 10)
        .join(Tables.part(s, dir).select(col("p_partkey").as("pk"),
          col("p_brand"), col("p_size").cast("long").as("sz")), Seq("pk"))
        // the rec list feeds BOTH sides of the pair self-join —
        // checkpoint the (10 rows × nations) frame instead of
        // re-running the fact scan twice (the q370 lesson)
        .localCheckpoint()
      val a = recs.select(col("nk"), col("pk").as("p1"),
        col("p_brand").as("b1"), col("sz").as("s1"))
      val b = recs.select(col("nk"), col("pk").as("p2"),
        col("p_brand").as("b2"), col("sz").as("s2"))
      a.join(b, Seq("nk")).filter(col("p1") < col("p2"))
        .withColumn("d",
          when(col("b1") =!= col("b2"), 1000L).otherwise(0L) +
            abs(col("s1") - col("s2")))
        .groupBy(col("nk"))
        .agg(count(lit(1)).as("n_pairs"), sum(col("d")).as("d_sum"))
        .withColumn("ild_milli", expr("d_sum * 1000 div n_pairs"))
    }),


    // Synthetic-control gap read: EUROPE's monthly revenue vs its best
    // single donor region — the donor minimizing EXACT pre-1997 monthly
    // squared error (decimal-lifted; argmin ties break by name), then
    // the post-period month-by-month gap. The causal-read sibling of
    // q286's diff-in-differences with a DATA-CHOSEN control.
    "q368_synthetic_control" -> ((s, dir) => {
      val monthly = Tables.orders(s, dir)
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(Tables.nation(s, dir), col("c_nationkey") === col("n_nationkey"))
        .join(Tables.region(s, dir), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"),
          date_trunc("month", col("o_orderdate")).cast("date").as("month"))
        .agg(sum(cents(col("o_totalprice"))).as("c"))
        // tgt and don below are each consumed twice — materialize the
        // region×month grain once instead of re-running the 4-way fact
        // join per reference (r14, guide §5; before plan: 32 scans)
        .localCheckpoint(true)
      val tgt = monthly.filter(col("r_name") === "EUROPE")
        .select(col("month"), col("c").as("tc"))
      val don = monthly.filter(col("r_name") =!= "EUROPE")
        .select(col("r_name").as("donor"), col("month"), col("c").as("dc"))
      val split = to_date(lit("1997-01-01"))
      val best = don.filter(col("month") < split)
        .join(tgt.filter(col("month") < split), Seq("month"))
        .groupBy(col("donor"))
        .agg(sum(d38(col("tc") - col("dc")) * (col("tc") - col("dc")))
          .as("sse"))
        .withColumn("rk", row_number().over(
          Window.orderBy(col("sse"), col("donor"))))
        .filter(col("rk") === 1)
        .select(col("donor"), toD(col("sse")).as("pre_sse_d"))
      tgt.filter(col("month") >= split)
        .withColumn("_k", zeroKeyNum(col("tc")))
        .join(broadcast(best.withColumn("_k", zeroKeyStr(col("donor")))),
          Seq("_k"))
        .drop("_k")
        .join(don, Seq("month", "donor"))
        .withColumn("gap_cents", col("tc") - col("dc"))
        .select(col("month"), col("donor"), col("tc").as("target_cents"),
          col("dc").as("donor_cents"), col("gap_cents"),
          col("pre_sse_d"))
    }),


    // Hierarchy (BOM-style) subtree rollup WITHOUT a join: the part
    // tree is the integer division chain parent = pk div 7, so every
    // part's ancestors at depths 1..4 are pure column math — one
    // explode enumerates (part → each ancestor), one groupBy sums the
    // subtree. The path-arithmetic trick that turns a recursive
    // hierarchy walk into a single shuffle at any scale.
    "q369_bom_rollup" -> ((s, dir) => {
      val p = Tables.part(s, dir)
        .select(col("p_partkey").as("pk"),
          cents(col("p_retailprice")).as("cost"))
      p.withColumn("l", explode(sequence(lit(1), lit(4))))
        .withColumn("anc",
          expr("pk div cast(pow(7, l) as long)"))
        .filter(col("anc") > 0)
        .groupBy(col("anc"))
        .agg(count(lit(1)).as("n_desc"), sum(col("cost")).as("subtree_cents"))
        .filter(col("n_desc") >= 2)
    }),


    // Kneser–Ney smoothed bigram probabilities (the LM smoothing that
    // actually works, next to q115's raw bigram NLL): absolute discount
    // d = 3/4 kept EXACT by the ×4 integer trick (max(4c−3, 0) div 4·c₁),
    // the continuation probability from distinct-context counts, all in
    // truncating ppm — the full back-off formula as pure integer
    // arithmetic, no float smoothing anywhere. Top-30 bigrams by count.
    "q370_kneser_ney" -> ((s, dir) => {
      // the corpus-sized bigram explode feeds FOUR consumers (counts,
      // left/right context stats, the type total) — checkpoint the
      // vocab²-sized grouped result once instead of re-scanning 4×.
      // tokens() MUST be materialized as its own column first: nested
      // inside ngrams(), codegen re-evaluates the regexp per emitted
      // n-gram (measured 8.1 s vs 0.6 s at sf0.1 — the q274 lesson).
      val bi = Tables.documents(s, dir)
        .select(text.TextOps.tokens(col("text")).as("ts"))
        .select(explode(text.TextOps.ngrams(col("ts"), 2)).as("bigram"))
        .groupBy(col("bigram")).agg(count(lit(1)).as("c"))
        .withColumn("w1", split(col("bigram"), " ").getItem(0))
        .withColumn("w2", split(col("bigram"), " ").getItem(1))
        .localCheckpoint()
      val left = bi.groupBy(col("w1"))
        .agg(sum(col("c")).as("ctot"), count(lit(1)).as("n_after"))
      val right = bi.groupBy(col("w2")).agg(count(lit(1)).as("n_before"))
      val types = bi.agg(count(lit(1)).as("t"))
      bi.join(left, Seq("w1")).join(right, Seq("w2"))
        .crossJoin(broadcast(types))
        .withColumn("pkn_ppm",
          expr("(greatest(4 * c - 3, 0) * 1000000) div (4 * ctot)") +
            expr("((3 * n_after * 1000000 div (4 * ctot)) * " +
              "(n_before * 1000000 div t)) div 1000000"))
        .withColumn("rk", row_number().over(
          Window.orderBy(col("c").desc, col("bigram"))))
        .filter(col("rk") <= 30)
        .select(col("bigram"), col("c"), col("pkn_ppm"))
    }),


    // Offline bandit policy replay (counterfactual eval without an
    // experiment): the greedy policy picks, each day, the order
    // priority with the highest CUMULATIVE revenue so far (ties by
    // name), realizes that day's actual revenue, and the regret ledger
    // compares it to the best FIXED arm in hindsight — all exact cents,
    // the pick an exact window argmax over yesterday's knowledge (no
    // lookahead leak: the cumulative window ends at −1).
    "q371_bandit_replay" -> ((s, dir) => {
      // daily feeds four consumers (both grid dims, the left join, best)
      // and grid two (picked, bestDaily) — each re-ran the orders
      // aggregate; day×arm grain is bounded — materialize once,
      // mirroring q372_raking (r15, guide §5)
      val daily = Tables.orders(s, dir)
        .groupBy(to_date(col("o_orderdate")).as("d"),
          col("o_orderpriority").as("arm"))
        .agg(sum(cents(col("o_totalprice"))).as("rev"))
        .localCheckpoint(true)
      val grid = daily.select(col("d")).distinct()
        .withColumn("_k", zeroKeyNum(datediff(col("d"),
          to_date(lit("1992-01-01")))))
        .join(broadcast(daily.select(col("arm")).distinct()
          .withColumn("_k", zeroKeyStr(col("arm")))), Seq("_k"))
        .drop("_k")
        .join(daily, Seq("d", "arm"), "left")
        .withColumn("rev", coalesce(col("rev"), lit(0L)))
        .localCheckpoint(true)
      val wArm = Window.partitionBy(col("arm")).orderBy(col("d"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val picked = grid
        .withColumn("cum_prev",
          coalesce(sum(col("rev")).over(wArm), lit(0L)))
        .withColumn("rn", row_number().over(Window.partitionBy(col("d"))
          .orderBy(col("cum_prev").desc, col("arm"))))
        .filter(col("rn") === 1)
        .select(col("d"), col("arm").as("picked_arm"),
          col("rev").as("realized_cents"))
      val best = daily.groupBy(col("arm")).agg(sum(col("rev")).as("tot"))
        .withColumn("rk", row_number().over(
          Window.orderBy(col("tot").desc, col("arm"))))
        .filter(col("rk") === 1)
        .select(col("arm"), col("tot"))
      val bestDaily = grid.join(broadcast(best), Seq("arm"))
        .select(col("d"), col("rev").as("best_daily_cents"))
      picked.join(bestDaily, Seq("d"))
        // (d) is unique on both sides (rn = 1 per day; one best arm), so
        // this aggregate has singleton groups and changes nothing — it
        // re-establishes the day-grain BOUND the global-window audit
        // proves structurally, which the checkpoints above erased
        // (checkpointed frames are opaque LogicalRDDs to the audit)
        .groupBy(col("d"))
        .agg(max(col("picked_arm")).as("picked_arm"),
          max(col("realized_cents")).as("realized_cents"),
          max(col("best_daily_cents")).as("best_daily_cents"))
        .withColumn("cum_regret_cents",
          sum(col("best_daily_cents") - col("realized_cents")).over(
            Window.orderBy(col("d"))))
    }),


    // Raking / iterative proportional fitting, two full (row, column)
    // iterations unrolled: the pre-1997 nation×segment count table is
    // scaled to the post-1997 margins in exact micro-count units (every
    // factor application is one decimal-lifted decDiv — truncating, the
    // declared quantization; zero margins guard to zero). The survey-
    // weighting primitive; the oracle unrolls the identical four passes.
    "q372_raking" -> ((s, dir) => {
      def counts(f: Column => Column): DataFrame = Tables.orders(s, dir)
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .filter(f(to_date(col("o_orderdate"))))
        .groupBy(col("c_nationkey").cast("long").as("nk"),
          col("c_mktsegment").as("seg"))
        .agg(count(lit(1)).as("n"))
      val split = to_date(lit("1997-01-01"))
      val pre = counts(_ < split)
      val post = counts(_ >= split)
      val rowT = post.groupBy(col("nk")).agg(sum(col("n")).as("rt"))
      val colT = post.groupBy(col("seg")).agg(sum(col("n")).as("ct"))
      // each pass below references its input TWICE (margin sums + the
      // factor join), so an unmaterialized 4-pass chain inlines the
      // whole upstream 2⁴ times (the before plan: 192 scans, 4.8k
      // lines). The frame is nation×segment grain — materialize the
      // base and every pass (r14, guide §3.3/§5).
      val base = pre
        .join(rowT, Seq("nk")).join(broadcast(colT), Seq("seg"))
        .withColumn("x0", col("n") * 1000000L)
        .localCheckpoint(true)
      def rowPass(df: DataFrame, in: String, out: String): DataFrame = {
        val sums = df.groupBy(col("nk")).agg(sum(col(in)).as("_rs"))
        df.join(sums, Seq("nk"))
          .withColumn(out, when(col("_rs") > 0,
            decDiv(d38(col(in)) * col("rt") * 1000000L, d38(col("_rs")))
              .cast("long")).otherwise(0L))
          .drop("_rs")
      }
      def colPass(df: DataFrame, in: String, out: String): DataFrame = {
        val sums = df.groupBy(col("seg")).agg(sum(col(in)).as("_cs"))
        df.join(broadcast(sums), Seq("seg"))
          .withColumn(out, when(col("_cs") > 0,
            decDiv(d38(col(in)) * col("ct") * 1000000L, d38(col("_cs")))
              .cast("long")).otherwise(0L))
          .drop("_cs")
      }
      val p1 = rowPass(base, "x0", "x1").localCheckpoint(true)
      val p2 = colPass(p1, "x1", "x2").localCheckpoint(true)
      val p3 = rowPass(p2, "x2", "x3").localCheckpoint(true)
      val done = colPass(p3, "x3", "x4")
      done.select(col("nk"), col("seg"), col("n").as("n_pre"),
        col("x4").as("x_micro"))
    }),


    // Leave-one-out peer z-score per nation: each nation's revenue
    // against the mean/variance of the OTHER nations, both folded from
    // the global exact sufficient statistics (S−x, Q−x² — no second
    // scan, no self-bias), the z one fixed-text double formula. The
    // peer-anomaly screen behind "which region is actually off".
    "q374_peer_loo_zscore" -> ((s, dir) => {
      val v = Tables.orders(s, dir)
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey").cast("long").as("nk"))
        .agg(sum(cents(col("o_totalprice"))).as("x"))
      val tot = v.agg(count(lit(1)).as("k"), sum(col("x")).as("s"),
        sum(d38(col("x")) * col("x")).as("q"))
      v.crossJoin(broadcast(tot))
        .withColumn("kd", (col("k") - 1).cast("double"))
        .withColumn("mean_others", toD(col("s") - col("x")) / col("kd"))
        .withColumn("var_others",
          toD((d38(col("k")) - 1) * (col("q") - d38(col("x")) * col("x")) -
            d38(col("s") - col("x")) * (col("s") - col("x"))) /
            (col("kd") * (col("kd") - 1.0)))
        .withColumn("z_loo",
          when(col("var_others") > 0,
            (col("x").cast("double") - col("mean_others")) /
              sqrt(col("var_others"))))
        .select(col("nk"), col("x"), col("mean_others"), col("z_loo"))
    }),


    // Allen interval-algebra classification of consecutive order
    // intervals per customer (order date → last ship date): under the
    // (start, end, key) total order only seven of Allen's thirteen
    // relations can appear — precedes / meets / overlaps / starts /
    // equals / finished_by / contains — each an exact boundary
    // comparison. The formal temporal-reasoning layer over the
    // overlap-join family (q85 finds overlaps; this NAMES the
    // relation). One lag per customer, no pair space.
    "q375_allen_relations" -> ((s, dir) => {
      val iv = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"),
          to_date(col("o_orderdate")).as("st"))
        .join(Tables.lineitem(s, dir)
          .select(col("l_orderkey"), to_date(col("l_shipdate")).as("sd")),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_custkey"), col("o_orderkey"), col("st"))
        .agg(greatest(max(col("sd")), max(col("st"))).as("en"))
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("st"), col("en"), col("o_orderkey"))
      iv.withColumn("st2", lead(col("st"), 1).over(w))
        .withColumn("en2", lead(col("en"), 1).over(w))
        .filter(col("st2").isNotNull)
        .withColumn("relation",
          when(col("en") < col("st2"), "precedes")
            .when(col("en") === col("st2"), "meets")
            .when(col("st") === col("st2") && col("en") === col("en2"),
              "equals")
            .when(col("st") === col("st2") && col("en") < col("en2"),
              "starts")
            .when(col("st") < col("st2") && col("en") === col("en2"),
              "finished_by")
            .when(col("st") < col("st2") && col("en") > col("en2"),
              "contains")
            .otherwise("overlaps"))
        .groupBy(col("relation")).agg(count(lit(1)).as("n"))
    }),


    // SAX (symbolic aggregate approximation) of the daily revenue
    // series: 8-day PAA blocks carried as exact block SUMS, global
    // quartile breakpoints (the q314 percentile idiom — interpolated
    // halves of integers compare exactly), symbols a–d, then 4-block
    // WORDS and their frequencies — the series-motif vocabulary behind
    // similarity search over time series, fully hash-checkable.
    "q376_sax" -> ((s, dir) => {
      val blocks = Tables.orders(s, dir)
        .groupBy(to_date(col("o_orderdate")).as("d"))
        .agg(sum(cents(col("o_totalprice"))).as("c"))
        .withColumn("rn0",
          row_number().over(Window.orderBy(col("d"))).cast("long") - 1L)
        .withColumn("blk", expr("rn0 div 8"))
        .withColumn("nb", count(lit(1)).over(Window.partitionBy(col("blk"))))
        .filter(col("nb") === 8)
        .groupBy(col("blk")).agg(sum(col("c")).as("bs"))
      val qs = blocks.agg(
        percentile(col("bs"), lit(0.25)).as("q1"),
        percentile(col("bs"), lit(0.5)).as("q2"),
        percentile(col("bs"), lit(0.75)).as("q3"))
      val sym = blocks.crossJoin(broadcast(qs))
        .withColumn("sym",
          when(col("bs").cast("double") <= col("q1"), "a")
            .when(col("bs").cast("double") <= col("q2"), "b")
            .when(col("bs").cast("double") <= col("q3"), "c")
            .otherwise("d"))
        .withColumn("wblk", expr("blk div 4"))
        .withColumn("pos", expr("blk % 4"))
        .withColumn("nw", count(lit(1)).over(
          Window.partitionBy(col("wblk"))))
        .filter(col("nw") === 4)
      sym.groupBy(col("wblk"))
        .agg(concat_ws("", array_sort(collect_list(
          struct(col("pos"), col("sym")))).getField("sym")).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("n"))
    }),


    // Hill estimator of the revenue tail index over the top-100 parts:
    // per-item ln(x) floor-quantized to µnats (the q274 rule), the tail
    // sum an order-free integer, α one final division — the power-law
    // heaviness read q301's Zipf slope approximates from ranks, here
    // from the MLE form.
    "q377_hill_tail" -> ((s, dir) => {
      val rev = Tables.lineitem(s, dir)
        .groupBy(col("l_partkey"))
        .agg(sum(cents(col("l_extendedprice"))).as("x"))
        .withColumn("rk", row_number().over(
          Window.orderBy(col("x").desc, col("l_partkey"))).cast("long"))
        .filter(col("rk") <= 100)
        .withColumn("ln_micro",
          floor(lit(1e6) * log(col("x").cast("double"))).cast("long"))
      val xmin = rev.filter(col("rk") === 100)
        .select(col("x").as("xmin"), col("ln_micro").as("ln_min"))
      rev.filter(col("rk") < 100)
        .crossJoin(broadcast(
          xmin.agg(max(col("xmin")).as("xmin"), max(col("ln_min")).as("ln_min"))))
        .agg(count(lit(1)).as("k_tail"), max(col("xmin")).as("xmin"),
          sum(col("ln_micro") - col("ln_min")).as("sum_ln_micro"))
        .withColumn("alpha",
          when(col("sum_ln_micro") > 0,
            col("k_tail").cast("double") * 1e6 /
              col("sum_ln_micro").cast("double")))
    }),


    // Fold-based periodicity detection (the periodogram without an
    // FFT): candidate periods 2–14 ride as one explode, each scoring
    // the day-count series by the exact between-fold share of total
    // variance (the q325 quantized-term machinery, score in ppm), the
    // winner an exact argmax. Finds the weekly cycle from counts alone.
    "q378_period_detect" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(expr("unix_micros(cast(ts as timestamp)) div 86400000000")
          .as("t"))
        .agg(count(lit(1)).as("n"))
      val folded = daily
        .withColumn("p", explode(sequence(lit(2L), lit(14L))))
        .withColumn("fold", pmod(col("t"), col("p")))
      val g = folded.groupBy(col("p"), col("fold"))
        .agg(count(lit(1)).as("n_g"), sum(col("n")).as("s_g"))
        .withColumn("term",
          decDiv(d38(col("s_g")) * col("s_g"), d38(col("n_g"))))
      val tot = daily.agg(count(lit(1)).as("nn"), sum(col("n")).as("s"),
        sum(d38(col("n")) * col("n")).as("q"))
      g.groupBy(col("p"))
        .agg(sum(col("term")).as("t_all"))
        .crossJoin(broadcast(tot))
        .withColumn("ssb",
          greatest(col("t_all") - decDiv(d38(col("s")) * col("s"),
            d38(col("nn"))), lit(0L).cast("decimal(38,0)")))
        .withColumn("sst", col("q") - decDiv(d38(col("s")) * col("s"),
          d38(col("nn"))))
        .withColumn("score_ppm",
          decDiv(col("ssb") * 1000000L, col("sst")).cast("long"))
        .withColumn("rk", row_number().over(
          Window.orderBy(col("score_ppm").desc, col("p"))).cast("long"))
        .select(col("p"), col("score_ppm"), col("rk"))
    }),


    // Bitemporal as-of lookup (valid time × transaction time): each
    // order carries a v1 row effective/known at its order date, and
    // every third key a v2 correction effective 30 days later but only
    // KNOWN 60 days later — the query answers "as of valid time V, as
    // the system knew it at transaction time T" by filtering both
    // dimensions and taking the (tx, valid)-max version per key. The
    // audit-grade time-travel read SCD2 (one time axis) cannot express.
    "q379_bitemporal_lookup" -> ((s, dir) => {
      val base = Tables.orders(s, dir)
        .select(col("o_orderkey").as("k"),
          to_date(col("o_orderdate")).as("od"),
          cents(col("o_totalprice")).as("price"))
      val v1 = base.select(col("k"), col("od").as("valid_from"),
        col("od").as("tx_from"), col("price"), lit(1L).as("ver"))
      val v2 = base.filter(col("k") % 3 === 0)
        .select(col("k"), date_add(col("od"), 30).as("valid_from"),
          date_add(col("od"), 60).as("tx_from"),
          (col("price") + 500L).as("price"), lit(2L).as("ver"))
      val vv = to_date(lit("1997-06-01"))
      val tt = to_date(lit("1997-09-01"))
      v1.unionByName(v2)
        .filter(col("valid_from") <= vv && col("tx_from") <= tt)
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("k"))
            .orderBy(col("tx_from").desc, col("valid_from").desc,
              col("ver").desc)))
        .filter(col("rk") === 1)
        .select(col("k"), col("ver"), col("price"),
          col("valid_from"), col("tx_from"))
    }),


    // Split-conformal prediction intervals with EXACT order statistics:
    // custkey%3 thirds (train/calibrate/test), the model is the
    // train-side segment mean (quantized by div — declared), q̂ is the
    // ⌈0.9(n+1)⌉-th smallest calibration residual picked by exact rank
    // (never an interpolated percentile — conformal validity needs the
    // order statistic), and the test row reports the realized coverage
    // in ppm. The distribution-free uncertainty wrapper, hash-checkable
    // end to end.
    "q380_conformal" -> ((s, dir) => {
      val rev = Tables.orders(s, dir)
        .groupBy(col("o_custkey"))
        .agg(sum(cents(col("o_totalprice"))).as("y"))
      val base = Tables.customer(s, dir)
        .select(col("c_custkey").as("ck"), col("c_mktsegment").as("seg"))
        .join(rev, col("ck") === col("o_custkey"), "left")
        .withColumn("y", coalesce(col("y"), lit(0L)))
        .withColumn("fold", col("ck") % 3)
        // three consumers (model, cal, test) each re-ran the orders
        // aggregate + customer join; customer-grain, four narrow columns
        // — materialize once (r15, guide §5)
        .localCheckpoint(true)
      val model = base.filter(col("fold") === 0)
        .groupBy(col("seg"))
        .agg(expr("sum(y) div count(1)").as("yhat"))
      val cal = base.filter(col("fold") === 1)
        .join(broadcast(model), Seq("seg"))
        .withColumn("resid", abs(col("y") - col("yhat")))
      // exact-rank order statistic via the two-phase bucketed device
      // (customer-scale residual frame — no single-partition sort); the
      // calibration count attaches as the audited scalar-agg broadcast
      val qhat = ops.Stats.distributedRank(
          cal, "resid", tieBreak = Seq("ck"), out = "rn")
        .crossJoin(broadcast(cal.agg(count(lit(1)).as("n_cal"))))
        .withColumn("target", expr("(9 * (n_cal + 1) + 9) div 10"))
        .agg(max(col("n_cal")).as("n_cal"),
          max(when(col("rn") === col("target"), col("resid"))).as("q_hat"))
      val test = base.filter(col("fold") === 2)
        .join(broadcast(model), Seq("seg"))
        .withColumn("resid", abs(col("y") - col("yhat")))
      test.crossJoin(broadcast(qhat))
        .agg(max(col("n_cal")).as("n_cal"), max(col("q_hat")).as("q_hat"),
          count(lit(1)).as("n_test"),
          sum(when(col("resid") <= col("q_hat"), 1L).otherwise(0L))
            .as("n_covered"))
        .withColumn("coverage_ppm", expr("n_covered * 1000000 div n_test"))
    }),


    // Inverse-propensity-score off-policy evaluation: the logged
    // "policy" is the event-type mix as recorded, empirical
    // propensities p̂(a) = n_a/n, and the TARGET policy deterministically
    // assigns each user the arm at rank (user_id mod k) — the IPS value
    // Σ r·1[a=π(u)]/p̂(a) folds to exact integer micro-units
    // (r·1e6·n div (n·n_a) per matching event, quantized by div), with
    // the self-normalizing denominator reported alongside. How you
    // grade a new policy from logs WITHOUT an experiment.
    "q381_ips_eval" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_type").as("arm"),
          cents(col("value")).as("r"))
      val arms = ev.groupBy(col("arm")).agg(count(lit(1)).as("n_a"))
        .withColumn("arm_idx", row_number().over(
          Window.orderBy(col("arm"))).cast("long") - 1L)
      val k = arms.agg(count(lit(1)).as("k"))
      val matched = ev
        .join(broadcast(arms), Seq("arm"))
        .crossJoin(broadcast(k))
        .withColumn("is_match",
          when(pmod(col("user_id"), col("k")) === col("arm_idx"), 1L)
            .otherwise(0L))
      matched.agg(count(lit(1)).as("n"),
          sum(col("is_match")).as("n_match"),
          sum(when(col("is_match") === 1,
            expr("r * 1000000 div n_a")).otherwise(0L)).as("ips_num_micro"),
          sum(when(col("is_match") === 1,
            expr("1000000000 div n_a")).otherwise(0L)).as("snips_den_nano"))
        .withColumn("ips_value_micro", expr("ips_num_micro div n"))
        .select(col("n"), col("n_match"), col("ips_num_micro"),
          col("snips_den_nano"), col("ips_value_micro"))
    }),


    // Pinball (quantile) loss at τ = 0.9 for the q285 seasonal-naive
    // forecast: per month the asymmetric loss 9(y−ŷ) or (ŷ−y) in exact
    // deci-scale (τ = 9/10 cleared by ×10), plus the running total —
    // the metric that grades QUANTILE forecasts where MAPE grades point
    // forecasts.
    "q382_pinball_loss" -> ((s, dir) => {
      Tables.orders(s, dir)
        .groupBy(date_trunc("month", col("o_orderdate")).cast("date")
          .as("month"))
        .agg(sum(cents(col("o_totalprice"))).as("actual_cents"))
        .withColumn("pred_cents",
          lag(col("actual_cents"), 12).over(Window.orderBy(col("month"))))
        .filter(col("pred_cents").isNotNull)
        .withColumn("pinball_x10",
          greatest(lit(9L) * (col("actual_cents") - col("pred_cents")),
            col("pred_cents") - col("actual_cents")))
        .withColumn("cum_pinball_x10",
          sum(col("pinball_x10")).over(Window.orderBy(col("month"))))
        .select(col("month"), col("actual_cents"), col("pred_cents"),
          col("pinball_x10"), col("cum_pinball_x10"))
    }),


    // Intra-cluster correlation + survey design effect (Kish): nations
    // as clusters over order values, MSB/MSW from the q325 exact-
    // quantized machinery, ICC = (MSB−MSW)/(MSB+(m̄−1)·MSW) and
    // DEFF = 1+(m̄−1)·ICC as fixed-text double formulas — the number
    // that says how much clustering inflates your variance (and
    // deflates your effective sample size).
    "q383_icc_deff" -> ((s, dir) => {
      val g = Tables.orders(s, dir)
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .select(col("c_nationkey").cast("long").as("grp"),
          cents(col("o_totalprice")).as("x"))
        .groupBy(col("grp"))
        .agg(count(lit(1)).as("n_g"), sum(col("x")).as("s_g"),
          sum(d38(col("x")) * col("x")).as("q_g"))
        .withColumn("term",
          decDiv(d38(col("s_g")) * col("s_g"), d38(col("n_g"))))
      g.agg(count(lit(1)).as("k"), sum(col("n_g")).as("n"),
          sum(col("s_g")).as("s_all"), sum(col("q_g")).as("q_all"),
          sum(col("term")).as("t_all"))
        .withColumn("ssb", toD(col("t_all") -
          decDiv(d38(col("s_all")) * col("s_all"), d38(col("n")))))
        .withColumn("ssw", toD(col("q_all") - col("t_all")))
        .withColumn("msb", col("ssb") / (col("k") - 1).cast("double"))
        .withColumn("msw", col("ssw") / (col("n") - col("k")).cast("double"))
        .withColumn("m_bar",
          col("n").cast("double") / col("k").cast("double"))
        .withColumn("icc",
          (col("msb") - col("msw")) /
            (col("msb") + (col("m_bar") - 1.0) * col("msw")))
        .withColumn("deff", lit(1.0) + (col("m_bar") - 1.0) * col("icc"))
        .select(col("k"), col("n"), col("icc"), col("deff"))
    }),


    // l-diversity audit (the sensitive-value strength check ON TOP of
    // q283's k-anonymity): per (nation, segment) quasi-identifier
    // group, the distinct count AND the µnat entropy of the sensitive
    // order-priority distribution — entropy terms fold as
    // c·(ln_µ(n) − ln_µ(c)) div n from floor-quantized logs (order-free
    // integers), so entropy-l is hash-checkable. The global minimum
    // rides every row (the LOUD-diagnostic rule).
    "q384_l_diversity" -> ((s, dir) => {
      val base = Tables.orders(s, dir)
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .select(col("c_nationkey").cast("long").as("nk"),
          col("c_mktsegment").as("seg"), col("o_orderpriority").as("sv"))
      def lnMicro(c: Column): Column =
        floor(lit(1e6) * log(c.cast("double"))).cast("long")
      val cells = base.groupBy(col("nk"), col("seg"), col("sv"))
        .agg(count(lit(1)).as("c"))
      val shaped = cells
        .withColumn("n", sum(col("c")).over(
          Window.partitionBy(col("nk"), col("seg"))))
        .withColumn("lnn", lnMicro(col("n")))
        .withColumn("lnc", lnMicro(col("c")))
        .withColumn("term", expr("c * (lnn - lnc) div n"))
        .groupBy(col("nk"), col("seg"))
        .agg(max(col("n")).as("n"), count(lit(1)).as("l_distinct"),
          sum(col("term")).as("ent_micro"))
        .localCheckpoint() // feeds both the rows and the min-l diagnostic
      shaped.crossJoin(broadcast(
        shaped.agg(min(col("l_distinct")).as("min_l"))))
    }),


    // Bias-model recommender baseline (the Koren μ + b_item + b_user
    // predictor every factor model must beat): quantity "ratings" in
    // exact centi-units, item bias on the train half, user bias on the
    // residual AFTER the item bias (the standard sequential fit), every
    // mean a truncating div (declared), test RMSE from one exact
    // decimal SSE. The whole fit-predict-evaluate loop is three
    // aggregations and two broadcast-shaped joins — no model artifact.
    "q385_bias_model" -> ((s, dir) => {
      val r = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"))
        .join(Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_partkey"),
            (col("l_quantity").cast("long") * 100).as("q_c")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("u"), col("l_partkey").as("i"),
          col("q_c"), (col("o_orderkey") % 2).as("fold"))
        // the bias fit consumes train three times (mu/bi/bu) and the
        // test fold reads r again — materialize the fact join once
        // (r14, guide §5; before plan: 32 scans)
        .localCheckpoint(true)
      val train = r.filter(col("fold") === 1)
      // offset-positive integer bias fit, promoted to the reusable
      // ml.Models.biasBaseline (identical algebra — oracle unchanged);
      // q387 persists the same artifacts and serves from disk
      val (mu, bi, bu) = ml.Models.biasBaseline(train, "u", "i", "q_c")
      r.filter(col("fold") === 0)
        .crossJoin(broadcast(mu))
        .join(bi, Seq("i"), "left")
        .join(bu, Seq("u"), "left")
        .withColumn("pred_c",
          greatest(lit(100L), least(lit(5000L),
            col("mu_c") + coalesce(col("b_i"), lit(0L)) +
              coalesce(col("b_u"), lit(0L)))))
        .withColumn("e", col("q_c") - col("pred_c"))
        .agg(count(lit(1)).as("n_test"),
          sum(d38(col("e")) * col("e")).as("sse"))
        .withColumn("rmse_c",
          sqrt(toD(col("sse")) / col("n_test").cast("double")))
        .select(col("n_test"), toD(col("sse")).as("sse_d"), col("rmse_c"))
    }),
  )

  /** DuckDB-runnable oracle equivalents — HUGEINT where Spark lifts to
    * decimal(38,0), `//` where Spark runs decDiv/`div` (non-negative
    * operands throughout), the SAME fixed-order double formula texts,
    * and the SAME unrolled fixed-round recurrences (MATERIALIZED when a
    * stage references its predecessor more than once — plain CTEs
    * inline exponentially, the q321 lesson). */
  val sql: Map[String, String] = Map(

    "q325_anova_f" ->
      """WITH t AS (
        |  SELECT o_orderpriority AS grp,
        |    CAST(CAST(o_totalprice AS DECIMAL(30,2)) * 100 AS BIGINT) AS x
        |  FROM orders),
        |g AS (
        |  SELECT grp, CAST(count(*) AS BIGINT) AS n_g,
        |    CAST(sum(x) AS BIGINT) AS s_g,
        |    sum(CAST(x AS HUGEINT) * x) AS q_g
        |  FROM t GROUP BY 1),
        |gt AS (SELECT *, (CAST(s_g AS HUGEINT) * s_g) // n_g AS term FROM g),
        |a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n_g) AS BIGINT) AS n,
        |    CAST(sum(s_g) AS HUGEINT) AS s_all, sum(q_g) AS q_all,
        |    sum(term) AS t_all
        |  FROM gt),
        |b AS (SELECT *, (s_all * s_all) // n AS s2n FROM a),
        |c AS (
        |  SELECT k, n,
        |    CAST(CAST(t_all - s2n AS VARCHAR) AS DOUBLE) AS ssb,
        |    CAST(CAST(q_all - t_all AS VARCHAR) AS DOUBLE) AS ssw
        |  FROM b)
        |SELECT k, n, ssb, ssw,
        |  CASE WHEN k > 1 AND n > k AND ssw > 0
        |       THEN (ssb / CAST(k - 1 AS DOUBLE)) /
        |            (ssw / CAST(n - k AS DOUBLE)) END AS f_stat
        |FROM c""".stripMargin,

    "q326_kendall_tau" ->
      """WITH rev AS (
        |  SELECT o_custkey,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(30,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS y
        |  FROM orders GROUP BY 1),
        |base AS (
        |  SELECT CAST(c_nationkey AS BIGINT) AS nk, c_custkey AS ck,
        |    CAST(CAST(c_acctbal AS DECIMAL(30,2)) * 100 AS BIGINT) AS x,
        |    COALESCE(y, 0) AS y
        |  FROM customer LEFT JOIN rev ON c_custkey = o_custkey),
        |capped AS (
        |  SELECT nk, ck, x, y FROM (
        |    SELECT nk, ck, x, y,
        |      row_number() OVER (PARTITION BY nk
        |        ORDER BY md5(CAST(ck AS VARCHAR)), ck) AS hr
        |    FROM base)
        |  WHERE hr <= 256),
        |p AS (
        |  SELECT a.nk, a.x AS x1, a.y AS y1, b.x AS x2, b.y AS y2
        |  FROM capped a JOIN capped b ON a.nk = b.nk AND a.ck < b.ck),
        |agg AS (
        |  SELECT nk, CAST(count(*) AS BIGINT) AS n_pairs,
        |    CAST(sum(CASE WHEN (x1 < x2 AND y1 < y2)
        |      OR (x1 > x2 AND y1 > y2) THEN 1 ELSE 0 END) AS BIGINT) AS nc,
        |    CAST(sum(CASE WHEN (x1 < x2 AND y1 > y2)
        |      OR (x1 > x2 AND y1 < y2) THEN 1 ELSE 0 END) AS BIGINT) AS nd,
        |    CAST(sum(CASE WHEN x1 = x2 AND y1 <> y2 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS tx,
        |    CAST(sum(CASE WHEN y1 = y2 AND x1 <> x2 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS ty,
        |    CAST(sum(CASE WHEN x1 = x2 AND y1 = y2 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS txy
        |  FROM p GROUP BY 1)
        |SELECT *,
        |  CASE WHEN n_pairs > tx + txy AND n_pairs > ty + txy
        |       THEN CAST(nc - nd AS DOUBLE) /
        |            (sqrt(CAST(n_pairs - tx - txy AS DOUBLE)) *
        |             sqrt(CAST(n_pairs - ty - txy AS DOUBLE))) END AS tau_b
        |FROM agg""".stripMargin,

    "q327_kruskal_wallis" ->
      """WITH t AS (
        |  SELECT o_orderpriority AS grp,
        |    CAST(CAST(o_totalprice AS DECIMAL(30,2)) * 100 AS BIGINT) AS x
        |  FROM orders),
        |r AS (
        |  SELECT grp,
        |    2 * CAST(rank() OVER (ORDER BY x) AS BIGINT)
        |      + CAST(count(*) OVER (PARTITION BY x) AS BIGINT) - 1 AS r2
        |  FROM t),
        |g AS (
        |  SELECT grp, CAST(count(*) AS BIGINT) AS n_g,
        |    CAST(sum(r2) AS BIGINT) AS r2_g
        |  FROM r GROUP BY 1),
        |gt AS (SELECT *, (CAST(r2_g AS HUGEINT) * r2_g) // n_g AS term FROM g),
        |ties AS (
        |  SELECT sum(CAST(tt AS HUGEINT) * tt * tt - tt) AS tie_s
        |  FROM (SELECT count(*) AS tt FROM t GROUP BY x)),
        |a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n_g) AS BIGINT) AS n,
        |    sum(term) AS t_all
        |  FROM gt),
        |b AS (
        |  SELECT k, n, CAST(n AS DOUBLE) AS nd,
        |    CAST(CAST(t_all AS VARCHAR) AS DOUBLE) AS t_d,
        |    CAST(CAST(tie_s AS VARCHAR) AS DOUBLE) AS tie_d
        |  FROM a CROSS JOIN ties),
        |c AS (
        |  SELECT k, n,
        |    3.0 * t_d / (nd * (nd + 1.0)) - 3.0 * (nd + 1.0) AS h,
        |    1.0 - tie_d / (nd * nd * nd - nd) AS c_tie
        |  FROM b)
        |SELECT k, n, h, c_tie,
        |  CASE WHEN c_tie > 0 THEN h / c_tie END AS h_corr
        |FROM c""".stripMargin,

    "q328_cohens_kappa" ->
      """WITH nord AS (
        |  SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_ord
        |  FROM orders GROUP BY 1),
        |base AS (
        |  SELECT CAST(CAST(c_acctbal AS DECIMAL(30,2)) * 100 AS BIGINT) AS x,
        |    CASE WHEN COALESCE(n_ord, 0) >= 2 THEN 1 ELSE 0 END AS a
        |  FROM customer LEFT JOIN nord ON c_custkey = o_custkey),
        |med AS (SELECT quantile_cont(x, 0.5) AS med FROM base),
        |lab AS (
        |  SELECT a,
        |    CASE WHEN CAST(x AS DOUBLE) > med THEN 1 ELSE 0 END AS b
        |  FROM base CROSS JOIN med),
        |cm AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n11,
        |    CAST(sum(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n10,
        |    CAST(sum(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n01,
        |    CAST(sum(CASE WHEN a = 0 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n00
        |  FROM lab),
        |rc AS (
        |  SELECT *,
        |    CAST(n11 + n10 AS HUGEINT) * (n11 + n01)
        |      + CAST(n00 + n01 AS HUGEINT) * (n00 + n10) AS rcv
        |  FROM cm)
        |SELECT n, n11, n10, n01, n00,
        |  CASE WHEN CAST(n AS HUGEINT) * n <> rcv THEN
        |    CAST(CAST(CAST(n AS HUGEINT) * (n11 + n00) - rcv AS VARCHAR)
        |      AS DOUBLE) /
        |    CAST(CAST(CAST(n AS HUGEINT) * n - rcv AS VARCHAR) AS DOUBLE)
        |  END AS kappa
        |FROM rc""".stripMargin,

    "q329_resource_allocation" ->
      """WITH ps AS (
        |  SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem),
        |deg AS (SELECT pk, CAST(count(*) AS BIGINT) AS deg
        |        FROM ps GROUP BY 1),
        |kept AS (
        |  SELECT ps.pk, ps.sk, deg.deg
        |  FROM ps JOIN deg ON ps.pk = deg.pk
        |  WHERE deg.deg BETWEEN 2 AND 20),
        |dropped AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_dropped_parts
        |  FROM deg WHERE deg > 20)
        |SELECT a.sk AS s1, b.sk AS s2,
        |  CAST(count(*) AS BIGINT) AS n_common,
        |  CAST(sum(1000000 // a.deg) AS BIGINT) AS ra_micro,
        |  (SELECT n_dropped_parts FROM dropped) AS n_dropped_parts
        |FROM kept a JOIN kept b ON a.pk = b.pk AND a.sk < b.sk
        |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin,

    // 6 unrolled relaxation rounds — union + min is the same order-free
    // recurrence the Spark loop runs
    "q330_bellman_ford" -> {
      def round(k: Int): String =
        s"""d$k AS MATERIALIZED (
           |  SELECT node, CAST(min(d) AS BIGINT) AS d FROM (
           |    SELECT node, d FROM d${k - 1}
           |    UNION ALL
           |    SELECT e.dst AS node, p.d + e.w AS d
           |    FROM d${k - 1} p JOIN edges e ON e.src = p.node)
           |  GROUP BY 1)""".stripMargin
      """WITH base AS (
        |  SELECT o.o_custkey * 2 AS a, l.l_suppkey * 2 + 1 AS b,
        |    CAST(1000000 // count(DISTINCT o.o_orderkey) AS BIGINT) AS w
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |  GROUP BY 1, 2),
        |edges AS MATERIALIZED (
        |  SELECT a AS src, b AS dst, w FROM base
        |  UNION ALL SELECT b, a, w FROM base),
        |d0 AS (
        |  SELECT c_custkey * 2 AS node, CAST(0 AS BIGINT) AS d
        |  FROM customer WHERE c_custkey % 100 = 0),
        |""".stripMargin +
        (1 to 6).map(round).mkString(",\n") +
        "\nSELECT node, d FROM d6"
    },

    // 5 unrolled mutual-reinforcement rounds, each half-step
    // max-normalized to the 1e6 grid — the same integer recurrence
    "q331_hits" -> {
      def round(k: Int): String =
        s"""a${k}0 AS MATERIALIZED (
           |  SELECT e.dst, CAST(sum(h.h) AS BIGINT) AS a0
           |  FROM edges e JOIN h${k - 1} h ON e.src = h.node
           |  GROUP BY 1),
           |a$k AS MATERIALIZED (
           |  SELECT dst AS node,
           |    CAST(a0 * 1000000 // (SELECT max(a0) FROM a${k}0) AS BIGINT)
           |      AS a
           |  FROM a${k}0),
           |h${k}0 AS MATERIALIZED (
           |  SELECT e.src, CAST(sum(a.a) AS BIGINT) AS h0
           |  FROM edges e JOIN a$k a ON e.dst = a.node
           |  GROUP BY 1),
           |h$k AS MATERIALIZED (
           |  SELECT src AS node,
           |    CAST(h0 * 1000000 // (SELECT max(h0) FROM h${k}0) AS BIGINT)
           |      AS h
           |  FROM h${k}0)""".stripMargin
      """WITH edges AS MATERIALIZED (
        |  SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
        |h0 AS (
        |  SELECT DISTINCT src AS node, CAST(1000000 AS BIGINT) AS h
        |  FROM edges),
        |""".stripMargin +
        (1 to 5).map(round).mkString(",\n") +
        """
          |SELECT node, 'hub' AS kind, h AS score FROM h5
          |UNION ALL
          |SELECT node, 'auth' AS kind, a AS score FROM a5""".stripMargin
    },

    "q332_ewma_exact" ->
      """WITH daily AS (
        |  SELECT r_name, CAST(o_orderdate AS DATE) AS d,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(30,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS c
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  GROUP BY 1, 2),
        |w AS (
        |  SELECT r_name, d, c,
        |    row_number() OVER (PARTITION BY r_name ORDER BY d) AS rn,
        |    lag(c, 0) OVER (PARTITION BY r_name ORDER BY d) * 50000000
        |    + lag(c, 1) OVER (PARTITION BY r_name ORDER BY d) * 25000000
        |    + lag(c, 2) OVER (PARTITION BY r_name ORDER BY d) * 12500000
        |    + lag(c, 3) OVER (PARTITION BY r_name ORDER BY d) * 6250000
        |    + lag(c, 4) OVER (PARTITION BY r_name ORDER BY d) * 3125000
        |    + lag(c, 5) OVER (PARTITION BY r_name ORDER BY d) * 1562500
        |    + lag(c, 6) OVER (PARTITION BY r_name ORDER BY d) * 781250
        |    + lag(c, 7) OVER (PARTITION BY r_name ORDER BY d) * 781250
        |      AS ewma_e8
        |  FROM daily)
        |SELECT r_name, d, c, CAST(ewma_e8 AS BIGINT) AS ewma_e8
        |FROM w WHERE rn >= 8""".stripMargin,

    "q333_rake_keywords" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
        |  FROM documents),
        |tok AS (
        |  SELECT doc_id, i, ts[i] AS w
        |  FROM (SELECT doc_id, ts,
        |          unnest(generate_series(1, len(ts))) AS i FROM t)),
        |mk AS (
        |  SELECT doc_id, i, w,
        |    CASE WHEN w IN ('the','a','an','of','to','and','in','is','it',
        |      'that') THEN 1 ELSE 0 END AS st
        |  FROM tok),
        |ph AS (
        |  SELECT doc_id, w, st,
        |    sum(st) OVER (PARTITION BY doc_id ORDER BY i) AS pid
        |  FROM mk),
        |nw AS (SELECT doc_id, pid, w FROM ph WHERE st = 0),
        |pl AS (SELECT doc_id, pid, CAST(count(*) AS BIGINT) AS plen
        |       FROM nw GROUP BY 1, 2)
        |SELECT w, CAST(count(*) AS BIGINT) AS freq,
        |  CAST(sum(plen) AS BIGINT) AS deg,
        |  CAST(sum(plen) * 1000000 // count(*) AS BIGINT) AS score_ppm
        |FROM nw JOIN pl USING (doc_id, pid)
        |GROUP BY 1 HAVING count(*) >= 5""".stripMargin,

    // word co-occurrence edges + the q69 unrolled 5-round integer
    // PageRank, scores joined back to word strings
    "q334_textrank" -> {
      def round(k: Int): String =
        s"""pr$k AS MATERIALIZED (
           |  SELECT n.node,
           |    CAST((SELECT base FROM params)
           |      + (85 * COALESCE(m.s, 0)) // 100 AS BIGINT) AS score
           |  FROM nodes n LEFT JOIN (
           |    SELECT e.dst AS node, SUM(p.score // d.deg) AS s
           |    FROM pr${k - 1} p JOIN deg d ON p.node = d.node
           |    JOIN edges e ON e.src = p.node
           |    GROUP BY e.dst) m ON n.node = m.node)""".stripMargin
      """WITH t AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
        |  FROM documents),
        |tok AS (
        |  SELECT doc_id, i, ts[i] AS w
        |  FROM (SELECT doc_id, ts,
        |          unnest(generate_series(1, len(ts))) AS i FROM t)
        |  WHERE ts[i] NOT IN ('the','a','an','of','to','and','in','is',
        |    'it','that')),
        |sh AS (
        |  SELECT doc_id, i + 1 AS i, w AS w2 FROM tok
        |  UNION ALL SELECT doc_id, i + 2, w FROM tok),
        |pw AS (
        |  SELECT DISTINCT
        |    CAST('0x' || substr(md5(a.w), 1, 15) AS BIGINT) AS src,
        |    CAST('0x' || substr(md5(b.w2), 1, 15) AS BIGINT) AS dst
        |  FROM tok a JOIN sh b ON a.doc_id = b.doc_id AND a.i = b.i
        |  WHERE a.w <> b.w2),
        |edges AS MATERIALIZED (
        |  SELECT DISTINCT src, dst
        |  FROM (SELECT src, dst FROM pw UNION ALL SELECT dst, src FROM pw)),
        |deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
        |        FROM edges GROUP BY 1),
        |nodes AS (SELECT src AS node FROM edges
        |          UNION SELECT dst FROM edges),
        |params AS (SELECT CAST(1000000000000 // count(*) AS BIGINT) AS init,
        |  CAST((15 * (1000000000000 // count(*))) // 100 AS BIGINT) AS base
        |  FROM nodes),
        |pr0 AS (SELECT node, (SELECT init FROM params) AS score FROM nodes),
        |""".stripMargin +
        (1 to 5).map(round).mkString(",\n") +
        """,
          |vocab AS (
          |  SELECT DISTINCT w,
          |    CAST('0x' || substr(md5(w), 1, 15) AS BIGINT) AS node
          |  FROM tok)
          |SELECT v.w, p.score FROM pr5 p JOIN vocab v ON p.node = v.node"""
          .stripMargin
    },

    "q335_map_eval" ->
      """WITH cn AS (
        |  SELECT c_custkey AS ck, CAST(c_nationkey AS BIGINT) AS nk
        |  FROM customer),
        |ol AS (
        |  SELECT ck, nk, l_partkey AS pk, CAST(o_orderdate AS DATE) AS d
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  JOIN cn ON o_custkey = ck),
        |recs AS (
        |  SELECT nk, pk, pos FROM (
        |    SELECT nk, pk,
        |      CAST(row_number() OVER (PARTITION BY nk
        |        ORDER BY count(*) DESC, pk) AS BIGINT) AS pos
        |    FROM ol WHERE d < DATE '1997-01-01' GROUP BY nk, pk)
        |  WHERE pos <= 10),
        |rel AS (
        |  SELECT DISTINCT ck, nk, pk FROM ol WHERE d >= DATE '1997-01-01'),
        |nrel AS (
        |  SELECT ck, nk, CAST(count(*) AS BIGINT) AS n_rel
        |  FROM rel GROUP BY 1, 2),
        |hits AS (
        |  SELECT ck, CAST(sum(term) AS BIGINT) AS tsum FROM (
        |    SELECT r.ck,
        |      CAST(row_number() OVER (PARTITION BY r.ck ORDER BY t.pos)
        |        AS BIGINT) * 1000000 // t.pos AS term
        |    FROM rel r JOIN recs t ON r.nk = t.nk AND r.pk = t.pk)
        |  GROUP BY 1),
        |pc AS (
        |  SELECT n.nk,
        |    COALESCE(h.tsum, 0) // least(10, n.n_rel) AS ap_micro
        |  FROM nrel n LEFT JOIN hits h ON n.ck = h.ck)
        |SELECT nk, CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(sum(ap_micro) AS BIGINT) AS ap_sum,
        |  CAST(sum(ap_micro) // count(*) AS BIGINT) AS map_micro
        |FROM pc GROUP BY 1""".stripMargin,

    "q336_quantile_normalize" ->
      """WITH src AS (
        |  SELECT s_suppkey,
        |    CAST(CAST(s_acctbal AS DECIMAL(30,2)) * 100 AS BIGINT) AS x_orig,
        |    CAST(row_number() OVER (ORDER BY
        |      CAST(CAST(s_acctbal AS DECIMAL(30,2)) * 100 AS BIGINT),
        |      s_suppkey) AS BIGINT) AS r
        |  FROM supplier),
        |ref AS (
        |  SELECT
        |    CAST(CAST(c_acctbal AS DECIMAL(30,2)) * 100 AS BIGINT)
        |      AS x_mapped,
        |    CAST(row_number() OVER (ORDER BY
        |      CAST(CAST(c_acctbal AS DECIMAL(30,2)) * 100 AS BIGINT),
        |      c_custkey) AS BIGINT) AS idx
        |  FROM customer),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM src),
        |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM ref)
        |SELECT s.s_suppkey, s.x_orig, f.x_mapped
        |FROM src s CROSS JOIN nn CROSS JOIN mm
        |JOIN ref f ON f.idx = (s.r * mm.m + nn.n - 1) // nn.n"""
        .stripMargin,

    "q337_haar_wavelet" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS d,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(30,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS c
        |  FROM orders GROUP BY 1),
        |r AS (
        |  SELECT d, c,
        |    CAST(row_number() OVER (ORDER BY d) AS BIGINT) - 1 AS rn0
        |  FROM daily),
        |b AS (
        |  SELECT d, c, rn0 // 8 AS blk, rn0 % 8 AS pos,
        |    count(*) OVER (PARTITION BY rn0 // 8) AS nb
        |  FROM r)
        |SELECT blk, min(d) AS d_start,
        |  CAST(sum(c) AS BIGINT) AS a3,
        |  CAST(sum(CASE WHEN pos < 4 THEN c ELSE -c END) AS BIGINT) AS d3,
        |  CAST(sum(CASE WHEN pos < 2 THEN c WHEN pos < 4 THEN -c
        |    ELSE 0 END) AS BIGINT) AS d2_0,
        |  CAST(sum(CASE WHEN pos >= 6 THEN -c WHEN pos >= 4 THEN c
        |    ELSE 0 END) AS BIGINT) AS d2_1,
        |  CAST(sum(CASE WHEN pos = 0 THEN c WHEN pos = 1 THEN -c
        |    ELSE 0 END) AS BIGINT) AS d1_0,
        |  CAST(sum(CASE WHEN pos = 2 THEN c WHEN pos = 3 THEN -c
        |    ELSE 0 END) AS BIGINT) AS d1_1,
        |  CAST(sum(CASE WHEN pos = 4 THEN c WHEN pos = 5 THEN -c
        |    ELSE 0 END) AS BIGINT) AS d1_2,
        |  CAST(sum(CASE WHEN pos = 6 THEN c WHEN pos = 7 THEN -c
        |    ELSE 0 END) AS BIGINT) AS d1_3
        |FROM b WHERE nb = 8 GROUP BY 1""".stripMargin,

    "q339_js_divergence" ->
      """WITH toks AS (
        |  SELECT source, unnest(regexp_extract_all(lower(text),
        |    '[a-z0-9]+')) AS token
        |  FROM documents),
        |bysrc AS (
        |  SELECT source, token, CAST(count(*) AS BIGINT) AS c1
        |  FROM toks GROUP BY 1, 2),
        |gl AS (SELECT token, CAST(count(*) AS BIGINT) AS g
        |         FROM toks GROUP BY 1),
        |tot AS (SELECT CAST(sum(g) AS BIGINT) AS n_all,
        |               CAST(count(*) AS BIGINT) AS v FROM gl),
        |np AS (SELECT source, CAST(count(*) AS BIGINT) AS np
        |       FROM toks GROUP BY 1),
        |grid AS (
        |  SELECT s.source, g.token, COALESCE(b.c1, 0) AS c1,
        |    g.g - COALESCE(b.c1, 0) AS c2, np.np, tot.n_all, tot.v
        |  FROM (SELECT DISTINCT source FROM toks) s
        |  CROSS JOIN gl g
        |  LEFT JOIN bysrc b ON b.source = s.source AND b.token = g.token
        |  JOIN np ON np.source = s.source
        |  CROSS JOIN tot),
        |terms AS (
        |  SELECT source, np,
        |    CAST(floor(1e6 * 0.5 * (p * ln(2.0 * p / (p + q))
        |      + q * ln(2.0 * q / (p + q)))) AS BIGINT) AS term_micro
        |  FROM (
        |    SELECT source, np,
        |      CAST(c1 + 1 AS DOUBLE) / CAST(np + v AS DOUBLE) AS p,
        |      CAST(c2 + 1 AS DOUBLE) / CAST(n_all - np + v AS DOUBLE) AS q
        |    FROM grid))
        |SELECT source, CAST(max(np) AS BIGINT) AS n_src_tok,
        |  CAST(sum(term_micro) AS BIGINT) AS jsd_micro
        |FROM terms GROUP BY 1""".stripMargin,

    "q340_brown_forsythe" ->
      """WITH t AS (
        |  SELECT l_returnflag AS grp,
        |    CAST(CAST(l_extendedprice AS DECIMAL(30,2)) * 100 AS BIGINT) AS x
        |  FROM lineitem),
        |med AS (
        |  SELECT grp, CAST(quantile_cont(x, 0.5) * 2 AS BIGINT) AS m2
        |  FROM t GROUP BY 1),
        |z AS (
        |  SELECT t.grp, abs(t.x * 2 - med.m2) AS z2
        |  FROM t JOIN med ON t.grp = med.grp),
        |g AS (
        |  SELECT grp, CAST(count(*) AS BIGINT) AS n_g,
        |    CAST(sum(z2) AS BIGINT) AS s_g,
        |    sum(CAST(z2 AS HUGEINT) * z2) AS q_g
        |  FROM z GROUP BY 1),
        |gt AS (SELECT *, (CAST(s_g AS HUGEINT) * s_g) // n_g AS term FROM g),
        |a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n_g) AS BIGINT) AS n,
        |    CAST(sum(s_g) AS HUGEINT) AS s_all, sum(q_g) AS q_all,
        |    sum(term) AS t_all
        |  FROM gt),
        |b AS (SELECT *, (s_all * s_all) // n AS s2n FROM a),
        |c AS (
        |  SELECT k, n,
        |    CAST(CAST(t_all - s2n AS VARCHAR) AS DOUBLE) AS ssb,
        |    CAST(CAST(q_all - t_all AS VARCHAR) AS DOUBLE) AS ssw
        |  FROM b)
        |SELECT k, n, ssb, ssw,
        |  CASE WHEN k > 1 AND n > k AND ssw > 0
        |       THEN (ssb / CAST(k - 1 AS DOUBLE)) /
        |            (ssw / CAST(n - k AS DOUBLE)) END AS w_stat
        |FROM c""".stripMargin,

    "q341_pacf" ->
      """WITH daily AS (
        |  SELECT CAST(date_diff('day', DATE '2024-01-01',
        |    CAST(ts AS DATE)) AS BIGINT) AS t,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1),
        |p AS (
        |  SELECT l.lag, a.n AS n, b.n AS n2
        |  FROM daily a
        |  CROSS JOIN (SELECT unnest([1, 2, 3]) AS lag) l
        |  JOIN daily b ON b.t = a.t + l.lag),
        |agg AS (
        |  SELECT lag, CAST(count(*) AS BIGINT) AS np,
        |    CAST(sum(n) AS BIGINT) AS sx, CAST(sum(n2) AS BIGINT) AS sy,
        |    CAST(sum(CAST(n AS HUGEINT) * n2) AS DOUBLE) AS sxy,
        |    CAST(sum(CAST(n AS HUGEINT) * n) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(n2 AS HUGEINT) * n2) AS DOUBLE) AS syy
        |  FROM p GROUP BY 1),
        |rr AS (
        |  SELECT lag,
        |    (CAST(np AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / sqrt((CAST(np AS DOUBLE) * sxx
        |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |      * (CAST(np AS DOUBLE) * syy
        |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS r
        |  FROM agg),
        |pv AS (
        |  SELECT max(CASE WHEN lag = 1 THEN r END) AS r1,
        |    max(CASE WHEN lag = 2 THEN r END) AS r2,
        |    max(CASE WHEN lag = 3 THEN r END) AS r3
        |  FROM rr),
        |d2 AS (
        |  SELECT r1, r2, r3, r1 AS pacf1,
        |    (r2 - r1 * r1) / (1.0 - r1 * r1) AS pacf2
        |  FROM pv),
        |d3 AS (
        |  SELECT *, r1 * (1.0 - pacf2) AS phi21 FROM d2)
        |SELECT r1, r2, r3, pacf1, pacf2,
        |  (r3 - phi21 * r2 - pacf2 * r1)
        |    / (1.0 - phi21 * r1 - pacf2 * r2) AS pacf3
        |FROM d3""".stripMargin,

    "q342_friedman" ->
      """WITH cells AS (
        |  SELECT CAST(c_nationkey AS BIGINT) AS nk, c_mktsegment AS seg,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(30,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS x
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |grid AS (
        |  SELECT n.nk, s.seg, COALESCE(c.x, 0) AS x
        |  FROM (SELECT DISTINCT nk FROM cells) n
        |  CROSS JOIN (SELECT DISTINCT seg FROM cells) s
        |  LEFT JOIN cells c ON c.nk = n.nk AND c.seg = s.seg),
        |r AS (
        |  SELECT nk, seg,
        |    2 * CAST(rank() OVER (PARTITION BY nk ORDER BY x) AS BIGINT)
        |      + CAST(count(*) OVER (PARTITION BY nk, x) AS BIGINT) - 1 AS r2
        |  FROM grid),
        |bt AS (
        |  SELECT seg, CAST(sum(r2) AS BIGINT) AS r2_j FROM r GROUP BY 1),
        |nb AS (SELECT CAST(count(DISTINCT nk) AS BIGINT) AS n FROM grid),
        |a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k,
        |    sum(CAST(r2_j AS HUGEINT) * r2_j) AS sq
        |  FROM bt)
        |SELECT nb.n, a.k,
        |  3.0 * CAST(CAST(a.sq AS VARCHAR) AS DOUBLE)
        |    / (CAST(nb.n AS DOUBLE) * CAST(a.k AS DOUBLE)
        |       * (CAST(a.k AS DOUBLE) + 1.0))
        |  - 3.0 * CAST(nb.n AS DOUBLE) * (CAST(a.k AS DOUBLE) + 1.0)
        |    AS q_stat
        |FROM a CROSS JOIN nb""".stripMargin,

    // q342's grid and doubled midranks with the alphabetical position
    // weights and the integer null-moment algebra
    "q480_page_trend" ->
      """WITH cells AS (
        |  SELECT CAST(c_nationkey AS BIGINT) AS nk, c_mktsegment AS seg,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(30,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS x
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |grid AS (
        |  SELECT n.nk, s.seg, COALESCE(c.x, 0) AS x
        |  FROM (SELECT DISTINCT nk FROM cells) n
        |  CROSS JOIN (SELECT DISTINCT seg FROM cells) s
        |  LEFT JOIN cells c ON c.nk = n.nk AND c.seg = s.seg),
        |jm AS (
        |  SELECT seg, CAST(row_number() OVER (ORDER BY seg) AS BIGINT) AS j
        |  FROM (SELECT DISTINCT seg FROM cells)),
        |r AS (
        |  SELECT nk, seg,
        |    2 * CAST(rank() OVER (PARTITION BY nk ORDER BY x) AS BIGINT)
        |      + CAST(count(*) OVER (PARTITION BY nk, x) AS BIGINT) - 1 AS r2
        |  FROM grid),
        |l AS (
        |  SELECT CAST(sum(jm.j * r.r2) AS BIGINT) AS l2
        |  FROM r JOIN jm ON r.seg = jm.seg),
        |d AS (
        |  SELECT CAST(count(DISTINCT nk) AS BIGINT) AS b,
        |    CAST(count(DISTINCT seg) AS BIGINT) AS k
        |  FROM grid),
        |m AS (
        |  SELECT l.l2, d.b, d.k,
        |    CAST(d.b * d.k * (d.k + 1) * (d.k + 1) // 2 AS BIGINT) AS e2,
        |    CAST(d.b * d.k * d.k * (d.k + 1) * (d.k * d.k - 1) // 36
        |      AS BIGINT) AS var4
        |  FROM l CROSS JOIN d)
        |SELECT b, k, l2, e2, var4,
        |  CAST((l2 - e2) * (l2 - e2) * 1000000 // greatest(var4, 1)
        |    AS BIGINT) AS z2_micro,
        |  ((l2 - e2) * (l2 - e2) * 1000000 // greatest(var4, 1)) > 3841600
        |    AS trend
        |FROM m""".stripMargin,


    "q343_theil_sen" ->
      """WITH rev AS (
        |  SELECT o_custkey,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(30,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS y
        |  FROM orders GROUP BY 1),
        |base AS (
        |  SELECT CAST(c_nationkey AS BIGINT) AS nk, c_custkey AS ck,
        |    CAST(CAST(c_acctbal AS DECIMAL(30,2)) * 100 AS BIGINT) AS x,
        |    COALESCE(y, 0) AS y
        |  FROM customer LEFT JOIN rev ON c_custkey = o_custkey),
        |capped AS (
        |  SELECT nk, ck, x, y FROM (
        |    SELECT nk, ck, x, y,
        |      row_number() OVER (PARTITION BY nk
        |        ORDER BY md5(CAST(ck AS VARCHAR)), ck) AS hr
        |    FROM base)
        |  WHERE hr <= 256),
        |slopes AS (
        |  SELECT a.nk, a.ck AS k1, b.ck AS k2,
        |    CAST(b.y - a.y AS DOUBLE) / CAST(b.x - a.x AS DOUBLE) AS slope
        |  FROM capped a JOIN capped b
        |    ON a.nk = b.nk AND a.ck < b.ck AND a.x <> b.x),
        |w AS (
        |  SELECT nk, slope,
        |    CAST(row_number() OVER (PARTITION BY nk
        |      ORDER BY slope, k1, k2) AS BIGINT) AS rn,
        |    CAST(count(*) OVER (PARTITION BY nk) AS BIGINT) AS m
        |  FROM slopes)
        |SELECT nk, m AS n_slopes, slope AS ts_slope
        |FROM w WHERE rn = (m + 1) // 2""".stripMargin,

    "q344_wilcoxon" ->
      """WITH o AS (
        |  SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
        |    CAST(CAST(o_totalprice AS DECIMAL(30,2)) * 100 AS BIGINT) AS c
        |  FROM orders),
        |pre AS (SELECT o_custkey AS ck1, CAST(sum(c) AS BIGINT) AS pre
        |        FROM o WHERE d < DATE '1997-01-01' GROUP BY 1),
        |post AS (SELECT o_custkey AS ck2, CAST(sum(c) AS BIGINT) AS post
        |         FROM o WHERE d >= DATE '1997-01-01' GROUP BY 1),
        |diffs AS (
        |  SELECT COALESCE(post, 0) - COALESCE(pre, 0) AS dd,
        |    abs(COALESCE(post, 0) - COALESCE(pre, 0)) AS ad
        |  FROM pre FULL OUTER JOIN post ON ck1 = ck2
        |  WHERE COALESCE(post, 0) - COALESCE(pre, 0) <> 0),
        |r AS (
        |  SELECT dd,
        |    2 * CAST(rank() OVER (ORDER BY ad) AS BIGINT)
        |      + CAST(count(*) OVER (PARTITION BY ad) AS BIGINT) - 1 AS r2
        |  FROM diffs),
        |a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN dd > 0 THEN r2 ELSE 0 END) AS BIGINT)
        |      AS w2_plus,
        |    CAST(sum(CASE WHEN dd < 0 THEN r2 ELSE 0 END) AS BIGINT)
        |      AS w2_minus
        |  FROM r)
        |SELECT n, w2_plus, w2_minus,
        |  (CAST(w2_plus AS DOUBLE) / 2.0
        |    - CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0) / 4.0)
        |  / sqrt(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)
        |      * (2.0 * CAST(n AS DOUBLE) + 1.0) / 24.0) AS z
        |FROM a""".stripMargin,

    "q345_gumbel_maxima" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS d,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(30,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS c
        |  FROM orders GROUP BY 1),
        |mx AS (
        |  SELECT date_trunc('month', d) AS month,
        |    CAST(max(c) AS BIGINT) AS mx
        |  FROM daily GROUP BY 1),
        |a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(mx) AS BIGINT) AS s,
        |    sum(CAST(mx AS HUGEINT) * mx) AS q
        |  FROM mx),
        |b AS (
        |  SELECT n,
        |    CAST(CAST(s AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE) AS mean_c,
        |    sqrt(CAST(CAST(CAST(n AS HUGEINT) * q - CAST(s AS HUGEINT) * s
        |        AS VARCHAR) AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) AS sd_c
        |  FROM a),
        |c AS (
        |  SELECT n, mean_c, sd_c,
        |    sd_c * sqrt(6.0) / 3.141592653589793 AS beta
        |  FROM b),
        |d AS (
        |  SELECT *, mean_c - 0.5772156649015329 * beta AS mu FROM c)
        |SELECT n, mean_c, sd_c, beta, mu,
        |  mu - beta * ln(-ln(1.0 - 1.0 / 12.0)) AS rl12
        |FROM d""".stripMargin,

    "q346_hurst_rs" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS d,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(30,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS c
        |  FROM orders GROUP BY 1),
        |r AS (
        |  SELECT d, c,
        |    CAST(row_number() OVER (ORDER BY d) AS BIGINT) - 1 AS rn0
        |  FROM daily),
        |b AS (
        |  SELECT d, c, rn0 // 16 AS blk, rn0 % 16 AS pos,
        |    count(*) OVER (PARTITION BY rn0 // 16) AS nb
        |  FROM r),
        |f AS (SELECT d, c, blk, pos FROM b WHERE nb = 16),
        |z AS (
        |  SELECT blk, d, pos,
        |    c * 16 - sum(c) OVER (PARTITION BY blk) AS dev,
        |    sum(c * 16) OVER (PARTITION BY blk ORDER BY pos)
        |      - pos_sum AS zc_raw
        |  FROM (SELECT *,
        |          (pos + 1) * sum(c) OVER (PARTITION BY blk) AS pos_sum
        |        FROM f)),
        |g AS (
        |  SELECT blk, min(d) AS d_start,
        |    CAST(max(zc_raw) - min(least(zc_raw, 0)) AS BIGINT) AS r16,
        |    sum(CAST(dev AS HUGEINT) * dev) AS q_dev
        |  FROM z GROUP BY 1),
        |h AS (
        |  SELECT blk, d_start, r16,
        |    sqrt(CAST(CAST(q_dev AS VARCHAR) AS DOUBLE) / 16.0) / 16.0
        |      AS s_dev
        |  FROM g),
        |i AS (
        |  SELECT blk, d_start, r16,
        |    CASE WHEN s_dev > 0
        |         THEN CAST(r16 AS DOUBLE) / 16.0 / s_dev END AS rs
        |  FROM h)
        |SELECT blk, d_start, r16, rs,
        |  CAST(floor(1e6 * ln(rs) / ln(8.0)) AS BIGINT) AS h_micro
        |FROM i""".stripMargin,

    "q347_brier_score" ->
      """WITH nord AS (
        |  SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_ord
        |  FROM orders GROUP BY 1),
        |base AS (
        |  SELECT c_custkey,
        |    CAST(CAST(c_acctbal AS DECIMAL(30,2)) * 100 AS BIGINT) AS x,
        |    CASE WHEN COALESCE(n_ord, 0) >= 2 THEN 1 ELSE 0 END AS label
        |  FROM customer LEFT JOIN nord ON c_custkey = o_custkey),
        |r AS (
        |  SELECT label,
        |    (CAST(row_number() OVER (ORDER BY x, c_custkey) AS BIGINT) - 1)
        |      * 1000000 // (count(*) OVER () - 1) AS conf_ppm
        |  FROM base),
        |e AS (SELECT conf_ppm - label * 1000000 AS e FROM r),
        |a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(e AS HUGEINT) * e) AS sse
        |  FROM e)
        |SELECT n, CAST(CAST(sse AS VARCHAR) AS DOUBLE) AS sse_d,
        |  CAST(sse // (CAST(n AS HUGEINT) * 1000000) AS BIGINT)
        |    AS brier_micro
        |FROM a""".stripMargin,

    "q348_smd_balance" ->
      """WITH rev AS (
        |  SELECT o_custkey, CAST(count(*) AS BIGINT) AS no,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(30,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS rv
        |  FROM orders GROUP BY 1),
        |base AS (
        |  SELECT c_custkey % 2 AS v,
        |    CAST(CAST(c_acctbal AS DECIMAL(30,2)) * 100 AS BIGINT) AS bal,
        |    COALESCE(no, 0) AS no, COALESCE(rv, 0) AS rv
        |  FROM customer LEFT JOIN rev ON c_custkey = o_custkey),
        |melted AS (
        |  SELECT v, 'acctbal_cents' AS covariate, bal AS x FROM base
        |  UNION ALL SELECT v, 'n_orders', no FROM base
        |  UNION ALL SELECT v, 'revenue_cents', rv FROM base),
        |g AS (
        |  SELECT covariate, v, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS s, sum(CAST(x AS HUGEINT) * x) AS q
        |  FROM melted GROUP BY 1, 2),
        |st AS (
        |  SELECT covariate, v, n,
        |    CAST(CAST(s AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE) AS m,
        |    CAST(CAST(CAST(n AS HUGEINT) * q - CAST(s AS HUGEINT) * s
        |        AS VARCHAR) AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) AS var
        |  FROM g)
        |SELECT a.covariate, a.n AS n0, b.n AS n1, a.m AS m0, b.m AS m1,
        |  (b.m - a.m) / sqrt((b.var + a.var) / 2.0) AS smd
        |FROM st a JOIN st b ON a.covariate = b.covariate
        |WHERE a.v = 0 AND b.v = 1""".stripMargin,

    "q349_mde" ->
      """WITH base AS (
        |  SELECT event_type, user_id % 2 AS v,
        |    CAST(CAST(value AS DECIMAL(30,2)) * 100 AS BIGINT) AS x
        |  FROM events),
        |g AS (
        |  SELECT event_type, v, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS s, sum(CAST(x AS HUGEINT) * x) AS q
        |  FROM base GROUP BY 1, 2),
        |st AS (
        |  SELECT event_type, v, n,
        |    CAST(CAST(s AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE) AS m,
        |    CAST(CAST(CAST(n AS HUGEINT) * q - CAST(s AS HUGEINT) * s
        |        AS VARCHAR) AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) AS var
        |  FROM g),
        |j AS (
        |  SELECT a.event_type, a.n AS n0, b.n AS n1, a.m AS m0,
        |    2.8015852181129683 * sqrt(a.var / CAST(a.n AS DOUBLE)
        |      + b.var / CAST(b.n AS DOUBLE)) AS mde_abs
        |  FROM st a JOIN st b ON a.event_type = b.event_type
        |  WHERE a.v = 0 AND b.v = 1)
        |SELECT event_type, n0, n1, mde_abs,
        |  CAST(floor(1e6 * mde_abs / m0) AS BIGINT) AS mde_rel_micro
        |FROM j""".stripMargin,

    "q350_rolling_beta" ->
      """WITH gb AS (
        |  SELECT CAST(o_orderdate AS DATE) AS d,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(30,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS x
        |  FROM orders GROUP BY 1),
        |eur AS (
        |  SELECT CAST(o_orderdate AS DATE) AS d,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(30,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS y
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'EUROPE' GROUP BY 1),
        |series AS (
        |  SELECT g.d, g.x, COALESCE(e.y, 0) AS y
        |  FROM gb g LEFT JOIN eur e ON g.d = e.d),
        |w AS (
        |  SELECT d, x, y,
        |    row_number() OVER (ORDER BY d) AS rn,
        |    CAST(sum(x) OVER win AS HUGEINT) AS sx,
        |    CAST(sum(y) OVER win AS HUGEINT) AS sy,
        |    sum(CAST(x AS HUGEINT) * y) OVER win AS sxy,
        |    sum(CAST(x AS HUGEINT) * x) OVER win AS sxx
        |  FROM series
        |  WINDOW win AS (ORDER BY d ROWS BETWEEN 15 PRECEDING
        |    AND CURRENT ROW)),
        |f AS (
        |  SELECT d, x, y,
        |    CAST(CAST(16 * sxy - sx * sy AS VARCHAR) AS DOUBLE) AS num,
        |    CAST(CAST(16 * sxx - sx * sx AS VARCHAR) AS DOUBLE) AS den
        |  FROM w WHERE rn >= 16)
        |SELECT d, x, y,
        |  CASE WHEN den > 0 THEN num / den END AS beta
        |FROM f""".stripMargin,

    "q351_price_index" ->
      """WITH li AS (
        |  SELECT l_partkey, year(l_shipdate) AS yr,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q,
        |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(30,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS r
        |  FROM lineitem WHERE year(l_shipdate) IN (1996, 1997)
        |  GROUP BY 1, 2),
        |pq AS (SELECT l_partkey, yr, q, r * 1000000 // q AS p_micro FROM li),
        |y0 AS (SELECT l_partkey, q AS q0, p_micro AS p0
        |       FROM pq WHERE yr = 1996),
        |y1 AS (SELECT l_partkey, q AS q1, p_micro AS p1
        |       FROM pq WHERE yr = 1997),
        |a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_parts,
        |    sum(CAST(p1 AS HUGEINT) * q0) AS l_num,
        |    sum(CAST(p0 AS HUGEINT) * q0) AS l_den,
        |    sum(CAST(p1 AS HUGEINT) * q1) AS p_num,
        |    sum(CAST(p0 AS HUGEINT) * q1) AS p_den
        |  FROM y0 JOIN y1 USING (l_partkey)),
        |b AS (
        |  SELECT n_parts,
        |    CAST((l_num * 1000000) // l_den AS BIGINT) AS l_ppm,
        |    CAST((p_num * 1000000) // p_den AS BIGINT) AS p_ppm
        |  FROM a)
        |SELECT n_parts, l_ppm, p_ppm,
        |  sqrt(CAST(l_ppm AS DOUBLE) * CAST(p_ppm AS DOUBLE)) / 1000000.0
        |    AS fisher
        |FROM b""".stripMargin,

    "q352_knee_point" ->
      """WITH curve AS (
        |  SELECT
        |    CAST(row_number() OVER (ORDER BY rev DESC, l_partkey)
        |      AS BIGINT) AS i,
        |    CAST(sum(rev) OVER (ORDER BY rev DESC, l_partkey
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM (
        |    SELECT l_partkey,
        |      CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(30,2)) * 100
        |        AS BIGINT)) AS BIGINT) AS rev
        |    FROM lineitem GROUP BY 1)),
        |ends AS (
        |  SELECT max(i) AS nn, max(CASE WHEN i = 1 THEN cum END) AS c1,
        |    max(cum) AS cn
        |  FROM curve),
        |x AS (
        |  SELECT i, cum, nn, cn,
        |    CAST(nn - 1 AS HUGEINT) * (cum - c1)
        |      - CAST(cn - c1 AS HUGEINT) * (i - 1) AS cr
        |  FROM curve CROSS JOIN ends),
        |k AS (
        |  SELECT *, row_number() OVER (ORDER BY cr DESC, i) AS rk FROM x)
        |SELECT i AS knee_i, nn AS n_parts, cum AS cum_at_knee,
        |  CAST(cum * 1000000 // cn AS BIGINT) AS share_ppm,
        |  CAST(CAST(cr AS VARCHAR) AS DOUBLE) AS cross_d
        |FROM k WHERE rk = 1""".stripMargin,

    "q354_motif_vshape" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS d,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(30,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS c
        |  FROM orders GROUP BY 1),
        |l AS (
        |  SELECT d, c,
        |    lag(c, 1) OVER (ORDER BY d) AS c1,
        |    lag(c, 2) OVER (ORDER BY d) AS c2,
        |    lag(c, 3) OVER (ORDER BY d) AS c3,
        |    lag(c, 4) OVER (ORDER BY d) AS c4
        |  FROM daily),
        |m AS (
        |  SELECT d, 'V' AS motif, c, c1, c2, c3, c4 FROM l
        |  WHERE c4 IS NOT NULL AND c3 < c4 AND c2 < c3
        |    AND c1 > c2 AND c > c1
        |  UNION ALL
        |  SELECT d, 'A', c, c1, c2, c3, c4 FROM l
        |  WHERE c4 IS NOT NULL AND c3 > c4 AND c2 > c3
        |    AND c1 < c2 AND c < c1)
        |SELECT d, motif,
        |  CAST(greatest(c, c1, c2, c3, c4) - least(c, c1, c2, c3, c4)
        |    AS BIGINT) AS amplitude_cents
        |FROM m""".stripMargin,

    "q355_nearest_value_join" ->
      """WITH u AS (
        |  SELECT CAST(CAST(c_acctbal AS DECIMAL(30,2)) * 100 AS BIGINT)
        |    AS v, c_custkey AS k, 'c' AS tag FROM customer
        |  UNION ALL
        |  SELECT CAST(CAST(s_acctbal AS DECIMAL(30,2)) * 100 AS BIGINT),
        |    s_suppkey, 's' FROM supplier),
        |w AS (
        |  SELECT v, k, tag,
        |    last_value(CASE WHEN tag = 'c' THEN v END IGNORE NULLS)
        |      OVER pw AS pcv,
        |    last_value(CASE WHEN tag = 'c' THEN k END IGNORE NULLS)
        |      OVER pw AS pck,
        |    first_value(CASE WHEN tag = 'c' THEN v END IGNORE NULLS)
        |      OVER nw AS ncv,
        |    first_value(CASE WHEN tag = 'c' THEN k END IGNORE NULLS)
        |      OVER nw AS nck
        |  FROM u
        |  WINDOW pw AS (ORDER BY v, tag, k
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |  nw AS (ORDER BY v, tag, k
        |    ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)),
        |s AS (
        |  SELECT *,
        |    (ncv IS NULL OR (pcv IS NOT NULL AND v - pcv <= ncv - v))
        |      AS use_prev
        |  FROM w WHERE tag = 's')
        |SELECT k AS s_suppkey, v AS s_val,
        |  CASE WHEN use_prev THEN pck ELSE nck END AS nearest_ck,
        |  CASE WHEN use_prev THEN pcv ELSE ncv END AS nearest_val,
        |  CASE WHEN use_prev THEN v - pcv ELSE ncv - v END AS dist
        |FROM s""".stripMargin,

    "q356_naive_bayes" ->
      """WITH docs AS (
        |  SELECT doc_id, lang,
        |    regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
        |  FROM documents),
        |toktr AS (
        |  SELECT lang, unnest(ts) AS w FROM docs WHERE doc_id % 2 = 0),
        |clw AS (SELECT lang, w, CAST(count(*) AS BIGINT) AS c1
        |        FROM toktr GROUP BY 1, 2),
        |nl AS (SELECT lang, CAST(count(*) AS BIGINT) AS nl
        |       FROM toktr GROUP BY 1),
        |vocab AS (SELECT DISTINCT w FROM toktr),
        |vc AS (SELECT CAST(count(*) AS BIGINT) AS v FROM vocab),
        |priors AS (
        |  SELECT lang AS cand,
        |    CAST(floor(1e6 * ln(CAST(count(*) AS DOUBLE) /
        |      (SELECT CAST(count(*) AS DOUBLE) FROM docs
        |       WHERE doc_id % 2 = 0))) AS BIGINT) AS prior_micro
        |  FROM docs WHERE doc_id % 2 = 0 GROUP BY 1),
        |grid AS MATERIALIZED (
        |  SELECT nl.lang AS cand, vb.w,
        |    CAST(floor(1e6 * ln(CAST(COALESCE(c.c1, 0) + 1 AS DOUBLE) /
        |      CAST(nl.nl + vc.v AS DOUBLE))) AS BIGINT) AS term_micro
        |  FROM nl CROSS JOIN vocab vb
        |  LEFT JOIN clw c ON c.lang = nl.lang AND c.w = vb.w
        |  CROSS JOIN vc),
        |testtok AS (
        |  SELECT doc_id, lang AS actual, unnest(ts) AS w
        |  FROM docs WHERE doc_id % 2 = 1),
        |sc AS (
        |  SELECT t.doc_id, t.actual, g.cand,
        |    CAST(sum(g.term_micro) AS BIGINT) + max(p.prior_micro) AS score
        |  FROM testtok t JOIN grid g ON t.w = g.w
        |  JOIN priors p ON p.cand = g.cand
        |  GROUP BY 1, 2, 3),
        |pred AS (
        |  SELECT actual, cand AS pred FROM (
        |    SELECT *, row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, cand) AS rk FROM sc)
        |  WHERE rk = 1)
        |SELECT actual, pred, CAST(count(*) AS BIGINT) AS n
        |FROM pred GROUP BY 1, 2""".stripMargin,

    "q357_woe_iv" ->
      """WITH nord AS (
        |  SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_ord
        |  FROM orders GROUP BY 1),
        |base AS (
        |  SELECT c_custkey,
        |    CAST(CAST(c_acctbal AS DECIMAL(30,2)) * 100 AS BIGINT) AS x,
        |    CASE WHEN COALESCE(n_ord, 0) >= 2 THEN 1 ELSE 0 END AS label
        |  FROM customer LEFT JOIN nord ON c_custkey = o_custkey),
        |r AS (
        |  SELECT label,
        |    least((CAST(row_number() OVER (ORDER BY x, c_custkey)
        |      AS BIGINT) - 1) * 10 // count(*) OVER (), 9) AS bin
        |  FROM base),
        |binned AS (
        |  SELECT bin, CAST(count(*) AS BIGINT) AS n_b,
        |    CAST(sum(label) AS BIGINT) AS g,
        |    CAST(count(*) - sum(label) AS BIGINT) AS b
        |  FROM r GROUP BY 1),
        |tot AS (SELECT CAST(sum(g) AS BIGINT) AS gt,
        |               CAST(sum(b) AS BIGINT) AS bt FROM binned)
        |SELECT bin, n_b, g, b,
        |  CAST((g + 1) * 1000000 // (gt + 10) AS BIGINT) AS gs_micro,
        |  CAST((b + 1) * 1000000 // (bt + 10) AS BIGINT) AS bs_micro,
        |  CAST(floor(1e6 * ln(CAST((g + 1) * (bt + 10) AS DOUBLE) /
        |    CAST((b + 1) * (gt + 10) AS DOUBLE))) AS BIGINT) AS woe_micro,
        |  CAST(((g + 1) * 1000000 // (gt + 10)
        |      - (b + 1) * 1000000 // (bt + 10))
        |    * floor(1e6 * ln(CAST((g + 1) * (bt + 10) AS DOUBLE) /
        |        CAST((b + 1) * (gt + 10) AS DOUBLE))) AS BIGINT)
        |    AS iv_term_pico
        |FROM binned CROSS JOIN tot""".stripMargin,

    "q358_calendarize" ->
      """WITH li AS (
        |  SELECT CAST(CAST(l_extendedprice AS DECIMAL(30,2)) * 100
        |      AS BIGINT) AS v,
        |    CAST(o_orderdate AS DATE) AS od,
        |    date_diff('day', CAST(o_orderdate AS DATE),
        |      CAST(l_shipdate AS DATE)) AS span
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE date_diff('day', CAST(o_orderdate AS DATE),
        |    CAST(l_shipdate AS DATE)) BETWEEN 0 AND 120),
        |e AS (
        |  SELECT v, od, span + 1 AS days,
        |    unnest(generate_series(0, span)) AS pos
        |  FROM li),
        |s AS (
        |  SELECT od + CAST(pos AS INTEGER) AS day,
        |    v // days + CASE WHEN pos = 0 THEN v % days ELSE 0 END AS slice
        |  FROM e)
        |SELECT date_trunc('month', day) AS month,
        |  CAST(count(*) AS BIGINT) AS n_slices,
        |  CAST(sum(slice) AS BIGINT) AS prorated_cents
        |FROM s GROUP BY 1""".stripMargin,

    "q359_grid_neighbors" ->
      """WITH cust AS (
        |  SELECT c_custkey AS ck,
        |    CAST('0x' || substr(md5('cgx' || c_custkey), 1, 15) AS BIGINT)
        |      % 100 AS cx,
        |    CAST('0x' || substr(md5('cgy' || c_custkey), 1, 15) AS BIGINT)
        |      % 100 AS cy
        |  FROM customer),
        |supp AS (
        |  SELECT s_suppkey AS sk,
        |    CAST('0x' || substr(md5('sgx' || s_suppkey), 1, 15) AS BIGINT)
        |      % 100 AS sx,
        |    CAST('0x' || substr(md5('sgy' || s_suppkey), 1, 15) AS BIGINT)
        |      % 100 AS sy
        |  FROM supplier),
        |se AS (
        |  SELECT sk, sx, sy, sx // 10 + dx.d AS gx, sy // 10 + dy.d AS gy
        |  FROM supp
        |  CROSS JOIN (SELECT unnest([-1, 0, 1]) AS d) dx
        |  CROSS JOIN (SELECT unnest([-1, 0, 1]) AS d) dy),
        |cc AS (SELECT ck, cx, cy, cx // 10 AS gx, cy // 10 AS gy FROM cust)
        |SELECT cc.ck, se.sk, cc.cx, cc.cy, se.sx, se.sy,
        |  CAST((cc.cx - se.sx) * (cc.cx - se.sx)
        |    + (cc.cy - se.sy) * (cc.cy - se.sy) AS BIGINT) AS d2
        |FROM se JOIN cc ON se.gx = cc.gx AND se.gy = cc.gy
        |WHERE (cc.cx - se.sx) * (cc.cx - se.sx)
        |  + (cc.cy - se.sy) * (cc.cy - se.sy) <= 100""".stripMargin,

    "q360_grid_search_calibration" ->
      """WITH nord AS (
        |  SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_ord
        |  FROM orders GROUP BY 1),
        |base AS (
        |  SELECT c_custkey,
        |    CAST(CAST(c_acctbal AS DECIMAL(30,2)) * 100 AS BIGINT) AS x,
        |    CASE WHEN COALESCE(n_ord, 0) >= 2 THEN 1 ELSE 0 END AS label
        |  FROM customer LEFT JOIN nord ON c_custkey = o_custkey),
        |r AS (
        |  SELECT label,
        |    (CAST(row_number() OVER (ORDER BY x, c_custkey) AS BIGINT) - 1)
        |      * 1000000 // (count(*) OVER () - 1) AS conf_ppm
        |  FROM base),
        |grid AS (
        |  SELECT a.a, b.b
        |  FROM (SELECT unnest(generate_series(0, 20)) AS a) a
        |  CROSS JOIN (SELECT unnest(generate_series(-10, 10)) AS b) b),
        |sc AS (
        |  SELECT a, b, CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(e AS HUGEINT) * e) AS sse
        |  FROM (
        |    SELECT g.a, g.b,
        |      greatest(0, least(1000000,
        |        (g.a * r.conf_ppm) // 10 + g.b * 100000))
        |        - r.label * 1000000 AS e
        |    FROM r CROSS JOIN grid g)
        |  GROUP BY 1, 2),
        |k AS (
        |  SELECT *, row_number() OVER (ORDER BY sse, a, b) AS rk FROM sc)
        |SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b, n,
        |  CAST(CAST(sse AS VARCHAR) AS DOUBLE) AS sse_d
        |FROM k WHERE rk = 1""".stripMargin,

    // five unrolled greedy rounds — argmax by (gain desc, pk), then
    // anti-join the picked part's customers out of the residual
    "q361_greedy_cover" -> {
      def round(k: Int): String =
        s"""t$k AS MATERIALIZED (
           |  SELECT pk, CAST(count(*) AS BIGINT) AS gain
           |  FROM pc$k GROUP BY 1 ORDER BY gain DESC, pk LIMIT 1),
           |cov$k AS MATERIALIZED (
           |  SELECT DISTINCT ck FROM pc$k
           |  WHERE pk = (SELECT pk FROM t$k)),
           |pc${k + 1} AS MATERIALIZED (
           |  SELECT p.pk, p.ck FROM pc$k p
           |  WHERE p.ck NOT IN (SELECT ck FROM cov$k))""".stripMargin
      """WITH pc1 AS MATERIALIZED (
        |  SELECT DISTINCT l.l_partkey AS pk, o.o_custkey AS ck
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
        |""".stripMargin +
        (1 to 5).map(round).mkString(",\n") +
        """
          |SELECT CAST(r AS BIGINT) AS round, pk, gain,
          |  CAST(sum(gain) OVER (ORDER BY r) AS BIGINT) AS covered_total
          |FROM (
          |  SELECT 1 AS r, pk, gain FROM t1
          |  UNION ALL SELECT 2, pk, gain FROM t2
          |  UNION ALL SELECT 3, pk, gain FROM t3
          |  UNION ALL SELECT 4, pk, gain FROM t4
          |  UNION ALL SELECT 5, pk, gain FROM t5)""".stripMargin
    },

    "q362_prefix_topk" ->
      """WITH tok AS (
        |  SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM (
        |    SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
        |    FROM documents)
        |  GROUP BY 1),
        |pref AS (
        |  SELECT substr(w, 1, l) AS prefix, w, cnt
        |  FROM (SELECT w, cnt,
        |          unnest(generate_series(1, least(length(w), 4))) AS l
        |        FROM tok)),
        |stats AS (
        |  SELECT prefix, CAST(count(*) AS BIGINT) AS n_completions,
        |    CAST(sum(cnt) AS BIGINT) AS total_cnt
        |  FROM pref GROUP BY 1),
        |top AS (
        |  SELECT prefix, w AS top_token, cnt AS top_cnt FROM (
        |    SELECT *, row_number() OVER (PARTITION BY prefix
        |      ORDER BY cnt DESC, w) AS rk FROM pref)
        |  WHERE rk = 1)
        |SELECT s.prefix, s.n_completions, s.total_cnt, t.top_token,
        |  t.top_cnt
        |FROM stats s JOIN top t ON s.prefix = t.prefix""".stripMargin,

    "q363_median_polish" ->
      """WITH cells AS (
        |  SELECT CAST(c_nationkey AS BIGINT) AS nk, c_mktsegment AS seg,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(30,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS x
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |grid AS (
        |  SELECT n.nk, s.seg, COALESCE(c.x, 0) * 4 AS x4
        |  FROM (SELECT DISTINCT nk FROM cells) n
        |  CROSS JOIN (SELECT DISTINCT seg FROM cells) s
        |  LEFT JOIN cells c ON c.nk = n.nk AND c.seg = s.seg),
        |rowmed AS (
        |  SELECT nk, CAST(quantile_cont(x4, 0.5) AS BIGINT) AS row_eff
        |  FROM grid GROUP BY 1),
        |r1 AS (
        |  SELECT g.nk, g.seg, g.x4, m.row_eff, g.x4 - m.row_eff AS res1
        |  FROM grid g JOIN rowmed m ON g.nk = m.nk),
        |colmed AS (
        |  SELECT seg, CAST(quantile_cont(res1, 0.5) AS BIGINT) AS col_eff
        |  FROM r1 GROUP BY 1)
        |SELECT r.nk, r.seg, r.x4, r.row_eff, c.col_eff,
        |  r.res1 - c.col_eff AS resid_x4
        |FROM r1 r JOIN colmed c ON r.seg = c.seg""".stripMargin,

    "q364_hash_ring" ->
      """WITH keys AS (
        |  SELECT c_custkey AS ck,
        |    CAST('0x' || substr(md5('k' || c_custkey), 1, 15) AS BIGINT)
        |      AS kp
        |  FROM customer),
        |vn AS (
        |  SELECT i,
        |    CAST('0x' || substr(md5('node' || i), 1, 15) AS BIGINT) AS pos
        |  FROM (SELECT unnest(generate_series(0, 16)) AS i)),
        |a16 AS (
        |  SELECT ck,
        |    COALESCE(min(CASE WHEN pos >= kp THEN pos END), min(pos))
        |      AS pos16
        |  FROM keys CROSS JOIN (SELECT pos FROM vn WHERE i < 16)
        |  GROUP BY ck),
        |a17 AS (
        |  SELECT ck,
        |    COALESCE(min(CASE WHEN pos >= kp THEN pos END), min(pos))
        |      AS pos17
        |  FROM keys CROSS JOIN vn
        |  GROUP BY ck),
        |bx AS (
        |  SELECT a16.ck, pos16, pos17 FROM a16 JOIN a17 ON a16.ck = a17.ck),
        |remap AS (
        |  SELECT CAST(sum(CASE WHEN pos16 <> pos17 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_remapped
        |  FROM bx)
        |SELECT CAST(v.i AS BIGINT) AS node_id,
        |  CAST(count(*) AS BIGINT) AS n_after,
        |  CAST(sum(CASE WHEN b.pos16 = b.pos17 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_kept,
        |  (SELECT n_remapped FROM remap) AS n_remapped
        |FROM bx b JOIN vn v ON v.pos = b.pos17
        |GROUP BY 1""".stripMargin,

    "q365_skyline_2d" -> QueryShared.skyline2dSql,

    "q366_apportionment" ->
      """WITH v AS (
        |  SELECT CAST(c_nationkey AS BIGINT) AS nk,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(30,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS v
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1),
        |tot AS (SELECT CAST(sum(v) AS HUGEINT) AS s FROM v),
        |based AS (
        |  SELECT nk, v,
        |    CAST((CAST(v AS HUGEINT) * 100) // s AS BIGINT) AS base,
        |    (CAST(v AS HUGEINT) * 100) % s AS rem
        |  FROM v CROSS JOIN tot),
        |lo AS (SELECT 100 - CAST(sum(base) AS BIGINT) AS leftover
        |       FROM based),
        |rk AS (
        |  SELECT *, CAST(row_number() OVER (ORDER BY rem DESC, nk)
        |    AS BIGINT) AS rk
        |  FROM based)
        |SELECT nk, v, base,
        |  CAST(CASE WHEN rk <= (SELECT leftover FROM lo) THEN 1 ELSE 0 END
        |    AS BIGINT) AS extra,
        |  base + CAST(CASE WHEN rk <= (SELECT leftover FROM lo)
        |    THEN 1 ELSE 0 END AS BIGINT) AS seats
        |FROM rk""".stripMargin,

    "q367_intra_list_diversity" ->
      """WITH cn AS (
        |  SELECT c_custkey AS ck, CAST(c_nationkey AS BIGINT) AS nk
        |  FROM customer),
        |recs AS (
        |  SELECT nk, pk, p_brand, CAST(p_size AS BIGINT) AS sz
        |  FROM (
        |    SELECT nk, l_partkey AS pk,
        |      row_number() OVER (PARTITION BY nk
        |        ORDER BY count(*) DESC, l_partkey) AS pos
        |    FROM orders
        |    JOIN lineitem ON o_orderkey = l_orderkey
        |    JOIN cn ON o_custkey = ck
        |    GROUP BY nk, l_partkey)
        |  JOIN part ON pk = p_partkey
        |  WHERE pos <= 10)
        |SELECT a.nk, CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(sum(CASE WHEN a.p_brand <> b.p_brand THEN 1000 ELSE 0 END
        |    + abs(a.sz - b.sz)) AS BIGINT) AS d_sum,
        |  CAST(sum(CASE WHEN a.p_brand <> b.p_brand THEN 1000 ELSE 0 END
        |    + abs(a.sz - b.sz)) * 1000
        |    // count(*) AS BIGINT) AS ild_milli
        |FROM recs a JOIN recs b ON a.nk = b.nk AND a.pk < b.pk
        |GROUP BY 1""".stripMargin,

    "q368_synthetic_control" ->
      """WITH monthly AS (
        |  SELECT r_name,
        |    CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(30,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS c
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  GROUP BY 1, 2),
        |tgt AS (SELECT month, c AS tc FROM monthly WHERE r_name = 'EUROPE'),
        |don AS (SELECT r_name AS donor, month, c AS dc FROM monthly
        |        WHERE r_name <> 'EUROPE'),
        |best AS (
        |  SELECT donor,
        |    CAST(CAST(sse AS VARCHAR) AS DOUBLE) AS pre_sse_d
        |  FROM (
        |    SELECT d.donor,
        |      sum(CAST(t.tc - d.dc AS HUGEINT) * (t.tc - d.dc)) AS sse,
        |      row_number() OVER (ORDER BY
        |        sum(CAST(t.tc - d.dc AS HUGEINT) * (t.tc - d.dc)),
        |        d.donor) AS rk
        |    FROM don d JOIN tgt t ON d.month = t.month
        |    WHERE d.month < DATE '1997-01-01'
        |    GROUP BY d.donor)
        |  WHERE rk = 1)
        |SELECT t.month, b.donor, t.tc AS target_cents, d.dc AS donor_cents,
        |  t.tc - d.dc AS gap_cents, b.pre_sse_d
        |FROM tgt t CROSS JOIN best b
        |JOIN don d ON d.month = t.month AND d.donor = b.donor
        |WHERE t.month >= DATE '1997-01-01'""".stripMargin,

    "q369_bom_rollup" ->
      """WITH p AS (
        |  SELECT p_partkey AS pk,
        |    CAST(CAST(p_retailprice AS DECIMAL(30,2)) * 100 AS BIGINT)
        |      AS cost
        |  FROM part),
        |e AS (
        |  SELECT pk // CAST(power(7, l) AS BIGINT) AS anc, cost
        |  FROM (SELECT pk, cost, unnest(generate_series(1, 4)) AS l
        |        FROM p)
        |  WHERE pk // CAST(power(7, l) AS BIGINT) > 0)
        |SELECT anc, CAST(count(*) AS BIGINT) AS n_desc,
        |  CAST(sum(cost) AS BIGINT) AS subtree_cents
        |FROM e GROUP BY 1 HAVING count(*) >= 2""".stripMargin,

    "q370_kneser_ney" ->
      """WITH t AS (
        |  SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
        |  FROM documents),
        |bi AS (
        |  SELECT bigram, CAST(count(*) AS BIGINT) AS c,
        |    split_part(bigram, ' ', 1) AS w1,
        |    split_part(bigram, ' ', 2) AS w2
        |  FROM (SELECT unnest(list_transform(generate_series(1, len(ts)-1),
        |                 i -> ts[i] || ' ' || ts[i+1])) AS bigram
        |        FROM t)
        |  GROUP BY 1),
        |lft AS (
        |  SELECT w1, CAST(sum(c) AS BIGINT) AS ctot,
        |    CAST(count(*) AS BIGINT) AS n_after
        |  FROM bi GROUP BY 1),
        |rgt AS (SELECT w2, CAST(count(*) AS BIGINT) AS n_before
        |        FROM bi GROUP BY 1),
        |ty AS (SELECT CAST(count(*) AS BIGINT) AS t FROM bi),
        |sc AS (
        |  SELECT bi.bigram, bi.c,
        |    (greatest(4 * bi.c - 3, 0) * 1000000) // (4 * lft.ctot)
        |    + ((3 * lft.n_after * 1000000 // (4 * lft.ctot))
        |       * (rgt.n_before * 1000000 // ty.t)) // 1000000 AS pkn_ppm
        |  FROM bi JOIN lft ON bi.w1 = lft.w1
        |  JOIN rgt ON bi.w2 = rgt.w2
        |  CROSS JOIN ty)
        |SELECT bigram, c, CAST(pkn_ppm AS BIGINT) AS pkn_ppm
        |FROM (SELECT *, row_number() OVER (ORDER BY c DESC, bigram) AS rk
        |      FROM sc)
        |WHERE rk <= 30""".stripMargin,

    "q371_bandit_replay" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS d, o_orderpriority AS arm,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(30,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS rev
        |  FROM orders GROUP BY 1, 2),
        |grid AS (
        |  SELECT dd.d, a.arm, COALESCE(daily.rev, 0) AS rev
        |  FROM (SELECT DISTINCT d FROM daily) dd
        |  CROSS JOIN (SELECT DISTINCT arm FROM daily) a
        |  LEFT JOIN daily ON daily.d = dd.d AND daily.arm = a.arm),
        |cum AS (
        |  SELECT d, arm, rev,
        |    COALESCE(sum(rev) OVER (PARTITION BY arm ORDER BY d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cum_prev
        |  FROM grid),
        |picked AS (
        |  SELECT d, arm AS picked_arm, rev AS realized_cents FROM (
        |    SELECT *, row_number() OVER (PARTITION BY d
        |      ORDER BY cum_prev DESC, arm) AS rn FROM cum)
        |  WHERE rn = 1),
        |best AS (
        |  SELECT arm FROM (
        |    SELECT arm, row_number() OVER (ORDER BY sum(rev) DESC, arm)
        |      AS rk
        |    FROM daily GROUP BY arm)
        |  WHERE rk = 1),
        |bd AS (
        |  SELECT g.d, g.rev AS best_daily_cents
        |  FROM grid g JOIN best b ON g.arm = b.arm)
        |SELECT p.d, p.picked_arm, p.realized_cents, bd.best_daily_cents,
        |  CAST(sum(bd.best_daily_cents - p.realized_cents)
        |    OVER (ORDER BY p.d) AS BIGINT) AS cum_regret_cents
        |FROM picked p JOIN bd ON p.d = bd.d""".stripMargin,

    "q372_raking" -> {
      def rowPass(in: String, out: String): String =
        s"""$out AS MATERIALIZED (
           |  SELECT g.*, CASE WHEN s._rs > 0
           |    THEN CAST((CAST(g.${in}v AS HUGEINT) * g.rt * 1000000)
           |      // s._rs AS BIGINT)
           |    ELSE 0 END AS ${out}v
           |  FROM $in g JOIN (SELECT nk, CAST(sum(${in}v) AS HUGEINT)
           |    AS _rs FROM $in GROUP BY 1) s ON g.nk = s.nk)""".stripMargin
      def colPass(in: String, out: String): String =
        s"""$out AS MATERIALIZED (
           |  SELECT g.*, CASE WHEN s._cs > 0
           |    THEN CAST((CAST(g.${in}v AS HUGEINT) * g.ct * 1000000)
           |      // s._cs AS BIGINT)
           |    ELSE 0 END AS ${out}v
           |  FROM $in g JOIN (SELECT seg, CAST(sum(${in}v) AS HUGEINT)
           |    AS _cs FROM $in GROUP BY 1) s ON g.seg = s.seg)""".stripMargin
      """WITH pre AS (
        |  SELECT CAST(c_nationkey AS BIGINT) AS nk, c_mktsegment AS seg,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  WHERE CAST(o_orderdate AS DATE) < DATE '1997-01-01'
        |  GROUP BY 1, 2),
        |post AS (
        |  SELECT CAST(c_nationkey AS BIGINT) AS nk, c_mktsegment AS seg,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  WHERE CAST(o_orderdate AS DATE) >= DATE '1997-01-01'
        |  GROUP BY 1, 2),
        |rt AS (SELECT nk, CAST(sum(n) AS BIGINT) AS rt FROM post
        |       GROUP BY 1),
        |ct AS (SELECT seg, CAST(sum(n) AS BIGINT) AS ct FROM post
        |       GROUP BY 1),
        |x0 AS MATERIALIZED (
        |  SELECT p.nk, p.seg, p.n, rt.rt, ct.ct,
        |    p.n * 1000000 AS x0v
        |  FROM pre p JOIN rt ON p.nk = rt.nk JOIN ct ON p.seg = ct.seg),
        |""".stripMargin +
        Seq(rowPass("x0", "x1"), colPass("x1", "x2"),
          rowPass("x2", "x3"), colPass("x3", "x4")).mkString(",\n") +
        """
          |SELECT nk, seg, n AS n_pre, x4v AS x_micro FROM x4""".stripMargin
    },

    "q374_peer_loo_zscore" ->
      """WITH v AS (
        |  SELECT CAST(c_nationkey AS BIGINT) AS nk,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(30,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS x
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1),
        |tot AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(x) AS BIGINT) AS s,
        |    sum(CAST(x AS HUGEINT) * x) AS q
        |  FROM v),
        |e AS (
        |  SELECT nk, x, CAST(k - 1 AS DOUBLE) AS kd,
        |    CAST(CAST(s - x AS VARCHAR) AS DOUBLE) / CAST(k - 1 AS DOUBLE)
        |      AS mean_others,
        |    CAST(CAST((CAST(k AS HUGEINT) - 1)
        |        * (q - CAST(x AS HUGEINT) * x)
        |      - CAST(s - x AS HUGEINT) * (s - x) AS VARCHAR) AS DOUBLE)
        |      / (CAST(k - 1 AS DOUBLE) * (CAST(k - 1 AS DOUBLE) - 1.0))
        |      AS var_others
        |  FROM v CROSS JOIN tot)
        |SELECT nk, x, mean_others,
        |  CASE WHEN var_others > 0
        |       THEN (CAST(x AS DOUBLE) - mean_others) / sqrt(var_others)
        |  END AS z_loo
        |FROM e""".stripMargin,

    "q375_allen_relations" ->
      """WITH iv AS (
        |  SELECT o_custkey, o_orderkey,
        |    CAST(o_orderdate AS DATE) AS st,
        |    greatest(max(CAST(l_shipdate AS DATE)),
        |      CAST(o_orderdate AS DATE)) AS en
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  GROUP BY 1, 2, 3),
        |p AS (
        |  SELECT st, en,
        |    lead(st) OVER w AS st2, lead(en) OVER w AS en2
        |  FROM iv
        |  WINDOW w AS (PARTITION BY o_custkey
        |    ORDER BY st, en, o_orderkey)),
        |c AS (
        |  SELECT CASE
        |    WHEN en < st2 THEN 'precedes'
        |    WHEN en = st2 THEN 'meets'
        |    WHEN st = st2 AND en = en2 THEN 'equals'
        |    WHEN st = st2 AND en < en2 THEN 'starts'
        |    WHEN st < st2 AND en = en2 THEN 'finished_by'
        |    WHEN st < st2 AND en > en2 THEN 'contains'
        |    ELSE 'overlaps' END AS relation
        |  FROM p WHERE st2 IS NOT NULL)
        |SELECT relation, CAST(count(*) AS BIGINT) AS n
        |FROM c GROUP BY 1""".stripMargin,

    "q376_sax" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS d,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(30,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS c
        |  FROM orders GROUP BY 1),
        |r0 AS (
        |  SELECT c,
        |    (CAST(row_number() OVER (ORDER BY d) AS BIGINT) - 1) // 8
        |      AS blk
        |  FROM daily),
        |b AS (
        |  SELECT blk, c, count(*) OVER (PARTITION BY blk) AS nb
        |  FROM r0),
        |blocks AS (
        |  SELECT blk, CAST(sum(c) AS BIGINT) AS bs
        |  FROM (SELECT * FROM b WHERE nb = 8) GROUP BY 1),
        |qs AS (
        |  SELECT quantile_cont(bs, 0.25) AS q1, quantile_cont(bs, 0.5) AS q2,
        |    quantile_cont(bs, 0.75) AS q3
        |  FROM blocks),
        |sym AS (
        |  SELECT blk, blk // 4 AS wblk, blk % 4 AS pos,
        |    CASE WHEN CAST(bs AS DOUBLE) <= q1 THEN 'a'
        |         WHEN CAST(bs AS DOUBLE) <= q2 THEN 'b'
        |         WHEN CAST(bs AS DOUBLE) <= q3 THEN 'c'
        |         ELSE 'd' END AS sym
        |  FROM blocks CROSS JOIN qs),
        |words AS (
        |  SELECT wblk, string_agg(sym, '' ORDER BY pos) AS word
        |  FROM (SELECT *, count(*) OVER (PARTITION BY wblk) AS nw FROM sym)
        |  WHERE nw = 4 GROUP BY 1)
        |SELECT word, CAST(count(*) AS BIGINT) AS n
        |FROM words GROUP BY 1""".stripMargin,

    "q377_hill_tail" ->
      """WITH rev AS (
        |  SELECT l_partkey,
        |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(30,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS x
        |  FROM lineitem GROUP BY 1),
        |r AS (
        |  SELECT x,
        |    CAST(row_number() OVER (ORDER BY x DESC, l_partkey)
        |      AS BIGINT) AS rk,
        |    CAST(floor(1e6 * ln(CAST(x AS DOUBLE))) AS BIGINT) AS ln_micro
        |  FROM rev),
        |mn AS (
        |  SELECT max(x) AS xmin, max(ln_micro) AS ln_min
        |  FROM r WHERE rk = 100),
        |a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k_tail,
        |    CAST(max(mn.xmin) AS BIGINT) AS xmin,
        |    CAST(sum(r.ln_micro - mn.ln_min) AS BIGINT) AS sum_ln_micro
        |  FROM r CROSS JOIN mn WHERE r.rk < 100)
        |SELECT k_tail, xmin, sum_ln_micro,
        |  CASE WHEN sum_ln_micro > 0
        |       THEN CAST(k_tail AS DOUBLE) * 1e6
        |            / CAST(sum_ln_micro AS DOUBLE) END AS alpha
        |FROM a""".stripMargin,

    "q378_period_detect" ->
      """WITH daily AS (
        |  SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS t,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1),
        |folded AS (
        |  SELECT p.p, daily.t % p.p AS fold, daily.n
        |  FROM daily
        |  CROSS JOIN (SELECT unnest(generate_series(2, 14)) AS p) p),
        |g AS (
        |  SELECT p, fold, CAST(count(*) AS BIGINT) AS n_g,
        |    CAST(sum(n) AS BIGINT) AS s_g
        |  FROM folded GROUP BY 1, 2),
        |gt AS (SELECT p, (CAST(s_g AS HUGEINT) * s_g) // n_g AS term
        |       FROM g),
        |tot AS (
        |  SELECT CAST(count(*) AS BIGINT) AS nn, CAST(sum(n) AS BIGINT) AS s,
        |    sum(CAST(n AS HUGEINT) * n) AS q
        |  FROM daily),
        |sc AS (
        |  SELECT gt.p,
        |    greatest(sum(gt.term)
        |      - (CAST(tot.s AS HUGEINT) * tot.s) // tot.nn, 0) AS ssb,
        |    tot.q - (CAST(tot.s AS HUGEINT) * tot.s) // tot.nn AS sst
        |  FROM gt CROSS JOIN tot
        |  GROUP BY gt.p, tot.s, tot.nn, tot.q)
        |SELECT CAST(p AS BIGINT) AS p,
        |  CAST((ssb * 1000000) // sst AS BIGINT) AS score_ppm,
        |  CAST(row_number() OVER (ORDER BY (ssb * 1000000) // sst DESC, p)
        |    AS BIGINT) AS rk
        |FROM sc""".stripMargin,

    "q379_bitemporal_lookup" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, CAST(o_orderdate AS DATE) AS od,
        |    CAST(CAST(o_totalprice AS DECIMAL(30,2)) * 100 AS BIGINT)
        |      AS price
        |  FROM orders),
        |vers AS (
        |  SELECT k, od AS valid_from, od AS tx_from, price,
        |    CAST(1 AS BIGINT) AS ver
        |  FROM base
        |  UNION ALL
        |  SELECT k, od + 30, od + 60, price + 500, CAST(2 AS BIGINT)
        |  FROM base WHERE k % 3 = 0),
        |f AS (
        |  SELECT *, row_number() OVER (PARTITION BY k
        |    ORDER BY tx_from DESC, valid_from DESC, ver DESC) AS rk
        |  FROM vers
        |  WHERE valid_from <= DATE '1997-06-01'
        |    AND tx_from <= DATE '1997-09-01')
        |SELECT k, ver, price, valid_from, tx_from
        |FROM f WHERE rk = 1""".stripMargin,

    "q380_conformal" ->
      """WITH rev AS (
        |  SELECT o_custkey,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(30,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS y
        |  FROM orders GROUP BY 1),
        |base AS (
        |  SELECT c_custkey AS ck, c_mktsegment AS seg,
        |    COALESCE(y, 0) AS y, c_custkey % 3 AS fold
        |  FROM customer LEFT JOIN rev ON c_custkey = o_custkey),
        |model AS (
        |  SELECT seg, CAST(sum(y) // count(*) AS BIGINT) AS yhat
        |  FROM base WHERE fold = 0 GROUP BY 1),
        |cal AS (
        |  SELECT b.ck, abs(b.y - m.yhat) AS resid
        |  FROM base b JOIN model m ON b.seg = m.seg WHERE b.fold = 1),
        |calr AS (
        |  SELECT resid,
        |    CAST(row_number() OVER (ORDER BY resid, ck) AS BIGINT) AS rn,
        |    CAST(count(*) OVER () AS BIGINT) AS n_cal
        |  FROM cal),
        |qh AS (
        |  SELECT max(n_cal) AS n_cal,
        |    max(CASE WHEN rn = (9 * (n_cal + 1) + 9) // 10
        |        THEN resid END) AS q_hat
        |  FROM calr),
        |test AS (
        |  SELECT abs(b.y - m.yhat) AS resid
        |  FROM base b JOIN model m ON b.seg = m.seg WHERE b.fold = 2),
        |agg AS (
        |  SELECT max(qh.n_cal) AS n_cal, max(qh.q_hat) AS q_hat,
        |    CAST(count(*) AS BIGINT) AS n_test,
        |    CAST(sum(CASE WHEN t.resid <= qh.q_hat THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_covered
        |  FROM test t CROSS JOIN qh)
        |SELECT n_cal, q_hat, n_test, n_covered,
        |  CAST(n_covered * 1000000 // n_test AS BIGINT) AS coverage_ppm
        |FROM agg""".stripMargin,

    "q381_ips_eval" ->
      """WITH ev AS (
        |  SELECT user_id, event_type AS arm,
        |    CAST(CAST(value AS DECIMAL(30,2)) * 100 AS BIGINT) AS r
        |  FROM events),
        |arms AS (
        |  SELECT arm, CAST(count(*) AS BIGINT) AS n_a,
        |    CAST(row_number() OVER (ORDER BY arm) AS BIGINT) - 1 AS arm_idx
        |  FROM ev GROUP BY arm),
        |kk AS (SELECT CAST(count(*) AS BIGINT) AS k FROM arms),
        |m AS (
        |  SELECT ev.r, arms.n_a,
        |    CASE WHEN ev.user_id % kk.k = arms.arm_idx THEN 1 ELSE 0 END
        |      AS is_match
        |  FROM ev JOIN arms ON ev.arm = arms.arm CROSS JOIN kk),
        |a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(is_match) AS BIGINT) AS n_match,
        |    CAST(sum(CASE WHEN is_match = 1
        |      THEN r * 1000000 // n_a ELSE 0 END) AS BIGINT)
        |      AS ips_num_micro,
        |    CAST(sum(CASE WHEN is_match = 1
        |      THEN 1000000000 // n_a ELSE 0 END) AS BIGINT)
        |      AS snips_den_nano
        |  FROM m)
        |SELECT n, n_match, ips_num_micro, snips_den_nano,
        |  CAST(ips_num_micro // n AS BIGINT) AS ips_value_micro
        |FROM a""".stripMargin,

    "q382_pinball_loss" ->
      """WITH monthly AS (
        |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(30,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS actual_cents
        |  FROM orders GROUP BY 1),
        |f AS (
        |  SELECT month, actual_cents,
        |    lag(actual_cents, 12) OVER (ORDER BY month) AS pred_cents
        |  FROM monthly),
        |l AS (
        |  SELECT *, greatest(9 * (actual_cents - pred_cents),
        |    pred_cents - actual_cents) AS pinball_x10
        |  FROM f WHERE pred_cents IS NOT NULL)
        |SELECT month, actual_cents, pred_cents, pinball_x10,
        |  CAST(sum(pinball_x10) OVER (ORDER BY month) AS BIGINT)
        |    AS cum_pinball_x10
        |FROM l""".stripMargin,

    "q383_icc_deff" ->
      """WITH t AS (
        |  SELECT CAST(c_nationkey AS BIGINT) AS grp,
        |    CAST(CAST(o_totalprice AS DECIMAL(30,2)) * 100 AS BIGINT) AS x
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |g AS (
        |  SELECT grp, CAST(count(*) AS BIGINT) AS n_g,
        |    CAST(sum(x) AS BIGINT) AS s_g,
        |    sum(CAST(x AS HUGEINT) * x) AS q_g
        |  FROM t GROUP BY 1),
        |gt AS (SELECT *, (CAST(s_g AS HUGEINT) * s_g) // n_g AS term FROM g),
        |a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n_g) AS BIGINT) AS n,
        |    CAST(sum(s_g) AS HUGEINT) AS s_all, sum(q_g) AS q_all,
        |    sum(term) AS t_all
        |  FROM gt),
        |b AS (
        |  SELECT k, n,
        |    CAST(CAST(t_all - (s_all * s_all) // n AS VARCHAR) AS DOUBLE)
        |      AS ssb,
        |    CAST(CAST(q_all - t_all AS VARCHAR) AS DOUBLE) AS ssw
        |  FROM a),
        |c AS (
        |  SELECT k, n,
        |    ssb / CAST(k - 1 AS DOUBLE) AS msb,
        |    ssw / CAST(n - k AS DOUBLE) AS msw,
        |    CAST(n AS DOUBLE) / CAST(k AS DOUBLE) AS m_bar
        |  FROM b),
        |d AS (
        |  SELECT k, n, m_bar,
        |    (msb - msw) / (msb + (m_bar - 1.0) * msw) AS icc
        |  FROM c)
        |SELECT k, n, icc, 1.0 + (m_bar - 1.0) * icc AS deff
        |FROM d""".stripMargin,

    "q384_l_diversity" ->
      """WITH base AS (
        |  SELECT CAST(c_nationkey AS BIGINT) AS nk, c_mktsegment AS seg,
        |    o_orderpriority AS sv
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |cells AS (
        |  SELECT nk, seg, sv, CAST(count(*) AS BIGINT) AS c
        |  FROM base GROUP BY 1, 2, 3),
        |w AS (
        |  SELECT nk, seg, c,
        |    CAST(sum(c) OVER (PARTITION BY nk, seg) AS BIGINT) AS n
        |  FROM cells),
        |terms AS (
        |  SELECT nk, seg, n,
        |    c * (CAST(floor(1e6 * ln(CAST(n AS DOUBLE))) AS BIGINT)
        |       - CAST(floor(1e6 * ln(CAST(c AS DOUBLE))) AS BIGINT)) // n
        |      AS term
        |  FROM w),
        |shaped AS (
        |  SELECT nk, seg, CAST(max(n) AS BIGINT) AS n,
        |    CAST(count(*) AS BIGINT) AS l_distinct,
        |    CAST(sum(term) AS BIGINT) AS ent_micro
        |  FROM terms GROUP BY 1, 2),
        |mn AS (SELECT CAST(min(l_distinct) AS BIGINT) AS min_l FROM shaped)
        |SELECT s.nk, s.seg, s.n, s.l_distinct, s.ent_micro, mn.min_l
        |FROM shaped s CROSS JOIN mn""".stripMargin,

    "q385_bias_model" ->
      """WITH r AS (
        |  SELECT o_custkey AS u, l_partkey AS i,
        |    CAST(l_quantity AS BIGINT) * 100 AS q_c,
        |    o_orderkey % 2 AS fold
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |train AS (SELECT * FROM r WHERE fold = 1),
        |mu AS (SELECT CAST(sum(q_c) // count(*) AS BIGINT) AS mu_c
        |       FROM train),
        |bi AS (
        |  SELECT i,
        |    CAST(sum(q_c - mu.mu_c + 5000) // count(*) - 5000 AS BIGINT)
        |      AS b_i
        |  FROM train CROSS JOIN mu GROUP BY i, mu.mu_c),
        |bu AS (
        |  SELECT u,
        |    CAST(sum(q_c - mu.mu_c - COALESCE(bi.b_i, 0) + 10000)
        |      // count(*) - 10000 AS BIGINT) AS b_u
        |  FROM train CROSS JOIN mu
        |  LEFT JOIN bi ON train.i = bi.i
        |  GROUP BY u, mu.mu_c),
        |test AS (
        |  SELECT r.q_c,
        |    greatest(100, least(5000, mu.mu_c + COALESCE(bi.b_i, 0)
        |      + COALESCE(bu.b_u, 0))) AS pred_c
        |  FROM r CROSS JOIN mu
        |  LEFT JOIN bi ON r.i = bi.i
        |  LEFT JOIN bu ON r.u = bu.u
        |  WHERE r.fold = 0),
        |a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_test,
        |    sum(CAST(q_c - pred_c AS HUGEINT) * (q_c - pred_c)) AS sse
        |  FROM test)
        |SELECT n_test, CAST(CAST(sse AS VARCHAR) AS DOUBLE) AS sse_d,
        |  sqrt(CAST(CAST(sse AS VARCHAR) AS DOUBLE)
        |    / CAST(n_test AS DOUBLE)) AS rmse_c
        |FROM a""".stripMargin,
  )
}
