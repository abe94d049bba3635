package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import QueryShared._

/** Round-11 surfaces (q399+): corpus data-recipe planners — the
  * budget/shape decisions a training-data pipeline makes once the
  * curation ops (dedup, quality, mixture) have produced per-source and
  * per-document statistics. All exact-integer in the house style; the
  * planning algebra runs on AGGREGATED grains (source, quantile bucket,
  * language), so its windows sit on Aggregate-bounded frames — the shape
  * the plan audit's partition-less-Window rule explicitly allows. */
object Analytics5Queries {

  /** Realized q409 stop round — the q386 dynamic-oracle contract
    * ([[Analytics4Queries.realizedOrSentinel]]). */
  private[graft] val mkStopRound =
    new java.util.concurrent.atomic.AtomicInteger(-1)

  /** Realized q422 Lloyd round count — same contract. */
  private[graft] val kmStopRound =
    new java.util.concurrent.atomic.AtomicInteger(-1)

  /** Realized q452 power-iteration round count — same contract. */
  private[graft] val pcaStopRound =
    new java.util.concurrent.atomic.AtomicInteger(-1)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Convergence-WITNESSED Markov stationary distribution — the q386
    // epsilon-stop discipline applied to a LINEAR-OPERATOR fixpoint
    // (the third kernel class after mass-propagation PageRank/HITS and
    // path-relaxation Bellman-Ford): per-user consecutive event-type
    // transitions build the integer-ppm transition matrix, and the
    // behavior chain's stationary distribution power-iterates from
    // uniform with per-round floor quantization (s div 10⁶ — exact,
    // order-free integer algebra) until the exact L1 residual ≤ 100
    // ppm-units or 30 rounds. The realized stop round parameterizes the
    // dynamically-unrolled oracle, which recomputes the final residual
    // from its own last two iterates — termination is hash-checked.
    // Per-round cost: one key-equi join + one grouped sum on the
    // (types × types) matrix grain — tiny by construction.
    "q409_markov_stationary" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), col("ts"),
          col("event_id"))
      val wU = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val trans = ev
        .withColumn("nxt", lead(col("event_type"), 1).over(wU))
        .filter(col("nxt").isNotNull)
        .groupBy(col("event_type").as("i"), col("nxt").as("j"))
        .agg(count(lit(1)).as("nij"))
        .localCheckpoint(true)
      val p = trans
        .withColumn("ni", sum(col("nij")).over(
          Window.partitionBy(col("i"))))
        .select(col("i"), col("j"), expr("nij * 1000000 div ni").as("p_ppm"))
        .localCheckpoint(true)
      val types = ev.select(col("event_type").as("t")).distinct()
        .localCheckpoint(true)
      val k = types.count()
      val init = types.select(col("t"), lit(1000000L / k).as("pi_q"))
        .localCheckpoint(true)
      val run = ops.Fixpoint.frames("q409_markov_stationary", 30,
          Some(sum(abs(col("pi_q") - col("prev")))), stopAt = 100L)(init) {
        (pi, _) =>
          val sums = pi.join(p, pi("t") === p("i"))
            .groupBy(col("j"))
            .agg(sum(col("pi_q") * col("p_ppm")).as("s"))
          // pi spans every type, so it doubles as the node set and
          // carries the previous iterate for the residual
          pi.select(col("t"), col("pi_q").as("prev"))
            .join(sums, col("t") === sums("j"), "left_outer")
            .select(col("t"),
              coalesce(expr("s div 1000000"), lit(0L)).as("pi_q"), col("prev"))
      }
      mkStopRound.set(run.rounds)
      run.state.select(col("t"), col("pi_q"))
        .withColumn("stop_round", lit(run.rounds.toLong))
        .withColumn("final_residual", lit(run.witnesses.last))
    }),

    // Token-budget WATERFILLING across sources — the constrained-mixture
    // allocator ("give each source tokens proportional to its quality
    // weight, but never more than it has") behind every data-recipe
    // with per-source caps: alloc_s = min(c_s, λ·w_s) with Σ alloc = B.
    // Exact-integer closed form: order sources by the quantized ratio
    // c·10⁶ div w (the DECLARED order — both engines state it
    // identically), exclusive prefix sums give each row its remaining
    // budget and remaining weight, a row saturates iff spreading the
    // remaining budget over remaining weights already covers its
    // capacity ((B − Cc)·w ≥ c·Wrem — cross-multiplied, division-free),
    // and the capped set is the prefix-AND of that flag (waterfilling's
    // capped set is a ratio-order prefix). Uncapped rows split the
    // residual budget by weight with floor division (Σ alloc ≤ B; the
    // floor residue is declared), clamped to capacity. The fact-scale
    // work is ONE linear per-source rollup; the planning windows touch
    // only the source-grain aggregate.
    // The COMPOSED data recipe — dedup THEN budget (round 12): q419's
    // fingerprint-grain survivor policy feeds q399's waterfilling
    // allocator, so the per-source capacities are SURVIVING tokens only
    // (allocating against raw token counts double-budgets every
    // duplicate — the recipe mistake this surface exists to prevent;
    // compare c here vs q399's c to read each source's dedup haircut).
    // Same scale shape as its parts: one policy window at the
    // fingerprint grain + the source-grain waterfill algebra.
    "q421_dedup_waterfill" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val m = docs
        .select(col("doc_id"), col("source"),
          text.TextOps.fingerprint(col("text")).as("fp"),
          text.TextOps.tokens(col("text")).as("ts"))
        .select(col("doc_id"), col("source"), col("fp"),
          expr("cast(regexp_extract(source, '([0-9]+)', 1) as int) % 4")
            .cast("long").as("src_tier"),
          size(col("ts")).cast("long").as("n_tok"),
          size(array_distinct(col("ts"))).cast("long").as("n_dist"))
        .withColumn("quality_ppm",
          expr("n_dist * 1000000 div greatest(n_tok, 1L)"))
      val surv = llm.Dedup.clusterSurvivors(m, "fp",
        Seq(col("src_tier").asc, col("quality_ppm").desc,
          col("n_tok").desc, col("doc_id").asc))
      val src = surv.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("c"),
          sum(col("quality_ppm")).as("qsum"))
        .withColumn("w", greatest(lit(1L), expr("qsum div n_docs")))
      llm.Mixture.waterfill(src, "source", budgetNum = 6L, budgetDen = 10L)
        .select(col("source"), col("n_docs"), col("c"), col("w"),
          col("capped"), col("alloc"), col("share_ppm"))
    }),


    "q399_token_waterfill" -> ((s, dir) => {
      val per = Tables.documents(s, dir)
        .select(col("source"), text.TextOps.tokens(col("text")).as("ts"))
        .select(col("source"), size(col("ts")).cast("long").as("n_tok"),
          size(array_distinct(col("ts"))).cast("long").as("n_dist"))
      val src = per.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("c"),
          // per-source quality weight: mean lexical diversity in ppm
          sum(expr("n_dist * 1000000 div greatest(n_tok, 1L)")).as("qsum"))
        .withColumn("w", greatest(lit(1L), expr("qsum div n_docs")))
      // budget = 60% of corpus tokens; the allocation algebra lives in
      // llm.Mixture.waterfill (LawsSpec-pinned against an independent
      // driver-side rational fixpoint)
      llm.Mixture.waterfill(src, "source", budgetNum = 6L, budgetDen = 10L)
        .select(col("source"), col("n_docs"), col("c"), col("w"),
          col("capped"), col("alloc"), col("share_ppm"))
    }),


    // Sequence-length BUCKET planner — the padding-waste read behind
    // length-bucketed batching ("how much compute does padding to the
    // bucket boundary burn?"): documents land in exact-quartile buckets
    // by token length (rank via the distributedRank device — the naive
    // global row_number is what the oracle states), every doc pads to
    // its bucket's max length, and the bucket reports its exact padded
    // vs real token totals and waste ppm. One linear pass + the
    // two-phase rank; the planning grain is 4 rows.
    "q400_padding_buckets" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .select(col("doc_id"),
          size(text.TextOps.tokens(col("text"))).cast("long").as("len"))
      val ranked = ops.Stats.distributedRank(
        d, "len", tieBreak = Seq("doc_id"), out = "rn",
        bucketWidth = 1L << 8)
      ranked
        .crossJoin(broadcast(d.agg(count(lit(1)).as("n"))))
        .withColumn("q",
          when(col("rn") * 100 <= col("n") * 25, 25L)
            .when(col("rn") * 100 <= col("n") * 50, 50L)
            .when(col("rn") * 100 <= col("n") * 75, 75L)
            .otherwise(100L))
        .groupBy(col("q"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("len")).as("real_tokens"),
          max(col("len")).as("bucket_len"))
        .withColumn("padded_tokens", col("n_docs") * col("bucket_len"))
        .withColumn("waste_ppm",
          when(col("padded_tokens") > 0, expr(
            "(padded_tokens - real_tokens) * 1000000 div padded_tokens")))
        .select(col("q"), col("n_docs"), col("bucket_len"),
          col("real_tokens"), col("padded_tokens"), col("waste_ppm"))
    }),


    // Inter-rater AGREEMENT (Cohen's kappa) between two deterministic
    // heuristic labelers — the labeling-pipeline read behind "do my
    // quality gates even agree?": rater A = lexical diversity > 1/2
    // (distinct·2 > total tokens), rater B = mean token length ≥ 5
    // chars (n_chars > 5·tokens), per language. The 2×2 contingency is
    // one pass; kappa = (p_o − p_e)/(1 − p_e) carried division-free as
    // kappa_ppm = (po_num·n − pe_num)·10⁶ div (n² − pe_num) with
    // po_num = n11+n00 (×n) and pe_num = marginal products (×n²) —
    // exact integers, NULL when the raters are degenerate (pe = 1).
    "q401_rater_kappa" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .select(col("lang"), col("n_chars").cast("long").as("n_chars"),
          text.TextOps.tokens(col("text")).as("ts"))
        .select(col("lang"),
          (size(array_distinct(col("ts"))) * 2 > size(col("ts")))
            .cast("long").as("ra"),
          (col("n_chars") > size(col("ts")).cast("long") * 5L)
            .cast("long").as("rb"))
      d.groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("ra") === 1 && col("rb") === 1, 1L).otherwise(0L))
            .as("n11"),
          sum(when(col("ra") === 1 && col("rb") === 0, 1L).otherwise(0L))
            .as("n10"),
          sum(when(col("ra") === 0 && col("rb") === 1, 1L).otherwise(0L))
            .as("n01"),
          sum(when(col("ra") === 0 && col("rb") === 0, 1L).otherwise(0L))
            .as("n00"))
        .withColumn("po_num", col("n11") + col("n00"))
        .withColumn("pe_num",
          (col("n11") + col("n10")) * (col("n11") + col("n01")) +
            (col("n00") + col("n01")) * (col("n00") + col("n10")))
        .withColumn("kappa_ppm",
          when(col("n") * col("n") =!= col("pe_num"),
            expr("(po_num * n - pe_num) * 1000000 div (n * n - pe_num)")))
        .select(col("lang"), col("n"), col("n11"), col("n10"),
          col("n01"), col("n00"), col("kappa_ppm"))
    }),


    // Held-out bigram LM cross-entropy — the EVAL half of the LM-quality
    // family (q115 scores the corpus under a model fit on ITSELF; a real
    // data-quality loop scores held-out text under a model fit on train
    // only): md5 hash split (the q44 rule), add-one-smoothed bigram
    // probabilities p = (cb+1)/(cw1+V+1) from TRAIN counts only (unseen
    // contexts and bigrams degrade gracefully to the uniform floor),
    // per-bigram cost floor-quantized to µnats (one integer-ratio IEEE
    // division + one ln per DISTINCT join row — the q115 portability
    // rule). The fit here is RELATIONAL (count tables), so the whole
    // fit+serve is oracle-stated with no persisted artifact. Scale:
    // count tables are map-side partial aggregations; scoring is two
    // key-equi left joins + one scalar broadcast; no windows.
    "q402_heldout_bigram_xent" -> ((s, dir) => {
      val docs = ml.Models.hashSplit(Tables.documents(s, dir), "doc_id")
      val pairs = docs
        .select(col("doc_id"), col("split"),
          text.TextOps.tokens(col("text")).as("ts"))
        .filter(size(col("ts")) >= 2)
        .select(col("doc_id"), col("split"),
          explode(zip_with(
            slice(col("ts"), lit(1), size(col("ts")) - 1),
            slice(col("ts"), lit(2), size(col("ts")) - 1),
            (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
        .select(col("doc_id"), col("split"),
          col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      val train = pairs.filter(col("split") === "train")
      val cb = train.groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).as("cb"))
      val cw1 = train.groupBy(col("w1")).agg(count(lit(1)).as("cw1"))
      val vocab = docs.filter(col("split") === "train")
        .select(explode(text.TextOps.tokens(col("text"))).as("w"))
        .agg(countDistinct(col("w")).as("v"))
      pairs.filter(col("split") === "holdout")
        .join(cb, Seq("w1", "w2"), "left_outer")
        .join(cw1, Seq("w1"), "left_outer")
        .crossJoin(broadcast(vocab))
        .withColumn("q", floor(lit(-1e6) * log(
          (coalesce(col("cb"), lit(0L)).cast("double") + 1.0) /
            (coalesce(col("cw1"), lit(0L)).cast("double") +
              col("v").cast("double") + 1.0))).cast("long"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"), sum(col("q")).as("sum_q"))
        .withColumn("xent_q", expr("sum_q div n_bigrams"))
        .select(col("doc_id"), col("n_bigrams"), col("sum_q"),
          col("xent_q"))
    }),


    // Robust outlier detection by MEDIAN/MAD (the heavy-tail-safe
    // z-score — mean/stddev break down exactly on the outliers you are
    // hunting): exact lower median of token length via the
    // distributedRank device, exact MAD (median absolute deviation) via
    // a SECOND rank pass over the deviations, flag docs whose deviation
    // clears 1.5·MAD (2·dev > 3·mad — cross-multiplied, integer-exact;
    // on this bounded-length corpus the classical 3·MAD fence flags
    // nothing, declared). Both medians are exact order statistics
    // (never interpolated); the oracle states both as naive global
    // row_numbers.
    "q410_mad_outliers" -> ((s, dir) => {
      // d feeds the median rank, the scalar count, and the deviation
      // frame; dev feeds the MAD rank and the final filter — materialize
      // both so the corpus tokenization runs once, not ~5× (r14, guide
      // §5; before plan: 26 scans)
      val d = Tables.documents(s, dir)
        .select(col("doc_id"),
          size(text.TextOps.tokens(col("text"))).cast("long").as("len"))
        .localCheckpoint(true)
      def lowerMedian(df: DataFrame, vCol: String): DataFrame =
        ops.Stats.distributedRank(df, vCol, tieBreak = Seq("doc_id"),
            out = "_rn", bucketWidth = 1L << 8)
          .crossJoin(broadcast(df.agg(count(lit(1)).as("_n"))))
          .filter(col("_rn") === expr("(_n + 1) div 2"))
          .select(col(vCol).as("_m"))
      // the one-row medians ride as keys=[] aggregates (max of the
      // single row — value-identical) so the broadcast stays inside the
      // audited scalar-agg idiom (the q387 BNLJ rule)
      val med = lowerMedian(d, "len").agg(max(col("_m")).as("med"))
      val dev = d.crossJoin(broadcast(med))
        .withColumn("dev", abs(col("len") - col("med")))
        .localCheckpoint(true)
      val mad = lowerMedian(dev.select(col("doc_id"), col("dev")), "dev")
        .agg(max(col("_m")).as("mad"))
      dev.crossJoin(broadcast(mad))
        .filter(lit(2L) * col("dev") > lit(3L) * col("mad"))
        .select(col("doc_id"), col("len"), col("med"), col("mad"),
          col("dev"))
    }),


    // Embedding-space label AUDIT: the pairwise centroid-distance matrix
    // over the embeddings table ("are my labels geometrically distinct
    // before I train on them?"). Per-(label, dim) sums of µ-quantized
    // components fold in one pass (map-side partial; the element grid
    // is floor(x·10⁶) — exact both engines on identical stored floats);
    // centroid components divide on the +2·10⁶ OFFSET so the numerator
    // is non-negative and Spark's truncating div == DuckDB's floor //
    // (the q391 non-negative-div parity rule — components here are
    // signed, unlike the ln keys); the label×label distance join runs
    // on the tiny (labels × dims) centroid grain.
    "q408_label_centroids" -> ((s, dir) => {
      val off = 2000000L // |x| <= 2 by contract; quantized offset
      val c = Tables.embeddings(s, dir)
        .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
        .groupBy(col("label"), col("dim").cast("long").as("dim"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("x").cast("double") * 1e6).cast("long")).as("sq"))
        .withColumn("c_q", expr(s"(sq + n * ${off}L) div n - ${off}L"))
        .select(col("label"), col("dim"), col("c_q"))
      c.as("a").join(c.as("b"), "dim")
        .filter(col("a.label") < col("b.label"))
        .select(col("a.label").as("la"), col("b.label").as("lb"),
          ((col("a.c_q") - col("b.c_q")) *
            (col("a.c_q") - col("b.c_q"))).as("d2"))
        .groupBy(col("la"), col("lb"))
        .agg(count(lit(1)).as("n_dims"), sum(col("d2")).as("dist2_q"))
    }),


    // Vocabulary COVERAGE curve — the tokenizer-budget read ("what share
    // of corpus token instances does a top-k vocab cover?"): term
    // frequencies fold once (map-side partial), the VOCAB grain —
    // aggregated by construction — ranks by (freq desc, term) in one
    // window, and the inclusive frequency prefix at k ∈ {100, 1000,
    // 10000} over the corpus total gives exact coverage ppm. The only
    // windows run on the distinct-term frame; the corpus total attaches
    // as the audited scalar-agg broadcast.
    "q405_vocab_coverage" -> ((s, dir) => {
      val tf = Tables.documents(s, dir)
        .select(explode(text.TextOps.tokens(col("text"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("f"))
      val wOrd = Window.orderBy(col("f").desc, col("w").asc)
      val ranked = tf
        .withColumn("rk", row_number().over(wOrd).cast("long"))
        .withColumn("cum_f", sum(col("f")).over(
          wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      ranked
        .crossJoin(broadcast(tf.agg(sum(col("f")).as("total_f"),
          count(lit(1)).as("n_terms"))))
        .withColumn("k", explode(array(lit(100L), lit(1000L), lit(10000L))))
        .filter(col("rk") === least(col("k"), col("n_terms")))
        .select(col("k"), col("n_terms"), col("total_f"),
          col("cum_f").as("covered_f"),
          expr("cum_f * 1000000 div total_f").as("coverage_ppm"))
    }),


    // Stratified QUOTA split — the eval-set construction op q44's
    // proportional hash split can't express ("exactly 20 eval docs per
    // language, deterministically"): per-stratum md5-order rank, first
    // `quota` rows are eval, the rest train. The rank is a PARTITIONED
    // window (per-stratum — the grouped-top-k tier, never a global
    // sort); the selection is a pure function of content, so any
    // cluster and the oracle reproduce it bit-for-bit.
    "q403_quota_split" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          size(text.TextOps.tokens(col("text"))).cast("long").as("n_tok"))
        .withColumn("sk", md5(col("doc_id").cast("string")))
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("sk"), col("doc_id"))
      d.withColumn("rk", row_number().over(w))
        .withColumn("split",
          when(col("rk") <= 20, lit("eval")).otherwise(lit("train")))
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("sum_tokens"))
    }),

    // Convergence-WITNESSED Lloyd k-means over the embeddings table —
    // the FOURTH dynamic-oracle kernel class (alternating minimization;
    // see ml.Kmeans for the exact-integer contract). Seeds are the k=4
    // vectors smallest by (md5(vec_id), vec_id) — content-deterministic,
    // no RNG; the stop witness is ZERO membership changes (or the
    // 12-round cap, with the realized change count riding the output).
    // The oracle unrolls exactly the realized rounds and recomputes
    // changed_last from its OWN last two assignment frames, so
    // termination is hash-checked, not trusted. Per-round cost: one
    // broadcast of the k·64 centroid grid against the exploded vector
    // frame — the 100 TB shape (centroids are always tiny; vectors
    // stream through one hash join + two partial aggregations).
    "q422_kmeans_converged" -> ((s, dir) => {
      val x = Tables.embeddings(s, dir)
        .select(col("vec_id"),
          posexplode(col("embedding")).as(Seq("dim", "v")))
        .select(col("vec_id"), col("dim").cast("long").as("dim"),
          floor(col("v").cast("double") * 1e6).cast("long").as("q"))
      val seeds = Tables.embeddings(s, dir)
        .select(col("vec_id"), md5(col("vec_id").cast("string")).as("sk"))
        .orderBy(col("sk"), col("vec_id")).limit(4)
        .withColumn("cid",
          row_number().over(Window.orderBy(col("sk"), col("vec_id")))
            .cast("long") - 1)
        .select(col("vec_id"), col("cid"))
      val (assign, _, round, changed) =
        ml.Kmeans.lloydConverged(x, seeds, maxRounds = 12)
      kmStopRound.set(round)
      assign.groupBy(col("cid"))
        .agg(count(lit(1)).as("n_vecs"), sum(col("dist2")).as("inertia_q"))
        .withColumn("stop_round", lit(round.toLong))
        .withColumn("changed_last", lit(changed))
    }),

    // t-CLOSENESS audit — the distributional member of the privacy
    // family (q283 k-anonymity counts rows, q384 l-diversity counts/
    // entropies values; this measures how far each QI cell's SENSITIVE
    // distribution drifts from the corpus-wide one). Sensitive attribute
    // o_orderpriority is ORDINAL, so t is the ordered earth-mover
    // distance: per cell, Σ|cumulative(q−p)| div (m−1) over the sv
    // alphabet in its natural order, everything in exact integer ppm.
    // Zero cells matter (a cell missing a priority IS drift), so the
    // alphabet+global-counts ride ONE keys=[] scalar-agg broadcast
    // (sort_array(collect_list(struct))) and explode back — the
    // BNLJ-audit-legal densification; the alphabet is bounded (5 values)
    // by construction. Cumulative windows sit on the (QI × sv) aggregate
    // grain, never on facts.
    "q423_t_closeness" -> ((s, dir) => {
      val base = Tables.orders(s, dir)
        .join(Tables.customer(s, dir),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_nationkey").cast("long").as("nk"),
          col("c_mktsegment").as("seg"), col("o_orderpriority").as("sv"))
      val cells = base.groupBy(col("nk"), col("seg"), col("sv"))
        .agg(count(lit(1)).as("c")).localCheckpoint(true)
      val galph = cells.groupBy(col("sv")).agg(sum(col("c")).as("gc"))
        .agg(ops.Stats.guardedAlphabetArray(
            sort_array(collect_list(struct(col("sv"), col("gc")))),
            maxLen = 64, device = "q423 sensitive alphabet").as("al"),
          sum(col("gc")).as("n_total"))
      val groups = cells.groupBy(col("nk"), col("seg"))
        .agg(sum(col("c")).as("n"))
      val wCum = Window.partitionBy(col("nk"), col("seg"))
        .orderBy(col("sv"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val emd = groups.crossJoin(broadcast(galph))
        .select(col("nk"), col("seg"), col("n"), col("n_total"),
          size(col("al")).cast("long").as("m"), explode(col("al")).as("a"))
        .select(col("nk"), col("seg"), col("n"), col("n_total"), col("m"),
          col("a.sv").as("sv"), col("a.gc").as("gc"))
        .join(cells, Seq("nk", "seg", "sv"), "left_outer")
        .withColumn("c", coalesce(col("c"), lit(0L)))
        .withColumn("diff_ppm",
          expr("c * 1000000 div n - gc * 1000000 div n_total"))
        .withColumn("cum_ppm", sum(col("diff_ppm")).over(wCum))
        .groupBy(col("nk"), col("seg"), col("n"), col("m"))
        .agg(sum(abs(col("cum_ppm"))).as("absum_ppm"))
        .select(col("nk"), col("seg"), col("n"),
          expr("absum_ppm div (m - 1)").as("t_ppm"))
        .localCheckpoint(true)
      emd.crossJoin(broadcast(emd.agg(max(col("t_ppm")).as("max_t_ppm"))))
    }),

    // Benjamini–Hochberg FDR step-up over the per-event-type SRM family
    // (q208/q388 test ONE split; a real experimentation platform tests
    // MANY and must control the false-discovery rate across them). Each
    // event type's odd/even user split yields an exact z² statistic —
    // the split form a·10⁶ + b·10⁶ div n with (a, b) = divmod((2·odd −
    // n)², n) keeps every intermediate ≤ n²·2 (Long-safe to n ≈ 3·10⁹
    // per hypothesis; the plain (…)²·10⁶ form would wrap at n ≥ 3·10⁶ —
    // the round-11 ADVICE overflow class) — and the Chebyshev bound
    // p ≤ 1/z² gives a REAL (conservative) p-value in exact ppm, no
    // erf needed. The step-up is division-free: reject the prefix up to
    // the largest rank with p_ppm·m·20 ≤ 10⁶·rk (α = 0.05). Windows sit
    // on the event-type aggregate grain; m and k* attach as keys=[]
    // scalar-agg broadcasts.
    "q424_bh_fdr" -> ((s, dir) => {
      val h = Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum((col("user_id") % 2 === 1).cast("long")).as("n_odd"))
        .withColumn("z2_micro", expr(
          "((2 * n_odd - n) * (2 * n_odd - n) div n) * 1000000" +
            " + ((2 * n_odd - n) * (2 * n_odd - n) % n) * 1000000 div n"))
        .withColumn("p_ppm", least(lit(1000000L),
          expr("1000000000000 div greatest(z2_micro, 1)")))
      // no checkpoint before the rank: the partition-less window must sit
      // directly on the event-type Aggregate for the whole-map audit's
      // bounded-frame rule (a LogicalRDD leaf would hide the shape);
      // the hypothesis grain is a handful of rows, recompute is free
      val ranked = h
        .withColumn("rk",
          row_number().over(
            Window.orderBy(col("p_ppm"), col("event_type"))).cast("long"))
        .crossJoin(broadcast(h.agg(count(lit(1)).as("m"))))
        .withColumn("pass_bh",
          col("p_ppm") * col("m") * 20 <= lit(1000000L) * col("rk"))
      ranked.crossJoin(broadcast(ranked.agg(
          max(when(col("pass_bh"), col("rk")).otherwise(lit(0L)))
            .as("k_star"))))
        .select(col("event_type"), col("n"), col("n_odd"), col("z2_micro"),
          col("p_ppm"), col("rk"), col("pass_bh"),
          (col("rk") <= col("k_star")).as("rejected"))
    }),

    // BENJAMINI–YEKUTIELI step-up (round 13) — q424's BH guarantee
    // holds only under independence/PRDS; BY divides the threshold by
    // the harmonic factor c(m) = Σ 1/i and controls FDR under ARBITRARY
    // dependence — the honest default when the hypotheses share users.
    // c(m) quantizes as Σ(10⁶ div i) over the realized ranks (declared
    // truncating terms, both engines), and the pass test multiplies
    // through — p·m·c_ppm·20 ≤ 10⁶·rk·10⁶ — so the whole chain stays
    // division-free integers. Same Chebyshev p_ppm family and
    // hypothesis-grain windows as q424/q465.
    "q482_by_fdr" -> ((s, dir) => {
      val h = Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum((col("user_id") % 2 === 1).cast("long")).as("n_odd"))
        .withColumn("z2_micro", expr(
          "((2 * n_odd - n) * (2 * n_odd - n) div n) * 1000000" +
            " + ((2 * n_odd - n) * (2 * n_odd - n) % n) * 1000000 div n"))
        .withColumn("p_ppm", least(lit(1000000L),
          expr("1000000000000 div greatest(z2_micro, 1)")))
      val ranked = h
        .withColumn("rk",
          row_number().over(
            Window.orderBy(col("p_ppm"), col("event_type"))).cast("long"))
      val dims = ranked.agg(count(lit(1)).as("m"),
        sum(expr("1000000 div rk")).as("c_ppm"))
      val flagged = ranked.crossJoin(broadcast(dims))
        .withColumn("pass_by", expr(
          "p_ppm * m * c_ppm * 20 <= 1000000 * rk * 1000000"))
      flagged.crossJoin(broadcast(flagged.agg(
          max(when(col("pass_by"), col("rk")).otherwise(lit(0L)))
            .as("k_star"))))
        .select(col("event_type"), col("n"), col("n_odd"), col("z2_micro"),
          col("p_ppm"), col("rk"), col("m"), col("c_ppm"), col("pass_by"),
          (col("rk") <= col("k_star")).as("rejected"))
    }),


    // Holm step-DOWN — FWER control next to q424's FDR step-up (Holm
    // rejects only while EVERY smaller p has also rejected, so the
    // rejection set is a prefix-AND — the waterfill capped-set device
    // applied to inference): same Chebyshev p_ppm family, threshold
    // p·(m−rk+1)·20 ≤ 10⁶ (α = 0.05, division-free), rejected =
    // running AND of the flag in p order. Hypothesis-grain windows only.
    "q465_holm_stepdown" -> ((s, dir) => {
      val h = Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum((col("user_id") % 2 === 1).cast("long")).as("n_odd"))
        .withColumn("z2_micro", expr(
          "((2 * n_odd - n) * (2 * n_odd - n) div n) * 1000000" +
            " + ((2 * n_odd - n) * (2 * n_odd - n) % n) * 1000000 div n"))
        .withColumn("p_ppm", least(lit(1000000L),
          expr("1000000000000 div greatest(z2_micro, 1)")))
      val wOrd = Window.orderBy(col("p_ppm"), col("event_type"))
      h.withColumn("rk", row_number().over(wOrd).cast("long"))
        .crossJoin(broadcast(h.agg(count(lit(1)).as("m"))))
        .withColumn("flag",
          (col("p_ppm") * (col("m") - col("rk") + 1) * 20
            <= lit(1000000L)).cast("long"))
        .withColumn("rejected",
          min(col("flag")).over(
            wOrd.rowsBetween(Window.unboundedPreceding,
              Window.currentRow)) === 1L)
        .select(col("event_type"), col("n"), col("n_odd"), col("z2_micro"),
          col("p_ppm"), col("rk"), col("rejected"))
    }),

    // Kaplan–Meier product-limit survival — the estimator q319's
    // Nelson–Aalen hazard is the increment form of, over the IDENTICAL
    // first-event → first-purchase lifetime derivation (conversion =
    // death, last activity = censoring). The survival product stays
    // exact-integer by living in LOG space: each exit day contributes
    // lnq(n_risk − n_event) − lnq(n_risk) with lnq(x) = floor(10⁶·ln x)
    // on INTEGER arguments (the q384 µnat rule — integer-argument logs
    // are the bit-stable cross-engine form), and the cumulative sum of
    // pre-quantized terms is order-free. A day where every at-risk user
    // converts drives survival to exactly 0 — from that day on the log
    // is undefined, so s_zero flags the regime and s_ln_micro goes NULL
    // (declared, oracle-mirrored). One fact pass; windows on the
    // exit-day aggregate grain.
    "q425_kaplan_meier" -> ((s, dir) => {
      def lnMicro(c: Column): Column =
        floor(lit(1e6) * log(c.cast("double"))).cast("long")
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
        .withColumn("ln_inc_micro",
          when(col("n_event") < col("n_risk"),
            lnMicro(col("n_risk") - col("n_event"))
              - lnMicro(col("n_risk")))
            .otherwise(lit(null).cast("long")))
        .withColumn("s_zero",
          max((col("n_event") === col("n_risk")).cast("long")).over(
            wPrior.rowsBetween(Window.unboundedPreceding,
              Window.currentRow)))
        .withColumn("s_ln_micro",
          when(col("s_zero") === 1, lit(null).cast("long"))
            .otherwise(sum(coalesce(col("ln_inc_micro"), lit(0L))).over(
              wPrior.rowsBetween(Window.unboundedPreceding,
                Window.currentRow))))
        .select(col("t_day"), col("n_risk"), col("n_event"),
          col("n_censored"), col("ln_inc_micro"), col("s_ln_micro"),
          col("s_zero"))
    }),

    // Adamic–Adar link prediction over the order-basket bipartite graph
    // (q313's covisitation counts common baskets; AA discounts each
    // common basket by 1/ln(its size), so promiscuous baskets predict
    // less). Exact integers end-to-end: per kept basket, inv_micro =
    // 10¹² div lnq(basket_size) with the same integer-argument µnat log
    // as q425; pair score = Σ inv_micro over common baskets. Scale
    // guard: baskets > 20 items are DROPPED before the within-basket
    // self-join (the q313 cap — candidate volume Σ min(bs,20)², stated
    // in the oracle), and only pairs sharing ≥ 2 baskets surface (the
    // link-prediction read; singleton co-occurrence is noise).
    "q426_adamic_adar" -> ((s, dir) => {
      val items = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("bk"), col("l_partkey").as("it"))
        .distinct()
      val sized = items
        .withColumn("bs", count(lit(1)).over(
          Window.partitionBy(col("bk"))))
        .filter(col("bs") >= 2 && col("bs") <= 20)
        .withColumn("lnq",
          floor(lit(1e6) * log(col("bs").cast("double"))).cast("long"))
        .withColumn("inv_micro", expr("1000000000000 div lnq"))
        .localCheckpoint(true)
      sized.as("a").join(sized.as("b"),
          col("a.bk") === col("b.bk") && col("a.it") < col("b.it"))
        .groupBy(col("a.it").as("item_a"), col("b.it").as("item_b"))
        .agg(count(lit(1)).as("n_common"),
          sum(col("a.inv_micro")).as("aa_micro"))
        .filter(col("n_common") >= 2)
    }),

    // Log-rank test — the INFERENTIAL member of the survival family
    // (q264 life table, q319 hazard, q425 survival curve — this one asks
    // "do the odd and even user cohorts convert at the same rate?").
    // Per exit day: group-1 observed events vs hypergeometric expecteds
    // e1 = d·n1/n and variance v = d·(n1/n)(n0/n)(n−d)/(n−1), every
    // factor a STAGED ppm division (a_ppm·b_ppm div 10⁶ chains keep all
    // intermediates ≤ d·10¹² — Long-safe at any realistic cohort size;
    // the single-expression product would wrap at ~10⁴ users, the q424
    // overflow class). The statistic folds once: z²_milli =
    // (ΣO−ΣE div 10³)² div (ΣV div 10³) — milli-scaled so the square
    // stays Long-safe to ~3·10⁶ expected-event units. Windows on the
    // exit-day aggregate grain only.
    "q428_logrank" -> ((s, dir) => {
      val perUser = Tables.events(s, dir)
        .select(col("user_id"),
          unix_micros(col("ts").cast("timestamp")).as("us"),
          (col("event_type") === "purchase").as("isp"))
        .groupBy(col("user_id"))
        .agg(min(col("us")).as("first_us"),
          min(when(col("isp"), col("us"))).as("conv_us"),
          max(col("us")).as("last_us"))
        .select((col("user_id") % 2).as("g"),
          col("conv_us").isNotNull.cast("long").as("event"),
          expr("(coalesce(conv_us, last_us) - first_us) div 86400000000")
            .as("t_day"))
      val exits = perUser.groupBy(col("t_day"))
        .agg(count(lit(1)).as("x_all"), sum(col("event")).as("d_all"),
          sum(col("g")).as("x_g1"),
          sum(col("g") * col("event")).as("d_g1"))
      val totals = perUser.agg(count(lit(1)).as("n_all_0"),
        sum(col("g")).as("n_g1_0"))
      val wPrior = Window.orderBy(col("t_day"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val perDay = exits.crossJoin(broadcast(totals))
        .withColumn("n_all",
          col("n_all_0") - coalesce(sum(col("x_all")).over(wPrior), lit(0L)))
        .withColumn("n_g1",
          col("n_g1_0") - coalesce(sum(col("x_g1")).over(wPrior), lit(0L)))
        .withColumn("e1_micro", expr("d_all * n_g1 * 1000000 div n_all"))
        .withColumn("a_ppm", expr("n_g1 * 1000000 div n_all"))
        .withColumn("b_ppm", expr("(n_all - n_g1) * 1000000 div n_all"))
        .withColumn("c_ppm", expr(
          "(n_all - d_all) * 1000000 div greatest(n_all - 1, 1)"))
        .withColumn("v_micro", expr(
          "((d_all * a_ppm * b_ppm) div 1000000 * c_ppm) div 1000000"))
        .select(col("t_day"), col("n_all"), col("n_g1"), col("d_all"),
          col("d_g1"), col("e1_micro"), col("v_micro"))
        .localCheckpoint(true)
      // abs BEFORE the milli-scaling: the (O−E) sum is signed, and
      // Spark's truncating div disagrees with DuckDB's floor div on
      // negative numerators — the square is sign-free anyway
      perDay.crossJoin(broadcast(perDay.agg(
          abs(sum(col("d_g1") * 1000000L - col("e1_micro"))).as("num_abs"),
          sum(col("v_micro")).as("v_sum_micro"))
        .select(expr("(num_abs div 1000) * (num_abs div 1000)" +
            " div greatest(v_sum_micro div 1000, 1)").as("z2_milli"))))
    }),

    // G² log-likelihood-ratio independence test — q236's chi-square
    // sibling on the same event-type × user-parity contingency, in the
    // µnat algebra the entropy family already speaks: each cell
    // contributes 2·O·(lnq(O·N) − lnq(R·C)) since O/E = O·N/(R·C), with
    // lnq the integer-argument floor-µnat log (bit-stable cross-engine,
    // the q384 rule; O = 0 cells contribute exactly 0 by the limit,
    // guarded with a CASE on both sides). Cell grain only; the total and
    // degrees of freedom attach as keys=[] scalar-agg broadcasts.
    "q429_g2_independence" -> ((s, dir) => {
      def lnMicro(c: Column): Column =
        floor(lit(1e6) * log(c.cast("double"))).cast("long")
      val cell = Tables.events(s, dir)
        .groupBy(col("event_type").as("t"), (col("user_id") % 2).as("g"))
        .agg(count(lit(1)).as("o"))
      val shaped = cell
        .withColumn("r", sum(col("o")).over(
          Window.partitionBy(col("t"))))
        .withColumn("c", sum(col("o")).over(
          Window.partitionBy(col("g"))))
        .crossJoin(broadcast(
          cell.agg(sum(col("o")).as("n"),
            countDistinct(col("t")).as("nt"),
            countDistinct(col("g")).as("ng"))))
        .withColumn("term_micro",
          when(col("o") > 0,
            lit(2L) * col("o")
              * (lnMicro(col("o") * col("n")) - lnMicro(col("r") * col("c"))))
            .otherwise(lit(0L)))
        .select(col("t"), col("g"), col("o"), col("r"), col("c"),
          col("term_micro"),
          ((col("nt") - 1) * (col("ng") - 1)).as("dof"))
        .localCheckpoint(true)
      shaped.crossJoin(broadcast(
        shaped.agg(sum(col("term_micro")).as("g2_micro"))))
    }),

    // THEIL'S U uncertainty coefficients (round 13) — the DIRECTIONAL
    // member completing the association family (q236 χ², q429 G², q478
    // V, q302 MI): U(t|g) = MI/H(t) answers "how much of t does knowing
    // g explain" on a 0–1 scale, and U(t|g) ≠ U(g|t) when the marginals
    // differ. Same contingency and lnq = floor(10⁶·ln x) integer-
    // argument quantization as q429; every entropy is n-SCALED so the
    // whole chain stays integer — Hn(t)µ = n·lnq(n) − Σ r·lnq(r),
    // MIn·µ = Σ o·(lnq(o·n) − lnq(r·c)), U_ppm one final integer div.
    "q483_theils_u" -> ((s, dir) => {
      def lnMicro(c: Column): Column =
        floor(lit(1e6) * log(c.cast("double"))).cast("long")
      val cell = Tables.events(s, dir)
        .groupBy(col("event_type").as("t"), (col("user_id") % 2).as("g"))
        .agg(count(lit(1)).as("o"))
        .localCheckpoint(true)
      val n1 = cell.agg(sum(col("o")).as("n"))
      val ht = cell.groupBy(col("t")).agg(sum(col("o")).as("r"))
        .crossJoin(broadcast(n1))
        .agg((max(col("n")) * lnMicro(max(col("n")))
          - sum(col("r") * lnMicro(col("r")))).as("ht_micro"))
      val hg = cell.groupBy(col("g")).agg(sum(col("o")).as("c"))
        .crossJoin(broadcast(n1))
        .agg((max(col("n")) * lnMicro(max(col("n")))
          - sum(col("c") * lnMicro(col("c")))).as("hg_micro"))
      val mi = cell
        .withColumn("r", sum(col("o")).over(Window.partitionBy(col("t"))))
        .withColumn("c", sum(col("o")).over(Window.partitionBy(col("g"))))
        .crossJoin(broadcast(n1))
        .agg(sum(when(col("o") > 0,
          col("o") * (lnMicro(col("o") * col("n"))
            - lnMicro(col("r") * col("c")))).otherwise(lit(0L)))
          .as("mi_micro"))
      n1.crossJoin(broadcast(mi)).crossJoin(broadcast(ht))
        .crossJoin(broadcast(hg))
        .withColumn("u_tg_ppm",
          expr("mi_micro * 1000000 div greatest(ht_micro, 1)"))
        .withColumn("u_gt_ppm",
          expr("mi_micro * 1000000 div greatest(hg_micro, 1)"))
        .select(col("n"), col("mi_micro"), col("ht_micro"),
          col("hg_micro"), col("u_tg_ppm"), col("u_gt_ppm"))
    }),


    // Davies–Bouldin cluster-quality audit — q422's serve split: the
    // Lloyd fit persists ONLY the final membership (vec_id, cid) once,
    // and EVERYTHING downstream is plain relational algebra both engines
    // state over the stored rows + the embeddings table: per-cluster
    // OFFSET-div centroids, mean squared scatter (Σdist² div n·D stays
    // per-dim scaled), pairwise centroid separations on the k² grain,
    // and DB_i = max_j (s_i + s_j)·10⁶ div sep²_ij. No unrolled oracle
    // needed — the fit's only export is the assignment artifact (the
    // q26/q38 persisted-serve recipe applied to clustering).
    "q430_cluster_quality" -> ((s, dir) => {
      val x = Tables.embeddings(s, dir)
        .select(col("vec_id"),
          posexplode(col("embedding")).as(Seq("dim", "v")))
        .select(col("vec_id"), col("dim").cast("long").as("dim"),
          floor(col("v").cast("double") * 1e6).cast("long").as("q"))
      val seeds = Tables.embeddings(s, dir)
        .select(col("vec_id"), md5(col("vec_id").cast("string")).as("sk"))
        .orderBy(col("sk"), col("vec_id")).limit(4)
        .withColumn("cid",
          row_number().over(Window.orderBy(col("sk"), col("vec_id")))
            .cast("long") - 1)
        .select(col("vec_id"), col("cid"))
      // the quality read is valid for ANY fitted membership and the oracle
      // replays the stored artifact — 4 rounds (q422 owns convergence)
      val (assign, _, _, _) = ml.Kmeans.lloydConverged(x, seeds, maxRounds = 4)
      assign.select(col("vec_id"), col("cid")).coalesce(1)
        .write.mode("overwrite").parquet(predsPath("q430_assign"))
      val stored = s.read.parquet(predsPath("q430_assign"))
      val cent = stored.join(x, "vec_id")
        .groupBy(col("cid"), col("dim"))
        .agg(count(lit(1)).as("n"), sum(col("q")).as("sq"))
        .select(col("cid"), col("dim"),
          expr("(sq + n * 2000000) div n - 2000000").as("c_q"))
        .localCheckpoint(true)
      val scat = stored.join(x, "vec_id")
        .join(cent, Seq("cid", "dim"))
        .groupBy(col("cid"))
        .agg(countDistinct(col("vec_id")).as("n_vecs"),
          sum((col("q") - col("c_q")) * (col("q") - col("c_q"))).as("ss"))
        .select(col("cid"), col("n_vecs"),
          expr("ss div n_vecs").as("scatter2"))
      val sep = cent.as("a").join(cent.as("b"),
          col("a.dim") === col("b.dim") && col("a.cid") =!= col("b.cid"))
        .groupBy(col("a.cid").as("ci"), col("b.cid").as("cj"))
        .agg(sum((col("a.c_q") - col("b.c_q"))
          * (col("a.c_q") - col("b.c_q"))).as("sep2"))
      val db = sep
        .join(scat.select(col("cid").as("ci"), col("scatter2").as("si")),
          "ci")
        .join(scat.select(col("cid").as("cj"), col("scatter2").as("sj")),
          "cj")
        .groupBy(col("ci").as("cid"))
        .agg(max(expr("(si + sj) * 1000000 div greatest(sep2, 1)"))
          .as("db_component_ppm"))
      val out = scat.join(db, "cid").localCheckpoint(true)
      out.crossJoin(broadcast(out
        .agg(sum(col("db_component_ppm")).as("sdb"), count(lit(1)).as("k"))
        .select(expr("sdb div k").as("db_index_ppm"))))
    }),

    // Model-based quality GATE — the per-document consumer of q115's
    // interpolated-bigram cross-entropy (the CCNet-direction "perplexity
    // filter" every crawl pipeline runs before an expensive classifier):
    // docs scoring above 1.25× the exact corpus lower-median NLL are
    // flagged, cross-multiplied (nll·100 > med·125, division-free), and
    // the per-source cut rate is the curation read. The median rides
    // distributedRank + the keys=[] one-row fold (the q410 device);
    // sub-2-token docs have no bigrams and are dropped by the scorer
    // (inner join — declared, oracle-mirrored).
    "q431_lm_quality_gate" -> ((s, dir) => {
      val nll = text.Lm.bigramLogLoss(
          Tables.documents(s, dir), "doc_id", "text")
        .localCheckpoint(true)
      val med = ops.Stats.distributedRank(nll, "nll_q",
          tieBreak = Seq("doc_id"), out = "_rn", bucketWidth = 1L << 16)
        .crossJoin(broadcast(nll.agg(count(lit(1)).as("_n"))))
        .filter(col("_rn") === expr("(_n + 1) div 2"))
        .agg(max(col("nll_q")).as("med_nll_q"))
      nll.crossJoin(broadcast(med))
        .withColumn("flagged",
          (col("nll_q") * 100 > col("med_nll_q") * 125).cast("long"))
        .join(Tables.documents(s, dir)
          .select(col("doc_id"), col("source")), "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("flagged")).as("n_flagged"),
          max(col("med_nll_q")).as("med_nll_q"))
        .withColumn("flag_ppm", expr("n_flagged * 1000000 div n_docs"))
    }),

    // ROUGE-N overlap eval over the q16 MinHash candidate pairs — the
    // summarization/dedup eval metric on the pairs the LSH screen already
    // surfaced (never all-pairs): clipped n-gram overlap Σ min(tf_a,
    // tf_b) per pair for n ∈ {1, 2}, recall/precision against each
    // side's total gram mass, F1 = 2PR div (P+R), all in exact ppm. The
    // per-pair gram join is keyed (doc, gram) — candidate volume is the
    // LSH bucket bound, gram mass per doc is linear.
    "q432_rouge_ngram_eval" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = llm.Dedup.candidatePairs(
          llm.Dedup.bandBuckets(docs, "doc_id", "text",
            numHashes = 6, bands = 3, shingleWidth = 3), "doc_id")
        .localCheckpoint(true)
      // gram mass only for docs the LSH screen actually paired — the
      // broadcast-semi-prune-before-the-shuffle pattern (q233): at corpus
      // scale the paired set is a sliver of the corpus, so the tf
      // aggregation must never shuffle unpaired docs' grams
      val paired = pairs.select(col("a_doc").as("doc_id"))
        .unionByName(pairs.select(col("b_doc").as("doc_id")))
        .distinct()
      def tf(n: Int): DataFrame = docs
        .join(paired, Seq("doc_id"), "left_semi")
        .select(col("doc_id"),
          explode(text.TextOps.ngrams(text.TextOps.tokens(col("text")), n))
            .as("g"))
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("tf"))
      def rouge(n: Int): DataFrame = {
        val t = tf(n).localCheckpoint(true)
        val tot = t.groupBy(col("doc_id")).agg(sum(col("tf")).as("tot"))
        pairs
          .join(t.select(col("doc_id").as("a_doc"), col("g"),
            col("tf").as("tfa")), Seq("a_doc"))
          .join(t.select(col("doc_id").as("b_doc"), col("g"),
            col("tf").as("tfb")), Seq("b_doc", "g"))
          .groupBy(col("a_doc"), col("b_doc"))
          .agg(sum(least(col("tfa"), col("tfb"))).as("clip"))
          .join(tot.select(col("doc_id").as("a_doc"), col("tot").as("ta")),
            Seq("a_doc"))
          .join(tot.select(col("doc_id").as("b_doc"), col("tot").as("tb")),
            Seq("b_doc"))
          .select(col("a_doc"), col("b_doc"), lit(n.toLong).as("n"),
            col("clip"),
            expr("clip * 1000000 div ta").as("p_ppm"),
            expr("clip * 1000000 div tb").as("r_ppm"))
          .withColumn("f1_ppm",
            expr("2 * p_ppm * r_ppm div greatest(p_ppm + r_ppm, 1)"))
      }
      rouge(1).unionByName(rouge(2))
    }),

    // Isotonic calibration (PAVA) over q310's reliability bins — the
    // monotone-fit step a real calibration pipeline runs after reading
    // the ECE: fitted_k = max_{i≤k} min_{j≥k} avg(pos, i..j) (the
    // classical minimax characterization of the pool-adjacent-violators
    // fit — monotone by construction), with every interval average the
    // declared quantization Σpos·10⁶ div Σn. The bin frame is ≤10 rows,
    // so the whole minimax folds through ONE keys=[] collect_list row
    // and array lambdas (sequence/transform/array_min/max — codegen'd
    // collection expressions, no O(n²) join ever touches fact scale;
    // the oracle states the same integers via an interval triple-join
    // on its tiny bin CTE).
    "q433_isotonic_calibration" -> ((s, dir) => {
      val nOrd = Tables.orders(s, dir)
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_ord"))
      val base = Tables.customer(s, dir)
        .select(col("c_custkey"),
          (col("c_acctbal").cast("decimal(30,2)") * 100).cast("long")
            .as("x"))
        .join(nOrd, col("c_custkey") === col("o_custkey"), "left")
        .withColumn("label",
          when(coalesce(col("n_ord"), lit(0L)) >= 2, 1L).otherwise(0L))
      val rk = ops.Stats.distributedRank(
        base, "x", tieBreak = Seq("c_custkey"), out = "rn",
        bucketWidth = 1L << 14)
      val bins = rk
        .crossJoin(broadcast(rk.agg(count(lit(1)).as("nc"))))
        .withColumn("conf_ppm", expr("(rn - 1) * 1000000 div (nc - 1)"))
        .withColumn("bin", least(expr("conf_ppm div 100000"), lit(9L)))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_b"), sum(col("label")).as("pos"))
      val packed = bins
        .agg(ops.Stats.guardedAlphabetArray(
          sort_array(collect_list(
            struct(col("bin"), col("n_b"), col("pos")))),
          maxLen = 64, device = "q433 reliability-bin frame").as("bs"))
        .select(col("bs"),
          expr("transform(sequence(0, size(bs)), t -> " +
            "aggregate(slice(bs, 1, t), bigint(0), (a, x) -> a + x.n_b))")
            .as("cn0"),
          expr("transform(sequence(0, size(bs)), t -> " +
            "aggregate(slice(bs, 1, t), bigint(0), (a, x) -> a + x.pos))")
            .as("cp0"))
      packed
        .select(posexplode(col("bs")).as(Seq("kx", "b")),
          col("bs"), col("cn0"), col("cp0"))
        .select(col("b.bin").as("bin"), col("b.n_b").as("n_b"),
          col("b.pos").as("pos"),
          (col("kx") + 1).as("k"), size(col("bs")).as("m"),
          col("cn0"), col("cp0"))
        .withColumn("raw_ppm", expr("pos * 1000000 div n_b"))
        .withColumn("iso_ppm", expr(
          "array_max(transform(sequence(1, k), i -> " +
            "array_min(transform(sequence(k, m), j -> " +
            "(element_at(cp0, j + 1) - element_at(cp0, i)) * 1000000 div " +
            "(element_at(cn0, j + 1) - element_at(cn0, i))))))"))
        .select(col("bin"), col("n_b"), col("pos"), col("raw_ppm"),
          col("iso_ppm"))
    }),

    // Sequence-length planning curve — q400 reads padding waste at ONE
    // max_len; this sweeps the grid a pipeline actually chooses from:
    // per candidate length, exact chunk counts ⌈n_tok/L⌉ (integer
    // (n+L−1) div L), padded vs real token mass, waste ppm. One linear
    // pass; the grid explode multiplies the doc-grain rollup, never the
    // token grain.
    "q434_pack_efficiency_curve" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(size(text.TextOps.tokens(col("text"))).cast("long")
          .as("n_tok"))
        .filter(col("n_tok") > 0)
        .withColumn("max_len",
          explode(array(lit(128L), lit(256L), lit(512L), lit(1024L))))
        .withColumn("chunks", expr("(n_tok + max_len - 1) div max_len"))
        .groupBy(col("max_len"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("real_tokens"),
          sum(col("chunks") * col("max_len")).as("padded_tokens"),
          sum(col("chunks")).as("n_chunks"))
        .withColumn("waste_ppm", expr(
          "(padded_tokens - real_tokens) * 1000000 div padded_tokens"))
    }),

    // McNemar's paired test over q401's two deterministic raters — the
    // PAIRED member of the agreement family (kappa measures agreement;
    // McNemar asks whether the DISAGREEMENTS are one-sided, i.e. whether
    // rater B systematically flags what rater A passes): χ² = (b−c)²/(b+c)
    // over the discordant cells only, exact micro via the q424 split-div
    // device, flagged against the declared χ²₁,₀.₀₅ = 3.841459 quantile
    // (a stated constant, not a computed CDF). One corpus-level row.
    "q438_mcnemar" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .select(col("n_chars").cast("long").as("n_chars"),
          text.TextOps.tokens(col("text")).as("ts"))
        .select(
          (size(array_distinct(col("ts"))) * 2 > size(col("ts")))
            .cast("long").as("ra"),
          (col("n_chars") > size(col("ts")).cast("long") * 5L)
            .cast("long").as("rb"))
      d.agg(count(lit(1)).as("n"),
          sum(when(col("ra") === 1 && col("rb") === 1, 1L).otherwise(0L))
            .as("n11"),
          sum(when(col("ra") === 1 && col("rb") === 0, 1L).otherwise(0L))
            .as("n10"),
          sum(when(col("ra") === 0 && col("rb") === 1, 1L).otherwise(0L))
            .as("n01"),
          sum(when(col("ra") === 0 && col("rb") === 0, 1L).otherwise(0L))
            .as("n00"))
        .withColumn("mcnemar_micro", expr(
          "((n10 - n01) * (n10 - n01) div greatest(n10 + n01, 1)) * 1000000" +
            " + ((n10 - n01) * (n10 - n01) % greatest(n10 + n01, 1))" +
            " * 1000000 div greatest(n10 + n01, 1)"))
        .withColumn("significant", col("mcnemar_micro") > 3841459L)
    }),

    // Mantel–Haenszel pooled odds ratio — the STRATIFIED member of the
    // experiment family (q265 tests one 2×2; MH pools per-stratum 2×2
    // tables without letting a confounded stratum mix Simpson-style):
    // strata = language, treatment = doc parity, outcome = the lexical-
    // diversity rater. OR_MH = Σ(aᵢdᵢ/nᵢ) / Σ(bᵢcᵢ/nᵢ), each term the
    // declared a·d·10⁶ div n quantization (non-negative — truncating div
    // == floor), the final ratio one more guarded div. Per-stratum rows
    // ride with the pooled estimate attached as a keys=[] broadcast.
    "q439_mantel_haenszel" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .select(col("lang"), (col("doc_id") % 2).as("t"),
          (size(array_distinct(text.TextOps.tokens(col("text")))) * 2
            > size(text.TextOps.tokens(col("text"))))
            .cast("long").as("y"))
      val strat = d.groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("t") === 1 && col("y") === 1, 1L).otherwise(0L))
            .as("a"),
          sum(when(col("t") === 1 && col("y") === 0, 1L).otherwise(0L))
            .as("b"),
          sum(when(col("t") === 0 && col("y") === 1, 1L).otherwise(0L))
            .as("c"),
          sum(when(col("t") === 0 && col("y") === 0, 1L).otherwise(0L))
            .as("d"))
        .withColumn("num_micro", expr("a * d * 1000000 div n"))
        .withColumn("den_micro", expr("b * c * 1000000 div n"))
        .localCheckpoint(true)
      strat.crossJoin(broadcast(strat
        .agg(sum(col("num_micro")).as("num_sum"),
          sum(col("den_micro")).as("den_sum"))
        .select(expr("num_sum * 1000000 div greatest(den_sum, 1)")
          .as("or_mh_ppm"))))
    }),

    // kNN-DENSITY outlier screen over embeddings — the DBSCAN
    // core-distance read, cell-bounded (never all-pairs): the IVF index
    // routes each vector to its nprobe=2 nearest cells, candidates cap
    // at ≤64 in md5 order (declared — Σ64 work per vector at any corpus
    // size), the capped pair set and unit vectors PERSIST once (the q94
    // split: the codebook-dependent probe is frozen in the artifact; the
    // exact quantized-dot re-rank is pure relational work both engines
    // replay). Core similarity = the min(8, candidates)-th highest dot;
    // a vector whose neighborhood is less than half the corpus median
    // (2·core < med — multiplication only, sign-safe) is isolated.
    "q441_knn_density" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val idx = llm.Similarity.fitIvfIndex(
        e.select(col("vec_id").as("n_id"), col("embedding").as("n_emb")),
        nlist = 16, persistCells = false)
      val wCap = Window.partitionBy(col("q_id"))
        .orderBy(md5(col("n_id").cast("string")), col("n_id"))
      val pairs = llm.Similarity.ivfCandidatePairs(idx,
          e.select(col("vec_id").as("q_id"), col("embedding").as("q_emb")),
          nprobe = 2)
        .withColumn("_rk", row_number().over(wCap))
        .filter(col("_rk") <= 64).drop("_rk")
      sources.Sources.writeParquet(pairs, predsPath("q441_pairs"))
      sources.Sources.writeParquet(
        llm.Similarity.unitVectors(e), predsPath("q441_units"))
      val u = s.read.parquet(predsPath("q441_units"))
      val st = s.read.parquet(predsPath("q441_pairs"))
      val wTop = Window.partitionBy(col("q_id"))
        .orderBy(col("dot_q").desc, col("n_id"))
      val core = st
        .join(u.select(col("vec_id").as("q_id"), col("unit").as("ua")),
          Seq("q_id"))
        .join(u.select(col("vec_id").as("n_id"), col("unit").as("ub")),
          Seq("n_id"))
        .select(col("q_id"), col("n_id"),
          llm.Similarity.quantizedDot(col("ua"), col("ub")).as("dot_q"))
        .withColumn("rk", row_number().over(wTop))
        .groupBy(col("q_id"))
        .agg(count(lit(1)).as("n_cands"),
          min(when(col("rk") <= 8, col("dot_q"))).as("core_sim_q"))
        .localCheckpoint(true)
      val med = ops.Stats.distributedRank(core, "core_sim_q",
          tieBreak = Seq("q_id"), out = "_rn", bucketWidth = 1L << 34)
        .crossJoin(broadcast(core.agg(count(lit(1)).as("_n"))))
        .filter(col("_rn") === expr("(_n + 1) div 2"))
        .agg(max(col("core_sim_q")).as("med_core_q"))
      core.crossJoin(broadcast(med))
        .withColumn("outlier", col("core_sim_q") * 2 < col("med_core_q"))
    }),

    // Fleiss' kappa — the MULTI-rater agreement coefficient closing the
    // family (q401 two-rater kappa, q438 McNemar, q447 Cochran's Q):
    // the same k=3 deterministic raters on the binary scale, chance-
    // corrected via the category-share expectation. Exact staged
    // integers: per-doc agreeing-pair counts Σ[p(p−1)+(3−p)(2−p)] fold
    // once; P̄ and the category shares quantize to ppm; Pe = share²
    // sums via div-10⁶ stages; κ = (P̄−Pe)·10⁶ div (10⁶−Pe), guarded.
    // O'BRIEN–FLEMING interim boundaries (round 13) — the conservative
    // sibling of q457's Pocock monitor, completing the group-sequential
    // pair every experimentation platform ships: where Pocock spends
    // alpha evenly (constant z boundary), OBF spends almost nothing
    // early (boundary z_k = C·sqrt(K/k), so z²_k·k ≥ C²·K — an exact
    // INTEGER product test, no sqrt needed). Same day-grain bucketing,
    // cumulative split-div z² micro-units, and declared constant
    // (C = 2.040 for K = 5 two-sided α = .05 → C²·K = 20 808 000 micro)
    // as q457; the per-interim boundary is also reported so the
    // decreasing spend is visible. Windows on the 5-row interim grain
    // only.
    "q473_obf_interims" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(expr(
          "cast(unix_micros(cast(ts as timestamp)) div 86400000000" +
            " as bigint)").as("d"))
        .agg(count(lit(1)).as("n"),
          sum((col("user_id") % 2 === 1).cast("long")).as("k"))
      val wOrd = Window.orderBy(col("d"))
      val interim = daily
        .withColumn("rn", row_number().over(wOrd).cast("long"))
        .crossJoin(broadcast(daily.agg(count(lit(1)).as("nd"))))
        .withColumn("interim", expr("least((rn - 1) * 5 div nd, 4)"))
        .groupBy(col("interim"))
        .agg(sum(col("n")).as("n_i"), sum(col("k")).as("k_i"))
      val wI = Window.orderBy(col("interim"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val z = interim
        .withColumn("n_cum", sum(col("n_i")).over(wI))
        .withColumn("k_cum", sum(col("k_i")).over(wI))
        .withColumn("z2_micro", expr(
          "((2 * k_cum - n_cum) * (2 * k_cum - n_cum) div n_cum)" +
            " * 1000000" +
            " + ((2 * k_cum - n_cum) * (2 * k_cum - n_cum) % n_cum)" +
            " * 1000000 div n_cum"))
        .withColumn("bound_micro", expr("20808000 div (interim + 1)"))
        .withColumn("crossed",
          expr("z2_micro * (interim + 1) > 20808000"))
        .localCheckpoint(true)
      z.crossJoin(broadcast(z.agg(
          min(when(col("crossed"), col("interim"))).as("first_cross"))))
        .select(col("interim"), col("n_cum"), col("k_cum"),
          col("z2_micro"), col("bound_micro"), col("crossed"),
          col("first_cross"))
    }),


    // PURGED K-fold time splits (round 13) — the leakage-safe
    // cross-validation recipe for temporal data (the standard purged-CV
    // construction): the date span partitions into K=5 contiguous test
    // windows by exact integer division; per fold, training rows inside
    // an EMBARGO of ±15 days around the test window are PURGED (near-
    // boundary rows leak label information through autocorrelation).
    // Everything is day-integer algebra off one global (min, max)
    // broadcast + one fact pass — pure filters, no window, no shuffle
    // beyond the final 5-row rollup; the fold frame is a 5-row
    // generator, so the fact join is the BNLJ-audit-legal scalar-
    // aggregate broadcast.
    "q469_purged_time_folds" -> ((s, dir) => {
      val k = 5
      val embargo = 15
      val o = Tables.orders(s, dir).select(
        datediff(col("o_orderdate"), lit("1970-01-01").cast("date"))
          .cast("long").as("d"))
      val span = o.agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
      val folds = span
        .select(col("lo"), (col("hi") - col("lo") + 1).as("w"),
          explode(sequence(lit(0L), lit(k - 1L))).as("fold"))
        .select(col("fold"),
          (col("lo") + expr("fold * w div 5")).as("t_lo"),
          (col("lo") + expr("(fold + 1) * w div 5") - 1).as("t_hi"))
      o.crossJoin(broadcast(folds))
        .groupBy(col("fold"), col("t_lo"), col("t_hi"))
        .agg(
          sum(when(col("d").between(col("t_lo"), col("t_hi")), 1L)
            .otherwise(0L)).as("n_test"),
          sum(when(!col("d").between(col("t_lo"), col("t_hi")) &&
              col("d").between(col("t_lo") - embargo, col("t_hi") + embargo),
            1L).otherwise(0L)).as("n_purged"),
          sum(when(!col("d")
              .between(col("t_lo") - embargo, col("t_hi") + embargo), 1L)
            .otherwise(0L)).as("n_train"))
    }),


    // KRIPPENDORFF'S ALPHA, nominal data (round 13) — the last standard
    // member of the rater-agreement family (q328 Cohen pairwise, q401
    // per-rater kappas, q447 Cochran's Q, q464 Fleiss): unlike Fleiss'
    // expected-agreement-from-squared-marginals, alpha corrects
    // disagreement by the PAIRABLE-VALUE count (3n−1), making it exact
    // for small samples and missing-data-ready. Same three deterministic
    // binary raters over each document (distinct-ratio, chars-per-token,
    // digit-token); with n_u = 3 everywhere the observed-disagreement
    // term collapses to Σ p(3−p) and
    //   alpha = 1 − Σp(3−p)·(3n−1) / (2·n₁·n₀)
    // — one fact pass, keys=[] scalar aggregate, exact integer ppm with
    // the house sign-split truncating division.
    "q470_krippendorff_alpha" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .select(col("n_chars").cast("long").as("n_chars"),
          text.TextOps.tokens(col("text")).as("ts"))
        .select((
          (size(array_distinct(col("ts"))) * 2 > size(col("ts")))
            .cast("long")
            + (col("n_chars") > size(col("ts")).cast("long") * 5L)
              .cast("long")
            + expr("exists(ts, t -> t rlike '^[0-9]+$')").cast("long"))
          .as("p"))
      d.agg(count(lit(1)).as("n"),
          sum(col("p")).as("n1"),
          sum(col("p") * (lit(3L) - col("p"))).as("do_pairs"))
        .withColumn("n0", col("n") * 3 - col("n1"))
        .withColumn("alpha_ppm", expr(
          "case when 2 * n1 * n0 >= do_pairs * (3 * n - 1) then" +
            " (2 * n1 * n0 - do_pairs * (3 * n - 1)) * 1000000" +
            " div greatest(2 * n1 * n0, 1)" +
            " else -((do_pairs * (3 * n - 1) - 2 * n1 * n0) * 1000000" +
            " div greatest(2 * n1 * n0, 1)) end"))
    }),


    "q464_fleiss_kappa" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .select(col("n_chars").cast("long").as("n_chars"),
          text.TextOps.tokens(col("text")).as("ts"))
        .select((
          (size(array_distinct(col("ts"))) * 2 > size(col("ts")))
            .cast("long")
            + (col("n_chars") > size(col("ts")).cast("long") * 5L)
              .cast("long")
            + expr("exists(ts, t -> t rlike '^[0-9]+$')").cast("long"))
          .as("p"))
      d.agg(count(lit(1)).as("n"),
          sum(col("p")).as("sum_pos"),
          sum(col("p") * (col("p") - 1)
            + (lit(3L) - col("p")) * (lit(2L) - col("p"))).as("sum_pairs"))
        .withColumn("pbar_ppm", expr("sum_pairs * 1000000 div (n * 6)"))
        .withColumn("ppos_ppm", expr("sum_pos * 1000000 div (n * 3)"))
        .withColumn("pe_ppm", expr(
          "(ppos_ppm * ppos_ppm) div 1000000" +
            " + ((1000000 - ppos_ppm) * (1000000 - ppos_ppm)) div 1000000"))
        // sign-split: the numerator is signed and truncating div must
        // match floor // — round-toward-zero stated on both engines
        .withColumn("kappa_ppm", expr(
          "case when pbar_ppm >= pe_ppm then" +
            " (pbar_ppm - pe_ppm) * 1000000" +
            " div greatest(1000000 - pe_ppm, 1)" +
            " else -((pe_ppm - pbar_ppm) * 1000000" +
            " div greatest(1000000 - pe_ppm, 1)) end"))
    }),

    // k-means ELBOW sweep — the "choose k" planning read over the same
    // exact-integer Lloyd algebra: FIXED 3 rounds per k ∈ {2, 4, 8}
    // (Kmeans.lloydFixed — fixed rounds are the declared cross-engine
    // semantics, so ONE static oracle unrolls all three chains instead
    // of three stop-round atomics), seeds the md5-order prefix (k = 8's
    // seed set contains k = 4's contains k = 2's), per-k total inertia
    // and sizes union to the 3-row curve.
    "q460_kmeans_elbow" -> ((s, dir) => {
      val x = Tables.embeddings(s, dir)
        .select(col("vec_id"),
          posexplode(col("embedding")).as(Seq("dim", "v")))
        .select(col("vec_id"), col("dim").cast("long").as("dim"),
          floor(col("v").cast("double") * 1e6).cast("long").as("q"))
        .localCheckpoint(true)
      val seedBase = Tables.embeddings(s, dir)
        .select(col("vec_id"), md5(col("vec_id").cast("string")).as("sk"))
        .orderBy(col("sk"), col("vec_id")).limit(8)
        .withColumn("cid",
          row_number().over(Window.orderBy(col("sk"), col("vec_id")))
            .cast("long") - 1)
        .select(col("vec_id"), col("cid"))
        .localCheckpoint(true)
      Seq(2, 4, 8).map { k =>
        ml.Kmeans.lloydFixed(x,
            seedBase.filter(col("cid") < k), rounds = 3)
          .agg(count(lit(1)).as("n_vecs"), sum(col("dist2")).as("inertia_q"))
          .select(lit(k.toLong).as("kk"), col("n_vecs"), col("inertia_q"))
      }.reduce(_ unionByName _)
    }),

    // Pocock group-sequential monitor — the INTERIM-ANALYSIS member of
    // the experiment family (q318's SPRT peeks per-day with a likelihood
    // boundary; Pocock peeks at K=5 planned interims with one constant
    // boundary, the form IRBs actually pre-register): event days split
    // into 5 equal-width interim windows by day rank (day-grain
    // aggregate windows), cumulative (n, k) per interim, z² in exact
    // micro via the split-div device, crossed against the DECLARED
    // Pocock z₅,₀.₀₅ = 2.413 boundary (z² > 5.822569, a stated
    // constant); first_cross rides as the prefix-min interim.
    "q457_pocock_interims" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(expr(
          "cast(unix_micros(cast(ts as timestamp)) div 86400000000" +
            " as bigint)").as("d"))
        .agg(count(lit(1)).as("n"),
          sum((col("user_id") % 2 === 1).cast("long")).as("k"))
      val wOrd = Window.orderBy(col("d"))
      val interim = daily
        .withColumn("rn", row_number().over(wOrd).cast("long"))
        .crossJoin(broadcast(daily.agg(count(lit(1)).as("nd"))))
        .withColumn("interim", expr("least((rn - 1) * 5 div nd, 4)"))
        .groupBy(col("interim"))
        .agg(sum(col("n")).as("n_i"), sum(col("k")).as("k_i"))
      val wI = Window.orderBy(col("interim"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val z = interim
        .withColumn("n_cum", sum(col("n_i")).over(wI))
        .withColumn("k_cum", sum(col("k_i")).over(wI))
        .withColumn("z2_micro", expr(
          "((2 * k_cum - n_cum) * (2 * k_cum - n_cum) div n_cum)" +
            " * 1000000" +
            " + ((2 * k_cum - n_cum) * (2 * k_cum - n_cum) % n_cum)" +
            " * 1000000 div n_cum"))
        .withColumn("crossed", col("z2_micro") > 5822569L)
        .localCheckpoint(true)
      z.crossJoin(broadcast(z.agg(
          min(when(col("crossed"), col("interim"))).as("first_cross"))))
        .select(col("interim"), col("n_cum"), col("k_cum"),
          col("z2_micro"), col("crossed"), col("first_cross"))
    }),

    // Simpson-flip flags over q439's strata — the reason Mantel–Haenszel
    // exists, made visible: a stratum whose own odds direction (sign of
    // ad − bc — the division-free OR-vs-1 test) disagrees with the
    // pooled direction (sign of Σnum − Σden) is where naive pooling
    // would mislead. Strict signs only (zero-margin strata are neither);
    // the pooled sign and flip count attach as keys=[] broadcasts.
    "q455_simpson_flags" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .select(col("lang"), (col("doc_id") % 2).as("t"),
          (size(array_distinct(text.TextOps.tokens(col("text")))) * 2
            > size(text.TextOps.tokens(col("text"))))
            .cast("long").as("y"))
      val strat = d.groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("t") === 1 && col("y") === 1, 1L).otherwise(0L))
            .as("a"),
          sum(when(col("t") === 1 && col("y") === 0, 1L).otherwise(0L))
            .as("b"),
          sum(when(col("t") === 0 && col("y") === 1, 1L).otherwise(0L))
            .as("c"),
          sum(when(col("t") === 0 && col("y") === 0, 1L).otherwise(0L))
            .as("d"))
        .withColumn("margin", expr("a * d - b * c"))
        .withColumn("num_micro", expr("a * d * 1000000 div n"))
        .withColumn("den_micro", expr("b * c * 1000000 div n"))
        .localCheckpoint(true)
      val pooled = strat.agg(
          sum(col("num_micro")).as("ns"), sum(col("den_micro")).as("ds"))
        .select(signum(col("ns") - col("ds")).cast("long")
          .as("pooled_sign"))
      val flagged = strat.crossJoin(broadcast(pooled))
        .withColumn("stratum_sign", signum(col("margin")).cast("long"))
        .withColumn("flip",
          col("stratum_sign") =!= lit(0L) &&
            col("pooled_sign") =!= lit(0L) &&
            col("stratum_sign") =!= col("pooled_sign"))
        .select(col("lang"), col("n"), col("margin"),
          col("stratum_sign"), col("pooled_sign"), col("flip"))
        .localCheckpoint(true)
      flagged.crossJoin(broadcast(flagged
        .agg(sum(col("flip").cast("long")).as("n_flips"))))
    }),

    // Trailing-7-day rolling MEDIAN of daily revenue — the robust
    // monitoring read q449's mean detector pairs with (a one-day spike
    // moves the mean, not the median): daily exact-cents totals, then
    // the lower median of each trailing ≤7-day window via
    // sort_array(collect_list) over the day-grain frame — windows only
    // ever hold ≤7 elements of an Aggregate, never facts.
    "q456_rolling_median" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(expr(
          "cast(unix_micros(cast(ts as timestamp)) div 86400000000" +
            " as bigint)").as("d"))
        .agg(sum(expr("cast(cast(value as decimal(30,2)) * 100 as bigint)"))
          .as("cents"))
      val w7 = Window.orderBy(col("d")).rowsBetween(-6, Window.currentRow)
      daily
        .withColumn("win", sort_array(collect_list(col("cents")).over(w7)))
        .select(col("d"), col("cents"),
          size(col("win")).cast("long").as("n_days"),
          expr("element_at(win, cast((size(win) + 1) div 2 as int))")
            .as("p50_cents"))
    }),

    // Convergence-WITNESSED top-PC power iteration — exact-integer PCA
    // head over the embeddings (the q409 linear-operator discipline on
    // the COVARIANCE operator): per-dim OFFSET-div means center the
    // µ-grid, the 64×64 covariance folds ONCE from the per-vector
    // self-join (exact Long sums; the matrix grain is 4096 rows — tiny
    // by construction), scaled to cm by a signed floor div through the
    // +2⁶¹ OFFSET (divisible by 2²⁰, so Spark's truncating div equals
    // DuckDB's floor //). Each round applies the matrix (one broadcast
    // of the 64-row iterate), renormalizes by the round-toward-zero
    // sign-split division by K = max|w| div 10⁶ (declared — identical
    // CASE on both engines; keeps every product Long-safe), and stops
    // when the exact L1 change ≤ 1000 µ-units or 12 rounds. The oracle
    // unrolls the realized rounds and recomputes the final residual
    // from its OWN last two iterates. Deterministic md5-free init
    // (5·10⁵ + dim·7919 mod 10⁶) avoids the orthogonal-start stall.
    // NOTE the fixture embeddings are near-isotropic (λ₂/λ₁ ≈ 1), so
    // the witness records HONEST non-convergence at the cap — the
    // hash-check is about trajectory exactness; the residual riding the
    // output is the spectral-flatness read a real corpus would confirm
    // or beat.
    "q452_pca_power_converged" -> ((s, dir) => {
      val x = Tables.embeddings(s, dir)
        .select(col("vec_id"),
          posexplode(col("embedding")).as(Seq("dim", "v")))
        .select(col("vec_id"), col("dim").cast("long").as("dim"),
          floor(col("v").cast("double") * 1e6).cast("long").as("q"))
        .localCheckpoint(true)
      val mu = x.groupBy(col("dim"))
        .agg(count(lit(1)).as("n"), sum(col("q")).as("sq"))
        .select(col("dim"),
          expr("(sq + n * 2000000) div n - 2000000").as("mu"))
      val cen = x.join(broadcast(mu), "dim")
        .select(col("vec_id"), col("dim"), (col("q") - col("mu")).as("c"))
      val cov = cen.as("a").join(cen.as("b"),
          col("a.vec_id") === col("b.vec_id"))
        .groupBy(col("a.dim").as("i"), col("b.dim").as("j"))
        .agg(sum(col("a.c") * col("b.c")).as("cc"))
        // signed floor-div via the +2⁶¹ offset (divisible by the 2²⁴
        // shift); cm ≤ n·(4µ)²/2²⁴ keeps Σⱼ cm·vq Long-safe past 10⁶
        // vectors
        .select(col("i"), col("j"), expr(
          "(cc + 2305843009213693952L) div 16777216 - 137438953472L")
          .as("cm"))
        .localCheckpoint(true)
      val init = mu.select(col("dim"),
          expr("500000 + dim * 7919 % 1000000").as("vq"))
        .localCheckpoint(true)
      val run = ops.Fixpoint.frames("q452_pca_power_converged", 12,
          Some(sum(abs(col("vq") - col("pv")))), stopAt = 1000L)(init) {
        (v, _) =>
          val w = cov.join(broadcast(v.select(col("dim").as("j"), col("vq"))),
              Seq("j"))
            .groupBy(col("i").as("dim"))
            .agg(sum(col("cm") * col("vq")).as("w"))
            .localCheckpoint(true)
          // the normalization is part of the iterate, not a witness
          val k = math.max(
            w.agg(max(abs(col("w")))).head().getLong(0) / 1000000L, 1L)
          w.join(v.select(col("dim"), col("vq").as("pv")), Seq("dim"), "left_outer")
            .select(col("dim"), expr(
              s"case when w >= 0 then w div ${k}L" +
                s" else -((-w) div ${k}L) end").as("vq"), col("pv"))
      }
      pcaStopRound.set(run.rounds)
      run.state.select(col("dim"), col("vq"))
        .withColumn("stop_round", lit(run.rounds.toLong))
        .withColumn("final_residual", lit(run.witnesses.last))
    }),

    // Page–Hinkley mean-shift detector — the SEQUENTIAL drift member
    // next to q214's CUSUM (CUSUM tracks deviations from a FIXED
    // reference; PH tracks deviations from the RUNNING mean, the form
    // monitoring pipelines actually deploy when no reference exists):
    // per day, x = exact-cents daily mean (truncating div on the
    // non-negative fixture contract), term = x − prefix-mean − δ(50¢),
    // m = prefix sum of pre-quantized terms (order-free), PH = m −
    // prefix-min(m), alert at λ = 100$ (declared constants). Day-grain
    // aggregate windows only.
    "q449_page_hinkley" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(expr(
          "cast(unix_micros(cast(ts as timestamp)) div 86400000000" +
            " as bigint)").as("d"))
        .agg(sum(expr("cast(cast(value as decimal(30,2)) * 100 as bigint)"))
          .as("cents"), count(lit(1)).as("n"))
        .withColumn("x", expr("cents div n"))
      val wOrd = Window.orderBy(col("d"))
      val wP = wOrd.rowsBetween(Window.unboundedPreceding,
        Window.currentRow)
      daily
        .withColumn("t", row_number().over(wOrd).cast("long"))
        .withColumn("cum_x", sum(col("x")).over(wP))
        .withColumn("mean_t", expr("cum_x div t"))
        .withColumn("term", col("x") - col("mean_t") - lit(50L))
        .withColumn("m", sum(col("term")).over(wP))
        .withColumn("ph", col("m") - min(col("m")).over(wP))
        .withColumn("alert", col("ph") > lit(10000L))
        .select(col("d"), col("n"), col("x"), col("mean_t"), col("m"),
          col("ph"), col("alert"))
    }),

    // Wilson score bounds — the small-sample-honest conversion interval
    // (the plain p̂ ± z√(p̂q̂/n) interval lies badly at small n or extreme
    // p; every experimentation UI quotes Wilson instead): per event
    // type, conversion = odd-user share (the q424 derivation), bounds
    // from the z = 1.96 closed form evaluated in IEEE doubles on exact
    // integer inputs — both engines state the identical expression tree
    // (the q25 cosine discipline) — floor-quantized to ppm at the end.
    "q450_wilson_bounds" -> ((s, dir) => {
      val h = Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum((col("user_id") % 2 === 1).cast("long")).as("k"))
      val z2 = lit(1.96 * 1.96)
      val nD = col("n").cast("double")
      val p = col("k").cast("double") / nD
      val center = p + z2 / (lit(2.0) * nD)
      val margin = lit(1.96) * sqrt(
        p * (lit(1.0) - p) / nD + z2 / (lit(4.0) * nD * nD))
      val denom = lit(1.0) + z2 / nD
      h.withColumn("p_ppm", expr("k * 1000000 div n"))
        .withColumn("lo_ppm",
          floor(lit(1e6) * (center - margin) / denom).cast("long"))
        .withColumn("hi_ppm",
          floor(lit(1e6) * (center + margin) / denom).cast("long"))
    }),

    // Cochran's Q — the k-rater completion of the agreement trilogy
    // (q401 kappa: 2 raters agree?; q438 McNemar: are 2 raters' flips
    // one-sided?; this: do k=3 binary raters flag at the SAME rate?).
    // Third rater = "document carries a numeric token" (deterministic
    // content predicate). Q = (k−1)·(k·ΣG² − T²) / (k·T − ΣL²) with G
    // the per-rater totals and L the per-doc row sums — ALL sums fold in
    // one pass, the statistic is one guarded division in exact micro,
    // flagged against the declared χ²₂,₀.₀₅ = 5.991465 quantile.
    "q447_cochran_q" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .select(col("n_chars").cast("long").as("n_chars"),
          text.TextOps.tokens(col("text")).as("ts"))
        .select(
          (size(array_distinct(col("ts"))) * 2 > size(col("ts")))
            .cast("long").as("ra"),
          (col("n_chars") > size(col("ts")).cast("long") * 5L)
            .cast("long").as("rb"),
          expr("exists(ts, t -> t rlike '^[0-9]+$')")
            .cast("long").as("rc"))
      d.agg(count(lit(1)).as("n"),
          sum(col("ra")).as("g1"), sum(col("rb")).as("g2"),
          sum(col("rc")).as("g3"),
          sum((col("ra") + col("rb") + col("rc"))
            * (col("ra") + col("rb") + col("rc"))).as("sum_l2"))
        .withColumn("t", col("g1") + col("g2") + col("g3"))
        .withColumn("q_micro", expr(
          "2 * (3 * (g1 * g1 + g2 * g2 + g3 * g3) - t * t) * 1000000" +
            " div greatest(3 * t - sum_l2, 1)"))
        .withColumn("significant", col("q_micro") > 5991465L)
    }),

    // DATASET CARD — the per-source datasheet a corpus release ships
    // with, as ONE rollup: volume (docs, tokens), language profile
    // (distinct langs, majority lang + its ppm share), duplication
    // exposure (share of docs the q16 LSH screen implicates in ANY
    // candidate pair), mean lexical-diversity quality, and the exact
    // per-source median document length (a PARTITIONED rank — the
    // source grain bounds every window). The one-stop audit read built
    // from already-verified pieces.
    // DATASET DIFF CARD (round 13) — the release-to-release changelog a
    // dataset card (q448) implies but cannot state alone: the previous
    // release (doc_id % 10 ≠ 0 — the declared v1 slice) and the current
    // corpus compare per source on volume, token mass, majority
    // language (window on the (source, lang) aggregate grain,
    // count-desc/lang tie-break), and mean distinct-token quality in
    // exact ppm; the card flags majority-language changes and quality
    // drift beyond ±5 000 ppm. Everything is two grouped passes + one
    // source-grain join — the shape a nightly release gate runs.
    "q479_dataset_diff_card" -> ((s, dir) => {
      def members(df: org.apache.spark.sql.DataFrame, sfx: String) = {
        val base = df
          .withColumn("ts", text.TextOps.tokens(col("text")))
          .select(col("source"), col("lang"),
            size(col("ts")).cast("long").as("ntok"),
            expr("cast(size(array_distinct(ts)) as bigint) * 1000000" +
              " div greatest(cast(size(ts) as bigint), 1)").as("q_ppm"))
        val byLang = base.groupBy(col("source"), col("lang"))
          .agg(count(lit(1)).as("n"), sum(col("ntok")).as("ntok"),
            sum(col("q_ppm")).as("qsum"))
        val wM = Window.partitionBy(col("source"))
          .orderBy(col("n").desc, col("lang"))
        val maj = byLang
          .withColumn("rk", row_number().over(wM))
          .filter(col("rk") === 1)
          .select(col("source"), col("lang").as(s"maj_lang$sfx"))
        byLang.groupBy(col("source"))
          .agg(sum(col("n")).as(s"n_docs$sfx"),
            sum(col("ntok")).as(s"n_tokens$sfx"),
            expr("sum(qsum) div sum(n)").as(s"q_ppm$sfx"))
          .join(maj, Seq("source"))
      }
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("lang"), col("text"))
      members(docs.filter(col("doc_id") % 10 =!= 0), "_v1")
        .join(members(docs, "_v2"), Seq("source"))
        .withColumn("delta_docs", col("n_docs_v2") - col("n_docs_v1"))
        .withColumn("delta_tokens", col("n_tokens_v2") - col("n_tokens_v1"))
        .withColumn("lang_changed", col("maj_lang_v2") =!= col("maj_lang_v1"))
        .withColumn("quality_drift",
          abs(col("q_ppm_v2") - col("q_ppm_v1")) > 5000L)
    }),


    "q448_dataset_card" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val base = docs.select(col("doc_id"), col("source"), col("lang"),
          text.TextOps.tokens(col("text")).as("ts"))
        .select(col("doc_id"), col("source"), col("lang"),
          size(col("ts")).cast("long").as("n_tok"),
          size(array_distinct(col("ts"))).cast("long").as("nd"))
        .withColumn("quality_ppm",
          expr("nd * 1000000 div greatest(n_tok, 1)"))
        .localCheckpoint(true)
      val pairs = llm.Dedup.candidatePairs(
        llm.Dedup.bandBuckets(docs, "doc_id", "text",
          numHashes = 6, bands = 3, shingleWidth = 3), "doc_id")
      val dupDocs = pairs.select(col("a_doc").as("doc_id"))
        .unionByName(pairs.select(col("b_doc").as("doc_id")))
        .distinct()
      val vol = base.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
          countDistinct(col("lang")).as("n_langs"),
          sum(col("quality_ppm")).as("qsum"))
        .withColumn("mean_quality_ppm", expr("qsum div n_docs"))
      val topLang = base.groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("nl"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("source"))
            .orderBy(col("nl").desc, col("lang"))))
        .filter(col("rk") === 1)
        .select(col("source"), col("lang").as("top_lang"),
          col("nl").as("top_lang_docs"))
      val medLen = base
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("source"))
            .orderBy(col("n_tok"), col("doc_id"))))
        .withColumn("nsrc", count(lit(1)).over(
          Window.partitionBy(col("source"))))
        .filter(col("rn") === expr("(nsrc + 1) div 2"))
        .select(col("source"), col("n_tok").as("p50_tokens"))
      val dup = base.join(dupDocs, Seq("doc_id"), "left_semi")
        .groupBy(col("source")).agg(count(lit(1)).as("n_dup_docs"))
      vol.join(topLang, Seq("source"))
        .join(medLen, Seq("source"))
        .join(dup, Seq("source"), "left_outer")
        .withColumn("n_dup_docs", coalesce(col("n_dup_docs"), lit(0L)))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          col("n_langs"), col("top_lang"),
          expr("top_lang_docs * 1000000 div n_docs").as("top_lang_ppm"),
          col("mean_quality_ppm"), col("p50_tokens"),
          expr("n_dup_docs * 1000000 div n_docs").as("dup_doc_ppm"))
    }),

    // The CORPUS COMPILE — the whole training-data recipe as ONE call,
    // each stage the already-verified algebra of its standalone surface:
    // (1) exact-dedup survivor policy at the fingerprint grain (q419's
    // chain), (2) per-language eval quota carved out of the SURVIVORS
    // (q403's md5 rank — eval never trains), (3) waterfilled per-source
    // token budget over SURVIVING TRAIN tokens only (q421's lesson:
    // budgeting raw counts double-spends every duplicate), (4) greedy
    // md5-order selection under each source's allocation, (5) packing
    // accounting at max_len 512. Every stage is one partitioned window
    // or one rollup on an already-reduced grain; the oracle states the
    // identical five-stage chain.
    "q442_corpus_compile" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val m = docs
        .select(col("doc_id"), col("source"), col("lang"),
          text.TextOps.fingerprint(col("text")).as("fp"),
          text.TextOps.tokens(col("text")).as("ts"))
        .select(col("doc_id"), col("source"), col("lang"), col("fp"),
          expr("cast(regexp_extract(source, '([0-9]+)', 1) as int) % 4")
            .cast("long").as("src_tier"),
          size(col("ts")).cast("long").as("n_tok"),
          size(array_distinct(col("ts"))).cast("long").as("n_dist"))
        .withColumn("quality_ppm",
          expr("n_dist * 1000000 div greatest(n_tok, 1L)"))
      val surv = llm.Dedup.clusterSurvivors(m, "fp",
          Seq(col("src_tier").asc, col("quality_ppm").desc,
            col("n_tok").desc, col("doc_id").asc))
        .localCheckpoint(true)
      val wL = Window.partitionBy(col("lang"))
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      val train = surv.withColumn("erk", row_number().over(wL))
        .filter(col("erk") > 20)
        .localCheckpoint(true)
      val src = train.groupBy(col("source"))
        .agg(count(lit(1)).as("n_train"), sum(col("n_tok")).as("c"),
          sum(col("quality_ppm")).as("qsum"))
        .withColumn("w", greatest(lit(1L), expr("qsum div n_train")))
      val alloc = llm.Mixture
        .waterfill(src, "source", budgetNum = 6L, budgetDen = 10L)
        .select(col("source"), col("n_train"),
          col("c").as("train_tokens"), col("alloc"))
        .localCheckpoint(true)
      val wS = Window.partitionBy(col("source"))
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val kept = train
        .join(alloc.select(col("source"), col("alloc")), Seq("source"))
        .withColumn("cum", sum(col("n_tok")).over(wS))
        .filter(col("cum") <= col("alloc"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_selected"),
          sum(col("n_tok")).as("sel_tokens"),
          sum(expr("(n_tok + 511) div 512")).as("n_chunks"))
      docs.groupBy(col("source")).agg(count(lit(1)).as("n_raw"))
        .join(surv.groupBy(col("source"))
          .agg(count(lit(1)).as("n_survivors")), Seq("source"))
        .join(alloc, Seq("source"))
        .join(kept, Seq("source"), "left_outer")
        .select(col("source"), col("n_raw"), col("n_survivors"),
          col("n_train"), col("train_tokens"), col("alloc"),
          coalesce(col("n_selected"), lit(0L)).as("n_selected"),
          coalesce(col("sel_tokens"), lit(0L)).as("sel_tokens"),
          coalesce(col("n_chunks"), lit(0L)).as("n_chunks"))
    }),


    // GUMBEL block-maxima fit + return level (round 14) — extreme-value
    // analysis, the capacity-planning read ("what weekly peak should we
    // provision for once in 100 weeks?"): weekly maxima of order totals,
    // method-of-moments Gumbel (β = s·√6/π, μ = x̄ − γβ), and the
    // T=100 return level μ − β·ln(−ln(1−1/T)). Distinct from q377's
    // Hill estimator (tail EXPONENT on top-k order stats); this is the
    // block-maxima EVT branch. Exactness: block maxima in exact BIGINT
    // cents, Σx/Σx² as exact integer sums, and the closing float math
    // uses only IEEE-exact ops (±·/·sqrt — sqrt is correctly rounded by
    // the standard, unlike ln) with the √6/π, Euler-γ, ln(−ln .99)
    // constants as SHARED literals, so no libm transcendental ever runs
    // on data in either engine. Block grain is weeks — aggregate-
    // bounded, a few hundred rows at any SF.
    "q484_gumbel_maxima" -> ((s, dir) => {
      val blocks = Tables.orders(s, dir)
        .groupBy(date_trunc("week", col("o_orderdate")).cast("date")
          .as("wk"))
        .agg(max((col("o_totalprice").cast("decimal(12,2)") * 100)
          .cast("long")).as("mc"))
      blocks.agg(
          count(lit(1)).as("n_blocks"),
          sum(col("mc")).as("sx"),
          sum(col("mc") * col("mc")).as("sxx"),
          max(col("mc")).as("max_cents"))
        .withColumn("mean_cents", expr("cast(sx as double) / n_blocks"))
        .withColumn("beta_cents", expr(
          "sqrt((cast(sxx as double) - cast(sx as double) * cast(sx as " +
            "double) / n_blocks) / (n_blocks - 1)) * 0.779696801233676"))
        .withColumn("mu_cents",
          expr("mean_cents - 0.5772156649015329 * beta_cents"))
        .withColumn("rl100_cents",
          expr("mu_cents + 4.600149226776579 * beta_cents"))
        .select(col("n_blocks"), col("max_cents"), col("mean_cents"),
          col("beta_cents"), col("mu_cents"), col("rl100_cents"))
    }),


    // Cross-SOURCE verbatim-overlap matrix (round 14) — the provenance
    // read a contamination investigation starts from: which source
    // pairs share verbatim 8-gram shingles, and how many distinct ones.
    // Grain discipline is what makes it scale: distinct (source,
    // gram-fp) FIRST (dedup within source), then an equi-join on the
    // fingerprint — per-fp expansion is bounded by C(|sources|, 2)
    // (sources are an alphabet, ~20), never by document volume, and the
    // join shuffles on the content hash exactly like exact dedup. The
    // md5 gram fingerprint is the engine-portable device throughout.
    "q485_source_overlap" -> ((s, dir) => {
      val grams = Tables.documents(s, dir)
        .select(col("source"),
          explode(llm.Dedup.shingles(col("text"), 8)).as("g"))
        .select(col("source"), md5(col("g")).as("fp"))
        .distinct()
      val a = grams.select(col("source").as("source_a"), col("fp"))
      val b = grams.select(col("source").as("source_b"), col("fp"))
      a.join(b, Seq("fp"))
        .filter(col("source_a") < col("source_b"))
        .groupBy(col("source_a"), col("source_b"))
        .agg(count(lit(1)).as("n_shared_grams"))
    }),


    // Wald–Wolfowitz RUNS test (round 14) on the daily event-value
    // series — the randomness screen next to q449's Page–Hinkley
    // (drift) and q480's Page trend (monotone): too FEW runs of
    // same-sign day-over-day moves means positive autocorrelation /
    // regime persistence, too many means oscillation. Day deltas sign
    // over the DAILY rollup (aggregate-bounded frame, so the global
    // date window is plan-audit-legal); zero deltas drop per the
    // textbook treatment. μ and σ² of the run count are pure integer
    // ppm rationals in n1/n2 — no cross-engine float folds anywhere
    // (the daily sums ride the established decimal(30,6) cast).
    "q486_runs_test" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(sum(col("value").cast("decimal(30,6)")).as("v"))
      val w = Window.orderBy(col("day"))
      val signs = daily
        .withColumn("d", col("v") - lag(col("v"), 1).over(w))
        .filter(col("d").isNotNull && col("d") =!= 0)
        .withColumn("sgn", when(col("d") > 0, 1).otherwise(-1))
      val runs = signs
        .withColumn("chg",
          when(lag(col("sgn"), 1).over(w).isNull ||
            lag(col("sgn"), 1).over(w) =!= col("sgn"), 1L).otherwise(0L))
        .agg(sum(when(col("sgn") === 1, 1L).otherwise(0L)).as("n1"),
          sum(when(col("sgn") === -1, 1L).otherwise(0L)).as("n2"),
          sum(col("chg")).as("n_runs"))
      runs
        .withColumn("mu_ppm",
          expr("2 * n1 * n2 * 1000000 div greatest(n1 + n2, 1) + 1000000"))
        .withColumn("sigma2_ppm",
          expr("2 * n1 * n2 * (2 * n1 * n2 - n1 - n2) * 1000000 div " +
            "greatest((n1 + n2) * (n1 + n2) * (n1 + n2 - 1), 1)"))
        .select(col("n1"), col("n2"), col("n_runs"),
          col("mu_ppm"), col("sigma2_ppm"))
    }),


    // JARQUE–BERA normality test (round 14) — the moment-based member
    // beside the q230 KS distance: per-segment skewness and excess
    // kurtosis from EXACT integer power sums (cents as decimal(10,0);
    // x²/x³/x⁴ stay exact integers — ≤1e24, inside decimal(38,0) /
    // DuckDB HUGEINT — so both engines cast the SAME exact sums to
    // double), then the closing float chain is staged IDENTICALLY on
    // both sides (mean → raw moments → central moments → S, K, JB) so
    // every intermediate double is bit-equal; ±·/·sqrt only. JB =
    // n/6·(S² + K²/4) against χ²(2). Group grain is segments — 5 rows.
    "q487_jarque_bera" -> ((s, dir) => {
      val x = Tables.customer(s, dir).select(
        col("c_mktsegment").as("seg"),
        (col("c_acctbal").cast("decimal(12,2)") * 100)
          .cast("decimal(10,0)").as("x"))
      x.groupBy(col("seg")).agg(
          count(lit(1)).as("n"),
          sum(col("x")).as("s1"),
          sum(col("x") * col("x")).as("s2"),
          sum(col("x") * col("x") * col("x")).as("s3"),
          sum(col("x") * col("x") * col("x") * col("x")).as("s4"))
        .withColumn("mean", expr("cast(s1 as double) / n"))
        .withColumn("r2", expr("cast(s2 as double) / n"))
        .withColumn("r3", expr("cast(s3 as double) / n"))
        .withColumn("r4", expr("cast(s4 as double) / n"))
        .withColumn("m2", expr("r2 - mean * mean"))
        .withColumn("m3",
          expr("r3 - 3 * mean * r2 + 2 * mean * mean * mean"))
        .withColumn("m4", expr("r4 - 4 * mean * r3 + 6 * mean * mean " +
          "* r2 - 3 * mean * mean * mean * mean"))
        .withColumn("skew", expr("m3 / (m2 * sqrt(m2))"))
        .withColumn("kurt_excess", expr("m4 / (m2 * m2) - 3.0"))
        // n must be cast to double BEFORE the /6.0: Spark parses a bare
        // `bigint / 6.0` as DECIMAL division (literal 6.0 is
        // decimal(2,1); quotient scale 6), so n/6 would ROUND at the
        // 6th fractional digit — a measured 7e-9 relative drift vs the
        // IEEE double division every other engine states
        .withColumn("jb", expr("cast(n as double) / 6.0 " +
          "* (skew * skew + kurt_excess * kurt_excess / 4.0)"))
        .select(col("seg"), col("n"), col("mean"), col("skew"),
          col("kurt_excess"), col("jb"))
    }),


    // PREFIX-CACHE audit (round 14) — the LLM-serving economics read:
    // documents sharing their first-32-token prefix hit the same KV
    // cache entry, so per source: how many docs share a prefix bucket
    // and what token share is cacheable (Σ (n_docs−1)·prefix_tok over
    // Σ tokens, ppm). Prefix identity via md5 of the joined token
    // slice — a doc shorter than 32 tokens hashes its full body, so
    // equal buckets imply equal prefix length by construction. Scale:
    // one groupBy on (source, prefix-hash) — exact-dedup shape.
    "q488_prefix_cache" -> ((s, dir) => {
      val p = Tables.documents(s, dir).select(col("source"),
          text.TextOps.tokens(col("text")).as("ts"))
        .select(col("source"),
          size(col("ts")).cast("long").as("n_tok"),
          md5(array_join(slice(col("ts"), 1, 32), " ")).as("pfx"),
          least(size(col("ts")).cast("long"), lit(32L)).as("pfx_tok"))
      p.groupBy(col("source"), col("pfx"), col("pfx_tok"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tok"))
        .groupBy(col("source")).agg(
          sum(col("n_docs")).as("n_docs"),
          count(lit(1)).as("n_prefixes"),
          sum(col("n_docs") - 1).as("dup_prefix_docs"),
          sum((col("n_docs") - 1) * col("pfx_tok")).as("cacheable_tok"),
          sum(col("tok")).as("total_tok"))
        .withColumn("cacheable_ppm",
          expr("cacheable_tok * 1000000 div greatest(total_tok, 1)"))
    }),


    // DURBIN–WATSON residual-autocorrelation test (round 14) — the
    // regression-diagnostics member beside q284's ACF: fit the
    // per-region daily-revenue trend y = a + b·t by closed-form OLS
    // (exact BIGINT sums → one identically-staged double chain, the
    // q487 discipline; Σt·y ≲ 6e15 stays BIGINT-exact, Σy² rides
    // decimal(38,0)/HUGEINT with the q304 string-route cast), then
    // DW = Σ(e_t−e_{t−1})²/Σe_t² over CENT-FLOORED residuals — the
    // floor turns each residual into an exact integer, so both square
    // sums are order-free exact decimals and DW is one final divide.
    // Scale: one groupBy to the daily grain, one 5-row broadcast of
    // the coefficients, one partitioned lag window.
    "q492_durbin_watson" -> ((s, dir) => {
      val daily = Tables.orders(s, dir)
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(Tables.nation(s, dir), col("c_nationkey") === col("n_nationkey"))
        .join(Tables.region(s, dir), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), to_date(col("o_orderdate")).as("day"))
        .agg(sum((col("o_totalprice").cast("decimal(12,2)") * 100)
          .cast("long")).as("y"))
        .withColumn("t", datediff(col("day"), lit("1992-01-01").cast("date"))
          .cast("long"))
        // two consumers (fit, resid) each inlined the 4-table join +
        // day-grain aggregate; region×day grain is bounded — materialize
        // once (r15, guide §5)
        .localCheckpoint(true)
      val fit = daily.groupBy(col("r_name")).agg(
          count(lit(1)).as("n"),
          sum(col("t")).as("st"),
          sum(col("y")).as("sy"),
          sum(col("t") * col("t")).as("stt"),
          sum(col("t") * col("y")).as("sty"))
        .withColumn("mt", expr("cast(st as double) / n"))
        .withColumn("my", expr("cast(sy as double) / n"))
        .withColumn("vt", expr("cast(stt as double) / n - mt * mt"))
        .withColumn("cty", expr("cast(sty as double) / n - mt * my"))
        .withColumn("slope", expr("cty / vt"))
        .withColumn("intercept", expr("my - slope * mt"))
        .select(col("r_name"), col("n"), col("slope"), col("intercept"))
      val resid = daily.join(broadcast(fit), Seq("r_name"))
        .withColumn("e", expr("cast(floor(cast(y as double) " +
          "- (intercept + slope * cast(t as double))) as bigint)"))
      val w = Window.partitionBy(col("r_name")).orderBy(col("day"))
      resid
        .withColumn("d", col("e") - lag(col("e"), 1).over(w))
        .groupBy(col("r_name"), col("n"), col("slope"), col("intercept"))
        .agg(
          sum((col("e").cast("decimal(19,0)") * col("e"))
            .cast("decimal(38,0)")).as("den"),
          sum((col("d").cast("decimal(19,0)") * col("d"))
            .cast("decimal(38,0)")).as("num"))
        .withColumn("dw", expr("cast(cast(num as string) as double) " +
          "/ cast(cast(den as string) as double)"))
        .select(col("r_name"), col("n"), col("slope"), col("intercept"),
          col("dw"))
    }),


    // CHOW structural-break F-test (round 14) — did the trend CHANGE at
    // a known date: pooled-vs-split OLS on the per-region daily series,
    // F = ((RSSp − RSS1 − RSS2)/k) / ((RSS1+RSS2)/(n1+n2−2k)), k = 2,
    // break at 1995-06-17 (the fixture date span's midpoint). Each RSS
    // comes from the SAME closed form n·(vy − cty²/vt) over per-segment
    // exact sums; pooled sums are the exact integer sums of the two
    // segments' (never a refold of floats), and Σy² rides decimal(38,0)
    // with the string-route double cast. One aggregation per region ×
    // segment, one 5-row closing rollup — no second scan.
    "q493_chow_break" -> ((s, dir) => {
      val daily = Tables.orders(s, dir)
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(Tables.nation(s, dir), col("c_nationkey") === col("n_nationkey"))
        .join(Tables.region(s, dir), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), to_date(col("o_orderdate")).as("day"))
        .agg(sum((col("o_totalprice").cast("decimal(12,2)") * 100)
          .cast("long")).as("y"))
        .withColumn("t", datediff(col("day"), lit("1992-01-01").cast("date"))
          .cast("long"))
        .withColumn("seg",
          when(col("day") < lit("1995-06-17").cast("date"), 0L).otherwise(1L))
      val per = daily.groupBy(col("r_name"), col("seg")).agg(
        count(lit(1)).as("n"),
        sum(col("t")).as("st"),
        sum(col("y")).as("sy"),
        sum(col("t") * col("t")).as("stt"),
        sum(col("t") * col("y")).as("sty"),
        sum((col("y").cast("decimal(19,0)") * col("y"))
          .cast("decimal(38,0)")).as("syy"))
      // RSS = n·(vy − cty²/vt) from raw-moment doubles — the one float
      // chain, written once here and restated verbatim in the oracle
      def rss(p: String): String =
        s"""cast(n$p as double) * (
           |  (cast(cast(syy$p as string) as double) / n$p
           |     - (cast(sy$p as double) / n$p) * (cast(sy$p as double) / n$p))
           |  - (cast(sty$p as double) / n$p
           |     - (cast(st$p as double) / n$p) * (cast(sy$p as double) / n$p))
           |    * (cast(sty$p as double) / n$p
           |     - (cast(st$p as double) / n$p) * (cast(sy$p as double) / n$p))
           |    / (cast(stt$p as double) / n$p
           |     - (cast(st$p as double) / n$p) * (cast(st$p as double) / n$p))
           |)""".stripMargin.replaceAll("\n", " ")
      per.groupBy(col("r_name")).agg(
          sum(when(col("seg") === 0, col("n")).otherwise(0L)).as("n1"),
          sum(when(col("seg") === 1, col("n")).otherwise(0L)).as("n2"),
          sum(when(col("seg") === 0, col("st")).otherwise(0L)).as("st1"),
          sum(when(col("seg") === 1, col("st")).otherwise(0L)).as("st2"),
          sum(when(col("seg") === 0, col("sy")).otherwise(0L)).as("sy1"),
          sum(when(col("seg") === 1, col("sy")).otherwise(0L)).as("sy2"),
          sum(when(col("seg") === 0, col("stt")).otherwise(0L)).as("stt1"),
          sum(when(col("seg") === 1, col("stt")).otherwise(0L)).as("stt2"),
          sum(when(col("seg") === 0, col("sty")).otherwise(0L)).as("sty1"),
          sum(when(col("seg") === 1, col("sty")).otherwise(0L)).as("sty2"),
          sum(when(col("seg") === 0, col("syy"))
            .otherwise(lit(0).cast("decimal(38,0)"))).as("syy1"),
          sum(when(col("seg") === 1, col("syy"))
            .otherwise(lit(0).cast("decimal(38,0)"))).as("syy2"))
        .withColumn("np", col("n1") + col("n2"))
        .withColumn("stp", col("st1") + col("st2"))
        .withColumn("syp", col("sy1") + col("sy2"))
        .withColumn("sttp", col("stt1") + col("stt2"))
        .withColumn("styp", col("sty1") + col("sty2"))
        .withColumn("syyp", (col("syy1") + col("syy2")).cast("decimal(38,0)"))
        .withColumn("rss1", expr(rss("1")))
        .withColumn("rss2", expr(rss("2")))
        .withColumn("rssp", expr(rss("p")))
        .withColumn("f_chow", expr("((rssp - rss1 - rss2) / cast(2 as " +
          "double)) / ((rss1 + rss2) / cast(n1 + n2 - 4 as double))"))
        .select(col("r_name"), col("n1"), col("n2"), col("rss1"),
          col("rss2"), col("rssp"), col("f_chow"))
    }),


    // BARTLETT equal-variance test (round 14) — the homoscedasticity
    // screen beside q340's Brown–Forsythe (which tests centers of
    // spread robustly; Bartlett is the exact-normal-theory version and
    // the one that feeds ANOVA validity): per-segment sample variances
    // from exact BIGINT sums, then every cross-segment fold QUANTIZED
    // to integers before summing — Σ(nᵢ−1)ln(Sᵢ²) in μ-units,
    // Σ(nᵢ−1)Sᵢ² cent²-floored, Σ1/(nᵢ−1) in 1e-12 units — so the
    // 5-row closing aggregation is order-free exact and the statistic
    // is assembled from integers in one final double chain.
    "q494_bartlett" -> ((s, dir) => {
      val per = Tables.customer(s, dir)
        .select(col("c_mktsegment").as("seg"),
          (col("c_acctbal").cast("decimal(12,2)") * 100)
            .cast("long").as("x"))
        .groupBy(col("seg")).agg(
          count(lit(1)).as("n"),
          sum(col("x")).as("s1"),
          sum(col("x") * col("x")).as("s2"))
        .withColumn("v", expr("(cast(s2 as double) - cast(s1 as double) " +
          "* cast(s1 as double) / n) / (n - 1)"))
        .withColumn("term_q",
          expr("cast(floor((n - 1) * ln(v) * 1000000) as bigint)"))
        .withColumn("spn_q", expr("cast(floor((n - 1) * v) as bigint)"))
        .withColumn("inv_q", expr("1000000000000 div (n - 1)"))
      per.agg(
          count(lit(1)).as("k"),
          sum(col("n")).as("nn"),
          sum(col("term_q")).as("t1"),
          sum(col("spn_q")).as("spn"),
          sum(col("inv_q")).as("inv"))
        .withColumn("sp2",
          expr("cast(spn as double) / cast(nn - k as double)"))
        .withColumn("t_bartlett", expr(
          "(cast(nn - k as double) * ln(sp2) " +
            "- cast(t1 as double) / cast(1000000 as double)) " +
            "/ (cast(1 as double) + (cast(inv as double) " +
            "/ cast(1000000000000 as double) " +
            "- cast(1 as double) / cast(nn - k as double)) " +
            "/ (cast(3 as double) * cast(k - 1 as double)))"))
        .select(col("k"), col("nn"), col("sp2"), col("t_bartlett"))
    }),


    // WELCH's unequal-variance t-test + Cohen's d (round 14) — the
    // parametric two-sample member beside q255's Mann–Whitney (rank)
    // and q265's two-proportion z: heavy buyers (order count ≥ the
    // corpus average — an integer CROSS-MULTIPLIED predicate, so the
    // split is exact and non-degenerate at every SF) vs the rest, on
    // balance cents. With exactly TWO groups the cross-group fold
    // needs no quantization at all: conditional integer sums land
    // both groups' (n, Σx, Σx²) in ONE exact row, then the whole
    // t / Welch–Satterthwaite df / pooled-d chain is a single staged
    // double expression. Scale: one broadcast-joined order count, one
    // scalar broadcast, one map-side-partial aggregation.
    "q495_welch_t" -> ((s, dir) => {
      val nOrd = Tables.orders(s, dir)
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_ord"))
      val totals = Tables.customer(s, dir)
        .agg(count(lit(1)).as("n_cust"))
        .crossJoin(broadcast(
          Tables.orders(s, dir).agg(count(lit(1)).as("n_orders"))))
      Tables.customer(s, dir)
        .join(nOrd, col("c_custkey") === col("o_custkey"), "left_outer")
        .crossJoin(broadcast(totals))
        .select(
          when(coalesce(col("n_ord"), lit(0L)) * col("n_cust")
            >= col("n_orders"), 1L).otherwise(0L).as("g"),
          (col("c_acctbal").cast("decimal(12,2)") * 100)
            .cast("long").as("x"))
        .agg(
          sum(when(col("g") === 0, 1L).otherwise(0L)).as("n0"),
          sum(when(col("g") === 1, 1L).otherwise(0L)).as("n1"),
          sum(when(col("g") === 0, col("x")).otherwise(0L)).as("s10"),
          sum(when(col("g") === 1, col("x")).otherwise(0L)).as("s11"),
          sum(when(col("g") === 0, col("x") * col("x")).otherwise(0L))
            .as("s20"),
          sum(when(col("g") === 1, col("x") * col("x")).otherwise(0L))
            .as("s21"))
        .withColumn("mean0", expr("cast(s10 as double) / n0"))
        .withColumn("mean1", expr("cast(s11 as double) / n1"))
        .withColumn("v0", expr("(cast(s20 as double) - cast(s10 as " +
          "double) * cast(s10 as double) / n0) / (n0 - 1)"))
        .withColumn("v1", expr("(cast(s21 as double) - cast(s11 as " +
          "double) * cast(s11 as double) / n1) / (n1 - 1)"))
        .withColumn("se2", expr("v0 / n0 + v1 / n1"))
        .withColumn("t_welch", expr("(mean1 - mean0) / sqrt(se2)"))
        .withColumn("df_welch", expr("se2 * se2 / ((v0 / n0) * (v0 / n0)" +
          " / (n0 - 1) + (v1 / n1) * (v1 / n1) / (n1 - 1))"))
        .withColumn("cohens_d", expr("(mean1 - mean0) / sqrt(((n0 - 1) " +
          "* v0 + (n1 - 1) * v1) / cast(n0 + n1 - 2 as double))"))
        .select(col("n0"), col("n1"), col("mean0"), col("mean1"),
          col("t_welch"), col("df_welch"), col("cohens_d"))
    }),


    // LJUNG–BOX portmanteau test (round 14) — q284's per-lag ACF rolled
    // into the single "is this series white noise" statistic:
    // Q = n(n+2)·Σ_{k≤7} ρ_k²/(n−k) over the daily event-count series.
    // Mean-centered ρ_k from exact per-lag integer sums (the q284 pair
    // join); the cross-LAG fold — the only place floats would meet an
    // unordered sum — is pre-quantized to 1e-12 units per lag, so the
    // closing Σ is exact integers and Q is assembled in one final
    // double chain. The lag frame is a 7-row explode join: same scale
    // shape as q284 (7 shuffles' worth of pairs on the daily grain).
    "q496_ljung_box" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("n"))
        .select(datediff(col("d"), lit("2024-01-01").cast("date"))
          .cast("long").as("t"), col("n"))
      def d19(c: Column): Column = c.cast("decimal(19,0)")
      val glob = daily.agg(
        count(lit(1)).as("nn"),
        sum(col("n")).as("s1"),
        sum(d19(col("n")) * d19(col("n"))).cast("double").as("s2"))
      val lags = daily
        .withColumn("lag",
          explode(array((1 to 7).map(i => lit(i.toLong)): _*)))
        .withColumn("t2", col("t") + col("lag"))
        .join(daily.select(col("t").as("t2"), col("n").as("n2")),
          Seq("t2"))
        .groupBy(col("lag"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("n")).as("sx"), sum(col("n2")).as("sy"),
          sum(d19(col("n")) * d19(col("n2"))).cast("double").as("sxy"))
      lags.crossJoin(broadcast(glob))
        .withColumn("mean", expr("cast(s1 as double) / nn"))
        .withColumn("rho", expr(
          "(sxy - mean * (cast(sx as double) + cast(sy as double)) " +
            "+ n_pairs * mean * mean) / (s2 - nn * mean * mean)"))
        .withColumn("term_q", expr("cast(floor(rho * rho " +
          "/ cast(nn - lag as double) * 1000000000000) as bigint)"))
        .agg(max(col("nn")).as("n"),
          count(lit(1)).as("h"),
          sum(col("term_q")).as("lb_sum_q"))
        .withColumn("q_lb", expr("cast(n * (n + 2) as double) " +
          "* (cast(lb_sum_q as double) / cast(1000000000000 as double))"))
        .select(col("n"), col("h"), col("lb_sum_q"), col("q_lb"))
    }),


    // DoReMi-style source REWEIGHTING (round 14) — one multiplicative-
    // weights step of the domain-mixture optimization (Xie et al. 2023,
    // simplified to a unigram-NLL proxy): per-source token-weighted
    // excess loss vs the corpus reference, then
    // w_new ∝ n_tok · exp(η·excess), η = 1. The exp factor is the only
    // float; each source's unnormalized weight is floor-quantized to an
    // integer TOKEN scale before the normalizing Σ, so the mixture ppm
    // row is exact-integer arithmetic (the q119/q392 discipline, with a
    // loss signal instead of a temperature exponent). Scale: rides the
    // q83 vocab broadcast — one tf shuffle, one source rollup.
    "q498_doremi_reweight" -> ((s, dir) => {
      val perDoc = text.TextOps.unigramLogLoss(
        Tables.documents(s, dir), "doc_id", "text")
        .select(col("doc_id"), col("n_tok"),
          (col("nll_q") * col("n_tok")).as("sum_q"))
      val src = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"))
        .join(perDoc, "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("n_tok"),
          sum(col("sum_q")).as("sq"))
        .withColumn("nll_q", expr("sq div n_tok"))
        // source-grain frame with two consumers (ref + w) — materialize
        // so the corpus-scale unigram NLL runs once (r14, guide §5;
        // before plan: 32 scans)
        .localCheckpoint(true)
      val ref = src.agg(
        sum(col("sq")).as("rsq"), sum(col("n_tok")).as("rtok"))
        .withColumn("ref_q", expr("rsq div rtok"))
        .select(col("ref_q"), col("rtok"))
      val w = src.crossJoin(broadcast(ref))
        .withColumn("excess_q", col("nll_q") - col("ref_q"))
        .withColumn("u_q", expr("cast(floor(cast(n_tok as double) " +
          "* exp(cast(excess_q as double) " +
          "/ cast(1000000 as double))) as bigint)"))
        .localCheckpoint(true)
      val tot = w.agg(sum(col("u_q")).as("tu"))
      w.crossJoin(broadcast(tot))
        .withColumn("w_old_ppm", expr("n_tok * 1000000 div rtok"))
        .withColumn("w_new_ppm", expr("u_q * 1000000 div tu"))
        .select(col("source"), col("n_docs"), col("n_tok"),
          col("nll_q"), col("excess_q"), col("w_old_ppm"),
          col("w_new_ppm"))
    }),


    // BREUSCH–PAGAN / Koenker heteroscedasticity test (round 14) — the
    // third leg of the q492/q493 regression-diagnostics triplet: after
    // the same per-region daily OLS, regress the SQUARED residual on t;
    // LM = n·R². Residuals are DOLLAR-floored (not cents) so e⁴ sums
    // stay inside decimal(38,0)/HUGEINT at sf1 scale; all four residual
    // power sums are exact decimals with the q304 string-route double
    // cast, and R² is one closing double chain. Same scan/shuffle
    // profile as q492 (daily grain twice, one 5-row broadcast).
    "q499_breusch_pagan" -> ((s, dir) => {
      val daily = Tables.orders(s, dir)
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(Tables.nation(s, dir), col("c_nationkey") === col("n_nationkey"))
        .join(Tables.region(s, dir), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), to_date(col("o_orderdate")).as("day"))
        .agg(sum((col("o_totalprice").cast("decimal(12,2)") * 100)
          .cast("long")).as("y"))
        .withColumn("t", datediff(col("day"), lit("1992-01-01").cast("date"))
          .cast("long"))
        // two consumers (fit, the residual pass) each inlined the 4-table
        // join + day-grain aggregate; region×day grain is bounded —
        // materialize once (r15, guide §5)
        .localCheckpoint(true)
      val fit = daily.groupBy(col("r_name")).agg(
          count(lit(1)).as("n"),
          sum(col("t")).as("st"),
          sum(col("y")).as("sy"),
          sum(col("t") * col("t")).as("stt"),
          sum(col("t") * col("y")).as("sty"))
        .withColumn("mt", expr("cast(st as double) / n"))
        .withColumn("my", expr("cast(sy as double) / n"))
        .withColumn("vt", expr("cast(stt as double) / n - mt * mt"))
        .withColumn("cty", expr("cast(sty as double) / n - mt * my"))
        .withColumn("slope", expr("cty / vt"))
        .withColumn("intercept", expr("my - slope * mt"))
        .select(col("r_name"), col("n"), col("st"), col("stt"),
          col("slope"), col("intercept"))
      daily.join(broadcast(fit), Seq("r_name"))
        .withColumn("e", expr("cast(floor((cast(y as double) " +
          "- (intercept + slope * cast(t as double))) " +
          "/ cast(100 as double)) as bigint)"))
        .withColumn("e2", (col("e").cast("decimal(19,0)") * col("e"))
          .cast("decimal(38,0)"))
        .groupBy(col("r_name"), col("n"), col("st"), col("stt"))
        .agg(sum(col("e2")).as("se"),
          sum((col("t").cast("decimal(19,0)") * col("e2"))
            .cast("decimal(38,0)")).as("ste"),
          sum((col("e2") * col("e2")).cast("decimal(38,0)")).as("see"))
        .withColumn("mt", expr("cast(st as double) / n"))
        .withColumn("me2", expr("cast(cast(se as string) as double) / n"))
        .withColumn("vt", expr("cast(stt as double) / n - mt * mt"))
        .withColumn("vy",
          expr("cast(cast(see as string) as double) / n - me2 * me2"))
        .withColumn("cty",
          expr("cast(cast(ste as string) as double) / n - mt * me2"))
        .withColumn("r2_e2", expr("cty * cty / (vt * vy)"))
        .withColumn("bp_lm", expr("cast(n as double) * r2_e2"))
        .select(col("r_name"), col("n"), col("r2_e2"), col("bp_lm"))
    }),


    // CLASSICAL seasonal decomposition (round 14) — trend / seasonal /
    // remainder with ZERO divisions and ZERO floats: the centered 7-day
    // moving TOTAL stands in for the moving average (working in "7×"
    // units: det7 = 7·y − Σ±3), day-of-week cells come from t % 7 (an
    // engine-neutral weekday — Spark's dayofweek and DuckDB's differ in
    // origin), and the remainder is cross-multiplied against the cell
    // total (rem = n_dow·det7 − Σ_dow det7) so no mean is ever divided
    // out. Every column is an exact BIGINT — the whole decomposition is
    // hash-portable by construction. One global-window pass on the
    // daily grain (aggregate-bounded frame) + one 7-row broadcast.
    "q500_classical_decomposition" -> ((s, dir) => {
      val daily = Tables.orders(s, dir)
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum((col("o_totalprice").cast("decimal(12,2)") * 100)
          .cast("long")).as("y"))
        .withColumn("t", datediff(col("day"), lit("1992-01-01").cast("date"))
          .cast("long"))
      val w7 = Window.orderBy(col("t")).rowsBetween(-3, 3)
      val det = daily
        .withColumn("n7", count(lit(1)).over(w7))
        .withColumn("ma_sum7", sum(col("y")).over(w7))
        .filter(col("n7") === 7)
        .withColumn("det7", col("y") * 7 - col("ma_sum7"))
        .withColumn("dow", pmod(col("t"), lit(7L)))
        // two consumers (seas, the closing join) re-ran the global moving
        // window; day-grain aggregate-bounded frame — materialize once
        // (r15, guide §5)
        .localCheckpoint(true)
      val seas = det.groupBy(col("dow"))
        .agg(count(lit(1)).as("n_dow"),
          sum(col("det7")).as("sum_det7_dow"))
      det.join(broadcast(seas), Seq("dow"))
        .withColumn("rem_x",
          col("n_dow") * col("det7") - col("sum_det7_dow"))
        .select(col("day"), col("y"), col("ma_sum7"), col("det7"),
          col("dow"), col("n_dow"), col("sum_det7_dow"), col("rem_x"))
    }),


    // GRANGER causality, lag-1 (round 14) — does EUROPE's daily revenue
    // lead AMERICA's? The bivariate member of the q492/q493/q499
    // regression family: unrestricted y_t = a + b·y_{t−1} + c·x_{t−1}
    // vs restricted y_t = a + b·y_{t−1}, F = (RSSr − RSSu)·(n−3)/RSSu
    // from CLOSED-FORM two-predictor OLS (Cramer's rule on the 2×2
    // centered-moment system). All ten sufficient sums are exact
    // (products in decimal(38,0)/HUGEINT, q304 string-route casts);
    // the coefficient/F chain is one identically-staged double
    // expression. Frame: days where BOTH regions trade, one lag
    // window, one global aggregation.
    "q504_granger" -> ((s, dir) => {
      val daily = Tables.orders(s, dir)
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(Tables.nation(s, dir), col("c_nationkey") === col("n_nationkey"))
        .join(Tables.region(s, dir), col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name").isin("EUROPE", "AMERICA"))
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(
          sum(when(col("r_name") === "EUROPE",
            (col("o_totalprice").cast("decimal(12,2)") * 100)
              .cast("long")).otherwise(0L)).as("x"),
          sum(when(col("r_name") === "AMERICA",
            (col("o_totalprice").cast("decimal(12,2)") * 100)
              .cast("long")).otherwise(0L)).as("y"),
          sum(when(col("r_name") === "EUROPE", 1L).otherwise(0L)).as("ne"),
          sum(when(col("r_name") === "AMERICA", 1L).otherwise(0L)).as("na"))
        .filter(col("ne") > 0 && col("na") > 0)
      val w = Window.orderBy(col("day"))
      def d19(c: Column): Column = c.cast("decimal(19,0)")
      val lagged = daily
        .withColumn("u", lag(col("y"), 1).over(w))
        .withColumn("v", lag(col("x"), 1).over(w))
        .filter(col("u").isNotNull)
        .select(col("y").as("wv"), col("u"), col("v"))
      lagged.agg(
          count(lit(1)).as("n"),
          sum(col("u")).as("su"), sum(col("v")).as("sv"),
          sum(col("wv")).as("sw"),
          sum((d19(col("u")) * col("u")).cast("decimal(38,0)")).as("suu"),
          sum((d19(col("v")) * col("v")).cast("decimal(38,0)")).as("svv"),
          sum((d19(col("wv")) * col("wv")).cast("decimal(38,0)")).as("sww"),
          sum((d19(col("u")) * col("v")).cast("decimal(38,0)")).as("suv"),
          sum((d19(col("u")) * col("wv")).cast("decimal(38,0)")).as("suw"),
          sum((d19(col("v")) * col("wv")).cast("decimal(38,0)")).as("svw"))
        .withColumn("mu", expr("cast(su as double) / n"))
        .withColumn("mv", expr("cast(sv as double) / n"))
        .withColumn("mw", expr("cast(sw as double) / n"))
        .withColumn("cuu",
          expr("cast(cast(suu as string) as double) / n - mu * mu"))
        .withColumn("cvv",
          expr("cast(cast(svv as string) as double) / n - mv * mv"))
        .withColumn("cww",
          expr("cast(cast(sww as string) as double) / n - mw * mw"))
        .withColumn("cuv",
          expr("cast(cast(suv as string) as double) / n - mu * mv"))
        .withColumn("cuw",
          expr("cast(cast(suw as string) as double) / n - mu * mw"))
        .withColumn("cvw",
          expr("cast(cast(svw as string) as double) / n - mv * mw"))
        .withColumn("det", expr("cuu * cvv - cuv * cuv"))
        .withColumn("coef_ylag",
          expr("(cvv * cuw - cuv * cvw) / det"))
        .withColumn("coef_xlag",
          expr("(cuu * cvw - cuv * cuw) / det"))
        .withColumn("rss_u",
          expr("cww - coef_ylag * cuw - coef_xlag * cvw"))
        .withColumn("rss_r", expr("cww - cuw * cuw / cuu"))
        .withColumn("f_granger",
          expr("(rss_r - rss_u) * cast(n - 3 as double) / rss_u"))
        .select(col("n"), col("coef_ylag"), col("coef_xlag"),
          col("rss_u"), col("rss_r"), col("f_granger"))
    }),
  )

  /** q409's dynamically-unrolled oracle: `rounds` power-iteration steps
    * of the same integer-ppm recurrence, final residual recomputed from
    * the oracle's OWN last two iterates (the q386/q397 mechanism). */
  private def markovUnrolledSql(rounds: Int): String = {
    def round(k: Int): String =
      s"""pi$k AS MATERIALIZED (
         |  SELECT ty.t,
         |    CAST(coalesce(s.s // 1000000, 0) AS BIGINT) AS pi_q
         |  FROM ty LEFT JOIN (
         |    SELECT p.j AS t, sum(pi.pi_q * p.p_ppm) AS s
         |    FROM pi${k - 1} pi JOIN p ON pi.t = p.i GROUP BY 1) s
         |    ON ty.t = s.t)""".stripMargin
    """WITH tr AS (
      |  SELECT event_type AS i,
      |    lead(event_type) OVER (PARTITION BY user_id
      |                           ORDER BY ts, event_id) AS j
      |  FROM events
      |), tc AS (
      |  SELECT i, j, CAST(count(*) AS BIGINT) AS nij
      |  FROM tr WHERE j IS NOT NULL GROUP BY 1, 2
      |), p AS (
      |  SELECT i, j,
      |    CAST(nij * 1000000 // sum(nij) OVER (PARTITION BY i) AS BIGINT)
      |      AS p_ppm
      |  FROM tc
      |), ty AS (
      |  SELECT DISTINCT event_type AS t FROM events
      |), pi0 AS (
      |  SELECT t, CAST(1000000 // (SELECT count(*) FROM ty) AS BIGINT)
      |    AS pi_q
      |  FROM ty),
      |""".stripMargin +
      (1 to rounds).map(round).mkString(",\n") +
      s""",
         |resid AS (
         |  SELECT CAST(sum(abs(a.pi_q - b.pi_q)) AS BIGINT) AS r
         |  FROM pi$rounds a JOIN pi${rounds - 1} b ON a.t = b.t)
         |SELECT t, pi_q, CAST($rounds AS BIGINT) AS stop_round,
         |  resid.r AS final_residual
         |FROM pi$rounds CROSS JOIN resid""".stripMargin
  }

  /** q422's dynamically-unrolled oracle: the realized Lloyd rounds as
    * materialized CTE pairs (assign r from centroids r−1, update r), with
    * changed_last recomputed from the oracle's OWN last two assignment
    * frames — termination AND the final membership are hash-checked
    * (the q386/q397/q409 mechanism, fourth kernel class). */
  private def kmeansUnrolledSql(rounds: Int): String = {
    def assign(r: Int): String =
      s"""a$r AS MATERIALIZED (
         |  SELECT vec_id, cid, dist2 FROM (
         |    SELECT vec_id, cid, dist2, row_number() OVER (
         |      PARTITION BY vec_id ORDER BY dist2, cid) AS rk
         |    FROM (
         |      SELECT x.vec_id, c.cid,
         |        CAST(sum((x.q - c.c_q) * (x.q - c.c_q)) AS BIGINT)
         |          AS dist2
         |      FROM x JOIN c${r - 1} c ON x.dim = c.dim
         |      GROUP BY 1, 2))
         |  WHERE rk = 1)""".stripMargin
    def update(r: Int): String =
      s"""c$r AS MATERIALIZED (
         |  SELECT p.cid, p.dim,
         |    CAST(coalesce((u.sq + u.n * 2000000) // u.n - 2000000,
         |                  p.c_q) AS BIGINT) AS c_q
         |  FROM c${r - 1} p LEFT JOIN (
         |    SELECT a.cid, x.dim, CAST(count(*) AS BIGINT) AS n,
         |      CAST(sum(x.q) AS BIGINT) AS sq
         |    FROM a$r a JOIN x ON a.vec_id = x.vec_id
         |    GROUP BY 1, 2) u
         |    ON p.cid = u.cid AND p.dim = u.dim)""".stripMargin
    // the final round needs no centroid update — the output reads aR
    val body = (1 until rounds).map(r => assign(r) + ",\n" + update(r))
      .mkString(",\n") + (if (rounds > 1) ",\n" else "") + assign(rounds)
    s"""WITH x AS MATERIALIZED (
       |  SELECT vec_id, CAST(i - 1 AS BIGINT) AS dim,
       |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)
       |      AS q
       |  FROM embeddings, unnest(generate_series(1, len(embedding)))
       |    AS u(i)
       |), sd AS (
       |  SELECT vec_id, CAST(row_number() OVER (
       |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
       |    AS BIGINT) AS cid
       |  FROM embeddings
       |), c0 AS MATERIALIZED (
       |  SELECT s.cid, x.dim, x.q AS c_q
       |  FROM sd s JOIN x ON s.vec_id = x.vec_id WHERE s.cid < 4
       |),
       |""".stripMargin + body +
      s""",
         |chg AS (
         |  SELECT CAST(count(*) AS BIGINT) AS c
         |  FROM a$rounds n JOIN a${rounds - 1} o
         |    ON n.vec_id = o.vec_id AND n.cid <> o.cid)
         |SELECT cid, CAST(count(*) AS BIGINT) AS n_vecs,
         |  CAST(sum(dist2) AS BIGINT) AS inertia_q,
         |  CAST($rounds AS BIGINT) AS stop_round,
         |  chg.c AS changed_last
         |FROM a$rounds CROSS JOIN chg
         |GROUP BY cid, chg.c""".stripMargin
  }

  /** q452's dynamically-unrolled oracle: the realized power-iteration
    * rounds over the 64×64 scaled covariance, K renormalization and the
    * final L1 residual recomputed from the oracle's OWN last two
    * iterates (the q386/q409/q422 mechanism). */
  private def pcaUnrolledSql(rounds: Int): String = {
    def round(r: Int): String =
      s"""w$r AS MATERIALIZED (
         |  SELECT c.i AS dim, CAST(sum(c.cm * v.vq) AS BIGINT) AS w
         |  FROM cov c JOIN v${r - 1} v ON c.j = v.dim GROUP BY 1
         |), k$r AS (
         |  SELECT greatest(max(abs(w)) // 1000000, 1) AS k FROM w$r
         |), v$r AS MATERIALIZED (
         |  SELECT dim, CAST(CASE WHEN w >= 0 THEN w // k$r.k
         |                   ELSE -((-w) // k$r.k) END AS BIGINT) AS vq
         |  FROM w$r CROSS JOIN k$r)""".stripMargin
    """WITH x AS MATERIALIZED (
      |  SELECT vec_id, CAST(i - 1 AS BIGINT) AS dim,
      |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)
      |      AS q
      |  FROM embeddings, unnest(generate_series(1, len(embedding)))
      |    AS u(i)
      |), mu AS (
      |  SELECT dim,
      |    CAST((sum(q) + count(*) * 2000000) // count(*) - 2000000
      |      AS BIGINT) AS mu
      |  FROM x GROUP BY 1
      |), cen AS (
      |  SELECT x.vec_id, x.dim, x.q - mu.mu AS c
      |  FROM x JOIN mu ON x.dim = mu.dim
      |), cov AS MATERIALIZED (
      |  SELECT a.dim AS i, b.dim AS j,
      |    CAST((sum(a.c * b.c) + 2305843009213693952) // 16777216
      |      - 137438953472 AS BIGINT) AS cm
      |  FROM cen a JOIN cen b ON a.vec_id = b.vec_id
      |  GROUP BY 1, 2
      |), v0 AS (
      |  SELECT dim, CAST(500000 + dim * 7919 % 1000000 AS BIGINT) AS vq
      |  FROM mu
      |),
      |""".stripMargin +
      (1 to rounds).map(round).mkString(",\n") +
      s""",
         |resid AS (
         |  SELECT CAST(sum(abs(a.vq - b.vq)) AS BIGINT) AS r
         |  FROM v$rounds a JOIN v${rounds - 1} b ON a.dim = b.dim)
         |SELECT dim, vq, CAST($rounds AS BIGINT) AS stop_round,
         |  resid.r AS final_residual
         |FROM v$rounds CROSS JOIN resid""".stripMargin
  }

  /** q460's STATIC oracle: three fixed-3-round Lloyd chains (k = 2/4/8,
    * md5-prefix seeds) unrolled side by side and unioned — fixed rounds
    * are the declared semantics, so no stop-round atomic is needed. */
  private def elbowSql: String = {
    def assign(k: Int, r: Int): String =
      s"""ek${k}a$r AS MATERIALIZED (
         |  SELECT vec_id, cid, dist2 FROM (
         |    SELECT vec_id, cid, dist2, row_number() OVER (
         |      PARTITION BY vec_id ORDER BY dist2, cid) AS rk
         |    FROM (
         |      SELECT x.vec_id, c.cid,
         |        CAST(sum((x.q - c.c_q) * (x.q - c.c_q)) AS BIGINT)
         |          AS dist2
         |      FROM x JOIN ek${k}c${r - 1} c ON x.dim = c.dim
         |      GROUP BY 1, 2))
         |  WHERE rk = 1)""".stripMargin
    def update(k: Int, r: Int): String =
      s"""ek${k}c$r AS MATERIALIZED (
         |  SELECT p.cid, p.dim,
         |    CAST(coalesce((u.sq + u.n * 2000000) // u.n - 2000000,
         |                  p.c_q) AS BIGINT) AS c_q
         |  FROM ek${k}c${r - 1} p LEFT JOIN (
         |    SELECT a.cid, x.dim, CAST(count(*) AS BIGINT) AS n,
         |      CAST(sum(x.q) AS BIGINT) AS sq
         |    FROM ek${k}a$r a JOIN x ON a.vec_id = x.vec_id
         |    GROUP BY 1, 2) u
         |    ON p.cid = u.cid AND p.dim = u.dim)""".stripMargin
    def chain(k: Int): String =
      s"""ek${k}c0 AS MATERIALIZED (
         |  SELECT s.cid, x.dim, x.q AS c_q
         |  FROM sd s JOIN x ON s.vec_id = x.vec_id WHERE s.cid < $k
         |)""".stripMargin + ",\n" +
        assign(k, 1) + ",\n" + update(k, 1) + ",\n" +
        assign(k, 2) + ",\n" + update(k, 2) + ",\n" +
        assign(k, 3)
    def fin(k: Int): String =
      s"""SELECT CAST($k AS BIGINT) AS kk,
         |  CAST(count(*) AS BIGINT) AS n_vecs,
         |  CAST(sum(dist2) AS BIGINT) AS inertia_q
         |FROM ek${k}a3""".stripMargin
    """WITH x AS MATERIALIZED (
      |  SELECT vec_id, CAST(i - 1 AS BIGINT) AS dim,
      |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)
      |      AS q
      |  FROM embeddings, unnest(generate_series(1, len(embedding)))
      |    AS u(i)
      |), sd AS (
      |  SELECT vec_id, CAST(row_number() OVER (
      |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
      |    AS BIGINT) AS cid
      |  FROM embeddings
      |),
      |""".stripMargin +
      Seq(2, 4, 8).map(chain).mkString(",\n") + "\n" +
      Seq(2, 4, 8).map(fin).mkString("\nUNION ALL\n")
  }

  /** `b0 → f → g → h → agg`: quality-weighted water-filling of a 60%
    * token budget over `sw(source, c, w)`: sources in c/w order are capped
    * at their whole count while the remaining budget, split by weight,
    * covers them; `agg` holds the capped total and the uncapped weight. */
  private val waterfillCtes: String =
    """b0 AS (
      |  SELECT *, (SELECT sum(c) FROM sw) * 6 // 10 AS b,
      |    (SELECT sum(w) FROM sw) AS wtot,
      |    c * 1000000 // w AS ratio_q
      |  FROM sw
      |), f AS (
      |  SELECT *,
      |    coalesce(sum(c) OVER (ORDER BY ratio_q, source
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS cc_prev,
      |    wtot - coalesce(sum(w) OVER (ORDER BY ratio_q, source
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS w_rem
      |  FROM b0
      |), g AS (
      |  SELECT *, CASE WHEN (b - cc_prev) * w >= c * w_rem
      |                 THEN 1 ELSE 0 END AS flag
      |  FROM f
      |), h AS (
      |  SELECT *, min(flag) OVER (ORDER BY ratio_q, source
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1
      |      AS capped
      |  FROM g
      |), agg AS (
      |  SELECT coalesce(sum(CASE WHEN capped THEN c END), 0) AS cc_star,
      |         coalesce(sum(CASE WHEN NOT capped THEN w END), 0) AS wu_star
      |  FROM h
      |)""".stripMargin

  /** `sw → [[waterfillCtes]] → fin` and the per-source readout over
    * `src(source, n_docs, c, qsum)` (q399 over raw sources, q421 over
    * dedup survivors; q442 allocates over its train split instead). */
  private val waterfillTail: String =
    s"""sw AS (
       |  SELECT *, greatest(1, qsum // n_docs) AS w FROM src
       |), $waterfillCtes, fin AS (
       |  SELECT source, n_docs, c, w, capped, b,
       |    CASE WHEN capped THEN c
       |         ELSE least(c, greatest(0, b - agg.cc_star) * w
       |                       // agg.wu_star) END AS alloc
       |  FROM h CROSS JOIN agg
       |)
       |SELECT source, n_docs, c, w, capped,
       |  CAST(alloc AS BIGINT) AS alloc,
       |  CAST(CASE WHEN b > 0 THEN alloc * 1000000 // b ELSE 0 END
       |    AS BIGINT) AS share_ppm
       |FROM fin""".stripMargin

  /** A def, not a val: the q409 entry embeds the post-run stop round
    * (the [[Analytics4Queries]] dynamic-oracle contract). */
  def sql: Map[String, String] = Map(

    "q460_kmeans_elbow" -> elbowSql,

    "q452_pca_power_converged" ->
      Analytics4Queries.realizedOrSentinel("q452", pcaStopRound.get)(
        pcaUnrolledSql),

    "q409_markov_stationary" ->
      Analytics4Queries.realizedOrSentinel("q409", mkStopRound.get)(
        markovUnrolledSql),

    "q422_kmeans_converged" ->
      Analytics4Queries.realizedOrSentinel("q422", kmStopRound.get)(
        kmeansUnrolledSql),

    // identical ordered-EMD algebra: densify via the global alphabet,
    // cumulative ppm diffs in sv order, Σ|·| div (m−1)
    "q423_t_closeness" ->
      """WITH base AS (
        |  SELECT CAST(c_nationkey AS BIGINT) AS nk, c_mktsegment AS seg,
        |    o_orderpriority AS sv
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |), cells AS (
        |  SELECT nk, seg, sv, CAST(count(*) AS BIGINT) AS c
        |  FROM base GROUP BY 1, 2, 3
        |), gd AS (
        |  SELECT sv, CAST(sum(c) AS BIGINT) AS gc FROM cells GROUP BY 1
        |), tot AS (
        |  SELECT CAST(sum(gc) AS BIGINT) AS n_total,
        |    CAST(count(*) AS BIGINT) AS m
        |  FROM gd
        |), grp AS (
        |  SELECT nk, seg, CAST(sum(c) AS BIGINT) AS n
        |  FROM cells GROUP BY 1, 2
        |), dense AS (
        |  SELECT g.nk, g.seg, g.n, t.n_total, t.m, gl.sv, gl.gc,
        |    coalesce(c.c, 0) AS c
        |  FROM grp g CROSS JOIN tot t CROSS JOIN gd gl
        |  LEFT JOIN cells c
        |    ON c.nk = g.nk AND c.seg = g.seg AND c.sv = gl.sv
        |), cum AS (
        |  SELECT nk, seg, n, m,
        |    sum(c * 1000000 // n - gc * 1000000 // n_total) OVER (
        |      PARTITION BY nk, seg ORDER BY sv
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS cum_ppm
        |  FROM dense
        |), emd AS (
        |  SELECT nk, seg, n,
        |    CAST(sum(abs(cum_ppm)) // (m - 1) AS BIGINT) AS t_ppm
        |  FROM cum GROUP BY nk, seg, n, m
        |)
        |SELECT nk, seg, n, t_ppm,
        |  (SELECT max(t_ppm) FROM emd) AS max_t_ppm
        |FROM emd""".stripMargin,

    "q424_bh_fdr" -> bhFdrSql,

    // q424's chain with the harmonic c(m) = Σ(10⁶ // i) factor
    // multiplied through
    "q482_by_fdr" ->
      s"""WITH $eventTypePValuesChain, r AS (
         |  SELECT *,
         |    CAST(row_number() OVER (ORDER BY p_ppm, event_type)
         |      AS BIGINT) AS rk
         |  FROM p
         |), d AS (
         |  SELECT CAST(count(*) AS BIGINT) AS m,
         |    CAST(sum(1000000 // rk) AS BIGINT) AS c_ppm
         |  FROM r
         |), f AS (
         |  SELECT r.*, d.m, d.c_ppm,
         |    p_ppm * d.m * d.c_ppm * 20 <= CAST(1000000 AS BIGINT) * rk * 1000000
         |      AS pass_by
         |  FROM r CROSS JOIN d
         |), k AS (
         |  SELECT coalesce(max(CASE WHEN pass_by THEN rk END), 0) AS k_star
         |  FROM f
         |)
         |SELECT event_type, n, n_odd, z2_micro, p_ppm, rk, m, c_ppm,
         |  pass_by, rk <= k.k_star AS rejected
         |FROM f CROSS JOIN k""".stripMargin,


    // identical Chebyshev family, step-down threshold and prefix-AND
    "q465_holm_stepdown" ->
      s"""WITH $eventTypePValuesChain, r AS (
         |  SELECT *,
         |    CAST(row_number() OVER (ORDER BY p_ppm, event_type)
         |      AS BIGINT) AS rk,
         |    (SELECT CAST(count(*) AS BIGINT) FROM p) AS m
         |  FROM p
         |), f AS (
         |  SELECT *, CASE WHEN p_ppm * (m - rk + 1) * 20 <= 1000000
         |                 THEN 1 ELSE 0 END AS flag
         |  FROM r
         |)
         |SELECT event_type, n, n_odd, z2_micro, p_ppm, rk,
         |  min(flag) OVER (ORDER BY p_ppm, event_type
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1
         |    AS rejected
         |FROM f""".stripMargin,

    // q319's lifetime derivation verbatim; KM factors as integer-argument
    // µnat log differences, zero-survival regime mirrored
    "q425_kaplan_meier" ->
      """WITH pu AS (
        |  SELECT user_id, min(epoch_us(ts)) AS first_us,
        |    min(CASE WHEN event_type = 'purchase'
        |             THEN epoch_us(ts) END) AS conv_us,
        |    max(epoch_us(ts)) AS last_us
        |  FROM events GROUP BY 1
        |), t AS (
        |  SELECT CASE WHEN conv_us IS NOT NULL THEN 1 ELSE 0 END AS event,
        |    CAST((coalesce(conv_us, last_us) - first_us) // 86400000000
        |         AS BIGINT) AS t_day
        |  FROM pu
        |), ex AS (
        |  SELECT t_day, CAST(sum(event) AS BIGINT) AS n_event,
        |    CAST(sum(1 - event) AS BIGINT) AS n_censored
        |  FROM t GROUP BY 1
        |), tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM pu),
        |r AS (
        |  SELECT t_day, n_event, n_censored,
        |    n_total - coalesce(sum(n_event + n_censored) OVER (
        |      ORDER BY t_day ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND 1 PRECEDING), 0) AS n_risk
        |  FROM ex CROSS JOIN tot
        |), l AS (
        |  SELECT t_day, CAST(n_risk AS BIGINT) AS n_risk, n_event,
        |    n_censored,
        |    CASE WHEN n_event < n_risk THEN
        |      CAST(floor(1e6 * ln(CAST(n_risk - n_event AS DOUBLE)))
        |        AS BIGINT)
        |      - CAST(floor(1e6 * ln(CAST(n_risk AS DOUBLE))) AS BIGINT)
        |    END AS ln_inc_micro,
        |    CAST(max(CASE WHEN n_event = n_risk THEN 1 ELSE 0 END) OVER (
        |      ORDER BY t_day ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS BIGINT) AS s_zero
        |  FROM r
        |)
        |SELECT t_day, n_risk, n_event, n_censored, ln_inc_micro,
        |  CASE WHEN s_zero = 0 THEN
        |    CAST(sum(coalesce(ln_inc_micro, 0)) OVER (
        |      ORDER BY t_day ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS BIGINT)
        |  END AS s_ln_micro,
        |  s_zero
        |FROM l""".stripMargin,

    // q115's interpolated-bigram scorer verbatim, then the exact lower
    // median, the cross-multiplied 1.25× gate and the source rollup
    "q431_lm_quality_gate" ->
      s"""WITH $bigramModelChain, scored AS (
         |  SELECT doc_id,
         |         CAST(sum(tfb * q) // sum(tfb) AS BIGINT) AS nll_q
         |  FROM tfb JOIN model USING (w1, w2)
         |  GROUP BY 1
         |), r AS (
         |  SELECT *, row_number() OVER (ORDER BY nll_q, doc_id) AS rn,
         |    count(*) OVER () AS n
         |  FROM scored
         |), med AS (
         |  SELECT nll_q AS med_nll_q FROM r WHERE rn = (n + 1) // 2
         |), gated AS (
         |  SELECT s.doc_id, s.nll_q, m.med_nll_q,
         |    CASE WHEN s.nll_q * 100 > m.med_nll_q * 125 THEN 1 ELSE 0 END
         |      AS flagged
         |  FROM scored s CROSS JOIN med m
         |)
         |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(g.flagged) AS BIGINT) AS n_flagged,
         |  CAST(max(g.med_nll_q) AS BIGINT) AS med_nll_q,
         |  CAST(sum(g.flagged) * 1000000 // count(*) AS BIGINT) AS flag_ppm
         |FROM gated g JOIN documents d USING (doc_id)
         |GROUP BY 1""".stripMargin,

    // q16's banded-MinHash pair CTE verbatim, then clipped n-gram
    // overlap, ppm P/R and the guarded F1 for n ∈ {1, 2}
    "q432_rouge_ngram_eval" ->
      s"""WITH $lshPairsChain, grams AS (
         |  SELECT doc_id, n, g FROM (
         |    SELECT doc_id, 1 AS n, unnest(ts) AS g FROM t
         |    UNION ALL
         |    SELECT doc_id, 2 AS n,
         |      unnest(CASE WHEN len(ts) >= 2 THEN
         |        list_transform(generate_series(1, len(ts)-1),
         |          i -> ts[i] || ' ' || ts[i+1]) ELSE [] END) AS g
         |    FROM t)
         |), tf AS (
         |  SELECT doc_id, n, g, CAST(count(*) AS BIGINT) AS tf
         |  FROM grams GROUP BY 1, 2, 3
         |), tot AS (
         |  SELECT doc_id, n, CAST(sum(tf) AS BIGINT) AS tot
         |  FROM tf GROUP BY 1, 2
         |), clip AS (
         |  SELECT p.a_doc, p.b_doc, a.n,
         |    CAST(sum(least(a.tf, b.tf)) AS BIGINT) AS clip
         |  FROM pairs p
         |  JOIN tf a ON a.doc_id = p.a_doc
         |  JOIN tf b ON b.doc_id = p.b_doc AND b.n = a.n AND b.g = a.g
         |  GROUP BY 1, 2, 3
         |), pr AS (
         |  SELECT c.a_doc, c.b_doc, CAST(c.n AS BIGINT) AS n, c.clip,
         |    CAST(c.clip * 1000000 // ta.tot AS BIGINT) AS p_ppm,
         |    CAST(c.clip * 1000000 // tb.tot AS BIGINT) AS r_ppm
         |  FROM clip c
         |  JOIN tot ta ON ta.doc_id = c.a_doc AND ta.n = c.n
         |  JOIN tot tb ON tb.doc_id = c.b_doc AND tb.n = c.n
         |)
         |SELECT a_doc, b_doc, n, clip, p_ppm, r_ppm,
         |  CAST(2 * p_ppm * r_ppm // greatest(p_ppm + r_ppm, 1) AS BIGINT)
         |    AS f1_ppm
         |FROM pr""".stripMargin,

    // q310's bin chain verbatim, then the PAVA minimax over interval
    // averages as an i≤k≤j triple join on the ≤10-row bin grain
    "q433_isotonic_calibration" ->
      """WITH n_ord AS (
        |  SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_ord
        |  FROM orders GROUP BY 1),
        |base AS (
        |  SELECT c.c_custkey,
        |    CAST(CAST(c.c_acctbal AS DECIMAL(30,2)) * 100 AS BIGINT) AS x,
        |    CASE WHEN coalesce(o.n_ord, 0) >= 2 THEN 1 ELSE 0 END AS label
        |  FROM customer c LEFT JOIN n_ord o ON c.c_custkey = o.o_custkey),
        |r AS (
        |  SELECT label,
        |    CAST(row_number() OVER (ORDER BY x, c_custkey) AS BIGINT) AS rn,
        |    count(*) OVER () AS nc
        |  FROM base),
        |bins AS (
        |  SELECT least((rn - 1) * 1000000 // (nc - 1) // 100000, 9) AS bin,
        |    CAST(count(*) AS BIGINT) AS n_b,
        |    CAST(sum(label) AS BIGINT) AS pos
        |  FROM r GROUP BY 1),
        |c AS (
        |  SELECT bin, n_b, pos,
        |    sum(n_b) OVER (ORDER BY bin) AS cn,
        |    sum(pos) OVER (ORDER BY bin) AS cp
        |  FROM bins),
        |c0 AS (SELECT *, cn - n_b AS cn_prev, cp - pos AS cp_prev FROM c),
        |iv AS (
        |  SELECT i.bin AS i, j.bin AS j,
        |    (j.cp - i.cp_prev) * 1000000 // (j.cn - i.cn_prev) AS avg_ppm
        |  FROM c0 i JOIN c0 j ON i.bin <= j.bin),
        |mn AS (
        |  SELECT k.bin AS k, iv.i, min(iv.avg_ppm) AS mn
        |  FROM c0 k JOIN iv ON iv.i <= k.bin AND iv.j >= k.bin
        |  GROUP BY 1, 2),
        |iso AS (SELECT k AS bin, CAST(max(mn) AS BIGINT) AS iso_ppm
        |        FROM mn GROUP BY 1)
        |SELECT b.bin, b.n_b, b.pos,
        |  CAST(b.pos * 1000000 // b.n_b AS BIGINT) AS raw_ppm,
        |  iso.iso_ppm
        |FROM bins b JOIN iso USING (bin)""".stripMargin,

    // the q94 split replayed at density grain: quantized dots over the
    // STORED capped pairs + units, top-8 min, exact lower median, the
    // multiplication-only isolation test
    "q441_knn_density" ->
      s"""WITH p AS (
         |  SELECT q_id, n_id
         |  FROM read_parquet('${predsPath("q441_pairs")}/*.parquet')
         |), u AS (
         |  SELECT vec_id, unit
         |  FROM read_parquet('${predsPath("q441_units")}/*.parquet')
         |), dots AS (
         |  SELECT p.q_id, p.n_id,
         |    ${unitDotSql()} AS dot_q
         |  FROM p
         |  JOIN u a ON p.q_id = a.vec_id
         |  JOIN u b ON p.n_id = b.vec_id
         |), r AS (
         |  SELECT *, row_number() OVER (PARTITION BY q_id
         |    ORDER BY dot_q DESC, n_id) AS rk
         |  FROM dots
         |), core AS (
         |  SELECT q_id, CAST(count(*) AS BIGINT) AS n_cands,
         |    CAST(min(CASE WHEN rk <= 8 THEN dot_q END) AS BIGINT)
         |      AS core_sim_q
         |  FROM r GROUP BY 1
         |), mr AS (
         |  SELECT *, row_number() OVER (ORDER BY core_sim_q, q_id) AS mrn,
         |    count(*) OVER () AS mn
         |  FROM core
         |), med AS (
         |  SELECT core_sim_q AS med_core_q FROM mr WHERE mrn = (mn + 1) // 2
         |)
         |SELECT c.q_id, c.n_cands, c.core_sim_q, med.med_core_q,
         |  2 * c.core_sim_q < med.med_core_q AS outlier
         |FROM core c CROSS JOIN med""".stripMargin,

    // the five-stage chain stated end to end: q419's survivor policy,
    // q403's eval quota over the survivors, q421's waterfill over
    // surviving TRAIN tokens, md5-order greedy selection, packing rollup
    "q442_corpus_compile" ->
      s"""WITH m AS (
         |  SELECT doc_id, source, lang,
         |    md5(array_to_string(
         |      regexp_extract_all(lower(text), '[a-z0-9]+'), ' ')) AS fp,
         |    CAST(CAST(regexp_extract(source, '([0-9]+)', 1) AS INT) % 4
         |      AS BIGINT) AS src_tier,
         |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+'))
         |      AS BIGINT) AS n_tok,
         |    CAST(len(list_distinct(
         |        regexp_extract_all(lower(text), '[a-z0-9]+'))) * 1000000
         |      // greatest(len(regexp_extract_all(lower(text), '[a-z0-9]+')),
         |                  1) AS BIGINT) AS quality_ppm
         |  FROM documents
         |), rr AS (
         |  SELECT *, row_number() OVER (PARTITION BY fp
         |    ORDER BY src_tier ASC, quality_ppm DESC, n_tok DESC,
         |             doc_id ASC) AS rk
         |  FROM m
         |), surv AS (
         |  SELECT * FROM rr WHERE rk = 1
         |), spl AS (
         |  SELECT *, row_number() OVER (PARTITION BY lang
         |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS erk
         |  FROM surv
         |), train AS (
         |  SELECT * FROM spl WHERE erk > 20
         |), src AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_train,
         |    CAST(sum(n_tok) AS BIGINT) AS c,
         |    CAST(sum(quality_ppm) AS BIGINT) AS qsum
         |  FROM train GROUP BY 1
         |), sw AS (
         |  SELECT *, greatest(1, qsum // n_train) AS w FROM src
         |), $waterfillCtes, fin AS (
         |  SELECT source, n_train, c AS train_tokens,
         |    CAST(CASE WHEN capped THEN c
         |         ELSE least(c, greatest(0, b - agg.cc_star) * w
         |                       // agg.wu_star) END AS BIGINT) AS alloc
         |  FROM h CROSS JOIN agg
         |), sel AS (
         |  SELECT t.source, t.n_tok,
         |    sum(t.n_tok) OVER (PARTITION BY t.source
         |      ORDER BY md5(CAST(t.doc_id AS VARCHAR)), t.doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         |    fin.alloc
         |  FROM train t JOIN fin ON t.source = fin.source
         |), kept AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_selected,
         |    CAST(sum(n_tok) AS BIGINT) AS sel_tokens,
         |    CAST(sum((n_tok + 511) // 512) AS BIGINT) AS n_chunks
         |  FROM sel WHERE cum <= alloc GROUP BY 1
         |), raw AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_raw
         |  FROM documents GROUP BY 1
         |), sv AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_survivors
         |  FROM surv GROUP BY 1
         |)
         |SELECT raw.source, raw.n_raw, sv.n_survivors, fin.n_train,
         |  fin.train_tokens, fin.alloc,
         |  coalesce(kept.n_selected, 0) AS n_selected,
         |  coalesce(kept.sel_tokens, 0) AS sel_tokens,
         |  coalesce(kept.n_chunks, 0) AS n_chunks
         |FROM raw
         |JOIN sv ON raw.source = sv.source
         |JOIN fin ON raw.source = fin.source
         |LEFT JOIN kept ON raw.source = kept.source""".stripMargin,

    // same two grouped passes per release slice, the count-desc/lang
    // majority window, and the integer ppm quality mean
    "q479_dataset_diff_card" ->
      """WITH base AS (
        |  SELECT doc_id, source, lang,
        |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+'))
        |      AS BIGINT) AS ntok,
        |    CAST(len(list_distinct(regexp_extract_all(lower(text),
        |      '[a-z0-9]+'))) AS BIGINT) * 1000000
        |      // greatest(CAST(len(regexp_extract_all(lower(text),
        |        '[a-z0-9]+')) AS BIGINT), 1) AS q_ppm
        |  FROM documents
        |), mk AS (
        |  SELECT v, source, lang, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(ntok) AS BIGINT) AS ntok,
        |    CAST(sum(q_ppm) AS BIGINT) AS qsum
        |  FROM (
        |    SELECT 1 AS v, * FROM base WHERE doc_id % 10 <> 0
        |    UNION ALL SELECT 2 AS v, * FROM base)
        |  GROUP BY 1, 2, 3
        |), agg AS (
        |  SELECT v, source, CAST(sum(n) AS BIGINT) AS n_docs,
        |    CAST(sum(ntok) AS BIGINT) AS n_tokens,
        |    CAST(sum(qsum) // sum(n) AS BIGINT) AS q_ppm
        |  FROM mk GROUP BY 1, 2
        |), maj AS (
        |  SELECT v, source, lang AS maj_lang FROM (
        |    SELECT v, source, lang,
        |      row_number() OVER (PARTITION BY v, source
        |        ORDER BY n DESC, lang) AS rk
        |    FROM mk) WHERE rk = 1
        |)
        |SELECT a1.source,
        |  a1.n_docs AS n_docs_v1, a1.n_tokens AS n_tokens_v1,
        |  a1.q_ppm AS q_ppm_v1, m1.maj_lang AS maj_lang_v1,
        |  a2.n_docs AS n_docs_v2, a2.n_tokens AS n_tokens_v2,
        |  a2.q_ppm AS q_ppm_v2, m2.maj_lang AS maj_lang_v2,
        |  CAST(a2.n_docs - a1.n_docs AS BIGINT) AS delta_docs,
        |  CAST(a2.n_tokens - a1.n_tokens AS BIGINT) AS delta_tokens,
        |  (m2.maj_lang <> m1.maj_lang) AS lang_changed,
        |  (abs(a2.q_ppm - a1.q_ppm) > 5000) AS quality_drift
        |FROM agg a1
        |JOIN maj m1 ON m1.v = 1 AND m1.source = a1.source
        |JOIN agg a2 ON a2.v = 2 AND a2.source = a1.source
        |JOIN maj m2 ON m2.v = 2 AND m2.source = a1.source
        |WHERE a1.v = 1""".stripMargin,


    // q457's interim machinery with the OBF product test z²·k > C²·K
    // and the reported decreasing boundary
    "q473_obf_interims" ->
      s"""WITH $interimZ2Chain, f AS (
         |  SELECT *, CAST(20808000 // (interim + 1) AS BIGINT)
         |      AS bound_micro,
         |    z2_micro * (interim + 1) > 20808000 AS crossed
         |  FROM z
         |)
         |SELECT interim, n_cum, k_cum, z2_micro, bound_micro, crossed,
         |  (SELECT CAST(min(CASE WHEN crossed THEN interim END) AS BIGINT)
         |   FROM f) AS first_cross
         |FROM f""".stripMargin,


    // same day-integer fold algebra off the orders date span; DuckDB
    // DATE subtraction is exact day count, // is the same truncating
    // division on the non-negative operands
    "q469_purged_time_folds" ->
      """WITH o AS (
        |  SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01'
        |    AS BIGINT) AS d
        |  FROM orders
        |), s AS (SELECT min(d) AS lo, max(d) AS hi FROM o),
        |f AS (
        |  SELECT CAST(fold AS BIGINT) AS fold,
        |    CAST(lo + (fold * (hi - lo + 1)) // 5 AS BIGINT) AS t_lo,
        |    CAST(lo + ((fold + 1) * (hi - lo + 1)) // 5 - 1 AS BIGINT)
        |      AS t_hi
        |  FROM s, unnest(generate_series(0, 4)) AS u(fold)
        |)
        |SELECT f.fold, f.t_lo, f.t_hi,
        |  CAST(sum(CASE WHEN d BETWEEN t_lo AND t_hi THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_test,
        |  CAST(sum(CASE WHEN NOT (d BETWEEN t_lo AND t_hi)
        |    AND d BETWEEN t_lo - 15 AND t_hi + 15 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_purged,
        |  CAST(sum(CASE WHEN NOT (d BETWEEN t_lo - 15 AND t_hi + 15)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_train
        |FROM o, f
        |GROUP BY 1, 2, 3""".stripMargin,


    // q464's three deterministic raters verbatim; alpha's (3n−1)
    // pairable-value correction in the same exact sign-split ppm algebra
    "q470_krippendorff_alpha" ->
      """WITH d AS (
        |  SELECT
        |    (CASE WHEN len(list_distinct(regexp_extract_all(lower(text),
        |            '[a-z0-9]+'))) * 2
        |          > len(regexp_extract_all(lower(text), '[a-z0-9]+'))
        |          THEN 1 ELSE 0 END)
        |    + (CASE WHEN n_chars
        |            > len(regexp_extract_all(lower(text), '[a-z0-9]+')) * 5
        |            THEN 1 ELSE 0 END)
        |    + (CASE WHEN len(list_filter(
        |            regexp_extract_all(lower(text), '[a-z0-9]+'),
        |            t -> regexp_matches(t, '^[0-9]+$'))) > 0
        |            THEN 1 ELSE 0 END) AS p
        |  FROM documents
        |), g AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(p) AS BIGINT) AS n1,
        |    CAST(sum(p * (3 - p)) AS BIGINT) AS do_pairs
        |  FROM d
        |)
        |SELECT n, n1, do_pairs, CAST(n * 3 - n1 AS BIGINT) AS n0,
        |  CAST(CASE WHEN 2 * n1 * (n * 3 - n1) >= do_pairs * (3 * n - 1)
        |    THEN (2 * n1 * (n * 3 - n1) - do_pairs * (3 * n - 1)) * 1000000
        |      // greatest(2 * n1 * (n * 3 - n1), 1)
        |    ELSE -((do_pairs * (3 * n - 1) - 2 * n1 * (n * 3 - n1)) * 1000000
        |      // greatest(2 * n1 * (n * 3 - n1), 1)) END AS BIGINT)
        |    AS alpha_ppm
        |FROM g""".stripMargin,


    // identical staged ppm shares and the sign-split chance correction
    "q464_fleiss_kappa" ->
      """WITH d AS (
        |  SELECT
        |    (CASE WHEN len(list_distinct(regexp_extract_all(lower(text),
        |            '[a-z0-9]+'))) * 2
        |          > len(regexp_extract_all(lower(text), '[a-z0-9]+'))
        |          THEN 1 ELSE 0 END)
        |    + (CASE WHEN n_chars
        |            > len(regexp_extract_all(lower(text), '[a-z0-9]+')) * 5
        |            THEN 1 ELSE 0 END)
        |    + (CASE WHEN len(list_filter(
        |            regexp_extract_all(lower(text), '[a-z0-9]+'),
        |            t -> regexp_matches(t, '^[0-9]+$'))) > 0
        |            THEN 1 ELSE 0 END) AS p
        |  FROM documents
        |), g AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(p) AS BIGINT) AS sum_pos,
        |    CAST(sum(p * (p - 1) + (3 - p) * (2 - p)) AS BIGINT)
        |      AS sum_pairs
        |  FROM d
        |), q AS (
        |  SELECT n, sum_pos, sum_pairs,
        |    sum_pairs * 1000000 // (n * 6) AS pbar_ppm,
        |    sum_pos * 1000000 // (n * 3) AS ppos_ppm
        |  FROM g
        |), e AS (
        |  SELECT *, (ppos_ppm * ppos_ppm) // 1000000
        |    + ((1000000 - ppos_ppm) * (1000000 - ppos_ppm)) // 1000000
        |    AS pe_ppm
        |  FROM q
        |)
        |SELECT n, sum_pos, sum_pairs,
        |  CAST(pbar_ppm AS BIGINT) AS pbar_ppm,
        |  CAST(ppos_ppm AS BIGINT) AS ppos_ppm,
        |  CAST(pe_ppm AS BIGINT) AS pe_ppm,
        |  CAST(CASE WHEN pbar_ppm >= pe_ppm THEN
        |      (pbar_ppm - pe_ppm) * 1000000
        |        // greatest(1000000 - pe_ppm, 1)
        |    ELSE -((pe_ppm - pbar_ppm) * 1000000
        |        // greatest(1000000 - pe_ppm, 1)) END AS BIGINT)
        |    AS kappa_ppm
        |FROM e""".stripMargin,

    "q457_pocock_interims" -> pocockInterimsSql,

    // identical division-free stratum signs vs the pooled sign
    "q455_simpson_flags" ->
      """WITH d AS (
        |  SELECT lang, doc_id % 2 AS t,
        |    CASE WHEN len(list_distinct(regexp_extract_all(lower(text),
        |           '[a-z0-9]+'))) * 2
        |         > len(regexp_extract_all(lower(text), '[a-z0-9]+'))
        |         THEN 1 ELSE 0 END AS y
        |  FROM documents
        |), strat AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN t = 1 AND y = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS a,
        |    CAST(sum(CASE WHEN t = 1 AND y = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS b,
        |    CAST(sum(CASE WHEN t = 0 AND y = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c,
        |    CAST(sum(CASE WHEN t = 0 AND y = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS d
        |  FROM d GROUP BY 1
        |), terms AS (
        |  SELECT *, a * d - b * c AS margin,
        |    a * d * 1000000 // n AS num_micro,
        |    b * c * 1000000 // n AS den_micro
        |  FROM strat
        |), pooled AS (
        |  SELECT CAST(sign(sum(num_micro) - sum(den_micro)) AS BIGINT)
        |    AS pooled_sign
        |  FROM terms
        |), fl AS (
        |  SELECT t.lang, t.n, CAST(t.margin AS BIGINT) AS margin,
        |    CAST(sign(t.margin) AS BIGINT) AS stratum_sign,
        |    p.pooled_sign,
        |    sign(t.margin) <> 0 AND p.pooled_sign <> 0
        |      AND CAST(sign(t.margin) AS BIGINT) <> p.pooled_sign AS flip
        |  FROM terms t CROSS JOIN pooled p
        |)
        |SELECT lang, n, margin, stratum_sign, pooled_sign, flip,
        |  (SELECT CAST(sum(CASE WHEN flip THEN 1 ELSE 0 END) AS BIGINT)
        |   FROM fl) AS n_flips
        |FROM fl""".stripMargin,

    // identical trailing window, sorted frame, lower-median pick
    "q456_rolling_median" ->
      """WITH daily AS (
        |  SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d,
        |    CAST(sum(CAST(CAST(value AS DECIMAL(30,2)) * 100 AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM events GROUP BY 1
        |), w AS (
        |  SELECT d, cents,
        |    list_sort(list(cents) OVER (ORDER BY d
        |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS win
        |  FROM daily
        |)
        |SELECT d, cents, CAST(len(win) AS BIGINT) AS n_days,
        |  CAST(win[CAST((len(win) + 1) // 2 AS INT)] AS BIGINT)
        |    AS p50_cents
        |FROM w""".stripMargin,

    "q449_page_hinkley" -> pageHinkleySql,

    // the identical IEEE expression tree on exact integer inputs,
    // floor-quantized at the end (the q25 discipline)
    "q450_wilson_bounds" ->
      """WITH h AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS k
        |  FROM events GROUP BY 1
        |)
        |SELECT event_type, n, k,
        |  CAST(k * 1000000 // n AS BIGINT) AS p_ppm,
        |  CAST(floor(1e6 * ((CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
        |      + (1.96 * 1.96) / (2.0 * CAST(n AS DOUBLE)))
        |    - 1.96 * sqrt((CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
        |        * (1.0 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
        |        / CAST(n AS DOUBLE)
        |      + (1.96 * 1.96) / (4.0 * CAST(n AS DOUBLE)
        |        * CAST(n AS DOUBLE))))
        |    / (1.0 + (1.96 * 1.96) / CAST(n AS DOUBLE))) AS BIGINT)
        |    AS lo_ppm,
        |  CAST(floor(1e6 * ((CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
        |      + (1.96 * 1.96) / (2.0 * CAST(n AS DOUBLE)))
        |    + 1.96 * sqrt((CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
        |        * (1.0 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
        |        / CAST(n AS DOUBLE)
        |      + (1.96 * 1.96) / (4.0 * CAST(n AS DOUBLE)
        |        * CAST(n AS DOUBLE))))
        |    / (1.0 + (1.96 * 1.96) / CAST(n AS DOUBLE))) AS BIGINT)
        |    AS hi_ppm
        |FROM h""".stripMargin,

    // identical one-pass sums and guarded micro statistic
    "q447_cochran_q" ->
      """WITH d AS (
        |  SELECT
        |    CASE WHEN len(list_distinct(regexp_extract_all(lower(text),
        |           '[a-z0-9]+'))) * 2
        |         > len(regexp_extract_all(lower(text), '[a-z0-9]+'))
        |         THEN 1 ELSE 0 END AS ra,
        |    CASE WHEN n_chars
        |         > len(regexp_extract_all(lower(text), '[a-z0-9]+')) * 5
        |         THEN 1 ELSE 0 END AS rb,
        |    CASE WHEN len(list_filter(
        |           regexp_extract_all(lower(text), '[a-z0-9]+'),
        |           t -> regexp_matches(t, '^[0-9]+$'))) > 0
        |         THEN 1 ELSE 0 END AS rc
        |  FROM documents
        |), g AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(ra) AS BIGINT) AS g1, CAST(sum(rb) AS BIGINT) AS g2,
        |    CAST(sum(rc) AS BIGINT) AS g3,
        |    CAST(sum((ra + rb + rc) * (ra + rb + rc)) AS BIGINT) AS sum_l2
        |  FROM d
        |)
        |SELECT n, g1, g2, g3, sum_l2, g1 + g2 + g3 AS t,
        |  CAST(2 * (3 * (g1 * g1 + g2 * g2 + g3 * g3)
        |            - (g1 + g2 + g3) * (g1 + g2 + g3)) * 1000000
        |    // greatest(3 * (g1 + g2 + g3) - sum_l2, 1) AS BIGINT)
        |    AS q_micro,
        |  2 * (3 * (g1 * g1 + g2 * g2 + g3 * g3)
        |       - (g1 + g2 + g3) * (g1 + g2 + g3)) * 1000000
        |    // greatest(3 * (g1 + g2 + g3) - sum_l2, 1) > 5991465
        |    AS significant
        |FROM g""".stripMargin,

    // q16's pair CTE feeding the dup share; the rest is plain rollups
    // over the same token grain
    "q448_dataset_card" ->
      s"""WITH t AS (
         |  SELECT doc_id, source, lang,
         |    regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
         |  FROM documents
         |), base AS (
         |  SELECT doc_id, source, lang,
         |    CAST(len(ts) AS BIGINT) AS n_tok,
         |    CAST(len(list_distinct(ts)) * 1000000
         |      // greatest(len(ts), 1) AS BIGINT) AS quality_ppm
         |  FROM t
         |), $shinglesCte, $minhashBandsCte, $lshPairsCte, dupd AS (
         |  SELECT DISTINCT doc_id FROM (
         |    SELECT a_doc AS doc_id FROM pairs
         |    UNION ALL SELECT b_doc FROM pairs)
         |), vol AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         |    CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         |    CAST(sum(quality_ppm) // count(*) AS BIGINT)
         |      AS mean_quality_ppm
         |  FROM base GROUP BY 1
         |), tl AS (
         |  SELECT source, lang AS top_lang,
         |    CAST(nl AS BIGINT) AS top_lang_docs
         |  FROM (
         |    SELECT source, lang, count(*) AS nl, row_number() OVER (
         |      PARTITION BY source ORDER BY count(*) DESC, lang) AS rk
         |    FROM base GROUP BY source, lang)
         |  WHERE rk = 1
         |), ml AS (
         |  SELECT source, n_tok AS p50_tokens FROM (
         |    SELECT source, n_tok, doc_id, row_number() OVER (
         |      PARTITION BY source ORDER BY n_tok, doc_id) AS rn,
         |      count(*) OVER (PARTITION BY source) AS nsrc
         |    FROM base)
         |  WHERE rn = (nsrc + 1) // 2
         |), dup AS (
         |  SELECT b.source, CAST(count(*) AS BIGINT) AS n_dup_docs
         |  FROM base b JOIN dupd ON b.doc_id = dupd.doc_id
         |  GROUP BY 1
         |)
         |SELECT vol.source, vol.n_docs, vol.n_tokens, vol.n_langs,
         |  tl.top_lang,
         |  CAST(tl.top_lang_docs * 1000000 // vol.n_docs AS BIGINT)
         |    AS top_lang_ppm,
         |  vol.mean_quality_ppm, ml.p50_tokens,
         |  CAST(coalesce(dup.n_dup_docs, 0) * 1000000 // vol.n_docs
         |    AS BIGINT) AS dup_doc_ppm
         |FROM vol
         |JOIN tl ON vol.source = tl.source
         |JOIN ml ON vol.source = ml.source
         |LEFT JOIN dup ON vol.source = dup.source""".stripMargin,

    // identical discordant-cell statistic and declared quantile constant
    "q438_mcnemar" ->
      """WITH d AS (
        |  SELECT
        |    CASE WHEN len(list_distinct(regexp_extract_all(lower(text),
        |           '[a-z0-9]+'))) * 2
        |         > len(regexp_extract_all(lower(text), '[a-z0-9]+'))
        |         THEN 1 ELSE 0 END AS ra,
        |    CASE WHEN n_chars
        |         > len(regexp_extract_all(lower(text), '[a-z0-9]+')) * 5
        |         THEN 1 ELSE 0 END AS rb
        |  FROM documents
        |), g AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN ra = 1 AND rb = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n11,
        |    CAST(sum(CASE WHEN ra = 1 AND rb = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n10,
        |    CAST(sum(CASE WHEN ra = 0 AND rb = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n01,
        |    CAST(sum(CASE WHEN ra = 0 AND rb = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n00
        |  FROM d
        |)
        |SELECT n, n11, n10, n01, n00,
        |  CAST(((n10 - n01) * (n10 - n01) // greatest(n10 + n01, 1))
        |      * 1000000
        |    + ((n10 - n01) * (n10 - n01) % greatest(n10 + n01, 1))
        |      * 1000000 // greatest(n10 + n01, 1) AS BIGINT)
        |    AS mcnemar_micro,
        |  ((n10 - n01) * (n10 - n01) // greatest(n10 + n01, 1)) * 1000000
        |    + ((n10 - n01) * (n10 - n01) % greatest(n10 + n01, 1))
        |      * 1000000 // greatest(n10 + n01, 1) > 3841459 AS significant
        |FROM g""".stripMargin,

    // identical per-stratum 2×2 terms and pooled ratio
    "q439_mantel_haenszel" ->
      """WITH d AS (
        |  SELECT lang, doc_id % 2 AS t,
        |    CASE WHEN len(list_distinct(regexp_extract_all(lower(text),
        |           '[a-z0-9]+'))) * 2
        |         > len(regexp_extract_all(lower(text), '[a-z0-9]+'))
        |         THEN 1 ELSE 0 END AS y
        |  FROM documents
        |), strat AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN t = 1 AND y = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS a,
        |    CAST(sum(CASE WHEN t = 1 AND y = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS b,
        |    CAST(sum(CASE WHEN t = 0 AND y = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c,
        |    CAST(sum(CASE WHEN t = 0 AND y = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS d
        |  FROM d GROUP BY 1
        |), terms AS (
        |  SELECT *, CAST(a * d * 1000000 // n AS BIGINT) AS num_micro,
        |    CAST(b * c * 1000000 // n AS BIGINT) AS den_micro
        |  FROM strat
        |)
        |SELECT lang, n, a, b, c, d, num_micro, den_micro,
        |  (SELECT CAST(sum(num_micro) * 1000000
        |     // greatest(sum(den_micro), 1) AS BIGINT) FROM terms)
        |    AS or_mh_ppm
        |FROM terms""".stripMargin,

    // identical grid sweep over the doc token-count grain
    "q434_pack_efficiency_curve" ->
      """WITH d AS (
        |  SELECT CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+'))
        |    AS BIGINT) AS n_tok
        |  FROM documents
        |), g AS (
        |  SELECT n_tok, max_len,
        |    (n_tok + max_len - 1) // max_len AS chunks
        |  FROM d, unnest([CAST(128 AS BIGINT), CAST(256 AS BIGINT),
        |                  CAST(512 AS BIGINT), CAST(1024 AS BIGINT)])
        |    AS u(max_len)
        |  WHERE n_tok > 0
        |)
        |SELECT max_len, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS real_tokens,
        |  CAST(sum(chunks * max_len) AS BIGINT) AS padded_tokens,
        |  CAST(sum(chunks) AS BIGINT) AS n_chunks,
        |  CAST((sum(chunks * max_len) - sum(n_tok)) * 1000000
        |    // sum(chunks * max_len) AS BIGINT) AS waste_ppm
        |FROM g GROUP BY 1""".stripMargin,

    // identical lifetime derivation, staged-ppm hypergeometric moments,
    // abs-milli-scaled statistic
    "q428_logrank" ->
      """WITH pu AS (
        |  SELECT user_id, min(epoch_us(ts)) AS first_us,
        |    min(CASE WHEN event_type = 'purchase'
        |             THEN epoch_us(ts) END) AS conv_us,
        |    max(epoch_us(ts)) AS last_us
        |  FROM events GROUP BY 1
        |), t AS (
        |  SELECT user_id % 2 AS g,
        |    CASE WHEN conv_us IS NOT NULL THEN 1 ELSE 0 END AS event,
        |    CAST((coalesce(conv_us, last_us) - first_us) // 86400000000
        |         AS BIGINT) AS t_day
        |  FROM pu
        |), ex AS (
        |  SELECT t_day, CAST(count(*) AS BIGINT) AS x_all,
        |    CAST(sum(event) AS BIGINT) AS d_all,
        |    CAST(sum(g) AS BIGINT) AS x_g1,
        |    CAST(sum(g * event) AS BIGINT) AS d_g1
        |  FROM t GROUP BY 1
        |), tot AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_all_0,
        |    CAST(sum(g) AS BIGINT) AS n_g1_0
        |  FROM t
        |), r AS (
        |  SELECT t_day, d_all, d_g1,
        |    n_all_0 - coalesce(sum(x_all) OVER (ORDER BY t_day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS n_all,
        |    n_g1_0 - coalesce(sum(x_g1) OVER (ORDER BY t_day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS n_g1
        |  FROM ex CROSS JOIN tot
        |), v AS (
        |  SELECT t_day, CAST(n_all AS BIGINT) AS n_all,
        |    CAST(n_g1 AS BIGINT) AS n_g1, d_all, d_g1,
        |    CAST(d_all * n_g1 * 1000000 // n_all AS BIGINT) AS e1_micro,
        |    CAST(((d_all * (n_g1 * 1000000 // n_all)
        |           * ((n_all - n_g1) * 1000000 // n_all)) // 1000000
        |          * ((n_all - d_all) * 1000000
        |             // greatest(n_all - 1, 1))) // 1000000
        |      AS BIGINT) AS v_micro
        |  FROM r
        |), z AS (
        |  SELECT CAST(
        |    (abs(sum(d_g1 * 1000000 - e1_micro)) // 1000)
        |      * (abs(sum(d_g1 * 1000000 - e1_micro)) // 1000)
        |      // greatest(sum(v_micro) // 1000, 1) AS BIGINT) AS z2_milli
        |  FROM v
        |)
        |SELECT t_day, n_all, n_g1, d_all, d_g1, e1_micro, v_micro,
        |  z.z2_milli
        |FROM v CROSS JOIN z""".stripMargin,

    // identical µnat cell terms over the same contingency
    // q429's contingency and lnq quantization; n-scaled entropies and
    // the two directional integer divisions
    "q483_theils_u" ->
      """WITH cell AS (
        |  SELECT event_type AS t, user_id % 2 AS g,
        |    CAST(count(*) AS BIGINT) AS o
        |  FROM events GROUP BY 1, 2
        |), n1 AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cell),
        |ht AS (
        |  SELECT CAST(max(n) * CAST(floor(1e6 * ln(CAST(max(n) AS DOUBLE)))
        |      AS BIGINT)
        |    - sum(r * CAST(floor(1e6 * ln(CAST(r AS DOUBLE))) AS BIGINT))
        |    AS BIGINT) AS ht_micro
        |  FROM (SELECT t, CAST(sum(o) AS BIGINT) AS r FROM cell GROUP BY 1)
        |  CROSS JOIN n1
        |), hg AS (
        |  SELECT CAST(max(n) * CAST(floor(1e6 * ln(CAST(max(n) AS DOUBLE)))
        |      AS BIGINT)
        |    - sum(c * CAST(floor(1e6 * ln(CAST(c AS DOUBLE))) AS BIGINT))
        |    AS BIGINT) AS hg_micro
        |  FROM (SELECT g, CAST(sum(o) AS BIGINT) AS c FROM cell GROUP BY 1)
        |  CROSS JOIN n1
        |), mi AS (
        |  SELECT CAST(sum(CASE WHEN o > 0 THEN
        |      o * (CAST(floor(1e6 * ln(CAST(o * n AS DOUBLE))) AS BIGINT)
        |           - CAST(floor(1e6 * ln(CAST(r * c AS DOUBLE))) AS BIGINT))
        |    ELSE 0 END) AS BIGINT) AS mi_micro
        |  FROM (
        |    SELECT t, g, o,
        |      CAST(sum(o) OVER (PARTITION BY t) AS BIGINT) AS r,
        |      CAST(sum(o) OVER (PARTITION BY g) AS BIGINT) AS c
        |    FROM cell) CROSS JOIN n1
        |)
        |SELECT n1.n, mi.mi_micro, ht.ht_micro, hg.hg_micro,
        |  CAST(mi_micro * 1000000 // greatest(ht_micro, 1) AS BIGINT)
        |    AS u_tg_ppm,
        |  CAST(mi_micro * 1000000 // greatest(hg_micro, 1) AS BIGINT)
        |    AS u_gt_ppm
        |FROM n1, mi, ht, hg""".stripMargin,


    "q429_g2_independence" ->
      """WITH cell AS (
        |  SELECT event_type AS t, user_id % 2 AS g,
        |    CAST(count(*) AS BIGINT) AS o
        |  FROM events GROUP BY 1, 2
        |), shaped AS (
        |  SELECT t, g, o,
        |    CAST(sum(o) OVER (PARTITION BY t) AS BIGINT) AS r,
        |    CAST(sum(o) OVER (PARTITION BY g) AS BIGINT) AS c,
        |    (SELECT CAST(sum(o) AS BIGINT) FROM cell) AS n,
        |    (SELECT CAST(count(DISTINCT t) AS BIGINT) FROM cell) AS nt,
        |    (SELECT CAST(count(DISTINCT g) AS BIGINT) FROM cell) AS ng
        |  FROM cell
        |), terms AS (
        |  SELECT t, g, o, r, c,
        |    CASE WHEN o > 0 THEN
        |      2 * o * (CAST(floor(1e6 * ln(CAST(o * n AS DOUBLE)))
        |                 AS BIGINT)
        |               - CAST(floor(1e6 * ln(CAST(r * c AS DOUBLE)))
        |                 AS BIGINT))
        |    ELSE 0 END AS term_micro,
        |    (nt - 1) * (ng - 1) AS dof
        |  FROM shaped
        |)
        |SELECT t, g, o, r, c, CAST(term_micro AS BIGINT) AS term_micro,
        |  CAST(dof AS BIGINT) AS dof,
        |  (SELECT CAST(sum(term_micro) AS BIGINT) FROM terms) AS g2_micro
        |FROM terms""".stripMargin,

    // the stored-membership replay: centroids, scatter, separations and
    // the DB index all restated relationally over the persisted
    // assignment + the embeddings table (no unroll — the fit's only
    // export is the artifact)
    "q430_cluster_quality" ->
      s"""WITH x AS (
         |  SELECT vec_id, CAST(i - 1 AS BIGINT) AS dim,
         |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)
         |      AS q
         |  FROM embeddings, unnest(generate_series(1, len(embedding)))
         |    AS u(i)
         |), a AS (
         |  SELECT * FROM read_parquet('${predsPath("q430_assign")}/*.parquet')
         |), cent AS (
         |  SELECT a.cid, x.dim, CAST(count(*) AS BIGINT) AS n,
         |    CAST((sum(x.q) + count(*) * 2000000) // count(*) - 2000000
         |      AS BIGINT) AS c_q
         |  FROM a JOIN x ON a.vec_id = x.vec_id
         |  GROUP BY 1, 2
         |), scat AS (
         |  SELECT a.cid,
         |    CAST(count(DISTINCT a.vec_id) AS BIGINT) AS n_vecs,
         |    CAST(sum((x.q - c.c_q) * (x.q - c.c_q))
         |      // count(DISTINCT a.vec_id) AS BIGINT) AS scatter2
         |  FROM a JOIN x ON a.vec_id = x.vec_id
         |  JOIN cent c ON c.cid = a.cid AND c.dim = x.dim
         |  GROUP BY 1
         |), sep AS (
         |  SELECT a.cid AS ci, b.cid AS cj,
         |    CAST(sum((a.c_q - b.c_q) * (a.c_q - b.c_q)) AS BIGINT) AS sep2
         |  FROM cent a JOIN cent b ON a.dim = b.dim AND a.cid <> b.cid
         |  GROUP BY 1, 2
         |), db AS (
         |  SELECT sep.ci AS cid,
         |    CAST(max((si.scatter2 + sj.scatter2) * 1000000
         |      // greatest(sep.sep2, 1)) AS BIGINT) AS db_component_ppm
         |  FROM sep
         |  JOIN scat si ON si.cid = sep.ci
         |  JOIN scat sj ON sj.cid = sep.cj
         |  GROUP BY 1
         |), o AS (
         |  SELECT s.cid, s.n_vecs, s.scatter2, db.db_component_ppm
         |  FROM scat s JOIN db ON db.cid = s.cid
         |)
         |SELECT cid, n_vecs, scatter2, db_component_ppm,
         |  (SELECT CAST(sum(db_component_ppm) // count(*) AS BIGINT)
         |   FROM o) AS db_index_ppm
         |FROM o""".stripMargin,

    // identical capped-basket pair join and µnat-discounted sum
    "q426_adamic_adar" ->
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem
        |), sized AS (
        |  SELECT bk, it, count(*) OVER (PARTITION BY bk) AS bs FROM items
        |), kept AS (
        |  SELECT bk, it,
        |    1000000000000 // CAST(floor(1e6 * ln(CAST(bs AS DOUBLE)))
        |      AS BIGINT) AS inv_micro
        |  FROM sized WHERE bs BETWEEN 2 AND 20
        |)
        |SELECT a.it AS item_a, b.it AS item_b,
        |  CAST(count(*) AS BIGINT) AS n_common,
        |  CAST(sum(a.inv_micro) AS BIGINT) AS aa_micro
        |FROM kept a JOIN kept b ON a.bk = b.bk AND a.it < b.it
        |GROUP BY 1, 2
        |HAVING count(*) >= 2""".stripMargin,

    // the q419 survivor policy chained into the q399 waterfill algebra,
    // both stated verbatim over the surviving-token source rollup
    "q421_dedup_waterfill" ->
      s"""WITH m AS (
         |  SELECT doc_id, source,
         |    md5(array_to_string(
         |      regexp_extract_all(lower(text), '[a-z0-9]+'), ' ')) AS fp,
         |    CAST(CAST(regexp_extract(source, '([0-9]+)', 1) AS INT) % 4
         |      AS BIGINT) AS src_tier,
         |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+'))
         |      AS BIGINT) AS n_tok,
         |    CAST(len(list_distinct(
         |        regexp_extract_all(lower(text), '[a-z0-9]+'))) * 1000000
         |      // greatest(len(regexp_extract_all(lower(text), '[a-z0-9]+')),
         |                  1) AS BIGINT) AS quality_ppm
         |  FROM documents
         |), rr AS (
         |  SELECT *, row_number() OVER (PARTITION BY fp
         |    ORDER BY src_tier ASC, quality_ppm DESC, n_tok DESC,
         |             doc_id ASC) AS rk
         |  FROM m
         |), surv AS (
         |  SELECT * FROM rr WHERE rk = 1
         |), src AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(n_tok) AS BIGINT) AS c,
         |    CAST(sum(quality_ppm) AS BIGINT) AS qsum
         |  FROM surv GROUP BY 1
         |), $waterfillTail""".stripMargin,

    // the identical division-free waterfilling algebra over the same
    // source-grain rollup; windows and prefix-AND stated verbatim
    "q399_token_waterfill" ->
      s"""WITH pp AS (
         |  SELECT source,
         |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+'))
         |      AS BIGINT) AS n_tok,
         |    CAST(len(list_distinct(regexp_extract_all(lower(text),
         |      '[a-z0-9]+'))) AS BIGINT) AS n_dist
         |  FROM documents
         |), src AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(n_tok) AS BIGINT) AS c,
         |    CAST(sum(n_dist * 1000000 // greatest(n_tok, 1)) AS BIGINT)
         |      AS qsum
         |  FROM pp GROUP BY 1
         |), $waterfillTail""".stripMargin,

    // the naive global row_number formulation of the quartile buckets —
    // the engine's two-phase rank must land on the identical assignment
    "q400_padding_buckets" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+'))
        |      AS BIGINT) AS len
        |  FROM documents
        |), r AS (
        |  SELECT doc_id, len,
        |    CAST(row_number() OVER (ORDER BY len, doc_id) AS BIGINT) AS rn,
        |    (SELECT count(*) FROM d) AS n
        |  FROM d
        |), b AS (
        |  SELECT *, CASE WHEN rn * 100 <= n * 25 THEN 25
        |                 WHEN rn * 100 <= n * 50 THEN 50
        |                 WHEN rn * 100 <= n * 75 THEN 75
        |                 ELSE 100 END AS q
        |  FROM r
        |), g AS (
        |  SELECT q, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(len) AS BIGINT) AS real_tokens,
        |    CAST(max(len) AS BIGINT) AS bucket_len
        |  FROM b GROUP BY 1
        |)
        |SELECT CAST(q AS BIGINT) AS q, n_docs, bucket_len, real_tokens,
        |  n_docs * bucket_len AS padded_tokens,
        |  CASE WHEN n_docs * bucket_len > 0
        |    THEN CAST((n_docs * bucket_len - real_tokens) * 1000000
        |              // (n_docs * bucket_len) AS BIGINT)
        |    END AS waste_ppm
        |FROM g""".stripMargin,

    // the ENTIRE fit+serve stated relationally: same md5 split, same
    // train-only count tables, same add-one µnat quantization
    "q402_heldout_bigram_xent" ->
      """WITH d AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts,
        |    CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
        |                   1, 2) AS INT) < 205
        |         THEN 'train' ELSE 'holdout' END AS split
        |  FROM documents
        |), p AS (
        |  SELECT doc_id, split, ts[i] AS w1, ts[i + 1] AS w2
        |  FROM d, unnest(generate_series(1, len(ts) - 1)) AS u(i)
        |  WHERE len(ts) >= 2
        |), cb AS (
        |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS cb
        |  FROM p WHERE split = 'train' GROUP BY 1, 2
        |), cw1 AS (
        |  SELECT w1, CAST(count(*) AS BIGINT) AS cw1
        |  FROM p WHERE split = 'train' GROUP BY 1
        |), v AS (
        |  SELECT CAST(count(DISTINCT w) AS BIGINT) AS v
        |  FROM (SELECT unnest(ts) AS w FROM d WHERE split = 'train')
        |), h AS (
        |  SELECT p.doc_id,
        |    CAST(floor(-1e6 * ln(
        |      (CAST(coalesce(cb.cb, 0) AS DOUBLE) + 1.0)
        |      / (CAST(coalesce(cw1.cw1, 0) AS DOUBLE)
        |         + CAST(v.v AS DOUBLE) + 1.0))) AS BIGINT) AS q
        |  FROM p
        |  LEFT JOIN cb ON p.w1 = cb.w1 AND p.w2 = cb.w2
        |  LEFT JOIN cw1 ON p.w1 = cw1.w1
        |  CROSS JOIN v
        |  WHERE p.split = 'holdout'
        |)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  CAST(sum(q) AS BIGINT) AS sum_q,
        |  CAST(sum(q) // count(*) AS BIGINT) AS xent_q
        |FROM h GROUP BY 1""".stripMargin,

    // both medians as naive global row_numbers (the engine's two-phase
    // rank must land on the identical order statistics)
    "q410_mad_outliers" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+'))
        |      AS BIGINT) AS len
        |  FROM documents
        |), m AS (
        |  SELECT len AS med FROM (
        |    SELECT len, row_number() OVER (ORDER BY len, doc_id) AS rn,
        |           (SELECT count(*) FROM d) AS n
        |    FROM d)
        |  WHERE rn = (n + 1) // 2
        |), dv AS (
        |  SELECT doc_id, len, (SELECT med FROM m) AS med,
        |         abs(len - (SELECT med FROM m)) AS dev
        |  FROM d
        |), md AS (
        |  SELECT dev AS mad FROM (
        |    SELECT dev, row_number() OVER (ORDER BY dev, doc_id) AS rn,
        |           (SELECT count(*) FROM dv) AS n
        |    FROM dv)
        |  WHERE rn = (n + 1) // 2
        |)
        |SELECT doc_id, len, med, (SELECT mad FROM md) AS mad, dev
        |FROM dv WHERE 2 * dev > 3 * (SELECT mad FROM md)""".stripMargin,

    // same µ-grid, same offset-div centroid, same pair join — dims are
    // 0-based on both sides (posexplode's ordinal / i - 1)
    "q408_label_centroids" ->
      """WITH x AS (
        |  SELECT label, CAST(i - 1 AS BIGINT) AS dim,
        |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)
        |      AS q
        |  FROM embeddings, unnest(generate_series(1, len(embedding)))
        |    AS u(i)
        |), c AS (
        |  SELECT label, dim, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(q) AS BIGINT) AS sq
        |  FROM x GROUP BY 1, 2
        |), cc AS (
        |  SELECT label, dim,
        |    (sq + n * 2000000) // n - 2000000 AS c_q
        |  FROM c
        |)
        |SELECT a.label AS la, b.label AS lb,
        |  CAST(count(*) AS BIGINT) AS n_dims,
        |  CAST(sum((a.c_q - b.c_q) * (a.c_q - b.c_q)) AS BIGINT)
        |    AS dist2_q
        |FROM cc a JOIN cc b ON a.dim = b.dim AND a.label < b.label
        |GROUP BY 1, 2""".stripMargin,

    // identical vocab-grain ranking and prefix; the k grid clamps to the
    // vocab size exactly as the engine does
    "q405_vocab_coverage" ->
      """WITH tf AS (
        |  SELECT w, CAST(count(*) AS BIGINT) AS f
        |  FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
        |          AS w FROM documents)
        |  GROUP BY 1
        |), r AS (
        |  SELECT w, f,
        |    CAST(row_number() OVER (ORDER BY f DESC, w ASC) AS BIGINT)
        |      AS rk,
        |    CAST(sum(f) OVER (ORDER BY f DESC, w ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_f,
        |    (SELECT CAST(sum(f) AS BIGINT) FROM tf) AS total_f,
        |    (SELECT CAST(count(*) AS BIGINT) FROM tf) AS n_terms
        |  FROM tf
        |)
        |SELECT k, n_terms, total_f, cum_f AS covered_f,
        |  CAST(cum_f * 1000000 // total_f AS BIGINT) AS coverage_ppm
        |FROM r, unnest([CAST(100 AS BIGINT), CAST(1000 AS BIGINT),
        |                CAST(10000 AS BIGINT)]) AS u(k)
        |WHERE rk = least(k, n_terms)""".stripMargin,

    // same per-stratum md5-order rank and quota
    "q403_quota_split" ->
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+'))
        |      AS BIGINT) AS n_tok,
        |    md5(CAST(doc_id AS VARCHAR)) AS sk
        |  FROM documents
        |), r AS (
        |  SELECT lang, n_tok,
        |    row_number() OVER (PARTITION BY lang ORDER BY sk, doc_id) AS rk
        |  FROM d
        |)
        |SELECT lang, CASE WHEN rk <= 20 THEN 'eval' ELSE 'train' END
        |         AS split,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS sum_tokens
        |FROM r GROUP BY 1, 2""".stripMargin,

    // identical contingency + division-free kappa ppm
    "q401_rater_kappa" ->
      """WITH d AS (
        |  SELECT lang,
        |    CASE WHEN len(list_distinct(regexp_extract_all(lower(text),
        |           '[a-z0-9]+'))) * 2
        |         > len(regexp_extract_all(lower(text), '[a-z0-9]+'))
        |         THEN 1 ELSE 0 END AS ra,
        |    CASE WHEN n_chars
        |         > len(regexp_extract_all(lower(text), '[a-z0-9]+')) * 5
        |         THEN 1 ELSE 0 END AS rb
        |  FROM documents
        |), g AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN ra = 1 AND rb = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n11,
        |    CAST(sum(CASE WHEN ra = 1 AND rb = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n10,
        |    CAST(sum(CASE WHEN ra = 0 AND rb = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n01,
        |    CAST(sum(CASE WHEN ra = 0 AND rb = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n00
        |  FROM d GROUP BY 1
        |)
        |SELECT lang, n, n11, n10, n01, n00,
        |  CASE WHEN n * n <> (n11 + n10) * (n11 + n01)
        |                     + (n00 + n01) * (n00 + n10)
        |    THEN CAST(((n11 + n00) * n
        |               - ((n11 + n10) * (n11 + n01)
        |                  + (n00 + n01) * (n00 + n10))) * 1000000
        |              // (n * n - ((n11 + n10) * (n11 + n01)
        |                          + (n00 + n01) * (n00 + n10)))
        |         AS BIGINT)
        |    END AS kappa_ppm
        |FROM g""".stripMargin,

    // exact bigint-cents block maxima; closing float math is ±·/·sqrt
    // only (IEEE-exact) with the same three shared constants
    "q484_gumbel_maxima" ->
      """WITH b AS (
        |  SELECT date_trunc('week', o_orderdate) AS wk,
        |    max(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
        |      AS BIGINT)) AS mc
        |  FROM orders GROUP BY 1
        |), s AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_blocks,
        |    CAST(sum(mc) AS BIGINT) AS sx,
        |    CAST(sum(mc * mc) AS BIGINT) AS sxx,
        |    CAST(max(mc) AS BIGINT) AS max_cents
        |  FROM b
        |), f AS (
        |  SELECT n_blocks, max_cents,
        |    CAST(sx AS DOUBLE) / n_blocks AS mean_cents,
        |    sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
        |          * CAST(sx AS DOUBLE) / n_blocks) / (n_blocks - 1))
        |      * 0.779696801233676 AS beta_cents
        |  FROM s
        |)
        |SELECT n_blocks, max_cents, mean_cents, beta_cents,
        |  mean_cents - 0.5772156649015329 * beta_cents AS mu_cents,
        |  mean_cents - 0.5772156649015329 * beta_cents
        |    + 4.600149226776579 * beta_cents AS rl100_cents
        |FROM f""".stripMargin,

    // same tokenizer + 8-gram shingle + md5 fingerprint the dedup
    // family states; distinct (source, fp) grain before the fp join
    "q485_source_overlap" ->
      """WITH t AS (
        |  SELECT source,
        |    regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
        |  FROM documents
        |), g AS (
        |  SELECT DISTINCT source,
        |    md5(array_to_string(ts[i:i+7], ' ')) AS fp
        |  FROM t, unnest(generate_series(1, len(ts) - 7)) AS u(i)
        |  WHERE len(ts) >= 8
        |)
        |SELECT a.source AS source_a, b.source AS source_b,
        |  CAST(count(*) AS BIGINT) AS n_shared_grams
        |FROM g a JOIN g b ON a.fp = b.fp AND a.source < b.source
        |GROUP BY 1, 2""".stripMargin,

    // daily decimal(30,6) rollup, day-over-day sign series, runs =
    // sign changes + 1; mu/sigma2 pure integer-ppm rationals
    "q486_runs_test" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    sum(CAST(value AS DECIMAL(30,6))) AS v
        |  FROM events GROUP BY 1
        |), dd AS (
        |  SELECT day, v - lag(v) OVER (ORDER BY day) AS d FROM daily
        |), sg AS (
        |  SELECT day, CASE WHEN d > 0 THEN 1 ELSE -1 END AS sgn
        |  FROM dd WHERE d IS NOT NULL AND d <> 0
        |), ch AS (
        |  SELECT sgn, CASE WHEN lag(sgn) OVER (ORDER BY day) IS NULL
        |                     OR lag(sgn) OVER (ORDER BY day) <> sgn
        |              THEN 1 ELSE 0 END AS chg
        |  FROM sg
        |), r AS (
        |  SELECT
        |    CAST(sum(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |    CAST(sum(chg) AS BIGINT) AS n_runs
        |  FROM ch
        |)
        |SELECT n1, n2, n_runs,
        |  2 * n1 * n2 * 1000000 // greatest(n1 + n2, 1) + 1000000
        |    AS mu_ppm,
        |  2 * n1 * n2 * (2 * n1 * n2 - n1 - n2) * 1000000
        |    // greatest((n1 + n2) * (n1 + n2) * (n1 + n2 - 1), 1)
        |    AS sigma2_ppm
        |FROM r""".stripMargin,

    // exact HUGEINT power sums (the decimal(38,0) mirror), then the
    // identically-staged double chain. The int→double casts route
    // through VARCHAR: DuckDB's direct HUGEINT→DOUBLE is NOT correctly
    // rounded (measured 1-ulp miss on a 20-digit sum), while strtod is
    // — and Spark's decimal→double matches the correctly-rounded value
    "q487_jarque_bera" ->
      """WITH c AS (
        |  SELECT c_mktsegment AS seg,
        |    CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS HUGEINT) AS x
        |  FROM customer
        |), s AS (
        |  SELECT seg, CAST(count(*) AS BIGINT) AS n,
        |    sum(x) AS s1, sum(x*x) AS s2, sum(x*x*x) AS s3,
        |    sum(x*x*x*x) AS s4
        |  FROM c GROUP BY 1
        |), f AS (
        |  SELECT seg, n,
        |    CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / n AS mean,
        |    CAST(CAST(s2 AS VARCHAR) AS DOUBLE) / n AS r2,
        |    CAST(CAST(s3 AS VARCHAR) AS DOUBLE) / n AS r3,
        |    CAST(CAST(s4 AS VARCHAR) AS DOUBLE) / n AS r4
        |  FROM s
        |), m AS (
        |  SELECT seg, n, mean,
        |    r2 - mean * mean AS m2,
        |    r3 - 3 * mean * r2 + 2 * mean * mean * mean AS m3,
        |    r4 - 4 * mean * r3 + 6 * mean * mean * r2
        |      - 3 * mean * mean * mean * mean AS m4
        |  FROM f
        |)
        |SELECT seg, n, mean, skew, kurt_excess,
        |  n / 6.0 * (skew * skew + kurt_excess * kurt_excess / 4.0) AS jb
        |FROM (
        |  SELECT seg, n, mean, m3 / (m2 * sqrt(m2)) AS skew,
        |    m4 / (m2 * m2) - 3.0 AS kurt_excess
        |  FROM m)""".stripMargin,

    // same tokenizer; prefix = md5 of the joined ≤32-token slice;
    // integer-ppm cacheable share
    "q488_prefix_cache" ->
      """WITH t AS (
        |  SELECT source,
        |    regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
        |  FROM documents
        |), p AS (
        |  SELECT source, CAST(len(ts) AS BIGINT) AS n_tok,
        |    md5(array_to_string(ts[1:least(len(ts), 32)], ' ')) AS pfx,
        |    CAST(least(len(ts), 32) AS BIGINT) AS pfx_tok
        |  FROM t
        |), b AS (
        |  SELECT source, pfx, pfx_tok,
        |    CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n_tok) AS BIGINT) AS tok
        |  FROM p GROUP BY 1, 2, 3
        |)
        |SELECT source, CAST(sum(n_docs) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_prefixes,
        |  CAST(sum(n_docs - 1) AS BIGINT) AS dup_prefix_docs,
        |  CAST(sum((n_docs - 1) * pfx_tok) AS BIGINT) AS cacheable_tok,
        |  CAST(sum(tok) AS BIGINT) AS total_tok,
        |  CAST(sum((n_docs - 1) * pfx_tok) AS BIGINT) * 1000000
        |    // greatest(CAST(sum(tok) AS BIGINT), 1) AS cacheable_ppm
        |FROM b GROUP BY 1""".stripMargin,

    // the same exact-sum OLS, cent-floored residuals, and exact decimal
    // square sums; HUGEINT→DOUBLE routes via VARCHAR (q304 bridge)
    "q492_durbin_watson" ->
      """WITH daily AS (
        |  SELECT r_name, CAST(o_orderdate AS DATE) AS day,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS y
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  GROUP BY 1, 2
        |), d2 AS (
        |  SELECT r_name, day, y,
        |    CAST(date_diff('day', DATE '1992-01-01', day) AS BIGINT) AS t
        |  FROM daily
        |), fit AS (
        |  SELECT r_name, n, slope, my - slope * mt AS intercept FROM (
        |    SELECT r_name, n, mt, my, cty / vt AS slope FROM (
        |      SELECT r_name, n,
        |        CAST(st AS DOUBLE) / n AS mt,
        |        CAST(sy AS DOUBLE) / n AS my,
        |        CAST(stt AS DOUBLE) / n
        |          - (CAST(st AS DOUBLE) / n) * (CAST(st AS DOUBLE) / n)
        |          AS vt,
        |        CAST(sty AS DOUBLE) / n
        |          - (CAST(st AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n)
        |          AS cty
        |      FROM (
        |        SELECT r_name, CAST(count(*) AS BIGINT) AS n,
        |          CAST(sum(t) AS BIGINT) AS st,
        |          CAST(sum(y) AS BIGINT) AS sy,
        |          CAST(sum(t * t) AS BIGINT) AS stt,
        |          CAST(sum(t * y) AS BIGINT) AS sty
        |        FROM d2 GROUP BY 1)))
        |), resid AS (
        |  SELECT d.r_name, f.n, f.slope, f.intercept, d.day,
        |    CAST(floor(CAST(d.y AS DOUBLE)
        |      - (f.intercept + f.slope * CAST(d.t AS DOUBLE))) AS BIGINT)
        |      AS e
        |  FROM d2 d JOIN fit f ON d.r_name = f.r_name
        |), lagd AS (
        |  SELECT r_name, n, slope, intercept, e,
        |    e - lag(e) OVER (PARTITION BY r_name ORDER BY day) AS d
        |  FROM resid
        |), sums AS (
        |  SELECT r_name, n, slope, intercept,
        |    sum(CAST(e AS HUGEINT) * e) AS den,
        |    sum(CAST(d AS HUGEINT) * d) AS num
        |  FROM lagd GROUP BY 1, 2, 3, 4
        |)
        |SELECT r_name, n, slope, intercept,
        |  CAST(CAST(num AS VARCHAR) AS DOUBLE)
        |    / CAST(CAST(den AS VARCHAR) AS DOUBLE) AS dw
        |FROM sums""".stripMargin,

    // per-(region, segment) exact sums, pooled = exact integer sums of
    // the segments, identical RSS closed form on every leg
    "q493_chow_break" ->
      """WITH daily AS (
        |  SELECT r_name, CAST(o_orderdate AS DATE) AS day,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS y
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  GROUP BY 1, 2
        |), d2 AS (
        |  SELECT r_name, y,
        |    CAST(date_diff('day', DATE '1992-01-01', day) AS BIGINT) AS t,
        |    CASE WHEN day < DATE '1995-06-17' THEN 0 ELSE 1 END AS seg
        |  FROM daily
        |), per AS (
        |  SELECT r_name, seg, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(t) AS BIGINT) AS st,
        |    CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(t * t) AS BIGINT) AS stt,
        |    CAST(sum(t * y) AS BIGINT) AS sty,
        |    sum(CAST(y AS HUGEINT) * y) AS syy
        |  FROM d2 GROUP BY 1, 2
        |), wide AS (
        |  SELECT r_name,
        |    CAST(sum(CASE WHEN seg = 0 THEN n ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN seg = 1 THEN n ELSE 0 END) AS BIGINT) AS n2,
        |    CAST(sum(CASE WHEN seg = 0 THEN st ELSE 0 END) AS BIGINT) AS st1,
        |    CAST(sum(CASE WHEN seg = 1 THEN st ELSE 0 END) AS BIGINT) AS st2,
        |    CAST(sum(CASE WHEN seg = 0 THEN sy ELSE 0 END) AS BIGINT) AS sy1,
        |    CAST(sum(CASE WHEN seg = 1 THEN sy ELSE 0 END) AS BIGINT) AS sy2,
        |    CAST(sum(CASE WHEN seg = 0 THEN stt ELSE 0 END) AS BIGINT) AS stt1,
        |    CAST(sum(CASE WHEN seg = 1 THEN stt ELSE 0 END) AS BIGINT) AS stt2,
        |    CAST(sum(CASE WHEN seg = 0 THEN sty ELSE 0 END) AS BIGINT) AS sty1,
        |    CAST(sum(CASE WHEN seg = 1 THEN sty ELSE 0 END) AS BIGINT) AS sty2,
        |    sum(CASE WHEN seg = 0 THEN syy ELSE CAST(0 AS HUGEINT) END)
        |      AS syy1,
        |    sum(CASE WHEN seg = 1 THEN syy ELSE CAST(0 AS HUGEINT) END)
        |      AS syy2
        |  FROM per GROUP BY 1
        |), pooled AS (
        |  SELECT *, n1 + n2 AS np, st1 + st2 AS stp, sy1 + sy2 AS syp,
        |    stt1 + stt2 AS sttp, sty1 + sty2 AS styp, syy1 + syy2 AS syyp
        |  FROM wide
        |), rs AS (
        |  SELECT r_name, n1, n2,
        |    cast(n1 as double) * ( (cast(cast(syy1 as varchar) as double) / n1 - (cast(sy1 as double) / n1) * (cast(sy1 as double) / n1)) - (cast(sty1 as double) / n1 - (cast(st1 as double) / n1) * (cast(sy1 as double) / n1)) * (cast(sty1 as double) / n1 - (cast(st1 as double) / n1) * (cast(sy1 as double) / n1)) / (cast(stt1 as double) / n1 - (cast(st1 as double) / n1) * (cast(st1 as double) / n1)) ) AS rss1,
        |    cast(n2 as double) * ( (cast(cast(syy2 as varchar) as double) / n2 - (cast(sy2 as double) / n2) * (cast(sy2 as double) / n2)) - (cast(sty2 as double) / n2 - (cast(st2 as double) / n2) * (cast(sy2 as double) / n2)) * (cast(sty2 as double) / n2 - (cast(st2 as double) / n2) * (cast(sy2 as double) / n2)) / (cast(stt2 as double) / n2 - (cast(st2 as double) / n2) * (cast(st2 as double) / n2)) ) AS rss2,
        |    cast(np as double) * ( (cast(cast(syyp as varchar) as double) / np - (cast(syp as double) / np) * (cast(syp as double) / np)) - (cast(styp as double) / np - (cast(stp as double) / np) * (cast(syp as double) / np)) * (cast(styp as double) / np - (cast(stp as double) / np) * (cast(syp as double) / np)) / (cast(sttp as double) / np - (cast(stp as double) / np) * (cast(stp as double) / np)) ) AS rssp
        |  FROM pooled
        |)
        |SELECT r_name, n1, n2, rss1, rss2, rssp,
        |  ((rssp - rss1 - rss2) / cast(2 as double))
        |    / ((rss1 + rss2) / cast(n1 + n2 - 4 as double)) AS f_chow
        |FROM rs""".stripMargin,

    // per-segment variances from exact sums; every cross-segment fold
    // pre-quantized to integers so the closing aggregation is exact
    "q494_bartlett" ->
      """WITH per AS (
        |  SELECT c_mktsegment AS seg, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS s1,
        |    CAST(sum(x * x) AS BIGINT) AS s2
        |  FROM (
        |    SELECT c_mktsegment,
        |      CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS x
        |    FROM customer)
        |  GROUP BY 1
        |), q AS (
        |  SELECT seg, n,
        |    CAST(floor((n - 1) * ln(v) * 1000000) AS BIGINT) AS term_q,
        |    CAST(floor((n - 1) * v) AS BIGINT) AS spn_q,
        |    1000000000000 // (n - 1) AS inv_q
        |  FROM (
        |    SELECT seg, n,
        |      (cast(s2 as double) - cast(s1 as double) * cast(s1 as double)
        |        / n) / (n - 1) AS v
        |    FROM per)
        |), agg AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k,
        |    CAST(sum(n) AS BIGINT) AS nn,
        |    CAST(sum(term_q) AS BIGINT) AS t1,
        |    CAST(sum(spn_q) AS BIGINT) AS spn,
        |    CAST(sum(inv_q) AS BIGINT) AS inv
        |  FROM q
        |)
        |SELECT k, nn, sp2,
        |  (cast(nn - k as double) * ln(sp2)
        |    - cast(t1 as double) / cast(1000000 as double))
        |  / (cast(1 as double) + (cast(inv as double)
        |    / cast(1000000000000 as double)
        |    - cast(1 as double) / cast(nn - k as double))
        |  / (cast(3 as double) * cast(k - 1 as double))) AS t_bartlett
        |FROM (
        |  SELECT k, nn, t1, inv,
        |    cast(spn as double) / cast(nn - k as double) AS sp2
        |  FROM agg)""".stripMargin,

    // two-group conditional exact sums in one row, then the identical
    // Welch / Satterthwaite / pooled-d double chain
    "q495_welch_t" ->
      """WITH tot AS (
        |  SELECT (SELECT CAST(count(*) AS BIGINT) FROM customer) AS n_cust,
        |         (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_orders
        |), base AS (
        |  SELECT CASE WHEN coalesce(n_ord, 0) * n_cust >= n_orders
        |         THEN 1 ELSE 0 END AS g,
        |    CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS x
        |  FROM customer
        |  LEFT JOIN (
        |    SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_ord
        |    FROM orders GROUP BY 1) o ON c_custkey = o_custkey
        |  CROSS JOIN tot
        |), s AS (
        |  SELECT
        |    CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
        |    CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN g = 0 THEN x ELSE 0 END) AS BIGINT) AS s10,
        |    CAST(sum(CASE WHEN g = 1 THEN x ELSE 0 END) AS BIGINT) AS s11,
        |    CAST(sum(CASE WHEN g = 0 THEN x * x ELSE 0 END) AS BIGINT)
        |      AS s20,
        |    CAST(sum(CASE WHEN g = 1 THEN x * x ELSE 0 END) AS BIGINT)
        |      AS s21
        |  FROM base
        |), m AS (
        |  SELECT n0, n1,
        |    cast(s10 as double) / n0 AS mean0,
        |    cast(s11 as double) / n1 AS mean1,
        |    (cast(s20 as double) - cast(s10 as double) * cast(s10 as
        |      double) / n0) / (n0 - 1) AS v0,
        |    (cast(s21 as double) - cast(s11 as double) * cast(s11 as
        |      double) / n1) / (n1 - 1) AS v1
        |  FROM s
        |), w AS (
        |  SELECT *, v0 / n0 + v1 / n1 AS se2 FROM m
        |)
        |SELECT n0, n1, mean0, mean1,
        |  (mean1 - mean0) / sqrt(se2) AS t_welch,
        |  se2 * se2 / ((v0 / n0) * (v0 / n0) / (n0 - 1)
        |    + (v1 / n1) * (v1 / n1) / (n1 - 1)) AS df_welch,
        |  (mean1 - mean0) / sqrt(((n0 - 1) * v0 + (n1 - 1) * v1)
        |    / cast(n0 + n1 - 2 as double)) AS cohens_d
        |FROM w""".stripMargin,

    // q284's pair join per lag; per-lag rho from exact sums; the cross-
    // lag fold pre-quantized to 1e-12 units before the exact Σ
    "q496_ljung_box" ->
      """WITH daily AS (
        |  SELECT CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE))
        |              AS BIGINT) AS t,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1
        |), gstats AS (
        |  SELECT CAST(count(*) AS BIGINT) AS nn,
        |         CAST(sum(n) AS BIGINT) AS s1,
        |         CAST(sum(CAST(n AS DECIMAL(19,0)) * CAST(n AS DECIMAL(19,0)))
        |              AS DOUBLE) AS s2
        |  FROM daily
        |), pairs AS (
        |  SELECT l.lag, a.n AS x, b.n AS y
        |  FROM unnest([1, 2, 3, 4, 5, 6, 7]) AS l(lag)
        |  JOIN daily a ON TRUE
        |  JOIN daily b ON b.t = a.t + l.lag
        |), lags AS (
        |  SELECT lag, CAST(count(*) AS BIGINT) AS n_pairs,
        |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |         CAST(sum(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
        |              AS DOUBLE) AS sxy
        |  FROM pairs GROUP BY 1
        |), r AS (
        |  SELECT lag, n_pairs, nn, s2, cast(s1 as double) / nn AS mean,
        |         (sxy - (cast(s1 as double) / nn) * (cast(sx as double)
        |            + cast(sy as double))
        |          + n_pairs * (cast(s1 as double) / nn)
        |            * (cast(s1 as double) / nn))
        |         / (s2 - nn * (cast(s1 as double) / nn)
        |            * (cast(s1 as double) / nn)) AS rho
        |  FROM lags, gstats
        |), q AS (
        |  SELECT CAST(max(nn) AS BIGINT) AS n,
        |    CAST(count(*) AS BIGINT) AS h,
        |    CAST(sum(CAST(floor(rho * rho / cast(nn - lag as double)
        |      * 1000000000000) AS BIGINT)) AS BIGINT) AS lb_sum_q
        |  FROM r
        |)
        |SELECT n, h, lb_sum_q,
        |  cast(n * (n + 2) as double)
        |    * (cast(lb_sum_q as double) / cast(1000000000000 as double))
        |    AS q_lb
        |FROM q""".stripMargin,

    // the q83 per-doc quantized-NLL grain re-aggregated per source, one
    // multiplicative-weights step with the exp factor floor-quantized
    // to the integer token scale before the normalizing sum
    "q498_doremi_reweight" ->
      """WITH tf AS (
        |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text),
        |          '[a-z0-9]+')) AS tok
        |        FROM documents)
        |  GROUP BY 1, 2
        |), c AS (
        |  SELECT tok, CAST(sum(tf) AS BIGINT) AS c FROM tf GROUP BY 1
        |), vq AS (
        |  SELECT tok,
        |    CAST(floor(1e6 * (ln(CAST((SELECT sum(c) FROM c) AS DOUBLE))
        |                      - ln(CAST(c AS DOUBLE)))) AS BIGINT) AS q
        |  FROM c
        |), perdoc AS (
        |  SELECT t.doc_id, CAST(sum(t.tf) AS BIGINT) AS n_tok,
        |    CAST(sum(t.tf * v.q) AS BIGINT) // CAST(sum(t.tf) AS BIGINT)
        |      AS nll_q
        |  FROM tf t JOIN vq v ON t.tok = v.tok
        |  GROUP BY 1
        |), src AS (
        |  SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(p.n_tok) AS BIGINT) AS n_tok,
        |    CAST(sum(p.nll_q * p.n_tok) AS BIGINT) AS sq
        |  FROM documents d JOIN perdoc p ON d.doc_id = p.doc_id
        |  GROUP BY 1
        |), s2 AS (
        |  SELECT *, sq // n_tok AS nll_q FROM src
        |), ref AS (
        |  SELECT CAST(sum(sq) AS BIGINT) // CAST(sum(n_tok) AS BIGINT)
        |    AS ref_q, CAST(sum(n_tok) AS BIGINT) AS rtok
        |  FROM s2
        |), w AS (
        |  SELECT s2.source, s2.n_docs, s2.n_tok, s2.nll_q,
        |    s2.nll_q - ref.ref_q AS excess_q, ref.rtok,
        |    CAST(floor(cast(s2.n_tok as double)
        |      * exp(cast(s2.nll_q - ref.ref_q as double)
        |        / cast(1000000 as double))) AS BIGINT) AS u_q
        |  FROM s2, ref
        |), tot AS (
        |  SELECT CAST(sum(u_q) AS BIGINT) AS tu FROM w
        |)
        |SELECT w.source, w.n_docs, w.n_tok, w.nll_q, w.excess_q,
        |  w.n_tok * 1000000 // w.rtok AS w_old_ppm,
        |  w.u_q * 1000000 // tot.tu AS w_new_ppm
        |FROM w, tot""".stripMargin,

    // the q492 OLS restated, dollar-floored residuals, HUGEINT power
    // sums with the VARCHAR-route double casts, closing n·R² chain
    "q499_breusch_pagan" ->
      """WITH daily AS (
        |  SELECT r_name, CAST(o_orderdate AS DATE) AS day,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS y
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  GROUP BY 1, 2
        |), d2 AS (
        |  SELECT r_name, day, y,
        |    CAST(date_diff('day', DATE '1992-01-01', day) AS BIGINT) AS t
        |  FROM daily
        |), fit AS (
        |  SELECT r_name, n, st, stt, slope, my - slope * mt AS intercept
        |  FROM (
        |    SELECT r_name, n, st, stt, mt, my, cty / vt AS slope FROM (
        |      SELECT r_name, n, st, stt,
        |        CAST(st AS DOUBLE) / n AS mt,
        |        CAST(sy AS DOUBLE) / n AS my,
        |        CAST(stt AS DOUBLE) / n
        |          - (CAST(st AS DOUBLE) / n) * (CAST(st AS DOUBLE) / n)
        |          AS vt,
        |        CAST(sty AS DOUBLE) / n
        |          - (CAST(st AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n)
        |          AS cty
        |      FROM (
        |        SELECT r_name, CAST(count(*) AS BIGINT) AS n,
        |          CAST(sum(t) AS BIGINT) AS st,
        |          CAST(sum(y) AS BIGINT) AS sy,
        |          CAST(sum(t * t) AS BIGINT) AS stt,
        |          CAST(sum(t * y) AS BIGINT) AS sty
        |        FROM d2 GROUP BY 1)))
        |), resid AS (
        |  SELECT r_name, n, st, stt, t,
        |    CAST(e AS HUGEINT) * e AS e2
        |  FROM (
        |    SELECT d.r_name, d.t,
        |      CAST(floor((CAST(d.y AS DOUBLE)
        |        - (f.intercept + f.slope * CAST(d.t AS DOUBLE)))
        |        / CAST(100 AS DOUBLE)) AS BIGINT) AS e,
        |      f.n, f.st, f.stt
        |    FROM d2 d JOIN fit f ON d.r_name = f.r_name)
        |), sums AS (
        |  SELECT r_name, n, st, stt,
        |    sum(e2) AS se,
        |    sum(CAST(t AS HUGEINT) * e2) AS ste,
        |    sum(e2 * e2) AS see
        |  FROM resid GROUP BY 1, 2, 3, 4
        |), m AS (
        |  SELECT r_name, n,
        |    CAST(st AS DOUBLE) / n AS mt,
        |    CAST(CAST(se AS VARCHAR) AS DOUBLE) / n AS me2,
        |    CAST(stt AS DOUBLE) / n
        |      - (CAST(st AS DOUBLE) / n) * (CAST(st AS DOUBLE) / n) AS vt,
        |    CAST(CAST(see AS VARCHAR) AS DOUBLE) / n AS ree,
        |    CAST(CAST(ste AS VARCHAR) AS DOUBLE) / n AS rte
        |  FROM sums
        |)
        |SELECT r_name, n, r2_e2,
        |  cast(n as double) * r2_e2 AS bp_lm
        |FROM (
        |  SELECT r_name, n,
        |    (rte - mt * me2) * (rte - mt * me2)
        |      / (vt * (ree - me2 * me2)) AS r2_e2
        |  FROM m)""".stripMargin,

    // the division-free decomposition: 7-day moving total, t%7 weekday
    // cells, cross-multiplied remainder — every column exact BIGINT
    "q500_classical_decomposition" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS y
        |  FROM orders GROUP BY 1
        |), d2 AS (
        |  SELECT day, y,
        |    CAST(date_diff('day', DATE '1992-01-01', day) AS BIGINT) AS t
        |  FROM daily
        |), win AS (
        |  SELECT day, y, t,
        |    CAST(count(*) OVER w AS BIGINT) AS n7,
        |    CAST(sum(y) OVER w AS BIGINT) AS ma_sum7
        |  FROM d2
        |  WINDOW w AS (ORDER BY t ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
        |), det AS (
        |  SELECT day, y, ma_sum7, y * 7 - ma_sum7 AS det7, t % 7 AS dow
        |  FROM win WHERE n7 = 7
        |), seas AS (
        |  SELECT dow, CAST(count(*) AS BIGINT) AS n_dow,
        |    CAST(sum(det7) AS BIGINT) AS sum_det7_dow
        |  FROM det GROUP BY 1
        |)
        |SELECT d.day, d.y, d.ma_sum7, d.det7, d.dow, s.n_dow,
        |  s.sum_det7_dow,
        |  s.n_dow * d.det7 - s.sum_det7_dow AS rem_x
        |FROM det d JOIN seas s ON d.dow = s.dow""".stripMargin,

    // the identical ten exact sums (HUGEINT products, VARCHAR-route
    // casts) and the same Cramer / RSS / F double chain
    "q504_granger" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(sum(CASE WHEN r_name = 'EUROPE'
        |      THEN CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS x,
        |    CAST(sum(CASE WHEN r_name = 'AMERICA'
        |      THEN CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS y,
        |    CAST(sum(CASE WHEN r_name = 'EUROPE' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS ne,
        |    CAST(sum(CASE WHEN r_name = 'AMERICA' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS na
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name IN ('EUROPE', 'AMERICA')
        |  GROUP BY 1
        |), f AS (
        |  SELECT * FROM daily WHERE ne > 0 AND na > 0
        |), lagged AS (
        |  SELECT y AS wv,
        |    lag(y) OVER (ORDER BY day) AS u,
        |    lag(x) OVER (ORDER BY day) AS v
        |  FROM f
        |), l AS (
        |  SELECT wv, u, v FROM lagged WHERE u IS NOT NULL
        |), s AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(u) AS BIGINT) AS su, CAST(sum(v) AS BIGINT) AS sv,
        |    CAST(sum(wv) AS BIGINT) AS sw,
        |    sum(CAST(u AS HUGEINT) * u) AS suu,
        |    sum(CAST(v AS HUGEINT) * v) AS svv,
        |    sum(CAST(wv AS HUGEINT) * wv) AS sww,
        |    sum(CAST(u AS HUGEINT) * v) AS suv,
        |    sum(CAST(u AS HUGEINT) * wv) AS suw,
        |    sum(CAST(v AS HUGEINT) * wv) AS svw
        |  FROM l
        |), m AS (
        |  SELECT n,
        |    CAST(su AS DOUBLE) / n AS mu,
        |    CAST(sv AS DOUBLE) / n AS mv,
        |    CAST(sw AS DOUBLE) / n AS mw,
        |    suu, svv, sww, suv, suw, svw
        |  FROM s
        |), c AS (
        |  SELECT n,
        |    CAST(CAST(suu AS VARCHAR) AS DOUBLE) / n - mu * mu AS cuu,
        |    CAST(CAST(svv AS VARCHAR) AS DOUBLE) / n - mv * mv AS cvv,
        |    CAST(CAST(sww AS VARCHAR) AS DOUBLE) / n - mw * mw AS cww,
        |    CAST(CAST(suv AS VARCHAR) AS DOUBLE) / n - mu * mv AS cuv,
        |    CAST(CAST(suw AS VARCHAR) AS DOUBLE) / n - mu * mw AS cuw,
        |    CAST(CAST(svw AS VARCHAR) AS DOUBLE) / n - mv * mw AS cvw
        |  FROM m
        |), k AS (
        |  SELECT n, cuw, cvw, cww, cuu,
        |    (cvv * cuw - cuv * cvw) / (cuu * cvv - cuv * cuv)
        |      AS coef_ylag,
        |    (cuu * cvw - cuv * cuw) / (cuu * cvv - cuv * cuv)
        |      AS coef_xlag
        |  FROM c
        |), r AS (
        |  SELECT n, coef_ylag, coef_xlag,
        |    cww - coef_ylag * cuw - coef_xlag * cvw AS rss_u,
        |    cww - cuw * cuw / cuu AS rss_r
        |  FROM k
        |)
        |SELECT n, coef_ylag, coef_xlag, rss_u, rss_r,
        |  (rss_r - rss_u) * cast(n - 3 as double) / rss_u AS f_granger
        |FROM r""".stripMargin,
  )
}
