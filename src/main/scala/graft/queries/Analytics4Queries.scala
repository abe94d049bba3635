package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import QueryShared.{bellmanFordChain, hitsChain, pageRankChain, predsPath}

/** Round-10 surfaces (q386+): the convergence-witnessed PageRank, HITS
  * and Bellman–Ford (epsilon- or no-change-stop loops whose realized
  * stop round rides the output), the bias-baseline recommender promoted
  * to a persisted fit/serve artifact, and the SRM gate's
  * custom-keyed-state streaming form.
  *
  * A convergence-witnessed oracle finds its own stop round: it runs the
  * same recurrence as a `WITH RECURSIVE` loop under the engine's stop
  * rule ([[QueryShared.fixpointCte]]), so the realized round count and
  * the final witness on the output are checked, not replayed. */
object Analytics4Queries {

  private def cents(c: org.apache.spark.sql.Column) =
    (c.cast("decimal(30,2)") * 100).cast("long")

  /** The q69 interaction graph (customer/supplier bipartite, doubled to
    * undirected) — reused so the convergence twin anchors to the same
    * fixed-round recurrence the q69 oracle already replays. */
  private def interactionEdges(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
    val li = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey"))
    val pairs = o.join(li, col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()
    pairs.union(pairs.select(col("dst").as("src"), col("src").as("dst")))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Convergence-WITNESSED PageRank (the q69 recurrence with an
    // epsilon-stop loop instead of a fixed round count): iterate until
    // the exact L1 residual drops to <= 2.5e11 scale units (25% of
    // total mass — measured ~9 rounds on this graph; the bipartite
    // doubling slows the 0.85^r contraction) or 20 rounds.
    // The realized stop round and final residual ride EVERY output row,
    // and the oracle runs the identical integer recurrence under the
    // same stop rule, so it finds the stop round and the final residual
    // itself: the termination behavior is hash-checked, not just the
    // scores.
    // GraphSpec pins the residual monotonicity and stop-condition laws.
    "q386_pagerank_converged" -> ((s, dir) => {
      val (scores, stopRound, residuals) =
        ops.Graph.pageRankIntConverged(interactionEdges(s, dir),
          maxIters = 20, epsilonUnits = 250000000000L)
      scores
        .withColumn("stop_round", lit(stopRound.toLong))
        .withColumn("final_residual", lit(residuals.last))
    }),


    // Bias-baseline recommender as a PERSISTED fit/serve split (the
    // q186/q169 shape over q385's promoted ml.Models.biasBaseline): the
    // fit half writes the (mu, b_i, b_u) artifacts once; the SERVE half
    // — what this query registers — scores every 20th customer's
    // held-out (fold 0) interactions from the STORED artifacts, clamped
    // to the rating bounds. The oracle replays the serve joins from the
    // same parquet artifacts, so the check is exact however the fit ran.
    "q387_bias_serving" -> ((s, dir) => {
      val r = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"))
        .join(Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_partkey"),
            (col("l_quantity").cast("long") * 100).as("q_c")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("u"), col("l_partkey").as("i"),
          col("q_c"), (col("o_orderkey") % 2).as("fold"))
      val (mu, bi, bu) = ml.Models.biasBaseline(
        r.filter(col("fold") === 1), "u", "i", "q_c")
      mu.coalesce(1).write.mode("overwrite").parquet(predsPath("q387_mu"))
      bi.coalesce(1).write.mode("overwrite").parquet(predsPath("q387_bi"))
      bu.coalesce(1).write.mode("overwrite").parquet(predsPath("q387_bu"))
      // the stored one-row mu attaches as a keys=[] aggregate over its
      // parquet (max of the single row — value-identical), keeping the
      // crossJoin(broadcast(...)) inside the audited scalar-agg idiom
      val muS = s.read.parquet(predsPath("q387_mu"))
        .agg(max(col("mu_c")).as("mu_c"))
      val biS = s.read.parquet(predsPath("q387_bi"))
      val buS = s.read.parquet(predsPath("q387_bu"))
      r.filter(col("fold") === 0 && col("u") % 20 === 0)
        .crossJoin(broadcast(muS))
        .join(biS, Seq("i"), "left")
        .join(buS, Seq("u"), "left")
        .withColumn("pred_c",
          greatest(lit(100L), least(lit(5000L),
            col("mu_c") + coalesce(col("b_i"), lit(0L)) +
              coalesce(col("b_u"), lit(0L)))))
        .select(col("u"), col("i"), col("q_c"), col("pred_c"))
    }),


    // EXACT global quantiles at scale — the distributedRank device's
    // flagship use: the p50/p90/p99 order statistics of order value
    // picked by exact rank ceil(q·n/100) = (q·n + 99) div 100 (never an
    // interpolated percentile), with the total attaching as the audited
    // scalar-agg broadcast. The naive formulation (one global
    // row_number) is what the oracle states; the engine pays two
    // parallel passes and one tiny single-partition fold instead of
    // sorting the fact table on one task.
    "q389_exact_quantiles" -> ((s, dir) => {
      val d = Tables.orders(s, dir)
        .select(cents(col("o_totalprice")).as("v"), col("o_orderkey").as("k"))
      val ranked = ops.Stats.distributedRank(
        d, "v", tieBreak = Seq("k"), out = "rn", bucketWidth = 1L << 19)
      ranked.crossJoin(broadcast(d.agg(count(lit(1)).as("n"))))
        .withColumn("q", explode(array(lit(50L), lit(90L), lit(99L))))
        .filter(col("rn") === expr("(q * n + 99) div 100"))
        .select(col("q"), col("n"), col("v").as("value_cents"))
    }),


    // Convergence-WITNESSED HITS — q331's ops.Graph.hits recurrence
    // (integer ppm hub/authority scores, max-normalized per half-round)
    // with the q386 epsilon-stop discipline: iterate until the hub
    // scores' exact L1 residual Σ|hᵣ − hᵣ₋₁| (ppm units over the hub
    // node set) drops to <= epsilon, or 15 rounds. Stop round + final
    // residual ride every row; the oracle runs the same rounds under the
    // same stop rule and finds both itself — the second member of the
    // convergence-witnessed pair.
    "q390_hits_converged" -> ((s, dir) => {
      val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_suppkey"))
      val e = o.join(li, col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
      // RELATIVE epsilon: stop when the average hub moves < 200 ppm
      // (0.02% of the 1e6 normalization) — scale-invariant, unlike an
      // absolute residual which a 10× hub count would never reach
      val (hub, auth, round, residuals) =
        ops.Graph.hits(e, maxIters = 15, epsilonPerHub = Some(200L))
      hub.select(col("node"), lit("hub").as("kind"), col("h").as("score"))
        .unionByName(auth.select(col("node"), lit("auth").as("kind"),
          col("a").as("score")))
        .withColumn("stop_round", lit(round.toLong))
        .withColumn("final_residual", lit(residuals.last))
    }),


    // §2.8 custom keyed state over the EXPERIMENT surface: the SRM gate
    // maintained in flatMapGroupsWithState (cumulative per-variant
    // counters — ONE record per arm, bounded by design, which is why
    // NoTimeout needs no watermark eviction here; see the method's
    // scaladoc for the unbounded-domain contrast). Update-mode
    // emissions land batchId-keyed; readout = each variant's latest
    // cumulative emission -> the same srmFromCounts chi-square as batch
    // q208, which is exactly what the oracle replays.
    "q388_srm_keyed_stream" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"))
      val root = predsPath(s"q388_root_${System.nanoTime()}")
      sources.Sources.writeParquet(ev.repartition(6), s"$root/events")
      streaming.Streams.srmKeyedStream(s, s"$root/events", ev.schema,
        s"$root/partials", s"$root/ckpt",
        groupCol = "event_type", userCol = "user_id")
    }),


    // Weighted sampling WITHOUT replacement, deterministic (Efraimidis–
    // Spirakis A-Res with the md5 portable-uniform): u = (md5₁₅(pk)+1) /
    // 16¹⁵ (one exact double division — identical IEEE both engines),
    // the exponential key -ln(u)/w carried as the NON-NEGATIVE integer
    // key_q = (-floor(1e6·ln u)) · 1e6 div w (the q274 floor-quantized
    // ln rule + non-negative div — trunc == floor on both engines;
    // quantization IS the declared key), smallest-key-first = largest
    // u^(1/w). The top-100 revenue-weighted part sample, selected by
    // exact rank via the distributedRank device — a pure function of
    // (key, weight): identical on any cluster or partitioning.
    "q391_weighted_sample" -> ((s, dir) => {
      val w = Tables.lineitem(s, dir)
        .groupBy(col("l_partkey").as("pk"))
        .agg(sum(cents(col("l_extendedprice"))).as("w"))
        .filter(col("w") > 0)
      val keyed = w
        .withColumn("u",
          (conv(substring(md5(col("pk").cast("string")), 1, 15), 16, 10)
            .cast("double") + 1.0) / 1152921504606846976.0)
        .withColumn("nlq", -floor(lit(1e6) * log(col("u"))).cast("long"))
        .withColumn("key_q", expr("nlq * 1000000 div w"))
      ops.Stats.distributedRank(keyed, "key_q",
          tieBreak = Seq("pk"), out = "rn", bucketWidth = 1L << 16)
        .filter(col("rn") <= 100)
        .select(col("pk"), col("w"), col("key_q"), col("rn"))
    }),


    // Temperature-scaled corpus mixture (the data-recipe op behind
    // multilingual/multi-domain pretraining mixes): per-source sampling
    // shares ∝ n_tokens^(1/T) with T = 2 — IEEE sqrt is exact-rounded in
    // every engine, floored to integer milli-units — then integer-ppm
    // shares and a 10M-token budget allocation via div. Flattens the
    // source distribution exactly the way raw proportional sampling
    // (T=1) does not; one grouped pass + one broadcast total.
    "q392_temperature_mixture" -> ((s, dir) => {
      val src = Tables.documents(s, dir)
        .select(col("source"),
          size(text.TextOps.tokens(col("text"))).cast("long").as("n_tok"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
        .withColumn("w_milli",
          floor(sqrt(col("n_tokens").cast("double")) * 1000.0).cast("long"))
      src.crossJoin(broadcast(src.agg(sum(col("w_milli")).as("w_tot"))))
        .withColumn("share_ppm", expr("w_milli * 1000000 div w_tot"))
        .withColumn("alloc_tokens", expr("share_ppm * 10000000 div 1000000"))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          col("w_milli"), col("share_ppm"), col("alloc_tokens"))
    }),


    // Curriculum-ordered GPT packing — the two distributed devices
    // COMPOSED end to end: documents ranked by descending language
    // quality (function-word per-mille, tie doc_id) via distributedRank,
    // then the token stream packed in CURRICULUM order via
    // Packing.packOffsets keyed on the rank (its id-range buckets ARE
    // the rank space) — the curriculum-learning corpus layout, fully
    // distributed: no single-partition sort anywhere. The oracle states
    // both naive windows (row_number over fw desc, cumsum over rank).
    "q393_curriculum_pack" -> ((s, dir) => {
      val base = Tables.documents(s, dir)
        // tokenize once per row — n_tok and fw both fold over the same
        // token array (r15, guide §1.2: don't compute things twice)
        .select(col("doc_id"), text.TextOps.tokens(col("text")).as("ts"))
        .select(col("doc_id"), size(col("ts")).cast("long").as("n_tok"),
          text.TextOps.functionWordScore(col("ts")).as("fw"))
      val ranked = ops.Stats.distributedRank(
        base.withColumn("negfw", -col("fw")),
        "negfw", tieBreak = Seq("doc_id"), out = "crank", bucketWidth = 64L)
        // two consumers (packOffsets, the closing join) each re-ran the
        // tokenizer + two-phase rank; doc-grain, five numeric columns —
        // materialize once (r15, guide §5)
        .localCheckpoint(true)
      llm.Packing.packOffsets(ranked, "crank", col("n_tok"), budget = 512L)
        .join(ranked.select(col("crank"), col("doc_id"), col("fw")), "crank")
        .select(col("doc_id"), col("crank"), col("fw"), col("n_tok"),
          col("start_off"), col("end_off"), col("first_seq"), col("last_seq"))
    }),


    // Prequential (online add-one) code length per user — the MDL
    // "compression = prediction" diagnostic over behavioral sequences:
    // each event's cost is ln((i−1+A)/(c_prev+1)) nats, where c_prev is
    // the count of the SAME type before position i and A the global
    // type-alphabet size; both lns are floor-quantized to µnats
    // SEPARATELY (two quantized terms — the declared form, exact and
    // identical both engines) and summed order-free. The per-user total
    // against the uniform baseline n·ln(A) gives a predictability ratio
    // in ppm. Windows partition by user / (user, type) — never global.
    "q394_prequential_code" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      val alpha = ev.select(col("event_type")).distinct()
        .agg(count(lit(1)).as("a"))
      def lnMicro(c: org.apache.spark.sql.Column) =
        floor(lit(1e6) * log(c.cast("double"))).cast("long")
      val wU = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val wUT = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      ev.crossJoin(broadcast(alpha))
        .withColumn("i", row_number().over(wU).cast("long"))
        .withColumn("c_prev", row_number().over(wUT).cast("long") - 1L)
        .withColumn("cost_micro",
          lnMicro(col("i") - 1 + col("a")) - lnMicro(col("c_prev") + 1))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"), max(col("a")).as("a"),
          sum(col("cost_micro")).as("code_micro"))
        .withColumn("uniform_micro",
          col("n_events") * lnMicro(col("a")))
        // degenerate one-type alphabet ⇒ uniform_micro = n·ln(1) = 0:
        // Spark's div NULLs on /0 while DuckDB's // raises, so BOTH
        // sides guard explicitly and agree on NULL (round-10 ADVICE)
        .withColumn("ratio_ppm",
          when(col("uniform_micro") > 0,
            expr("code_micro * 1000000 div uniform_micro")))
        .select(col("user_id"), col("n_events"), col("code_micro"),
          col("uniform_micro"), col("ratio_ppm"))
    }),


    // Corpus n-gram NOVELTY curve (the memorization/duplication read
    // behind data-diet decisions): documents take the md5-deterministic
    // corpus order (the q260 two-phase rank device), each doc's distinct
    // 5-gram shingles map to their FIRST corpus occurrence (one grouped
    // min on the gram key), and the doc's novelty is the ppm share of
    // its grams it introduces. Pure key-equi shuffles — gram grain,
    // never pair grain; short docs (<5 tokens) emit nothing (declared).
    "q396_ngram_novelty" -> ((s, dir) => {
      val ranked = ops.Stats.distributedRank(
          Tables.documents(s, dir)
            .select(col("doc_id"), col("text"))
            .withColumn("_h", md5(col("doc_id").cast("string")))
            .withColumn("_hv",
              conv(substring(col("_h"), 1, 15), 16, 10).cast("long")),
          "_hv", tieBreak = Seq("_h", "doc_id"), out = "rn",
          bucketWidth = 1L << 49)
        .drop("_h", "_hv")
      // tokens() materialized as its own column BEFORE ngrams() — nested
      // inside the n-gram lambda, codegen re-evaluates the regexp per
      // emitted gram (the q370/q274 lesson; measured 12.5 s → ~1 s for
      // the explode at sf0.1). Grams then travel as their 60-bit
      // md5-prefix key (the rowDigest56 trade — portable to the oracle,
      // 8 shuffle bytes instead of a ~40-byte string), and the frame is
      // checkpointed because BOTH the first-occurrence fold and the
      // join probe consume it (the covisitation re-scan rule).
      val grams = ranked
        .select(col("doc_id"), col("rn"),
          text.TextOps.tokens(col("text")).as("ts"))
        .select(col("doc_id"), col("rn"),
          explode(array_distinct(text.TextOps.ngrams(col("ts"), 5))).as("g"))
        .select(col("doc_id"), col("rn"),
          conv(substring(md5(col("g")), 1, 15), 16, 10).cast("long").as("gh"))
        .localCheckpoint(true)
      val first = grams.groupBy(col("gh")).agg(min(col("rn")).as("first_rn"))
      grams.join(first, "gh")
        .groupBy(col("doc_id"), col("rn"))
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("first_rn") === col("rn"), 1L).otherwise(0L))
            .as("n_novel"))
        .withColumn("novelty_ppm", expr("n_novel * 1000000 div n_grams"))
        .select(col("doc_id"), col("n_grams"), col("n_novel"),
          col("novelty_ppm"))
    }),


    // Convergence-WITNESSED Bellman–Ford (q330's weighted union+min
    // relaxation with the q386 no-change-stop discipline — the last
    // fixed-round iterative kernel gets its epsilon-stop twin): iterate
    // until a round reaches or shortens NOTHING, ride the realized stop
    // round plus the last two rounds' improvement counts on every row;
    // the oracle runs the same relaxation under the same stop rule and
    // finds the stop round and both counts itself — the termination
    // behavior is hash-checked. changed_last must be 0 (that is WHY the
    // loop stopped) and changed_prev > 0 (the stop round is minimal —
    // every earlier round improved, by loop construction).
    "q397_bellman_converged" -> ((s, dir) => {
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
      val (dist, stopRound, improved) =
        ops.Graph.bellmanFordConverged(edges, seeds, maxIters = 20)
      dist
        .withColumn("stop_round", lit(stopRound.toLong))
        .withColumn("changed_last", lit(improved.last))
        .withColumn("changed_prev",
          lit(if (improved.size >= 2) improved(improved.size - 2) else -1L))
    }),


    // Deterministic FRACTIONAL epoch upsampling — the data-recipe op
    // behind quality-weighted corpus repetition ("2.5 epochs of the
    // high-quality tier"): per-tier factors in tenths (long 25,
    // medium 15, short 10); every doc contributes floor(f/10) full
    // epochs and one more iff md5₁₅(doc_id) mod 10 < f mod 10 — a pure
    // function of the key, so the realized plan is identical on any
    // cluster. Output: per-tier doc/token totals, realized epoch rows,
    // exact effective tokens, and the effective-share ppm.
    "q395_epoch_upsample" -> ((s, dir) => {
      val base = Tables.documents(s, dir)
        .select(col("doc_id"),
          size(text.TextOps.tokens(col("text"))).cast("long").as("n_tok"))
        .withColumn("tier", text.TextOps.qualityBucket(col("n_tok")))
        .withColumn("f_tenths",
          when(col("tier") === "long", 25L)
            .when(col("tier") === "medium", 15L).otherwise(10L))
        .withColumn("extra",
          when(pmod(conv(substring(md5(col("doc_id").cast("string")), 1, 15),
            16, 10).cast("long"), lit(10L)) < col("f_tenths") % 10, 1L)
            .otherwise(0L))
        .withColumn("epochs", expr("f_tenths div 10") + col("extra"))
      val tiers = base.groupBy(col("tier"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("base_tokens"),
          sum(col("epochs")).as("epoch_rows"),
          sum(col("n_tok") * col("epochs")).as("effective_tokens"))
      tiers.crossJoin(broadcast(
          tiers.agg(sum(col("effective_tokens")).as("eff_tot"))))
        .withColumn("share_ppm",
          expr("effective_tokens * 1000000 div eff_tot"))
        .select(col("tier"), col("n_docs"), col("base_tokens"),
          col("epoch_rows"), col("effective_tokens"), col("share_ppm"))
    }),
  )

  val sql: Map[String, String] = Map(

    "q386_pagerank_converged" ->
      s"""WITH ${pageRankChain(20, Some(250000000000L))}
         |SELECT node, score, r AS stop_round, witness AS final_residual
         |FROM pr WHERE is_last""".stripMargin,

    "q390_hits_converged" ->
      s"""WITH ${hitsChain(15, Some(200L))}
         |SELECT node, kind, score, r AS stop_round, witness AS final_residual
         |FROM hs WHERE is_last""".stripMargin,

    // changed_prev is the witness of the round before the stop round
    // (-1 when the loop stopped at round 1)
    "q397_bellman_converged" ->
      s"""WITH ${bellmanFordChain(20)}
         |SELECT node, d, r AS stop_round, witness AS changed_last,
         |  coalesce((SELECT any_value(p.witness) FROM bf p
         |            WHERE p.r = bf.r - 1 AND p.r >= 1), -1) AS changed_prev
         |FROM bf WHERE is_last""".stripMargin,

    // the naive global row_number formulation — the engine's two-phase
    // decomposition must land on exactly these order statistics
    "q389_exact_quantiles" ->
      """WITH d AS (
        |  SELECT CAST(CAST(o_totalprice AS DECIMAL(30,2)) * 100 AS BIGINT)
        |    AS v, o_orderkey AS k
        |  FROM orders),
        |r AS (
        |  SELECT v,
        |    CAST(row_number() OVER (ORDER BY v, k) AS BIGINT) AS rn,
        |    CAST(count(*) OVER () AS BIGINT) AS n
        |  FROM d)
        |SELECT q, n, v AS value_cents
        |FROM r CROSS JOIN (SELECT CAST(unnest([50, 90, 99]) AS BIGINT) AS q)
        |WHERE rn = (q * n + 99) // 100""".stripMargin,

    // identical md5-uniform, identical floor-quantized ln key, identical
    // rank pick — the sample is a pure function of (key, weight)
    "q391_weighted_sample" ->
      """WITH w AS (
        |  SELECT l_partkey AS pk,
        |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(30,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS w
        |  FROM lineitem GROUP BY 1 HAVING sum(CAST(CAST(l_extendedprice
        |    AS DECIMAL(30,2)) * 100 AS BIGINT)) > 0),
        |keyed AS (
        |  SELECT pk, w,
        |    CAST(-floor(1e6 * ln(
        |      (CAST('0x' || substr(md5(CAST(pk AS VARCHAR)), 1, 15)
        |        AS BIGINT) + 1.0) / 1152921504606846976.0)) AS BIGINT)
        |      AS nlq
        |  FROM w),
        |r AS (
        |  SELECT pk, w, nlq * 1000000 // w AS key_q
        |  FROM keyed),
        |rk AS (
        |  SELECT pk, w, CAST(key_q AS BIGINT) AS key_q,
        |    CAST(row_number() OVER (ORDER BY key_q, pk) AS BIGINT) AS rn
        |  FROM r)
        |SELECT pk, w, key_q, rn FROM rk WHERE rn <= 100""".stripMargin,

    // both naive windows stated: the quality rank (row_number over
    // fw desc) and the global stream cumsum — the engine's composed
    // two-phase devices must land bit-identically
    "q393_curriculum_pack" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
        |  FROM documents),
        |base AS (
        |  SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tok,
        |    CASE WHEN len(ts) > 0 THEN
        |      CAST(floor(1000.0 * len(list_filter(ts,
        |        x -> x IN ('the','a','an','of','to','and','in','is','it','that')))
        |        / len(ts)) AS BIGINT)
        |    ELSE 0 END AS fw
        |  FROM t),
        |r AS (
        |  SELECT doc_id, n_tok, fw,
        |    CAST(row_number() OVER (ORDER BY -fw, doc_id) AS BIGINT) AS crank
        |  FROM base),
        |o AS (
        |  SELECT doc_id, crank, fw, n_tok,
        |    CAST(sum(n_tok) OVER (ORDER BY crank
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS end_off
        |  FROM r)
        |SELECT doc_id, crank, fw, n_tok, end_off - n_tok AS start_off,
        |  end_off,
        |  CAST((end_off - n_tok) // 512 AS BIGINT) AS first_seq,
        |  CAST(greatest((end_off - 1) // 512, (end_off - n_tok) // 512)
        |    AS BIGINT) AS last_seq
        |FROM o""".stripMargin,

    "q394_prequential_code" ->
      """WITH al AS (
        |  SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS a
        |  FROM events),
        |r AS (
        |  SELECT user_id,
        |    CAST(row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS BIGINT) AS i,
        |    CAST(row_number() OVER (PARTITION BY user_id, event_type
        |      ORDER BY ts, event_id) - 1 AS BIGINT) AS c_prev
        |  FROM events),
        |c AS (
        |  SELECT user_id, al.a,
        |    CAST(floor(1e6 * ln(CAST(i - 1 + al.a AS DOUBLE))) AS BIGINT)
        |    - CAST(floor(1e6 * ln(CAST(c_prev + 1 AS DOUBLE))) AS BIGINT)
        |      AS cost_micro
        |  FROM r CROSS JOIN al),
        |g AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |    CAST(max(a) AS BIGINT) AS a,
        |    CAST(sum(cost_micro) AS BIGINT) AS code_micro
        |  FROM c GROUP BY 1)
        |SELECT user_id, n_events, code_micro,
        |  n_events * CAST(floor(1e6 * ln(CAST(a AS DOUBLE))) AS BIGINT)
        |    AS uniform_micro,
        |  CASE WHEN n_events * CAST(floor(1e6 * ln(CAST(a AS DOUBLE)))
        |                           AS BIGINT) > 0
        |    THEN CAST(code_micro * 1000000
        |      // (n_events * CAST(floor(1e6 * ln(CAST(a AS DOUBLE))) AS BIGINT))
        |      AS BIGINT)
        |    ELSE NULL END AS ratio_ppm
        |FROM g""".stripMargin,

    "q396_ngram_novelty" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    regexp_extract_all(lower(text), '[a-z0-9]+') AS ts,
        |    md5(CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, ts,
        |    CAST(row_number() OVER (ORDER BY h, doc_id) AS BIGINT) AS rn
        |  FROM t),
        |g0 AS (
        |  SELECT doc_id, rn, unnest(list_distinct(
        |    list_transform(generate_series(1, len(ts) - 4), i ->
        |      ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' ||
        |      ts[i+3] || ' ' || ts[i+4]))) AS g
        |  FROM r WHERE len(ts) >= 5),
        |g AS (
        |  SELECT doc_id, rn,
        |    CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) AS gh
        |  FROM g0),
        |f AS (
        |  SELECT gh, CAST(min(rn) AS BIGINT) AS first_rn FROM g GROUP BY 1)
        |SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(sum(CASE WHEN f.first_rn = g.rn THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_novel,
        |  CAST(sum(CASE WHEN f.first_rn = g.rn THEN 1 ELSE 0 END) * 1000000
        |    // count(*) AS BIGINT) AS novelty_ppm
        |FROM g JOIN f ON g.gh = f.gh
        |GROUP BY 1""".stripMargin,

    "q395_epoch_upsample" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT)
        |      AS n_tok
        |  FROM documents),
        |t AS (
        |  SELECT doc_id, n_tok,
        |    CASE WHEN n_tok >= 80 THEN 'long'
        |         WHEN n_tok >= 40 THEN 'medium' ELSE 'short' END AS tier,
        |    CASE WHEN n_tok >= 80 THEN 25
        |         WHEN n_tok >= 40 THEN 15 ELSE 10 END AS f_tenths
        |  FROM base),
        |e AS (
        |  SELECT tier, n_tok,
        |    (f_tenths // 10) + CASE WHEN
        |      CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
        |        AS BIGINT) % 10 < f_tenths % 10 THEN 1 ELSE 0 END AS epochs
        |  FROM t),
        |g AS (
        |  SELECT tier, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n_tok) AS BIGINT) AS base_tokens,
        |    CAST(sum(epochs) AS BIGINT) AS epoch_rows,
        |    CAST(sum(n_tok * epochs) AS BIGINT) AS effective_tokens
        |  FROM e GROUP BY 1),
        |tot AS (SELECT CAST(sum(effective_tokens) AS BIGINT) AS eff_tot
        |        FROM g)
        |SELECT tier, n_docs, base_tokens, epoch_rows, effective_tokens,
        |  CAST(effective_tokens * 1000000 // eff_tot AS BIGINT) AS share_ppm
        |FROM g CROSS JOIN tot""".stripMargin,

    "q392_temperature_mixture" ->
      """WITH src AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(len(regexp_extract_all(lower(text), '[a-z0-9]+')))
        |      AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1),
        |wm AS (
        |  SELECT *, CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000.0)
        |    AS BIGINT) AS w_milli
        |  FROM src),
        |t AS (SELECT CAST(sum(w_milli) AS BIGINT) AS w_tot FROM wm)
        |SELECT source, n_docs, n_tokens, w_milli,
        |  CAST(w_milli * 1000000 // w_tot AS BIGINT) AS share_ppm,
        |  CAST((w_milli * 1000000 // w_tot) * 10000000 // 1000000
        |    AS BIGINT) AS alloc_tokens
        |FROM wm CROSS JOIN t""".stripMargin,

    // serve replayed from the SAME persisted bias artifacts: identical
    // coalesce-and-clamp arithmetic, identical sampled user set
    "q387_bias_serving" ->
      s"""WITH r AS (
         |  SELECT o_custkey AS u, l_partkey AS i,
         |    CAST(l_quantity AS BIGINT) * 100 AS q_c,
         |    o_orderkey % 2 AS fold
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |mu AS (SELECT mu_c FROM
         |  read_parquet('${predsPath("q387_mu")}/*.parquet')),
         |bi AS (SELECT i, b_i FROM
         |  read_parquet('${predsPath("q387_bi")}/*.parquet')),
         |bu AS (SELECT u, b_u FROM
         |  read_parquet('${predsPath("q387_bu")}/*.parquet'))
         |SELECT r.u, r.i, r.q_c,
         |  greatest(100, least(5000, mu.mu_c + COALESCE(bi.b_i, 0)
         |    + COALESCE(bu.b_u, 0))) AS pred_c
         |FROM r CROSS JOIN mu
         |LEFT JOIN bi ON r.i = bi.i
         |LEFT JOIN bu ON r.u = bu.u
         |WHERE r.fold = 0 AND r.u % 20 = 0""".stripMargin,

    // the q208 batch algebra — the keyed-state drain must land exactly
    // here under any batch split. The parity MIRRORS the engine's
    // pmod(user_id, 2) — ((x % 2) + 2) % 2 — so a negative user_id
    // lands in n1 on BOTH sides instead of diverging (DuckDB's % is
    // signed; round-10 ADVICE)
    "q388_srm_keyed_stream" ->
      """WITH a AS (
        |  SELECT event_type,
        |    CAST(sum(CASE WHEN ((user_id % 2) + 2) % 2 = 0
        |             THEN 1 ELSE 0 END) AS BIGINT) AS n0,
        |    CAST(sum(CASE WHEN ((user_id % 2) + 2) % 2 = 1
        |             THEN 1 ELSE 0 END) AS BIGINT) AS n1
        |  FROM events GROUP BY 1
        |), e AS (
        |  SELECT *, CAST(n0 + n1 AS DOUBLE) / 2.0 AS expected FROM a
        |)
        |SELECT event_type, n0, n1,
        |  (CAST(n0 AS DOUBLE) - expected) * (CAST(n0 AS DOUBLE) - expected)
        |    / expected
        |  + (CAST(n1 AS DOUBLE) - expected) * (CAST(n1 AS DOUBLE) - expected)
        |    / expected AS chi2,
        |  (CAST(n0 AS DOUBLE) - expected) * (CAST(n0 AS DOUBLE) - expected)
        |    / expected
        |  + (CAST(n1 AS DOUBLE) - expected) * (CAST(n1 AS DOUBLE) - expected)
        |    / expected > 3.841 AS srm
        |FROM e""".stripMargin,
  )
}
