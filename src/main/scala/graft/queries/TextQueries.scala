package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Relational
import graft.text.TextOps
import QueryShared._

/** Text analysis: tokenization, doc-frequency/TF-IDF, n-grams,
stemming, BPE, language ID, quality signals, PII scrub, BM25, LM NLL,
fertility/entropy, line-level dedup.
  *
  * Extracted verbatim from the original single-file SparkEntry map; see
  * [[graft.SparkEntry]] for the driver contract these entries satisfy
  * (column names aligned with the DuckDB oracle SQL pairwise).
  */
object TextQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // P12-P15 + M2: tokenize (lower + regex runs) and count, per document —
    // pure projection, no shuffle (acq_etl_code.scala:38-44 semantics)
    "q12_token_stats" -> ((s, dir) =>
      TextOps.tokenStats(Tables.documents(s, dir), "doc_id", "text")),


    // A3 relational core: document frequency with [minDF, maxDF] vocabulary
    // pruning (CountVectorizer minDF/maxDF, acq_etl_code.scala:73)
    "q13_doc_freq" -> ((s, dir) =>
      TextOps.docFreq(Tables.documents(s, dir), "doc_id", "text",
        minDF = 5L, maxDF = 400L)),


    // A3+A4+§2.5 top-k: tf × df → integer-scaled tf-idf score, top-3 terms
    // per doc. Integer DIV keeps the score engine-portable (no float sums).
    "q14_tfidf_topterms" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val tf = TextOps.termFreq(docs, "doc_id", "text")
      val df = TextOps.docFreq(docs, "doc_id", "text")
      Relational.groupedTopK(
        tf.join(broadcast(df), "token")
          .withColumn("score", expr("(tf * 1000000) DIV df")),
        Seq("doc_id"), "score", "token", 3)
        .select(col("doc_id"), col("token"), col("tf"), col("score"),
          col("rank").cast("long").as("rank"))
    }),


    // M3 + §2.5 set-op: bigrams/trigrams + distinct union of gram arrays
    // (NGram ×2 + the mergeArrays UDF → array_union, acq_etl_code.scala:56-69)
    // Layered selects materialize each HOF result ONCE per row — inlining
    // them into one nested expression re-evaluated the interpreted ngram
    // lambdas per use and benched ~17x slower at sf0.1.
    "q15_ngram_stats" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("ts"))
        .select(col("doc_id"), col("ts"),
          TextOps.ngrams(col("ts"), 2).as("bi"), TextOps.ngrams(col("ts"), 3).as("tri"))
        .select(
          col("doc_id"),
          size(col("ts")).cast("long").as("n_uni"),
          size(col("bi")).cast("long").as("n_bi"),
          size(col("tri")).cast("long").as("n_tri"),
          size(TextOps.mergeGrams(col("ts"), col("bi"), col("tri"))).cast("long")
            .as("n_merged"))),


    // North-star text analysis: function-word score (integer-valued
    // per-mille), punctuation ratio, language guess, quality bucket — all
    // deterministic integer/CASE arithmetic, pure projection
    "q19_doc_quality" -> ((s, dir) => {
      val ts = TextOps.tokens(col("text"))
      val nPunct = size(regexp_extract_all(col("text"), lit("[^a-zA-Z0-9\\s]"), lit(0)))
      Tables.documents(s, dir).select(
        col("doc_id"),
        size(ts).cast("long").as("n_tokens"),
        TextOps.functionWordScore(ts).as("fw_score"),
        when(length(col("text")) > 0,
          floor((nPunct.cast("long") * 1000L) / length(col("text")).cast("long")))
          .otherwise(0L).cast("long").as("punct_score"),
        when(TextOps.functionWordScore(ts) >= 100, "en_like").otherwise("other")
          .as("lang_guess"),
        TextOps.qualityBucket(size(ts)).as("quality"))
    }),


    // North-star exact-dup detection: md5 fingerprint of the canonical
    // token stream + per-fingerprint group size via window count
    "q20_fingerprint" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
        .withColumn("n_same",
          count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy(col("fp")))
            .cast("long"))),


    // M1: rule-based stemming (the pluggable lemmatizer's default) over the
    // corpus — stem frequency. The rule chain is anchored-suffix regexes,
    // expressible identically in DuckDB's RE2.
    "q29_stem_freq" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(explode(TextOps.tokens(col("text"))).as("t"))
        .select(text.Stemmer.stemToken(col("t")).as("stem"))
        .groupBy(col("stem"))
        .agg(count(lit(1)).as("n"))
        .filter(col("n") >= 20)),


    // North-star token counting: whitespace tokens vs BPE-ish pre-tokens
    // (contractions / letter runs / digit runs / punctuation runs) — both
    // pure projections, regex verified identical across engines.
    "q32_bpe_tokens" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        size(regexp_extract_all(col("text"), lit("""\S+"""), lit(0)))
          .cast("long").as("n_ws"),
        size(TextOps.bpeTokens(col("text"))).cast("long").as("n_bpe"))),


    // North-star token counting, merge-table half: BPE subword units via
    // the native priority merge loop against the pinned DefaultMerges
    // table — unit frequencies over the corpus. The table is
    // rank-consistent, so the priority loop equals applying merges in rank
    // order, which the DuckDB oracle mirrors as nested replaces over a
    // double-space-joined char sequence (exact hash-match, not rows-only).
    "q39_bpe_merges" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(explode(text.Bpe.subwords(col("text"))).as("unit"))
        .groupBy(col("unit"))
        .agg(count(lit(1)).as("n"))
        .filter(col("n") >= 20)),


    // North-star language-ID, char-n-gram form: per-mille of top-English
    // character bigrams — integer arithmetic, IN-list membership. Pure
    // projection, complements the function-word score of q19.
    "q34_lang_bigrams" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), TextOps.englishBigramScore(col("text")).as("bg_score"))
        .select(col("doc_id"), col("bg_score"),
          when(col("bg_score") >= 80, "en").otherwise("other").as("lang_bg"))),


    // Language-ID EVALUATION: confusion of the declared corpus lang
    // against q34's bigram heuristic (en vs other), plus per-declared-
    // lang detection ppm — the accuracy readout a curation pipeline
    // publishes before trusting the gate. Exact counts; one grouped
    // pass over the scored frame.
    "q245_lang_confusion" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("lang"),
          when(TextOps.englishBigramScore(col("text")) >= 80, "en")
            .otherwise("other").as("pred"))
        .groupBy(col("lang"), col("pred"))
        .agg(count(lit(1)).as("n"))
        .withColumn("lang_total",
          sum(col("n")).over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("lang"))))
        .withColumn("share_ppm", expr("n * 1000000 div lang_total"))
        .select(col("lang"), col("pred"), col("n"), col("share_ppm"))),


    // retrieval: BM25 over a fixed 3-term query — one corpus-stats pass
    // broadcast back, scoring a pure projection; the score ships
    // µ-quantized so the only non-portable bit (ln's last ulp) can't
    // flip the hash
    "q71_bm25" -> ((s, dir) =>
      text.TextOps.bm25(Tables.documents(s, dir), "doc_id", "text",
        Seq("spark", "join", "fast"))
        .select(col("doc_id"),
          floor(col("bm25") * lit(1000000.0)).cast("long").as("bm25_q"))),


    // training-pipeline: repetition quality signal (Gopher/C4 boilerplate
    // rule) — duplicate trigram fraction per doc; one int-ratio division
    // keeps the double engine-portable
    "q62_repetition" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          text.TextOps.duplicateGramStats(col("text"), 3).as("r"))
        .select(col("doc_id"), col("r.n_grams").as("n_tri"),
          col("r.dup_grams").as("dup_tri"), col("r.dup_ratio"))),


    // training-pipeline: PII masking — URLs, emails, phone-shaped runs →
    // typed placeholders. PII is injected deterministically from doc_id
    // (the fixture corpus carries none), same construction in the oracle
    "q61_pii_scrub" -> ((s, dir) =>
      Tables.documents(s, dir).select(col("doc_id"),
        text.TextOps.scrubPii(concat(
          col("text"),
          lit(" contact user"), col("doc_id"), lit("@example.com or 555-000-"),
          lpad(col("doc_id").cast("string"), 4, "0"),
          lit(" see https://ex.com/d/"), col("doc_id"))).as("clean_text"))),


    // training-pipeline: per-language length gate — keep the longest half
    // of EACH language's docs (distribution-aware quality filtering; a
    // global cutoff right for one language is wrong for another). Exact
    // per-group boundary, deterministic tie-break, one shuffle for both
    // windows.
    "q76_length_gate" -> ((s, dir) =>
      Relational.topFractionPerGroup(
        Tables.documents(s, dir).select(col("doc_id"), col("lang"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tok")),
        Seq("lang"), "n_tok", "doc_id", fraction = 0.5)),


    // tokenizer diagnostics: BPE-unit fertility per language (subword
    // units per whitespace word, exact integer ratio) — what a
    // token-budgeted corpus mix actually pays per language
    "q86_fertility" -> ((s, dir) =>
      text.TextOps.tokenizerFertility(Tables.documents(s, dir), "lang", "text")),


    // quality: per-doc token-distribution ENTROPY (lexical diversity) —
    // per-token µ-quantization before the integer sum keeps the
    // aggregation order-free ⇒ hash-exact oracle (q83's discipline)
    "q87_token_entropy" -> ((s, dir) =>
      text.TextOps.tokenEntropy(Tables.documents(s, dir), "doc_id", "text")),


    // training-pipeline: CCNet-style perplexity gate — per-doc average
    // negative log-likelihood under the corpus's own unigram distribution.
    // Per-token µ-quantization BEFORE the integer per-doc sum makes the
    // aggregation order-free (a float avg would hash differently per
    // partitioning) ⇒ hash-exact oracle.
    "q83_unigram_nll" -> ((s, dir) =>
      text.TextOps.unigramLogLoss(Tables.documents(s, dir), "doc_id", "text")),


    // retrieval-corpus prep: sliding-window chunking — 32-token windows
    // every 16 tokens per doc with the trailing partial kept; a pure
    // projection + generator, no shuffle. Text re-joined so the oracle
    // hash pins the exact window contents, not just counts.
    "q79_chunking" -> ((s, dir) =>
      llm.Packing.slidingChunks(
        Tables.documents(s, dir), "doc_id",
        TextOps.tokens(col("text")), chunkSize = 32, stride = 16)),


    // corpus mixing by token RECIPE: admit docs per language in md5 order
    // until 2000 tokens are consumed (greedy, ≤1-doc overshoot) — the
    // budget-shaped counterpart of q59's rate-shaped sampling
    "q80_token_budget" -> ((s, dir) =>
      llm.Packing.tokenBudgetSample(
        Tables.documents(s, dir), "lang", "doc_id",
        size(TextOps.tokens(col("text"))).cast("long"), budget = 2000L)),


    // C4-style cross-document boilerplate-line removal over a staged
    // fixture (synthetic cookie-banner/footer sentences injected, since
    // the raw corpus has no cross-doc repeated sentences): banners reach
    // minDocs and drop, every unique body survives, in-doc repetition is
    // NOT boilerplate
    "q118_line_dedup" -> ((s, dir) => {
      val staged = Tables.documents(s, dir).select(col("doc_id"),
        concat(
          when(col("doc_id") % 3 === 0,
            lit("Accept cookies to continue. ")).otherwise(lit("")),
          col("text"),
          when(col("doc_id") % 5 === 0,
            lit(". All rights reserved")).otherwise(lit(""))).as("text"))
      sources.Sources.writeParquet(staged, predsPath("q118_docs"))
      text.Lines.dropBoilerplateLines(
        s.read.parquet(predsPath("q118_docs")), "doc_id", "text", minDocs = 3L)
    }),


    // interpolated-bigram LM cross-entropy (the CCNet/KenLM-direction
    // quality bucket, one model order up from q83's unigram NLL) —
    // µ-quantized per DISTINCT bigram, so per-doc scoring is exact
    // integer arithmetic and hash-checkable
    "q115_bigram_nll" -> ((s, dir) =>
      text.Lm.bigramLogLoss(Tables.documents(s, dir), "doc_id", "text")),


    // M1 full parity: COMPLETE Porter (1980) stemming over the corpus via
    // the native porter_stem expression — stem frequency, q29's shape at
    // full algorithm fidelity. Round-11 serve split (the q91 recipe —
    // previously no_oracle): the measure-based conditions (m, *o, *v*)
    // are not portably SQL-expressible, so the STEM half persists
    // (doc_id, stem) rows once — the algorithm stays pinned by
    // PorterDumpSpec's 6.4k differential and the verbatim paper pairs —
    // and the frequency aggregation is pure relational work the oracle
    // replays over the stored stems.
    "q38_porter_freq" -> ((s, dir) => {
      val stems = Tables.documents(s, dir)
        .select(col("doc_id"), explode(
          graft.exprapi.porterStem(text.TextOps.tokens(col("text")))).as("stem"))
      sources.Sources.writeParquet(stems, predsPath("q38_stems"))
      s.read.parquet(predsPath("q38_stems"))
        .groupBy(col("stem"))
        .agg(count(lit(1)).as("n"))
        .filter(col("n") >= 20)
    }),

    // cross-source score calibration: raw quality signals aren't
    // comparable across domains (a "short" doc on one source is median
    // on another), so mixture weighting uses the PER-SOURCE percentile
    // instead — percent_rank within source, deterministic (doc_id
    // tie-break kills rank ties), and IEEE-exact: (rank-1)/(n-1) is one
    // integer-to-double division both engines compute identically.
    "q136_quality_calibration" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"))
        .orderBy(col("n_chars").asc, col("doc_id").asc)
      Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("n_chars"),
          percent_rank().over(w).as("pct"))
    }),

    // the curation FUNNEL end-to-end: language gate (q34's bigram score)
    // → quality gate (q19's token/punct signals) → exact-dup survivor
    // (q20's fingerprint, min-id keeps) → decontamination (q70's 4-gram
    // overlap vs the bench split) — one verdict per document, labeled
    // with the FIRST failing stage. Each gate runs only over the prior
    // stage's survivors, so the composed plan is the production shape:
    // the cheap projections prune before the grouped fingerprint shuffle,
    // which prunes before the gram explode. One query certifies the whole
    // pipeline's stage ordering and bookkeeping, not just each gate.
    "q132_curation_funnel" -> ((s, dir) => {
      val all = Tables.documents(s, dir)
      TextOps.curationFunnel(
        all.filter(col("doc_id") % 100 =!= 0),
        all.filter(col("doc_id") % 100 === 0))
    }),


    // Flesch-style readability gate, integer-exact: word/sentence/vowel-
    // group counts and the milli-scaled reading-ease score in pure BIGINT
    // (all terms non-negative ⇒ DIV == floor-div in both engines)
    "q145_readability" -> ((s, dir) =>
      TextOps.readabilityStats(Tables.documents(s, dir), "doc_id", "text")),


    // IR phrase query over positional postings: per-term postings are
    // position-shifted and equi-joined on (doc, aligned position) — no
    // string re-scan; cost tracks the rarest term's postings
    "q152_phrase_search" -> ((s, dir) =>
      TextOps.phraseSearch(Tables.documents(s, dir), "doc_id", "text",
        Seq("table", "hash"))),


    // vocabulary coverage curve (the tokenizer-sizing question: how much
    // of the corpus do the top-k types cover?): corpus-sized explode →
    // map-side-combined type counts, then rank + running-total windows
    // over the VOCABULARY-sized frame only (the q74/q117 single-partition
    // discipline — global windows never touch corpus-scale data). Exact
    // integer coverage_ppm; (count desc, token asc) ordering makes ranks
    // deterministic under ties.
    "q166_vocab_coverage" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val counts = Tables.documents(s, dir)
        .select(explode(TextOps.tokens(col("text"))).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("c"))
      val total = counts.agg(sum(col("c")).as("total_tokens"))
      val ranked = counts
        .withColumn("rank", row_number().over(
          Window.orderBy(col("c").desc, col("token").asc)))
        .withColumn("cum_tokens", sum(col("c")).over(
          Window.orderBy(col("c").desc, col("token").asc)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      // checkpoint ranks sized to the fixture's 31-type synthetic
      // vocabulary (a natural corpus would use 10/100/1000/10000)
      ranked.filter(col("rank").isin(5, 15, 30))
        .crossJoin(broadcast(total))
        .select(col("rank"), col("token"), col("cum_tokens"),
          col("total_tokens"),
          expr("cum_tokens * 1000000 div total_tokens").as("coverage_ppm"))
    }),


    // WITHIN-doc line dedup (the in-doc half of C4's repetition
    // cleanup; q118 is the cross-doc half): repetition injected
    // deterministically (docs %4 double their whole text), first
    // occurrence keeps, order preserved
    "q194_within_doc_dedup" -> ((s, dir) =>
      text.Lines.dedupLinesWithinDoc(
        Tables.documents(s, dir).select(col("doc_id"),
          when(col("doc_id") % 4 === 0,
            concat(col("text"), lit(". "), col("text")))
            .otherwise(col("text")).as("text")),
        "doc_id", "text")),


    // mergeable distinct-count sketches (Apache DataSketches HLL via
    // Spark 4's hll_sketch_agg/hll_union_agg): per-shard partial
    // sketches union-merge to the same state as a global sketch — the
    // 100 TB COUNT(DISTINCT) pattern: no re-shuffle of raw values when
    // shards/partitions/days are combined, just kilobyte sketch merges.
    // DataSketches has no DuckDB mirror ⇒ rows-only; ProfileSpec pins
    // the merge law (shard-union estimate within 1% of one-shot) and
    // the error bound vs exact distinct.
    "q191_hll_mergeable" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("source"), (col("doc_id") % 4).as("shard"),
          explode(TextOps.tokens(col("text"))).as("token"))
      val merged = toks
        .groupBy(col("source"), col("shard"))
        .agg(expr("hll_sketch_agg(token, 12)").as("sk"))
        .groupBy(col("source"))
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk))")
          .as("hll_est"))
      toks.groupBy(col("source"))
        .agg(count_distinct(col("token")).as("exact_nd"))
        .join(merged, "source")
        .select(col("source"), col("exact_nd"), col("hll_est"))
    }),


    // corpus-drift monitor (distribution-shift report between two
    // snapshot halves): per token the add-one-smoothed log prevalence
    // ratio q = ⌊10⁶·ln((c1+1)(N0+V) / ((c0+1)(N1+V)))⌋ — the Lm
    // discipline: ONE double expression evaluated on exact integer
    // counts, so it is hash-stable across engines — and the top-10
    // drifters by |mass| = |(c1+1)·q|. Three hash aggs + a
    // vocabulary-sized full-outer join; nothing corpus-sized past the
    // token counts.
    "q188_corpus_drift" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = Tables.documents(s, dir)
      def counts(half: Int) = d.filter(col("doc_id") % 2 === half)
        .select(explode(TextOps.tokens(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as(s"c$half"))
      val joined = counts(0).join(counts(1), Seq("token"), "full_outer")
        .select(col("token"),
          coalesce(col("c0"), lit(0L)).as("c0"),
          coalesce(col("c1"), lit(0L)).as("c1"))
      val tot = joined.agg(sum(col("c0")).as("n0"), sum(col("c1")).as("n1"),
        count(lit(1)).as("v"))
      val q = joined.crossJoin(broadcast(tot))
        .withColumn("q_unats",
          floor(lit(1e6) * log(
            ((col("c1") + 1) * (col("n0") + col("v"))).cast("double") /
              ((col("c0") + 1) * (col("n1") + col("v"))).cast("double")))
            .cast("long"))
        .withColumn("mass", (col("c1") + 1) * col("q_unats"))
      q.withColumn("rk", row_number().over(
          Window.orderBy(abs(col("mass")).desc, col("token").asc)))
        .filter(col("rk") <= 10)
        .select(col("token"), col("c0"), col("c1"), col("q_unats"),
          col("mass"), col("rk").cast("int").as("rk"))
    }),


    // the data-MIXING pipeline composed end-to-end: per-source doc
    // budgets from q119's temperature allocation (√-scaled, Hamilton
    // rounding sums exactly to 500) → quality-ranked draw within each
    // source (longest-first, doc_id tie-break) carrying q136's
    // percent_rank calibration. Deterministic, partition-invariant —
    // the "which docs actually enter the mix" step between allocation
    // and export. Both windows share the source partitioning; the
    // allocation frame is groups-sized and broadcasts.
    "q174_mixture_draw" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, dir)
      val alloc = llm.Mixture
        .temperatureAllocation(docs, "source", lit(1L), budget = 500L)
        .select(col("source"), col("alloc"))
      val byQuality = Window.partitionBy(col("source"))
        .orderBy(col("n_chars").desc, col("doc_id").asc)
      val pctW = Window.partitionBy(col("source"))
        .orderBy(col("n_chars").asc, col("doc_id").asc)
      docs.select(col("doc_id"), col("source"), col("n_chars"))
        .withColumn("pct", percent_rank().over(pctW))
        .withColumn("rk", row_number().over(byQuality))
        .join(broadcast(alloc), "source")
        .filter(col("rk") <= col("alloc"))
        .select(col("source"), col("doc_id"), col("n_chars"), col("pct"),
          col("rk").cast("long").as("rk"))
    }),
  )

  /** DuckDB-runnable oracle equivalents; keys lacking an entry here are
    * rows-only checked by the driver (non-portable hash/codec/fit paths,
    * each pinned by a dedicated spec instead). */
  val sql: Map[String, String] = Map(

    // frequency rollup replayed from the persisted per-doc stems (the
    // q91 serve-split recipe) — the stemmer stays engine-local,
    // PorterDumpSpec-pinned
    "q38_porter_freq" ->
      s"""SELECT stem, CAST(count(*) AS BIGINT) AS n
         |FROM read_parquet('${predsPath("q38_stems")}/*.parquet')
         |GROUP BY 1 HAVING count(*) >= 20""".stripMargin,

    "q12_token_stats" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+'))) AS BIGINT) AS n_distinct
        |FROM documents""".stripMargin,


    "q13_doc_freq" ->
      """SELECT tok AS token, CAST(count(*) AS BIGINT) AS df
        |FROM (SELECT doc_id, unnest(list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+'))) AS tok
        |      FROM documents)
        |GROUP BY tok HAVING count(*) >= 5 AND count(*) <= 400""".stripMargin,


    "q14_tfidf_topterms" ->
      """WITH tf AS (
        |  SELECT doc_id, tok AS token, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
        |        FROM documents)
        |  GROUP BY doc_id, tok
        |), df AS (
        |  SELECT tok AS token, CAST(count(*) AS BIGINT) AS df
        |  FROM (SELECT doc_id, unnest(list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+'))) AS tok
        |        FROM documents)
        |  GROUP BY tok
        |)
        |SELECT doc_id, token, tf, score, rank FROM (
        |  SELECT tf.doc_id, tf.token, tf.tf, (tf.tf * 1000000) // df.df AS score,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY tf.doc_id
        |                ORDER BY (tf.tf * 1000000) // df.df DESC, tf.token) AS BIGINT) AS rank
        |  FROM tf JOIN df ON tf.token = df.token
        |) WHERE rank <= 3""".stripMargin,


    "q15_ngram_stats" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM documents
        |), g AS (
        |  SELECT doc_id, ts,
        |    list_transform(generate_series(1, len(ts)-1), i -> ts[i] || ' ' || ts[i+1]) AS bi,
        |    list_transform(generate_series(1, len(ts)-2), i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]) AS tri
        |  FROM t
        |)
        |SELECT doc_id,
        |  CAST(len(ts) AS BIGINT) AS n_uni,
        |  CAST(len(bi) AS BIGINT) AS n_bi,
        |  CAST(len(tri) AS BIGINT) AS n_tri,
        |  CAST(len(list_distinct(ts || bi || tri)) AS BIGINT) AS n_merged
        |FROM g""".stripMargin,


    "q19_doc_quality" ->
      """WITH t AS (
        |  SELECT doc_id, text, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM documents
        |), s AS (
        |  SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,
        |         CAST(floor(1000.0 * len(list_filter(ts,
        |           x -> x IN ('the','a','an','of','to','and','in','is','it','that'))) / len(ts))
        |           AS BIGINT) AS fw_score,
        |         CASE WHEN len(text) > 0 THEN
        |           CAST(floor((len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) * 1000) / len(text)) AS BIGINT)
        |         ELSE 0 END AS punct_score
        |  FROM t
        |)
        |SELECT doc_id, n_tokens, fw_score, punct_score,
        |       CASE WHEN fw_score >= 100 THEN 'en_like' ELSE 'other' END AS lang_guess,
        |       CASE WHEN n_tokens >= 80 THEN 'long'
        |            WHEN n_tokens >= 40 THEN 'medium'
        |            ELSE 'short' END AS quality
        |FROM s""".stripMargin,


    "q20_fingerprint" ->
      """SELECT doc_id, fp, CAST(count(*) OVER (PARTITION BY fp) AS BIGINT) AS n_same
        |FROM (SELECT doc_id,
        |             md5(array_to_string(regexp_extract_all(lower(text), '[a-z0-9]+'), ' ')) AS fp
        |      FROM documents)""".stripMargin,


    // both engines replay the df>=3 sentence filter over the SAME staged
    // fixture; string_agg/array_join rebuild surviving text in order
    "q118_line_dedup" ->
      s"""WITH s AS (
         |  SELECT doc_id, bg.pos AS pos, bg.sent AS sent FROM (
         |    SELECT doc_id,
         |           unnest(list_transform(string_split(lower(text), '. '),
         |             (x, i) -> struct_pack(pos := i, sent := x))) AS bg
         |    FROM read_parquet('${predsPath("q118_docs")}/*.parquet'))
         |  WHERE trim(sent) <> ''
         |), df AS (
         |  SELECT sent, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
         |  FROM s GROUP BY 1
         |)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sent,
         |       CAST(sum(CASE WHEN df >= 3 THEN 0 ELSE 1 END) AS BIGINT) AS n_kept,
         |       coalesce(string_agg(CASE WHEN df < 3 THEN sent END, '. '
         |                           ORDER BY pos), '') AS text
         |FROM s JOIN df USING (sent)
         |GROUP BY doc_id""".stripMargin,


    "q115_bigram_nll" ->
      s"""WITH $bigramModelChain
         |SELECT doc_id, CAST(sum(tfb) AS BIGINT) AS n_bigrams,
         |       CAST(sum(tfb * q) // sum(tfb) AS BIGINT) AS nll_q
         |FROM tfb JOIN model USING (w1, w2)
         |GROUP BY 1""".stripMargin,


    "q32_bpe_tokens" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_ws,
        |  CAST(len(regexp_extract_all(lower(text),
        |       '''(?:s|t|re|ve|m|ll|d)|[a-z]+|[0-9]+|[^a-z0-9\s'']+')) AS BIGINT) AS n_bpe
        |FROM documents""".stripMargin,


    "q39_bpe_merges" -> {
      // chars joined by DOUBLE spaces, whole string wrapped in single
      // spaces; each merge = one literal replace of ' a  b ' with ' ab ' —
      // the surrounding spaces anchor unit boundaries (a bare 'a  b'
      // pattern would false-match the TAIL of a multi-char unit, e.g.
      // 'st  o' ⊃ 't  o'). Left-to-right non-overlapping replace = the
      // fuse-all semantics of one merge step; rank order = table order
      // (rank-consistent table ⇒ in-order == priority loop).
      val enc = text.Bpe.DefaultMerges.foldLeft(
        "' ' || trim(regexp_replace(t, '(.)', '\\1  ', 'g')) || ' '") {
        case (acc, (a, b)) => s"replace($acc, ' $a  $b ', ' $a$b ')"
      }
      s"""WITH toks AS (
         |  SELECT unnest(regexp_extract_all(lower(text),
         |    '''(?:s|t|re|ve|m|ll|d)|[a-z]+|[0-9]+|[^a-z0-9\\s'']+')) AS t
         |  FROM documents
         |), enc AS (SELECT $enc AS s FROM toks),
         |u AS (SELECT unnest(string_split(trim(s), '  ')) AS unit FROM enc)
         |SELECT unit, CAST(count(*) AS BIGINT) AS n
         |FROM u GROUP BY 1 HAVING count(*) >= 20""".stripMargin
    },


    "q34_lang_bigrams" ->
      """WITH n AS (
        |  SELECT doc_id, array_to_string(regexp_extract_all(lower(text), '[a-z0-9]+'), ' ') AS s
        |  FROM documents
        |), sc AS (
        |  SELECT doc_id,
        |    CASE WHEN len(s) >= 2 THEN
        |      CAST(floor((len(list_filter(list_transform(generate_series(1, len(s)-1),
        |                                                 i -> substr(s, i, 2)),
        |             x -> x IN ('th','he','in','er','an','re','on','at','en','nd',
        |                        'ti','es','or','te','of','ed','is','it','al','ar',
        |                        'st','to','nt','ng','se','ha','as','ou','io','le'))) * 1000)
        |                 / (len(s) - 1)) AS BIGINT)
        |    ELSE 0 END AS bg_score
        |  FROM n
        |)
        |SELECT doc_id, bg_score,
        |       CASE WHEN bg_score >= 80 THEN 'en' ELSE 'other' END AS lang_bg
        |FROM sc""".stripMargin,


    // q34's scorer joined back to the declared lang + the grouped
    // confusion rollup
    "q245_lang_confusion" ->
      """WITH n AS (
        |  SELECT doc_id, lang,
        |         array_to_string(regexp_extract_all(lower(text), '[a-z0-9]+'), ' ') AS s
        |  FROM documents
        |), sc AS (
        |  SELECT lang,
        |    CASE WHEN len(s) >= 2 THEN
        |      CAST(floor((len(list_filter(list_transform(generate_series(1, len(s)-1),
        |                                                 i -> substr(s, i, 2)),
        |             x -> x IN ('th','he','in','er','an','re','on','at','en','nd',
        |                        'ti','es','or','te','of','ed','is','it','al','ar',
        |                        'st','to','nt','ng','se','ha','as','ou','io','le'))) * 1000)
        |                 / (len(s) - 1)) AS BIGINT)
        |    ELSE 0 END AS bg_score
        |  FROM n
        |), p AS (
        |  SELECT lang,
        |         CASE WHEN bg_score >= 80 THEN 'en' ELSE 'other' END AS pred
        |  FROM sc
        |), c AS (
        |  SELECT lang, pred, CAST(count(*) AS BIGINT) AS n
        |  FROM p GROUP BY 1, 2
        |)
        |SELECT lang, pred, n,
        |       CAST(n * 1000000 // CAST(sum(n) OVER (PARTITION BY lang)
        |         AS BIGINT) AS BIGINT) AS share_ppm
        |FROM c""".stripMargin,


    // Mirror of graft.text.Stemmer.stemToken — same ordered rule chain;
    // all patterns are $-anchored so replace-first vs replace-all agree
    "q29_stem_freq" ->
      """WITH toks AS (
        |  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t FROM documents
        |), stems AS (
        |  SELECT CASE
        |    WHEN regexp_matches(t, 'sses$') THEN regexp_replace(t, 'sses$', 'ss')
        |    WHEN regexp_matches(t, 'ies$') THEN regexp_replace(t, 'ies$', 'y')
        |    WHEN regexp_matches(t, '^[a-z]*[aeiou][a-z]{2,}ing$') THEN regexp_replace(t, 'ing$', '')
        |    WHEN regexp_matches(t, '^[a-z]*[aeiou][a-z]+ed$') THEN regexp_replace(t, 'ed$', '')
        |    WHEN regexp_matches(t, '^[a-z]{3,}ly$') THEN regexp_replace(t, 'ly$', '')
        |    WHEN regexp_matches(t, '^[a-z]*[aeiou][a-z]*[^su]s$')
        |         AND NOT regexp_matches(t, 'ss$') THEN regexp_replace(t, 's$', '')
        |    ELSE t END AS stem
        |  FROM toks
        |)
        |SELECT stem, CAST(count(*) AS BIGINT) AS n
        |FROM stems GROUP BY stem HAVING count(*) >= 20""".stripMargin,


    // constants written as the SAME double arithmetic the engine runs
    // ((1.2 + 1.0), (1 - 0.75)) so both engines fold to identical bits
    "q71_bm25" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM documents
        |), stats AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
        |         CAST(sum(len(ts)) AS DOUBLE) AS sum_len,
        |         CAST(sum(CASE WHEN list_contains(ts, 'spark') THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
        |         CAST(sum(CASE WHEN list_contains(ts, 'join') THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
        |         CAST(sum(CASE WHEN list_contains(ts, 'fast') THEN 1 ELSE 0 END) AS DOUBLE) AS df2
        |  FROM toks
        |), per AS (
        |  SELECT doc_id,
        |    CAST(len(ts) AS DOUBLE) AS len,
        |    CAST(len(ts) - len(list_filter(ts, x -> x <> 'spark')) AS DOUBLE) AS tf0,
        |    CAST(len(ts) - len(list_filter(ts, x -> x <> 'join')) AS DOUBLE) AS tf1,
        |    CAST(len(ts) - len(list_filter(ts, x -> x <> 'fast')) AS DOUBLE) AS tf2
        |  FROM toks
        |)
        |SELECT doc_id,
        |  CAST(floor((
        |      ln(1.0 + (n_docs - df0 + 0.5) / (df0 + 0.5)) * (tf0 * (1.2 + 1.0))
        |        / (tf0 + 1.2 * ((1 - 0.75) + 0.75 * len / (sum_len / n_docs)))
        |    + ln(1.0 + (n_docs - df1 + 0.5) / (df1 + 0.5)) * (tf1 * (1.2 + 1.0))
        |        / (tf1 + 1.2 * ((1 - 0.75) + 0.75 * len / (sum_len / n_docs)))
        |    + ln(1.0 + (n_docs - df2 + 0.5) / (df2 + 0.5)) * (tf2 * (1.2 + 1.0))
        |        / (tf2 + 1.2 * ((1 - 0.75) + 0.75 * len / (sum_len / n_docs)))
        |  ) * 1000000.0) AS BIGINT) AS bm25_q
        |FROM per, stats""".stripMargin,


    "q62_repetition" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM documents
        |), g AS (
        |  SELECT doc_id,
        |    CASE WHEN len(ts) >= 3
        |         THEN list_transform(generate_series(1, len(ts)-2),
        |                             i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])
        |         ELSE [] END AS tri
        |  FROM t
        |)
        |SELECT doc_id,
        |  CAST(len(tri) AS BIGINT) AS n_tri,
        |  CAST(len(tri) - len(list_distinct(tri)) AS BIGINT) AS dup_tri,
        |  CASE WHEN len(tri) > 0
        |       THEN CAST(len(tri) - len(list_distinct(tri)) AS DOUBLE) / CAST(len(tri) AS DOUBLE)
        |       ELSE 0.0 END AS dup_ratio
        |FROM g""".stripMargin,


    "q61_pii_scrub" ->
      """SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(
        |        text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com or 555-000-'
        |             || lpad(CAST(doc_id AS VARCHAR), 4, '0') || ' see https://ex.com/d/' || CAST(doc_id AS VARCHAR),
        |        'https?://[^ ]+', '[URL]', 'g'),
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |    '\+?[0-9][0-9()\- ]{6,}[0-9]', '[PHONE]', 'g') AS clean_text
        |FROM documents""".stripMargin,


    "q76_length_gate" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |         CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tok
        |  FROM documents
        |), r AS (
        |  SELECT doc_id, lang, n_tok,
        |         row_number() OVER (PARTITION BY lang ORDER BY n_tok DESC, doc_id) AS rn,
        |         count(*) OVER (PARTITION BY lang) AS n
        |  FROM t
        |)
        |SELECT doc_id, lang, n_tok FROM r WHERE rn <= CAST(ceil(n * 0.5) AS BIGINT)""".stripMargin,


    "q79_chunking" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM documents
        |), k AS (
        |  SELECT doc_id, ts,
        |         CAST(greatest(ceil((len(ts) - 32.0) / 16), 0) AS BIGINT) AS last_k
        |  FROM t WHERE len(ts) > 0
        |)
        |SELECT doc_id,
        |       u.k AS chunk_id,
        |       CAST(u.k * 16 + 1 AS BIGINT) AS start,
        |       CAST(len(ts[(u.k*16+1):(u.k*16+32)]) AS BIGINT) AS n_tok,
        |       array_to_string(ts[(u.k*16+1):(u.k*16+32)], ' ') AS chunk_text
        |FROM k, unnest(generate_series(0, last_k)) AS u(k)""".stripMargin,


    "q80_token_budget" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |         CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tok
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, lang, n_tok,
        |         CAST(sum(n_tok) OVER (PARTITION BY lang
        |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tok
        |  FROM t
        |)
        |SELECT doc_id, lang, n_tok, cum_tok FROM c WHERE cum_tok - n_tok < 2000""".stripMargin,


    "q83_unigram_nll" ->
      """WITH tf AS (
        |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
        |        FROM documents)
        |  GROUP BY 1, 2
        |), c AS (
        |  SELECT tok, CAST(sum(tf) AS BIGINT) AS c FROM tf GROUP BY 1
        |), vq AS (
        |  SELECT tok,
        |         CAST(floor(1e6 * (ln(CAST((SELECT sum(c) FROM c) AS DOUBLE))
        |                           - ln(CAST(c AS DOUBLE)))) AS BIGINT) AS q
        |  FROM c
        |)
        |SELECT doc_id,
        |       CAST(sum(tf) AS BIGINT) AS n_tok,
        |       CAST(sum(tf * q) // sum(tf) AS BIGINT) AS nll_q
        |FROM tf JOIN vq USING (tok)
        |GROUP BY 1""".stripMargin,


    "q86_fertility" ->
      """WITH t AS (
        |  SELECT lang,
        |    CAST(len(regexp_extract_all(lower(text),
        |         '''(?:s|t|re|ve|m|ll|d)|[a-z]+|[0-9]+|[^a-z0-9\s'']+')) AS BIGINT) AS n_units,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_words
        |  FROM documents WHERE len(trim(text)) > 0
        |)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_units) AS BIGINT) AS sum_units,
        |       CAST(sum(n_words) AS BIGINT) AS sum_words,
        |       CAST((sum(n_units) * 1000000) // sum(n_words) AS BIGINT) AS fertility_q
        |FROM t GROUP BY 1""".stripMargin,


    "q87_token_entropy" ->
      """WITH tf AS (
        |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
        |        FROM documents)
        |  GROUP BY 1, 2
        |), n AS (
        |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n FROM tf GROUP BY 1
        |), h AS (
        |  SELECT tf.doc_id, n.n,
        |         CAST(floor(1e6 * tf * (ln(CAST(n AS DOUBLE)) - ln(CAST(tf AS DOUBLE)))) AS BIGINT) AS h_q
        |  FROM tf JOIN n ON tf.doc_id = n.doc_id
        |)
        |SELECT doc_id, CAST(min(n) AS BIGINT) AS n_tok,
        |       CAST(sum(h_q) // min(n) AS BIGINT) AS entropy_q
        |FROM h GROUP BY 1""".stripMargin,

    // same window, same tie-break, same one-division double
    "q136_quality_calibration" ->
      """SELECT doc_id, source, n_chars,
        |       percent_rank() OVER (PARTITION BY source
        |                            ORDER BY n_chars, doc_id) AS pct
        |FROM documents""".stripMargin,

    // the four gates' proven SQL fragments (q34 bigram score, q19
    // token/punct, q20 md5 fingerprint, q70 4-gram overlap) composed with
    // the same stage ordering and first-fail labeling
    // 1-based positions; hit iff both terms align at consecutive indices
    "q152_phrase_search" ->
      """WITH t AS (SELECT doc_id,
        |                  regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
        |           FROM documents),
        |p AS (SELECT doc_id, i
        |      FROM t, unnest(generate_series(1, len(ts) - 1)) AS u(i)
        |      WHERE ts[i] = 'table' AND ts[i + 1] = 'hash')
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matches
        |FROM p GROUP BY 1""".stripMargin,


    // identical regex counts; 1015/84600 milli-coefficients; `//` == DIV
    // on the non-negative terms
    "q145_readability" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS words,
        |    greatest(CAST(1 AS BIGINT),
        |      CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT)) AS sentences,
        |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS syllables
        |  FROM documents)
        |SELECT doc_id, words, sentences, syllables,
        |  CASE WHEN words > 0 THEN
        |    206835 - (1015 * words) // sentences - (84600 * syllables) // words
        |  END AS score_m
        |FROM c""".stripMargin,


    "q132_curation_funnel" ->
      """WITH t AS (
        |  SELECT doc_id, text,
        |         regexp_extract_all(lower(text), '[a-z0-9]+') AS ts,
        |         array_to_string(regexp_extract_all(lower(text), '[a-z0-9]+'), ' ') AS s
        |  FROM documents WHERE doc_id % 100 <> 0
        |), sc AS (
        |  SELECT doc_id, text, ts,
        |    CASE WHEN len(s) >= 2 THEN
        |      CAST(floor((len(list_filter(list_transform(generate_series(1, len(s)-1),
        |                                                 i -> substr(s, i, 2)),
        |             x -> x IN ('th','he','in','er','an','re','on','at','en','nd',
        |                        'ti','es','or','te','of','ed','is','it','al','ar',
        |                        'st','to','nt','ng','se','ha','as','ou','io','le'))) * 1000)
        |                 / (len(s) - 1)) AS BIGINT)
        |    ELSE 0 END AS bg_score,
        |    CAST(len(ts) AS BIGINT) AS n_tokens,
        |    CASE WHEN len(text) > 0 THEN
        |      CAST(floor((len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) * 1000) / len(text)) AS BIGINT)
        |    ELSE 0 END AS punct_score,
        |    md5(s) AS fp
        |  FROM t
        |), qual AS (
        |  SELECT * FROM sc
        |  WHERE bg_score >= 80 AND n_tokens >= 40 AND punct_score <= 300
        |), minfp AS (
        |  SELECT fp, min(doc_id) AS min_doc FROM qual GROUP BY 1
        |), duploser AS (
        |  SELECT q.doc_id FROM qual q JOIN minfp m USING (fp)
        |  WHERE q.doc_id <> m.min_doc
        |), dupok AS (
        |  SELECT q.doc_id, q.ts FROM qual q JOIN minfp m USING (fp)
        |  WHERE q.doc_id = m.min_doc
        |), grams AS (
        |  SELECT doc_id,
        |    unnest(list_distinct(list_transform(
        |      generate_series(1, greatest(len(ts) - 3, 0)),
        |      i -> array_to_string(ts[i:i+3], ' ')))) AS gram
        |  FROM dupok
        |), bgrams AS (
        |  SELECT DISTINCT unnest(list_distinct(list_transform(
        |      generate_series(1, greatest(len(bt) - 3, 0)),
        |      i -> array_to_string(bt[i:i+3], ' ')))) AS gram
        |  FROM (SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS bt
        |        FROM documents WHERE doc_id % 100 = 0)
        |), cont AS (
        |  SELECT DISTINCT g.doc_id FROM grams g JOIN bgrams USING (gram)
        |)
        |SELECT doc_id, bg_score, n_tokens, punct_score,
        |  CASE WHEN bg_score < 80 THEN 'lang'
        |       WHEN n_tokens < 40 OR punct_score > 300 THEN 'quality'
        |       WHEN doc_id IN (SELECT doc_id FROM duploser) THEN 'dup'
        |       WHEN doc_id IN (SELECT doc_id FROM cont) THEN 'contaminated'
        |       ELSE 'kept' END AS verdict
        |FROM sc""".stripMargin,


    "q166_vocab_coverage" ->
      """WITH c AS (
        |  SELECT token, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
        |        FROM documents)
        |  GROUP BY 1
        |), r AS (
        |  SELECT token, c,
        |         row_number() OVER (ORDER BY c DESC, token ASC) AS rank,
        |         sum(c) OVER (ORDER BY c DESC, token ASC
        |                      ROWS UNBOUNDED PRECEDING) AS cum_tokens,
        |         sum(c) OVER () AS total_tokens
        |  FROM c
        |)
        |SELECT CAST(rank AS INT) AS rank, token,
        |       CAST(cum_tokens AS BIGINT) AS cum_tokens,
        |       CAST(total_tokens AS BIGINT) AS total_tokens,
        |       CAST(cum_tokens * 1000000 // total_tokens AS BIGINT) AS coverage_ppm
        |FROM r WHERE rank IN (5, 15, 30)""".stripMargin,


    // same staging, same first-occurrence rule; string_agg ORDER BY the
    // first-occurrence position rebuilds the surviving text
    "q194_within_doc_dedup" ->
      """WITH staged AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 4 = 0 THEN text || '. ' || text
        |              ELSE text END AS text
        |  FROM documents
        |), s AS (
        |  SELECT doc_id, bg.pos AS pos, bg.sent AS sent FROM (
        |    SELECT doc_id,
        |           unnest(list_transform(string_split(lower(text), '. '),
        |             (x, i) -> struct_pack(pos := i, sent := x))) AS bg
        |    FROM staged)
        |  WHERE trim(sent) <> ''
        |), f AS (
        |  SELECT doc_id, sent, min(pos) AS pos,
        |         CAST(count(*) AS BIGINT) AS occ
        |  FROM s GROUP BY 1, 2
        |)
        |SELECT doc_id, CAST(sum(occ) AS BIGINT) AS n_sent,
        |       CAST(count(*) AS BIGINT) AS n_kept,
        |       coalesce(string_agg(sent, '. ' ORDER BY pos), '') AS text
        |FROM f GROUP BY doc_id""".stripMargin,


    // same counts, same one-double-ln-on-integers quantization
    "q188_corpus_drift" ->
      """WITH t0 AS (
        |  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
        |  FROM documents WHERE doc_id % 2 = 0
        |), t1 AS (
        |  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
        |  FROM documents WHERE doc_id % 2 = 1
        |), c0 AS (SELECT token, CAST(count(*) AS BIGINT) AS c0 FROM t0 GROUP BY 1),
        |c1 AS (SELECT token, CAST(count(*) AS BIGINT) AS c1 FROM t1 GROUP BY 1),
        |j AS (
        |  SELECT COALESCE(c0.token, c1.token) AS token,
        |         COALESCE(c0.c0, 0) AS c0, COALESCE(c1.c1, 0) AS c1
        |  FROM c0 FULL JOIN c1 ON c0.token = c1.token
        |), tot AS (
        |  SELECT sum(c0) AS n0, sum(c1) AS n1, count(*) AS v FROM j
        |), q AS (
        |  SELECT token, c0, c1,
        |         CAST(floor(1e6 * ln(
        |           CAST((c1 + 1) * (n0 + v) AS DOUBLE) /
        |           CAST((c0 + 1) * (n1 + v) AS DOUBLE))) AS BIGINT) AS q_unats
        |  FROM j, tot
        |), m AS (
        |  SELECT token, c0, c1, q_unats,
        |         CAST((c1 + 1) * q_unats AS BIGINT) AS mass
        |  FROM q
        |), r AS (
        |  SELECT *, row_number() OVER (ORDER BY abs(mass) DESC, token ASC) AS rk
        |  FROM m
        |)
        |SELECT token, c0, c1, q_unats, mass, CAST(rk AS INT) AS rk
        |FROM r WHERE rk <= 10""".stripMargin,


    // q119's allocation CTEs (doc-count weights) + q136's window + the
    // rank-vs-alloc draw
    "q174_mixture_draw" ->
      """WITH sizes AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs
        |  FROM documents GROUP BY 1
        |), w AS (
        |  SELECT source, n_docs,
        |         CAST(floor(1e6 * sqrt(CAST(n_docs AS DOUBLE))) AS BIGINT) AS wq
        |  FROM sizes
        |), ex AS (
        |  SELECT source, wq,
        |         (500 * CAST(wq AS DOUBLE)) /
        |           CAST((SELECT sum(wq) FROM w) AS DOUBLE) AS share
        |  FROM w
        |), e2 AS (
        |  SELECT *, CAST(floor(share) AS BIGINT) AS alloc0,
        |         share - floor(share) AS frac
        |  FROM ex
        |), sp AS (
        |  SELECT 500 - sum(alloc0) AS spare FROM e2
        |), al AS (
        |  SELECT source,
        |         alloc0 + CASE WHEN row_number()
        |             OVER (ORDER BY frac DESC, source ASC) <=
        |             (SELECT spare FROM sp)
        |           THEN 1 ELSE 0 END AS alloc
        |  FROM e2
        |), r AS (
        |  SELECT doc_id, source, n_chars,
        |         percent_rank() OVER (PARTITION BY source
        |                              ORDER BY n_chars ASC, doc_id ASC) AS pct,
        |         row_number() OVER (PARTITION BY source
        |                            ORDER BY n_chars DESC, doc_id ASC) AS rk
        |  FROM documents
        |)
        |SELECT r.source, r.doc_id, r.n_chars, r.pct, CAST(r.rk AS BIGINT) AS rk
        |FROM r JOIN al ON r.source = al.source
        |WHERE r.rk <= al.alloc""".stripMargin,
  )
}
