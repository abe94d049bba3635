package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The text/NLP feature chain (SURVEY.md §2.2 P6/P12–P15, §2.6 M2–M5, §2.4
  * A3–A4) — the reference's core workload
  * (`mergers_acquisitions_code/acq_etl_code.scala:37-81`,
  * `tgt_etl_code.scala:22-67`) re-expressed as Catalyst expressions and
  * grouped aggregations. Zero ScalaUDFs (SURVEY §2.7 rule): everything here
  * is built-ins + higher-order functions, so the whole chain stays inside
  * whole-stage codegen and pushes through the optimizer.
  *
  * Scale notes:
  *   - Per-document work (tokenize, n-grams, merges, stats) is embarrassingly
  *     parallel — pure projections, no shuffle at any scale.
  *   - Corpus-level work (document frequency, IDF) is one explode + one
  *     map-side-partial grouped aggregation; the shuffle carries (token ×
  *     partition) partial counts, not (token × doc) rows.
  *   - Vocabulary pruning (minDF/maxDF) happens IN the aggregation's HAVING,
  *     before any join back to documents, so the vocab broadcast stays small.
  */
object TextOps {

  /** Word characters for tokenization — the reference's `split("\\W")` +
    * `replaceAll("[^a-z]","")` (`acq_etl_code.scala:41,44`) composes to
    * "runs of [a-z0-9] in lowercased text", which one `regexp_extract_all`
    * expresses without the empty-token debris `split` leaves behind. */
  val TokenPattern = "[a-z0-9]+"

  /** P12+P13+P14: lowercase → extract token runs. Returns array<string>. */
  def tokens(text: Column): Column =
    regexp_extract_all(lower(text), lit(TokenPattern), lit(0))

  /** BPE-ish pre-tokenizer (north-star token counting): contraction
    * suffixes, letter runs, digit runs, punctuation runs — the GPT-2-style
    * pre-token split without the byte-pair merge table (vocabulary-free, so
    * it stays a plan expression, not a model artifact). The pattern avoids
    * lookarounds/backreferences, and tokenizes identically under
    * java.util.regex (Spark) and RE2 (DuckDB) — verified on contraction,
    * hyphen, and whitespace-run cases. */
  val BpePattern = """'(?:s|t|re|ve|m|ll|d)|[a-z]+|[0-9]+|[^a-z0-9\s']+"""

  /** BPE-ish pre-tokens of lowercased text. Returns array<string>. */
  def bpeTokens(text: Column): Column =
    regexp_extract_all(lower(text), lit(BpePattern), lit(0))

  /** P15: canonical single-space re-join of the token stream; the
    * normalization the reference's `.mkString(" ")` produced
    * (`acq_etl_code.scala:44`). */
  def normalizedText(text: Column): Column = array_join(tokens(text), " ")

  /** P6/J7: stopword removal that PRESERVES duplicates and order (the
    * reference filters the token list, `acq_etl_code.scala:41` — it does not
    * set-subtract, so `array_except` would be wrong). The stopword set is a
    * plan-embedded IN-list: for dimension-sized lists this is the
    * broadcast-anti-join pattern with zero shuffle, and Catalyst's
    * OptimizeIn turns lists past the conversion threshold into a hashed
    * `InSet` — O(1) per token instead of a linear literal-array scan. */
  def removeStopwords(toks: Column, stopwords: Seq[String]): Column =
    filter(toks, t => !t.isInCollection(stopwords))

  /** Count of stopword OCCURRENCES (not distinct hits) in a token array. */
  def countStopwords(toks: Column, stopwords: Seq[String]): Column =
    size(filter(toks, t => t.isInCollection(stopwords)))

  /** M3: n-grams over a token array, joined with single spaces — the
    * `NGram` transformer's exact output shape (`acq_etl_code.scala:56-69`)
    * without its UDF. Guarded for short docs: `sequence(1, size-n+1)` would
    * count DOWN for size < n (Spark's sequence defaults to step -1), so the
    * guard is correctness, not just tidiness. */
  def ngrams(toks: Column, n: Int): Column = {
    require(n >= 1, s"ngram size must be >= 1, got $n")
    val grams = transform(
      sequence(lit(1), size(toks) - (n - 1)),
      i => concat_ws(" ", (0 until n).map(o => element_at(toks, i + o)): _*))
    when(size(toks) >= n, grams).otherwise(array().cast("array<string>"))
  }

  /** §2.5 set-op: distinct union of gram arrays — the reference's
    * `mergeArrays = (a++b).toSet.toSeq` UDF (`acq_etl_code.scala:63-69`)
    * replaced by chained built-in `array_union` (first-occurrence order;
    * downstream counting is order-insensitive, SURVEY §2.5). */
  def mergeGrams(grams: Column*): Column =
    grams.reduceLeft(array_union)

  // -------------------------------------------------------------------------
  // Corpus-level aggregations (A3/A4 relational core)
  // -------------------------------------------------------------------------

  /** A3 relational core: document frequency per token with [minDF, maxDF]
    * vocabulary pruning — what `CountVectorizer(minDF, maxDF)` computes
    * internally (`acq_etl_code.scala:73` — minDF=100, maxDF=20000;
    * `tgt_etl_code.scala:57` — minDF=500). `array_distinct` BEFORE the
    * explode keeps the shuffle at one row per (doc, distinct token), and the
    * grouped count is map-side partial. */
  def docFreq(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minDF: Long = 1L,
      maxDF: Long = Long.MaxValue): DataFrame =
    docs
      .select(explode(array_distinct(tokens(col(textCol)))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDF && col("df") <= maxDF)

  /** Term frequency per (doc, token) — the per-document half of A3. */
  def termFreq(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol), explode(tokens(col(textCol))).as("token"))
      .groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("tf"))

  /** A4: smoothed inverse document frequency, spark.ml `IDF` formula
    * `log((m+1)/(df+1))` (m = corpus size). Returns (token, df, idf). */
  def idf(docFreqDf: DataFrame, numDocs: Long): DataFrame =
    docFreqDf.withColumn(
      "idf", log((lit(numDocs.toDouble) + 1.0) / (col("df") + lit(1.0))))

  /** TF-IDF per (doc, token): termFreq ⋈ idf. The df/idf side is
    * vocabulary-sized ⇒ explicit broadcast; no fact×fact shuffle. The
    * corpus size m enters as a broadcast one-row scalar aggregate (the
    * `withClassWeights` pattern) — no eager action in the builder, the
    * whole operator stays one lazy plan. */
  def tfidf(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val m = docs.agg(count(lit(1)).cast("double").as("m"))
    val weights = docFreq(docs, idCol, textCol)
      .crossJoin(broadcast(m))
      .withColumn("idf", log((col("m") + 1.0) / (col("df") + 1.0)))
      .drop("m")
    termFreq(docs, idCol, textCol)
      .join(broadcast(weights), "token")
      .withColumn("tfidf", col("tf") * col("idf"))
  }

  /** CCNet-style distributional quality score: each document's average
    * negative log-likelihood under the CORPUS's own unigram distribution —
    * boilerplate and in-distribution text score low, junk (rare-token
    * soup) scores high; filtering on the score is the classic
    * perplexity-gate of web-corpus curation, here with the corpus itself
    * as the language model (no external LM artifact).
    *
    * Determinism design: a float `avg(-ln p)` would depend on Spark's
    * aggregation ORDER (float addition is not associative — a different
    * partitioning could flip the hash). Instead each DISTINCT token's
    * `-ln p(t) = ln(total) − ln(count_t)` is µ-quantized to an integer
    * ONCE on the vocabulary-sized side, then per-doc aggregation is an
    * exact integer `Σ tf_t·q_t DIV n_tok` — order-free, engine-exact,
    * hash-checkable. The vocabulary (token, q_t) frame broadcasts; the
    * corpus total enters as a scalar agg (no eager action).
    *
    * @return (idCol, n_tok, nll_q) — nll_q ≈ 10⁶ · avg(−ln p), integer */
  def unigramLogLoss(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tf = termFreq(docs, idCol, textCol) // (idCol, token, tf)
    val counts = docs
      .select(explode(tokens(col(textCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("c"))
    val total = counts.agg(sum(col("c")).as("total"))
    val vocabQ = counts.crossJoin(broadcast(total))
      .select(col("token"),
        floor(lit(1e6) * (log(col("total").cast("double")) - log(col("c").cast("double"))))
          .cast("long").as("q"))
    tf.join(broadcast(vocabQ), "token")
      .groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_tok"),
        sum(col("tf") * col("q")).as("sum_q"))
      .select(col(idCol), col("n_tok"),
        expr("sum_q DIV n_tok").as("nll_q"))
  }

  /** Tokenizer fertility per group: BPE-style subword units per
    * whitespace word — the standard tokenizer-quality diagnostic (a
    * merge table tuned for one language inflates the token bill of
    * another; fertility per language is what a token-budgeted corpus mix
    * actually pays). Exact integer ratio (`Σ units · 10⁶ DIV Σ words`) —
    * one map-side-partial hash agg, engine-exact. */
  def tokenizerFertility(
      docs: DataFrame,
      groupCol: String,
      textCol: String): DataFrame = {
    val words = size(split(trim(col(textCol)), "\\s+"))
    docs
      .filter(length(trim(col(textCol))) > 0)
      .select(col(groupCol),
        size(bpeTokens(col(textCol))).cast("long").as("n_units"),
        words.cast("long").as("n_words"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_units")).as("sum_units"),
        sum(col("n_words")).as("sum_words"))
      .withColumn("fertility_q", expr("(sum_units * 1000000) DIV sum_words"))
  }

  /** Per-document token-distribution entropy (lexical diversity):
    * H = Σ_t (tf/n)·ln(n/tf) over the doc's distinct tokens — boilerplate
    * and repetition-heavy docs score low, diverse prose high; a quality
    * signal orthogonal to [[unigramLogLoss]] (which scores against the
    * CORPUS distribution, not the doc's own).
    *
    * Determinism: each distinct token's contribution is µ-quantized to an
    * integer BEFORE the per-doc sum (`floor(10⁶·tf·(ln n − ln tf))`), so
    * the aggregation is exact integer addition — order-free and
    * hash-portable; the final DIV n normalizes. */
  def tokenEntropy(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    termFreq(docs, idCol, textCol)
      .withColumn("n", sum(col("tf")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col(idCol))))
      .withColumn("h_q",
        floor(lit(1e6) * col("tf") *
          (log(col("n").cast("double")) - log(col("tf").cast("double")))).cast("long"))
      .groupBy(col(idCol))
      .agg(first(col("n")).as("n_tok"),
        sum(col("h_q")).as("sum_h"))
      .select(col(idCol), col("n_tok"),
        expr("sum_h DIV n_tok").as("entropy_q"))

  // -------------------------------------------------------------------------
  // Per-document text analysis (north-star: quality / lang-id / fingerprint)
  // -------------------------------------------------------------------------

  /** Token-count statistics per document — pure projection, no shuffle. */
  def tokenStats(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val ts = tokens(col(textCol))
    docs.select(
      col(idCol),
      size(ts).cast("long").as("n_tokens"),
      size(array_distinct(ts)).cast("long").as("n_distinct"))
  }

  /** Document fingerprint: md5 of the canonical token stream — exact-dup
    * detection that ignores case/punctuation/whitespace drift. Deterministic
    * and engine-portable (md5 of UTF-8 bytes). */
  def fingerprint(text: Column): Column = md5(normalizedText(text))

  /** Repetition quality signal (the Gopher/C4 boilerplate rule family,
    * public): per document, how many word n-grams are duplicates and the
    * duplicate fraction — near-1 values mark boilerplate, spam, and
    * templated text for corpus filtering. Integer counts plus ONE exact
    * int-ratio double division (engine-portable bit-for-bit); pure
    * projection, no shuffle at any scale. Returns
    * struct(n_grams, dup_grams, dup_ratio). */
  def duplicateGramStats(text: Column, n: Int = 3): Column =
    // tokens MUST be let-bound before ngrams sees them: ngrams references
    // its input ~n times per gram position, and an unbound tokens(text)
    // would re-run the regex extraction at every reference (measured 12×
    // slower) — the [[letBound]] discipline
    letBound(tokens(text)) { ts =>
      letBound(ngrams(ts, n)) { gs =>
        val total = size(gs)
        val dups = total - size(array_distinct(gs))
        struct(
          total.cast("long").as("n_grams"),
          dups.cast("long").as("dup_grams"),
          when(total > 0, dups.cast("double") / total.cast("double"))
            .otherwise(lit(0.0)).as("dup_ratio"))
      }
    }

  /** Corpus-text canonicalization (the standard LLM preprocessing chain):
    * fold accents (NFD + strip combining marks — [[graft.expr.FoldAccents]],
    * ASCII fast path), lowercase, collapse whitespace runs, trim. Pure
    * projection, no shuffle; engine-portable (mirrors
    * `strip_accents`/`lower`/`regexp_replace` in SQL engines). Folding
    * happens BEFORE lowercasing so case-carrying accented letters fold
    * the same way in any engine's lower(). */
  def canonicalizeText(text: Column): Column =
    trim(regexp_replace(lower(graft.exprapi.foldAccents(text)), "\\s+", " "))

  /** PII scrub patterns — deliberately RE2-safe (character classes and
    * counted repeats only, no backrefs/lookaround) so the exact same
    * pattern strings run in Java regex and RE2-based engines. */
  val UrlPattern = "https?://[^ ]+"
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePattern = "\\+?[0-9][0-9()\\- ]{6,}[0-9]"

  /** PII masking for training corpora: URLs, emails, then phone-shaped
    * digit runs → typed placeholder tokens. Order matters (URLs can
    * contain digit runs and @-strings — scrub them first). Replacement is
    * redaction-in-place: surrounding text is untouched, so downstream
    * token statistics stay comparable. Pure projection. */
  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, UrlPattern, "[URL]"),
        EmailPattern, "[EMAIL]"),
      PhonePattern, "[PHONE]")

  /** Tiny function-word list for the heuristic scorers below. Public
    * English function words — the same idea as the reference's stopword
    * file (`acq_etl_code.scala:33`), inlined so the operator has no file
    * dependency. */
  val EnglishFunctionWords: Seq[String] =
    Seq("the", "a", "an", "of", "to", "and", "in", "is", "it", "that")

  /** Language-ID heuristic (north-star text analysis): per-mille of
    * function-word occurrences among tokens. Integer-valued arithmetic only
    * (`floor(1000*hits / n)` — exact in doubles at these magnitudes), so the
    * score is bit-identical on any engine. */
  def functionWordScore(toks: Column, stopwords: Seq[String] = EnglishFunctionWords): Column =
    when(size(toks) > 0,
      floor((countStopwords(toks, stopwords).cast("long") * 1000L) / size(toks)))
      .otherwise(0L).cast("long")

  /** Quality bucket from doc length — the length/stopword-ratio style
    * heuristic of LLM-corpus quality filters, as a deterministic CASE. */
  def qualityBucket(nTokens: Column): Column =
    when(nTokens >= 80, "long")
      .when(nTokens >= 40, "medium")
      .otherwise("short")

  /** The 30 most frequent English character bigrams (public frequency
    * tables — Norvig's Google-corpus counts). Basis of the char-n-gram
    * language-ID heuristic. */
  val EnglishCharBigrams: Seq[String] = Seq(
    "th", "he", "in", "er", "an", "re", "on", "at", "en", "nd",
    "ti", "es", "or", "te", "of", "ed", "is", "it", "al", "ar",
    "st", "to", "nt", "ng", "se", "ha", "as", "ou", "io", "le")

  /** BM25 ranking (Robertson's probabilistic relevance, the default lexical
    * retrieval scorer) for a FIXED query-term list — the serving shape: a
    * query is a handful of terms, the corpus is the big side.
    *
    * One corpus pass computes N, Σlen, and every term's document frequency
    * in a single map-side-partial aggregate whose 1-row result broadcasts
    * back; scoring is then a pure projection (tf via `size − size∘
    * array_remove` — native collection ops, no interpreted lambda in the
    * per-term hot path). Per-term scores are summed in FIXED list order,
    * so given identical IEEE sequencing the double is engine-reproducible
    * (callers wanting a hash-stable artifact quantize, e.g.
    * `floor(bm25·10⁶)` — the one residual wobble is `ln`'s last ulp, which
    * quantization makes a ~10⁻¹⁰ tail risk, not a float-sum lottery).
    * Appends `bm25` to (idCol): every doc scored, zero for term-free docs. */
  def bm25(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      terms: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty && terms.size <= 16,
      s"bm25 wants 1..16 query terms, got ${terms.size}")
    require(terms.distinct.size == terms.size, s"duplicate query terms: $terms")
    val toksed = docs.select(col(idCol), tokens(col(textCol)).as("ts"))
    val statAggs = Seq(
      count(lit(1)).cast("double").as("n_docs"),
      sum(size(col("ts"))).cast("double").as("sum_len")) ++
      terms.zipWithIndex.map { case (t, i) =>
        sum(array_contains(col("ts"), t).cast("long")).cast("double").as(s"df_$i")
      }
    val stats = toksed.agg(statAggs.head, statAggs.tail: _*)

    val len = size(col("ts")).cast("double")
    val avgLen = col("sum_len") / col("n_docs")
    val score = terms.zipWithIndex.map { case (t, i) =>
      val tf = (size(col("ts")) - size(array_remove(col("ts"), t))).cast("double")
      val df = col(s"df_$i")
      val idf = log(lit(1.0) + (col("n_docs") - df + 0.5) / (df + 0.5))
      idf * (tf * lit(k1 + 1.0)) /
        (tf + lit(k1) * (lit(1.0 - b) + lit(b) * len / avgLen))
    }.reduceLeft(_ + _)
    toksed.crossJoin(broadcast(stats)).select(col(idCol), score.as("bm25"))
  }

  /** Let-binding idiom for HOF columns: binds `v` (evaluated ONCE per row)
    * to a lambda variable, because a Scala `val` holding a Column only
    * shares the expression TREE — a lambda body that references an
    * expensive subtree re-evaluates it per array element (a 1500-char doc
    * re-tokenized 1500 times; benched 23 s on 5000 docs before this). */
  private def letBound(v: Column)(body: Column => Column): Column =
    element_at(transform(array(v), body), 1)

  /** Language-ID n-gram heuristic: per-mille of character bigrams of the
    * canonical text that are top-English bigrams. Same integer-arithmetic
    * portability contract as [[functionWordScore]]; the bigram membership
    * is an IN-list (hashed `InSet`). Character n-grams catch languages that
    * share function words or have none in the list — the standard
    * complement to word-level scoring. */
  def englishBigramScore(text: Column): Column =
    letBound(normalizedText(text)) { s =>
      val bigrams = transform(sequence(lit(1), length(s) - 1), i => s.substr(i, lit(2)))
      val hits = size(filter(bigrams, b => b.isInCollection(EnglishCharBigrams)))
      // guard: sequence(1, n) counts DOWN for n < 1 (step -1 default)
      when(length(s) >= 2,
        floor((hits.cast("long") * 1000L) / (length(s) - 1).cast("long")))
        .otherwise(0L)
    }.cast("long")

  /** Winnowing fingerprints (Schleimer–Wilkerson–Aiken, SIGMOD '03 — the
    * MOSS scheme): hash every k-gram of the canonical text, keep the
    * minimum hash of every sliding window of w consecutive k-gram hashes,
    * distinct the kept set. Guarantee: two documents sharing ANY substring
    * of length ≥ k+w−1 share at least one fingerprint; density is ~2/(w+1)
    * of positions. This is the rolling-hash fingerprinting scheme of the
    * north-star text-analysis set, in its engine-portable form (60-bit md5
    * slices — the hash family of [[graft.expr.PortableMinHash]]); for
    * the O(n) native rolling-hash path see [[graft.expr.WinnowFingerprints]].
    *
    * The normalized text and the k-gram hash array are let-bound (see
    * [[letBound]]) so each evaluates once per row, not once per position —
    * still interpreted-HOF work (~O(n·w) per doc), so at corpus scale
    * prefer the relational window formulation (q35 in SparkEntry: explode
    * positions → codegen substr+md5 → window-frame min) or the native
    * expression. */
  def winnowFingerprints(text: Column, k: Int = 8, w: Int = 4): Column = {
    require(k >= 2 && w >= 1, s"need k >= 2, w >= 1; got k=$k, w=$w")
    letBound(normalizedText(text)) { s =>
      val hsExpr = transform(
        sequence(lit(1), length(s) - (k - 1)),
        i => conv(substring(md5(s.substr(i, lit(k))), 1, 15), 16, 10).cast("long"))
      letBound(hsExpr) { hs =>
        val mins = transform(
          sequence(lit(1), size(hs) - (w - 1)),
          i => array_min(slice(hs, i, lit(w))))
        when(length(s) >= k + w - 1, array_distinct(mins))
          .otherwise(array().cast("array<long>"))
      }
    }
  }

  /** The curation FUNNEL end-to-end (C4/Gopher-style gate chain over a
    * corpus, first-fail labeled): language gate ([[englishBigramScore]]
    * ≥ 80) → quality gate (≥ 40 tokens, punct per-mille ≤ 300) →
    * exact-dup survivor ([[fingerprint]], min-id keeps) → benchmark
    * decontamination ([[graft.llm.Dedup.contaminationReport]], 4-gram
    * overlap vs `bench`). Returns one row per corpus document:
    * `(doc_id, bg_score, n_tokens, punct_score, verdict)` with verdict ∈
    * kept | lang | quality | dup | contaminated — the FIRST failing gate.
    *
    * Stage economics at 100 TB: the per-row projections (lang/quality)
    * prune before the fingerprint group-by shuffles, which prunes before
    * the gram explode — each expensive stage sees only the previous
    * stage's survivors, and the expensive members (dup group-by, gram
    * join) are computed ONLY over those survivor sets. */
  def curationFunnel(corpus: DataFrame, bench: DataFrame): DataFrame = {
    val ts = tokens(col("text"))
    val nPunct = size(regexp_extract_all(col("text"),
      lit("[^a-zA-Z0-9\\s]"), lit(0)))
    // four consumers branch off this frame (quality filter, dup group-by,
    // contamination corpus, final verdict assembly) and the bigram-score
    // HOF is the dominant per-row cost — cache once or pay it per branch
    val scored = corpus.select(
      col("doc_id"), col("text"),
      englishBigramScore(col("text")).as("bg_score"),
      size(ts).cast("long").as("n_tokens"),
      when(length(col("text")) > 0,
        floor((nPunct.cast("long") * 1000L) / length(col("text")).cast("long")))
        .otherwise(0L).cast("long").as("punct_score"),
      fingerprint(col("text")).as("fp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val qualOk = scored.filter(col("bg_score") >= 80 &&
      col("n_tokens") >= 40 && col("punct_score") <= 300)
    // per-fp min via ONE fp-partitioned window instead of groupBy + join:
    // the join ran twice (dupLoser and dupOk legs), costing four shuffle
    // legs over the survivor set; the window costs one per leg and fp
    // groups are dup-cluster-sized, never skewed hot (r15, guide §2.4).
    // fp is md5(text) and qualOk implies non-null text, so NULL-key
    // semantics cannot diverge from the inner join this replaces.
    val dupMarked = qualOk.withColumn("min_doc",
      min(col("doc_id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))))
    val dupLoser = dupMarked
      .filter(col("doc_id") =!= col("min_doc"))
      .select(col("doc_id"), lit(1).as("is_dup"))
    val dupOk = dupMarked
      .filter(col("doc_id") === col("min_doc"))
      .select(col("doc_id"), col("text"))
    val contam = graft.llm.Dedup.contaminationReport(dupOk, bench,
        "doc_id", "text", n = 4)
      .select(col("doc_id"), lit(1).as("is_cont"))
    scored
      .join(dupLoser, Seq("doc_id"), "left_outer")
      .join(contam, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("bg_score"), col("n_tokens"),
        col("punct_score"),
        when(col("bg_score") < 80, "lang")
          .when(col("n_tokens") < 40 || col("punct_score") > 300, "quality")
          .when(col("is_dup") === 1, "dup")
          .when(col("is_cont") === 1, "contaminated")
          .otherwise("kept").as("verdict"))
  }

  /** IR phrase query over positional postings: documents containing the
    * exact token sequence `phrase`, with per-doc occurrence counts. Each
    * term's postings are position-shifted so a phrase hit is a plain
    * equi-join on (doc, aligned position) — the classic positional-index
    * intersection, no string re-scan, no LIKE. Scale: postings are
    * filtered to the phrase terms BEFORE any shuffle (selective terms ⇒
    * tiny join inputs), every join keys on (doc, pos) so the chain
    * co-partitions after the first exchange, and cost is driven by the
    * rarest term's postings size — the standard merge order a production
    * engine would pick. */
  def phraseSearch(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      phrase: Seq[String]): DataFrame = {
    require(phrase.size >= 2, "phraseSearch needs at least two tokens")
    val toks = docs.select(col(idCol),
      posexplode(tokens(col(textCol))).as(Seq("pos", "tok")))
    phrase.zipWithIndex
      .map { case (w, i) =>
        toks.filter(col("tok") === w)
          .select(col(idCol), (col("pos") - i).as("p0"))
      }
      .reduce((a, b) => a.join(b, Seq(idCol, "p0")))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_matches"))
  }

  /** Flesch-style readability signals, integer-exact: word count
    * (alnum runs), sentence count ([.!?]+ runs, floored at 1 so headlines
    * don't divide by zero), syllable estimate (vowel-group runs — the
    * standard public heuristic), and a milli-scaled reading-ease score
    *
    *   score_m = 206835 − (1015·words) div sentences
    *                    − (84600·syllables) div words
    *
    * computed entirely in BIGINT (all three terms non-negative, so
    * truncating DIV and floor-div agree across engines — the q89
    * discipline). NULL score for wordless docs. A training-data quality
    * gate alongside [[duplicateGramStats]] / [[englishBigramScore]]:
    * grade-level filtering of crawl text without a float in sight. */
  def readabilityStats(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
        col(idCol),
        size(regexp_extract_all(lower(col(textCol)), lit("[a-z0-9]+"), lit(0)))
          .cast("bigint").as("words"),
        greatest(lit(1L),
          size(regexp_extract_all(col(textCol), lit("[.!?]+"), lit(0))).cast("bigint"))
          .as("sentences"),
        size(regexp_extract_all(lower(col(textCol)), lit("[aeiouy]+"), lit(0)))
          .cast("bigint").as("syllables"))
      .withColumn("score_m",
        when(col("words") > 0,
          lit(206835L) - expr("(1015 * words) div sentences")
            - expr("(84600 * syllables) div words")))
}
