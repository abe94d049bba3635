package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.text.TextOps

/** Near-duplicate detection for LLM-corpus curation (north-star component;
  * SURVEY.md §7.3): MinHash signatures → LSH band bucketing → candidate
  * pairs → exact n-gram-Jaccard verification, all without ever forming the
  * all-pairs product.
  *
  * Scale design (the whole point at 100 TB):
  *   - Signatures are per-document projections (no shuffle).
  *   - The ONLY join key is the (band_id, band-bucket-hash) pair — docs
  *     meet iff they collide in at least one band, so the shuffle carries
  *     b rows per doc and the pair space is Σ bucket² instead of n².
  *   - Exact Jaccard runs on candidates only (≪ n² by the LSH bound).
  *   - A popular bucket (boilerplate collisions) is quadratic in its OWN
  *     size only; `maxBucketSize` drops degenerate buckets with a declared
  *     semantic ("boilerplate clusters larger than B are handled by exact
  *     dedup upstream, not pairwise").
  */
object Dedup {

  /** w-shingles over the canonical token stream (SURVEY A2 generalized —
    * `mergers_acquisitions_code/acq_etl_code.scala:96-100`'s `distinct` was
    * the exact-dup form; shingling is its near-dup generalization). Uses the
    * native [[graft.expr.WordShingles]] expression — same output as
    * `TextOps.ngrams`, ~20× faster (HOF lambdas evaluate interpreted). */
  def shingles(text: Column, w: Int = 3): Column =
    graft.exprapi.wordShingles(TextOps.tokens(text), w)

  /** MinHash signature as k independent minima of 60-bit md5 slices —
    * `array<long>`, reproducible in any engine with md5 (the native
    * [[graft.expr.PortableMinHash]] kernel; see it for the hash family and
    * its DuckDB form). For the throughput path see
    * [[graft.expr.MinHashSignature]] (one xxhash64 pass per shingle instead
    * of ⌈k/2⌉ md5 digests). */
  def minhashSignatureMd5(shingleCol: Column, k: Int): Column =
    graft.exprapi.portableMinHash(shingleCol, k)

  /** LSH banding: split the k-row signature into `bands` bands of r rows,
    * hash each band to one bucket id. Emits (id, band_id, bucket) — b rows
    * per doc; `idCol` is a key (one signature per input row). Docs with
    * fewer than `w` tokens have no shingles and are excluded (they cannot
    * near-dup by this measure; exact dedup covers them).
    *
    * A projection: the signature is one [[minhashSignatureMd5]] call per
    * doc, and the bands come from one explode over it, so no exchange
    * runs before [[candidatePairs]]'s bucket aggregate. The earlier shape
    * exploded the shingles, hashed each in k md5 columns and took a
    * `groupBy(id)` min: in q43 at sf0.01 (local[4], five warm runs) its
    * one-task scan-and-hash stage ran 84–87 ms of executor time against
    * 27–41 ms for this one, and its min shuffle was a Spark job of its
    * own (q43: 10 → 9 jobs). A doc with no shingle has null minima,
    * and the explode's null input drops it without a filter (a filter on
    * the signature would be pushed below the projection and hash every
    * doc twice). */
  def bandBuckets(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 6,
      bands: Int = 3,
      shingleWidth: Int = 3): DataFrame = {
    require(numHashes % bands == 0, s"bands=$bands must divide numHashes=$numHashes")
    val r = numHashes / bands
    val sig = col("sig")
    // one (band_id, bucket) struct per band, bucket = md5 of the band's r
    // signature rows joined with '|'
    val rows = array((1 to bands).map { b =>
      struct(lit(b).as("band_id"), md5(concat_ws("|",
        ((b - 1) * r until b * r).map(j => sig(j).cast("string")): _*)).as("bucket"))
    }: _*)
    docs
      .select(col(idCol),
        minhashSignatureMd5(shingles(col(textCol), shingleWidth), numHashes).as("sig"))
      .select(col(idCol), explode(when(sig(0).isNotNull, rows)).as("b"))
      .select(col(idCol), col("b.band_id"), col("b.bucket"))
  }

  /** Candidate near-dup pairs: docs sharing ≥1 band bucket, each pair once
    * (a < b). `maxBucketSize` guards the quadratic blow-up of degenerate
    * boilerplate buckets — dropped buckets are a declared semantic, not a
    * silent cap ("clusters larger than B are exact-dup territory, handled
    * upstream"), and the default keeps every bucket at the tested SFs.
    *
    * Shape: ONE aggregation to (band, bucket) → sorted id list → pairs
    * emitted per bucket row. The obvious self-join formulation computes the
    * whole signature subtree twice (plan audit at sf0.01: 2 scans, no
    * exchange reuse even under AQE) — grouping first halves the dominant
    * cost and drops the join and the bucket-size window outright. Pair
    * expansion is per-bucket-local (≤ maxBucketSize² structs per row, which
    * the cap bounds), so output stays Σ bucket², never n². */
  def candidatePairs(
      buckets: DataFrame,
      idCol: String,
      maxBucketSize: Int = 1000): DataFrame = {
    val grouped = buckets
      .groupBy(col("band_id"), col("bucket"))
      .agg(sort_array(collect_list(col(idCol))).as("ids"))
      .filter(size(col("ids")) >= 2 && size(col("ids")) <= maxBucketSize)
    // all (i < j) pairs of the sorted id list; buckets are near-always tiny,
    // so the interpreted HOF here is off the hot path by construction
    val pairs = flatten(transform(
      sequence(lit(1), size(col("ids")) - 1),
      i => transform(
        sequence(i + 1, size(col("ids"))),
        j => struct(
          element_at(col("ids"), i).as("a_doc"),
          element_at(col("ids"), j).as("b_doc")))))
    grouped
      .select(explode(pairs).as("p"))
      .select(col("p.a_doc"), col("p.b_doc"))
      .distinct()
  }

  /** Throughput-path banding using the native [[graft.expr.MinHashSignature]]
    * expression (two xxhash64 per shingle + k multiply-adds, vs k md5
    * digests in the portable form) and `xxhash64` band bucketing. Same LSH
    * structure and guarantees as [[bandBuckets]]; signatures are long-typed
    * so this path is NOT oracle-portable — it's the one to run at 100 TB. */
  def bandBucketsFast(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 8,
      bands: Int = 4,
      shingleWidth: Int = 3): DataFrame = {
    require(numHashes % bands == 0, s"bands=$bands must divide numHashes=$numHashes")
    val r = numHashes / bands
    docs
      // cheap pre-filter on token count — filtering on size(sh) AFTER the
      // projection makes predicate pushdown substitute the alias and
      // re-evaluate the shingling per row (benched ~2x)
      .filter(size(graft.text.TextOps.tokens(col(textCol))) >= shingleWidth)
      .select(col(idCol), shingles(col(textCol), shingleWidth).as("sh"))
      .select(col(idCol), graft.exprapi.minhashSig(col("sh"), numHashes).as("sig"))
      .select(col(idCol), explode(sequence(lit(1), lit(bands))).as("band_id"), col("sig"))
      .select(col(idCol), col("band_id"),
        xxhash64(col("band_id") +:
          (0 until r).map(o => element_at(col("sig"), (col("band_id") - 1) * r + o + 1)): _*)
          .as("bucket"))
  }

  /** Exact n-gram Jaccard verification of a candidate pair set:
    * J(A,B) = |A∩B| / |A∪B| over distinct shingle sets, computed ONLY for
    * docs that appear in a candidate pair — the semi-join prune keeps this
    * stage proportional to |candidates|, not |corpus| (at 100 TB
    * candidates are orders of magnitude smaller). Returns
    * (a_doc, b_doc, jaccard) for pairs with jaccard ≥ threshold. */
  /** Exact shingle-set overlap COUNTS per candidate pair — the integer
    * core [[jaccardVerify]] divides and the threshold-sweep family
    * (q412) cross-multiplies: (a_doc, b_doc, inter, uni). Same
    * candidates-only scale shape (sets built for candidate ids via a
    * left-semi, never the corpus). */
  def jaccardCounts(
      docs: DataFrame,
      cands: DataFrame, // (a_doc, b_doc)
      idCol: String,
      textCol: String,
      shingleWidth: Int = 3): DataFrame = {
    val candIds = cands.select(col("a_doc").as(idCol))
      .union(cands.select(col("b_doc").as(idCol)))
      .distinct()
    // NOT checkpointed (r14 measured): the two pair-side reads of this
    // frame share one exchange (both hash-partition the identical
    // subtree on idCol, so ReuseExchange dedups them at runtime) — an
    // eager materialization here re-ran 2× SLOWER on q45 (the bench's
    // own adjudicator flagged it "regressed"; reverted same round).
    val sets = docs
      .join(candIds, Seq(idCol), "left_semi")
      .select(col(idCol), array_distinct(shingles(col(textCol), shingleWidth)).as("sset"))
    cands
      .join(sets.select(col(idCol).as("a_doc"), col("sset").as("a_set")), "a_doc")
      .join(sets.select(col(idCol).as("b_doc"), col("sset").as("b_set")), "b_doc")
      .select(col("a_doc"), col("b_doc"),
        size(array_intersect(col("a_set"), col("b_set"))).cast("long")
          .as("inter"),
        size(array_union(col("a_set"), col("b_set"))).cast("long")
          .as("uni"))
  }

  def jaccardVerify(
      docs: DataFrame,
      cands: DataFrame, // (a_doc, b_doc)
      idCol: String,
      textCol: String,
      threshold: Double,
      shingleWidth: Int = 3): DataFrame =
    jaccardCounts(docs, cands, idCol, textCol, shingleWidth)
      .withColumn("jaccard",
        col("inter").cast("double") / col("uni"))
      .filter(col("jaccard") >= threshold)
      .select(col("a_doc"), col("b_doc"), col("jaccard"))

  /** End-to-end near-dup pairs: fast-path LSH candidates + exact Jaccard
    * verification ([[jaccardVerify]]). */
  def nearDupPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.7,
      numHashes: Int = 8,
      bands: Int = 4,
      shingleWidth: Int = 3): DataFrame = {
    // The candidate set is re-read three times in the verify stage (id
    // prune ×2 + the verify join). It is orders of magnitude smaller than
    // the corpus, so persisting it — rather than recomputing the whole LSH
    // pipeline per use — is the correct call at any scale (ContextCleaner
    // evicts the block once the frame is unreachable).
    val cands = candidatePairs(
      bandBucketsFast(docs, idCol, textCol, numHashes, bands, shingleWidth), idCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    jaccardVerify(docs, cands, idCol, textCol, threshold, shingleWidth)
  }

  /** SimHash near-duplicate pairs (north-star dedup family, third method
    * next to exact fingerprints and MinHash-LSH): one 64-bit sketch per
    * doc over its w-shingles, banded into `bands` equal bit-slices for
    * candidate generation, exact hamming verify on candidates only.
    *
    * Guarantee (pigeonhole, Manku et al. WWW'07): two sketches within
    * hamming distance `hamMax` < `bands` agree exactly on at least one
    * band, so every true pair surfaces as a candidate — this is an EXACT
    * hamming-threshold join, not a probabilistic one (enforced by the
    * `require`). Scale shape: `bands` rows per doc, pair space
    * Σ bucket² per band — never n². The bucket space per band is
    * 2^(64/bands); at corpus sizes where n ≫ 2^(64/bands) the buckets
    * saturate and the move is Manku's: more tables over bit-permutations
    * of the sketch (wider effective prefixes), not wider bands. */
  def simhashDups(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      hamMax: Int = 3,
      bands: Int = 4,
      shingleWidth: Int = 3,
      maxBucketSize: Int = 10000): DataFrame =
    simhashDupsWithDiagnostics(
      docs, idCol, textCol, hamMax, bands, shingleWidth, maxBucketSize)._1

  /** [[simhashDups]] plus a lazy diagnostics frame of the buckets the
    * saturation guard dropped — `(band, key, bucket_size)` for every
    * bucket above `maxBucketSize`. The hamming-threshold join is exact
    * only while this frame is empty; counting it makes recall loss at
    * bucket saturation observable instead of silent, with no eager
    * action in the builder (the caller pays only if it executes the
    * diagnostics side). */
  def simhashDupsWithDiagnostics(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      hamMax: Int = 3,
      bands: Int = 4,
      shingleWidth: Int = 3,
      maxBucketSize: Int = 10000): (DataFrame, DataFrame) =
    hamming64DupsWithDiagnostics(
      simhashSignatures(docs, idCol, textCol, shingleWidth),
      idCol, "sig", hamMax, bands, maxBucketSize)

  /** The sketch half of [[simhashDups]] on its own: `(idCol, sig)` with
    * `sig` the 64-bit SimHash of the doc's `shingleWidth`-word shingles.
    * Split out so the engine-local hash family can be PERSISTED and the
    * portable serve half ([[hamming64Dups]] — banding, bucket grouping,
    * exact hamming verify) replayed by an independent engine over the
    * stored bits (the q24/q25/q94 fit/serve oracle pattern). Docs with
    * fewer than `shingleWidth` tokens have no shingles and are excluded
    * up front (visible, never hashed-as-empty). */
  def simhashSignatures(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleWidth: Int = 3): DataFrame =
    docs
      .filter(size(TextOps.tokens(col(textCol))) >= shingleWidth)
      .select(col(idCol),
        graft.exprapi.simhash64(shingles(col(textCol), shingleWidth)).as("sig"))

  /** [[hamming64DupsWithDiagnostics]] pairs-only — the serve half over
    * persisted signatures when the caller does not consume the
    * dropped-bucket diagnostics frame. */
  def hamming64Dups(
      sigs: DataFrame,
      idCol: String,
      sigCol: String,
      hamMax: Int,
      bands: Int,
      maxBucketSize: Int = 10000): DataFrame =
    hamming64DupsWithDiagnostics(
      sigs, idCol, sigCol, hamMax, bands, maxBucketSize)._1

  /** Banded-hamming near-duplicate join over PRECOMPUTED 64-bit
    * signatures — the LSH machinery behind [[simhashDups]] factored over
    * any fingerprint family with the same contract: items within
    * `hamMax` bits share at least one of `bands` equal slices verbatim
    * (pigeonhole, exact while no bucket saturates), so candidate
    * generation is a bucket group-then-expand, never an all-pairs join.
    * Feeds from [[graft.exprapi.simhash64]] (text),
    * [[graft.exprapi.dhash64]] (images — see
    * [[graft.multimodal.Multimodal.imageNearDups]]), or any other 64-bit
    * sketch. Returns (pairs with exact hamming ≤ hamMax, dropped-bucket
    * diagnostics). */
  def hamming64DupsWithDiagnostics(
      sigs: DataFrame,
      idCol: String,
      sigCol: String,
      hamMax: Int,
      bands: Int,
      maxBucketSize: Int): (DataFrame, DataFrame) = {
    require(bands >= 1 && bands <= 64 && 64 % bands == 0,
      s"bands must divide 64 (got $bands) — a 64-bit sketch slices into " +
        "1/2/4/8/16/32/64 equal bands; anything else truncates key bits " +
        "or degenerates every doc into one bucket")
    require(hamMax < bands,
      s"hamming guarantee needs hamMax < bands (got $hamMax >= $bands)")
    val width = 64 / bands
    val mask = if (width == 64) -1L else (1L << width) - 1L
    val banded = sigs.select(col(idCol), col(sigCol).as("sig"),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          shiftrightunsigned(col(sigCol), b * width).bitwiseAND(lit(mask))
            .as("key"))): _*)).as("bk"))
      .select(col(idCol), col("sig"), col("bk.band").as("band"),
        col("bk.key").as("key"))
    // group-then-expand, NOT a self-join: a self-join would evaluate the
    // whole tokenize+shingle+simhash subtree twice (2 corpus scans, no
    // exchange reuse even under AQE — same audit finding as
    // [[candidatePairs]]). Buckets above `maxBucketSize` are dropped as a
    // saturation guard (a 2^(64/bands) key space can fill at extreme
    // corpus sizes — that's the cue for Manku-style extra permutation
    // tables, not a quadratic in-bucket expansion) and reported on the
    // diagnostics side; below that, exactness is the pigeonhole
    // guarantee above.
    val allBuckets = banded
      .groupBy(col("band"), col("key"))
      .agg(sort_array(collect_list(struct(col(idCol).as("id"), col("sig"))))
        .as("members"))
    val dropped = allBuckets
      .filter(size(col("members")) > maxBucketSize)
      .select(col("band"), col("key"), size(col("members")).as("bucket_size"))
    val grouped = allBuckets
      .filter(size(col("members")) >= 2 && size(col("members")) <= maxBucketSize)
    val pairs = flatten(transform(
      sequence(lit(1), size(col("members")) - 1),
      i => transform(
        sequence(i + 1, size(col("members"))),
        j => struct(
          element_at(col("members"), i)("id").as("id_a"),
          element_at(col("members"), i)("sig").as("sig_a"),
          element_at(col("members"), j)("id").as("id_b"),
          element_at(col("members"), j)("sig").as("sig_b")))))
    val dups = grouped
      .select(explode(pairs).as("p"))
      .select(col("p.id_a"), col("p.id_b"), col("p.sig_a"), col("p.sig_b"))
      .distinct()
      .withColumn("hamming",
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("int"))
      .filter(col("hamming") <= hamMax)
      .select(col("id_a"), col("id_b"), col("hamming"))
    (dups, dropped)
  }

  /** CROSS-SET banded-hamming near-duplicate join — the two-corpus form
    * of [[hamming64Dups]] (train×eval decontamination, new-batch×index
    * ingestion dedup): left and right signature frames band
    * independently, candidates come from the (band, key) equi-join —
    * never an all-pairs product — and exact hamming verifies ≤ `hamMax`.
    * Same pigeonhole contract as the single-set form: a cross pair
    * within `hamMax` bits shares at least one of `bands` slices
    * verbatim. The right side's per-(band, key) fan-out is capped at
    * `maxRightPerKey` (md5-order — deterministic, and a saturated key is
    * boilerplate by construction), bounding per-left-row work the way
    * [[cappedPostings]] bounds anchor routing; at production scale the
    * small side (eval set, day batch) goes RIGHT so the equi-join can
    * broadcast it. Returns (leftId, rightId, hamming) distinct pairs. */
  def hamming64CrossDups(
      left: DataFrame,
      leftId: String,
      right: DataFrame,
      rightId: String,
      sigCol: String,
      hamMax: Int,
      bands: Int,
      maxRightPerKey: Int = 10000): DataFrame = {
    require(bands >= 1 && bands <= 64 && 64 % bands == 0,
      s"bands must divide 64 (got $bands)")
    require(hamMax < bands,
      s"hamming guarantee needs hamMax < bands (got $hamMax >= $bands)")
    val width = 64 / bands
    val mask = if (width == 64) -1L else (1L << width) - 1L
    def banded(df: DataFrame, id: String, as: String): DataFrame =
      df.select(col(id).as(as), col(sigCol).as(s"${as}_sig"),
        explode(array((0 until bands).map(b =>
          struct(lit(b).as("band"),
            shiftrightunsigned(col(sigCol), b * width).bitwiseAND(lit(mask))
              .as("key"))): _*)).as("bk"))
        .select(col(as), col(s"${as}_sig"),
          col("bk.band").as("band"), col("bk.key").as("key"))
    val l = banded(left, leftId, "_lid")
    val wCap = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("key"))
      .orderBy(md5(concat_ws("|", col("_rid").cast("string"),
        col("_rid_sig").cast("string"))))
    val r = banded(right, rightId, "_rid")
      .withColumn("_rk", row_number().over(wCap))
      .filter(col("_rk") <= maxRightPerKey)
      .drop("_rk")
    l.join(r, Seq("band", "key"))
      .select(col("_lid"), col("_rid"),
        bit_count(col("_lid_sig").bitwiseXOR(col("_rid_sig"))).cast("int")
          .as("hamming"))
      .filter(col("hamming") <= hamMax)
      .distinct()
      .select(col("_lid").as(leftId), col("_rid").as(rightId),
        col("hamming"))
  }

  /** PERSISTED banded-hamming INDEX — the serving layout that makes
    * cross-set probes partition-pruned at 100 TB (the hamming analogue
    * of the IVF cell layout `Similarity.writeIvfIndex` uses): each
    * signature explodes into its `bands` (band, key) slices and lands
    * hive-partitioned by `(band, kb = key mod kbBuckets)`. A probe
    * batch's keys hash into a BOUNDED set of (band, kb) directories —
    * ≤ bands·kbBuckets regardless of index size — so
    * [[probeHammingIndex]] reads only those, never the whole index.
    * Write cost is bands× the signature volume (8 longs per asset at
    * the default), the classic read-optimized trade. */
  def writeHammingIndex(
      sigs: DataFrame,
      idCol: String,
      sigCol: String,
      path: String,
      bands: Int = 8,
      kbBuckets: Int = 64): Unit = {
    require(bands >= 1 && bands <= 64 && 64 % bands == 0,
      s"bands must divide 64 (got $bands)")
    require(kbBuckets > 0, s"kbBuckets must be > 0, got $kbBuckets")
    val width = 64 / bands
    val mask = if (width == 64) -1L else (1L << width) - 1L
    sigs.select(col(idCol).as("id"), col(sigCol).as("sig"),
        explode(array((0 until bands).map(b =>
          struct(lit(b).as("band"),
            shiftrightunsigned(col(sigCol), b * width).bitwiseAND(lit(mask))
              .as("key"))): _*)).as("bk"))
      .select(col("id"), col("sig"), col("bk.band").as("band"),
        col("bk.key").as("key"))
      .withColumn("kb", pmod(col("key"), lit(kbBuckets.toLong)).cast("int"))
      // shuffle onto the partition columns BEFORE the hive write: each
      // (band, kb) directory then gets exactly ONE file from one task —
      // without this, every task holding any rows of a directory writes
      // its own fragment (tasks × dirs small files, the classic
      // dynamic-partition-write explosion)
      .repartition(col("band"), col("kb"))
      .write.mode("overwrite").partitionBy("band", "kb").parquet(path)
    // Layout contract travels WITH the index (round-13 ADVICE): a probe
    // run with different (bands, kbBuckets) than the index was written
    // with computes different keys/kb and silently returns INCOMPLETE
    // pairs — a correctness hole, not a perf one. The marker is a tiny
    // driver-side file; probeHammingIndex validates it before scanning.
    writeHammingMeta(sigs.sparkSession, path, bands, kbBuckets)
  }

  private def metaPath(indexPath: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(indexPath, "_graft_hamming_meta")

  private def writeHammingMeta(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String, bands: Int, kbBuckets: Int): Unit = {
    val p = metaPath(indexPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(s"bands=$bands\nkbBuckets=$kbBuckets\n"
      .getBytes("UTF-8"))
    finally out.close()
  }

  /** Reads the layout marker [[writeHammingIndex]] persists next to the
    * index; None for pre-marker indexes (probe then proceeds on the
    * caller's word, the old behavior). */
  private def readHammingMeta(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String): Option[(Int, Int)] = {
    val p = metaPath(indexPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val txt =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val kv = txt.linesIterator.flatMap { l =>
        l.split("=", 2) match {
          case Array(k, v) => Some(k.trim -> v.trim.toInt)
          case _ => None
        }
      }.toMap
      for (b <- kv.get("bands"); k <- kv.get("kbBuckets")) yield (b, k)
    }
  }

  /** Partition-pruned probe against a [[writeHammingIndex]] layout:
    * the query batch bands, its distinct `kb` buckets collect to the
    * driver (≤ kbBuckets ints — bounded by the LAYOUT, not the data),
    * the scan filters to those `kb=` directories (partition pruning —
    * unmatched dirs are never listed), and candidates come from the
    * (band, key) equi-join with the exact-hamming verify. Returns
    * distinct (qIdCol, id, hamming ≤ hamMax) pairs — identical results
    * to [[hamming64CrossDups]] against the unexploded signatures, at
    * a fraction of the index bytes read (DedupSpec pins both). */
  def probeHammingIndex(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      queries: DataFrame,
      qIdCol: String,
      sigCol: String,
      hamMax: Int,
      bands: Int = 8,
      kbBuckets: Int = 64): DataFrame = {
    require(hamMax < bands,
      s"hamming guarantee needs hamMax < bands (got $hamMax >= $bands)")
    require(bands >= 1 && bands <= 64 && 64 % bands == 0,
      s"bands must divide 64 (got $bands)")
    require(kbBuckets > 0, s"kbBuckets must be > 0, got $kbBuckets")
    readHammingMeta(spark, indexPath).foreach { case (ib, ikb) =>
      require(ib == bands && ikb == kbBuckets,
        s"probe layout (bands=$bands, kbBuckets=$kbBuckets) does not " +
          s"match the index at $indexPath (bands=$ib, kbBuckets=$ikb) — " +
          "a mismatched probe computes different band keys and silently " +
          "returns incomplete pairs")
    }
    val width = 64 / bands
    val mask = if (width == 64) -1L else (1L << width) - 1L
    val qb = queries.select(col(qIdCol).as("_qid"),
        col(sigCol).as("_qsig"),
        explode(array((0 until bands).map(b =>
          struct(lit(b).as("band"),
            shiftrightunsigned(col(sigCol), b * width).bitwiseAND(lit(mask))
              .as("key"))): _*)).as("bk"))
      .select(col("_qid"), col("_qsig"),
        col("bk.band").as("band"), col("bk.key").as("key"))
      .withColumn("kb", pmod(col("key"), lit(kbBuckets.toLong)).cast("int"))
      .localCheckpoint(true)
    val touched = qb.select(col("kb")).distinct()
      .collect().map(_.getInt(0)).sorted // ≤ kbBuckets — layout-bounded
    val idx = spark.read.parquet(indexPath)
      .filter(col("kb").isin(touched.toIndexedSeq.map(Int.box): _*))
    qb.join(idx, Seq("band", "kb", "key"))
      .select(col("_qid"), col("id"),
        bit_count(col("_qsig").bitwiseXOR(col("sig"))).cast("int")
          .as("hamming"))
      .filter(col("hamming") <= hamMax)
      .distinct()
      .select(col("_qid").as(qIdCol), col("id"), col("hamming"))
  }

  /** GDPR-grade erasure from a persisted [[writeHammingIndex]] layout —
    * the tombstone-free delete the serving index needs (the q443/q467
    * erasure family, applied to the LAYOUT): each deleted (id, sig)
    * determines its `bands` (band, kb) directories exactly (band keys
    * re-derive from the sig), so the rewrite touches ≤ |deletes|·bands
    * directories — O(touched partitions), never a full-index rewrite.
    * Remaining rows are materialized (localCheckpoint) BEFORE the
    * dynamic overwrite truncates them, and directories left EMPTY by
    * the delete are removed explicitly — dynamic overwrite only
    * rewrites partitions present in the output, so an emptied dir
    * would otherwise keep its stale files and keep serving the deleted
    * ids. Returns (touched dirs, emptied dirs) as the audit witness. */
  def deleteFromHammingIndex(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      deletes: DataFrame, // (id, sig)
      bands: Int = 8,
      kbBuckets: Int = 64): (Int, Int) = {
    readHammingMeta(spark, indexPath).foreach { case (ib, ikb) =>
      require(ib == bands && ikb == kbBuckets,
        s"delete layout (bands=$bands, kbBuckets=$kbBuckets) does not " +
          s"match the index at $indexPath (bands=$ib, kbBuckets=$ikb)")
    }
    val width = 64 / bands
    val mask = if (width == 64) -1L else (1L << width) - 1L
    val touched = deletes
      .select(explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          pmod(shiftrightunsigned(col("sig"), b * width)
            .bitwiseAND(lit(mask)), lit(kbBuckets.toLong)).cast("int")
            .as("kb"))): _*)).as("bk"))
      .select(col("bk.band").as("band"), col("bk.kb").as("kb"))
      .distinct().collect()
      .map(r => (r.getInt(0), r.getInt(1)))
    if (touched.isEmpty) return (0, 0)
    val pred = touched.map { case (b, k) =>
      col("band") === b && col("kb") === k
    }.reduce(_ || _)
    val remaining = spark.read.parquet(indexPath).filter(pred)
      .join(broadcast(deletes.select(col("id")).distinct()),
        Seq("id"), "left_anti")
      .localCheckpoint(true)
    val nonEmpty = remaining.select(col("band"), col("kb")).distinct()
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    remaining.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("band", "kb").parquet(indexPath)
    val emptied = touched.filterNot(nonEmpty)
    val fs = new org.apache.hadoop.fs.Path(indexPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    emptied.foreach { case (b, k) =>
      fs.delete(new org.apache.hadoop.fs.Path(
        indexPath, s"band=$b/kb=$k"), true)
    }
    (touched.length, emptied.length)
  }

  /** Merge two persisted [[writeHammingIndex]] layouts into one — the
    * segment-merge maintenance step of the serving layout (two ingest
    * epochs, a backfill meeting the live index): reads the STORED
    * (id, sig) pairs from both layouts — no signature recompute; band
    * keys re-derive deterministically from the stored sig — validates
    * both layout markers against the requested (bands, kbBuckets),
    * unions distinct, writes the same layout at `out`. The probe
    * equivalence law `probe(merged) == distinct(probe(a) ∪ probe(b))`
    * is what DedupSpec pins. Scale: one distinct-union shuffle over
    * the two indexes' (id, sig) grain — same cost class as writing
    * either index. */
  def mergeHammingIndexes(
      spark: org.apache.spark.sql.SparkSession,
      pathA: String,
      pathB: String,
      out: String,
      bands: Int = 8,
      kbBuckets: Int = 64): Unit = {
    Seq(pathA, pathB).foreach { p =>
      readHammingMeta(spark, p).foreach { case (ib, ikb) =>
        require(ib == bands && ikb == kbBuckets,
          s"merge layout (bands=$bands, kbBuckets=$kbBuckets) does not " +
            s"match the index at $p (bands=$ib, kbBuckets=$ikb)")
      }
    }
    // every id appears exactly once in EVERY band directory, so band 0
    // alone recovers the full (id, sig) set — the partition filter prunes
    // the scan to 1/bands of each half's bytes (r15, guide §6; reading
    // the whole exploded layout only to distinct it back down read 8×
    // the pairs)
    def pairs(p: String) = spark.read.parquet(p)
      .filter(col("band") === 0).select(col("id"), col("sig"))
    val union = pairs(pathA).union(pairs(pathB)).distinct()
    writeHammingIndex(union, "id", "sig", out, bands, kbBuckets)
  }

  /** Connected components over a near-duplicate pair graph — the
    * survivor-selection step that completes dedup: every doc in a
    * component gets the component's MINIMUM doc id as `cluster_id`
    * (deterministic survivor rule: keep `doc_id == cluster_id`, drop the
    * rest).
    *
    * Iterative min-label propagation over the symmetrized pairs,
    * [[graft.ops.Graph.minLabels]]: each round, every vertex takes the min
    * of its own label and its neighbors' labels (one equi-join + one min
    * aggregate per round), and the loop stops at the first round in
    * which no label dropped — a count over the round itself, never a
    * collect, and valid for ANY orderable id type (numeric, string, ...).
    * Rounds ≈ component diameter; near-dup clusters are shallow (pairs
    * share LSH buckets), so this converges in a handful of rounds; for
    * deep graphs use [[dupClustersAlternating]] (Kiveris et al.), which
    * contracts in O(log) rounds behind the same signature. Throws if
    * `maxIters` rounds after the first do not reach the fixpoint — a
    * silent partial clustering would split components and yield multiple
    * "survivors" per duplicate group. */
  def dupClusters(
      pairs: DataFrame,
      aCol: String = "a_doc",
      bCol: String = "b_doc",
      maxIters: Int = 20): DataFrame = {
    val edges = pairs
      .select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .localCheckpoint(true)
    graft.ops.Graph.minLabels("Dedup.dupClusters", edges, maxIters,
        witness = true, throwAtCap = true)
      .select(col("node").as("doc_id"), col("label").as("cluster_id"))
  }

  /** Connected components via the ALTERNATING star algorithm (Kiveris,
    * Lattanzi, Mirrokni, Rastogi, Vassilvitskii — "Connected Components
    * in MapReduce and Beyond", SoCC 2014) — the web-scale drop-in for
    * [[dupClusters]]: label propagation needs ~diameter rounds, the
    * alternating large-star/small-star contraction needs O(log²) in the
    * worst case and in practice collapses even long chains in a handful
    * of rounds, because every round REWIRES edges toward component minima
    * instead of moving labels one hop.
    *
    *   - large-star: per node u, every LARGER neighbor re-attaches to
    *     m = min(N(u) ∪ {u})
    *   - small-star: per edge orientation large→small, every smaller
    *     neighbor (and u itself) re-attaches to m = min(N₍≤₎(u) ∪ {u})
    *
    * Both steps are one groupBy-min + one equi-join each — the same
    * shuffle primitives as a label round, but edge count never grows
    * (star steps only rewire), so the per-round cost is bounded by the
    * input edge count. Fixpoint = the edge set stops changing: the
    * small-star's closing distinct also takes in the previous edge set,
    * tagged, so the edges in only one of the two sets are counted by the
    * round itself (a count comparison alone is NOT a witness — star steps
    * can rewire without changing cardinality). The final state is stars
    * centered at component minima. Output and contract identical to
    * [[dupClusters]]: (doc_id, cluster_id = component minimum), any
    * orderable id type, throws rather than returning a silent partial
    * clustering. */
  def dupClustersAlternating(
      pairs: DataFrame,
      aCol: String = "a_doc",
      bCol: String = "b_doc",
      maxIters: Int = 35): DataFrame = {
    import org.apache.spark.storage.StorageLevel

    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      val mins = sym.groupBy(col("src"))
        .agg(least(col("src"), min(col("dst"))).as("m"))
      sym.join(mins, "src")
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .distinct()
    }
    // the small-star's edges before their distinct (which the round
    // shares with the witness)
    def smallStar(e: DataFrame): DataFrame = {
      val dir = e.select(
        greatest(col("src"), col("dst")).as("u"),
        least(col("src"), col("dst")).as("v"))
      val mins = dir.groupBy(col("u")).agg(min(col("v")).as("m"))
      dir.join(mins, "u")
        .select(col("v").as("src"), col("m").as("dst"))
        .union(mins.select(col("u").as("src"), col("m").as("dst")))
        .filter(col("src") =!= col("dst"))
    }

    val init = pairs
      .select(col(aCol).as("src"), col(bCol).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .withColumn("is_next", lit(1))
      .localCheckpoint(true)
    val vertices = pairs
      .select(explode(array(col(aCol), col(bCol))).as("doc_id"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val stars = graft.ops.Fixpoint.frames("Dedup.dupClustersAlternating",
          maxIters, Some(sum(when(col("is_next") =!= col("is_prev"), 1L))),
          throwAtCap = true)(init) { (edges, _) =>
        val prev = edges.filter(col("is_next") === 1)
        smallStar(largeStar(prev.select(col("src"), col("dst"))))
          .select(col("src"), col("dst"), lit(1).as("is_next"), lit(0).as("is_prev"))
          .unionByName(prev.select(col("src"), col("dst"),
            lit(0).as("is_next"), lit(1).as("is_prev")))
          .groupBy(col("src"), col("dst"))
          .agg(max(col("is_next")).as("is_next"), max(col("is_prev")).as("is_prev"))
      }.state.filter(col("is_next") === 1)
      // fixpoint edges are stars (v, root); isolated-after-dedup roots and
      // any vertex the stars already folded away both come back through the
      // vertex set with label = own id
      val labels = stars.select(col("src").as("doc_id"), col("dst").as("cluster_id"))
        .union(vertices.select(col("doc_id"), col("doc_id").as("cluster_id")))
        .groupBy(col("doc_id")).agg(min(col("cluster_id")).as("cluster_id"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      labels.count() // materialize before releasing the lineage cache
      labels
    } finally vertices.unpersist()
  }

  /** Benchmark decontamination: flag corpus documents that share any EXACT
    * word n-gram with an evaluation set — the standard leakage check run
    * before training (GPT-3 used 13-grams, Gopher 8-grams; the fixture
    * query uses a smaller n so its tiny vocabulary still overlaps).
    * Returns (idCol, n_hit_grams): contaminated docs only, with the count
    * of their distinct grams found in the benchmark — the triage signal
    * ("1 hit = boilerplate collision, 50 hits = the benchmark is IN the
    * doc").
    *
    * Scale shape: grams are per-doc projections (native
    * [[graft.expr.WordShingles]], no shuffle); the benchmark side is
    * eval-set-sized — millions of grams, not billions — so it broadcasts,
    * and the corpus side never shuffles at all: scan → explode → broadcast
    * hash semi-ish join → partial-agg count by doc. The join key is the
    * exact gram string: no hash false positives in a REMOVAL decision. */
  def contaminationReport(
      corpus: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8): DataFrame = {
    require(n >= 1, s"gram size must be >= 1, got $n")
    val grams = array_distinct(shingles(col(textCol), n))
    val cg = corpus.select(col(idCol), explode(grams).as("gram"))
    val bg = bench.select(explode(grams).as("gram")).distinct()
    cg.join(broadcast(bg), "gram")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hit_grams"))
  }

  /** [[contaminationReport]] at the scale where the benchmark gram set no
    * longer broadcasts (a full eval-suite union is easily 10⁸⁺ grams): a
    * Bloom filter over the bench grams — built DISTRIBUTED in one sketch
    * aggregate pass, collected as one serialized byte blob — pre-prunes
    * the exploded corpus grams BEFORE the shuffle join, so the join input
    * shrinks from every-corpus-gram to (true hits + fpp·|corpus grams|).
    * The exact join then kills the false positives: the RESULT is
    * bit-identical to [[contaminationReport]] (same oracle SQL applies) —
    * the sketch changes where the data moves, never what comes out.
    *
    * The filter rides the probe side as a foldable binary literal
    * (deserialized once per task by Spark's own codegen'd
    * `might_contain`); at fpp 3% and 10⁸ grams it is ~91 MB — driver- and
    * broadcast-sized, vs shuffling the grams themselves. */
  def contaminationReportBloom(
      corpus: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8,
      expectedGrams: Long = 1L << 20,
      fpp: Double = 0.03): DataFrame = {
    require(n >= 1, s"gram size must be >= 1, got $n")
    val grams = array_distinct(shingles(col(textCol), n))
    val bg = bench.select(explode(grams).as("gram")).distinct()
    val bfBytes = bg
      .select(graft.exprapi.bloomFilterAgg(xxhash64(col("gram")), expectedGrams, fpp))
      .head().getAs[Array[Byte]](0)
    if (bfBytes == null) {
      // empty bench side: the sketch aggregate yields NULL; the exact
      // report is empty by the same emptiness — return that shape
      return contaminationReport(corpus, bench, idCol, textCol, n)
    }
    val cg = corpus.select(col(idCol), explode(grams).as("gram"))
      .filter(graft.exprapi.bloomMightContain(lit(bfBytes), xxhash64(col("gram"))))
    // deliberately NOT broadcast: this is the beyond-broadcast regime the
    // bloom path exists for — the shuffle join now carries only survivors
    cg.join(bg, "gram")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hit_grams"))
  }

  /** Quality-aware survivor selection — the final step of the dedup
    * pipeline: given component labels ([[dupClusters]] /
    * [[dupClustersAlternating]]) and a per-doc quality frame, keep the
    * HIGHEST-quality member of each cluster (min id on quality ties —
    * total order ⇒ deterministic on any engine). The min-id survivor rule
    * the label algorithms use directly is the degenerate
    * quality = constant case; a real pipeline keeps the best copy
    * (longest, cleanest, highest LM score), not the lowest-numbered one.
    * One broadcast-or-shuffle join + one ranked window on cluster_id. */
  def selectSurvivors(
      clusters: DataFrame, // (doc_id, cluster_id)
      quality: DataFrame,  // (idCol, qCol)
      idCol: String,
      qCol: String): DataFrame =
    graft.ops.Relational.groupedTopK(
      clusters.join(quality.select(col(idCol).as("doc_id"), col(qCol)), "doc_id"),
      Seq("cluster_id"), qCol, "doc_id", k = 1)
      .select(col("cluster_id"), col("doc_id").as("survivor_id"), col(qCol))

  /** Incremental-ingestion dedup: mark every NEW document that
    * near-duplicates something already in the corpus — the daily-crawl
    * shape, where re-running [[nearDupPairs]] over (corpus ∪ batch) would
    * re-pay the corpus-sized LSH work per batch. Here each side is banded
    * independently (the corpus side's buckets can be precomputed and
    * persisted once per epoch), candidates are the CROSS-side bucket
    * collisions only — new×new and old×old pairs never form — and exact
    * Jaccard verifies candidates against the union's texts. Cost per
    * batch: LSH over the batch + one bucket-equi join + verify on
    * candidates; never a corpus re-scan beyond the bucket join.
    *
    * Output: (a_doc = new id, b_doc = existing id, jaccard ≥ threshold).
    * Ids must be unique across BOTH frames (disjoint id spaces — the
    * ingest contract). `maxBucketSize` caps EACH side's bucket width
    * independently: candidate volume per bucket is
    * |new ∩ bucket| × |old ∩ bucket|, so bounding only one factor still
    * leaves an unbounded product when the other side degenerates (a
    * boilerplate bucket in the arriving batch is as real a hazard as one
    * in the corpus). Same declared drop semantic as [[candidatePairs]] —
    * oversized clusters are exact-dup territory, handled upstream — and
    * the q78 oracle mirrors the per-side cap so the declared semantics
    * and the oracle agree at any scale, not just where the cap is slack. */
  def incrementalDupMarks(
      newDocs: DataFrame,
      oldDocs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.7,
      numHashes: Int = 6,
      bands: Int = 3,
      shingleWidth: Int = 3,
      maxBucketSize: Int = 1000): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band_id"), col("bucket"))
    val ob = bandBuckets(oldDocs, idCol, textCol, numHashes, bands, shingleWidth)
      .withColumn("bsz", count(lit(1)).over(w))
      .filter(col("bsz") <= maxBucketSize)
      .select(col("band_id"), col("bucket"), col(idCol).as("b_doc"))
    val nb = bandBuckets(newDocs, idCol, textCol, numHashes, bands, shingleWidth)
      .withColumn("bsz", count(lit(1)).over(w))
      .filter(col("bsz") <= maxBucketSize)
      .select(col("band_id"), col("bucket"), col(idCol).as("a_doc"))
    val cands = nb.join(ob, Seq("band_id", "bucket"))
      .select(col("a_doc"), col("b_doc"))
      .distinct()
      // jaccardVerify references the candidate frame three times (both
      // candIds union legs + the pair join) — materialize the bounded
      // pair set once instead of re-running both banding passes per
      // reference (r14, guide §5; the q78 before plan held 44 scans)
      .localCheckpoint(true)
    jaccardVerify(newDocs.unionByName(oldDocs), cands, idCol, textCol,
      threshold, shingleWidth)
  }

  /** Asymmetric CONTAINMENT decontamination: flag every corpus document
    * that contains ≥ `threshold` of a benchmark document's distinct
    * shingles — C(bench, corpus) = |sh(bench) ∩ sh(corpus)| / |sh(bench)|.
    *
    * This is the right metric where Jaccard under-triggers: an eval item
    * is typically a few sentences embedded in a long training document, so
    * the UNION-normalized Jaccard of the pair is tiny even at full
    * containment, while the bench-normalized containment reads 1.0. The
    * exact-overlap stage of [[contaminationReport]] catches verbatim n-grams;
    * this stage catches whole-item inclusion with tolerance for edits.
    *
    * Shape: both sides explode to distinct (doc, shingle) postings; one
    * shingle-equi join, one count per (corpus, bench) pair, one ratio.
    * Scale: the bench side is eval-set-sized (thousands, not billions), so
    * its postings broadcast; per-shingle fan-out is |corpus postings| ×
    * |bench docs sharing the shingle| — width-4+ shingles make shared
    * grams rare, the same sparsity [[contaminationReport]] relies on. Returns
    * (c_doc, b_doc, n_hit, b_n, containment ≥ threshold). */
  def containmentMarks(
      corpus: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.5,
      shingleWidth: Int = 4): DataFrame = {
    val bsh = bench.select(col(idCol).as("b_doc"),
      explode(array_distinct(shingles(col(textCol), shingleWidth))).as("sh"))
    val bsz = bsh.groupBy(col("b_doc")).agg(count(lit(1)).as("b_n"))
    val csh = corpus.select(col(idCol).as("c_doc"),
      explode(array_distinct(shingles(col(textCol), shingleWidth))).as("sh"))
    csh.join(bsh, "sh")
      .groupBy(col("c_doc"), col("b_doc")).agg(count(lit(1)).as("n_hit"))
      .join(bsz, "b_doc")
      .withColumn("containment", col("n_hit").cast("double") / col("b_n"))
      .filter(col("containment") >= threshold)
      .select(col("c_doc"), col("b_doc"), col("n_hit"), col("b_n"),
        col("containment"))
  }

  /** SemDeDup-style SEMANTIC dedup (Abbas et al. 2023, arXiv:2303.09540):
    * cluster the embedding space coarsely, then compare pairs ONLY within a
    * cluster — the embedding-space analogue of LSH banding. The cluster
    * assignment is the blocking artifact (fit once with
    * [[graft.llm.Similarity.fitIvfIndex]]'s coarse KMeans, persist
    * `(vec_id, cell)`); this serving half is pure plan and exact.
    *
    * Scale design: the pair space collapses from n²/2 to Σ_cell |cell|²/2 —
    * with nlist sized to the corpus (like [[graft.llm.Similarity.autoBits]])
    * the per-cell population is bounded, so the ONLY join is a cell
    * equi-join, never a broadcast of the full corpus
    * ([[graft.llm.Similarity.int8NearDupPairs]] is the bounded-corpus exact
    * baseline this replaces at scale). The near-dup predicate is the same
    * exact integer test as q42 — global int8 quantization, decimal(38,0)
    * cross-multiplication — so the whole serving half is bit-identical
    * across engines and oracle-checkable over the persisted assignments.
    *
    * Survivor rule (deterministic, non-transitive by design): a vector is
    * DROPPED iff some lower-id vector in the SAME cell is within `tau` of
    * it — whether or not that neighbor itself survives. This is SemDeDup's
    * greedy keep-one-per-neighborhood applied with the id total order, and
    * both engines state it identically (no fixpoint needed).
    *
    * Returns the kept `(vec_id, cell)` rows.
    *
    * `maxCellSize` is the same quadratic guard every sibling in the dedup
    * family carries ([[candidatePairs]] `maxBucketSize`, the SimHash band
    * cap, [[incrementalDupMarks]] both-side caps): KMeans targets ~256
    * vectors per cell, but real embedding clusters are skewed, and one
    * boilerplate mega-cell at 100 TB is a single-task |cell|² blow-up.
    * Cells above the cap contribute NO pairs — all their members survive,
    * the declared-precision-loss semantics of the MinHash cap — and
    * [[oversizedCells]] reports exactly which cells were skipped so the
    * loss is observable, not silent.
    *
    * @param assignments `(vec_id, cell)` — the persisted coarse-cluster fit
    * @param tau2E4 τ²·10⁴ for the cosine floor τ (e.g. 1600 ⇒ τ = 0.4)
    * @param maxCellSize cells with more members than this are excluded
    *                    from pairing (members all kept)
    */
  def semanticDedup(
      assignments: DataFrame,
      embeddings: DataFrame,
      tau2E4: Long,
      idCol: String = "vec_id",
      embCol: String = "embedding",
      maxCellSize: Int = 10000,
      materializeQ8: DataFrame => DataFrame = _.localCheckpoint(true)): DataFrame = {
    require(maxCellSize >= 2, s"maxCellSize must be >= 2, got $maxCellSize")
    // four consumers (both pair sides, the drop set's anti-join spine)
    // — materialize the global quantization pass once (r14, guide §5;
    // the q100 before plan held 22 scans). The frame is corpus-grain
    // (every vector with its quantized dims), so callers at scale pass a
    // durable staging materializer instead of the default in-memory
    // checkpoint (r15, r14 VERDICT #3).
    val q8 = materializeQ8(
      Similarity.quantizeInt8Global(embeddings, idCol, embCol)
        .withColumn("n2", graft.exprapi.int8Dot(col("qv"), col("qv")))
        .join(assignments.select(col(idCol), col("cell")), idCol))
    // pairing universe: only cells within the cap (the semi-join is a tiny
    // aggregate over the assignment table, broadcast-able at any scale)
    val okCells = assignments.groupBy(col("cell"))
      .agg(count(lit(1)).as("cell_n"))
      .filter(col("cell_n") <= maxCellSize)
      .select(col("cell"))
    val paired = q8.join(okCells, Seq("cell"), "left_semi")
    val a = paired.select(col("cell"), col(idCol).as("id_a"),
      col("qv").as("va"), col("n2").as("na2"))
    val b = paired.select(col("cell"), col(idCol).as("id_b"),
      col("qv").as("vb"), col("n2").as("nb2"))
    val dec = "decimal(38,0)"
    val dropped = a.join(b, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("dot_i8", graft.exprapi.int8Dot(col("va"), col("vb")))
      .filter(col("dot_i8") > 0 &&
        col("dot_i8").cast(dec) * col("dot_i8") * lit(10000L) >=
          lit(tau2E4).cast(dec) * col("na2") * col("nb2"))
      .select(col("id_b").as(idCol)).distinct()
    q8.join(dropped, Seq(idCol), "left_anti")
      .select(col(idCol), col("cell"))
  }

  /** EXACT Jaccard pairs via the inverted index — the ground truth the
    * LSH path approximates, for recall measurement (q137's "measure,
    * don't guess" applied to the dedup family). A pair with Jaccard > 0
    * must share ≥ 1 shingle, so the posting self-join enumerates exactly
    * the nonzero pairs: one equi-join on the shingle, one grouped count,
    * one exact division. DECLARED hot-shingle-quadratic by contract —
    * a stop-shingle shared by k docs contributes k·|sample| postings —
    * which is why the left side is a SAMPLE (`sampleFilter` on the
    * lower-id endpoint): the production shape measures recall on a
    * sampled pair population, never all-pairs.
    *
    * Returns (a_doc, b_doc, jaccard) with a_doc < b_doc, a_doc sampled,
    * jaccard ≥ `threshold`. */
  def exactJaccardPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      sampleFilter: Column,
      shingleWidth: Int = 3): DataFrame = {
    val sh = docs.select(col(idCol),
        array_distinct(shingles(col(textCol), shingleWidth)).as("ss"))
      .filter(size(col("ss")) > 0)
    val post = sh.select(col(idCol), size(col("ss")).as("n"),
      explode(col("ss")).as("sh"))
    val a = post.filter(sampleFilter)
      .select(col(idCol).as("a_doc"), col("n").as("na"), col("sh"))
    val b = post.select(col(idCol).as("b_doc"), col("n").as("nb"), col("sh"))
    a.join(b, Seq("sh"))
      .filter(col("a_doc") < col("b_doc"))
      .groupBy(col("a_doc"), col("b_doc"), col("na"), col("nb"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("a_doc"), col("b_doc"), col("jaccard"))
  }

  /** Diagnostic companion to [[semanticDedup]]: the cells whose population
    * exceeds `maxCellSize` and were therefore excluded from pairing, with
    * their sizes — `(cell, cell_n)`, largest first. Run (or sink) this
    * alongside the dedup so capped precision loss is a logged fact, not a
    * silent one; at 100 TB it is one aggregation over the (id, cell)
    * assignment table. */
  def oversizedCells(assignments: DataFrame, maxCellSize: Int): DataFrame =
    assignments.groupBy(col("cell"))
      .agg(count(lit(1)).as("cell_n"))
      .filter(col("cell_n") > maxCellSize)
      .orderBy(col("cell_n").desc)

  /** Cross-document duplicated-SPAN coverage — the span-level member of the
    * dedup family (doc-level: exactDedup / MinHash / SimHash / semantic).
    * Approximates suffix-array substring dedup (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better", ACL 2022) with
    * fixed-length rolling L-grams: a token position is duplicated iff it
    * lies inside some L-gram that also occurs in ≥ `minDocs` distinct
    * documents. Returns one row per document that has at least one
    * duplicated span: (id, n_tok, n_spans, dup_tokens, cov_ppm) where
    * cov_ppm = duplicated-token parts-per-million (exact integer floor
    * division — engine-portable).
    *
    * Shape, for the 100 TB read: the posting list is one row per token
    * position (linear), the cross-doc test is ONE doc-frequency aggregation
    * keyed by gram, and re-attachment is a LEFT SEMI join — 1:1 per
    * posting, so a boilerplate gram shared by a million documents
    * contributes exactly its own postings, never a pairwise product.
    * Interval union is the gaps-and-islands running max (q22's pattern)
    * inside each document's window. At scale, key the aggregation on
    * xxhash64(gram) to shrink shuffle bytes; the literal-gram form here is
    * what the oracle can replay exactly.
    */
  def dupSpanCoverage(docs: DataFrame, idCol: String, textCol: String,
      l: Int = 8, minDocs: Int = 2): DataFrame = {
    val toks = docs
      .select(col(idCol), TextOps.tokens(col(textCol)).as("ts"))
      .filter(size(col("ts")) >= l)
    // native codegen'd shingling (same rationale as `shingles` above: the
    // HOF transform/slice/concat_ws form evaluates interpreted and
    // dominates the query); posexplode's 0-based ordinal + 1 = the 1-based
    // start position the oracle's generate_series produces
    val grams = toks
      .select(col(idCol), size(col("ts")).cast("long").as("n_tok"),
        posexplode(graft.exprapi.wordShingles(col("ts"), l)))
      .select(col(idCol), col("n_tok"),
        (col("pos") + 1).as("pos"), col("col").as("gram"))
    val dup = grams.groupBy(col("gram"))
      .agg(countDistinct(col(idCol)).as("df"))
      .filter(col("df") >= minDocs)
      .select(col("gram"))
    val hits = grams.join(dup, Seq("gram"), "left_semi")
    val byPos = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("pos"))
    val marked = hits
      // farthest interval end seen so far strictly before this row
      .withColumn("pme", max(col("pos") + l - 1)
        .over(byPos.rowsBetween(Long.MinValue, -1)))
      .withColumn("ni",
        when(col("pme").isNull || col("pos") > col("pme") + 1, 1L).otherwise(0L))
      .withColumn("island", sum(col("ni")).over(byPos))
    marked
      .groupBy(col(idCol), col("n_tok"), col("island"))
      .agg(min(col("pos")).as("s"), max(col("pos") + l - 1).as("e"))
      .groupBy(col(idCol), col("n_tok"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("e") - col("s") + 1).cast("long").as("dup_tokens"))
      .withColumn("cov_ppm",
        expr("CAST(dup_tokens * 1000000 DIV n_tok AS BIGINT)"))
  }

  /** Cross-document EXACT-substring duplication at PAIR grain — the
    * suffix-array "verbatim overlap" read of Lee et al. 2022
    * ("Deduplicating Training Data Makes Language Models Better", ACL
    * 2022) re-expressed as anchor-and-extend. [[dupSpanCoverage]] is the
    * position-coverage member of this family; this one answers WHICH
    * documents share a verbatim run and HOW LONG:
    *
    *   1. content-defined k-mer ANCHORS — token positions whose k-gram's
    *      60-bit md5 ≡ 0 (mod `anchorMod`). Both copies of a duplicated
    *      substring select the SAME anchor positions, so any shared run
    *      containing an anchored gram is found (expected anchor spacing
    *      is `anchorMod` grams — a declared recall knob, not a cap);
    *   2. capped equi-join on the anchor gram — both sides capped to
    *      `maxPerGram` postings in deterministic md5 order (the q78
    *      both-side-caps rule: pair volume per gram is ≤ maxPerGram²,
    *      never posting², so a boilerplate gram cannot go quadratic);
    *   3. EXACT token-by-token extension of every candidate within
    *      ±`window` of the anchor — constant fan-out (k + 2·window
    *      offset rows per candidate); out-of-bounds positions are
    *      guarded to NULL ⇒ mismatch on BOTH engines (Spark's
    *      element_at and DuckDB's list index both treat negatives as
    *      from-the-END, so the bound check is part of the contract).
    *
    * Output: (a_doc, b_doc, n_anchor_pairs, max_len) for pairs whose
    * longest verbatim run is ≥ `minLen` tokens. max_len saturates at
    * k + 2·window by construction — a DECLARED bounded-window read; the
    * unbounded-length variant stitches anchor islands, which is
    * [[dupSpanCoverage]]'s gaps-and-islands machinery.
    *
    * 100 TB shape: postings are linear in corpus tokens ÷ anchorMod, the
    * join is key-equi with hard per-key caps, extension is a constant
    * per candidate, and token arrays re-attach via two 1:1 equi-joins —
    * no pairwise product anywhere. Every stage (md5 anchors, md5-order
    * caps, guarded indexing) is engine-portable, so the oracle states
    * the identical computation and the check is exact. */
  /** Shared core of [[crossDocSubstrings]] / [[stitchedSubstrings]]:
    * per-anchor-pair extension bounds — one row per candidate anchor
    * pair with the first-mismatch offsets (`rmiss`, `lmiss`) of its
    * exact ±window extension — PLUS a lazy dropped-postings diagnostics
    * frame (the [[simhashDupsWithDiagnostics]] treatment): one row
    * `(gram, postings, dropped)` per gram whose posting list exceeded
    * `maxPerGram`. The per-gram cap is a declared recall knob (candidate
    * volume is bounded by Σ min(postings, cap)²), but on a
    * boilerplate-heavy corpus — every doc sharing a header gram — it
    * silently truncates exactly the grams that matter; counting the
    * drops makes that recall loss observable with no eager action in
    * the builder. */
  private def anchorExtensions(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      anchorMod: Int,
      window: Int,
      maxPerGram: Int): (DataFrame, DataFrame) = {
    require(k >= 2, s"k must be >= 2, got $k")
    require(anchorMod >= 1, s"anchorMod must be >= 1, got $anchorMod")
    require(window >= 1, s"window must be >= 1, got $window")
    require(maxPerGram >= 1, s"maxPerGram must be >= 1, got $maxPerGram")
    // lazily checkpointed: the posting build and BOTH extension joins
    // consume the tokenized frame (the covisitation re-scan rule)
    val toks = substringTokenRows(docs, idCol, textCol, k)
      .localCheckpoint(false)
    val anchors = substringAnchors(toks, k, anchorMod)
    val capped = cappedPostings(anchors, maxPerGram)
    val droppedDiag = anchors
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("postings"))
      .filter(col("postings") > maxPerGram)
      .withColumn("dropped", col("postings") - maxPerGram)
    val cands = capped.as("x").join(capped.as("y"), "gram")
      .filter(col("x.id") < col("y.id"))
      .select(col("x.id").as("a_doc"), col("x.pos").as("a_pos"),
        col("y.id").as("b_doc"), col("y.pos").as("b_pos"))
    (extendPairs(cands, toks, toks, k, window), droppedDiag)
  }

  /** Tokenized `(id, ts)` rows with at least `k` tokens — the
    * extension-side frame of the anchor family, shared by the
    * within-corpus ([[crossDocSubstrings]]) and cross-corpus
    * ([[crossCorpusSubstrings]]) members and persistable as the
    * old-corpus artifact of the streaming twin. */
  def substringTokenRows(
      docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    docs
      .select(col(idCol).as("id"), TextOps.tokens(col(textCol)).as("ts"))
      .filter(size(col("ts")) >= k)

  /** Content-defined anchor sampling: one `(id, pos, gram)` row per
    * k-gram whose 60-bit md5 is ≡ 0 mod `anchorMod` (expected spacing
    * ~anchorMod grams — the declared recall knob). */
  def substringAnchors(
      toks: DataFrame, k: Int, anchorMod: Int): DataFrame =
    toks
      .select(col("id"), posexplode(graft.exprapi.wordShingles(col("ts"), k)))
      .select(col("id"), (col("pos") + 1).as("pos"), col("col").as("gram"))
      .filter(conv(substring(md5(col("gram")), 1, 15), 16, 10)
        .cast("long") % anchorMod === 0)

  /** Per-gram md5-order cap over an anchor frame — the postings-INDEX
    * half: at most `maxPerGram` `(gram, id, pos)` postings survive per
    * gram, in md5(id#pos) order so the survivors are deterministic and
    * engine-portable. */
  def cappedPostings(anchors: DataFrame, maxPerGram: Int): DataFrame = {
    val wCap = org.apache.spark.sql.expressions.Window
      .partitionBy(col("gram"))
      .orderBy(md5(concat_ws("#", col("id"), col("pos"))))
    anchors
      .withColumn("_rk", row_number().over(wCap))
      .filter(col("_rk") <= maxPerGram)
      .drop("_rk")
  }

  /** Exact ±window extension of candidate anchor pairs: one row per
    * candidate with the first-mismatch offsets (`rmiss`, `lmiss`).
    * `aToks`/`bToks` are `(id, ts)` frames for the respective sides. */
  private def extendPairs(
      cands: DataFrame,
      aToks: DataFrame,
      bToks: DataFrame,
      k: Int,
      window: Int): DataFrame = {
    // guarded 1-based lookup: out-of-range must be NULL, never
    // from-the-end indexing (and never an ANSI index error)
    def at(ts: Column, p: Column): Column =
      when(p >= 1 && p <= size(ts), element_at(ts, p))
    cands
      .join(aToks.select(col("id").as("a_doc"), col("ts").as("a_ts")), "a_doc")
      .join(bToks.select(col("id").as("b_doc"), col("ts").as("b_ts")), "b_doc")
      .select(col("a_doc"), col("b_doc"), col("a_pos"), col("b_pos"),
        explode(sequence(lit(-window), lit(k + window - 1))).as("i"),
        col("a_ts"), col("b_ts"))
      .select(col("a_doc"), col("b_doc"), col("a_pos"), col("b_pos"), col("i"),
        coalesce(
          at(col("a_ts"), col("a_pos") + col("i")) ===
            at(col("b_ts"), col("b_pos") + col("i")),
          lit(false)).as("eq"))
      .groupBy(col("a_doc"), col("b_doc"), col("a_pos"), col("b_pos"))
      .agg(
        coalesce(min(when(col("i") >= k && !col("eq"), col("i"))),
          lit(k + window)).as("rmiss"),
        coalesce(max(when(col("i") < 0 && !col("eq"), col("i"))),
          lit(-window - 1)).as("lmiss"))
  }

  /** Cross-CORPUS exact-substring marks — the ingestion-time member of
    * the anchor family (the q398 semantics split at the index boundary):
    * `newDocs` route their sampled k-mer anchors (UNCAPPED — per-doc
    * anchor count is the doc's own grams ÷ anchorMod, and each anchor
    * meets at most the index's `maxPerGram` postings, so per-doc work is
    * bounded without a cross-doc coordination point; the cap lives on
    * the INDEX side only, applied once at build time) against a
    * PREBUILT old-corpus postings index ([[cappedPostings]] output) and
    * extend exactly ±window against the stored old token arrays.
    * Returns (new_doc, old_doc, n_anchor_pairs, max_len ≥ minLen).
    * Micro-batch-exact by construction: a new doc's rows are atomic
    * within a batch and the old side is static, so marks computed per
    * micro-batch equal the one-shot batch computation
    * (StreamsSpec law; the streaming drain is
    * [[graft.streaming.Streams.streamingSubstringMarks]]). */
  def crossCorpusSubstrings(
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      postings: DataFrame, // (gram, id, pos) — cappedPostings of the OLD corpus
      oldToks: DataFrame,  // (id, ts) — substringTokenRows of the OLD corpus
      k: Int = 8,
      anchorMod: Int = 8,
      window: Int = 48,
      minLen: Int = 16): DataFrame = {
    require(k >= 2 && anchorMod >= 1 && window >= 1,
      s"bad anchor-family params: k=$k anchorMod=$anchorMod window=$window")
    val newToks = substringTokenRows(newDocs, idCol, textCol, k)
      .localCheckpoint(false)
    val cands = substringAnchors(newToks, k, anchorMod).as("x")
      .join(postings.as("y"), "gram")
      .select(col("x.id").as("a_doc"), col("x.pos").as("a_pos"),
        col("y.id").as("b_doc"), col("y.pos").as("b_pos"))
    extendPairs(cands, newToks, oldToks, k, window)
      .groupBy(col("a_doc").as("new_doc"), col("b_doc").as("old_doc"))
      .agg(count(lit(1)).as("n_anchor_pairs"),
        max(col("rmiss") - col("lmiss") - 1).cast("long").as("max_len"))
      .filter(col("max_len") >= minLen)
  }

  def crossDocSubstrings(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      anchorMod: Int = 8,
      window: Int = 48,
      minLen: Int = 16,
      maxPerGram: Int = 64): DataFrame =
    crossDocSubstringsWithDiagnostics(
      docs, idCol, textCol, k, anchorMod, window, minLen, maxPerGram)._1

  /** [[crossDocSubstrings]] plus the lazy `(gram, postings, dropped)`
    * diagnostics frame of anchor postings the per-gram cap truncated —
    * recall is exact only while this frame is empty (a boilerplate-heavy
    * corpus where every doc shares a header gram otherwise degrades
    * invisibly); the caller pays only if it executes the diagnostics
    * side. */
  def crossDocSubstringsWithDiagnostics(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      anchorMod: Int = 8,
      window: Int = 48,
      minLen: Int = 16,
      maxPerGram: Int = 64): (DataFrame, DataFrame) = {
    val (exts, diag) =
      anchorExtensions(docs, idCol, textCol, k, anchorMod, window, maxPerGram)
    val pairs = exts
      .groupBy(col("a_doc"), col("b_doc"))
      .agg(count(lit(1)).as("n_anchor_pairs"),
        max(col("rmiss") - col("lmiss") - 1).cast("long").as("max_len"))
      .filter(col("max_len") >= minLen)
    (pairs, diag)
  }

  /** [[crossDocSubstrings]] WITHOUT the window length ceiling — the
    * full-length exact read: anchor extensions that belong to the SAME
    * verbatim run share a DIAGONAL (a_pos − b_pos is constant along a
    * run), and because anchors recur every ~anchorMod grams ≪ window,
    * consecutive anchors' ±window intervals overlap — so a
    * gaps-and-islands union per (pair, diagonal) (the q103/q22 pattern)
    * stitches them into the run's full extent. Each retained island's
    * length is exact (interval ends are mismatch-bounded; two islands on
    * one diagonal can only abut where a window CLIPPED — merging
    * adjacent is therefore correct, a mismatch-bounded end can never
    * abut a match start). COMPLETENESS of a run is probabilistic, not
    * guaranteed: it needs every anchor gap along the run to stay ≤
    * `window`, and md5 anchor selection only gives EXPECTED spacing
    * ~`anchorMod` grams (a gap can exceed `window` by chance, and the
    * `maxPerGram` cap can drop anchors outright — see the diagnostics
    * frame) — a long gap splits one run into two islands and undercounts
    * max_run. anchorMod ≪ window makes that rare; it is the same recall
    * knob [[crossDocSubstrings]] declares, and the oracle states the
    * identical computation so the check stays exact either way. Returns
    * (a_doc, b_doc, n_runs, max_run) for pairs whose longest stitched
    * verbatim run ≥ `minLen` — max_run is no longer saturated at
    * k + 2·window. Same capped-join scale shape as
    * [[crossDocSubstrings]] plus one partitioned window at the
    * (pair, diagonal) grain (bounded by anchor count). */
  def stitchedSubstrings(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      anchorMod: Int = 8,
      window: Int = 48,
      minLen: Int = 16,
      maxPerGram: Int = 64): DataFrame =
    stitchedSubstringsWithDiagnostics(
      docs, idCol, textCol, k, anchorMod, window, minLen, maxPerGram)._1

  /** [[stitchedSubstrings]] plus the shared `(gram, postings, dropped)`
    * anchor-cap diagnostics frame ([[crossDocSubstringsWithDiagnostics]]
    * has the contract). */
  def stitchedSubstringsWithDiagnostics(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      anchorMod: Int = 8,
      window: Int = 48,
      minLen: Int = 16,
      maxPerGram: Int = 64): (DataFrame, DataFrame) = {
    val (exts, diag) = anchorExtensions(docs, idCol, textCol, k, anchorMod,
      window, maxPerGram)
    val iv = exts
      .select(col("a_doc"), col("b_doc"),
        (col("a_pos") - col("b_pos")).as("diag"),
        (col("a_pos") + col("lmiss") + 1).as("s"),
        (col("a_pos") + col("rmiss") - 1).as("e"))
    val byPos = org.apache.spark.sql.expressions.Window
      .partitionBy(col("a_doc"), col("b_doc"), col("diag"))
      .orderBy(col("s"), col("e"))
    val marked = iv
      .withColumn("pme", max(col("e")).over(
        byPos.rowsBetween(Long.MinValue, -1)))
      .withColumn("ni",
        when(col("pme").isNull || col("s") > col("pme") + 1, 1L)
          .otherwise(0L))
      .withColumn("island", sum(col("ni")).over(byPos))
    val pairs = marked
      .groupBy(col("a_doc"), col("b_doc"), col("diag"), col("island"))
      .agg(min(col("s")).as("is"), max(col("e")).as("ie"))
      .select(col("a_doc"), col("b_doc"),
        (col("ie") - col("is") + 1).cast("long").as("run_len"))
      .groupBy(col("a_doc"), col("b_doc"))
      .agg(count(lit(1)).as("n_runs"), max(col("run_len")).as("max_run"))
      .filter(col("max_run") >= minLen)
    (pairs, diag)
  }

  /** Parameterized survivor POLICY over near-dup clusters (round-11
    * VERDICT next #7): keep, per cluster, the first member under a
    * caller-supplied LEXICOGRAPHIC ordering chain — source priority,
    * quality rank, token count, id tie-break, in whatever order the
    * curation policy dictates. The rank is a PARTITIONED window (per
    * cluster — bounded by cluster size, never a global sort), so any
    * policy chain keeps the q43/q404 scale shape. Callers MUST end the
    * chain with a unique-id tie-break or survivors are
    * nondeterministic across runs. Returns the surviving member rows
    * (all input columns, one row per cluster). */
  def clusterSurvivors(
      members: DataFrame,
      clusterCol: String,
      ordering: Seq[Column]): DataFrame = {
    require(ordering.nonEmpty, "survivor policy needs an ordering chain")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(clusterCol)).orderBy(ordering: _*)
    members
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .drop("__rk")
  }

  /** Exact dedup on a fingerprint of the canonical token stream — keeps the
    * lowest id per fingerprint group (deterministic survivor rule). */
  def exactDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("fp")).orderBy(col(idCol))
    docs
      .withColumn("fp", TextOps.fingerprint(col(textCol)))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("fp", "rn")
  }
}
