package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding similarity search (north-star component) over
  * `array<float>` columns like the `embeddings` fixture.
  *
  * Two paths, per the brief:
  *   - [[bruteForceTopK]] — the exactness baseline: broadcast the (small)
  *     query set against all candidates. Linear in candidates, never a
  *     shuffled cross-join; the right plan when |queries| is dimension-sized.
  *   - [[lshCosinePairs]] — the scale path for a similarity floor: sign-LSH
  *     (random-hyperplane buckets), candidate generation bucket-local, exact
  *     re-scoring on candidates only.
  *   - [[ivfTopK]] — the scale path for top-k: coarse KMeans cells + nprobe.
  */
object Similarity {

  /** Integer-quantized dot product — the oracle-parity trick for floats.
    *
    * float×float is EXACT in double (24-bit mantissas ⇒ ≤48-bit product),
    * and `floor(product · 10¹²)` is one deterministic IEEE rounding — so
    * summing the resulting longs is order-independent and bit-identical in
    * any engine, unlike a double dot product whose low bits depend on
    * summation order. Preserves ranking to a quantization error of
    * dim × 10⁻¹² — far below embedding noise. */
  def quantizedDot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => floor(x.cast("double") * y.cast("double") * lit(1e12))),
      lit(0L),
      (acc, v) => acc + v)

  /** Exact double dot product (sequential fold, deterministic within Spark). */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, v) => acc + v)

  /** Cosine similarity of two float-array columns. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Brute-force top-k by quantized dot product: every query row against
    * every candidate row, queries broadcast (the query set must be small —
    * this is the correctness baseline and the final re-rank primitive).
    * Ties broken by candidate id ⇒ total deterministic order. */
  def bruteForceTopK(
      queries: DataFrame,   // (q_id, q_emb)
      candidates: DataFrame, // (n_id, n_emb)
      k: Int): DataFrame = {
    val scored = candidates
      .join(broadcast(queries), col("q_id") =!= col("n_id"))
      // native fused expression — bit-identical to quantizedDot (tested),
      // no per-row zip_with allocation in the innermost loop
      .withColumn("dot_q", graft.exprapi.quantizedDotFast(col("q_emb"), col("n_emb")))
    graft.ops.Relational
      .groupedTopK(scored, Seq("q_id"), "dot_q", "n_id", k, descending = true)
      .select(col("q_id"), col("n_id"), col("dot_q"), col("rank").cast("long").as("rank"))
  }

  /** Scale path: all cosine-similar pairs via sign-LSH (random hyperplanes,
    * SimHash for real vectors — Charikar '02).
    *
    * Each of `tables` hash tables assigns a vector to one of 2^`bits`
    * buckets: bit i is the sign of the dot product with a seeded Gaussian
    * hyperplane. Vectors meet iff they share a bucket in ≥1 table, so the
    * shuffle carries `tables` rows per vector and the pair space is
    * Σ bucket² — the all-pairs product never materializes. Candidates are
    * then exact-scored (integer-quantized dot, norms precomputed once per
    * vector) and filtered to `minCosine`, so precision is exact; recall is
    * 1−(1−p^bits)^tables with p = 1−θ/π.
    *
    * Tuning at scale: bucket count is 2^bits per table and does NOT grow
    * with n — per-bucket work stays bounded only if bits tracks the corpus:
    * bits ≈ log₂(n / targetBucketSize). That is the DEFAULT here
    * (`bits = 0` ⇒ computed from one scalar count, see [[autoBits]]) so the
    * operator never silently sits in the quadratic regime as n grows; pass
    * an explicit `bits` to override. Spend `tables` to buy recall back.
    * High-similarity floors (near-dup, cos ≥ 0.8) prune hard with
    * bits=6..8; low floors admit inherently large candidate sets (LSH
    * bound) — for top-k at a low floor use [[ivfTopK]] instead.
    *
    * Everything is codegen'd long/int arithmetic on `array<float>` — no
    * Vector UDT, no ml fit. The hyperplanes are plan literals (fixed seed ⇒
    * deterministic across runs and engines); the only driver-side action is
    * ONE scalar aggregate learning (n, dim) together. */
  def lshCosinePairs(
      embeddings: DataFrame, // (vec_id, embedding: array<float>)
      minCosine: Double = 0.5,
      bits: Int = 0,         // 0 ⇒ auto: ceil(log2(n / targetBucketSize))
      tables: Int = 8,
      seed: Long = 42L,
      maxBucketSize: Int = 100000,
      targetBucketSize: Int = 256): DataFrame = {
    require(bits >= 0 && bits <= 30, s"bits=$bits out of range")
    // one action for both scalars the plan needs at build time
    val row = embeddings
      .agg(count(lit(1)).as("n"), first(size(col("embedding"))).as("d")).head()
    val n = row.getLong(0)
    // empty input ⇒ first(size(embedding)) aggregates to NULL; any dim
    // yields the same (empty) result frame, so use 1 instead of NPE-ing
    val dim = if (row.isNullAt(1)) 1 else row.getInt(1)
    val effBits = if (bits > 0) bits else autoBits(n, targetBucketSize)
    signLshScored(embeddings, minCosine, effBits, tables, seed, maxBucketSize, dim)
  }

  /** Data-driven hyperplane count: 2^bits buckets per table sized so the
    * expected bucket holds ~`targetBucketSize` vectors — per-bucket pair
    * work stays ~n·targetBucketSize/2 per table (linear in n), never n².
    * Clamped to [1, 24]. */
  def autoBits(n: Long, targetBucketSize: Long): Int = {
    require(targetBucketSize >= 1, s"targetBucketSize must be >= 1")
    val raw = math.ceil(
      math.log(math.max(1.0, n.toDouble / targetBucketSize)) / math.log(2.0)).toInt
    math.max(1, math.min(24, raw))
  }

  /** Candidate pairs only (no exact re-score): exposed so tests can pin the
    * LSH structural guarantee — E[candidates] ≈ C(n,2)·(1−(1−2⁻ᵇⁱᵗˢ)ᵗ) for
    * near-random vectors, i.e. per-table work ~n²/2ᵇⁱᵗˢ, never n². */
  def signLshCandidates(
      embeddings: DataFrame,
      bits: Int,
      tables: Int = 8,
      seed: Long = 42L,
      maxBucketSize: Int = 100000): DataFrame = {
    // agg-first instead of head(): head() throws on an empty frame, and an
    // agg over zero rows cleanly yields NULL (same guard as lshCosinePairs)
    val dRow = embeddings.agg(first(size(col("embedding"))).as("d")).head()
    val dim = if (dRow.isNullAt(0)) 1 else dRow.getInt(0)
    signLshCandidatePairs(embeddings, bits, tables, seed, maxBucketSize, dim)
  }

  private def signLshScored(
      embeddings: DataFrame,
      minCosine: Double,
      bits: Int,
      tables: Int,
      seed: Long,
      maxBucketSize: Int,
      dim: Int): DataFrame =
    exactCosineVerify(embeddings,
      signLshCandidatePairs(embeddings, bits, tables, seed, maxBucketSize, dim),
      minCosine)

  /** The exact verify stage of [[lshCosinePairs]], standalone: score a
    * candidate pair set (a_doc, b_doc) with the quantized cosine and keep
    * pairs ≥ `minCosine`. cos = dot_q / √(nrm_a·nrm_b) — the 10¹²
    * quantization scales cancel; a tiny conservative margin keeps the
    * quantized score from admitting a pair an exact-double filter would
    * reject at the boundary. Public because it is the PORTABLE half of
    * the LSH pipeline: every arithmetic step (per-element floor products,
    * integer sums, IEEE division and sqrt) reproduces bit-for-bit in any
    * engine, so a pipeline that persists its candidate pairs can have
    * this whole stage independently re-verified over the stored ids —
    * the q25 oracle does exactly that. Runs on candidates only, so cost
    * is ∝ |candidates|, never n². */
  def exactCosineVerify(
      embeddings: DataFrame,
      cands: DataFrame, // (a_doc, b_doc)
      minCosine: Double): DataFrame = {
    val norms = embeddings.select(
      col("vec_id"), col("embedding"),
      graft.exprapi.quantizedDotFast(col("embedding"), col("embedding")).as("nrm"))
    cands
      .join(norms.select(col("vec_id").as("a_doc"), col("embedding").as("a_emb"),
        col("nrm").as("a_nrm")), "a_doc")
      .join(norms.select(col("vec_id").as("b_doc"), col("embedding").as("b_emb"),
        col("nrm").as("b_nrm")), "b_doc")
      .withColumn("cosine",
        graft.exprapi.quantizedDotFast(col("a_emb"), col("b_emb")).cast("double") /
          sqrt(col("a_nrm").cast("double") * col("b_nrm").cast("double")))
      .filter(col("cosine") >= minCosine + 1e-9)
      .select(col("a_doc").as("a_id"), col("b_doc").as("b_id"), col("cosine"))
  }

  private def signLshCandidatePairs(
      embeddings: DataFrame,
      bits: Int,
      tables: Int,
      seed: Long,
      maxBucketSize: Int,
      dim: Int): DataFrame = {
    require(bits >= 1 && bits <= 30, s"bits=$bits out of range")
    val rnd = new scala.util.Random(seed)
    val planes: Seq[Seq[Array[Float]]] =
      Seq.fill(tables)(Seq.fill(bits)(Array.fill(dim)(rnd.nextGaussian().toFloat)))

    // bucket id per table: packed sign bits of the hyperplane projections
    def bucket(tPlanes: Seq[Array[Float]]): Column =
      tPlanes.zipWithIndex.map { case (h, i) =>
        when(graft.exprapi.quantizedDotFast(col("embedding"), typedLit(h.toSeq)) >= 0,
          lit(1 << i)).otherwise(lit(0))
      }.reduce(_ + _)

    val bucketed = embeddings.select(
      col("vec_id") +: (0 until tables).map(t => bucket(planes(t)).as(s"b$t")): _*)
    val stacked = bucketed.selectExpr("vec_id",
      s"stack($tables, ${(0 until tables).map(t => s"$t, b$t").mkString(", ")}) AS (band_id, bucket)")
    // Pair generation is a bucket-equi SELF-JOIN, not the grouped
    // collect_list + lambda expansion Dedup.candidatePairs uses: with few
    // bits, buckets hold n/2^bits vectors and the per-bucket pair lambdas
    // evaluate interpreted — the join stays codegen'd and AQE-splittable.
    // The bucketing subtree is a cheap projection, so computing it for both
    // sides costs less than materializing grouped id lists.
    val big = stacked.groupBy(col("band_id"), col("bucket"))
      .agg(count(lit(1)).as("n")).filter(col("n") > maxBucketSize)
    val pruned = stacked.join(broadcast(big), Seq("band_id", "bucket"), "left_anti")
    pruned.alias("x")
      .join(pruned.alias("y"), Seq("band_id", "bucket"))
      .filter(col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a_doc"), col("y.vec_id").as("b_doc"))
      .distinct()
  }

  /** SPARSE lexical cosine similarity via an inverted-index join — the
    * embedding-free similarity path (complement of the dense ANN family
    * and of [[graft.text.TextOps.bm25]]'s query-scoring shape): docs are
    * similar when their integer-quantized tf/df weight vectors align.
    *
    * Scale shape: the ONLY join key is the token — an inverted-index
    * self-join whose pair space is Σ postings², bounded by `maxDF`
    * (tokens in more than maxDF docs are dropped BEFORE the join: the
    * stopword postings lists are exactly the quadratic blow-up, and past
    * maxDF a token carries no discriminative weight anyway — the same
    * declared-cap discipline as the LSH bucket guards). Weights are the
    * engine's q14 idiom (`tf·10⁶ DIV df` — integer, engine-exact); the
    * final cosine divides the exact integer dot by √(n_a·n_b) computed in
    * IEEE doubles, both operations correctly-rounded and therefore
    * bit-identical on any engine — the whole operator hash-matches an
    * oracle.
    *
    * @return (a_id, b_id, dot, cosine) for pairs with cosine ≥ minCosine,
    *         a_id < b_id. */
  def sparseCosinePairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minCosine: Double = 0.5,
      minDF: Long = 2L,
      maxDF: Long = 400L): DataFrame = {
    import graft.text.TextOps
    val w = TextOps.termFreq(docs, idCol, textCol)
      .join(broadcast(TextOps.docFreq(docs, idCol, textCol, minDF, maxDF)), "token")
      .select(col(idCol), col("token"),
        expr("(tf * 1000000) DIV df").as("wt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val norms = w.groupBy(col(idCol))
      .agg(sum(col("wt") * col("wt")).as("nrm"))
    val dots = w.select(col(idCol).as("a_id"), col("token"), col("wt").as("wa"))
      .join(w.select(col(idCol).as("b_id"), col("token"), col("wt").as("wb")), "token")
      .filter(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(sum(col("wa") * col("wb")).as("dot"))
    dots
      .join(norms.select(col(idCol).as("a_id"), col("nrm").as("na")), "a_id")
      .join(norms.select(col(idCol).as("b_id"), col("nrm").as("nb")), "b_id")
      .withColumn("cosine",
        col("dot").cast("double") /
          sqrt(col("na").cast("double") * col("nb").cast("double")))
      .filter(col("cosine") >= minCosine)
      .select(col("a_id"), col("b_id"), col("dot"), col("cosine"))
  }

  /** Embedding-space outlier detection per group: each vector's squared
    * distance to its group's centroid, ranked — the "misembedded /
    * wrong-language / garbage doc" screen of embedding-based curation
    * (a doc whose vector sits far from its language's centroid is either
    * mislabeled or junk).
    *
    * Exactness design: a float centroid would make both the mean and the
    * distance order-dependent. Instead every coordinate is quantized to
    * an integer once (`floor(10⁶·(x+1024))` — the +1024 shift keeps all
    * sums positive so truncating and flooring division agree on every
    * engine; the shift cancels in differences), the centroid is the
    * integer mean, and the distance is an exact integer Σ(qx−qc)² — a
    * pure long-form relational pipeline (explode → two hash aggs → one
    * ranked window), order-free and hash-portable. At serving scale the
    * same screen runs as a broadcast centroid array + codegen'd quantized
    * dot; this is the oracle-checkable reference form.
    *
    * @return (labelCol, idCol, dist_q) — top `k` most-distant vectors per
    *         group, distance descending, id-ascending tie-break. */
  def embeddingOutliers(
      embeddings: DataFrame, // (idCol, embCol)
      labels: DataFrame,     // (idCol, labelCol)
      idCol: String,
      embCol: String,
      labelCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val long = embeddings
      .join(labels.select(col(idCol), col(labelCol)), idCol)
      .select(col(idCol), col(labelCol), posexplode(col(embCol)).as(Seq("dim", "x")))
      .withColumn("qx", floor(lit(1e6) * (col("x").cast("double") + lit(1024.0))).cast("long"))
    val centroids = long.groupBy(col(labelCol), col("dim"))
      .agg(expr("sum(qx) DIV count(1)").as("qc"))
    val dists = long.join(centroids, Seq(labelCol, "dim"))
      .withColumn("d", (col("qx") - col("qc")) * (col("qx") - col("qc")))
      .groupBy(col(labelCol), col(idCol))
      .agg(sum(col("d")).as("dist_q"))
    graft.ops.Relational.groupedTopK(dists, Seq(labelCol), "dist_q", idCol, k)
      .select(col(labelCol), col(idCol), col("dist_q"))
  }

  /** Int8 global-scale quantization of a float-embedding column — the
    * memory-bandwidth lever at corpus scale: 4× smaller vectors mean 4×
    * more candidates per cache line / scan byte, and one corpus-wide scale
    * keeps RANKING purely integer (every score shares the factor scale², so
    * top-k order needs no rescaling and no float arithmetic at all).
    *
    * Quantizer: `q_i = floor(x_i / g)` with `g = max|x| / 127` over the
    * whole corpus — floor (not round) because floor is bit-identical in
    * every engine, making the int8 path oracle-checkable end to end. The
    * one-time quantization pass uses an interpreted HOF (acceptable for a
    * write-once transform); the hot path is the codegen'd `int8_dot`.
    *
    * Returns (idCol, qv: array<tinyint>). The corpus-wide max is a scalar
    * agg broadcast back — one extra pass, no driver collect. */
  def quantizeInt8Global(
      embeddings: DataFrame,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val g = embeddings.agg(
      (max(array_max(transform(col(embCol), x => abs(x)))).cast("double") / 127.0)
        .as("g"))
    embeddings.crossJoin(broadcast(g))
      .select(col(idCol),
        transform(col(embCol), x => floor(x.cast("double") / col("g")).cast("tinyint"))
          .as("qv"))
  }

  /** Brute-force top-k over int8-quantized vectors (global scale ⇒ integer
    * ranking; ties on candidate id). Same contract as [[bruteForceTopK]]
    * but 4× less candidate bandwidth — the shape to use when the candidate
    * set must stream from storage. */
  def bruteForceTopKInt8(
      queries: DataFrame,   // (q_id, qv: array<tinyint>)
      candidates: DataFrame, // (n_id, cv: array<tinyint>)
      k: Int): DataFrame = {
    val scored = candidates
      .join(broadcast(queries), col("q_id") =!= col("n_id"))
      .withColumn("dot_i8", graft.exprapi.int8Dot(col("qv"), col("cv")))
    graft.ops.Relational
      .groupedTopK(scored, Seq("q_id"), "dot_i8", "n_id", k, descending = true)
      .select(col("q_id"), col("n_id"), col("dot_i8"), col("rank").cast("long").as("rank"))
  }

  /** Deterministic ±1 sign matrix for [[randomSignProjection]]: entry
    * (j, i) is +1 iff the first hex digit of md5("<seed>_<j>_<i>") is even
    * — a pure function of (seed, j, i), so any engine (and the DuckDB
    * oracle) rebuilds the identical matrix with no RNG state to ship. */
  def signMatrix(k: Int, dim: Int, seed: String = "rp"): Seq[Seq[Long]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until k).map { j =>
      (0 until dim).map { i =>
        val h = md.digest(s"${seed}_${j}_$i".getBytes("UTF-8"))
        // first hex char = high nibble of byte 0
        if (((h(0) >> 4) & 1) == 0) 1L else -1L
      }
    }
  }

  /** Johnson–Lindenstrauss-style random sign projection (Achlioptas 2003,
    * database-friendly random projections): project each int8-quantized
    * embedding onto k ±1 sign rows, giving a k-dim integer sketch whose
    * dot products approximate the original up to scale. The cheap
    * dimensionality-reduction front for clustering / coarse filtering —
    * d·4-byte floats become k·8-byte exact ints (k ≪ d), and because both
    * the quantization (floor) and the signs (md5 parity) are engine-
    * independent, the sketch hash-matches the oracle bit for bit.
    *
    * Scale shape: the k×d matrix is a plan literal (a few KB — the
    * broadcast-a-tiny-projection-matrix serving shape), each row's sketch
    * is a local d·k multiply-add, and the only data movement is the scan
    * itself. Output exploded as (id, j, p) — one row per sketch dim. */
  def randomSignProjection(
      embeddings: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      embCol: String = "embedding",
      seed: String = "rp"): DataFrame = {
    require(k > 0, "k must be positive")
    // one-row schema probe for the embedding dim (k-bounded driver pull,
    // same class as the sample-bounded k-means fits)
    val dim = embeddings.select(size(col(embCol)).as("d")).limit(1)
      .collect()(0).getInt(0)
    val signs = signMatrix(k, dim, seed)
    quantizeInt8Global(embeddings, idCol, embCol)
      .select(col(idCol), col("qv"), posexplode(typedLit(signs)).as(Seq("j", "srow")))
      .select(col(idCol), col("j").cast("bigint").as("j"),
        aggregate(
          zip_with(col("qv"), col("srow"), (x, s) => x.cast("long") * s),
          lit(0L), (a, x) => a + x).as("p"))
  }

  /** Embedding-cosine near-duplicate pairs (north-star dedup family,
    * embedding-space method), exact over int8-quantized vectors.
    *
    * The threshold test runs in exact integer arithmetic so the whole
    * path is bit-identical across engines (oracle-checkable, like
    * [[bruteForceTopKInt8]]): for τ² pre-scaled by 10⁴ as `tau2E4`,
    *
    *   cos(a,b) ≥ τ  ⟺  dot > 0  ∧  dot²·10⁴ ≥ tau2E4·|a|²·|b|²
    *
    * over the quantized ints. Both products are ≤ ~2.6e12·d², which
    * overflows Long once d ≳ 1.9k — real embedding dims (2048, 3072) hit
    * that — so the comparison runs in decimal(38,0) (exact to 38 digits,
    * good to d ≈ 1e12; the DuckDB mirror uses HUGEINT). Contract: this is
    * the EXACT baseline for a bounded corpus — the pair space is n²/2 with
    * the right side broadcast, linear per partition, never shuffled;
    * [[lshCosinePairs]] is the scale path when n² is no longer
    * affordable. */
  def int8NearDupPairs(
      embeddings: DataFrame,
      tau2E4: Long,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val q8 = quantizeInt8Global(embeddings, idCol, embCol)
      .withColumn("n2", graft.exprapi.int8Dot(col("qv"), col("qv")))
    val a = q8.select(col(idCol).as("id_a"), col("qv").as("va"), col("n2").as("na2"))
    val b = q8.select(col(idCol).as("id_b"), col("qv").as("vb"), col("n2").as("nb2"))
    val dec = "decimal(38,0)"
    a.join(broadcast(b), col("id_a") < col("id_b"))
      .withColumn("dot_i8", graft.exprapi.int8Dot(col("va"), col("vb")))
      .filter(col("dot_i8") > 0 &&
        col("dot_i8").cast(dec) * col("dot_i8") * lit(10000L) >=
          lit(tau2E4).cast(dec) * col("na2") * col("nb2"))
      .select(col("id_a"), col("id_b"), col("dot_i8"))
  }

  /** A fitted IVF index: the SERVING-SHAPED half of [[ivfTopK]].
    *
    * `cells` — (n_id, cell, n_unit) — is every candidate assigned to its
    * nearest coarse-quantizer cell ONCE, persisted so repeated probes never
    * refit or re-normalize; `centroids` — (cell, c_arr) — is `nlist` rows,
    * always broadcast. At scale, persist the index with [[writeIvfIndex]]
    * (cells partitioned by `cell`) so a probe reads only its cells' files
    * via partition pruning, and serve from [[loadIvfIndex]]. Call
    * [[IvfIndex.unpersist]] when done with an in-memory index. */
  final case class IvfIndex(cells: DataFrame, centroids: DataFrame, nlist: Int) {
    def unpersist(): Unit = cells.unpersist()
  }

  private def l2Normalized(df: DataFrame, embCol: String, outCol: String): DataFrame = {
    import org.apache.spark.ml.feature.Normalizer
    import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
    new Normalizer().setInputCol("rawv").setOutputCol("nv").setP(2.0)
      .transform(df.withColumn("rawv", array_to_vector(col(embCol).cast("array<double>"))))
      .withColumn(outCol, vector_to_array(col("nv")).cast("array<float>"))
      .drop("rawv", "nv", embCol)
  }

  /** Build the IVF index ONCE: L2-normalize candidates, fit the coarse
    * KMeans quantizer (`nlist` cells), assign every candidate to its cell.
    *
    * The quantizer is deliberately cheap: random init + few Lloyd
    * iterations — a COARSE partitioner only routes probes, it does not need
    * converged clusters (FAISS trains IVF on a sample for the same reason),
    * and recall is bought back with `nprobe`, not quantizer quality. The
    * fit is the only iterative action and happens exactly once per index —
    * the serving path ([[ivfProbe]]) is pure plan. */
  def fitIvfIndex(
      candidates: DataFrame, // (n_id, n_emb: array<float>)
      nlist: Int = 16,
      seed: Long = 42L,
      maxIter: Int = 5,
      persistCells: Boolean = true): IvfIndex = {
    import org.apache.spark.ml.clustering.KMeans

    val candVec = l2Normalized(candidates, "n_emb", "n_unit")
      .withColumn("v", org.apache.spark.ml.functions.array_to_vector(
        col("n_unit").cast("array<double>")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val km = new KMeans().setK(nlist).setSeed(seed).setFeaturesCol("v")
      .setPredictionCol("cell").setInitMode("random").setMaxIter(maxIter)
      .fit(candVec)
    // persistCells=true is the SERVING shape (pay the cache once, every
    // probe reuses it — caller releases via IvfIndex.unpersist). The
    // one-shot path passes false: its single probe reads the cells plan
    // exactly once, so caching would be pure overhead plus a leaked block.
    val cellsPlan = km.transform(candVec)
      .select(col("n_id"), col("cell"), col("n_unit"))
    val cells =
      if (persistCells) {
        val c = cellsPlan.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        c.count() // materialize the index before releasing the fit frame
        c
      } else cellsPlan
    candVec.unpersist()

    val spark = candidates.sparkSession
    import spark.implicits._
    val centroids = km.clusterCenters.zipWithIndex.toSeq
      .map { case (c, i) => (i, c.toArray.map(_.toFloat).toSeq) }
      .toDF("cell", "c_arr")
    IvfIndex(cells, centroids, nlist)
  }

  /** Persist a fitted [[IvfIndex]] in its SERVING layout: `cells` written
    * partitioned by `cell` — one directory per coarse cell, so a probe's
    * cell predicate prunes the scan to exactly the probed cells' files
    * (the disk analogue of the in-memory persist; with the probe side
    * broadcast, Spark's dynamic partition pruning injects that predicate
    * into the scan automatically) — and `centroids` as an nlist-row side
    * table. This is the artifact a 100-TB deployment builds once and
    * serves from: every probe after the build reads ~nprobe/nlist of the
    * corpus bytes instead of all of them. */
  def writeIvfIndex(index: IvfIndex, dir: String): Unit = {
    index.cells.write.mode("overwrite").partitionBy("cell")
      .parquet(s"$dir/cells")
    index.centroids.write.mode("overwrite").parquet(s"$dir/centroids")
  }

  /** Load a persisted IVF index. `cells` comes back as a LAZY partitioned
    * scan, deliberately uncached: a disk-resident index serves through
    * partition pruning; caching it would re-materialize the whole corpus
    * in executor memory and defeat the layout. Probes over the loaded
    * index are plan-identical to probes over the fitted one. */
  def loadIvfIndex(spark: org.apache.spark.sql.SparkSession, dir: String): IvfIndex = {
    // partition-directory columns come back typed by directory inference —
    // pin the fitted schema (int cell) regardless of inference settings
    val cells = spark.read.parquet(s"$dir/cells")
      .select(col("n_id"), col("cell").cast("int").as("cell"), col("n_unit"))
    val centroids = spark.read.parquet(s"$dir/centroids")
      .select(col("cell").cast("int").as("cell"), col("c_arr"))
    val nlist = centroids.select(max(col("cell"))).head().getInt(0) + 1
    IvfIndex(cells, centroids, nlist)
  }

  /** Probe a fitted [[IvfIndex]]: each query ranks the broadcast centroids,
    * keeps its `nprobe` highest-affinity cells, and exact-re-ranks (integer-
    * quantized dot) within those cells only — work per query is
    * ~|candidates|·nprobe/nlist. Pure plan: no fit, no action; any number
    * of probe calls share one index.
    *
    * Returns (q_id, n_id, dot_q, rank) like [[bruteForceTopK]] — same
    * quantized scoring, so results are comparable (recall measured in
    * tests). Scoring is over unit vectors (queries normalized here, the
    * index at fit time) so IVF's euclidean cells align with dot ranking. */
  // nprobe highest-affinity cells per query (tiny cross product against
  // the always-broadcast nlist-row centroid table) — (q_id, q_unit, cell)
  private def probedCells(
      index: IvfIndex,
      queries: DataFrame, // (q_id, q_emb: array<float>)
      nprobe: Int): DataFrame = {
    val qUnit = l2Normalized(queries, "q_emb", "q_unit")
      .select(col("q_id"), col("q_unit"))
    graft.ops.Relational.groupedTopK(
      qUnit.crossJoin(broadcast(index.centroids))
        .withColumn("aff", graft.exprapi.quantizedDotFast(col("q_unit"), col("c_arr"))),
      Seq("q_id"), "aff", "cell", nprobe)
      .select(col("q_id"), col("q_unit"), col("cell"))
  }

  /** The CANDIDATE half of [[ivfProbe]]: every (q_id, n_id) pair the probed
    * cells admit, no scoring. Persisting this is what makes the IVF serving
    * result oracle-checkable (the q94 split): the probe selection is the
    * only codebook-dependent stage, and the exact re-rank over stored unit
    * vectors ([[exactRerankFromUnits]]) is pure relational work both
    * engines replay identically. */
  def ivfCandidatePairs(
      index: IvfIndex,
      queries: DataFrame, // (q_id, q_emb: array<float>)
      nprobe: Int = 4): DataFrame =
    index.cells
      .join(broadcast(probedCells(index, queries, nprobe).select(col("q_id"), col("cell"))),
        Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"))

  /** [[ivfCandidatePairs]] for CROSS-DOMAIN retrieval (queries and
    * candidates are DIFFERENT entity spaces — users probing an item
    * index, docs probing a passage index): identical probed-cell join,
    * but NO `q_id =!= n_id` self-exclusion — across domains an id
    * collision is two unrelated entities, and silently dropping their
    * pair would be wrong (the round-10 q186 ALS serve: user ids and item
    * ids overlap numerically). Work per query is still
    * ~|candidates|·nprobe/nlist. */
  def ivfCrossCandidates(
      index: IvfIndex,
      queries: DataFrame, // (q_id, q_emb: array<float>)
      nprobe: Int = 4): DataFrame =
    index.cells
      .join(broadcast(probedCells(index, queries, nprobe).select(col("q_id"), col("cell"))),
        Seq("cell"))
      .select(col("q_id"), col("n_id"))

  def ivfProbe(
      index: IvfIndex,
      queries: DataFrame, // (q_id, q_emb: array<float>)
      k: Int,
      nprobe: Int = 4): DataFrame = {
    // exact re-rank within probed cells only
    val scored = index.cells
      .join(broadcast(probedCells(index, queries, nprobe)), Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("dot_q", graft.exprapi.quantizedDotFast(col("q_unit"), col("n_unit")))
    graft.ops.Relational
      .groupedTopK(scored, Seq("q_id"), "dot_q", "n_id", k)
      .select(col("q_id"), col("n_id"), col("dot_q"), col("rank").cast("long").as("rank"))
  }

  /** Scale path #2: cosine IVF (inverted-file) top-k — the one-shot
    * convenience form: [[fitIvfIndex]] (uncached cells — the single probe
    * reads them once, so nothing is left persisted) + [[ivfProbe]].
    * For repeated query batches, hold the [[IvfIndex]] and call
    * [[ivfProbe]] directly — the fit then happens once, not per batch. */
  def ivfTopK(
      queries: DataFrame,   // (q_id, q_emb: array<float>)
      candidates: DataFrame, // (n_id, n_emb: array<float>)
      k: Int,
      nlist: Int = 16,
      nprobe: Int = 4): DataFrame = {
    val index = fitIvfIndex(candidates, nlist, persistCells = false)
    ivfProbe(index, queries, k, nprobe)
  }

  // -------------------------------------------------------------------------
  // Product quantization (scale path #3 — the BANDWIDTH lever)
  // -------------------------------------------------------------------------

  /** A fitted PQ index (Jégou et al. 2011; see [[graft.expr.PqOps]]).
    *
    * `codes` — (n_id, codes: array<int> of m entries) — is the compressed
    * corpus: m small codes instead of `dim` floats, a 16–32× cut in what
    * the ADC scan reads. That is the 100-TB story IVF alone lacks: IVF
    * prunes WHICH vectors are scored, PQ shrinks WHAT scoring reads —
    * FAISS's IVFPQ composes both, and [[pqProbe]]'s scan-side is exactly
    * the composable half. The codebook (m·kc·subDim floats, a few KiB)
    * lives driver-side and rides query plans as a reference object. */
  final case class PqIndex(
      codes: DataFrame,
      codebook: Array[Float],
      m: Int,
      kc: Int,
      subDim: Int) {
    def unpersist(): Unit = codes.unpersist()
  }

  /** Train the per-subspace codebooks and encode the corpus ONCE.
    *
    * Training is DRIVER-LOCAL Lloyd's over a bounded sample — one
    * distributed action collects ≤ `trainSampleMax` normalized vectors
    * (sorted by id ⇒ deterministic for a given seed and dataset), then
    * all m·kc codebooks train in milliseconds of driver math. This is
    * FAISS's design point: PQ codebooks need distributional COVERAGE,
    * not convergence on every corpus point, so a 64k-row sample trains
    * them as well as 100 TB would — and m distributed KMeans jobs for
    * m tiny fits would be pure scheduler overhead. At corpus scale set
    * `trainFraction` so fraction·n ≈ trainSampleMax (the sample is
    * pushed into the scan; the sort+limit then touches only sampled
    * rows). The bounded collect is the same documented exception as
    * [[graft.ml.FastCountVectorizer]]'s vocabulary: a driver-side MODEL
    * artifact, capped by construction, never corpus-sized. Encoding is
    * one codegen'd projection pass; [[pqProbe]] is pure plan. */
  def fitPqIndex(
      candidates: DataFrame, // (n_id, n_emb: array<float>)
      m: Int = 8,
      kc: Int = 16,
      seed: Long = 42L,
      maxIter: Int = 15,
      trainFraction: Double = 1.0,
      trainSampleMax: Int = 65536,
      persistCodes: Boolean = true): PqIndex = {
    require(m >= 1 && kc >= 2, s"need m >= 1 subspaces and kc >= 2 centroids, got m=$m kc=$kc")
    require(trainFraction > 0.0 && trainFraction <= 1.0, s"trainFraction=$trainFraction")
    require(trainSampleMax >= kc, s"trainSampleMax=$trainSampleMax < kc=$kc")

    val candUnit = l2Normalized(candidates, "n_emb", "n_unit")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sampled =
      if (trainFraction < 1.0)
        candUnit.sample(withReplacement = false, trainFraction, seed)
      else candUnit
    val train: Array[Array[Float]] = sampled
      .sort(col("n_id")).limit(trainSampleMax)
      .select(col("n_unit")).collect()
      .map(_.getSeq[Float](0).toArray)
    require(train.nonEmpty, "fitPqIndex: empty candidate set")
    val dim = train(0).length
    require(dim % m == 0, s"dim=$dim must divide into m=$m equal subspaces")
    val subDim = dim / m

    val codebook = new Array[Float](m * kc * subDim)
    (0 until m).foreach { j =>
      val sub = PqOpsTrain.lloyd(train, j * subDim, subDim, kc, maxIter, seed + j)
      System.arraycopy(sub, 0, codebook, j * kc * subDim, kc * subDim)
    }

    val codesPlan = candUnit.select(col("n_id"),
      graft.exprapi.pqEncode(col("n_unit"), codebook, m, kc, subDim).as("codes"))
    val codes =
      if (persistCodes) {
        val c = codesPlan.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        c.count() // materialize before releasing the normalized frame
        c
      } else codesPlan
    candUnit.unpersist()
    PqIndex(codes, codebook, m, kc, subDim)
  }

  /** Probe a fitted [[PqIndex]]: ADC scan + exact re-rank.
    *
    * Per query, ONE [[graft.expr.PqAdcTable]] evaluation amortizes all
    * float work (m·kc·subDim mults); every candidate then costs m table
    * lookups ([[graft.expr.PqAdcDot]]) over its m codes — the scan reads
    * the compressed codes column only, never raw vectors. The ADC top
    * `k·rerankFactor` per query are exact-re-ranked (integer-quantized
    * dot) against the full vectors, fetched via a broadcast semi-shaped
    * join that touches only those rows — so raw-vector bandwidth is
    * O(queries·k·rerankFactor), not O(corpus). Pure plan: no fit, no
    * action; any number of probes share one index.
    *
    * Returns (q_id, n_id, dot_q, rank) like [[bruteForceTopK]]/[[ivfProbe]]
    * — same exact final scoring, so recall is directly comparable. */
  def pqProbe(
      index: PqIndex,
      queries: DataFrame,    // (q_id, q_emb: array<float>)
      candidates: DataFrame, // (n_id, n_emb: array<float>) — re-rank source
      k: Int,
      rerankFactor: Int = 4): DataFrame = {
    require(k >= 1 && rerankFactor >= 1, s"k=$k rerankFactor=$rerankFactor")
    val qTab = l2Normalized(queries, "q_emb", "q_unit")
      .select(col("q_id"), col("q_unit"),
        graft.exprapi.pqAdcTable(
          col("q_unit"), index.codebook, index.m, index.kc, index.subDim).as("adc_tab"))

    val scored = index.codes
      .join(broadcast(qTab), col("q_id") =!= col("n_id"))
      .withColumn("adc", graft.exprapi.pqAdcDot(col("adc_tab"), col("codes"), index.kc))
    val shortlist = graft.ops.Relational
      .groupedTopK(scored, Seq("q_id"), "adc", "n_id", k * rerankFactor)
      .select(col("q_id"), col("q_unit"), col("n_id"))

    val exact = l2Normalized(candidates, "n_emb", "n_unit")
      .join(broadcast(shortlist), Seq("n_id"))
      .withColumn("dot_q", graft.exprapi.quantizedDotFast(col("q_unit"), col("n_unit")))
    graft.ops.Relational
      .groupedTopK(exact, Seq("q_id"), "dot_q", "n_id", k)
      .select(col("q_id"), col("n_id"), col("dot_q"), col("rank").cast("long").as("rank"))
  }

  /** Driver-local Lloyd's k-means for one PQ subspace (see [[fitPqIndex]]
    * for why this is driver math, not a distributed fit). Deterministic:
    * seeded k-means++ init (Arthur & Vassilvitskii 2007 — D² sampling
    * spreads seeds, which matters on the near-uniform subspace
    * distributions PQ sees), fixed iteration count, empty clusters keep
    * their previous centroid. All arithmetic in double, centroids stored
    * as float (the codebook's storage type). */
  private[llm] object PqOpsTrain {
    def lloyd(
        rows: Array[Array[Float]],
        offset: Int,
        subDim: Int,
        kc: Int,
        maxIter: Int,
        seed: Long): Array[Float] = {
      val n = rows.length
      val rnd = new scala.util.Random(seed)
      // k-means++ seeding: first seed uniform, each next ∝ D²(x)
      val centroids = Array.ofDim[Double](kc, subDim)
      def copyRow(i: Int, c: Int): Unit = {
        var d = 0
        while (d < subDim) { centroids(c)(d) = rows(i)(offset + d).toDouble; d += 1 }
      }
      copyRow(rnd.nextInt(n), 0)
      val minD2 = Array.fill(n)(Double.MaxValue)
      var seeded = 1
      while (seeded < kc) {
        var i = 0
        var total = 0.0
        while (i < n) {
          var d2 = 0.0
          var d = 0
          while (d < subDim) {
            val diff = rows(i)(offset + d).toDouble - centroids(seeded - 1)(d)
            d2 += diff * diff
            d += 1
          }
          if (d2 < minD2(i)) minD2(i) = d2
          total += minD2(i)
          i += 1
        }
        if (total <= 0.0) copyRow(rnd.nextInt(n), seeded) // all points coincide
        else {
          var target = rnd.nextDouble() * total
          var pick = 0
          i = 0
          var acc = 0.0
          while (i < n && acc + minD2(i) < target) { acc += minD2(i); pick = i + 1; i += 1 }
          copyRow(math.min(pick, n - 1), seeded)
        }
        seeded += 1
      }
      val assign = new Array[Int](n)
      var iter = 0
      while (iter < maxIter) {
        var i = 0
        while (i < n) {
          var best = 0
          var bestD = Double.MaxValue
          var c = 0
          while (c < kc) {
            var d2 = 0.0
            var d = 0
            while (d < subDim) {
              val diff = rows(i)(offset + d).toDouble - centroids(c)(d)
              d2 += diff * diff
              d += 1
            }
            if (d2 < bestD) { bestD = d2; best = c }
            c += 1
          }
          assign(i) = best
          i += 1
        }
        val sums = Array.ofDim[Double](kc, subDim)
        val counts = new Array[Int](kc)
        i = 0
        while (i < n) {
          val c = assign(i)
          counts(c) += 1
          var d = 0
          while (d < subDim) { sums(c)(d) += rows(i)(offset + d).toDouble; d += 1 }
          i += 1
        }
        var c = 0
        while (c < kc) {
          if (counts(c) > 0) {
            var d = 0
            while (d < subDim) { centroids(c)(d) = sums(c)(d) / counts(c); d += 1 }
          }
          c += 1
        }
        iter += 1
      }
      val out = new Array[Float](kc * subDim)
      var c = 0
      while (c < kc) {
        var d = 0
        while (d < subDim) { out(c * subDim + d) = centroids(c)(d).toFloat; d += 1 }
        c += 1
      }
      out
    }
  }

  /** One-shot PQ top-k: [[fitPqIndex]] (uncached codes — the single scan
    * reads them once) + [[pqProbe]]. Hold the [[PqIndex]] and call
    * [[pqProbe]] directly for repeated query batches. */
  def pqTopK(
      queries: DataFrame,
      candidates: DataFrame,
      k: Int,
      m: Int = 8,
      kc: Int = 16,
      rerankFactor: Int = 4): DataFrame = {
    val index = fitPqIndex(candidates, m, kc, persistCodes = false)
    pqProbe(index, queries, candidates, k, rerankFactor)
  }

  /** The ADC-prune half of [[pqProbe]], standalone — [[ivfPqShortlist]]'s
    * contract for the flat-PQ path: full ADC scan of the codes, top
    * `k·rerankFactor` per query, bare (q_id, n_id) ids. Persist this plus
    * [[unitVectors]] and the remaining exact re-rank
    * ([[exactRerankFromUnits]]) replays bit-for-bit in any engine. */
  def pqShortlist(
      index: PqIndex,
      queries: DataFrame, // (q_id, q_emb: array<float>)
      k: Int,
      rerankFactor: Int = 4): DataFrame = {
    require(k >= 1 && rerankFactor >= 1, s"k=$k rerankFactor=$rerankFactor")
    val qTab = l2Normalized(queries, "q_emb", "q_unit")
      .select(col("q_id"), col("q_unit"),
        graft.exprapi.pqAdcTable(
          col("q_unit"), index.codebook, index.m, index.kc, index.subDim).as("adc_tab"))
    val scored = index.codes
      .join(broadcast(qTab), col("q_id") =!= col("n_id"))
      .withColumn("adc", graft.exprapi.pqAdcDot(col("adc_tab"), col("codes"), index.kc))
    graft.ops.Relational
      .groupedTopK(scored, Seq("q_id"), "adc", "n_id", k * rerankFactor)
      .select(col("q_id"), col("n_id"))
  }

  // -------------------------------------------------------------------------
  // IVFPQ — the composed index (FAISS's workhorse at corpus scale)
  // -------------------------------------------------------------------------

  /** IVF cells × PQ codes in one index: IVF prunes WHICH vectors each
    * query scores (~nprobe/nlist of the corpus), PQ shrinks WHAT that
    * scoring reads (m codes, not dim floats) — multiplying to a
    * bandwidth cut of (nlist/nprobe)·(dim·4/m·codeBytes) versus a brute
    * scan. `entries` is (n_id, cell, codes); at scale write it bucketed
    * by `cell` so a probe's scan prunes to its cells' files. */
  final case class IvfPqIndex(
      entries: DataFrame,
      centroids: DataFrame,
      codebook: Array[Float],
      nlist: Int,
      m: Int,
      kc: Int,
      subDim: Int) {
    def unpersist(): Unit = entries.unpersist()
  }

  /** Fit both quantizers over one normalized pass: the coarse KMeans
    * (cells, distributed — it routes data) and the PQ codebooks
    * (driver-local over a bounded sample, see [[fitPqIndex]]), then
    * assign + encode every candidate in a single projection. */
  def fitIvfPqIndex(
      candidates: DataFrame, // (n_id, n_emb: array<float>)
      nlist: Int = 16,
      m: Int = 8,
      kc: Int = 16,
      seed: Long = 42L,
      trainSampleMax: Int = 65536,
      persistEntries: Boolean = true): IvfPqIndex = {
    val ivf = fitIvfIndex(candidates, nlist, seed, persistCells = persistEntries)
    // PQ trains on the SAME normalized vectors the cells carry (n_unit),
    // so the codebook quantizes exactly what the ADC scan approximates
    val train: Array[Array[Float]] = ivf.cells
      .sort(col("n_id")).limit(trainSampleMax)
      .select(col("n_unit")).collect()
      .map(_.getSeq[Float](0).toArray)
    require(train.nonEmpty, "fitIvfPqIndex: empty candidate set")
    val dim = train(0).length
    require(dim % m == 0, s"dim=$dim must divide into m=$m equal subspaces")
    val subDim = dim / m
    val codebook = new Array[Float](m * kc * subDim)
    (0 until m).foreach { j =>
      val sub = PqOpsTrain.lloyd(train, j * subDim, subDim, kc, 15, seed + j)
      System.arraycopy(sub, 0, codebook, j * kc * subDim, kc * subDim)
    }
    val entriesPlan = ivf.cells.select(col("n_id"), col("cell"),
      graft.exprapi.pqEncode(col("n_unit"), codebook, m, kc, subDim).as("codes"))
    val entries =
      if (persistEntries) {
        val e = entriesPlan.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        e.count() // materialize before releasing the cells frame
        e
      } else entriesPlan
    if (persistEntries) ivf.cells.unpersist()
    IvfPqIndex(entries, ivf.centroids, codebook, nlist, m, kc, subDim)
  }

  /** Persist a fitted [[IvfPqIndex]] in its SERVING layout — the artifact
    * a 100-TB deployment builds once and probes forever: `entries`
    * partitioned by `cell` (one directory per coarse cell, so a probe
    * scan prunes to its nprobe cells' files), `centroids` as an
    * nlist-row side table, and the codebook + shape parameters as a
    * one-row `meta` parquet (a few KiB — the PQ model artifact). The
    * layout composes both levers on the READ path: partition pruning
    * cuts WHICH files a probe opens (nprobe/nlist of them), PQ codes cut
    * WHAT those files hold (m bytes per vector, not dim·4). */
  def writeIvfPqIndex(index: IvfPqIndex, dir: String): Unit = {
    index.entries.write.mode("overwrite").partitionBy("cell")
      .parquet(s"$dir/entries")
    index.centroids.write.mode("overwrite").parquet(s"$dir/centroids")
    val spark = index.centroids.sparkSession
    import spark.implicits._
    Seq((index.nlist, index.m, index.kc, index.subDim, index.codebook.toSeq))
      .toDF("nlist", "m", "kc", "sub_dim", "codebook")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** Load a persisted IVFPQ index. `entries` comes back as a LAZY
    * partitioned scan, deliberately uncached — the disk layout serves
    * through partition pruning, and [[ivfPqProbe]]'s
    * `entries ⋈ broadcast(probes)` on the partition column is exactly
    * the shape Spark's DYNAMIC partition pruning rewrites: the probed
    * cell set (computed at runtime from the broadcast side) is injected
    * into the scan as a partition filter, so each probe batch opens only
    * its nprobe cells' directories with no hand-plumbed cell list.
    * Probes over the loaded index are result-identical to probes over
    * the fitted one (pinned in SimilaritySpec). */
  def loadIvfPqIndex(
      spark: org.apache.spark.sql.SparkSession, dir: String): IvfPqIndex = {
    val meta = spark.read.parquet(s"$dir/meta").head()
    val entries = spark.read.parquet(s"$dir/entries")
      // partition-directory columns come back typed by directory
      // inference — pin the fitted schema (int cell)
      .select(col("n_id"), col("cell").cast("int").as("cell"), col("codes"))
    val centroids = spark.read.parquet(s"$dir/centroids")
      .select(col("cell").cast("int").as("cell"), col("c_arr"))
    IvfPqIndex(entries, centroids,
      meta.getAs[scala.collection.Seq[Float]]("codebook").toArray,
      meta.getAs[Int]("nlist"), meta.getAs[Int]("m"), meta.getAs[Int]("kc"),
      meta.getAs[Int]("sub_dim"))
  }

  /** Incremental index maintenance: encode NEW vectors against a
    * PERSISTED index's frozen quantizers and append them to its serving
    * layout — no refit, no rewrite of existing entries. Routing uses the
    * same centroid-affinity rule the PROBE side ranks cells by
    * (quantized dot on unit vectors), so an appended vector lives
    * exactly where the queries that should find it will look; PQ codes
    * come from the stored codebook, so appended codes are
    * bit-compatible with fitted ones. The append writes ONLY the
    * routed-to `cell=` directories (parquet append): existing files are
    * never touched, and a concurrent reader sees either the old or the
    * extended index, never a partial rewrite of history.
    *
    * This is the standard IVF maintenance story (FAISS `add` after
    * `train`): quantizer drift under sustained growth is handled by a
    * periodic refit + swap, not per-batch retraining. Returns the
    * appended `(n_id, cell)` assignments for observability. */
  def appendToIvfPqIndex(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      newVectors: DataFrame): DataFrame = { // (n_id, n_emb: array<float>)
    val index = loadIvfPqIndex(spark, dir)
    val units = l2Normalized(newVectors, "n_emb", "n_unit")
      .select(col("n_id"), col("n_unit"))
    val routed = graft.ops.Relational.groupedTopK(
      units.crossJoin(broadcast(index.centroids))
        .withColumn("aff", graft.exprapi.quantizedDotFast(col("n_unit"), col("c_arr"))),
      Seq("n_id"), "aff", "cell", 1)
      .select(col("n_id"), col("cell"), col("n_unit"))
    val entries = routed.select(col("n_id"), col("cell"),
      graft.exprapi.pqEncode(
        col("n_unit"), index.codebook, index.m, index.kc, index.subDim).as("codes"))
    entries.write.mode("append").partitionBy("cell").parquet(s"$dir/entries")
    spark.read.parquet(s"$dir/entries")
      .join(routed.select(col("n_id")), Seq("n_id"), "left_semi")
      .select(col("n_id"), col("cell").cast("int").as("cell"))
  }

  /** Quantizer-drift report — the monitoring signal that tells an
    * [[appendToIvfPqIndex]]-maintained index when its FROZEN quantizers
    * need a refit: per (cell, cohort) — cohort = `fitted` vs `appended`
    * — the entry count and the exact integer SUM of quantized
    * centroid affinities (unit · centroid, the probe-side routing
    * score). A healthy append keeps the appended cohort's mean affinity
    * near the fitted cohort's; sustained decay means new data has
    * drifted off the trained centroids and recall is leaking — time for
    * the periodic refit + swap.
    *
    * Everything is read from PERSISTED serving artifacts (entries,
    * centroids, units, appended-ids), the affinity is the same integer
    * quantization the rerank oracle replays, and the aggregate is an
    * integer sum — so the whole report is engine-portable and
    * hash-checkable. One narrow join per entry row; centroids broadcast. */
  def indexDriftReport(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String,
      unitsDir: String,
      appendedDir: String): DataFrame = {
    val idx = loadIvfPqIndex(spark, indexDir)
    val units = spark.read.parquet(unitsDir)
      .select(col("vec_id").as("n_id"), col("unit"))
    val appended = spark.read.parquet(appendedDir)
      .select(col("n_id"), lit(1).as("is_new"))
    idx.entries.select(col("n_id"), col("cell"))
      .join(units, "n_id")
      .join(broadcast(idx.centroids), "cell")
      .join(appended, Seq("n_id"), "left_outer")
      .withColumn("aff",
        graft.exprapi.quantizedDotFast(col("unit"), col("c_arr")))
      .withColumn("cohort",
        when(col("is_new") === 1, "appended").otherwise("fitted"))
      .groupBy(col("cell"), col("cohort"))
      .agg(count(lit(1)).as("n"), sum(col("aff")).as("sum_aff_q"))
  }

  /** Probe an [[IvfPqIndex]]: rank the broadcast centroids per query,
    * ADC-scan only the `nprobe` chosen cells' codes, exact-re-rank the
    * top `k·rerankFactor`. Work per query ≈ |corpus|·(nprobe/nlist)·m
    * lookups + k·rerankFactor full-vector dots — pure plan, no actions. */
  def ivfPqProbe(
      index: IvfPqIndex,
      queries: DataFrame,    // (q_id, q_emb: array<float>)
      candidates: DataFrame, // (n_id, n_emb: array<float>) — re-rank source
      k: Int,
      nprobe: Int = 4,
      rerankFactor: Int = 4): DataFrame = {
    require(k >= 1 && rerankFactor >= 1 && nprobe >= 1,
      s"k=$k rerankFactor=$rerankFactor nprobe=$nprobe")
    val qUnit = l2Normalized(queries, "q_emb", "q_unit")
      .select(col("q_id"), col("q_unit"),
        graft.exprapi.pqAdcTable(
          col("q_unit"), index.codebook, index.m, index.kc, index.subDim).as("adc_tab"))

    val probes = graft.ops.Relational.groupedTopK(
      qUnit.crossJoin(broadcast(index.centroids))
        .withColumn("aff", graft.exprapi.quantizedDotFast(col("q_unit"), col("c_arr"))),
      Seq("q_id"), "aff", "cell", nprobe)
      .select(col("q_id"), col("q_unit"), col("adc_tab"), col("cell"))

    val scored = index.entries.join(broadcast(probes), Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("adc", graft.exprapi.pqAdcDot(col("adc_tab"), col("codes"), index.kc))
    val shortlist = graft.ops.Relational
      .groupedTopK(scored, Seq("q_id"), "adc", "n_id", k * rerankFactor)
      .select(col("q_id"), col("q_unit"), col("n_id"))

    val exact = l2Normalized(candidates, "n_emb", "n_unit")
      .join(broadcast(shortlist), Seq("n_id"))
      .withColumn("dot_q", graft.exprapi.quantizedDotFast(col("q_unit"), col("n_unit")))
    graft.ops.Relational
      .groupedTopK(exact, Seq("q_id"), "dot_q", "n_id", k)
      .select(col("q_id"), col("n_id"), col("dot_q"), col("rank").cast("long").as("rank"))
  }

  /** The ADC-prune half of [[ivfPqProbe]], standalone: centroid ranking,
    * cell-pruned ADC scan, top `k·rerankFactor` shortlist — everything
    * that depends on the (non-portable) PQ codebooks — returning bare
    * (q_id, n_id) candidate ids. The split's point: a pipeline that
    * persists this shortlist (plus [[unitVectors]]) hands the REMAINING
    * work — exact quantized dots + top-k ranking — to
    * [[exactRerankFromUnits]], whose every step reproduces bit-for-bit in
    * any engine; the q94 oracle replays it over the stored files. */
  def ivfPqShortlist(
      index: IvfPqIndex,
      queries: DataFrame, // (q_id, q_emb: array<float>)
      k: Int,
      nprobe: Int = 4,
      rerankFactor: Int = 4): DataFrame = {
    require(k >= 1 && rerankFactor >= 1 && nprobe >= 1,
      s"k=$k rerankFactor=$rerankFactor nprobe=$nprobe")
    val qUnit = l2Normalized(queries, "q_emb", "q_unit")
      .select(col("q_id"), col("q_unit"),
        graft.exprapi.pqAdcTable(
          col("q_unit"), index.codebook, index.m, index.kc, index.subDim).as("adc_tab"))
    val probes = graft.ops.Relational.groupedTopK(
      qUnit.crossJoin(broadcast(index.centroids))
        .withColumn("aff", graft.exprapi.quantizedDotFast(col("q_unit"), col("c_arr"))),
      Seq("q_id"), "aff", "cell", nprobe)
      .select(col("q_id"), col("q_unit"), col("adc_tab"), col("cell"))
    val scored = index.entries.join(broadcast(probes), Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("adc", graft.exprapi.pqAdcDot(col("adc_tab"), col("codes"), index.kc))
    graft.ops.Relational
      .groupedTopK(scored, Seq("q_id"), "adc", "n_id", k * rerankFactor)
      .select(col("q_id"), col("n_id"))
  }

  /** L2-normalized unit vectors as a persistable frame (vec_id, unit) —
    * the serving-side artifact [[exactRerankFromUnits]] and its oracle
    * both read, so the normalization arithmetic happens ONCE and every
    * consumer scores identical stored float bits. */
  def unitVectors(embeddings: DataFrame): DataFrame =
    l2Normalized(embeddings.select(col("vec_id"), col("embedding").as("q_emb")),
      "q_emb", "unit")
      .select(col("vec_id"), col("unit"))

  /** Exact re-rank over PERSISTED unit vectors: join the shortlist's ids
    * to their stored units, integer-quantized dot, top-k with total-order
    * tie-break. Pure relational work over stored bits — the portable half
    * of the IVFPQ serving path (hash-checked by the q94 oracle). */
  def exactRerankFromUnits(
      units: DataFrame,     // (vec_id, unit: array<float>)
      shortlist: DataFrame, // (q_id, n_id)
      k: Int): DataFrame = {
    val scored = shortlist
      .join(units.select(col("vec_id").as("q_id"), col("unit").as("q_unit")), "q_id")
      .join(units.select(col("vec_id").as("n_id"), col("unit").as("n_unit")), "n_id")
      .withColumn("dot_q", graft.exprapi.quantizedDotFast(col("q_unit"), col("n_unit")))
    graft.ops.Relational
      .groupedTopK(scored, Seq("q_id"), "dot_q", "n_id", k)
      .select(col("q_id"), col("n_id"), col("dot_q"), col("rank").cast("long").as("rank"))
  }
}
