package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Relational
import graft.text.TextOps
import QueryShared._

/** Deduplication family: exact, MinHash-LSH, SimHash, winnow,
Jaccard verify, clustering, incremental, semantic (SemDeDup), span-level,
decontamination (exact/Bloom/containment), survivor selection.
  *
  * Extracted verbatim from the original single-file SparkEntry map; see
  * [[graft.SparkEntry]] for the driver contract these entries satisfy
  * (column names aligned with the DuckDB oracle SQL pairwise).
  */
object DedupQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // North-star near-dedup: MinHash (k=6, md5-portable) -> 3 LSH bands of
    // r=2 -> candidate pairs. Join key is the band bucket, so pair space is
    // sum(bucket^2), never n^2 (llm.Dedup scale notes).
    "q16_near_dedup" -> ((s, dir) =>
      llm.Dedup.candidatePairs(
        llm.Dedup.bandBuckets(Tables.documents(s, dir), "doc_id", "text",
          numHashes = 6, bands = 3, shingleWidth = 3),
        "doc_id")),


    // North-star rolling-hash fingerprinting: winnowing (MOSS) over the
    // TOKEN stream — min-hash per sliding window of w=4 over 3-token
    // shingle hashes, then fingerprints shared by ≥2 docs. Guarantee: any
    // shared run of ≥ k+w-1 = 6 tokens is caught. RELATIONAL formulation:
    // native word_shingles → posexplode → codegen'd md5 → window-frame min
    // → distinct; every shingle hashes ONCE, the shuffle carries
    // (doc, pos, hash) triples, the window sort is per-doc-partition.
    // (Character-level winnowing lives in TextOps.winnowFingerprints /
    // native winnow_fps — q36; token granularity costs ~7× fewer digests
    // per doc at the same near-dup power.)
    "q35_winnow" -> ((s, dir) => {
      val w = 4
      val hashes = Tables.documents(s, dir)
        .select(col("doc_id"),
          graft.exprapi.wordShingles(TextOps.tokens(col("text")), 3).as("sh"))
        .select(col("doc_id"), size(col("sh")).as("n"),
          posexplode(col("sh")).as(Seq("pos", "g")))
        .filter(col("n") >= w) // a full window must fit
        .select(col("doc_id"), col("pos"),
          (col("pos") <= col("n") - w).as("is_start"),
          conv(substring(md5(col("g")), 1, 15), 16, 10).cast("long").as("h"))
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("pos"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.currentRow, w - 1)
      hashes
        .withColumn("fp", min(col("h")).over(win))
        .filter(col("is_start"))
        .select(col("doc_id"), col("fp")).distinct()
        .groupBy(col("fp"))
        .agg(count(lit(1)).as("n_docs"))
        .filter(col("n_docs") >= 2)
    }),


    // training-pipeline: benchmark decontamination — corpus docs sharing
    // any EXACT word n-gram with the held-out eval split. n=4 here (the
    // production check uses 8–13) because the fixture's ~50-word
    // vocabulary has no 8-gram collisions to find
    "q70_decontaminate" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      llm.Dedup.contaminationReport(
        docs.filter(col("doc_id") % 100 =!= 0),
        docs.filter(col("doc_id") % 100 === 0),
        "doc_id", "text", n = 4)
    }),


    // North-star dedup, n-gram Jaccard method oracle-checked end to end:
    // portable md5 LSH candidates (q16's derivation) + exact Jaccard
    // verify over distinct 3-shingle sets. Same int-ratio division on both
    // engines ⇒ the double jaccard column hash-matches too.
    "q45_jaccard_dedup" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      llm.Dedup.jaccardVerify(
        docs,
        llm.Dedup.candidatePairs(
          llm.Dedup.bandBuckets(docs, "doc_id", "text",
            numHashes = 6, bands = 3, shingleWidth = 3),
          "doc_id"),
        "doc_id", "text", threshold = 0.5)
    }),

    // LSH recall measured and hash-certified (q137's discipline applied
    // to the dedup family): exact Jaccard ≥ 0.5 pairs from the inverted
    // index (lower-id endpoint sampled — the declared-quadratic ground
    // truth is bounded by the sample), LEFT-joined against the
    // 6-hash/3-band candidate set. Threshold 0.35 deliberately sits in
    // the banding curve's partial-recall regime (P = 1 − (1 − J²)³ ≈
    // 0.32 at J = 0.35, ≈ 0.58 at 0.5) so the measurement can actually
    // show loss; the report states recall per sampled doc.
    "q138_lsh_recall" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val exact = llm.Dedup.exactJaccardPairs(docs, "doc_id", "text",
        threshold = 0.35, sampleFilter = col("doc_id") % 5 === 0)
      val cand = llm.Dedup.candidatePairs(
          llm.Dedup.bandBuckets(docs, "doc_id", "text",
            numHashes = 6, bands = 3, shingleWidth = 3),
          "doc_id")
        .filter(col("a_doc") % 5 === 0)
        .withColumn("hit", lit(1))
      exact.join(cand, Seq("a_doc", "b_doc"), "left_outer")
        .groupBy(col("a_doc"))
        .agg(count(lit(1)).as("n_exact"),
          sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hit"))
        .withColumn("recall_ppm", expr("(n_hit * 1000000) DIV n_exact"))
    }),


    // PERSISTED HAMMING INDEX serving (round 13) — the layout that
    // turns perceptual near-dup lookup into a partition-pruned read at
    // 100 TB: the image corpus's dHash signatures explode into banded
    // (band, key) slices hive-partitioned by (band, key mod 64)
    // ([[graft.llm.Dedup.writeHammingIndex]] — the hamming analogue of
    // the IVF cell layout), and a probe batch reads ONLY the kb=
    // directories its own keys hash into (bounded by the LAYOUT:
    // ≤ 64 buckets, never by index size). Probes are perturbed copies
    // of the first 50 originals — ground truth known; results are
    // pair-identical to the unpruned cross join (DedupSpec pins
    // equality + the pruned scan). Oracle recovers the base signatures
    // from the exploded layout (DISTINCT id, sig) and replays the
    // banding relationally.
    "q476_hamming_index_serve" -> ((s, dir) => {
      val imgs = multimodal.Multimodal.syntheticAssets(s, 900)
        .filter(col("modality") === "image")
      // ensure-style build shared with q477's streamed ingestion: the
      // exploded hive layout is written once per namespace (the
      // q94-index discipline); the probe is the per-run serving surface
      QueryShared.ensureImageHammingIndex(s)
      val probes = imgs.filter(col("asset_id") < 150).select(
        (col("asset_id") + 1000000L).as("asset_id"), col("modality"),
        concat(substring(col("content"), 1, 54),
          lit(Array[Byte](0x7f.toByte)),
          expr("substring(content, 56, length(content) - 55)"))
          .as("content"),
        col("meta"))
      sources.Sources.writeParquet(
        multimodal.Multimodal.imageSignatures(probes)
          .withColumnRenamed("asset_id", "q_id"),
        predsPath("q476_probe_sigs"))
      llm.Dedup.probeHammingIndex(s, predsPath("q476_index"),
        s.read.parquet(predsPath("q476_probe_sigs")), "q_id", "sig",
        hamMax = perceptualHamming._1, bands = perceptualHamming._2,
        kbBuckets = QueryShared.IndexKbBuckets)
    }),


    // Hamming-index SEGMENT MERGE (round 14) — the maintenance step the
    // persisted layout needs in production: two ingest epochs (the
    // corpus split at asset 450) each build their own q476-shape
    // layout, then merge into ONE (stored (id, sig) pairs unioned
    // distinct and re-banded — no signature recompute; both layout
    // markers validated). The served surface is a probe of the MERGED
    // index; DedupSpec pins the equivalence law probe(merged) ==
    // distinct(probe(a) ∪ probe(b)), and the oracle replays the probe
    // from the merged layout's stored bits (the q476 banding replay).
    "q502_index_merge" -> ((s, dir) => {
      val imgs = multimodal.Multimodal.syntheticAssets(s, 900)
        .filter(col("modality") === "image")
      // both epoch writes consume sigs — checkpoint so the JPEG decode +
      // dHash runs once, not per epoch (r15, guide §5; the frame is the
      // 16-byte-per-asset (id, sig) proxy, never the image bytes)
      val sigs = multimodal.Multimodal.imageSignatures(imgs)
        .localCheckpoint(true)
      llm.Dedup.writeHammingIndex(
        sigs.filter(col("asset_id") < 450), "asset_id", "sig",
        predsPath("q502_index_a"), kbBuckets = QueryShared.IndexKbBuckets)
      llm.Dedup.writeHammingIndex(
        sigs.filter(col("asset_id") >= 450), "asset_id", "sig",
        predsPath("q502_index_b"), kbBuckets = QueryShared.IndexKbBuckets)
      llm.Dedup.mergeHammingIndexes(s,
        predsPath("q502_index_a"), predsPath("q502_index_b"),
        predsPath("q502_index"), kbBuckets = QueryShared.IndexKbBuckets)
      val probes = imgs.filter(col("asset_id") < 150).select(
        (col("asset_id") + 1000000L).as("asset_id"), col("modality"),
        concat(substring(col("content"), 1, 54),
          lit(Array[Byte](0x7f.toByte)),
          expr("substring(content, 56, length(content) - 55)"))
          .as("content"),
        col("meta"))
      sources.Sources.writeParquet(
        multimodal.Multimodal.imageSignatures(probes)
          .withColumnRenamed("asset_id", "q_id"),
        predsPath("q502_probe_sigs"))
      llm.Dedup.probeHammingIndex(s, predsPath("q502_index"),
        s.read.parquet(predsPath("q502_probe_sigs")), "q_id", "sig",
        hamMax = perceptualHamming._1, bands = perceptualHamming._2,
        kbBuckets = QueryShared.IndexKbBuckets)
    }),


    // Hamming-index ERASURE (round 14) — GDPR delete applied to the
    // serving LAYOUT (the q443/q467 erasure family covered tables and
    // streams; the index is the remaining stateful surface): every 7th
    // asset's (id, sig) is deleted via the partition-pruned rewrite —
    // each delete determines its ≤ bands directories from the stored
    // sig, so the rewrite is O(touched dirs), and directories emptied
    // by the delete are removed explicitly (dynamic overwrite alone
    // would leave their stale files serving deleted ids). The served
    // surface is a probe of the post-erasure index; DedupSpec pins the
    // erasure laws (no deleted id anywhere, probe(after) ==
    // probe(before) minus deleted pairs, untouched dirs byte-stable).
    "q505_index_erasure" -> ((s, dir) => {
      val imgs = multimodal.Multimodal.syntheticAssets(s, 900)
        .filter(col("modality") === "image")
      // the index write and the delete set both consume sigs — checkpoint
      // so the JPEG decode + dHash runs once (r15, guide §5; the frame is
      // the 16-byte-per-asset (id, sig) proxy, never the image bytes)
      val sigs = multimodal.Multimodal.imageSignatures(imgs)
        .localCheckpoint(true)
      llm.Dedup.writeHammingIndex(sigs, "asset_id", "sig",
        predsPath("q505_index"), kbBuckets = QueryShared.IndexKbBuckets)
      llm.Dedup.deleteFromHammingIndex(s, predsPath("q505_index"),
        sigs.filter(col("asset_id") % 7 === 0)
          .select(col("asset_id").as("id"), col("sig")),
        kbBuckets = QueryShared.IndexKbBuckets)
      val probes = imgs.filter(col("asset_id") < 150).select(
        (col("asset_id") + 1000000L).as("asset_id"), col("modality"),
        concat(substring(col("content"), 1, 54),
          lit(Array[Byte](0x7f.toByte)),
          expr("substring(content, 56, length(content) - 55)"))
          .as("content"),
        col("meta"))
      sources.Sources.writeParquet(
        multimodal.Multimodal.imageSignatures(probes)
          .withColumnRenamed("asset_id", "q_id"),
        predsPath("q505_probe_sigs"))
      llm.Dedup.probeHammingIndex(s, predsPath("q505_index"),
        s.read.parquet(predsPath("q505_probe_sigs")), "q_id", "sig",
        hamMax = perceptualHamming._1, bands = perceptualHamming._2,
        kbBuckets = QueryShared.IndexKbBuckets)
    }),


    // Contamination SCORECARD (round 14) — the per-source risk report a
    // data team actually reads, composing two independent decon screens
    // over the SAME train/eval split (eval = doc_id % 50 == 0):
    // VERBATIM (train doc shares ≥1 8-gram md5 fingerprint with any
    // eval doc — the q70/q485 grain: distinct (doc, fp) first, equi-
    // join on the content hash) and SEMANTIC (train embedding within
    // 0.95 cosine of an eval embedding among the IVF-probed candidate
    // pairs — the q497 screen, at the pair grain instead of top-1).
    // Output: per source, train volume and each screen's hit count +
    // exact ppm rate. Scale: verbatim shuffles on the gram hash;
    // semantic reads ≤ nprobe/nlist of the corpus.
    "q503_decon_scorecard" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val train = docs.filter(col("doc_id") % 50 =!= 0)
      val grams = docs
        .select(col("doc_id"),
          explode(llm.Dedup.shingles(col("text"), 8)).as("g"))
        .select(col("doc_id"), md5(col("g")).as("fp"))
        .distinct()
      val evalFps = grams.filter(col("doc_id") % 50 === 0)
        .select(col("fp")).distinct()
      val verbatim = grams.filter(col("doc_id") % 50 =!= 0)
        .join(evalFps, Seq("fp"), "left_semi")
        .select(col("doc_id")).distinct()
        .withColumn("verb", lit(1L))
      val e = Tables.embeddings(s, dir)
      val idx = llm.Similarity.fitIvfIndex(
        e.filter(col("vec_id") % 50 =!= 0)
          .select(col("vec_id").as("n_id"), col("embedding").as("n_emb")),
        nlist = 16, persistCells = false)
      sources.Sources.writeParquet(
        llm.Similarity.ivfCandidatePairs(idx,
          e.filter(col("vec_id") % 50 === 0)
            .select(col("vec_id").as("q_id"), col("embedding").as("q_emb")),
          nprobe = 4),
        predsPath("q503_cands"))
      sources.Sources.writeParquet(
        llm.Similarity.unitVectors(e), predsPath("q503_units"))
      val units = s.read.parquet(predsPath("q503_units"))
      // thresholded at the PAIR grain (no top-k — a silent rank cap
      // would under-count hits on a dense corpus)
      val semantic = s.read.parquet(predsPath("q503_cands"))
        .join(units.select(col("vec_id").as("q_id"),
          col("unit").as("qu")), "q_id")
        .join(units.select(col("vec_id").as("n_id"),
          col("unit").as("nu")), "n_id")
        .filter(graft.exprapi.quantizedDotFast(col("qu"), col("nu"))
          >= lit(950000000000L))
        .select(col("n_id").as("doc_id")).distinct()
        .withColumn("sem", lit(1L))
      train.select(col("doc_id"), col("source"))
        .join(verbatim, Seq("doc_id"), "left_outer")
        .join(semantic, Seq("doc_id"), "left_outer")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_train"),
          sum(coalesce(col("verb"), lit(0L))).as("verbatim_hits"),
          sum(coalesce(col("sem"), lit(0L))).as("semantic_hits"))
        .withColumn("verbatim_ppm",
          expr("verbatim_hits * 1000000 div greatest(n_train, 1)"))
        .withColumn("semantic_ppm",
          expr("semantic_hits * 1000000 div greatest(n_train, 1)"))
    }),


    // PERCEPTUAL eval-set decontamination (round 13) — the image-
    // modality twin of the exact/Bloom text decontamination family
    // (q70/q73/q420/q461): training assets perceptually near ANY eval
    // asset are flagged before training, catching re-encoded or
    // retouched eval leakage that byte-level hashes miss. Train corpus =
    // 300 clean images + 300 PLANTED single-pixel-perturbed eval copies
    // (ground truth known); the cross-set banded-hamming join
    // ([[graft.llm.Dedup.hamming64CrossDups]]) generates candidates from
    // (band, key) buckets with an md5-order right-side cap — never
    // train×eval all-pairs — and the decision frame (per train asset:
    // match count, min hamming, contaminated flag) is what a curation
    // run gates on. Sketch halves persist; the oracle replays banding,
    // cap, verify and the decision join relationally.
    "q472_perceptual_decontamination" -> ((s, dir) => {
      val trainBase = multimodal.Multimodal.syntheticAssets(s, 900)
        .filter(col("modality") === "image")
      val eval = multimodal.Multimodal.syntheticAssets(s, 3000)
        .filter(col("modality") === "image" && col("asset_id") >= 2100)
      val planted = eval.select(
        (col("asset_id") + 3000000L).as("asset_id"), col("modality"),
        concat(substring(col("content"), 1, 54),
          lit(Array[Byte](0x7f.toByte)),
          expr("substring(content, 56, length(content) - 55)"))
          .as("content"),
        col("meta"))
      sources.Sources.writeParquet(
        multimodal.Multimodal.imageSignatures(
          trainBase.unionByName(planted)),
        predsPath("q472_train_sigs"))
      sources.Sources.writeParquet(
        multimodal.Multimodal.imageSignatures(eval),
        predsPath("q472_eval_sigs"))
      val ts = s.read.parquet(predsPath("q472_train_sigs"))
        .withColumnRenamed("asset_id", "train_id")
      val es = s.read.parquet(predsPath("q472_eval_sigs"))
        .withColumnRenamed("asset_id", "eval_id")
      val pairs = llm.Dedup.hamming64CrossDups(ts, "train_id",
        es, "eval_id", "sig",
        hamMax = perceptualHamming._1, bands = perceptualHamming._2)
      val hits = pairs.groupBy(col("train_id"))
        .agg(count(lit(1)).as("nm"), min(col("hamming")).as("mh"))
      ts.select(col("train_id"))
        .join(hits, Seq("train_id"), "left_outer")
        .select(col("train_id"),
          coalesce(col("nm"), lit(0L)).as("n_eval_matches"),
          coalesce(col("mh"), lit(-1)).cast("int").as("min_hamming"),
          (coalesce(col("nm"), lit(0L)) > 0).as("contaminated"))
    }),


    // MULTI-SIGNAL survivor policy (round-12 VERDICT next #5): text
    // fingerprint clusters and perceptual image-hash clusters composed
    // into ONE joint cluster frame — the "same text, different assets /
    // same asset, different text" case every multimodal corpus hits.
    // Corpus per original doc d: member A (d: fixture text, image
    // seeded by d), member B (d+1e6: SAME text, different image), and
    // member C (d+2e6: text||' v2', PERTURBED copy of A's image) — so
    // the A–B text edge and the A–C perceptual edge only chain into the
    // {A,B,C} component when BOTH signals feed one connected-components
    // pass. Survivor per component by (text length desc, id asc) via
    // clusterSurvivors. The decode→dhash sketch half persists and the
    // oracle replays banding+closure+survivor relationally (the q43 +
    // q225 recipes composed). Edges are equi-joins on fp / LSH buckets;
    // components are ≤3 rows — nothing quadratic at any grain.
    "q468_multisignal_survivors" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val pixelBytes = multimodal.Multimodal.SyntheticImageW *
        multimodal.Multimodal.SyntheticImageH * 3
      val blocks = (pixelBytes * 2 + 31) / 32
      val header = graft.expr.BmpDecode.encode(
        multimodal.Multimodal.SyntheticImageW,
        multimodal.Multimodal.SyntheticImageH,
        new Array[Byte](pixelBytes)).take(54)
      def bmpFor(seed: org.apache.spark.sql.Column) = concat(
        lit(header),
        to_binary(substring(concat_ws("",
          (0 until blocks).map(b => md5(concat(seed, lit(s"_$b")))): _*),
          1, pixelBytes * 2), lit("hex")))
      def perturbed(c: org.apache.spark.sql.Column) = concat(
        substring(c, 1, 54), lit(Array[Byte](0x7f.toByte)),
        c.substr(lit(56), length(c) - 55))
      val a = docs.select(col("doc_id").as("id"), col("text"),
        bmpFor(col("doc_id")).as("content"))
      val b = docs.select((col("doc_id") + 1000000L).as("id"), col("text"),
        bmpFor(col("doc_id") + lit(5000000L)).as("content"))
      val c = docs.select((col("doc_id") + 2000000L).as("id"),
        concat(col("text"), lit(" v2")).as("text"),
        perturbed(bmpFor(col("doc_id"))).as("content"))
      val corpus = a.unionByName(b).unionByName(c)
      sources.Sources.writeParquet(
        multimodal.Multimodal.imageSignatures(corpus.select(
          col("id").as("asset_id"), lit("image").as("modality"),
          col("content"))),
        predsPath("q468_sigs"))
      // hamMax 3 with 4 bands of 16 bits (`textHamming`), not the
      // perceptual (7, 8): the planted perturbation moves ≤2 gradient
      // bits, so the pigeonhole guarantee only needs bands > 3 — and
      // WIDER band keys matter at this corpus size (3·|docs| sigs over
      // 8-bit keys collide into ~n/256-member buckets whose in-bucket
      // expansion is Σ bucket²; 16-bit keys keep buckets
      // near-singleton). The tighter verify threshold also keeps chance
      // near-collisions between unrelated md5 images out of the joint
      // graph.
      val imgPairs = llm.Dedup.hamming64Dups(
          s.read.parquet(predsPath("q468_sigs")), "asset_id", "sig",
          hamMax = textHamming._1, bands = textHamming._2)
        .select(col("id_a").as("a_doc"), col("id_b").as("b_doc"))
      val fps = corpus.select(col("id"), md5(col("text")).as("fp"))
      val textPairs = fps.as("x")
        .join(fps.as("y"),
          col("x.fp") === col("y.fp") && col("x.id") < col("y.id"))
        .select(col("x.id").as("a_doc"), col("y.id").as("b_doc"))
      val clusters = llm.Dedup.dupClusters(
        textPairs.unionByName(imgPairs))
      val members = clusters
        .join(corpus.select(col("id").as("doc_id"), col("text")), "doc_id")
      val survivors = llm.Dedup.clusterSurvivors(members, "cluster_id",
        Seq(length(col("text")).desc, col("doc_id").asc))
      survivors.select(col("cluster_id"), col("doc_id").as("survivor_id"))
        .join(clusters.groupBy(col("cluster_id"))
          .agg(count(lit(1)).as("n_members")), "cluster_id")
    }),


    // Dedup survivor selection: connected components over the q16 LSH pair
    // graph — min-label propagation to a fixpoint; every doc in a
    // component labeled with the component's min doc id. Oracle is the
    // same pair SQL + a recursive-CTE transitive closure.
    "q43_dup_clusters" -> ((s, dir) =>
      llm.Dedup.dupClusters(
        llm.Dedup.candidatePairs(
          llm.Dedup.bandBuckets(Tables.documents(s, dir), "doc_id", "text",
            numHashes = 6, bands = 3, shingleWidth = 3),
          "doc_id"))),


    // The dedup REPORTING read over q43's clusters: cluster-size
    // distribution plus the survivor/drop accounting a curation run
    // publishes ("N docs in M clusters; K dropped"). Two tiny grouped
    // rollups over the cluster frame.
    "q244_cluster_size_histogram" -> ((s, dir) =>
      llm.Dedup.dupClusters(
        llm.Dedup.candidatePairs(
          llm.Dedup.bandBuckets(Tables.documents(s, dir), "doc_id", "text",
            numHashes = 6, bands = 3, shingleWidth = 3),
          "doc_id"))
        .groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"),
          (sum(col("sz")) - count(lit(1))).as("n_dropped"))),


    // q70 at the beyond-broadcast scale: Bloom sketch over the bench grams
    // pre-prunes the corpus explode before the (non-broadcast) exact join.
    // Same oracle SQL as q70 — the hash match proves the sketch path
    // changes the data movement, not the answer.
    "q73_bloom_decontaminate" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      llm.Dedup.contaminationReportBloom(
        docs.filter(col("doc_id") % 100 =!= 0),
        docs.filter(col("doc_id") % 100 === 0),
        "doc_id", "text", n = 4)
    }),


    // dedup END-TO-END: LSH candidates → connected components → QUALITY
    // survivor selection (keep the longest member per cluster, min-id
    // ties) — the full curation pipeline in one query; oracle = q43's
    // recursive-CTE closure + ranked selection
    "q84_survivors" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val clusters = llm.Dedup.dupClusters(
        llm.Dedup.candidatePairs(
          llm.Dedup.bandBuckets(docs, "doc_id", "text",
            numHashes = 6, bands = 3, shingleWidth = 3),
          "doc_id"))
      llm.Dedup.selectSurvivors(clusters,
        docs.select(col("doc_id"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tok")),
        "doc_id", "n_tok")
    }),


    // incremental-ingestion dedup: the "daily batch vs existing corpus"
    // shape — every third doc plays the arriving batch, the rest the
    // corpus; only cross-side LSH collisions become candidates, exact
    // Jaccard ≥ 0.5 verifies. Same portable md5 banding as q16/q45, so
    // the whole pipeline (banding, cross join, verify) hash-matches.
    "q78_incremental_dedup" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      llm.Dedup.incrementalDupMarks(
        docs.filter(col("doc_id") % 3 === 0),
        docs.filter(col("doc_id") % 3 =!= 0),
        "doc_id", "text", threshold = 0.5)
    }),


    // North-star near-dedup, throughput path: native minhash_sig
    // expression + xxhash64 banding + exact Jaccard verify. SPLIT at the
    // candidate/verify boundary (the q25 pattern): the xxhash64 banding
    // is the non-portable half and persists its candidate pairs once;
    // the exact n-gram Jaccard — distinct shingle sets, integer
    // intersection/union sizes, one IEEE division, threshold — is
    // replayed by the oracle over the persisted ids (q45's scoring SQL
    // over stored pairs), so the verify stage of the 100-TB dedup path
    // is hash-checked and only the hash family stays spec-pinned.
    "q24_near_dedup_fast" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val cands = llm.Dedup.candidatePairs(
        llm.Dedup.bandBucketsFast(docs, "doc_id", "text"), "doc_id")
      sources.Sources.writeParquet(cands, predsPath("q24_cands"))
      llm.Dedup.jaccardVerify(docs, s.read.parquet(predsPath("q24_cands")),
        "doc_id", "text", threshold = 0.5)
    }),


    // Asymmetric CONTAINMENT decontamination: flag corpus docs holding
    // ≥ threshold of an eval doc's distinct 4-gram shingles — the metric
    // for the short-eval-item-inside-long-train-doc regime where
    // union-normalized Jaccard (q45) under-triggers (DedupSpec pins the
    // 1.0-vs-low separation on an embedded item). Same bench/corpus split
    // convention as q70's exact-gram stage; the ratio is one IEEE
    // int-ratio division. Threshold is fixture-calibrated: the synthetic
    // docs contain no planted contamination (max pairwise containment
    // ≈ 0.045 at sf0.01), so a production-style 0.6 gate would make this
    // a trivially-empty frame — 0.02 keeps tens of rows flowing through
    // every stage of the checked pipeline.
    "q97_containment" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      llm.Dedup.containmentMarks(
        docs.filter(col("doc_id") % 100 =!= 0),
        docs.filter(col("doc_id") % 100 === 0),
        "doc_id", "text", threshold = 0.02, shingleWidth = 4)
    }),


    "q100_semantic_dedup" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      // nlist tracks the corpus (FAISS-style n/targetCellSize, floor 16 —
      // q25's autoBits rationale): per-cell population stays ~256 at any
      // SF, so the Σ|cell|² pair space never re-enters the quadratic
      // regime a bigger corpus would otherwise create
      val n = e.agg(count(lit(1))).head().getLong(0)
      val idx = llm.Similarity.fitIvfIndex(
        e.select(col("vec_id").as("n_id"), col("embedding").as("n_emb")),
        nlist = math.max(16, (n / 256L).toInt), persistCells = false)
      sources.Sources.writeParquet(
        idx.cells.select(col("n_id").as("vec_id"), col("cell")),
        predsPath("q100_cells"))
      llm.Dedup.semanticDedup(
        s.read.parquet(predsPath("q100_cells")), e, tau2E4 = 1600L,
        // corpus-grain quantized-embedding frame stages to parquet:
        // replayable after executor loss, not pinned in executor memory
        // (r15, r14 VERDICT #3)
        materializeQ8 = df => QueryShared.stageFrame(df, "q100_q8"))
    }),


    // training-pipeline: cross-document duplicated-SPAN coverage (the
    // Lee-et-al substring-dedup signal, approximated with rolling 8-grams
    // + gaps-and-islands interval union). Span-level complement of the
    // doc-level dedup family q06/q16/q40/q100.
    "q103_dup_spans" -> ((s, dir) =>
      llm.Dedup.dupSpanCoverage(
        Tables.documents(s, dir), "doc_id", "text", l = 8, minDocs = 2)),


    // training-pipeline: QUALITY-AWARE survivor selection per near-dup
    // cluster — the curation POLICY layered on q43's components ("keep
    // the best copy", here the longest document, not the arbitrary
    // min-id): per-cluster argmax by (token count desc, doc_id asc),
    // plus the cluster's member count and total tokens so the dedup's
    // token savings are a read-off. The rank is a PARTITIONED window
    // (per-cluster — bounded by cluster size); survivor extraction is
    // the max-of-flagged idiom (no second join back).
    "q404_quality_survivor" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val clusters = llm.Dedup.dupClusters(
        llm.Dedup.candidatePairs(
          llm.Dedup.bandBuckets(docs, "doc_id", "text",
            numHashes = 6, bands = 3, shingleWidth = 3), "doc_id"))
      val withQ = docs.select(col("doc_id"),
          size(text.TextOps.tokens(col("text"))).cast("long").as("n_tok"))
        .join(clusters, Seq("doc_id"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cluster_id"))
        .orderBy(col("n_tok").desc, col("doc_id").asc)
      withQ.withColumn("rk", row_number().over(w))
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n_members"),
          max(when(col("rk") === 1, col("doc_id"))).as("survivor"),
          max(when(col("rk") === 1, col("n_tok"))).as("survivor_n_tok"),
          sum(col("n_tok")).as("cluster_n_tok"))
    }),


    // Cluster CHAINING audit (round 12) — transitive closure's known
    // failure mode measured: connected components union A~B~C even when
    // A and C share almost nothing, so each q43 cluster reports the
    // min/max exact Jaccard over its LSH candidate pairs and a
    // `chained` flag when any internal pair sits below the 0.5 verify
    // threshold — the clusters where a survivor policy is quietly
    // deduping non-duplicates. Pair work stays LSH-bounded; the cluster
    // rollup is aggregate grain.
    "q462_cluster_chaining_audit" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = llm.Dedup.candidatePairs(
          llm.Dedup.bandBuckets(docs, "doc_id", "text",
            numHashes = 6, bands = 3, shingleWidth = 3), "doc_id")
        .localCheckpoint(true)
      val clusters = llm.Dedup.dupClusters(pairs).localCheckpoint(true)
      val jc = llm.Dedup.jaccardCounts(docs, pairs, "doc_id", "text")
        .select(col("a_doc"), col("b_doc"),
          expr("inter * 1000000 div uni").as("j_ppm"))
      val perPair = jc.join(clusters
          .select(col("doc_id").as("a_doc"), col("cluster_id")),
        Seq("a_doc"))
      val stats = perPair.groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n_cand_pairs"),
          min(col("j_ppm")).as("min_j_ppm"),
          max(col("j_ppm")).as("max_j_ppm"))
      val out = clusters.groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n_members"))
        .join(stats, Seq("cluster_id"))
        .withColumn("chained", col("min_j_ppm") < 500000L)
        .localCheckpoint(true)
      out.crossJoin(broadcast(out
        .agg(sum(col("chained").cast("long")).as("n_chained"))))
    }),


    // PLANTED-contamination catch test (round 12) — the detector's
    // detector: verbatim copies of known train docs (docs with id ≡ 0
    // mod 50 and ≥ 24 tokens, re-keyed +10⁶ — derived frames, fixtures
    // untouched) route through the EXACT q420 verdict machinery against
    // an index over the full corpus. Every plant shares its whole body
    // with its original, so the screen must flag it; the per-plant rows
    // and the corpus catch rate make the screen's recall a CHECKED
    // number instead of an assumption (the q453 probe's positive-control
    // twin). Oracle states the identical plant + verdict computation.
    "q461_decontamination_catch" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val planted = docs
        .filter(col("doc_id") % 50 === 0 &&
          size(TextOps.tokens(col("text"))) >= 24)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      val trainToks = llm.Dedup
        .substringTokenRows(docs, "doc_id", "text", 8)
        .localCheckpoint(false)
      val postings = llm.Dedup.cappedPostings(
        llm.Dedup.substringAnchors(trainToks, k = 8, anchorMod = 8),
        maxPerGram = 64)
      val marks = llm.Dedup.crossCorpusSubstrings(planted, "doc_id",
        "text", postings, trainToks, minLen = 12)
      val per = planted
        .select(col("doc_id"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tok"))
        .join(marks.groupBy(col("new_doc").as("doc_id"))
            .agg(max(col("max_len")).as("mx")),
          Seq("doc_id"), "left_outer")
        .select((col("doc_id") - 1000000L).as("orig_id"), col("n_tok"),
          coalesce(col("mx"), lit(0L)).as("max_shared"),
          (coalesce(col("mx"), lit(0L)) >= 16L).cast("long").as("caught"))
        .localCheckpoint(true)
      per.crossJoin(broadcast(per
        .agg(count(lit(1)).as("n_planted"), sum(col("caught")).as("nc"))
        .select(col("n_planted"),
          expr("nc * 1000000 div n_planted").as("catch_ppm"))))
    }),


    // Eval-LEAKAGE probe (round 12) — the NEGATIVE CONTROL for q131's
    // cluster-safe split: under the naive per-lang md5 quota (q403's
    // rule, which ignores near-dup structure), how many eval docs have a
    // near-duplicate sitting in TRAIN? The per-lang leak rate is the
    // number that justifies paying for the cluster-aware split; the q16
    // LSH pairs bound all work.
    "q453_leakage_probe" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val split = docs.select(col("doc_id"), col("lang"))
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("lang"))
            .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))))
        .withColumn("is_eval", col("rk") <= 20)
        .localCheckpoint(true)
      val pairs = llm.Dedup.candidatePairs(
        llm.Dedup.bandBuckets(docs, "doc_id", "text",
          numHashes = 6, bands = 3, shingleWidth = 3), "doc_id")
      val sym = pairs.select(col("a_doc").as("e"), col("b_doc").as("o"))
        .unionByName(pairs.select(col("b_doc").as("e"),
          col("a_doc").as("o")))
      val evalDocs = split.filter(col("is_eval"))
        .select(col("doc_id").as("e"), col("lang"))
      val trainDocs = split.filter(!col("is_eval"))
        .select(col("doc_id").as("o"))
      val leaky = sym.join(evalDocs, Seq("e"))
        .join(trainDocs, Seq("o"), "left_semi")
        .select(col("e"), col("lang")).distinct()
      evalDocs.groupBy(col("lang")).agg(count(lit(1)).as("n_eval"))
        .join(leaky.groupBy(col("lang")).agg(count(lit(1)).as("n_leaky")),
          Seq("lang"), "left_outer")
        .withColumn("n_leaky", coalesce(col("n_leaky"), lit(0L)))
        .withColumn("leak_ppm", expr("n_leaky * 1000000 div n_eval"))
    }),


    // MinHash CALIBRATION audit (round 12) — "how honest is the sketch?":
    // per LSH candidate pair, the signature-agreement estimate (matching
    // components / 6, the textbook unbiased Jaccard estimator) is binned
    // against the EXACT shingle Jaccard (jaccardCounts — computed only on
    // the candidate pairs, never all-pairs), so the calibration table
    // reads how much the 6-hash sketch over- or under-claims at each
    // agreement level. Everything integer ppm; the signature is the
    // md5-portable form both engines state.
    "q451_minhash_calibration" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = llm.Dedup.candidatePairs(
          llm.Dedup.bandBuckets(docs, "doc_id", "text",
            numHashes = 6, bands = 3, shingleWidth = 3), "doc_id")
        .localCheckpoint(true)
      // unpaired short docs never join; paired docs always have shingles.
      // r14 optimization (guide §2.3, the candidates-only rule jaccard-
      // Counts already applies): the est legs are INNER joins on the
      // pair ids, so signatures are only ever consumed for paired docs —
      // semi-prune the corpus before the 6-way md5 minhash instead of
      // sketching every doc and discarding the unpaired ones in the
      // join. At corpus scale the paired set is a sliver of the corpus.
      val pairedIds = pairs.select(col("a_doc").as("doc_id"))
        .unionByName(pairs.select(col("b_doc").as("doc_id")))
        .distinct()
      // materialized once: the a-side and b-side joins below would
      // otherwise each re-evaluate the md5 sketch subtree (no exchange
      // reuse across different join keys)
      val sigs = docs
        .join(pairedIds, Seq("doc_id"), "left_semi")
        .select(col("doc_id"),
          llm.Dedup.minhashSignatureMd5(
            llm.Dedup.shingles(col("text"), 3), 6).as("mh"))
        .localCheckpoint(true)
      val est = pairs
        .join(sigs.select(col("doc_id").as("a_doc"), col("mh").as("am")),
          Seq("a_doc"))
        .join(sigs.select(col("doc_id").as("b_doc"), col("mh").as("bm")),
          Seq("b_doc"))
        .select(col("a_doc"), col("b_doc"),
          expr("aggregate(zip_with(am, bm, (x, y) -> if(x = y, 1, 0))," +
            " 0, (a, b) -> a + b)").cast("long").as("matches"))
      val exact = llm.Dedup.jaccardCounts(docs, pairs, "doc_id", "text")
        .select(col("a_doc"), col("b_doc"),
          expr("inter * 1000000 div uni").as("exact_ppm"))
      est.join(exact, Seq("a_doc", "b_doc"))
        .groupBy(col("matches"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("exact_ppm")).as("sum_exact"))
        .withColumn("est_ppm", expr("matches * 1000000 div 6"))
        .withColumn("mean_exact_ppm", expr("sum_exact div n_pairs"))
        .withColumn("bias_ppm", col("est_ppm") - col("mean_exact_ppm"))
        .select(col("matches"), col("n_pairs"), col("est_ppm"),
          col("mean_exact_ppm"), col("bias_ppm"))
    }),


    // PREFERENCE-PAIR mining over near-dup clusters (round 12) — the
    // DPO/RLHF data-construction read: near-duplicate copies of one
    // content differ mostly in QUALITY (boilerplate, truncation, noise),
    // which is exactly the contrast a preference pair wants with the
    // topic held constant. Chosen = the policy-best cluster member,
    // rejected = the policy-worst (the q416 chain minus source tier,
    // inverted), both via clusterSurvivors' per-cluster bounded window;
    // the quality gap rides in exact ppm. Clusters are q43's connected
    // components, so every cluster has ≥2 members and the two chains
    // always pick distinct docs (reversed id tie-break).
    "q435_preference_pairs" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val clusters = llm.Dedup.dupClusters(
        llm.Dedup.candidatePairs(
          llm.Dedup.bandBuckets(docs, "doc_id", "text",
            numHashes = 6, bands = 3, shingleWidth = 3), "doc_id"))
      val members = clusters.join(docs.select(col("doc_id"),
          size(text.TextOps.tokens(col("text"))).cast("long").as("n_tok"),
          size(array_distinct(text.TextOps.tokens(col("text"))))
            .cast("long").as("nd")), Seq("doc_id"))
        .withColumn("quality_ppm",
          expr("nd * 1000000 div greatest(n_tok, 1)"))
      val chosen = llm.Dedup.clusterSurvivors(members, "cluster_id",
          Seq(col("quality_ppm").desc, col("n_tok").desc,
            col("doc_id").asc))
        .select(col("cluster_id"), col("doc_id").as("chosen"),
          col("quality_ppm").as("chosen_q"))
      val rejected = llm.Dedup.clusterSurvivors(members, "cluster_id",
          Seq(col("quality_ppm").asc, col("n_tok").asc,
            col("doc_id").desc))
        .select(col("cluster_id"), col("doc_id").as("rejected"),
          col("quality_ppm").as("rejected_q"))
      chosen.join(rejected, Seq("cluster_id"))
        .filter(col("chosen") =!= col("rejected"))
        .withColumn("gap_ppm", col("chosen_q") - col("rejected_q"))
    }),


    // training-pipeline: cross-doc EXACT-substring duplication at PAIR
    // grain (anchor-and-extend — which documents share a verbatim run
    // and how long; q103 is the position-coverage member). Anchors,
    // caps, and the guarded bounded-window extension are all
    // engine-portable, so the oracle states the identical computation.
    "q398_cross_doc_substrings" -> ((s, dir) =>
      llm.Dedup.crossDocSubstrings(
        Tables.documents(s, dir), "doc_id", "text")),


    // EVAL DECONTAMINATION at the SUBSTRING grain (the anchor family's
    // third member; q73 is the exact-hash Bloom screen — this catches
    // PARTIAL copies an exact fingerprint misses): the train 9/10 of
    // the corpus builds the capped anchor-postings index, eval docs
    // (doc_id % 10 = 0) route their anchors against it, and every eval
    // doc gets a verdict row — max verbatim run shared with ANY train
    // doc, how many train docs are implicated (report floor 12 tokens),
    // and the contaminated flag at the 16-token threshold (clean evals
    // surface explicitly via the left join, never silently absent —
    // max_shared 0 means "below the report floor"). Same bounded-candidate
    // scale shape as q398/q413; fully md5-portable, oracle states the
    // identical computation.
    "q420_eval_decontamination" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val train = docs.filter(col("doc_id") % 10 =!= 0)
      val evals = docs.filter(col("doc_id") % 10 === 0)
      val trainToks = llm.Dedup
        .substringTokenRows(train, "doc_id", "text", 8)
        .localCheckpoint(false) // feeds the posting build AND extension
      val postings = llm.Dedup.cappedPostings(
        llm.Dedup.substringAnchors(trainToks, k = 8, anchorMod = 8),
        maxPerGram = 64)
      val marks = llm.Dedup.crossCorpusSubstrings(evals, "doc_id", "text",
        postings, trainToks, minLen = 12)
      evals.select(col("doc_id"))
        .join(marks
            .groupBy(col("new_doc").as("doc_id"))
            .agg(max(col("max_len")).as("mx"),
              countDistinct(col("old_doc")).as("nt")),
          Seq("doc_id"), "left_outer")
        .select(col("doc_id"),
          coalesce(col("mx"), lit(0L)).as("max_shared"),
          coalesce(col("nt"), lit(0L)).as("n_train_docs"),
          (coalesce(col("mx"), lit(0L)) >= 16L).as("contaminated"))
    }),


    // OBSERVABILITY of the q398/q406/q413 per-gram anchor cap as a
    // CHECKED surface (the round-11 watch item, beyond the lazy
    // diagnostics frame): the full anchor-postings histogram
    // (postings-per-gram level → gram count) joined against the
    // crossDocSubstringsWithDiagnostics drop report at a DELIBERATELY
    // tight cap (2 — the fixture's postings reach 3, so real drops are
    // exercised on real data). A hash match certifies the diagnostics
    // frame AGREES with the independently-stated histogram: n_saturated
    // must equal n_grams at every level above the cap and dropped must
    // be (postings − cap)·n_grams — the frame a recall dashboard
    // thresholds before trusting the anchor family's exactness. Every
    // term is md5-portable, so the oracle states both sides.
    "q418_anchor_saturation" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val hist = llm.Dedup.substringAnchors(
          llm.Dedup.substringTokenRows(docs, "doc_id", "text", 8),
          k = 8, anchorMod = 8)
        .groupBy(col("gram")).agg(count(lit(1)).as("postings"))
        .groupBy(col("postings")).agg(count(lit(1)).as("n_grams"))
      val diag = llm.Dedup.crossDocSubstringsWithDiagnostics(
          docs, "doc_id", "text", maxPerGram = 2)._2
        .groupBy(col("postings"))
        .agg(count(lit(1)).as("n_saturated"), sum(col("dropped")).as("dropped"))
      hist.join(diag, Seq("postings"), "left_outer")
        .select(col("postings"), col("n_grams"),
          coalesce(col("n_saturated"), lit(0L)).as("n_saturated"),
          coalesce(col("dropped"), lit(0L)).as("dropped"))
    }),


    // q404's survivor selection PARAMETERIZED as a curation policy
    // (round-11 VERDICT next #7): the survivor per q43 cluster is the
    // first member under the lexicographic chain source-tier ASC
    // (trusted collections first: numeric source suffix mod 4), lexical
    // diversity ppm DESC (quality rank), token count DESC, doc_id ASC —
    // vs q404's length-only rule, so the two surfaces together pin that
    // the policy CHANGES survivors (DedupSpec holds the difference
    // case). Same partitioned-window scale shape; every policy term is
    // integer-exact and engine-portable, so the oracle states the
    // identical chain.
    "q416_survivor_policy" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val clusters = llm.Dedup.dupClusters(
        llm.Dedup.candidatePairs(
          llm.Dedup.bandBuckets(docs, "doc_id", "text",
            numHashes = 6, bands = 3, shingleWidth = 3), "doc_id"))
      val members = docs
        .select(col("doc_id"), col("source"),
          text.TextOps.tokens(col("text")).as("ts"))
        .select(col("doc_id"), col("source"),
          size(col("ts")).cast("long").as("n_tok"),
          size(array_distinct(col("ts"))).cast("long").as("n_dist"))
        .withColumn("src_tier",
          expr("cast(regexp_extract(source, '([0-9]+)', 1) as int) % 4")
            .cast("long"))
        .withColumn("quality_ppm",
          expr("n_dist * 1000000 div greatest(n_tok, 1L)"))
        .join(clusters, Seq("doc_id"))
        .withColumn("n_members", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("cluster_id"))))
      llm.Dedup.clusterSurvivors(members, "cluster_id",
          Seq(col("src_tier").asc, col("quality_ppm").desc,
            col("n_tok").desc, col("doc_id").asc))
        .select(col("cluster_id"), col("doc_id").as("survivor"),
          col("src_tier"), col("quality_ppm"), col("n_tok"),
          col("n_members"))
    }),


    // Threshold-SENSITIVITY curve for the near-dup verify stage ("how
    // much does the corpus shrink if I tighten jaccard?"): exact
    // shingle-overlap counts per banded-MinHash candidate pair, swept
    // over a percent grid with the cross-multiplied integer test
    // inter·100 ≥ uni·t (division-free — no float threshold compare),
    // reporting surviving pairs and distinct touched docs per
    // threshold. One counts pass; the sweep is a 5-way explode on the
    // already-bounded candidate frame.
    "q412_dedup_threshold_curve" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val cands = llm.Dedup.candidatePairs(
        llm.Dedup.bandBuckets(docs, "doc_id", "text",
          numHashes = 6, bands = 3, shingleWidth = 3), "doc_id")
      // materialized once (r14, guide §1.2/§5): `kept` feeds THREE
      // downstream consumers (pairsAgg + both unionByName legs of
      // docsAgg), and without a checkpoint each re-evaluates the whole
      // shingle-set jaccard join — the dominant cost — per consumer.
      // The frame itself is candidate-pairs × surviving thresholds,
      // bounded by the LSH bucket caps.
      val kept = llm.Dedup.jaccardCounts(docs, cands, "doc_id", "text")
        .withColumn("t_pct", explode(array(
          lit(50L), lit(60L), lit(70L), lit(80L), lit(90L))))
        .filter(col("inter") * 100 >= col("uni") * col("t_pct"))
        .localCheckpoint(true)
      val pairsAgg = kept.groupBy(col("t_pct"))
        .agg(count(lit(1)).as("n_pairs"))
      val docsAgg = kept.select(col("t_pct"), col("a_doc").as("d"))
        .unionByName(kept.select(col("t_pct"), col("b_doc").as("d")))
        .groupBy(col("t_pct"))
        .agg(countDistinct(col("d")).as("n_docs"))
      pairsAgg.join(docsAgg, Seq("t_pct"))
    }),


    // PROVENANCE of duplication: the near-dup pair volume as a
    // source-by-source matrix ("which collections copy from which") —
    // q16/q43's banded MinHash candidate pairs joined to each side's
    // source tag, counted per canonically-ordered source pair with the
    // distinct duplicated-doc count per side. One broadcast-sized dim
    // join per side on the already-bounded pair frame.
    "q407_source_dup_matrix" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = llm.Dedup.candidatePairs(
        llm.Dedup.bandBuckets(docs, "doc_id", "text",
          numHashes = 6, bands = 3, shingleWidth = 3), "doc_id")
      val srcs = docs.select(col("doc_id"), col("source"))
      pairs
        .join(srcs.select(col("doc_id").as("a_doc"),
          col("source").as("sa")), "a_doc")
        .join(srcs.select(col("doc_id").as("b_doc"),
          col("source").as("sb")), "b_doc")
        .select(least(col("sa"), col("sb")).as("source_a"),
          greatest(col("sa"), col("sb")).as("source_b"),
          // docs swap WITH their sources so n_docs_a always counts the
          // lexicographically-smaller source's side
          when(col("sa") <= col("sb"), col("a_doc")).otherwise(col("b_doc"))
            .as("da"),
          when(col("sa") <= col("sb"), col("b_doc")).otherwise(col("a_doc"))
            .as("db"))
        .groupBy(col("source_a"), col("source_b"))
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("da")).as("n_docs_a"),
          countDistinct(col("db")).as("n_docs_b"))
    }),


    // q398 without the length ceiling: extensions that share a DIAGONAL
    // (a_pos − b_pos) stitch into full-length runs via the q103
    // gaps-and-islands union — max_run is exact even when the verbatim
    // run is many times the per-anchor window (DedupSpec plants a
    // 200-token run under a 48-token window and recovers exactly 200).
    "q406_stitched_substrings" -> ((s, dir) =>
      llm.Dedup.stitchedSubstrings(
        Tables.documents(s, dir), "doc_id", "text")),


    // North-star rolling-hash fingerprinting, throughput path: the native
    // O(n) Karp-Rabin winnowing expression (one codegen'd pass per doc vs
    // one md5 per k-gram in q35). The hash family is engine-local, so the
    // FIT half (fingerprint extraction) persists its exploded
    // (doc_id, fp) stream and the portable SERVE half — the shared-
    // fingerprint grouping — is oracle-replayed over the stored values
    // (the q24/q25/q94 fit/serve split; previously rows-only).
    "q36_winnow_fast" -> ((s, dir) => {
      sources.Sources.writeParquet(
        Tables.documents(s, dir)
          .select(col("doc_id"),
            explode(graft.exprapi.winnowFps(
              text.TextOps.normalizedText(col("text")), 8, 4)).as("fp")),
        predsPath("q36_fps"))
      s.read.parquet(predsPath("q36_fps"))
        .groupBy(col("fp"))
        .agg(count(lit(1)).as("n_docs"))
        .filter(col("n_docs") >= 2)
    }),




    // North-star dedup, SimHash method: banded 64-bit sketches, exact
    // hamming verify — an EXACT hamming≤3 join by pigeonhole (hamMax <
    // bands). The xxhash64-based sketch has no DuckDB mirror, so the FIT
    // half persists (doc_id, sig) and the portable SERVE half — banding,
    // bucket saturation window, exact bit_count(xor) hamming — is
    // oracle-replayed over the stored signatures; DedupSpec pins the
    // guarantee/separation contracts of the sketch itself.
    "q40_simhash_dups" -> ((s, dir) =>
      stageAndServeHamming(s,
        llm.Dedup.simhashSignatures(Tables.documents(s, dir)),
        "q40_sigs", "doc_id", textHamming)),


    // entity resolution ACROSS sources composed end-to-end: q65's
    // blocked edit-distance match (customer×supplier names) → matched
    // pairs as edges on a parity-encoded node space (customer 2k,
    // supplier 2k+1 — the q156 trick) → q43's min-label connected
    // components → one canonical cluster id per matched entity. Each
    // stage individually proven; this certifies the COMPOSITION (the
    // record-linkage shape: block, score, cluster, canonicalize).
    "q173_entity_resolution" -> ((s, dir) => erClusters(s, dir)),


    // the MDM survivorship step closing q173's record-linkage chain:
    // per matched cluster, a GOLDEN RECORD assembled by per-attribute
    // rules (lexicographic-min name, max account balance, member/kind
    // counts) — one attributes union + one grouped pass keyed on the
    // cluster, all deterministic aggregates
    "q198_golden_record" -> ((s, dir) => {
      val attrs = Tables.customer(s, dir)
        .select(lit("customer").as("kind"),
          col("c_custkey").as("entity_id"),
          col("c_name").as("name"), col("c_acctbal").as("acctbal"))
        .unionByName(Tables.supplier(s, dir)
          .select(lit("supplier").as("kind"),
            col("s_suppkey").as("entity_id"),
            col("s_name").as("name"), col("s_acctbal").as("acctbal")))
      erClusters(s, dir)
        .join(attrs, Seq("kind", "entity_id"))
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n_members"),
          sum(when(col("kind") === "customer", 1L).otherwise(0L))
            .as("n_customers"),
          min(col("name")).as("canonical_name"),
          max(col("acctbal")).as("best_acctbal"))
    }),
  )

  /** q173's shared construction: q65's blocked edit-distance match →
    * parity-encoded edges (customer 2k / supplier 2k+1) → min-label
    * connected components → (node, kind, entity_id, cluster_id). */
  private def erClusters(s: SparkSession, dir: String): DataFrame = {
    val pairs = Relational.editDistanceJoin(
        Tables.customer(s, dir).select(col("c_custkey"), col("c_name")),
        Tables.supplier(s, dir).select(col("s_suppkey"), col("s_name")),
        "c_name", "s_name",
        bucket = name => regexp_extract(name, "([0-9]{2})$", 1),
        maxDist = 7)
      .select((col("c_custkey") * 2).as("a_node"),
        (col("s_suppkey") * 2 + 1).as("b_node"))
    llm.Dedup.dupClusters(pairs, "a_node", "b_node")
      .select(col("doc_id").as("node"),
        when(col("doc_id") % 2 === 0, lit("customer"))
          .otherwise(lit("supplier")).as("kind"),
        expr("doc_id div 2").as("entity_id"),
        col("cluster_id"))
  }

  /** Shared CTE prefix of the q398/q406 oracles — everything up to the
    * per-anchor extension frame `x` (a_doc, b_doc, a_pos, b_pos, rmiss,
    * lmiss): md5 anchor selection, both-side caps, guarded indexing. */
  private val substringExtensionsCte: String =
    "WITH " + Seq(windowDocsCte, anchorGramsCte(), cappedAnchorsCte(),
      """cand AS (
        |  SELECT x.id AS a_doc, x.pos AS a_pos, y.id AS b_doc, y.pos AS b_pos
        |  FROM cap x JOIN cap y USING (gram) WHERE x.id < y.id
        |)""".stripMargin, anchorExtensionCte()).mkString(", ")

  /** q70's exact 4-gram decontamination; q73's bloom path must return
    * the same answer bit for bit. */
  private val gramDecontaminationSql: String =
    """WITH toks AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents
      |), grams AS (
      |  SELECT doc_id,
      |    unnest(list_distinct(list_transform(
      |      generate_series(1, greatest(len(t) - 3, 0)),
      |      i -> array_to_string(t[i:i+3], ' ')))) AS gram
      |  FROM toks
      |), bg AS (
      |  SELECT DISTINCT gram FROM grams WHERE doc_id % 100 = 0
      |)
      |SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_hit_grams
      |FROM grams g JOIN bg USING (gram)
      |WHERE g.doc_id % 100 <> 0
      |GROUP BY 1""".stripMargin

  /** DuckDB-runnable oracle equivalents; keys lacking an entry here are
    * checked on rows only (non-portable hash/codec/fit paths, each pinned
    * by a dedicated spec instead). */
  val sql: Map[String, String] = Map(

    // the portable LSH bands (QueryShared.minhashBandsCte) self-joined on
    // a shared bucket
    "q16_near_dedup" ->
      s"""WITH $lshBandsChain
         |SELECT DISTINCT a.doc_id AS a_doc, b.doc_id AS b_doc
         |FROM bands a JOIN bands b
         |  ON a.band_id = b.band_id AND a.bucket = b.bucket AND a.doc_id < b.doc_id""".stripMargin,


    // asymmetric containment over distinct 4-gram shingles, bench side =
    // doc_id % 100 = 0 (q70's split convention)
    "q97_containment" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents
        |), grams AS (
        |  SELECT doc_id,
        |    unnest(list_distinct(list_transform(
        |      generate_series(1, greatest(len(t) - 3, 0)),
        |      i -> array_to_string(t[i:i+3], ' ')))) AS gram
        |  FROM toks
        |), bsz AS (
        |  SELECT doc_id AS b_doc, CAST(count(*) AS BIGINT) AS b_n
        |  FROM grams WHERE doc_id % 100 = 0 GROUP BY 1
        |), hits AS (
        |  SELECT c.doc_id AS c_doc, b.doc_id AS b_doc,
        |         CAST(count(*) AS BIGINT) AS n_hit
        |  FROM grams c JOIN grams b USING (gram)
        |  WHERE c.doc_id % 100 <> 0 AND b.doc_id % 100 = 0
        |  GROUP BY 1, 2
        |)
        |SELECT h.c_doc, h.b_doc, h.n_hit, s.b_n,
        |       CAST(h.n_hit AS DOUBLE) / s.b_n AS containment
        |FROM hits h JOIN bsz s USING (b_doc)
        |WHERE CAST(h.n_hit AS DOUBLE) / s.b_n >= 0.02""".stripMargin,


    // fit/serve split: q42's exact int8 CTE chain verbatim, with the pair
    // space restricted to same-cell pairs read from the PERSISTED KMeans
    // assignments, then the lower-id survivor anti-join — the entire
    // serving half of the semantic dedup replayed over identical stored
    // bits
    "q100_semantic_dedup" ->
      s"""WITH s AS (
         |  SELECT CAST(max(list_max(list_transform(embedding, x -> abs(x)))) AS DOUBLE) / 127 AS g
         |  FROM embeddings
         |), v AS (
         |  SELECT vec_id,
         |         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) / g) AS BIGINT)) AS qv
         |  FROM embeddings, s
         |), w AS (
         |  SELECT c.vec_id, c.cell, v.qv,
         |         CAST(list_sum(list_transform(v.qv, x -> x * x)) AS BIGINT) AS n2
         |  FROM v JOIN read_parquet('${predsPath("q100_cells")}/*.parquet') c USING (vec_id)
         |), ok AS (
         |  SELECT cell FROM read_parquet('${predsPath("q100_cells")}/*.parquet')
         |  GROUP BY cell HAVING count(*) <= 10000
         |), pairs AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |    CAST(list_sum(list_transform(generate_series(1, len(a.qv)), i -> a.qv[i] * b.qv[i])) AS BIGINT) AS dot_i8,
         |    a.n2 AS na2, b.n2 AS nb2
         |  FROM w a JOIN w b ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  JOIN ok ON ok.cell = a.cell
         |), dropped AS (
         |  SELECT DISTINCT id_b FROM pairs
         |  WHERE dot_i8 > 0
         |    AND CAST(dot_i8 AS HUGEINT) * dot_i8 * 10000 >= CAST(1600 AS HUGEINT) * na2 * nb2
         |)
         |SELECT w.vec_id, w.cell FROM w
         |WHERE NOT EXISTS (SELECT 1 FROM dropped d WHERE d.id_b = w.vec_id)""".stripMargin,


    // the q43 pair CTEs + exact shingle-set counts and the identical
    // cross-multiplied percent sweep
    "q412_dedup_threshold_curve" ->
      s"""WITH $lshPairsChain, ss AS (
         |  SELECT doc_id, list_distinct(shingles) AS sset FROM sh
         |), jc AS (
         |  SELECT p.a_doc, p.b_doc,
         |    CAST(len(list_intersect(a.sset, b.sset)) AS BIGINT) AS inter,
         |    CAST(len(list_distinct(list_concat(a.sset, b.sset))) AS BIGINT)
         |      AS uni
         |  FROM pairs p JOIN ss a ON p.a_doc = a.doc_id
         |               JOIN ss b ON p.b_doc = b.doc_id
         |), k AS (
         |  SELECT t_pct, a_doc, b_doc FROM jc,
         |    unnest([CAST(50 AS BIGINT), CAST(60 AS BIGINT),
         |            CAST(70 AS BIGINT), CAST(80 AS BIGINT),
         |            CAST(90 AS BIGINT)]) AS u(t_pct)
         |  WHERE inter * 100 >= uni * t_pct
         |), dd AS (
         |  SELECT t_pct, a_doc AS d FROM k
         |  UNION ALL SELECT t_pct, b_doc FROM k
         |), p2 AS (
         |  SELECT t_pct, CAST(count(*) AS BIGINT) AS n_pairs
         |  FROM k GROUP BY 1
         |), d2 AS (
         |  SELECT t_pct, CAST(count(DISTINCT d) AS BIGINT) AS n_docs
         |  FROM dd GROUP BY 1
         |)
         |SELECT p2.t_pct, p2.n_pairs, d2.n_docs
         |FROM p2 JOIN d2 ON p2.t_pct = d2.t_pct""".stripMargin,

    // the q43 banded-minhash pair CTEs + the source dim join and the
    // same canonical source ordering (docs swap with their sources)
    "q407_source_dup_matrix" ->
      s"""WITH $lshPairsChain, sp AS (
         |  SELECT least(da.source, db.source) AS source_a,
         |         greatest(da.source, db.source) AS source_b,
         |         CASE WHEN da.source <= db.source THEN p.a_doc
         |              ELSE p.b_doc END AS da,
         |         CASE WHEN da.source <= db.source THEN p.b_doc
         |              ELSE p.a_doc END AS db
         |  FROM pairs p
         |  JOIN documents da ON p.a_doc = da.doc_id
         |  JOIN documents db ON p.b_doc = db.doc_id
         |)
         |SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(count(DISTINCT da) AS BIGINT) AS n_docs_a,
         |  CAST(count(DISTINCT db) AS BIGINT) AS n_docs_b
         |FROM sp GROUP BY 1, 2""".stripMargin,

    // q43's recursive closure + per-cluster argmax by (n_tok desc, id)
    // q404's closure + q45's exact-Jaccard chain + the per-cluster
    // min/max rollup and the 0.5-threshold chaining flag
    "q462_cluster_chaining_audit" ->
      s"""WITH RECURSIVE ${lshClusterChain("cl")}, sets AS (
         |  SELECT doc_id, list_distinct(shingles) AS sset FROM sh
         |), jc AS (
         |  SELECT p.a_doc, p.b_doc,
         |    CAST(len(list_filter(sa.sset, x -> list_contains(sb.sset, x)))
         |      * 1000000
         |      // (len(sa.sset) + len(sb.sset)
         |         - len(list_filter(sa.sset, x -> list_contains(sb.sset, x))))
         |      AS BIGINT) AS j_ppm
         |  FROM pairs p
         |  JOIN sets sa ON p.a_doc = sa.doc_id
         |  JOIN sets sb ON p.b_doc = sb.doc_id
         |), stats AS (
         |  SELECT cl.cluster_id, CAST(count(*) AS BIGINT) AS n_cand_pairs,
         |    CAST(min(jc.j_ppm) AS BIGINT) AS min_j_ppm,
         |    CAST(max(jc.j_ppm) AS BIGINT) AS max_j_ppm
         |  FROM jc JOIN cl ON jc.a_doc = cl.doc_id
         |  GROUP BY 1
         |), mem AS (
         |  SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members
         |  FROM cl GROUP BY 1
         |), out AS (
         |  SELECT mem.cluster_id, mem.n_members, stats.n_cand_pairs,
         |    stats.min_j_ppm, stats.max_j_ppm,
         |    stats.min_j_ppm < 500000 AS chained
         |  FROM mem JOIN stats ON mem.cluster_id = stats.cluster_id
         |)
         |SELECT out.*,
         |  (SELECT CAST(sum(CASE WHEN chained THEN 1 ELSE 0 END) AS BIGINT)
         |   FROM out) AS n_chained
         |FROM out""".stripMargin,

    // the identical plant derivation + the q420 verdict chain with the
    // train side unfiltered and the eval side the re-keyed copies
    "q461_decontamination_catch" ->
      ("WITH " + Seq(windowDocsCte,
        """pl AS (
          |  SELECT id + 1000000 AS id, ts FROM tt
          |  WHERE id % 50 = 0 AND len(ts) >= 24
          |)""".stripMargin,
        anchorGramsCte(), cappedAnchorsCte(), anchorGramsCte("pl", "ge", "ae"),
        """cand AS (
          |  SELECT x.id AS a_doc, x.pos AS a_pos, y.id AS b_doc, y.pos AS b_pos
          |  FROM ae x JOIN cap y USING (gram)
          |)""".stripMargin, anchorExtensionCte("pl")).mkString(", ") +
        """, marks AS (
          |  SELECT a_doc, b_doc, max(rmiss - lmiss - 1) AS max_len
          |  FROM x GROUP BY 1, 2 HAVING max(rmiss - lmiss - 1) >= 12
          |), per AS (
          |  SELECT pl.id - 1000000 AS orig_id,
          |    CAST(len(pl.ts) AS BIGINT) AS n_tok,
          |    CAST(coalesce(m.mx, 0) AS BIGINT) AS max_shared,
          |    CAST(CASE WHEN coalesce(m.mx, 0) >= 16 THEN 1 ELSE 0 END
          |      AS BIGINT) AS caught
          |  FROM pl LEFT JOIN (
          |    SELECT a_doc, CAST(max(max_len) AS BIGINT) AS mx
          |    FROM marks GROUP BY 1) m ON pl.id = m.a_doc
          |), tot AS (
          |  SELECT CAST(count(*) AS BIGINT) AS n_planted,
          |    CAST(sum(caught) * 1000000 // count(*) AS BIGINT) AS catch_ppm
          |  FROM per
          |)
          |SELECT per.orig_id, per.n_tok, per.max_shared, per.caught,
          |  tot.n_planted, tot.catch_ppm
          |FROM per CROSS JOIN tot""".stripMargin),

    // q16's pair CTE + the q403 split rule + the per-lang leak rollup
    "q453_leakage_probe" ->
      s"""WITH $lshPairsChain, spl AS (
         |  SELECT doc_id, lang,
         |    row_number() OVER (PARTITION BY lang
         |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) <= 20
         |      AS is_eval
         |  FROM documents
         |), sym AS (
         |  SELECT a_doc AS e, b_doc AS o FROM pairs
         |  UNION ALL SELECT b_doc, a_doc FROM pairs
         |), ev AS (
         |  SELECT doc_id AS e, lang FROM spl WHERE is_eval
         |), tr AS (
         |  SELECT doc_id AS o FROM spl WHERE NOT is_eval
         |), leaky AS (
         |  SELECT DISTINCT ev.e, ev.lang
         |  FROM sym JOIN ev ON sym.e = ev.e
         |  WHERE sym.o IN (SELECT o FROM tr)
         |), ne AS (
         |  SELECT lang, CAST(count(*) AS BIGINT) AS n_eval
         |  FROM ev GROUP BY 1
         |), nl AS (
         |  SELECT lang, CAST(count(*) AS BIGINT) AS n_leaky
         |  FROM leaky GROUP BY 1
         |)
         |SELECT ne.lang, ne.n_eval,
         |  CAST(coalesce(nl.n_leaky, 0) AS BIGINT) AS n_leaky,
         |  CAST(coalesce(nl.n_leaky, 0) * 1000000 // ne.n_eval AS BIGINT)
         |    AS leak_ppm
         |FROM ne LEFT JOIN nl ON ne.lang = nl.lang""".stripMargin,

    // q16's signature CTE reused twice: component agreement vs the exact
    // candidate-pair Jaccard, binned at the matches grain
    "q451_minhash_calibration" ->
      s"""WITH $lshPairsChain, est AS (
         |  SELECT p.a_doc, p.b_doc,
         |    CAST(len(list_filter(generate_series(1, 6),
         |      j -> sa.mh[j] = sb.mh[j])) AS BIGINT) AS matches
         |  FROM pairs p
         |  JOIN sig sa ON p.a_doc = sa.doc_id
         |  JOIN sig sb ON p.b_doc = sb.doc_id
         |), sets AS (
         |  SELECT doc_id, list_distinct(shingles) AS sset FROM sh
         |), ex AS (
         |  SELECT p.a_doc, p.b_doc,
         |    CAST(len(list_filter(sa.sset, x -> list_contains(sb.sset, x)))
         |      * 1000000
         |      // (len(sa.sset) + len(sb.sset)
         |         - len(list_filter(sa.sset, x -> list_contains(sb.sset, x))))
         |      AS BIGINT) AS exact_ppm
         |  FROM pairs p
         |  JOIN sets sa ON p.a_doc = sa.doc_id
         |  JOIN sets sb ON p.b_doc = sb.doc_id
         |), binned AS (
         |  SELECT e.matches, CAST(count(*) AS BIGINT) AS n_pairs,
         |    CAST(sum(x.exact_ppm) AS BIGINT) AS sum_exact
         |  FROM est e JOIN ex x
         |    ON e.a_doc = x.a_doc AND e.b_doc = x.b_doc
         |  GROUP BY 1
         |)
         |SELECT matches, n_pairs,
         |  CAST(matches * 1000000 // 6 AS BIGINT) AS est_ppm,
         |  CAST(sum_exact // n_pairs AS BIGINT) AS mean_exact_ppm,
         |  CAST(matches * 1000000 // 6 - sum_exact // n_pairs AS BIGINT)
         |    AS bias_ppm
         |FROM binned""".stripMargin,

    // q404's recursive closure + the two inverted policy chains; the
    // HAVING mirrors the engine's chosen<>rejected singleton guard
    "q435_preference_pairs" ->
      s"""WITH RECURSIVE ${lshClusterChain("cl")}, m AS (
         |  SELECT cl.cluster_id, cl.doc_id,
         |         CAST(len(t.ts) AS BIGINT) AS n_tok,
         |         CAST(len(list_distinct(t.ts)) * 1000000
         |           // greatest(len(t.ts), 1) AS BIGINT) AS quality_ppm
         |  FROM cl JOIN t ON cl.doc_id = t.doc_id
         |), r AS (
         |  SELECT *,
         |    row_number() OVER (PARTITION BY cluster_id
         |      ORDER BY quality_ppm DESC, n_tok DESC, doc_id ASC) AS rc,
         |    row_number() OVER (PARTITION BY cluster_id
         |      ORDER BY quality_ppm ASC, n_tok ASC, doc_id DESC) AS rr
         |  FROM m
         |)
         |SELECT cluster_id,
         |  CAST(max(CASE WHEN rc = 1 THEN doc_id END) AS BIGINT) AS chosen,
         |  CAST(max(CASE WHEN rc = 1 THEN quality_ppm END) AS BIGINT)
         |    AS chosen_q,
         |  CAST(max(CASE WHEN rr = 1 THEN doc_id END) AS BIGINT) AS rejected,
         |  CAST(max(CASE WHEN rr = 1 THEN quality_ppm END) AS BIGINT)
         |    AS rejected_q,
         |  CAST(max(CASE WHEN rc = 1 THEN quality_ppm END)
         |    - max(CASE WHEN rr = 1 THEN quality_ppm END) AS BIGINT)
         |    AS gap_ppm
         |FROM r GROUP BY 1
         |HAVING max(CASE WHEN rc = 1 THEN doc_id END)
         |    <> max(CASE WHEN rr = 1 THEN doc_id END)""".stripMargin,

    "q404_quality_survivor" ->
      s"""WITH RECURSIVE ${lshClusterChain("cl")}, q AS (
         |  SELECT cl.cluster_id, cl.doc_id,
         |         CAST(len(t.ts) AS BIGINT) AS n_tok,
         |         row_number() OVER (PARTITION BY cl.cluster_id
         |                            ORDER BY len(t.ts) DESC, cl.doc_id ASC)
         |           AS rk
         |  FROM cl JOIN t ON cl.doc_id = t.doc_id
         |)
         |SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members,
         |  CAST(max(CASE WHEN rk = 1 THEN doc_id END) AS BIGINT) AS survivor,
         |  CAST(max(CASE WHEN rk = 1 THEN n_tok END) AS BIGINT)
         |    AS survivor_n_tok,
         |  CAST(sum(n_tok) AS BIGINT) AS cluster_n_tok
         |FROM q GROUP BY 1""".stripMargin,

    // the identical cross-corpus computation (train-side-only cap, eval
    // anchors uncapped, guarded indexing) + the per-eval verdict rollup
    // with the explicit clean-eval left join
    "q420_eval_decontamination" ->
      ("WITH " + Seq(windowDocsCte, anchorGramsCte(),
        cappedAnchorsCte(" WHERE id % 10 <> 0"),
        """cand AS (
          |  SELECT x.id AS a_doc, x.pos AS a_pos, y.id AS b_doc, y.pos AS b_pos
          |  FROM (SELECT id, pos, gram FROM a WHERE id % 10 = 0) x
          |  JOIN cap y USING (gram)
          |)""".stripMargin, anchorExtensionCte()).mkString(", ") +
        """, marks AS (
          |  SELECT a_doc, b_doc, max(rmiss - lmiss - 1) AS max_len
          |  FROM x GROUP BY 1, 2 HAVING max(rmiss - lmiss - 1) >= 12
          |), per_eval AS (
          |  SELECT a_doc AS doc_id, CAST(max(max_len) AS BIGINT) AS mx,
          |         CAST(count(DISTINCT b_doc) AS BIGINT) AS nt
          |  FROM marks GROUP BY 1
          |)
          |SELECT d.doc_id,
          |       CAST(coalesce(p.mx, 0) AS BIGINT) AS max_shared,
          |       CAST(coalesce(p.nt, 0) AS BIGINT) AS n_train_docs,
          |       coalesce(p.mx, 0) >= 16 AS contaminated
          |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) d
          |LEFT JOIN per_eval p ON d.doc_id = p.doc_id""".stripMargin),

    // both sides of the saturation consistency check stated
    // independently from the same anchor derivation
    "q418_anchor_saturation" ->
      s"""WITH ${windowDocsCte}, ${anchorGramsCte()}, p AS (
         |  SELECT gram, CAST(count(*) AS BIGINT) AS postings FROM a GROUP BY 1
         |), h AS (
         |  SELECT postings, CAST(count(*) AS BIGINT) AS n_grams
         |  FROM p GROUP BY 1
         |), d AS (
         |  SELECT postings, CAST(count(*) AS BIGINT) AS n_saturated,
         |         CAST(sum(postings - 2) AS BIGINT) AS dropped
         |  FROM p WHERE postings > 2 GROUP BY 1
         |)
         |SELECT h.postings, h.n_grams,
         |       CAST(coalesce(d.n_saturated, 0) AS BIGINT) AS n_saturated,
         |       CAST(coalesce(d.dropped, 0) AS BIGINT) AS dropped
         |FROM h LEFT JOIN d ON h.postings = d.postings""".stripMargin,

    // q43's recursive closure + the identical lexicographic policy chain
    // (src_tier asc, quality_ppm desc, n_tok desc, doc_id asc)
    "q416_survivor_policy" ->
      s"""WITH RECURSIVE t AS (
         |  SELECT doc_id, source,
         |         regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
         |  FROM documents
         |), $shinglesCte, $minhashBandsCte, $lshPairsCte, ${minLabelClosure("cl")}, m AS (
         |  SELECT cl.cluster_id, cl.doc_id,
         |         CAST(CAST(regexp_extract(t.source, '([0-9]+)', 1) AS INT) % 4
         |           AS BIGINT) AS src_tier,
         |         CAST(len(list_distinct(t.ts)) * 1000000
         |           // greatest(len(t.ts), 1) AS BIGINT) AS quality_ppm,
         |         CAST(len(t.ts) AS BIGINT) AS n_tok,
         |         CAST(count(*) OVER (PARTITION BY cl.cluster_id) AS BIGINT)
         |           AS n_members
         |  FROM cl JOIN t ON cl.doc_id = t.doc_id
         |), r AS (
         |  SELECT *, row_number() OVER (PARTITION BY cluster_id
         |    ORDER BY src_tier ASC, quality_ppm DESC, n_tok DESC, doc_id ASC)
         |    AS rk
         |  FROM m
         |)
         |SELECT cluster_id, doc_id AS survivor, src_tier, quality_ppm,
         |       n_tok, n_members
         |FROM r WHERE rk = 1""".stripMargin,

    // the identical anchor-cap-extend computation, stated relationally:
    // 60-bit md5 anchor mod, md5-order both-side caps, guarded 1-based
    // indexing (out-of-range is NULL/mismatch — NEVER from-the-end)
    "q398_cross_doc_substrings" ->
      (substringExtensionsCte +
        """
          |SELECT a_doc, b_doc, CAST(count(*) AS BIGINT) AS n_anchor_pairs,
          |       CAST(max(rmiss - lmiss - 1) AS BIGINT) AS max_len
          |FROM x GROUP BY 1, 2 HAVING max(rmiss - lmiss - 1) >= 16""".stripMargin),

    // q398's extension CTEs + the diagonal gaps-and-islands stitch
    "q406_stitched_substrings" ->
      (substringExtensionsCte +
        """
          |, iv AS (
          |  SELECT a_doc, b_doc, a_pos - b_pos AS diag,
          |         a_pos + lmiss + 1 AS s, a_pos + rmiss - 1 AS e
          |  FROM x
          |), m AS (
          |  SELECT a_doc, b_doc, diag, s, e,
          |    max(e) OVER (PARTITION BY a_doc, b_doc, diag ORDER BY s, e
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
          |  FROM iv
          |), isl AS (
          |  SELECT *, CASE WHEN pme IS NULL OR s > pme + 1
          |                 THEN 1 ELSE 0 END AS ni
          |  FROM m
          |), num AS (
          |  SELECT *, sum(ni) OVER (PARTITION BY a_doc, b_doc, diag
          |                          ORDER BY s, e) AS island
          |  FROM isl
          |), sp AS (
          |  SELECT a_doc, b_doc, diag, island,
          |         min(s) AS i_s, max(e) AS i_e
          |  FROM num GROUP BY 1, 2, 3, 4
          |)
          |SELECT a_doc, b_doc, CAST(count(*) AS BIGINT) AS n_runs,
          |       CAST(max(i_e - i_s + 1) AS BIGINT) AS max_run
          |FROM sp GROUP BY 1, 2
          |HAVING max(i_e - i_s + 1) >= 16""".stripMargin),

    "q103_dup_spans" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
        |  FROM documents
        |), g AS (
        |  SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tok, i AS pos,
        |         array_to_string(ts[i:i+7], ' ') AS gram
        |  FROM t, unnest(generate_series(1, len(ts) - 7)) AS u(i)
        |  WHERE len(ts) >= 8
        |), d AS (
        |  SELECT gram FROM g GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
        |), h AS (
        |  SELECT g.doc_id, g.n_tok, g.pos FROM g JOIN d USING (gram)
        |), m AS (
        |  SELECT doc_id, n_tok, pos,
        |         max(pos + 7) OVER (PARTITION BY doc_id ORDER BY pos
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
        |  FROM h
        |), isl AS (
        |  SELECT doc_id, n_tok, pos,
        |         CASE WHEN pme IS NULL OR pos > pme + 1 THEN 1 ELSE 0 END AS ni
        |  FROM m
        |), num AS (
        |  SELECT doc_id, n_tok, pos,
        |         sum(ni) OVER (PARTITION BY doc_id ORDER BY pos) AS island
        |  FROM isl
        |), sp AS (
        |  SELECT doc_id, n_tok, island, min(pos) AS s, max(pos + 7) AS e
        |  FROM num GROUP BY 1, 2, 3
        |)
        |SELECT doc_id, n_tok,
        |       CAST(count(*) AS BIGINT) AS n_spans,
        |       CAST(sum(e - s + 1) AS BIGINT) AS dup_tokens,
        |       CAST(sum(e - s + 1) * 1000000 // n_tok AS BIGINT) AS cov_ppm
        |FROM sp GROUP BY 1, 2""".stripMargin,


    // same 60-bit md5 hash family as q16 over 3-token shingles;
    // hs[i:i+3] is the w=4 window, min per window, distinct per doc,
    // then cross-doc sharing counts
    "q35_winnow" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM documents
        |), sh AS (
        |  SELECT doc_id,
        |         list_transform(generate_series(1, len(ts)-2),
        |                        i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]) AS shingles
        |  FROM t WHERE len(ts) >= 3
        |), h AS (
        |  SELECT doc_id,
        |         list_transform(shingles, g -> CAST('0x' || substr(md5(g), 1, 15) AS BIGINT)) AS hs
        |  FROM sh WHERE len(shingles) >= 4
        |), m AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(generate_series(1, len(hs) - 3),
        |                                      i -> list_aggregate(hs[i:i+3], 'min'))) AS fps
        |  FROM h
        |), e AS (SELECT doc_id, unnest(fps) AS fp FROM m)
        |SELECT fp, CAST(count(*) AS BIGINT) AS n_docs
        |FROM e GROUP BY fp HAVING count(*) >= 2""".stripMargin,


    // base signatures recovered from the exploded hive layout
    // (DISTINCT id, sig across the band=/kb= dirs), probe signatures
    // from their plain file, then the standard cross banding replay —
    // the kb pruning is a read optimization with identical results
    "q476_hamming_index_serve" ->
      indexProbeSql(predsPath("q476_index"), predsPath("q476_probe_sigs")),


    // the q476 banding replay over the POST-ERASURE layout's stored
    // bits (the erasure laws themselves live in DedupSpec — the oracle
    // certifies probe == layout replay on what remains)
    "q505_index_erasure" ->
      indexProbeSql(predsPath("q505_index"), predsPath("q505_probe_sigs")),


    // verbatim leg restated from `documents` (the q485 gram grain over
    // the train/eval split); semantic leg over the persisted candidate
    // pairs + units with the 0.95 integer-dot threshold
    "q503_decon_scorecard" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |    regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
         |  FROM documents
         |), g AS (
         |  SELECT DISTINCT doc_id,
         |    md5(array_to_string(ts[i:i+7], ' ')) AS fp
         |  FROM t, unnest(generate_series(1, len(ts) - 7)) AS u(i)
         |  WHERE len(ts) >= 8
         |), ef AS (
         |  SELECT DISTINCT fp FROM g WHERE doc_id % 50 = 0
         |), verb AS (
         |  SELECT DISTINCT g.doc_id FROM g
         |  JOIN ef ON g.fp = ef.fp
         |  WHERE g.doc_id % 50 <> 0
         |), sl AS (
         |  SELECT q_id, n_id FROM read_parquet('${predsPath("q503_cands")}/*.parquet')
         |), ${unitsCte(predsPath("q503_units"))}, sem AS (
         |  SELECT DISTINCT s.n_id AS doc_id
         |  FROM sl s
         |  JOIN u a ON s.q_id = a.vec_id
         |  JOIN u b ON s.n_id = b.vec_id
         |  WHERE ${unitDotSql()} >= 950000000000
         |)
         |SELECT d.source, CAST(count(*) AS BIGINT) AS n_train,
         |  CAST(sum(CASE WHEN v.doc_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS verbatim_hits,
         |  CAST(sum(CASE WHEN sm.doc_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS semantic_hits,
         |  CAST(sum(CASE WHEN v.doc_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) * 1000000
         |    // greatest(CAST(count(*) AS BIGINT), 1) AS verbatim_ppm,
         |  CAST(sum(CASE WHEN sm.doc_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) * 1000000
         |    // greatest(CAST(count(*) AS BIGINT), 1) AS semantic_ppm
         |FROM documents d
         |LEFT JOIN verb v ON d.doc_id = v.doc_id
         |LEFT JOIN sem sm ON d.doc_id = sm.doc_id
         |WHERE d.doc_id % 50 <> 0
         |GROUP BY 1""".stripMargin,


    // the q476 banding replay, read from the MERGED layout's stored bits
    "q502_index_merge" ->
      indexProbeSql(predsPath("q502_index"), predsPath("q502_probe_sigs")),


    // cross-set banding replay over the two persisted signature files:
    // both sides band into 8×8-bit keys, the eval side capped per
    // (band, key) in the same md5 order the engine uses, candidates from
    // the key equi-join, exact hamming ≤7 verify, then the per-train
    // decision join
    "q472_perceptual_decontamination" ->
      ("WITH " + crossProbeCtes(
          ("t", "bt", "train_id", predsPath("q472_train_sigs")),
          ("e", "be", "eval_id", predsPath("q472_eval_sigs"))) +
        ", p AS (\n  " +
        bandedProbeSelect("bt", "train_id", "be", "eval_id").replace("\n", "\n  ") +
        """
        |), h AS (
        |  SELECT train_id, CAST(count(*) AS BIGINT) AS nm,
        |    min(hamming) AS mh
        |  FROM p GROUP BY 1
        |)
        |SELECT ti.train_id,
        |  coalesce(h.nm, 0) AS n_eval_matches,
        |  CAST(coalesce(h.mh, -1) AS INT) AS min_hamming,
        |  (coalesce(h.nm, 0) > 0) AS contaminated
        |FROM (SELECT DISTINCT train_id FROM t) ti
        |LEFT JOIN h USING (train_id)""".stripMargin),


    // the q43 closure + q225 hamming-replay recipes COMPOSED: text
    // edges re-derived by the md5 rule over the stated corpus, image
    // edges replayed over the persisted dhash signatures (4 bands of
    // 16 bits, ≤3 hamming), one recursive transitive closure over the
    // union, survivor per component by (text length desc, id)
    "q468_multisignal_survivors" ->
      s"""WITH RECURSIVE corpus AS (
         |  SELECT doc_id AS id, text FROM documents
         |  UNION ALL SELECT doc_id + 1000000, text FROM documents
         |  UNION ALL SELECT doc_id + 2000000, text || ' v2' FROM documents
         |), tp AS (
         |  SELECT x.id AS a_doc, y.id AS b_doc
         |  FROM corpus x JOIN corpus y
         |    ON md5(x.text) = md5(y.text) AND x.id < y.id
         |), ${sigFileCte("sigs", "asset_id AS id", predsPath("q468_sigs"))}, banded AS (
         |  SELECT s.id, s.sig, b.band, (s.usig // b.d) % ${bandModulus(textHamming._2)} AS key
         |  FROM sigs s CROSS JOIN (VALUES
         |    ${bandDivisorRows(textHamming._2).mkString(",\n    ")}) b(band, d)
         |), ok AS (
         |  SELECT band, key FROM banded GROUP BY band, key
         |  HAVING COUNT(*) >= 2 AND COUNT(*) <= 10000
         |), ip AS (
         |  SELECT DISTINCT a.id AS a_doc, b.id AS b_doc
         |  FROM banded a
         |  JOIN ok o ON o.band = a.band AND o.key = a.key
         |  JOIN banded b ON b.band = a.band AND b.key = a.key AND a.id < b.id
         |  WHERE bit_count(xor(a.sig, b.sig)) <= ${textHamming._1}
         |), edges AS (
         |  SELECT a_doc AS src, b_doc AS dst FROM tp
         |  UNION SELECT b_doc, a_doc FROM tp
         |  UNION SELECT a_doc, b_doc FROM ip
         |  UNION SELECT b_doc, a_doc FROM ip
         |), $reachCte, ${minLabelCte("clusters")}, members AS (
         |  SELECT c.cluster_id, c.doc_id, co.text
         |  FROM clusters c JOIN corpus co ON co.id = c.doc_id
         |), surv AS (
         |  SELECT cluster_id, doc_id AS survivor_id,
         |    row_number() OVER (PARTITION BY cluster_id
         |      ORDER BY length(text) DESC, doc_id) AS rk
         |  FROM members
         |)
         |SELECT s.cluster_id, CAST(s.survivor_id AS BIGINT) AS survivor_id,
         |  CAST(m.n AS BIGINT) AS n_members
         |FROM surv s
         |JOIN (SELECT cluster_id, count(*) AS n FROM clusters
         |      GROUP BY cluster_id) m USING (cluster_id)
         |WHERE s.rk = 1""".stripMargin,


    // q16's pair derivation verbatim, then connected components as a
    // recursive transitive closure: min over each doc's reachable set ==
    // min-label fixpoint (components are small, so closure is cheap here;
    // the Spark side converges by iteration, not enumeration)
    "q43_dup_clusters" ->
      s"""WITH RECURSIVE $lshPairsChain, ${symmetricEdgesCte()}, $reachCte
         |SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
         |FROM reach GROUP BY id""".stripMargin,


    // q43's recursive closure + the size rollup
    "q244_cluster_size_histogram" ->
      s"""WITH RECURSIVE ${lshClusterChain("clusters")}, sizes AS (
         |  SELECT cluster_id, CAST(count(*) AS BIGINT) AS sz
         |  FROM clusters GROUP BY 1
         |)
         |SELECT sz AS cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
         |       CAST(sum(sz) - count(*) AS BIGINT) AS n_dropped
         |FROM sizes GROUP BY 1""".stripMargin,


    "q70_decontaminate" -> gramDecontaminationSql,


    // q16's pair CTEs + exact Jaccard over distinct shingle sets; the
    // division is the same (int intersection)/(int union) in IEEE double
    // on both engines, so even the float column hash-matches
    "q45_jaccard_dedup" ->
      s"""WITH $lshPairsChain, sets AS (
         |  SELECT doc_id, list_distinct(shingles) AS sset FROM sh
         |), scored AS (
         |  SELECT p.a_doc, p.b_doc,
         |         CAST(len(list_filter(sa.sset, x -> list_contains(sb.sset, x))) AS DOUBLE) /
         |           (len(sa.sset) + len(sb.sset) - len(list_filter(sa.sset, x -> list_contains(sb.sset, x))))
         |           AS jaccard
         |  FROM pairs p
         |  JOIN sets sa ON p.a_doc = sa.doc_id
         |  JOIN sets sb ON p.b_doc = sb.doc_id
         |)
         |SELECT a_doc, b_doc, jaccard FROM scored WHERE jaccard >= 0.5""".stripMargin,

    // LSH recall replay: exact ground truth via the posting self-join
    // (sampled lower endpoint), candidates via q45's md5 banding CTEs,
    // then the same per-doc hit counts and integer recall
    "q138_lsh_recall" ->
      s"""WITH $docTokensCte, $shinglesCte, sets AS (
         |  SELECT doc_id, list_distinct(shingles) AS sset FROM sh
         |), post AS (
         |  SELECT doc_id, len(sset) AS n, unnest(sset) AS g FROM sets
         |), exc AS (
         |  SELECT a.doc_id AS a_doc, b.doc_id AS b_doc, count(*) AS inter,
         |         any_value(a.n) AS na, any_value(b.n) AS nb
         |  FROM post a JOIN post b ON a.g = b.g AND a.doc_id < b.doc_id
         |  WHERE a.doc_id % 5 = 0
         |  GROUP BY 1, 2
         |), ex AS (
         |  SELECT a_doc, b_doc FROM exc
         |  WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.35
         |), $minhashBandsCte, cand AS (
         |  SELECT DISTINCT a.doc_id AS a_doc, b.doc_id AS b_doc, 1 AS hit
         |  FROM bands a JOIN bands b
         |    ON a.band_id = b.band_id AND a.bucket = b.bucket AND a.doc_id < b.doc_id
         |  WHERE a.doc_id % 5 = 0
         |)
         |SELECT ex.a_doc, CAST(count(*) AS BIGINT) AS n_exact,
         |       CAST(sum(COALESCE(c.hit, 0)) AS BIGINT) AS n_hit,
         |       CAST((sum(COALESCE(c.hit, 0)) * 1000000) // count(*) AS BIGINT) AS recall_ppm
         |FROM ex LEFT JOIN cand c ON ex.a_doc = c.a_doc AND ex.b_doc = c.b_doc
         |GROUP BY 1""".stripMargin,


    // identical to q70's oracle by design: the bloom path must return the
    // exact-join answer bit for bit
    "q73_bloom_decontaminate" -> gramDecontaminationSql,


    // candidate/verify split: the oracle replays q45's exact-Jaccard
    // scoring over the persisted candidate pairs the native-LSH stage
    // wrote — distinct 3-token shingle sets, |A∩B| / (|A|+|B|−|A∩B|),
    // threshold 0.5
    "q24_near_dedup_fast" ->
      s"""WITH cands AS (
         |  SELECT a_doc, b_doc FROM read_parquet('${predsPath("q24_cands")}/*.parquet')
         |), t AS (
         |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM documents
         |), sh AS (
         |  SELECT doc_id,
         |         list_distinct(list_transform(generate_series(1, len(ts)-2),
         |                        i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS sset
         |  FROM t WHERE len(ts) >= 3
         |), scored AS (
         |  SELECT c.a_doc, c.b_doc,
         |         CAST(len(list_filter(sa.sset, x -> list_contains(sb.sset, x))) AS DOUBLE) /
         |           (len(sa.sset) + len(sb.sset) - len(list_filter(sa.sset, x -> list_contains(sb.sset, x))))
         |           AS jaccard
         |  FROM cands c
         |  JOIN sh sa ON c.a_doc = sa.doc_id
         |  JOIN sh sb ON c.b_doc = sb.doc_id
         |)
         |SELECT a_doc, b_doc, jaccard FROM scored WHERE jaccard >= 0.5""".stripMargin,


    // fit/serve split: the serve half (shared-fingerprint grouping) is a
    // plain GROUP BY over the persisted winnowing fingerprints
    "q36_winnow_fast" ->
      s"""SELECT fp, CAST(COUNT(*) AS BIGINT) AS n_docs
         |FROM read_parquet('${predsPath("q36_fps")}/*.parquet')
         |GROUP BY fp HAVING COUNT(*) >= 2""".stripMargin,


    // fit/serve split: banded-hamming LSH serve replayed over the
    // persisted SimHash signatures (text defaults: hamMax 3, 4 bands)
    "q40_simhash_dups" ->
      hammingReplaySql(predsPath("q40_sigs"), "doc_id", textHamming),


    // q16/q45's md5-LSH pipeline with the pair space restricted to
    // cross-side (new × existing) collisions
    "q78_incremental_dedup" ->
      s"""WITH $lshBandsChain, bandsz AS (
         |  SELECT doc_id, band_id, bucket,
         |         count(*) OVER (PARTITION BY band_id, bucket, doc_id % 3 = 0) AS bsz
         |  FROM bands
         |), pairs AS (
         |  SELECT DISTINCT a.doc_id AS a_doc, b.doc_id AS b_doc
         |  FROM bandsz a JOIN bandsz b
         |    ON a.band_id = b.band_id AND a.bucket = b.bucket
         |  WHERE a.doc_id % 3 = 0 AND b.doc_id % 3 <> 0
         |    AND a.bsz <= 1000 AND b.bsz <= 1000
         |), sets AS (
         |  SELECT doc_id, list_distinct(shingles) AS sset FROM sh
         |), scored AS (
         |  SELECT p.a_doc, p.b_doc,
         |         CAST(len(list_filter(sa.sset, x -> list_contains(sb.sset, x))) AS DOUBLE) /
         |           (len(sa.sset) + len(sb.sset) - len(list_filter(sa.sset, x -> list_contains(sb.sset, x))))
         |           AS jaccard
         |  FROM pairs p
         |  JOIN sets sa ON p.a_doc = sa.doc_id
         |  JOIN sets sb ON p.b_doc = sb.doc_id
         |)
         |SELECT a_doc, b_doc, jaccard FROM scored WHERE jaccard >= 0.5""".stripMargin,


    "q84_survivors" ->
      s"""WITH RECURSIVE ${lshClusterChain("clusters")}, ranked AS (
         |  SELECT c.cluster_id, c.doc_id,
         |         CAST(len(t.ts) AS BIGINT) AS n_tok,
         |         row_number() OVER (PARTITION BY c.cluster_id
         |           ORDER BY len(t.ts) DESC, c.doc_id) AS rn
         |  FROM clusters c JOIN t ON c.doc_id = t.doc_id
         |)
         |SELECT cluster_id, doc_id AS survivor_id, n_tok
         |FROM ranked WHERE rn = 1""".stripMargin,


    // q65's match SQL + the q43 recursive-CTE component pattern over the
    // parity-encoded node space
    "q173_entity_resolution" ->
      s"""WITH RECURSIVE pairs AS (
         |  SELECT c_custkey * 2 AS a_node, s_suppkey * 2 + 1 AS b_node
         |  FROM customer c JOIN supplier s
         |    ON regexp_extract(c_name, '([0-9]{2})$$', 1) =
         |       regexp_extract(s_name, '([0-9]{2})$$', 1)
         |  WHERE levenshtein(c_name, s_name) <= 7
         |), ${symmetricEdgesCte("pairs", "a_node", "b_node")}, $reachCte
         |SELECT id AS node,
         |       CASE WHEN id % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
         |       CAST(id // 2 AS BIGINT) AS entity_id,
         |       CAST(min(r) AS BIGINT) AS cluster_id
         |FROM reach GROUP BY 1, 2, 3""".stripMargin,


    // q173's CTEs + the attributes union + the survivorship aggregates
    "q198_golden_record" ->
      s"""WITH RECURSIVE pairs AS (
         |  SELECT c_custkey * 2 AS a_node, s_suppkey * 2 + 1 AS b_node
         |  FROM customer c JOIN supplier s
         |    ON regexp_extract(c_name, '([0-9]{2})$$', 1) =
         |       regexp_extract(s_name, '([0-9]{2})$$', 1)
         |  WHERE levenshtein(c_name, s_name) <= 7
         |), ${symmetricEdgesCte("pairs", "a_node", "b_node")}, $reachCte, cl AS (
         |  SELECT id,
         |         CASE WHEN id % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
         |         CAST(id // 2 AS BIGINT) AS entity_id,
         |         CAST(min(r) AS BIGINT) AS cluster_id
         |  FROM reach GROUP BY 1, 2, 3
         |), attrs AS (
         |  SELECT 'customer' AS kind, c_custkey AS entity_id,
         |         c_name AS name, c_acctbal AS acctbal FROM customer
         |  UNION ALL
         |  SELECT 'supplier', s_suppkey, s_name, s_acctbal FROM supplier
         |)
         |SELECT cl.cluster_id, CAST(count(*) AS BIGINT) AS n_members,
         |       CAST(sum(CASE WHEN cl.kind = 'customer' THEN 1 ELSE 0 END)
         |            AS BIGINT) AS n_customers,
         |       min(a.name) AS canonical_name,
         |       max(a.acctbal) AS best_acctbal
         |FROM cl JOIN attrs a
         |  ON cl.kind = a.kind AND cl.entity_id = a.entity_id
         |GROUP BY 1""".stripMargin,
  )
}
