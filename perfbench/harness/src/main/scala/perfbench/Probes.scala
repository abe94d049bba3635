package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.Tables
import graft.llm.{Dedup, Similarity}
import graft.text.TextOps

/** Layer measurements that the spans cannot give: work counts of the dedup
  * and similarity layers over the generated inputs, throughput of the lazy
  * column layers (`text`, `expr`), whose work otherwise runs inside a
  * consumer's action, and the check of the scan-byte counter against the
  * bytes on disk.
  */
object Probes {
  /** copies of the corpus per probe row set, so a probe times rows, not the
    * fixed cost of one Spark job */
  private val Copies = 10

  /** Probes of the text and expr layers run on every workload; the dedup,
    * similarity and pairs probes only where the workload exercises them. */
  def run(spark: SparkSession, data: String, jobs: Seq[String], layers: Set[String],
      rec: Recorder): Seq[(String, String)] = {
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    def secs(df: => DataFrame): Double = median((1 to 3).map { _ =>
      val t0 = System.nanoTime(); noop(df); (System.nanoTime() - t0) / 1e9
    })

    // "size of files read" must equal the bytes of the files the scan lists
    val lineitem = s"$data/lineitem.parquet"
    val onDisk = diskBytes(new File(lineitem))
    rec.settle()
    val (scan0, input0) = (rec.sumDriver("size of files read"), rec.synchronized(rec.tasks.map(_.inputBytes).sum))
    noop(spark.read.parquet(lineitem))
    rec.settle()
    val scanned = rec.sumDriver("size of files read") - scan0
    val taskInput = rec.synchronized(rec.tasks.map(_.inputBytes).sum) - input0

    val docs = Tables.documents(spark, data)
    val copies = spark.range(Copies).withColumnRenamed("id", "copy")
    val corpus = docs.crossJoin(copies)
      .select((col("doc_id") * Copies + col("copy")).as("doc_id"), col("text"),
        TextOps.tokens(col("text")).as("toks"))
      .persist(StorageLevel.MEMORY_ONLY)
    val rows = corpus.count()
    val textS = secs(TextOps.termFreq(corpus, "doc_id", "text"))
    val minhashS = secs(corpus.select(graft.exprapi.minhashSig(graft.exprapi.wordShingles(col("toks"), 3), 8)))
    val simhashS = secs(corpus.select(graft.exprapi.simhash64(col("toks"))))
    val q8 = Tables.embeddings(spark, data).crossJoin(copies)
      .select(transform(col("embedding"), x => round(x * 100).cast("tinyint")).as("q"))
      .persist(StorageLevel.MEMORY_ONLY)
    val vecs = q8.count()
    val dotS = secs(q8.select(graft.exprapi.int8Dot(col("q"), col("q"))))
    corpus.unpersist(); q8.unpersist()

    val (nCands, nVerified) = if (!layers("llm.dedup")) (0L, 0L) else {
      val cands = Dedup.candidatePairs(
        Dedup.bandBuckets(docs, "doc_id", "text", numHashes = 6, bands = 3, shingleWidth = 3),
        "doc_id").localCheckpoint(true)
      (cands.count(), Dedup.jaccardVerify(docs, cands, "doc_id", "text", threshold = 0.5).count())
    }

    val scored = if (!layers("llm.similarity")) 0L else {
      val e = Tables.embeddings(spark, data)
      val idx = Similarity.fitIvfIndex(
        e.select(col("vec_id").as("n_id"), col("embedding").as("n_emb")), nlist = 16, persistCells = false)
      Similarity.ivfCandidatePairs(idx,
        e.filter(col("vec_id") % 50 === 0).select(col("vec_id").as("q_id"), col("embedding").as("q_emb")),
        nprobe = 4).count()
    }

    // q27's serve half over the artifacts its check run persisted
    val pairCands = if (!jobs.contains("q27_pair_scoring")) 0L else {
      sys.props("graft.preds.tag") = "check"
      graft.queries.MlQueries.serveQ27(spark).count()
    }

    Seq(
      "sources.scan_check_ok" -> (if (scanned == onDisk) 1.0 else 0.0),
      "sources.scan_check_bytes" -> scanned.toDouble,
      "sources.scan_check_disk_bytes" -> onDisk.toDouble,
      "sources.scan_check_task_input_bytes" -> taskInput.toDouble,
      "text.rows_per_s" -> rows / textS,
      "expr.rows_per_s" -> (2 * rows + vecs) / (minhashS + simhashS + dotS),
      "expr.minhash_sig.rows_per_s" -> rows / minhashS,
      "expr.simhash64.rows_per_s" -> rows / simhashS,
      "expr.int8_dot.rows_per_s" -> vecs / dotS,
      "llm.dedup.candidate_pairs" -> nCands.toDouble,
      "llm.dedup.verified_pairs" -> nVerified.toDouble,
      "llm.dedup.pair_yield" -> (if (nCands == 0) 0.0 else nVerified.toDouble / nCands),
      "llm.similarity.candidates_scored" -> scored.toDouble,
      "pairs.candidates" -> pairCands.toDouble
    ).map { case (k, v) => k -> v.toString }
  }

  private def diskBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten
      .filter(c => !c.getName.startsWith(".") && !c.getName.startsWith("_")).map(diskBytes).sum
    else f.length()
}
