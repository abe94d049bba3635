package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Helpers shared by every per-area query file (split out of the original
  * single-file SparkEntry map).
  */
private[graft] object QueryShared {

  /** Root for fit/serve-split staging parquet: the non-portable half of a
    * query persists here once, and BOTH the Spark serve half and the DuckDB
    * oracle read the same stored bits. Tagged per-SF via `graft.preds.tag`
    * (set by [[graft.Verify]]) so back-to-back runs at different SFs don't
    * overwrite each other's artifacts before the oracle replays them. */
  def predsPath(name: String): String = {
    val tag = sys.props.getOrElse("graft.preds.tag", "default")
    new java.io.File(s"target/tmp/$tag/$name").getAbsolutePath
  }

  // once-per-JVM guard for the exploded image hamming index shared by
  // q476 (batch serving) and q477 (streamed ingestion): the layout costs
  // one file per (band, kb) directory, written once per namespace
  // (deterministic function of the synthetic corpus) — the
  // ensurePartsupp discipline, one synchronized check-stage-add
  private val stagedIndexes = scala.collection.mutable.Set.empty[String]

  /** kb fan-out for the staged perceptual indexes: 8 bands × 16 = 128
    * directories — enough pruning to demonstrate and audit the layout
    * while keeping per-run directory listings cheap at fixture scale;
    * a production deployment sizes this to its probe-batch locality. */
  val IndexKbBuckets = 16

  /** Build-if-absent the [[graft.llm.Dedup.writeHammingIndex]] layout
    * over the 300-image synthetic corpus; returns its path. */
  def ensureImageHammingIndex(s: SparkSession): String = {
    val path = predsPath("q476_index")
    stagedIndexes.synchronized {
      if (!stagedIndexes.contains(path)) {
        val imgs = graft.multimodal.Multimodal.syntheticAssets(s, 900)
          .filter(col("modality") === "image")
        graft.llm.Dedup.writeHammingIndex(
          graft.multimodal.Multimodal.imageSignatures(imgs),
          "asset_id", "sig", path, kbBuckets = IndexKbBuckets)
        stagedIndexes.add(path)
      }
    }
    path
  }

  /** Audio sibling of [[ensureImageHammingIndex]]: build-if-absent the
    * exploded index over the 300-clip synthetic WAV corpus
    * (payloadBlocks = 64 — clips must exceed AudioHash64's 130-sample
    * floor); returns its path. */
  def ensureAudioHammingIndex(s: SparkSession): String = {
    val path = predsPath("q481_index")
    stagedIndexes.synchronized {
      if (!stagedIndexes.contains(path)) {
        val auds = graft.multimodal.Multimodal
          .syntheticAssets(s, 900, payloadBlocks = 64)
          .filter(col("modality") === "audio")
        graft.llm.Dedup.writeHammingIndex(
          graft.multimodal.Multimodal.audioSignatures(auds),
          "asset_id", "sig", path, kbBuckets = IndexKbBuckets)
        stagedIndexes.add(path)
      }
    }
    path
  }

  /** Keyed base table for the MERGE/CDC/SCD2 family (q108/q109/q111/q122). */
  def ordersSnapshot(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))

  /** Deterministic change set over [[ordersSnapshot]]: versioned updates
    * (keys % 7, two versions for % 21) plus inserts (% 13, shifted keys) —
    * the same rows the oracle SQL derives independently from `orders`. */
  def ordersChangeSet(s: SparkSession, dir: String): DataFrame = {
    val o = ordersSnapshot(s, dir)
    val upd2 = o.filter(col("o_orderkey") % 7 === 0)
      .select(col("o_orderkey"), lit("X").as("o_orderstatus"),
        col("o_totalprice"), lit(2).as("ver"))
    val upd1 = o.filter(col("o_orderkey") % 21 === 0)
      .select(col("o_orderkey"), lit("D").as("o_orderstatus"),
        col("o_totalprice"), lit(1).as("ver"))
    val ins = o.filter(col("o_orderkey") % 13 === 0)
      .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
        lit("N").as("o_orderstatus"), col("o_totalprice"), lit(1).as("ver"))
    upd2.unionByName(upd1).unionByName(ins)
  }

  /** BUCKET-ALIGNED change/delete staging for the partition-pruned
    * maintenance drains (r14 optimization, guide §6 — route work by the
    * TABLE's bucket function so each micro-batch touches a bounded slice
    * of the kb domain instead of all of it). Writes `nGroups` file
    * groups of `filesPerGroup` files each; group g holds the rows whose
    * `kb % nGroups == g`, so a `maxFilesPerTrigger = filesPerGroup`
    * drain reads/rewrites ~nBuckets/nGroups dirs per batch. The folds
    * these drains run (upsertVersioned, additive digests) are
    * batch-split- and order-invariant, so results are unchanged under
    * any grouping; an mtime tie that interleaves groups degrades to the
    * old unaligned batching, never to a wrong result. Empty groups
    * stage no file (possible at tiny SFs) — batch counts derive from
    * the staged artifacts on both engine and oracle sides. */
  def stageBucketAligned(
      df: DataFrame, keys: Seq[String], nBuckets: Int, nGroups: Int,
      filesPerGroup: Int, path: String): Unit = {
    val withKb = df.withColumn("_kb",
      graft.sources.Sources.keyBucket(keys, nBuckets))
      .localCheckpoint(true)
    val present = withKb.select((col("_kb") % nGroups).as("g")).distinct()
      .collect().map(_.getInt(0)).sorted
    present.zipWithIndex.foreach { case (g, i) =>
      withKb.filter(col("_kb") % nGroups === g).drop("_kb")
        .repartition(filesPerGroup)
        .write.mode(if (i == 0) "overwrite" else "append").parquet(path)
    }
  }

  /** Durable materialization for FACT-SCALE multi-consumer frames (r15,
    * r14 VERDICT #3): write the frame to parquet under the query's per-run
    * staging root and read it back. Unlike `localCheckpoint(true)` —
    * executor-local, non-replicated, corpus-sized storage pinned in
    * memory — the staged artifact is replayable after an executor loss
    * and spills to storage, the right trade for frames whose grain tracks
    * the corpus. Rewritten on EVERY invocation (overwrite), so no state
    * ever crosses bench or oracle runs. Reduced-grain frames should keep
    * using localCheckpoint (cheaper, and bounded by construction). */
  def stageFrame(df: DataFrame, name: String): DataFrame = {
    val p = predsPath(name)
    df.write.mode("overwrite").parquet(p)
    df.sparkSession.read.parquet(p)
  }

  /** Shared (hamMax, bands) per sketch family, coupling each query's
    * Spark serve half to its oracle: both sides MUST read these, never
    * restate the literals, so a drift between the engine's join and the
    * DuckDB replay is impossible by construction. Text SimHash: 3 bits
    * over 4 bands; perceptual (dHash / audio energy-delta): 7 over 8 —
    * wider because one changed source pixel/sample moves several cells. */
  val textHamming: (Int, Int) = (3, 4)
  val perceptualHamming: (Int, Int) = (7, 8)

  /** The Spark serve half of every 64-bit-sketch fit/serve split
    * (q40/q225/q226): persist the engine-local `(id, sig)` signatures,
    * read the stored bits back, run the banded-hamming join over them —
    * so the serve input is EXACTLY what the oracle's
    * [[hammingReplaySql]] reads. */
  def stageAndServeHamming(
      s: SparkSession, sigs: DataFrame, name: String, idCol: String,
      hamming: (Int, Int)): DataFrame = {
    graft.sources.Sources.writeParquet(sigs, predsPath(name))
    graft.llm.Dedup.hamming64Dups(
      s.read.parquet(predsPath(name)), idCol, "sig",
      hamMax = hamming._1, bands = hamming._2)
  }

  /** DuckDB replay of [[graft.llm.Dedup.hamming64Dups]] over a persisted
    * `(id, sig)` signature parquet — the portable serve half of every
    * 64-bit-sketch near-dup query (SimHash text, dHash image, energy-delta
    * audio): band the sketch into `bands` equal slices, bucket per
    * (band, key) with the same ≥2 / ≤maxBucketSize saturation window the
    * engine applies, expand candidates, exact-hamming verify via
    * `bit_count(xor(...))`. Banding reads the BIGINT sig as unsigned by
    * lifting to HUGEINT (+2^64 when negative) and using exact integer
    * div/mod — bit-identical to Spark's `shiftrightunsigned & mask`. */
  def hammingReplaySql(
      path: String, idCol: String, hamming: (Int, Int),
      maxBucketSize: Int = 10000): String = {
    val (hamMax, bands) = hamming
    val width = 64 / bands
    val modulus = BigInt(1) << width
    val bandRows = (0 until bands)
      .map(b => s"($b, CAST('${BigInt(1) << (b * width)}' AS HUGEINT))")
      .mkString(", ")
    s"""WITH sigs AS (
       |  SELECT $idCol AS id, sig,
       |    CAST(sig AS HUGEINT)
       |      + CASE WHEN sig < 0 THEN CAST('18446744073709551616' AS HUGEINT)
       |             ELSE CAST(0 AS HUGEINT) END AS usig
       |  FROM read_parquet('$path/*.parquet')),
       |banded AS (
       |  SELECT s.id, s.sig, b.band, (s.usig // b.d) % $modulus AS key
       |  FROM sigs s CROSS JOIN (VALUES $bandRows) b(band, d)),
       |ok AS (
       |  SELECT band, key FROM banded GROUP BY band, key
       |  HAVING COUNT(*) >= 2 AND COUNT(*) <= $maxBucketSize),
       |pairs AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b,
       |    a.sig AS sig_a, b.sig AS sig_b
       |  FROM banded a
       |  JOIN ok o ON o.band = a.band AND o.key = a.key
       |  JOIN banded b ON b.band = a.band AND b.key = a.key AND a.id < b.id)
       |SELECT id_a, id_b,
       |  CAST(bit_count(xor(sig_a, sig_b)) AS INT) AS hamming
       |FROM pairs
       |WHERE bit_count(xor(sig_a, sig_b)) <= $hamMax""".stripMargin
  }

  /** [[graft.ops.Relational.exactSum]] rendered in DuckDB SQL — exact
    * decimal accumulation surfaced as double, so both engines produce
    * bit-identical sums regardless of aggregation order. */
  def dSum(expr: String, scale: Int = 2, as: String = ""): String =
    s"CAST(SUM(CAST($expr AS DECIMAL(30,$scale))) AS DOUBLE)" +
      (if (as.nonEmpty) s" AS $as" else "")
}
