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
    * oracle read the same stored bits. Namespaced by the `graft.preds.tag`
    * system property, so runs that must not share artifacts don't
    * overwrite each other's before an oracle replays them: [[graft.Verify]]
    * tags by SF, [[graft.PlanDump]] and PlanAuditSpec set their own tag, and
    * perfbench's Harness and Probes tag each pass and the oracle check. The
    * path is read when called, so an oracle that embeds it must be built
    * after its run's tag is set. */
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
    * over 4 bands (also q468's dHash banding); perceptual (dHash / audio
    * energy-delta): 7 over 8 — wider because one changed source
    * pixel/sample moves several cells. */
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
    * `bit_count(xor(...))`. Banding reads the BIGINT sig as unsigned
    * ([[unsignedSigSelect]]). */
  def hammingReplaySql(
      path: String, idCol: String, hamming: (Int, Int),
      maxBucketSize: Int = 10000): String = {
    val (hamMax, bands) = hamming
    val modulus = bandModulus(bands)
    val bandRows = bandDivisorRows(bands).mkString(", ")
    s"""WITH sigs AS (
       |${unsignedSigSelect(s"$idCol AS id", parquetScan(path))}),
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

  // Oracles shared by a batch surface and its streamed twin. Each is
  // one string so that the twins cannot drift apart.

  /** q108's keyed last-writer-wins merge of [[ordersChangeSet]] over
    * [[ordersSnapshot]]; q122's drained CDC fold and q135's compacted
    * table must land on it. */
  val mergeUpsertSql: String =
    """WITH o AS (
      |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      |), u AS (
      |  SELECT o_orderkey, 'X' AS o_orderstatus, o_totalprice, 2 AS ver
      |  FROM o WHERE o_orderkey % 7 = 0
      |  UNION ALL
      |  SELECT o_orderkey, 'D', o_totalprice, 1 FROM o WHERE o_orderkey % 21 = 0
      |  UNION ALL
      |  SELECT o_orderkey + 100000000, 'N', o_totalprice, 1
      |  FROM o WHERE o_orderkey % 13 = 0
      |), win AS (
      |  SELECT o_orderkey, o_orderstatus, o_totalprice
      |  FROM (SELECT *, row_number() OVER (PARTITION BY o_orderkey
      |                    ORDER BY ver DESC, o_orderstatus DESC) AS rn
      |        FROM u)
      |  WHERE rn = 1
      |)
      |SELECT o.o_orderkey, o.o_orderstatus, o.o_totalprice FROM o
      |WHERE o.o_orderkey NOT IN (SELECT o_orderkey FROM win)
      |UNION ALL
      |SELECT o_orderkey, o_orderstatus, o_totalprice FROM win""".stripMargin

  /** q139's strict sequential funnel: each stage's min is guarded by
    * `> previous stage time`, and a NULL previous time nulls the guard
    * (q147 streams the same funnel). */
  val funnelSql: String =
    """WITH s1 AS (SELECT user_id, min(ts) AS t_view
      |            FROM events WHERE event_type = 'view' GROUP BY 1),
      |s2 AS (SELECT s1.user_id, s1.t_view, min(e.ts) AS t_click
      |       FROM s1 LEFT JOIN events e
      |         ON e.user_id = s1.user_id AND e.event_type = 'click'
      |        AND e.ts > s1.t_view
      |       GROUP BY 1, 2),
      |s3 AS (SELECT s2.user_id, s2.t_view, s2.t_click, min(e.ts) AS t_purchase
      |       FROM s2 LEFT JOIN events e
      |         ON e.user_id = s2.user_id AND e.event_type = 'purchase'
      |        AND e.ts > s2.t_click
      |       GROUP BY 1, 2, 3)
      |SELECT user_id, t_view, t_click, t_purchase,
      |       CAST(1 + CASE WHEN t_click IS NULL THEN 0 ELSE 1 END
      |              + CASE WHEN t_purchase IS NULL THEN 0 ELSE 1 END
      |            AS INT) AS stage
      |FROM s3""".stripMargin

  /** q140's cohort retention triangle (q306 streams the marks). */
  val retentionSql: String =
    """WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |f AS (SELECT user_id, min(day) AS cohort_day FROM d GROUP BY 1)
      |SELECT f.cohort_day,
      |       CAST(d.day - f.cohort_day AS BIGINT) AS day_offset,
      |       CAST(count(DISTINCT d.user_id) AS BIGINT) AS n_users
      |FROM d JOIN f USING (user_id)
      |GROUP BY 1, 2""".stripMargin

  /** q208's sample-ratio-mismatch check (q217 merges streamed count
    * partials into it). */
  val srmCheckSql: String =
    """WITH a AS (
      |  SELECT event_type,
      |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
      |    CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
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
      |FROM e""".stripMargin

  /** q21's hourly tumbling-window aggregate (q98 runs it as a stream). */
  val hourlyWindowSql: String =
    s"""SELECT date_trunc('hour', ts) AS hour, event_type,
       |  COUNT(*) AS n, ${dSum("value", 2, "sum_value")}
       |FROM events GROUP BY 1, 2""".stripMargin

  /** Relational session_window merge semantics, gaps-and-islands: a new
    * session iff the gap to the previous event is NOT < 30 min
    * (session_window merges strictly-before-window-end). q22 batch,
    * q93 streamed. */
  val sessionWindowsSql: String =
    """WITH m AS (
      |  SELECT user_id, ts,
      |         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
      |                   < INTERVAL 30 MINUTE
      |              THEN 0 ELSE 1 END AS new_s
      |  FROM events
      |), g AS (
      |  SELECT user_id, ts,
      |         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
      |                          ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM m
      |)
      |SELECT min(ts) AS session_start, max(ts) + INTERVAL 30 MINUTE AS session_end,
      |       user_id, CAST(count(*) AS BIGINT) AS n_events
      |FROM g GROUP BY user_id, sid""".stripMargin

  /** q74's exact heavy hitters (q233's streamed Misra-Gries candidates
    * plus exact recount must equal it). */
  val heavyHittersSql: String =
    """WITH tok AS (
      |  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
      |  FROM documents
      |), tot AS (SELECT count(*) AS n FROM tok)
      |SELECT token, CAST(count(*) AS BIGINT) AS cnt
      |FROM tok, tot
      |GROUP BY token, n
      |HAVING count(*) * 100 > n""".stripMargin

  /** q243's Pareto revenue curve (q297 serves it from a stream-maintained
    * aggregate). */
  val paretoRevenueSql: String =
    """WITH rev AS (
      |  SELECT p.p_brand,
      |         CAST(sum(CAST(CAST(l.l_extendedprice AS DECIMAL(30,2)) * 100
      |                       AS BIGINT)) AS BIGINT) AS rev_cents
      |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      |  GROUP BY 1
      |), g AS (SELECT CAST(sum(rev_cents) AS BIGINT) AS grand FROM rev)
      |SELECT CAST(row_number() OVER (ORDER BY rev_cents DESC, p_brand)
      |            AS INT) AS rank,
      |       p_brand, rev_cents,
      |       CAST(CAST(sum(rev_cents) OVER (ORDER BY rev_cents DESC, p_brand
      |         ROWS UNBOUNDED PRECEDING) AS BIGINT) * 1000000 // grand
      |         AS BIGINT) AS cum_share_ppm
      |FROM rev, g""".stripMargin

  /** q276's k-minimum-values distinct sketch (q282's streamed k-min
    * partials must merge to exactly this one-shot sketch). */
  val kmvDistinctSql: String =
    """WITH h AS (
      |  SELECT DISTINCT event_type,
      |    CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
      |         AS BIGINT) AS h
      |  FROM events
      |), exact AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_exact
      |  FROM h GROUP BY 1
      |), sk AS (
      |  SELECT event_type, CAST(max(h) AS BIGINT) AS kth_min,
      |         CAST(count(*) AS BIGINT) AS k_eff
      |  FROM (SELECT event_type, h,
      |               row_number() OVER (PARTITION BY event_type
      |                                  ORDER BY h) AS rn
      |        FROM h)
      |  WHERE rn <= 32 GROUP BY 1
      |)
      |SELECT s.event_type, e.n_exact, s.k_eff, s.kth_min,
      |       CAST(floor((CAST(s.k_eff AS DOUBLE) - 1.0) * pow(2.0, 60.0) /
      |                   CAST(s.kth_min AS DOUBLE)) AS BIGINT) AS est
      |FROM sk s JOIN exact e ON s.event_type = e.event_type""".stripMargin

  /** q365's 2-d skyline (q373 merges streamed partials into it). */
  val skyline2dSql: String =
    """WITH p AS (
      |  SELECT p_partkey AS pk,
      |    CAST(CAST(p_retailprice AS DECIMAL(30,2)) * 100 AS BIGINT)
      |      AS price,
      |    CAST(p_size AS BIGINT) AS sz
      |  FROM part),
      |w AS (
      |  SELECT pk, price, sz,
      |    min(sz) OVER (ORDER BY price RANGE BETWEEN UNBOUNDED PRECEDING
      |      AND 1 PRECEDING) AS min_cheaper,
      |    min(sz) OVER (PARTITION BY price) AS min_eq
      |  FROM p)
      |SELECT pk, price, sz FROM w
      |WHERE (min_cheaper IS NULL OR sz < min_cheaper) AND sz = min_eq"""
      .stripMargin

  /** `h → z → p`: per event type, the events, the odd-user events, the
    * split-div z² (micro-units) of the odd share against 1/2 and its
    * Chebyshev p-value bound in ppm, the family the FDR and FWER oracles
    * (q424, q465, q482) step through. */
  val eventTypePValuesChain: String =
    """h AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_odd
      |  FROM events GROUP BY 1
      |), z AS (
      |  SELECT event_type, n, n_odd,
      |    CAST(((2 * n_odd - n) * (2 * n_odd - n) // n) * 1000000
      |      + ((2 * n_odd - n) * (2 * n_odd - n) % n) * 1000000 // n
      |      AS BIGINT) AS z2_micro
      |  FROM h
      |), p AS (
      |  SELECT *, CAST(least(1000000,
      |      1000000000000 // greatest(z2_micro, 1)) AS BIGINT) AS p_ppm
      |  FROM z
      |)""".stripMargin

  /** q424's Benjamini-Hochberg step-up: split-form z², Chebyshev ppm
    * bound, cross-multiplied step-up and prefix rejection (q436 streams
    * the fold). */
  val bhFdrSql: String =
    s"""WITH $eventTypePValuesChain, r AS (
       |  SELECT *,
       |    CAST(row_number() OVER (ORDER BY p_ppm, event_type)
       |      AS BIGINT) AS rk,
       |    (SELECT CAST(count(*) AS BIGINT) FROM p) AS m
       |  FROM p
       |), f AS (
       |  SELECT *, p_ppm * m * 20 <= 1000000 * rk AS pass_bh FROM r
       |), k AS (
       |  SELECT coalesce(max(CASE WHEN pass_bh THEN rk END), 0) AS k_star
       |  FROM f
       |)
       |SELECT event_type, n, n_odd, z2_micro, p_ppm, rk, pass_bh,
       |  rk <= k.k_star AS rejected
       |FROM f CROSS JOIN k""".stripMargin

  /** q449's Page-Hinkley detector: day grain, running-mean terms and
    * prefix-min detection (q454 streams the day partials). */
  val pageHinkleySql: String =
    """WITH daily AS (
      |  SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d,
      |    CAST(sum(CAST(CAST(value AS DECIMAL(30,2)) * 100 AS BIGINT))
      |      AS BIGINT) AS cents,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1
      |), x AS (
      |  SELECT d, n, cents // n AS x FROM daily
      |), pre AS (
      |  SELECT *, CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS t,
      |    sum(x) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
      |      AND CURRENT ROW) AS cum_x
      |  FROM x
      |), term AS (
      |  SELECT *, x - cum_x // t - 50 AS term FROM pre
      |), mseq AS (
      |  SELECT *, sum(term) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED
      |    PRECEDING AND CURRENT ROW) AS m
      |  FROM term
      |)
      |SELECT d, n, CAST(x AS BIGINT) AS x,
      |  CAST(cum_x // t AS BIGINT) AS mean_t, CAST(m AS BIGINT) AS m,
      |  CAST(m - min(m) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED
      |    PRECEDING AND CURRENT ROW) AS BIGINT) AS ph,
      |  m - min(m) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
      |    AND CURRENT ROW) > 10000 AS alert
      |FROM mseq""".stripMargin

  /** `daily → r → buck → cum → z`: the day-grain event counts bucketed
    * into 5 equal interims, their cumulative counts and the split-div z²
    * (in micro-units) of the odd-user share at each interim. q457's Pocock
    * and q473's O'Brien-Fleming boundaries test it. */
  val interimZ2Chain: String =
    """daily AS (
      |  SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d,
      |    CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS k
      |  FROM events GROUP BY 1
      |), r AS (
      |  SELECT *, CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS rn,
      |    (SELECT CAST(count(*) AS BIGINT) FROM daily) AS nd
      |  FROM daily
      |), buck AS (
      |  SELECT least((rn - 1) * 5 // nd, 4) AS interim,
      |    CAST(sum(n) AS BIGINT) AS n_i, CAST(sum(k) AS BIGINT) AS k_i
      |  FROM r GROUP BY 1
      |), cum AS (
      |  SELECT interim,
      |    CAST(sum(n_i) OVER (ORDER BY interim ROWS BETWEEN UNBOUNDED
      |      PRECEDING AND CURRENT ROW) AS BIGINT) AS n_cum,
      |    CAST(sum(k_i) OVER (ORDER BY interim ROWS BETWEEN UNBOUNDED
      |      PRECEDING AND CURRENT ROW) AS BIGINT) AS k_cum
      |  FROM buck
      |), z AS (
      |  SELECT CAST(interim AS BIGINT) AS interim, n_cum, k_cum,
      |    CAST(((2 * k_cum - n_cum) * (2 * k_cum - n_cum) // n_cum)
      |        * 1000000
      |      + ((2 * k_cum - n_cum) * (2 * k_cum - n_cum) % n_cum)
      |        * 1000000 // n_cum AS BIGINT) AS z2_micro
      |  FROM cum
      |)""".stripMargin

  /** q457's Pocock interims: interim bucketing, cumulative split-div z²
    * and the declared Pocock constant (q463 streams the day fold). */
  val pocockInterimsSql: String =
    s"""WITH $interimZ2Chain, f AS (
       |  SELECT *, z2_micro > 5822569 AS crossed FROM z
       |)
       |SELECT interim, n_cum, k_cum, z2_micro, crossed,
       |  (SELECT CAST(min(CASE WHEN crossed THEN interim END) AS BIGINT)
       |   FROM f) AS first_cross
       |FROM f""".stripMargin

  // DuckDB oracle chains. Each fragment below is the one source of a CTE
  // chain that several oracles share; the area maps splice it in rather
  // than restating it. Fragments are `name AS (...)` CTEs, joined with
  // ", " in a `WITH` list. A fragment that embeds a [[predsPath]] takes
  // the path as an argument (or is a def), so it reads the tag that is
  // live when the area's `sql` is built.

  /** DuckDB scan of a Spark-written parquet directory (a [[predsPath]]). */
  def parquetScan(path: String): String = s"read_parquet('$path/*.parquet')"

  /** `t`: each document's lower-cased `[a-z0-9]+` tokens. */
  val docTokensCte: String =
    """t AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM documents
      |)""".stripMargin

  /** `sh`: each document's word 3-shingles, over a token CTE `t`. */
  val shinglesCte: String =
    """sh AS (
      |  SELECT doc_id,
      |         list_transform(generate_series(1, len(ts)-2),
      |                        i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]) AS shingles
      |  FROM t WHERE len(ts) >= 3
      |)""".stripMargin

  /** `sig → bands`: the portable MinHash signature over `sh` (6 hashes)
    * and its 3 bands of 2 rows, the DuckDB side of
    * [[graft.expr.PortableMinHash]] and `Dedup.bandBuckets`. hash_j(s)
    * is a 15-hex (60-bit) slice of md5(⌈j/2⌉:s) as BIGINT: odd j takes
    * hex digits 1-15, even j digits 16-30, so one digest feeds two hash
    * families. md5 hex and the 60-bit slices parse identically in both
    * engines; change this and the kernel in lockstep. */
  val minhashBandsCte: String =
    """sig AS (
      |  SELECT doc_id,
      |         list_transform(generate_series(1, 6),
      |                        j -> list_aggregate(list_transform(shingles,
      |                               s -> CAST('0x' || substr(md5(CAST((j+1)//2 AS VARCHAR) || ':' || s),
      |                                                 CASE WHEN j%2=1 THEN 1 ELSE 16 END, 15) AS BIGINT)),
      |                             'min')) AS mh
      |  FROM sh
      |), bands AS (
      |  SELECT doc_id, b AS band_id,
      |         md5(CAST(mh[2*b-1] AS VARCHAR) || '|' || CAST(mh[2*b] AS VARCHAR)) AS bucket
      |  FROM sig, unnest(generate_series(1, 3)) AS u(b)
      |)""".stripMargin

  /** `pairs`: the distinct `(a_doc < b_doc)` LSH candidates that share a
    * band bucket in `bands`. */
  val lshPairsCte: String =
    """pairs AS (
      |  SELECT DISTINCT a.doc_id AS a_doc, b.doc_id AS b_doc
      |  FROM bands a JOIN bands b
      |    ON a.band_id = b.band_id AND a.bucket = b.bucket AND a.doc_id < b.doc_id
      |)""".stripMargin

  /** `t → sh → sig → bands` over `documents`. */
  val lshBandsChain: String =
    s"$docTokensCte, $shinglesCte, $minhashBandsCte"

  /** `t → sh → sig → bands → pairs`: q43's LSH candidate pairs over
    * `documents`. */
  val lshPairsChain: String = s"$lshBandsChain, $lshPairsCte"

  /** `edges`: the symmetric edge list of an undirected pair CTE. */
  def symmetricEdgesCte(
      pairs: String = "pairs", a: String = "a_doc",
      b: String = "b_doc"): String =
    s"""edges AS (
       |  SELECT $a AS src, $b AS dst FROM $pairs
       |  UNION ALL SELECT $b, $a FROM $pairs
       |)""".stripMargin

  /** `reach(id, r)`: every node reachable from each node over `edges`, by
    * recursive closure (needs `WITH RECURSIVE`). Its per-id min is the
    * fixpoint of `Graph.minLabels`. */
  val reachCte: String =
    """reach(id, r) AS (
      |  SELECT src, src FROM edges
      |  UNION
      |  SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src
      |)""".stripMargin

  /** `name(doc_id, cluster_id)`: min-label connected components of
    * `reach`. */
  def minLabelCte(name: String): String =
    s"""$name AS (
       |  SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
       |  FROM reach GROUP BY id
       |)""".stripMargin

  /** `edges → reach → name`: `Dedup.dupClusters` over the `pairs` CTE. */
  def minLabelClosure(name: String): String =
    s"${symmetricEdgesCte()}, $reachCte, ${minLabelCte(name)}"

  /** q43's LSH pairs and their min-label clusters, as `name`. */
  def lshClusterChain(name: String): String =
    s"$lshPairsChain, ${minLabelClosure(name)}"

  /** `SELECT` of a BIGINT `sig` column plus `usig`, the same bits read as
    * unsigned (HUGEINT, +2^64 when negative), so band keys can use exact
    * integer div/mod, bit-identical to Spark's `shiftrightunsigned & mask`. */
  def unsignedSigSelect(cols: String, from: String): String =
    s"""  SELECT $cols, sig,
       |    CAST(sig AS HUGEINT)
       |      + CASE WHEN sig < 0 THEN CAST('18446744073709551616' AS HUGEINT)
       |             ELSE CAST(0 AS HUGEINT) END AS usig
       |  FROM $from""".stripMargin

  /** [[unsignedSigSelect]] as the CTE `name`. */
  def unsignedSigCte(name: String, cols: String, from: String): String =
    s"$name AS (\n${unsignedSigSelect(cols, from)}\n)"

  /** [[unsignedSigCte]] over the signature parquet at `path`. */
  def sigFileCte(name: String, cols: String, path: String): String =
    unsignedSigCte(name, cols, parquetScan(path))

  /** `(band, divisor)` rows of a `bands`-way split of a 64-bit sketch:
    * band b's key is `(usig // 2^(b·64/bands)) % `[[bandModulus]]. */
  def bandDivisorRows(bands: Int): Seq[String] = (0 until bands)
    .map(b => s"($b, CAST('${BigInt(1) << (b * (64 / bands))}' AS HUGEINT))")

  /** `2^(64/bands)`: one band's key range. */
  def bandModulus(bands: Int): BigInt = BigInt(1) << (64 / bands)

  private val (perceptualMax, perceptualBands) = perceptualHamming
  private val perceptualModulus = bandModulus(perceptualBands)

  /** `bands(band, d)`: the [[perceptualHamming]] band divisors. */
  val perceptualBandsCte: String =
    "bands(band, d) AS (VALUES\n    " +
      bandDivisorRows(perceptualBands).mkString(",\n    ") + "\n)"

  /** `name`: one row per (signature, band) of the unsigned sketch CTE
    * `from`, keyed by the band's slice. */
  def bandedCte(name: String, cols: String, from: String): String =
    s"""$name AS (
       |  SELECT $cols, sig, b.band, (usig // b.d) % $perceptualModulus AS key
       |  FROM $from CROSS JOIN bands b
       |)""".stripMargin

  /** [[bandedCte]] keeping at most 10000 rows per (band, key) bucket,
    * ranked by md5(id|sig): the engine's `maxBucketSize` saturation on
    * the indexed side of `hamming64CrossDups`. Like [[cappedAnchorsCte]],
    * join it with `+`, never interpolate it into a `stripMargin` string. */
  def cappedBandedCte(name: String, id: String, from: String): String =
    s"""$name AS (
       |  SELECT $id, sig, band, key FROM (
       |    SELECT $id, sig, b.band, (usig // b.d) % $perceptualModulus AS key,
       |      row_number() OVER (PARTITION BY b.band, (usig // b.d) % $perceptualModulus
       |        ORDER BY md5(CAST($id AS VARCHAR) || '|'
       |                     || CAST(sig AS VARCHAR))) AS rk
       |    FROM $from CROSS JOIN bands b)
       |  WHERE rk <= 10000
       |)""".stripMargin

  /** The verified pairs of two banded CTEs `l` and `r`: a shared band
    * key, then exact hamming ≤ the [[perceptualHamming]] bound. */
  def bandedProbeSelect(l: String, lId: String, r: String, rId: String): String =
    s"""SELECT DISTINCT $l.$lId, $r.$rId,
       |  CAST(bit_count(xor($l.sig, $r.sig)) AS INT) AS hamming
       |FROM $l JOIN $r ON $l.band = $r.band AND $l.key = $r.key
       |WHERE bit_count(xor($l.sig, $r.sig)) <= $perceptualMax""".stripMargin

  /** `name(cols, sig)`: the distinct base signatures of an exploded
    * [[graft.llm.Dedup.writeHammingIndex]] layout (one row per band=/kb=
    * directory). */
  def indexSigsCte(name: String, cols: String, index: String): String =
    s"""$name AS (
       |  SELECT DISTINCT $cols, sig FROM
       |    read_parquet('$index/*/*/*.parquet')
       |)""".stripMargin

  /** Probe replay over an exploded hamming index (q476, q502, q505): the
    * base signatures recovered from the layout, the probe signatures
    * from their plain file, then the cross banding. The kb pruning is a
    * read optimization with identical results. */
  def indexProbeSql(index: String, probes: String): String =
    "WITH " + Seq(
      indexSigsCte("o", "id", index),
      unsignedSigCte("ob", "id", "o"),
      sigFileCte("q", "q_id", probes),
      perceptualBandsCte,
      bandedCte("bo", "id", "ob"),
      bandedCte("bq", "q_id", "q")).mkString(", ") + "\n" +
      bandedProbeSelect("bq", "q_id", "bo", "id")

  /** Streamed ingestion replay against an exploded hamming index (q477,
    * q481): the re-staged new signatures × the base signatures recovered
    * from the layout. */
  def indexIngestSql(fresh: String, index: String): String =
    "WITH " + Seq(
      sigFileCte("n", "asset_id AS new_id", fresh),
      indexSigsCte("o", "id AS old_id", index),
      unsignedSigCte("ob", "old_id", "o"),
      perceptualBandsCte,
      bandedCte("bn", "new_id", "n"),
      bandedCte("bo", "old_id", "ob")).mkString(", ") + "\n" +
      bandedProbeSelect("bn", "new_id", "bo", "old_id")

  /** `lc → rc → bands → lb → rb`: two plain `(asset_id, sig)` signature
    * files banded for `hamming64CrossDups`, the right side capped
    * ([[cappedBandedCte]]). Each side is (cte, banded cte, id, path). */
  def crossProbeCtes(
      l: (String, String, String, String),
      r: (String, String, String, String)): String = {
    val (lc, lb, lId, lPath) = l
    val (rc, rb, rId, rPath) = r
    Seq(
      sigFileCte(lc, s"asset_id AS $lId", lPath),
      sigFileCte(rc, s"asset_id AS $rId", rPath),
      perceptualBandsCte,
      bandedCte(lb, lId, lc),
      cappedBandedCte(rb, rId, rc)).mkString(", ")
  }

  /** The exact cosine of two unit vectors `a.unit`, `b.unit` as a
    * 1e12-scaled BIGINT: a sum of floored per-term products, so both
    * engines agree bit for bit (`Similarity`'s quantized re-rank). */
  def unitDotSql(a: String = "a", b: String = "b", i: String = "i"): String = {
    val open = s"CAST(list_sum(list_transform(generate_series(1, len($a.unit)),"
    val term = s"CAST(floor(CAST($a.unit[$i] AS DOUBLE)"
    val tail = s"* CAST($b.unit[$i] AS DOUBLE) * 1000000000000) AS BIGINT)))"
    s"$open $i ->\n      $term $tail\n      AS BIGINT)"
  }

  /** `u(vec_id, unit)`: the persisted unit vectors at `units`. */
  def unitsCte(units: String): String =
    s"""u AS (
       |  SELECT vec_id, unit FROM ${parquetScan(units)}
       |)""".stripMargin

  /** `name(q_id, n_id, dot_q)`: [[unitDotSql]] over the `(q_id, n_id)`
    * pairs of `from`, joined twice to `u`. */
  def pairDotsCte(name: String, from: String): String =
    s"""$name AS (
       |  SELECT s.q_id, s.n_id,
       |    ${unitDotSql()} AS dot_q
       |  FROM $from s
       |  JOIN u a ON s.q_id = a.vec_id
       |  JOIN u b ON s.n_id = b.vec_id
       |)""".stripMargin

  /** `sl → u → dots`: the persisted ANN shortlist and unit vectors, and
    * the exact dot of every shortlisted pair. */
  def shortlistDotsChain(shortlist: String, units: String): String =
    s"""sl AS (
       |  SELECT q_id, n_id FROM ${parquetScan(shortlist)}
       |), ${unitsCte(units)}, ${pairDotsCte("dots", "sl")}""".stripMargin

  /** The exact re-rank of a persisted ANN shortlist: [[shortlistDotsChain]]
    * and a deterministic top-5 per query, ties by `n_id` (q94's serving
    * oracle; q28, q57, q58, q130 and the streamed q127 replay it over
    * their own shortlists). */
  def shortlistTopKSql(shortlist: String, units: String): String =
    s"""WITH ${shortlistDotsChain(shortlist, units)}
       |SELECT * FROM (
       |  SELECT q_id, n_id, dot_q,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY dot_q DESC, n_id) AS BIGINT) AS rank
       |  FROM dots) WHERE rank <= 5""".stripMargin

  /** `t → pb → tfb → cb → cw1 → uni → cu → model`: the interpolated
    * bigram language model over each document's tokens, as 1e6·NLL per
    * (w1, w2) (q115 scores documents with it, q431 gates on it). */
  val bigramModelChain: String =
    """t AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
      |  FROM documents
      |), pb AS (
      |  SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2 FROM (
      |    SELECT doc_id,
      |           unnest(list_transform(generate_series(1, len(ts)-1),
      |             i -> struct_pack(w1 := ts[i], w2 := ts[i+1]))) AS bg
      |    FROM t WHERE len(ts) >= 2)
      |), tfb AS (
      |  SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS tfb
      |  FROM pb GROUP BY 1, 2, 3
      |), cb AS (
      |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS cb FROM pb GROUP BY 1, 2
      |), cw1 AS (
      |  SELECT w1, CAST(sum(cb) AS BIGINT) AS cw1 FROM cb GROUP BY 1
      |), uni AS (
      |  SELECT unnest(ts) AS w2 FROM t
      |), cu AS (
      |  SELECT w2, CAST(count(*) AS BIGINT) AS cu FROM uni GROUP BY 1
      |), model AS (
      |  SELECT cb.w1, cb.w2,
      |         CAST(floor(-1e6 * ln(
      |           CAST(0.75 AS DOUBLE) * (CAST(cb AS DOUBLE) / CAST(cw1 AS DOUBLE)) +
      |           CAST(0.25 AS DOUBLE) * (CAST(cu AS DOUBLE) /
      |             CAST((SELECT count(*) FROM uni) AS DOUBLE)))) AS BIGINT) AS q
      |  FROM cb JOIN cw1 USING (w1) JOIN cu USING (w2)
      |)""".stripMargin

  /** `t → tt`: each document's tokens, keyed `id`, and the documents with
    * at least one 8-token window. */
  val windowDocsCte: String =
    """t AS (
      |  SELECT doc_id AS id,
      |         regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
      |  FROM documents
      |), tt AS (
      |  SELECT id, ts FROM t WHERE len(ts) >= 8
      |)""".stripMargin

  /** `g → a` over the token CTE `docs`: every 8-token window (`g`), and the
    * anchors among them, the windows whose 60-bit md5 is 0 mod 8 (`a`). */
  def anchorGramsCte(docs: String = "tt", g: String = "g", a: String = "a"): String =
    s"""$g AS (
       |  SELECT id, i AS pos, array_to_string(ts[i:i+7], ' ') AS gram
       |  FROM $docs, unnest(generate_series(1, len(ts) - 7)) AS u(i)
       |), $a AS (
       |  SELECT id, pos, gram FROM $g
       |  WHERE CAST('0x' || substr(md5(gram), 1, 15) AS BIGINT) % 8 = 0
       |)""".stripMargin

  /** `c → cap`: at most 64 postings per anchor gram of `a` (filtered by
    * `where`), in md5(id#pos) order. Its `||` continuation line would be
    * cut by `stripMargin`, so join it with `+`, never interpolate it. */
  def cappedAnchorsCte(where: String = ""): String =
    """c AS (
      |  SELECT id, pos, gram,
      |         row_number() OVER (PARTITION BY gram
      |           ORDER BY md5(CAST(id AS VARCHAR) || '#'
      |                        || CAST(pos AS VARCHAR))) AS rk
      |""".stripMargin + s"  FROM a$where\n" +
      """), cap AS (
        |  SELECT id, pos, gram FROM c WHERE rk <= 64
        |)""".stripMargin

  /** `w → e → x`: every anchor pair in `cand(a_doc, a_pos, b_doc, b_pos)`
    * extended up to 48 tokens each way with guarded 1-based indexing (out
    * of range is a mismatch, never from the end); `x` holds the first
    * mismatch on each side (`rmiss`, `lmiss`). The a side's tokens come
    * from `aDocs`, the b side's from `tt`. */
  def anchorExtensionCte(aDocs: String = "tt"): String =
    s"""w AS (
       |  SELECT cand.*, ta.ts AS a_ts, tb.ts AS b_ts
       |  FROM cand JOIN $aDocs ta ON cand.a_doc = ta.id
       |            JOIN tt tb ON cand.b_doc = tb.id
       |), e AS (
       |  SELECT a_doc, b_doc, a_pos, b_pos, i,
       |    coalesce(
       |      (CASE WHEN a_pos + i BETWEEN 1 AND len(a_ts)
       |            THEN a_ts[CAST(a_pos + i AS BIGINT)] END) =
       |      (CASE WHEN b_pos + i BETWEEN 1 AND len(b_ts)
       |            THEN b_ts[CAST(b_pos + i AS BIGINT)] END),
       |      false) AS eq
       |  FROM w, unnest(generate_series(-48, 8 + 48 - 1)) AS u(i)
       |), x AS (
       |  SELECT a_doc, b_doc, a_pos, b_pos,
       |    coalesce(min(CASE WHEN i >= 8 AND NOT eq THEN i END), 8 + 48)
       |      AS rmiss,
       |    coalesce(max(CASE WHEN i < 0 AND NOT eq THEN i END), -48 - 1)
       |      AS lmiss
       |  FROM e GROUP BY 1, 2, 3, 4
       |)""".stripMargin

  /** `dig → adig → cb → cd → ca`: a digest of each order row before
    * (`orders`) and after (the parquet at `after`) erasing the customers
    * with `o_custkey % 97 = 0`, and the row count and digest sum before
    * (`cb`), of the erased rows (`cd`) and after (`ca`). q443 erases in
    * one batch, q467 through a stream. */
  def erasureChecksumsChain(after: String): String = {
    def digests(name: String, from: String) =
      s"""$name AS (
         |  SELECT o_custkey,
         |    CAST(CAST('0x' || substr(md5(
         |      coalesce(md5(CAST(o_orderkey AS VARCHAR)), 'N') || '|' ||
         |      coalesce(md5(CAST(o_custkey AS VARCHAR)), 'N') || '|' ||
         |      coalesce(md5(o_orderstatus), 'N') || '|' ||
         |      coalesce(md5(o_orderpriority), 'N')), 1, 14)
         |      AS BIGINT) AS DECIMAL(20,0)) AS h
         |  FROM $from
         |)""".stripMargin
    def checksum(name: String, of: String, from: String) =
      s"""$name AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_$of,
         |    CAST(CAST(sum(h) AS DECIMAL(30,0)) AS VARCHAR) AS ck_$of
         |  FROM $from
         |)""".stripMargin
    Seq(digests("dig", "orders"), digests("adig", parquetScan(after)),
      checksum("cb", "before", "dig"),
      checksum("cd", "deleted", "dig WHERE o_custkey % 97 = 0"),
      checksum("ca", "after", "adig")).mkString(", ")
  }
}
