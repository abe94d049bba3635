package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.Relational
import graft.text.TextOps
import QueryShared._

/** Structured Streaming drains (Trigger.AvailableNow over
staged file sources): tumbling/sliding/session windows, keyed state,
watermark dedup, stream-static enrich, stream-stream join, partitioned CDC
apply.
  *
  * Extracted verbatim from the original single-file SparkEntry map; see
  * [[graft.SparkEntry]] for the driver contract these entries satisfy
  * (column names aligned with the DuckDB oracle SQL pairwise).
  */
object StreamingQueries {

  /** SERVE halves (post-drain readouts) of the streaming drains, split
    * out so the whole-map plan audits cover them without executing a
    * stream (round-11 VERDICT next #1). For q93/q98/q102 the readout is
    * a typed projection over the drained sink — kept as named builders
    * so the fit-vs-serve split is total: the exclusion list covers drain
    * EXECUTION only, and any relational logic that ever grows onto a
    * readout lands in an audited plan. q99's readout (the incarnation
    * fold, the one with real join/agg structure) lives in
    * [[graft.streaming.Streams.userTotalsReadout]]. */
  def serveQ93(sessions: DataFrame): DataFrame =
    sessions.select(
      col("session_start").cast("timestamp_ntz").as("session_start"),
      col("session_end").cast("timestamp_ntz").as("session_end"),
      col("user_id"), col("n_events"))

  def serveQ98(windows: DataFrame): DataFrame =
    windows.select(
      col("window_start").cast("timestamp_ntz").as("hour"),
      col("event_type"), col("n"), col("sum_value"))

  def serveQ102(pairsDf: DataFrame): DataFrame =
    pairsDf.select(
      col("click_id"), col("user_id"),
      col("click_ts").cast("timestamp_ntz").as("click_ts"),
      col("purchase_id"),
      col("purchase_ts").cast("timestamp_ntz").as("purchase_ts"),
      col("purchase_value"))

  /** The events fixture staged as 4 parquet files under a fresh per-run
    * root, and a factory for 2-files-per-trigger streams over them — the
    * memory-sink drains' shared source. Event time is cast to TIMESTAMP
    * (streaming needs it; under the engine's pinned UTC session the cast
    * is lossless, and readouts cast back to NTZ for oracle parity). The
    * root is per run, so concurrent runs never overwrite each other's
    * source files; it also takes the drain's one-shot checkpoint. */
  private def stagedEvents(
      s: SparkSession, dir: String, q: String): (String, () => DataFrame) = {
    val ev = Tables.events(s, dir).withColumn("ts", col("ts").cast("timestamp"))
    val root = predsPath(s"${q}_root_${System.nanoTime()}")
    sources.Sources.writeParquet(ev.repartition(4), s"$root/events")
    (root, () => s.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "2").parquet(s"$root/events"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // §2.8 streaming, EXECUTED AS A STREAM: the events fixture staged to a
    // file source, drained through session_window under
    // Trigger.AvailableNow in bounded micro-batches (maxFilesPerTrigger
    // forces several, so cross-batch session-state MERGING is on the
    // hash-checked path, not just spec'd), self-terminating when caught
    // up — the backfill pattern where one streaming pipeline serves both
    // replay and live tail. Complete-mode memory sink: session windows
    // only finalize past the watermark in append mode, so a finite drain
    // needs complete mode to emit the tail; the result is the SESSIONS
    // frame (aggregated, driver-sized at any input scale where session
    // counts fit — a production tail uses the parquet sink in append
    // mode and accepts watermark-trailing finalization, StreamsSpec's
    // file-sink test). Oracle = q22's independent gaps-and-islands SQL:
    // a green row means an actual stream execution matched the batch
    // relational semantics bit-for-bit.
    "q93_sessionize_stream" -> ((s, dir) => {
      val (root, events) = stagedEvents(s, dir, "q93")
      // staged files are NOT in event-time order, so a live-sized
      // watermark delay would LATE-DROP most of batches 2..n (the
      // watermark races to max(ts)-delay after batch 1). For a bounded
      // backfill drain the watermark's only job is state eviction —
      // which complete mode disables anyway — so span the whole fixture:
      // no late drops, and the drained result equals the batch frame. A
      // live tail keeps the default 2h delay and time-ordered arrival.
      serveQ93(streaming.Streams.drain("q93_sessions",
        streaming.Streams.sessionize(events(), watermarkDelay = "3650 days"),
        "complete", s"$root/ckpt", None))
    }),


    // §2.8 streaming #2, EXECUTED AS A STREAM: watermarked tumbling-window
    // aggregation (count + exact decimal-accumulated sum) drained under
    // Trigger.AvailableNow — q93's harness applied to the time-window
    // family, so both streaming aggregation shapes (merging session state,
    // fixed windows) carry driver-checked rows. Same fixture-spanning
    // watermark rationale as q93 (unordered backfill files must not
    // late-drop); oracle = q21's independent date_trunc formulation.
    "q98_tumbling_stream" -> ((s, dir) => {
      val (root, events) = stagedEvents(s, dir, "q98")
      serveQ98(streaming.Streams.drain("q98_windows",
        streaming.Streams.tumblingAgg(events(), watermarkDelay = "3650 days"),
        "complete", s"$root/ckpt", None))
    }),


    // §2.8 streaming #3, EXECUTED AS A STREAM: the CUSTOM-KEYED-STATE
    // primitive (flatMapGroupsWithState) with EVICTION IN CODE (round-10
    // VERDICT weak #2) — per-user totals are an UNBOUNDED key domain, so
    // the state carries an EventTimeTimeout: users idle > 12 event-time
    // hours are EVICTED mid-drain (closing record to the batchId-keyed
    // partials; a later event starts a fresh incarnation), and the
    // readout reassembles exact per-user counts from incarnation finals
    // + the trailing incarnation's latest cumulative. The stage is
    // time-range files (watermark advances monotonically — the
    // production ingest-directory shape), and the run REQUIRES at least
    // one eviction to have fired, so this surface can never silently
    // regress to testing the no-eviction path. Oracle = plain per-user
    // COUNT: a hash match proves keyed state crossed eviction
    // boundaries losing and duplicating nothing. (The double
    // total_value stays spec-pinned — a cross-batch float fold's
    // addition order is execution-dependent, which is precisely why the
    // hash-checked column is the count.)
    "q99_keyed_state_stream" -> ((s, dir) => {
      val batchEv = Tables.events(s, dir)
        .withColumn("ts", col("ts").cast("timestamp"))
      val root = predsPath(s"q99_root_${System.nanoTime()}")
      streaming.Streams.stageTimeOrdered(batchEv, "ts", s"$root/events", 8)
      val out = streaming.Streams.runningUserTotalsEvicting(s,
        s"$root/events", batchEv.schema, s"$root/partials", s"$root/ckpt",
        watermarkDelay = "1 hour", idleGapMs = 12L * 3600 * 1000)
      val nEvicted = s.read.parquet(s"$root/partials")
        .filter(col("is_final")).count()
      require(nEvicted > 0,
        "q99 must cross at least one eviction boundary — idle gap or " +
          "staging changed in a way that defeats the timeout")
      out
    }),


    // §2.8 streaming #5, EXECUTED AS A STREAM: SLIDING windows (width 1 h,
    // slide 30 min — every event lands in exactly two overlapping
    // windows), drained under AvailableNow in complete mode. Closes the
    // last window SHAPE that only had a batch-equivalence spec; oracle =
    // an independent two-candidate-starts unnest per event.
    "q105_sliding_stream" -> ((s, dir) => {
      val (root, events) = stagedEvents(s, dir, "q105")
      streaming.Streams.drain("q105_sliding",
        streaming.Streams.slidingAgg(events(), width = "1 hour",
          slide = "30 minutes", watermarkDelay = "3650 days"),
        "complete", s"$root/ckpt", Some(8)).select(
        col("window_start").cast("timestamp_ntz").as("window_start"),
        col("event_type"), col("n"))
    }),


    // §2.8 streaming #6, EXECUTED AS A STREAM: watermark-bounded DEDUP
    // (dropDuplicatesWithinWatermark) — first occurrence per
    // (user_id, event_type) wins, one row emitted per key across the
    // whole multi-batch drain. The output projects to the KEY columns:
    // which physical row arrives first is execution-order-dependent, the
    // key set is not — that projection is what makes a streaming dedup
    // hash-checkable at all. Oracle = the distinct key set; a hash match
    // proves cross-batch dedup state lost and duplicated nothing.
    "q106_dedup_stream" -> ((s, dir) => {
      val (root, events) = stagedEvents(s, dir, "q106")
      streaming.Streams.drain("q106_keys",
        streaming.Streams
          .dedupWithinWatermark(events(),
            keyCols = Seq("user_id", "event_type"),
            watermarkDelay = "3650 days")
          .select(col("user_id"), col("event_type")),
        "append", s"$root/ckpt", Some(8))
    }),


    // §2.8 streaming #7, EXECUTED AS A STREAM: stream-STATIC enrichment —
    // the streaming mirror of the J5 broadcast dimension join. The static
    // customer side is re-read per micro-batch and carries no state; the
    // drained rows are exactly the batch left join (event_id is unique, so
    // the result is deterministic row-for-row, unlike q106's key
    // projection). Completes the driver-checked streaming family: every
    // Streams operator except the order-dependent near-dup marker now has
    // a CORRECTNESS row that executed as a stream.
    "q107_enrich_stream" -> ((s, dir) => {
      val (root, events) = stagedEvents(s, dir, "q107")
      val dim = Tables.customer(s, dir)
        .select(col("c_custkey").as("user_id"),
          col("c_mktsegment"), col("c_nationkey"))
      streaming.Streams.drain("q107_enriched",
        streaming.Streams.enrichWithDim(events(), dim, "user_id")
          .select(col("event_id"), col("user_id"),
            col("event_type"), col("c_mktsegment"), col("c_nationkey")),
        "append", s"$root/ckpt", None)
    }),


    // §2.8 streaming #4, EXECUTED AS A STREAM: the stream-stream
    // watermarked JOIN — two independent file streams over the same
    // staged events (clicks side, purchases side), matched on user within
    // the 1-hour attribution horizon, drained under AvailableNow in
    // append mode. Inner-join matches emit as they form (the watermark
    // only bounds state eviction), and the fixture-spanning delay keeps
    // ALL state live across the unordered backfill batches, so the
    // drained rows are exactly the batch join — oracle = the plain
    // interval-join SQL (q31's shape with the roles flipped). Completes
    // the driver-checked streaming family: windows (q98), sessions
    // (q93), keyed state (q99), joins (here).
    "q102_join_stream" -> ((s, dir) => {
      val (root, events) = stagedEvents(s, dir, "q102")
      val joined = streaming.Streams.clickPurchaseJoin(
        events().filter(col("event_type") === "click"),
        events().filter(col("event_type") === "purchase"),
        horizon = "1 hour", watermarkDelay = "3650 days")
      // stream-stream join keeps four keyed state stores per shuffle
      // partition per micro-batch — a narrow drain width (see
      // Streams.drain)
      serveQ102(streaming.Streams.drain("q102_pairs", joined, "append",
        s"$root/ckpt", Some(8)))
    }),


    // §2.8 streaming #8, EXECUTED AS A STREAM: CDC apply — the q108
    // change set delivered as micro-batches, folded into a key-bucketed
    // partitioned table via foreachBatch + upsertVersioned, each batch
    // reading and dynamically overwriting ONLY the kb= partitions its
    // keys hash into (the 100 TB write-amplification fix; the
    // snapshot-chain variant stays spec-covered in StreamsSpec). The
    // per-key (ver, tie) max makes the fold independent of batch
    // boundaries and arrival order, so the drained final table must
    // hash-match the ONE-SHOT batch merge oracle.
    "q122_cdc_stream" -> ((s, dir) => {
      val base = ordersSnapshot(s, dir).withColumn("ver", lit(0))
      val changes = ordersChangeSet(s, dir)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          col("ver"))
      val root = predsPath(s"q122_root_${System.nanoTime()}")
      sources.Sources.writeKeyBucketed(base, s"$root/table",
        Seq("o_orderkey"), nBuckets = 16)
      // bucket-aligned change staging (r14, guide §6 — see
      // QueryShared.stageBucketAligned): each 2-file micro-batch carries
      // changes for half the kb domain, so the partition-pruned merge
      // touches ~8 of 16 dirs per batch; upsertVersioned is split- and
      // order-invariant, so the folded table is unchanged
      QueryShared.stageBucketAligned(changes, Seq("o_orderkey"),
        nBuckets = 16, nGroups = 2, filesPerGroup = 2, s"$root/changes")
      streaming.Streams.cdcApplyPartitioned(s, s"$root/changes",
          changes.schema, s"$root/table", Seq("o_orderkey"),
          orderCol = "ver", tieCol = "o_orderstatus", nBuckets = 16)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    }),

    // streaming ANN serving: query vectors drained as micro-batches
    // against the PERSISTED IVFPQ index (q94's artifacts), per-batch
    // shortlists appended to parquet, exact re-rank over stored unit
    // vectors. Shortlisting is query-row-local, so the micro-batch split
    // provably equals the one-shot batch serve — the oracle replays the
    // re-rank relationally over the STREAMED shortlist, so a green row
    // means an actual stream execution produced it.
    "q127_ann_stream" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val idx = llm.Similarity.fitIvfPqIndex(
        e.select(col("vec_id").as("n_id"), col("embedding").as("n_emb")),
        nlist = 16, m = 8, kc = 16, persistEntries = false)
      llm.Similarity.writeIvfPqIndex(idx, predsPath("q127_index"))
      val loaded = llm.Similarity.loadIvfPqIndex(s, predsPath("q127_index"))
      sources.Sources.writeParquet(
        llm.Similarity.unitVectors(e), predsPath("q127_units"))
      val qdf = e.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      sources.Sources.writeParquet(qdf.repartition(4), predsPath("q127_queries"))
      // the drain APPENDS per-batch shortlists: clear the dir so a re-run
      // of the same query starts empty instead of accumulating duplicates
      // — the oracle then reads exactly one drain's worth of streamed
      // shortlist files (the one-shot drain mints and drops its own
      // checkpoint)
      val slDir = predsPath("q127_shortlist")
      val slFile = new java.io.File(slDir)
      if (slFile.exists()) {
        import scala.reflect.io.Directory
        new Directory(slFile).deleteRecursively()
      }
      streaming.Streams.annServeStream(s, predsPath("q127_queries"),
        qdf.schema, loaded, predsPath("q127_units"), slDir,
        predsPath("q127_ckpt"), k = 5)
    }),

    // the full table-maintenance loop composed: streaming CDC apply
    // (partition-pruned dynamic overwrites fragment the hot buckets) →
    // partition-selective compaction (only fragmented buckets rewritten,
    // one sorted file each) → serve. Content must STILL equal the
    // one-shot merge — maintenance is layout-only, and the same oracle
    // that certifies the CDC fold certifies the compacted table.
    "q135_cdc_maintain" -> ((s, dir) => {
      val base = ordersSnapshot(s, dir).withColumn("ver", lit(0))
      val changes = ordersChangeSet(s, dir)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          col("ver"))
      val root = predsPath(s"q135_root_${System.nanoTime()}")
      sources.Sources.writeKeyBucketed(base, s"$root/table",
        Seq("o_orderkey"), nBuckets = 16)
      // bucket-aligned change staging (r14, guide §6 — the q122 recipe;
      // the compaction that follows is already partition-selective)
      QueryShared.stageBucketAligned(changes, Seq("o_orderkey"),
        nBuckets = 16, nGroups = 2, filesPerGroup = 2, s"$root/changes")
      streaming.Streams.cdcApplyPartitioned(s, s"$root/changes",
        changes.schema, s"$root/table", Seq("o_orderkey"),
        orderCol = "ver", tieCol = "o_orderstatus", nBuckets = 16)
      sources.Sources.compactPartitions(s, s"$root/table", "kb",
        sortCols = Seq("o_orderkey"), maxFiles = 1, numFiles = 1)
      s.read.parquet(s"$root/table")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    }),

    // incremental aggregate table: the events fixture drained as
    // micro-batches into a key-bucketed parquet table of per-user
    // (count, exact-decimal sum) — state lives in the TABLE, each batch
    // ships only its partial aggregates and merges into the touched kb=
    // partitions (the cdcApplyPartitioned bucket-pruned write). Decimal
    // partials are associative, so the drained table must hash-match the
    // one-shot GROUP BY oracle whatever the batch split.
    "q128_agg_table_stream" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("value"))
      val root = predsPath(s"q128_root_${System.nanoTime()}")
      sources.Sources.writeParquet(ev.repartition(6), s"$root/events")
      streaming.Streams.aggTableApply(s, s"$root/events", ev.schema,
        s"$root/table", s"$root/ckpt", keyCol = "user_id",
        valueCol = "value", nBuckets = 16)
    }),


    // §2.8 streaming #8, EXECUTED AS A STREAM: the strict ordered funnel
    // (q139's batch semantics) maintained in keyed state across several
    // unordered micro-batches — monotone-pruned pending sets make the
    // cross-batch reordering provably exact (see Streams.streamingFunnel).
    // Update-mode drain; final fold = per-user min(times)/max(stage)
    // (each is monotone across updates), entrants only.
    "q147_funnel_stream" -> ((s, dir) => {
      val (root, events) = stagedEvents(s, dir, "q147")
      streaming.Streams.drain("q147_updates",
        streaming.Streams
          .streamingFunnel(events(), Seq("view", "click", "purchase")).toDF(),
        "update", s"$root/ckpt", Some(8))
        .groupBy(col("user_id"))
        .agg(
          min(element_at(col("times"), 1)).as("m1"),
          min(element_at(col("times"), 2)).as("m2"),
          min(element_at(col("times"), 3)).as("m3"),
          max(col("stage")).as("stage"))
        .filter(col("stage") >= 1)
        .select(col("user_id"),
          timestamp_micros(col("m1")).as("t_view"),
          timestamp_micros(col("m2")).as("t_click"),
          timestamp_micros(col("m3")).as("t_purchase"),
          col("stage"))
    }),


    // streaming COUNT(DISTINCT) maintenance: per-batch kilobyte HLL
    // sketches appended, estimate = union over the partials table —
    // raw values never re-shuffle. DataSketches has no DuckDB mirror ⇒
    // rows-only; StreamsSpec pins the streamed estimate within 1%
    // of the one-shot estimate and ~5% of the exact count (HLL union
    // is mergeable with bounded error, not bit-identical).
    "q192_hll_stream" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_type"), col("user_id"))
      val root = predsPath(s"q192_root_${System.nanoTime()}")
      sources.Sources.writeParquet(ev.repartition(6), s"$root/events")
      streaming.Streams.distinctSketchStream(s, s"$root/events", ev.schema,
        s"$root/partials", s"$root/ckpt", "event_type", "user_id")
    }),


    // streaming quantile maintenance via mergeable INTEGER histograms:
    // per-batch (key, bucket) counts appended, quantiles served from
    // the cumulated histogram — associative integer counts make this
    // one ORACLE-CHECKABLE (unlike float sketches): the drained
    // histogram must equal the one-shot binning whatever the batch split
    "q193_histogram_stream" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_type"), col("value"))
      val root = predsPath(s"q193_root_${System.nanoTime()}")
      sources.Sources.writeParquet(ev.repartition(6), s"$root/events")
      streaming.Streams.histogramQuantileStream(s, s"$root/events",
        ev.schema, s"$root/partials", s"$root/ckpt",
        "event_type", "value", bucketWidth = 10.0,
        percentilesPpm = Seq(500000L, 900000L, 990000L))
    }),


    // q172's OHLC bars EXECUTED AS A STREAM: open/close as min_by/
    // max_by over the unique (ts, event_id) struct order — the batch
    // row_number trick has no streaming form, the struct-argmin does;
    // drained under AvailableNow, must hash-match the batch windows
    "q183_ohlc_stream" -> ((s, dir) => {
      val (root, events) = stagedEvents(s, dir, "q183")
      streaming.Streams.drain("q183_bars",
        streaming.Streams.ohlcStream(events(), watermarkDelay = "3650 days"),
        "complete", s"$root/ckpt", Some(8)).select(
        col("window_start").cast("timestamp_ntz").as("hour"),
        col("user_id"), col("open"), col("close"), col("high"),
        col("low"), col("n"), col("sum_v"))
    }),


    // q168's data-quality gate EXECUTED AS A STREAM: per-batch rule
    // partials (integer counts — associative, so the merged report is
    // batch-split-invariant) appended to a partials table, final report
    // = rules-sized group-by; must hash-match the ONE-SHOT rule SQL
    // whatever the 2-file micro-batch split did
    // §2.8 streaming: EXACT heavy hitters maintained as the corpus
    // lands — per-batch Misra-Gries candidate sketches (union provably
    // covers every global hitter), exact recount of candidates only at
    // readout; hash-equals the one-shot q74 oracle.
    "q233_topk_stream" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val root = predsPath(s"q233_root_${System.nanoTime()}")
      sources.Sources.writeParquet(docs.repartition(6), s"$root/docs")
      streaming.Streams.heavyHittersStream(s, s"$root/docs", docs.schema,
        s"$root/partials", s"$root/ckpt", textCol = "text", k = 100)
    }),


    // §2.8 streaming: the SRM gate maintained AS assignments land —
    // per-batch variant-count partials (plain sums, mergeable), final
    // χ² via the same Experiment.srmFromCounts algebra as batch q208,
    // so the streamed readout hash-equals the batch oracle.
    "q217_srm_stream" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"))
      val root = predsPath(s"q217_root_${System.nanoTime()}")
      sources.Sources.writeParquet(ev.repartition(6), s"$root/events")
      streaming.Streams.srmGateStream(s, s"$root/events", ev.schema,
        s"$root/partials", s"$root/ckpt",
        groupCol = "event_type", userCol = "user_id")
    }),


    "q175_dq_stream" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), col("value"))
      val root = predsPath(s"q175_root_${System.nanoTime()}")
      sources.Sources.writeParquet(ev.repartition(6), s"$root/events")
      streaming.Streams.dqReportStream(s, s"$root/events", ev.schema,
        s"$root/partials", s"$root/ckpt", Seq(
          "user_id_not_null" -> col("user_id").isNull,
          "value_not_null" -> col("value").isNull,
          "event_type_domain" ->
            !col("event_type").isin("view", "click", "purchase")))
    }),


    // §2.8 streaming: the KMV distinct sketch maintained as batches land
    // — per-batch k-minimum partials (batchId-keyed, replay-idempotent),
    // merged k-min-of-union readout. The k globally-smallest keys are
    // each within their own batch's k smallest, so the streamed sketch
    // hash-equals the one-shot batch sketch (the q276 oracle verifies
    // the mergeability law end-to-end).
    "q282_kmv_stream" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"))
      val root = predsPath(s"q282_root_${System.nanoTime()}")
      sources.Sources.writeParquet(ev.repartition(6), s"$root/events")
      streaming.Streams.kmvStream(s, s"$root/events", ev.schema,
        s"$root/partials", s"$root/ckpt",
        groupCol = "event_type", keyCol = "user_id")
    }),


    // Pareto maintenance over the INCREMENTAL AGG TABLE (q128's
    // aggTableApply): the brand-revenue rollup is maintained across a
    // real multi-batch drain as decimal partials in a bucketed table,
    // and the Pareto readout (rank, cumulative ppm) runs over the
    // MAINTAINED table — hash-equals q243's one-shot SQL, proving the
    // serving table a stream keeps current answers the same question the
    // batch rollup does. Exact cents recovered from the decimal(30,2)
    // partials (2-decimal money × 100 is integral, summation exact).
    "q297_pareto_stream" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir)
            .select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .select(col("p_brand"), col("l_extendedprice"))
      val root = predsPath(s"q297_root_${System.nanoTime()}")
      sources.Sources.writeParquet(li.repartition(6), s"$root/rows")
      streaming.Streams.aggTableApply(s, s"$root/rows", li.schema,
        s"$root/table", s"$root/ckpt",
        keyCol = "p_brand", valueCol = "l_extendedprice")
      val rev = s.read.parquet(s"$root/table")
        .groupBy(col("p_brand"))
        .agg(sum(col("sum_dec").cast("decimal(30,2)")).as("sdec"))
        .select(col("p_brand"),
          (col("sdec") * 100).cast("long").as("rev_cents"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("rev_cents").desc, col("p_brand"))
      rev.crossJoin(broadcast(rev.agg(sum(col("rev_cents")).as("grand"))))
        .withColumn("cum_cents", sum(col("rev_cents")).over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, org.apache.spark.sql.expressions.Window
            .currentRow)))
        .withColumn("rank", row_number().over(w))
        .withColumn("cum_share_ppm", expr("cum_cents * 1000000 div grand"))
        .select(col("rank"), col("p_brand"), col("rev_cents"),
          col("cum_share_ppm"))
    }),


    // streamed form of q234 covered time: per-batch interval islands
    // appended as idempotent batch_id partials, readout re-islands the
    // union — interval union is associative+idempotent over interval
    // sets, so the multi-batch drain hash-equals the one-shot batch
    // oracle (the q93/q98/q282 streamed-parity pattern)
    "q294_covered_time_stream" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts"))
      val root = predsPath(s"q294_root_${System.nanoTime()}")
      sources.Sources.writeParquet(ev.repartition(6), s"$root/events")
      streaming.Streams.coveredTimeStream(s, s"$root/events", ev.schema,
        s"$root/partials", s"$root/ckpt")
    }),


    // q140's retention triangle maintained across a real multi-batch
    // drain: per-batch distinct (user, day) marks appended batchId-
    // idempotently, cohorts derived at readout — min-cohort and
    // distinct-count are both order-free mergeable, so the streamed
    // readout hash-equals the one-shot batch oracle (the q294 pattern)
    "q306_retention_stream" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts"))
      val root = predsPath(s"q306_root_${System.nanoTime()}")
      sources.Sources.writeParquet(ev.repartition(6), s"$root/events")
      streaming.Streams.retentionStream(s, s"$root/events", ev.schema,
        s"$root/marks", s"$root/ckpt")
    }),


    // q302's MI-cell machinery maintained as a stream: per-batch
    // (event_type × engine-free dow) count partials (batchId-
    // idempotent), counts merge by plain sums, readout applies the
    // window marginals + floor-quantized µ-nat terms — hash-equals the
    // one-shot batch MI under any batch split (the q294/q306 pattern)
    "q320_mi_stream" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("event_type"), col("ts"))
      val root = predsPath(s"q320_root_${System.nanoTime()}")
      sources.Sources.writeParquet(ev.repartition(6), s"$root/events")
      streaming.Streams.miCellsStream(s, s"$root/events", ev.schema,
        s"$root/partials", s"$root/ckpt")
    }),


    // q332's exact-integer EWMA kernel maintained as a stream: per-batch
    // per-day cent-sum partials (batchId-idempotent), day sums merge by
    // plain addition, readout applies the 8-lag α=1/2 e8-integer closed
    // form and the 50%-deviation drift flag — hash-equals the one-shot
    // batch computation under any batch split (the q294/q306/q320
    // pattern)
    "q338_ewma_stream" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("ts"), col("value"))
      val root = predsPath(s"q338_root_${System.nanoTime()}")
      sources.Sources.writeParquet(ev.repartition(6), s"$root/events")
      streaming.Streams.ewmaGateStream(s, s"$root/events", ev.schema,
        s"$root/partials", s"$root/ckpt")
    }),


    // q345's block-maxima family maintained as a stream: per-batch
    // per-week MAX partials (batchId-idempotent; max merges by max —
    // order-free), readout flags running records — hash-equals the
    // one-shot batch computation under any batch split
    "q353_maxima_stream" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("ts"), col("value"))
      val root = predsPath(s"q353_root_${System.nanoTime()}")
      sources.Sources.writeParquet(ev.repartition(6), s"$root/events")
      streaming.Streams.maximaStream(s, s"$root/events", ev.schema,
        s"$root/partials", s"$root/ckpt")
    }),


    // q365's Pareto skyline maintained as a stream: per-batch LOCAL
    // skylines appended batchId-idempotently (dominance is a merge
    // semilattice — skyline(A∪B) = skyline(skyline(A)∪skyline(B))),
    // readout re-applies the same operator over the merged partials —
    // hash-equals the one-shot batch skyline under any batch split
    "q373_skyline_stream" -> ((s, dir) => {
      val p = Tables.part(s, dir)
        .select(col("p_partkey"), col("p_retailprice"), col("p_size"))
      val root = predsPath(s"q373_root_${System.nanoTime()}")
      sources.Sources.writeParquet(p.repartition(6), s"$root/parts")
      streaming.Streams.skylineStream(s, s"$root/parts", p.schema,
        s"$root/partials", s"$root/ckpt")
    }),


    // q416's survivor policy at INGESTION time, EXECUTED AS A STREAM:
    // exact (fingerprint-grain) dedup where each micro-batch emits only
    // its per-fingerprint local policy-best + copy count (lexicographic
    // argmin is a merge semilattice — the fifth mergeable monoid after
    // counts/sums/maxima/skyline), and the readout re-applies the same
    // policy window over the tiny partials. Streamed == one-shot batch
    // under any batch split, including a better copy arriving in a LATER
    // batch than the first copy (StreamsSpec law). Oracle = the one-shot
    // per-fingerprint policy SQL over documents.
    "q419_survivor_stream" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("text"))
      val root = predsPath(s"q419_root_${System.nanoTime()}")
      sources.Sources.writeParquet(docs.repartition(6), s"$root/docs")
      streaming.Streams.survivorStream(s, s"$root/docs", docs.schema,
        s"$root/partials", s"$root/ckpt")
    }),


    // q422's Lloyd model SERVED at ingestion time — the clustering
    // family's streaming member (round-12): the fit persists the
    // post-final-update centroid grid ONCE, embedding batches drain as
    // micro-batches against the stored artifact (broadcast k·D join +
    // exact-integer argmin — see Streams.centroidAssignStream), and
    // per-batch per-cluster (count, inertia) partials fold to cluster
    // grain in the readout (sums — mergeable, exact under any split).
    // The oracle replays the one-shot assignment against the SAME stored
    // centroids, so the model artifact, not the fit loop, is what's
    // hash-checked — no unrolled oracle needed (the q430 recipe).
    "q427_kmeans_assign_stream" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding"))
      val x = emb
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "v")))
        .select(col("vec_id"), col("dim").cast("long").as("dim"),
          floor(col("v").cast("double") * 1e6).cast("long").as("q"))
      val seeds = Tables.embeddings(s, dir)
        .select(col("vec_id"), md5(col("vec_id").cast("string")).as("sk"))
        .orderBy(col("sk"), col("vec_id")).limit(4)
        .withColumn("cid",
          row_number().over(Window.orderBy(col("sk"), col("vec_id")))
            .cast("long") - 1)
        .select(col("vec_id"), col("cid"))
      // the serve contract tests the ARTIFACT (stored centroids), not fit
      // convergence — q422 owns the witnessed fixpoint; 4 rounds buys the
      // same serve shape at a third of the fit cost
      val (_, cent, _, _) = ml.Kmeans.lloydConverged(x, seeds, maxRounds = 4)
      cent.coalesce(1).write.mode("overwrite")
        .parquet(predsPath("q427_cent"))
      val root = predsPath(s"q427_root_${System.nanoTime()}")
      sources.Sources.writeParquet(emb.repartition(4), s"$root/vecs")
      streaming.Streams.centroidAssignStream(s, s"$root/vecs", emb.schema,
        predsPath("q427_cent"), s"$root/partials", s"$root/ckpt")
    }),


    // q457's Pocock interim monitor EXECUTED AS A STREAM (round 12):
    // day-grain (n, k) statistics are mergeable sums; the whole interim
    // machinery (bucketing, cumulative z², boundary, first crossing)
    // re-derives in the readout — 35th drain. Oracle = q457's SQL.
    "q463_pocock_stream" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(col("ts"), col("user_id"))
      val root = predsPath(s"q463_root_${System.nanoTime()}")
      sources.Sources.writeParquet(ev.repartition(4), s"$root/events")
      streaming.Streams.pocockStream(s, s"$root/events", ev.schema,
        s"$root/partials", s"$root/ckpt")
    }),


    // q448's dataset card MAINTAINED AS A STREAM (round 12): the
    // mergeable card members (volume, language profile, quality sums)
    // fold from per-batch (source, lang) partials — 34th drain; the
    // non-mergeable members (exact median, LSH dup exposure) stay
    // batch-only in q448 by declaration. Oracle: the one-shot card
    // restricted to the streamed columns.
    "q458_card_stream" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("lang"), col("text"))
      val root = predsPath(s"q458_root_${System.nanoTime()}")
      sources.Sources.writeParquet(docs.repartition(4), s"$root/docs")
      streaming.Streams.datasetCardStream(s, s"$root/docs", docs.schema,
        s"$root/partials", s"$root/ckpt")
    }),


    // q449's Page–Hinkley drift detector EXECUTED AS A STREAM (round
    // 12): the day-grain (cents, n) statistics are mergeable sums, so
    // batches emit day partials and the sequential detector re-derives
    // in the readout — arrival order never matters because the detector
    // reads the day SERIES, not the stream. Oracle = q449's one-shot SQL.
    "q454_ph_stream" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(col("ts"), col("value"))
      val root = predsPath(s"q454_root_${System.nanoTime()}")
      sources.Sources.writeParquet(ev.repartition(4), s"$root/events")
      streaming.Streams.pageHinkleyStream(s, s"$root/events", ev.schema,
        s"$root/partials", s"$root/ckpt")
    }),


    // q424's Benjamini–Hochberg control EXECUTED AS A STREAM (round 12):
    // the per-hypothesis sufficient statistics (n, n_odd per event type)
    // are plain sums — mergeable — so micro-batches emit only local
    // counts and the whole inferential chain (split-div z², Chebyshev
    // p_ppm, ranked step-up, prefix rejection) re-derives in the readout
    // over the folded state. Streamed == batch under any split; the
    // oracle is q424's one-shot SQL verbatim.
    "q436_bh_fdr_stream" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"))
      val root = predsPath(s"q436_root_${System.nanoTime()}")
      sources.Sources.writeParquet(ev.repartition(4), s"$root/events")
      streaming.Streams.bhFdrStream(s, s"$root/events", ev.schema,
        s"$root/partials", s"$root/ckpt")
    }),


    // AUDIO ingestion-time perceptual dedup against its own persisted
    // pruned index — completes the text/image/audio/video ingestion
    // symmetry (q413/q477/q481/q471) over the SAME drain scaffold:
    // per-batch WAV decode → energy-delta fingerprints → kb-pruned
    // probe; single-sample-perturbed copies of every original are the
    // known ground truth (the q226 recipe). Streamed == batch; oracle
    // replays banding over the re-staged new signatures × the index's
    // recovered base signatures.
    "q481_audio_ingest_stream" -> ((s, dir) => {
      val ip = QueryShared.ensureAudioHammingIndex(s)
      val auds = multimodal.Multimodal
        .syntheticAssets(s, 900, payloadBlocks = 64)
        .filter(col("modality") === "audio")
      val newAssets = auds.select(
        (col("asset_id") + 2000000L).as("asset_id"), col("modality"),
        concat(substring(col("content"), 1, 556),
          lit(Array[Byte](0x7f.toByte)),
          expr("substring(content, 558, length(content) - 557)"))
          .as("content"),
        col("meta"))
      val root = predsPath(s"q481_root_${System.nanoTime()}")
      sources.Sources.writeParquet(newAssets.repartition(4), s"$root/new")
      val marks = streaming.Streams.audioIngestStream(s, s"$root/new",
        newAssets.schema, ip, s"$root/newsigs", s"$root/partials",
        s"$root/ckpt", kbBuckets = QueryShared.IndexKbBuckets)
      s.read.parquet(s"$root/newsigs").select(col("asset_id"), col("sig"))
        .coalesce(1).write.mode("overwrite")
        .parquet(predsPath("q481_new_sigs"))
      marks
    }),


    // IMAGE ingestion-time perceptual dedup against the PERSISTED
    // partition-pruned hamming index, EXECUTED AS A STREAM (round 13 —
    // q471's image twin upgraded to the q476 serving layout): every
    // micro-batch dHashes its assets and probes ONLY the kb= index
    // directories its keys hash into (probeHammingIndex — per-batch
    // index bytes bounded by the layout, never the index size).
    // Streamed == batch exactly (asset atomic per batch, index static);
    // per-batch signatures re-stage so the oracle replays banding +
    // verify over the stored sets (pruning is a read optimization with
    // identical pairs — DedupSpec pins that equality).
    "q477_image_ingest_stream" -> ((s, dir) => {
      val ip = QueryShared.ensureImageHammingIndex(s)
      val imgs = multimodal.Multimodal.syntheticAssets(s, 900)
        .filter(col("modality") === "image")
      val newAssets = imgs.select(
        (col("asset_id") + 2000000L).as("asset_id"), col("modality"),
        concat(substring(col("content"), 1, 54),
          lit(Array[Byte](0x7f.toByte)),
          expr("substring(content, 56, length(content) - 55)"))
          .as("content"),
        col("meta"))
      val root = predsPath(s"q477_root_${System.nanoTime()}")
      sources.Sources.writeParquet(newAssets.repartition(4), s"$root/new")
      val marks = streaming.Streams.imageIngestStream(s, s"$root/new",
        newAssets.schema, ip, s"$root/newsigs", s"$root/partials",
        s"$root/ckpt", kbBuckets = QueryShared.IndexKbBuckets)
      s.read.parquet(s"$root/newsigs").select(col("asset_id"), col("sig"))
        .coalesce(1).write.mode("overwrite")
        .parquet(predsPath("q477_new_sigs"))
      marks
    }),


    // VIDEO ingestion-time perceptual dedup EXECUTED AS A STREAM (round
    // 13 — the vhash64 twin of q413's text-anchor ingestion routing):
    // the old corpus's vhash index persists ONCE; new assets (perturbed
    // copies of every original, ground truth known) drain as single-
    // file micro-batches, each decoding → vhash64 → cross-set banded-
    // hamming join against the stored index — candidates from (band,
    // key) buckets, never batch×index pairs. Streamed == batch exactly
    // (new asset atomic per batch, index static — StreamsSpec law); the
    // per-batch signatures re-stage so the oracle replays banding +
    // verify over the two stored 64-bit sets.
    "q471_video_ingest_stream" -> ((s, dir) => {
      val vids = multimodal.Multimodal.syntheticAssets(s, 900)
        .filter(col("modality") === "video")
      sources.Sources.writeParquet(
        multimodal.Multimodal.videoSignatures(vids),
        predsPath("q471_index_sigs"))
      val copies = vids.select(
        (col("asset_id") + 1000000L).as("asset_id"), col("modality"),
        concat(substring(col("content"), 1, 60),
          lit(Array[Byte](0x7f.toByte)),
          expr("substring(content, 62, length(content) - 61)"))
          .as("content"),
        col("meta"))
      val root = predsPath(s"q471_root_${System.nanoTime()}")
      sources.Sources.writeParquet(copies.repartition(4), s"$root/new")
      val marks = streaming.Streams.videoIngestStream(s, s"$root/new",
        copies.schema, predsPath("q471_index_sigs"),
        s"$root/newsigs", s"$root/partials", s"$root/ckpt")
      s.read.parquet(s"$root/newsigs").select(col("asset_id"), col("sig"))
        .coalesce(1).write.mode("overwrite")
        .parquet(predsPath("q471_new_sigs"))
      marks
    }),


    // q443's GDPR delete-and-certify with the deletes arriving AS A
    // STREAM (round-12 VERDICT next #3 — the production shape): each
    // micro-batch digests the rows it is about to delete from a
    // bucket-pruned scan (first-writer-wins partials — replay-safe),
    // applies deleteKeysBucketed (untouched kb= dirs stay
    // bit-identical), and the readout reconciles before == after +
    // Σ deleted in exact decimal plus a zero residual scan. Streamed ==
    // one-shot under any split because the 56-bit row digest is
    // additive and each key deletes exactly once (StreamsSpec law). The
    // survivors are re-staged to a stable path so the oracle replays
    // the certificate over the STORED bytes, the q443 recipe.
    "q467_erasure_stream" -> ((s, dir) => {
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_orderpriority")
      val base = Tables.orders(s, dir).select(cols.map(col): _*)
      val root = predsPath(s"q467_root_${System.nanoTime()}")
      sources.Sources.writeKeyBucketed(base, s"$root/table",
        Seq("o_orderkey"), 16)
      Relational.tableChecksum(base, cols)
        .coalesce(1).write.mode("overwrite").parquet(s"$root/before")
      val dels = base.filter(col("o_custkey") % 97 === 0)
        .select(col("o_orderkey"))
      // BUCKET-ALIGNED delete staging (r14 optimization, guide §6/§2.3):
      // route each staged delete file to kb % 4 of the table's 16 kb
      // buckets instead of round-robin. Each micro-batch then touches
      // exactly 4 bucket dirs (digest scan + rewrite read 4/16 of the
      // table, and every bucket dir is rewritten ONCE per drain instead
      // of up to 4×). At 100 TB this is the production shape: deletes
      // routed by the table's bucket function so per-batch work is
      // O(its buckets), not O(all buckets). The certificate is
      // batch-split-invariant (additive digests, n_batches derived from
      // the staged partials), so the result is unchanged — oracle
      // hash-match proves it.
      QueryShared.stageBucketAligned(dels, Seq("o_orderkey"),
        nBuckets = 16, nGroups = 4, filesPerGroup = 1, s"$root/deletes")
      val cert = streaming.Streams.erasureStream(s, s"$root/deletes",
        dels.schema, s"$root/table", Seq("o_orderkey"), cols, nBuckets = 16,
        s"$root/before", s"$root/partials", s"$root/ckpt")
      s.read.parquet(s"$root/table").select(cols.map(col): _*)
        .coalesce(1).write.mode("overwrite")
        .parquet(predsPath("q467_after"))
      // Re-stage the per-batch partials so the oracle DERIVES n_batches
      // from the same artifact the readout folds (round-13 ADVICE: the
      // old literal 4 was coupled to repartition(4) emitting exactly 4
      // non-empty files — an empty partition at another SF would break
      // the row for a reason unrelated to the erasure logic).
      s.read.parquet(s"$root/partials")
        .select(col("batch_id"), col("n_deleted"))
        .coalesce(1).write.mode("overwrite")
        .parquet(predsPath("q467_partials"))
      cert
    }),


    // q398's cross-doc exact-substring dedup at INGESTION time, EXECUTED
    // AS A STREAM (round-11 VERDICT next #3): the old 3/4 of the corpus
    // builds the persisted anchor-postings index (per-gram md5-order cap
    // ≤64) + stored token arrays ONCE; the new 1/4 drains as single-file
    // micro-batches, each routing its sampled k-mer anchors (uncapped —
    // per-doc work is bounded by its own anchors × the index cap)
    // against the stored postings and extending exactly ±window against
    // the stored old tokens. Marks land in batchId-keyed partials
    // (idempotent overwrite); the readout folds them to pair grain.
    // Streamed == batch exactly (a new doc is atomic within one batch,
    // the old side is static — StreamsSpec law), so the oracle states
    // the one-shot batch computation relationally: old-side-only cap,
    // new-side anchors uncapped, guarded 1-based indexing.
    "q413_substring_marks_stream" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val root = predsPath(s"q413_root_${System.nanoTime()}")
      val oldDocs = docs.filter(col("doc_id") % 4 =!= 0)
      sources.Sources.writeParquet(
        llm.Dedup.substringTokenRows(oldDocs, "doc_id", "text", 8),
        s"$root/oldtoks")
      sources.Sources.writeParquet(
        llm.Dedup.cappedPostings(
          llm.Dedup.substringAnchors(
            s.read.parquet(s"$root/oldtoks"), k = 8, anchorMod = 8),
          maxPerGram = 64),
        s"$root/postings")
      val newDocs = docs.filter(col("doc_id") % 4 === 0)
        .select(col("doc_id"), col("text"))
      sources.Sources.writeParquet(newDocs.repartition(4), s"$root/newdocs")
      streaming.Streams.streamingSubstringMarks(s, s"$root/newdocs",
        newDocs.schema, s"$root/postings", s"$root/oldtoks",
        s"$root/partials", s"$root/ckpt")
    }),
  )

  /** DuckDB-runnable oracle equivalents; keys lacking an entry here are
    * rows-only checked by the driver (non-portable hash/codec/fit paths,
    * each pinned by a dedicated spec instead). */
  val sql: Map[String, String] = Map(

    // the q477 replay over the audio index's recovered base signatures
    "q481_audio_ingest_stream" ->
      s"""WITH n AS (
         |  SELECT asset_id AS new_id, sig,
         |    CAST(sig AS HUGEINT)
         |      + CASE WHEN sig < 0 THEN CAST('18446744073709551616' AS HUGEINT)
         |             ELSE CAST(0 AS HUGEINT) END AS usig
         |  FROM read_parquet('${predsPath("q481_new_sigs")}/*.parquet')
         |), o AS (
         |  SELECT DISTINCT id AS old_id, sig FROM
         |    read_parquet('${predsPath("q481_index")}/*/*/*.parquet')
         |), ob AS (
         |  SELECT old_id, sig,
         |    CAST(sig AS HUGEINT)
         |      + CASE WHEN sig < 0 THEN CAST('18446744073709551616' AS HUGEINT)
         |             ELSE CAST(0 AS HUGEINT) END AS usig
         |  FROM o
         |), bands(band, d) AS (VALUES
         |    (0, CAST('1' AS HUGEINT)),
         |    (1, CAST('256' AS HUGEINT)),
         |    (2, CAST('65536' AS HUGEINT)),
         |    (3, CAST('16777216' AS HUGEINT)),
         |    (4, CAST('4294967296' AS HUGEINT)),
         |    (5, CAST('1099511627776' AS HUGEINT)),
         |    (6, CAST('281474976710656' AS HUGEINT)),
         |    (7, CAST('72057594037927936' AS HUGEINT))
         |), bn AS (
         |  SELECT new_id, sig, b.band, (usig // b.d) % 256 AS key
         |  FROM n CROSS JOIN bands b
         |), bo AS (
         |  SELECT old_id, sig, b.band, (usig // b.d) % 256 AS key
         |  FROM ob CROSS JOIN bands b
         |)
         |SELECT DISTINCT bn.new_id, bo.old_id,
         |  CAST(bit_count(xor(bn.sig, bo.sig)) AS INT) AS hamming
         |FROM bn JOIN bo ON bn.band = bo.band AND bn.key = bo.key
         |WHERE bit_count(xor(bn.sig, bo.sig)) <= 7""".stripMargin,


    // cross-set banding replay over the re-staged new signatures × the
    // base signatures recovered from the exploded index layout — the kb
    // pruning is a read optimization with identical pairs
    "q477_image_ingest_stream" ->
      s"""WITH n AS (
         |  SELECT asset_id AS new_id, sig,
         |    CAST(sig AS HUGEINT)
         |      + CASE WHEN sig < 0 THEN CAST('18446744073709551616' AS HUGEINT)
         |             ELSE CAST(0 AS HUGEINT) END AS usig
         |  FROM read_parquet('${predsPath("q477_new_sigs")}/*.parquet')
         |), o AS (
         |  SELECT DISTINCT id AS old_id, sig FROM
         |    read_parquet('${predsPath("q476_index")}/*/*/*.parquet')
         |), ob AS (
         |  SELECT old_id, sig,
         |    CAST(sig AS HUGEINT)
         |      + CASE WHEN sig < 0 THEN CAST('18446744073709551616' AS HUGEINT)
         |             ELSE CAST(0 AS HUGEINT) END AS usig
         |  FROM o
         |), bands(band, d) AS (VALUES
         |    (0, CAST('1' AS HUGEINT)),
         |    (1, CAST('256' AS HUGEINT)),
         |    (2, CAST('65536' AS HUGEINT)),
         |    (3, CAST('16777216' AS HUGEINT)),
         |    (4, CAST('4294967296' AS HUGEINT)),
         |    (5, CAST('1099511627776' AS HUGEINT)),
         |    (6, CAST('281474976710656' AS HUGEINT)),
         |    (7, CAST('72057594037927936' AS HUGEINT))
         |), bn AS (
         |  SELECT new_id, sig, b.band, (usig // b.d) % 256 AS key
         |  FROM n CROSS JOIN bands b
         |), bo AS (
         |  SELECT old_id, sig, b.band, (usig // b.d) % 256 AS key
         |  FROM ob CROSS JOIN bands b
         |)
         |SELECT DISTINCT bn.new_id, bo.old_id,
         |  CAST(bit_count(xor(bn.sig, bo.sig)) AS INT) AS hamming
         |FROM bn JOIN bo ON bn.band = bo.band AND bn.key = bo.key
         |WHERE bit_count(xor(bn.sig, bo.sig)) <= 7""".stripMargin,


    // cross-set banding replay over the re-staged new signatures × the
    // persisted index: 8×8-bit keys, index side capped per (band, key)
    // in the engine's md5 order, exact hamming ≤7 verify
    "q471_video_ingest_stream" ->
      s"""WITH n AS (
         |  SELECT asset_id AS new_id, sig,
         |    CAST(sig AS HUGEINT)
         |      + CASE WHEN sig < 0 THEN CAST('18446744073709551616' AS HUGEINT)
         |             ELSE CAST(0 AS HUGEINT) END AS usig
         |  FROM read_parquet('${predsPath("q471_new_sigs")}/*.parquet')
         |), o AS (
         |  SELECT asset_id AS old_id, sig,
         |    CAST(sig AS HUGEINT)
         |      + CASE WHEN sig < 0 THEN CAST('18446744073709551616' AS HUGEINT)
         |             ELSE CAST(0 AS HUGEINT) END AS usig
         |  FROM read_parquet('${predsPath("q471_index_sigs")}/*.parquet')
         |), bands(band, d) AS (VALUES
         |    (0, CAST('1' AS HUGEINT)),
         |    (1, CAST('256' AS HUGEINT)),
         |    (2, CAST('65536' AS HUGEINT)),
         |    (3, CAST('16777216' AS HUGEINT)),
         |    (4, CAST('4294967296' AS HUGEINT)),
         |    (5, CAST('1099511627776' AS HUGEINT)),
         |    (6, CAST('281474976710656' AS HUGEINT)),
         |    (7, CAST('72057594037927936' AS HUGEINT))
         |), bn AS (
         |  SELECT new_id, sig, b.band, (usig // b.d) % 256 AS key
         |  FROM n CROSS JOIN bands b
         |), bo AS (
         |  SELECT old_id, sig, band, key FROM (
         |    SELECT old_id, sig, b.band, (usig // b.d) % 256 AS key,
         |      row_number() OVER (PARTITION BY b.band, (usig // b.d) % 256
         |        ORDER BY md5(CAST(old_id AS VARCHAR) || '|'
         |                     || CAST(sig AS VARCHAR))) AS rk
         |    FROM o CROSS JOIN bands b)
         |  WHERE rk <= 10000
         |)
         |SELECT DISTINCT bn.new_id, bo.old_id,
         |  CAST(bit_count(xor(bn.sig, bo.sig)) AS INT) AS hamming
         |FROM bn JOIN bo ON bn.band = bo.band AND bn.key = bo.key
         |WHERE bit_count(xor(bn.sig, bo.sig)) <= 7""".stripMargin,


    // the q443 certificate replayed over the STORED post-drain
    // survivors: digests from orders (before + deleted slice), digests
    // from the re-staged stored table (after + residual), decimal
    // reconciliation; n_batches is the drain's 4 single-file batches
    "q467_erasure_stream" ->
      s"""WITH dig AS (
         |  SELECT o_custkey,
         |    CAST(CAST('0x' || substr(md5(
         |      coalesce(md5(CAST(o_orderkey AS VARCHAR)), 'N') || '|' ||
         |      coalesce(md5(CAST(o_custkey AS VARCHAR)), 'N') || '|' ||
         |      coalesce(md5(o_orderstatus), 'N') || '|' ||
         |      coalesce(md5(o_orderpriority), 'N')), 1, 14)
         |      AS BIGINT) AS DECIMAL(20,0)) AS h
         |  FROM orders
         |), adig AS (
         |  SELECT o_custkey,
         |    CAST(CAST('0x' || substr(md5(
         |      coalesce(md5(CAST(o_orderkey AS VARCHAR)), 'N') || '|' ||
         |      coalesce(md5(CAST(o_custkey AS VARCHAR)), 'N') || '|' ||
         |      coalesce(md5(o_orderstatus), 'N') || '|' ||
         |      coalesce(md5(o_orderpriority), 'N')), 1, 14)
         |      AS BIGINT) AS DECIMAL(20,0)) AS h
         |  FROM read_parquet('${predsPath("q467_after")}/*.parquet')
         |), cb AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_before,
         |    CAST(CAST(sum(h) AS DECIMAL(30,0)) AS VARCHAR) AS ck_before
         |  FROM dig
         |), cd AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_deleted,
         |    CAST(CAST(sum(h) AS DECIMAL(30,0)) AS VARCHAR) AS ck_deleted
         |  FROM dig WHERE o_custkey % 97 = 0
         |), ca AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_after,
         |    CAST(CAST(sum(h) AS DECIMAL(30,0)) AS VARCHAR) AS ck_after
         |  FROM adig
         |), res AS (
         |  SELECT CAST(count(*) AS BIGINT) AS residual_rows
         |  FROM adig WHERE o_custkey % 97 = 0
         |), nb AS (
         |  SELECT CAST(count(DISTINCT batch_id) AS BIGINT) AS n_batches
         |  FROM read_parquet('${predsPath("q467_partials")}/*.parquet')
         |)
         |SELECT cb.n_before, cb.ck_before, cd.n_deleted, cd.ck_deleted,
         |  nb.n_batches,
         |  ca.n_after, ca.ck_after, res.residual_rows,
         |  (cb.n_before = ca.n_after + cd.n_deleted) AS counts_reconcile,
         |  (CAST(cb.ck_before AS DECIMAL(30,0)) =
         |     CAST(ca.ck_after AS DECIMAL(30,0))
         |       + CAST(cd.ck_deleted AS DECIMAL(30,0)))
         |    AS checksums_reconcile
         |FROM cb, cd, ca, res, nb""".stripMargin,


    // identical gaps-and-islands semantics as q22 — here the Spark side
    // EXECUTED session_window as an actual AvailableNow stream, so the
    // hash match pins streaming execution, not just the operator
    "q93_sessionize_stream" ->
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
        |FROM g GROUP BY user_id, sid""".stripMargin,


    // identical semantics as q21 — here the Spark side EXECUTED the
    // windowed aggregation as an AvailableNow stream
    "q98_tumbling_stream" ->
      s"""SELECT date_trunc('hour', ts) AS hour, event_type,
         |  COUNT(*) AS n, ${dSum("value", 2, "sum_value")}
         |FROM events GROUP BY 1, 2""".stripMargin,


    // the final keyed state per user after a full drain == the plain
    // per-user count; integer-exact across engines
    "q99_keyed_state_stream" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
        |FROM events GROUP BY 1""".stripMargin,


    // independent formulation of window(ts, 1h, 30m): each event belongs
    // to exactly the two 30-min-aligned hour windows covering it
    "q105_sliding_stream" ->
      """WITH s AS (
        |  SELECT event_type,
        |         unnest([time_bucket(INTERVAL 30 MINUTE, ts),
        |                 time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE])
        |           AS window_start
        |  FROM events
        |)
        |SELECT window_start, event_type, CAST(count(*) AS BIGINT) AS n
        |FROM s GROUP BY 1, 2""".stripMargin,


    // the drained first-occurrence key set == the distinct key set
    "q106_dedup_stream" ->
      """SELECT user_id, event_type FROM events GROUP BY 1, 2""".stripMargin,


    // the stream-static broadcast enrichment == the plain batch left join
    "q107_enrich_stream" ->
      """SELECT e.event_id, e.user_id, e.event_type,
        |       c.c_mktsegment, c.c_nationkey
        |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey""".stripMargin,


    // the drained streaming CDC fold == the one-shot batch merge (q108's
    // oracle verbatim — same change set, same last-writer-wins rule)
    "q122_cdc_stream" ->
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
        |SELECT o_orderkey, o_orderstatus, o_totalprice FROM win""".stripMargin,

    // q94's exact-rerank replay, over the shortlist the STREAM produced:
    // identical stored unit-vector bits, identical integer-quantized dot,
    // identical (dot_q DESC, n_id) top-5 — a green row certifies the
    // micro-batched serve path end-to-end
    "q127_ann_stream" ->
      s"""WITH sl AS (
         |  SELECT q_id, n_id FROM read_parquet('${predsPath("q127_shortlist")}/*.parquet')
         |), u AS (
         |  SELECT vec_id, unit FROM read_parquet('${predsPath("q127_units")}/*.parquet')
         |), dots AS (
         |  SELECT s.q_id, s.n_id,
         |    CAST(list_sum(list_transform(generate_series(1, len(a.unit)), i ->
         |      CAST(floor(CAST(a.unit[i] AS DOUBLE) * CAST(b.unit[i] AS DOUBLE) * 1000000000000) AS BIGINT)))
         |      AS BIGINT) AS dot_q
         |  FROM sl s
         |  JOIN u a ON s.q_id = a.vec_id
         |  JOIN u b ON s.n_id = b.vec_id
         |)
         |SELECT * FROM (
         |  SELECT q_id, n_id, dot_q,
         |         CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY dot_q DESC, n_id) AS BIGINT) AS rank
         |  FROM dots) WHERE rank <= 5""".stripMargin,

    // maintenance is layout-only: the CDC-folded-then-compacted table
    // still equals the one-shot merge (q122's oracle verbatim)
    "q135_cdc_maintain" ->
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
        |SELECT o_orderkey, o_orderstatus, o_totalprice FROM win""".stripMargin,

    // the micro-batch-maintained aggregate table == the one-shot GROUP BY
    // (decimal partials are associative; a double running sum would be
    // batch-boundary-dependent and fail this hash)
    "q128_agg_table_stream" ->
      s"""SELECT user_id, COUNT(*) AS n_events, ${dSum("value", 2, "sum_value")}
         |FROM events GROUP BY 1""".stripMargin,


    // the stream-stream join drained under AvailableNow must equal the
    // plain batch interval join — losing or duplicating a buffered match
    // across micro-batches breaks the hash
    "q102_join_stream" ->
      """WITH c AS (
        |  SELECT event_id AS click_id, user_id, ts AS click_ts
        |  FROM events WHERE event_type = 'click'
        |), p AS (
        |  SELECT event_id AS purchase_id, user_id, ts AS purchase_ts,
        |         value AS purchase_value
        |  FROM events WHERE event_type = 'purchase'
        |)
        |SELECT c.click_id, c.user_id, c.click_ts,
        |       p.purchase_id, p.purchase_ts, p.purchase_value
        |FROM c JOIN p ON c.user_id = p.user_id
        |  AND p.purchase_ts <= c.click_ts
        |  AND p.purchase_ts >= c.click_ts - INTERVAL 1 HOUR""".stripMargin,


    // q139's batch-funnel SQL verbatim — the streamed drain must equal it
    // whatever the micro-batch split
    "q147_funnel_stream" ->
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
        |FROM s3""".stripMargin,


    // the one-shot equi-width binning + histogram-quantile rule — the
    // streamed per-batch partials must cumulate to exactly this
    "q193_histogram_stream" ->
      """WITH h AS (
        |  SELECT event_type, CAST(floor(value / 10.0) AS BIGINT) AS bucket,
        |         count(*) AS n
        |  FROM events GROUP BY 1, 2
        |), c AS (
        |  SELECT event_type, bucket,
        |         sum(n) OVER (PARTITION BY event_type ORDER BY bucket
        |                      ROWS UNBOUNDED PRECEDING) AS cum,
        |         sum(n) OVER (PARTITION BY event_type) AS total
        |  FROM h
        |), p(p_ppm) AS (VALUES (500000), (900000), (990000))
        |SELECT c.event_type, CAST(p.p_ppm AS BIGINT) AS p_ppm,
        |       min(c.bucket) AS bucket,
        |       CAST(min(c.bucket) AS DOUBLE) * 10.0 AS lo_edge
        |FROM c, p
        |WHERE c.cum * 1000000 >= c.total * p.p_ppm
        |GROUP BY 1, 2""".stripMargin,


    // q172's batch bar SQL — the streamed windowed min_by/max_by state
    // must finalize to exactly these rows
    "q183_ohlc_stream" ->
      s"""WITH e AS (
         |  SELECT user_id, date_trunc('hour', ts) AS hour, value,
         |    row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
         |                       ORDER BY ts ASC, event_id ASC) AS rn_a,
         |    row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
         |                       ORDER BY ts DESC, event_id DESC) AS rn_d
         |  FROM events
         |)
         |SELECT hour, user_id,
         |       max(CASE WHEN rn_a = 1 THEN value END) AS open,
         |       max(CASE WHEN rn_d = 1 THEN value END) AS close,
         |       max(value) AS high, min(value) AS low,
         |       CAST(count(*) AS BIGINT) AS n,
         |       ${dSum("value", 6, "sum_v")}
         |FROM e GROUP BY 1, 2""".stripMargin,


    // the one-shot exact heavy-hitter SQL (q74's shape) — the streamed
    // per-batch Misra-Gries candidates + exact recount must equal this
    "q233_topk_stream" ->
      """WITH tok AS (
        |  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
        |  FROM documents
        |), tot AS (SELECT count(*) AS n FROM tok)
        |SELECT token, CAST(count(*) AS BIGINT) AS cnt
        |FROM tok, tot
        |GROUP BY token, n
        |HAVING count(*) * 100 > n""".stripMargin,


    // the batch SRM SQL (q208's shape) — the streamed per-batch count
    // partials must merge to exactly this
    "q217_srm_stream" ->
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
        |FROM e""".stripMargin,


    // the one-shot rule SQL — the streamed per-batch partials must merge
    // to exactly this
    "q175_dq_stream" ->
      """WITH base AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |    SUM(CASE WHEN COALESCE(user_id IS NULL, TRUE) THEN 1 ELSE 0 END) AS v0,
        |    SUM(CASE WHEN COALESCE(value IS NULL, TRUE) THEN 1 ELSE 0 END) AS v1,
        |    SUM(CASE WHEN COALESCE(event_type NOT IN ('view','click','purchase'), TRUE)
        |             THEN 1 ELSE 0 END) AS v2
        |  FROM events
        |)
        |SELECT 'user_id_not_null' AS rule, n_rows,
        |       CAST(v0 AS BIGINT) AS n_violations, v0 = 0 AS pass FROM base
        |UNION ALL SELECT 'value_not_null', n_rows,
        |       CAST(v1 AS BIGINT), v1 = 0 FROM base
        |UNION ALL SELECT 'event_type_domain', n_rows,
        |       CAST(v2 AS BIGINT), v2 = 0 FROM base""".stripMargin,

    // identical to the batch q276 oracle — the streamed per-batch
    // k-min partials merge to EXACTLY the one-shot sketch, which is the
    // mergeability law the hash match pins
    "q282_kmv_stream" ->
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
        |FROM sk s JOIN exact e ON s.event_type = e.event_type""".stripMargin,


    // q243's batch Pareto SQL verbatim — the Spark side served it from
    // the stream-MAINTAINED incremental agg table after a real
    // multi-batch drain
    "q297_pareto_stream" ->
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
        |FROM rev, g""".stripMargin,


    // q234's batch interval-union SQL verbatim — the Spark side EXECUTED
    // it as a real multi-batch AvailableNow drain over per-batch island
    // partials, so the hash match pins the mergeability law
    "q294_covered_time_stream" ->
      """WITH iv AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS st,
        |         epoch_us(ts) + 600 * 1000000 AS en
        |  FROM events
        |), m AS (
        |  SELECT user_id, event_id, st, en,
        |    max(en) OVER (PARTITION BY user_id ORDER BY st, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
        |  FROM iv
        |), mk AS (
        |  SELECT *, CASE WHEN prev_max IS NULL OR st > prev_max
        |                 THEN 1 ELSE 0 END AS island_start
        |  FROM m
        |), isl AS (
        |  SELECT user_id, st, en,
        |    sum(island_start) OVER (PARTITION BY user_id ORDER BY st, event_id
        |      ROWS UNBOUNDED PRECEDING) AS island
        |  FROM mk
        |), spans AS (
        |  SELECT user_id, island, min(st) AS i_st, max(en) AS i_en
        |  FROM isl GROUP BY 1, 2
        |)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_islands,
        |       CAST(sum(i_en - i_st) // 1000000 AS BIGINT) AS covered_s
        |FROM spans GROUP BY 1""".stripMargin,

    // q140's SQL verbatim — the streamed marks + readout must reproduce
    // the one-shot cohort triangle exactly
    "q306_retention_stream" ->
      """WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |f AS (SELECT user_id, min(day) AS cohort_day FROM d GROUP BY 1)
        |SELECT f.cohort_day,
        |       CAST(d.day - f.cohort_day AS BIGINT) AS day_offset,
        |       CAST(count(DISTINCT d.user_id) AS BIGINT) AS n_users
        |FROM d JOIN f USING (user_id)
        |GROUP BY 1, 2""".stripMargin,

    // one-shot MI over the same engine-free dow derivation — the
    // streamed cell maintenance must reproduce it exactly
    "q320_mi_stream" ->
      """WITH cells AS (
        |  SELECT event_type AS x,
        |    CAST((epoch_us(ts) // 86400000000 + 4) % 7 AS BIGINT) AS y,
        |    CAST(count(*) AS BIGINT) AS n_xy
        |  FROM events GROUP BY 1, 2),
        |m AS (
        |  SELECT x, y, n_xy,
        |    sum(n_xy) OVER (PARTITION BY x) AS n_x,
        |    sum(n_xy) OVER (PARTITION BY y) AS n_y,
        |    sum(n_xy) OVER () AS n_tot
        |  FROM cells)
        |SELECT x, y, n_xy,
        |  CAST(floor((ln(CAST(n_xy AS DOUBLE)) + ln(CAST(n_tot AS DOUBLE))
        |    - ln(CAST(n_x AS DOUBLE)) - ln(CAST(n_y AS DOUBLE)))
        |    * CAST(n_xy AS DOUBLE) * 1000000.0) AS BIGINT) AS term_micro
        |FROM m""".stripMargin,

    // one-shot batch replay of the streamed-maintained day sums + the
    // same 8-lag exact-integer EWMA and drift flag
    "q338_ewma_stream" ->
      """WITH daily AS (
        |  SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS ed,
        |    CAST(sum(CAST(CAST(value AS DECIMAL(30,2)) * 100 AS BIGINT))
        |      AS BIGINT) AS c
        |  FROM events GROUP BY 1),
        |w AS (
        |  SELECT ed, c,
        |    row_number() OVER (ORDER BY ed) AS rn,
        |    lag(c, 0) OVER (ORDER BY ed) * 50000000
        |    + lag(c, 1) OVER (ORDER BY ed) * 25000000
        |    + lag(c, 2) OVER (ORDER BY ed) * 12500000
        |    + lag(c, 3) OVER (ORDER BY ed) * 6250000
        |    + lag(c, 4) OVER (ORDER BY ed) * 3125000
        |    + lag(c, 5) OVER (ORDER BY ed) * 1562500
        |    + lag(c, 6) OVER (ORDER BY ed) * 781250
        |    + lag(c, 7) OVER (ORDER BY ed) * 781250 AS ewma_e8
        |  FROM daily)
        |SELECT ed, c, CAST(ewma_e8 AS BIGINT) AS ewma_e8,
        |  CAST(c * 100000000 - ewma_e8 AS BIGINT) AS dev_e8,
        |  CAST(CASE WHEN abs(c * 100000000 - ewma_e8) * 2 > ewma_e8
        |    THEN 1 ELSE 0 END AS BIGINT) AS is_drift
        |FROM w WHERE rn >= 8""".stripMargin,

    // one-shot batch replay of the streamed-maintained weekly maxima +
    // the same running-record flag
    "q353_maxima_stream" ->
      """WITH weeks AS (
        |  SELECT CAST(epoch_us(ts) // 86400000000 // 7 AS BIGINT) AS wk,
        |    CAST(max(CAST(CAST(value AS DECIMAL(30,2)) * 100 AS BIGINT))
        |      AS BIGINT) AS mx
        |  FROM events GROUP BY 1),
        |w AS (
        |  SELECT wk, mx,
        |    max(mx) OVER (ORDER BY wk ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND 1 PRECEDING) AS prev_mx
        |  FROM weeks)
        |SELECT wk, mx, COALESCE(prev_mx, 0) AS prev_mx,
        |  CAST(CASE WHEN prev_mx IS NULL OR mx > prev_mx THEN 1 ELSE 0 END
        |    AS BIGINT) AS is_record
        |FROM w""".stripMargin,

    // the one-shot batch skyline (q365's SQL) — the streamed partials
    // must merge to exactly this
    "q373_skyline_stream" ->
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
        .stripMargin,

    // q457's one-shot interim algebra — the streamed day fold must
    // land on it exactly
    "q463_pocock_stream" ->
      """WITH daily AS (
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
        |), f AS (
        |  SELECT *, z2_micro > 5822569 AS crossed FROM z
        |)
        |SELECT interim, n_cum, k_cum, z2_micro, crossed,
        |  (SELECT CAST(min(CASE WHEN crossed THEN interim END) AS BIGINT)
        |   FROM f) AS first_cross
        |FROM f""".stripMargin,

    // the one-shot card restricted to the mergeable columns
    "q458_card_stream" ->
      """WITH base AS (
        |  SELECT source, lang,
        |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+'))
        |      AS BIGINT) AS n_tok,
        |    CAST(len(list_distinct(
        |        regexp_extract_all(lower(text), '[a-z0-9]+'))) * 1000000
        |      // greatest(len(regexp_extract_all(lower(text), '[a-z0-9]+')),
        |                  1) AS BIGINT) AS quality_ppm
        |  FROM documents
        |), sl AS (
        |  SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        |    CAST(sum(quality_ppm) AS BIGINT) AS qsum
        |  FROM base GROUP BY 1, 2
        |), vol AS (
        |  SELECT source, CAST(sum(n_docs) AS BIGINT) AS n_docs,
        |    CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |    CAST(count(*) AS BIGINT) AS n_langs,
        |    CAST(sum(qsum) // sum(n_docs) AS BIGINT) AS mean_quality_ppm
        |  FROM sl GROUP BY 1
        |), top AS (
        |  SELECT source, lang AS top_lang,
        |    CAST(n_docs AS BIGINT) AS top_lang_docs
        |  FROM (SELECT *, row_number() OVER (PARTITION BY source
        |          ORDER BY n_docs DESC, lang) AS rk FROM sl)
        |  WHERE rk = 1
        |)
        |SELECT vol.source, vol.n_docs, vol.n_tokens, vol.n_langs,
        |  top.top_lang,
        |  CAST(top.top_lang_docs * 1000000 // vol.n_docs AS BIGINT)
        |    AS top_lang_ppm,
        |  vol.mean_quality_ppm
        |FROM vol JOIN top ON vol.source = top.source""".stripMargin,

    // q449's one-shot detector — the streamed day-partial fold must
    // land on it exactly
    "q454_ph_stream" ->
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
        |FROM mseq""".stripMargin,

    // q424's one-shot BH algebra — the streamed fold must land on it
    "q436_bh_fdr_stream" ->
      """WITH h AS (
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
        |), r AS (
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
        |FROM f CROSS JOIN k""".stripMargin,

    // the one-shot assignment against the SAME stored centroid artifact
    // the drain served — what's hash-checked is the model, not the fit
    "q427_kmeans_assign_stream" ->
      s"""WITH x AS (
         |  SELECT vec_id, CAST(i - 1 AS BIGINT) AS dim,
         |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)
         |      AS q
         |  FROM embeddings, unnest(generate_series(1, len(embedding)))
         |    AS u(i)
         |), cent AS (
         |  SELECT * FROM read_parquet('${predsPath("q427_cent")}/*.parquet')
         |), d AS (
         |  SELECT x.vec_id, c.cid,
         |    CAST(sum((x.q - c.c_q) * (x.q - c.c_q)) AS BIGINT) AS dist2
         |  FROM x JOIN cent c ON x.dim = c.dim
         |  GROUP BY 1, 2
         |), a AS (
         |  SELECT vec_id, cid, dist2 FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY dist2, cid) AS rk FROM d)
         |  WHERE rk = 1
         |)
         |SELECT cid, CAST(count(*) AS BIGINT) AS n_vecs,
         |  CAST(sum(dist2) AS BIGINT) AS sum_dist2_q
         |FROM a GROUP BY 1""".stripMargin,

    // the one-shot statement of the streamed fold: per-fingerprint
    // policy argmin + copy count over the whole corpus
    "q419_survivor_stream" ->
      """WITH m AS (
        |  SELECT doc_id,
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
        |), r AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY fp
        |      ORDER BY src_tier ASC, quality_ppm DESC, n_tok DESC,
        |               doc_id ASC) AS rk,
        |    CAST(count(*) OVER (PARTITION BY fp) AS BIGINT) AS n_copies
        |  FROM m
        |)
        |SELECT fp, doc_id AS survivor, src_tier, quality_ppm, n_tok,
        |       n_copies
        |FROM r WHERE rk = 1""".stripMargin,

    // the one-shot batch statement of the ingestion-time computation:
    // old-side anchors capped per gram in md5 order (the INDEX build),
    // new-side anchors uncapped, guarded 1-based ±window extension —
    // exactly what the drain computes per micro-batch, since a new doc
    // is atomic within one batch and the old side is static
    "q413_substring_marks_stream" ->
      """WITH t AS (
        |  SELECT doc_id AS id,
        |         regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
        |  FROM documents
        |), tt AS (
        |  SELECT id, ts FROM t WHERE len(ts) >= 8
        |), g AS (
        |  SELECT id, i AS pos, array_to_string(ts[i:i+7], ' ') AS gram
        |  FROM tt, unnest(generate_series(1, len(ts) - 7)) AS u(i)
        |), a AS (
        |  SELECT id, pos, gram FROM g
        |  WHERE CAST('0x' || substr(md5(gram), 1, 15) AS BIGINT) % 8 = 0
        |), c AS (
        |  SELECT id, pos, gram,
        |         row_number() OVER (PARTITION BY gram
        |           ORDER BY md5(CAST(id AS VARCHAR) || '#'
        |                        || CAST(pos AS VARCHAR))) AS rk
        |  FROM a WHERE id % 4 <> 0
        |), cap AS (
        |  SELECT id, pos, gram FROM c WHERE rk <= 64
        |), cand AS (
        |  SELECT x.id AS a_doc, x.pos AS a_pos, y.id AS b_doc, y.pos AS b_pos
        |  FROM (SELECT id, pos, gram FROM a WHERE id % 4 = 0) x
        |  JOIN cap y USING (gram)
        |), w AS (
        |  SELECT cand.*, ta.ts AS a_ts, tb.ts AS b_ts
        |  FROM cand JOIN tt ta ON cand.a_doc = ta.id
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
        |)
        |SELECT a_doc AS new_doc, b_doc AS old_doc,
        |       CAST(count(*) AS BIGINT) AS n_anchor_pairs,
        |       CAST(max(rmiss - lmiss - 1) AS BIGINT) AS max_len
        |FROM x GROUP BY 1, 2 HAVING max(rmiss - lmiss - 1) >= 16""".stripMargin,
  )
}
