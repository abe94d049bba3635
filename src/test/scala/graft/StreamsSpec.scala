package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Streams

case class Ev(event_id: Long, ts: Timestamp, user_id: Long, event_type: String, value: Double)

class StreamsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def t(minute: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 ${10 + minute / 60}%02d:${minute % 60}%02d:00")

  /** Fresh checkpoint dir per run — streaming checkpoints are not
    * recoverable across MemoryStream restarts. */
  private def ckpt(name: String): String = {
    val dir = java.nio.file.Paths.get(s"target/tmp/streams/${name}_${System.nanoTime()}")
    dir.toString
  }

  private val sample = Seq(
    Ev(1, t(0), 100, "click", 10.0),
    Ev(2, t(5), 100, "click", 20.0),
    Ev(3, t(65), 100, "view", 30.0),   // next hour
    Ev(4, t(10), 200, "click", 40.0),
    Ev(5, t(70), 200, "view", 50.0)
  )

  test("tumblingAgg streaming (complete mode) equals the batch computation") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(sample: _*)
    val q = Streams.tumblingAgg(mem.toDF()).writeStream
      .format("memory").queryName("tumbling_out").outputMode("complete")
      .option("checkpointLocation", ckpt("tumbling"))
      .start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("tumbling_out")
      .select($"window_start".cast("string"), $"event_type", $"n", $"sum_value")
      .as[(String, String, Long, Double)].collect().toSet
    val batch = Streams.tumblingAgg(sample.toDF())
      .select($"window_start".cast("string"), $"event_type", $"n", $"sum_value")
      .as[(String, String, Long, Double)].collect().toSet
    assert(streamed === batch)
    assert(batch.contains(("2024-01-01 10:00:00", "click", 3L, 70.0)))
    assert(batch.contains(("2024-01-01 11:00:00", "view", 2L, 80.0)))
  }

  test("sessionize: 30-min gap splits user activity into sessions") {
    val sessions = Streams.sessionize(sample.toDF())
      .select($"user_id", $"n_events").as[(Long, Long)].collect().toSet
    // user 100: events at 10:00,10:05 (one session), 11:05 (second)
    // user 200: 10:10, then 11:10 (two sessions)
    assert(sessions === Set((100L, 2L), (100L, 1L), (200L, 1L)))
  }

  test("dedupWithinWatermark drops re-delivered event ids (streaming)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(sample ++ Seq(sample(0), sample(1)): _*) // redeliver ids 1,2
    val q = Streams.dedupWithinWatermark(mem.toDF()).writeStream
      .format("memory").queryName("dedup_out").outputMode("append")
      .option("checkpointLocation", ckpt("dedup"))
      .start()
    try q.processAllAvailable() finally q.stop()
    val ids = spark.table("dedup_out").select($"event_id").as[Long].collect().toSeq
    assert(ids.sorted === Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("runningUserTotals accumulates keyed state across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(sample.take(2): _*) // user 100: 2 clicks (10+20)
    val q = graft.streaming.Streams.runningUserTotals(mem.toDF()).writeStream
      .format("memory").queryName("totals_out").outputMode("update")
      .option("checkpointLocation", ckpt("totals"))
      .start()
    try {
      q.processAllAvailable()
      mem.addData(sample.drop(2): _*) // +1 for user 100, +2 for user 200
      q.processAllAvailable()
    } finally q.stop()
    // last update per user carries the cumulative state
    val last = spark.table("totals_out")
      .groupBy($"user_id")
      .agg(max(struct($"n_events", $"total_value")).as("s"))
      .select($"user_id", $"s.n_events", $"s.total_value")
      .as[(Long, Long, Double)].collect().toSet
    assert(last === Set((100L, 3L, 60.0), (200L, 2L, 90.0)))
    // batch-mode fold gives the same totals in one pass
    val batch = graft.streaming.Streams.runningUserTotals(sample.toDF())
      .as[graft.streaming.UserTotal].collect()
      .map(u => (u.user_id, u.n_events, u.total_value)).toSet
    assert(batch === last)
  }

  test("LAW runningUserTotalsEvicting: drained == batch with eviction " +
      "boundaries CROSSED (idle users expire mid-drain; a re-appearing " +
      "user re-incarnates and still counts exactly)") {
    // user 1: two early events, 10h idle, one late event — evicted then
    // REBORN; user 2: early events only — evicted, never returns;
    // user 3: steady 30-min cadence — never idle past the 2h gap
    val evs = Seq(
      Ev(1, t(0), 1, "c", 1.0), Ev(2, t(5), 1, "c", 1.0),
      Ev(3, t(600), 1, "c", 1.0),
      Ev(4, t(2), 2, "c", 1.0), Ev(5, t(8), 2, "c", 1.0)) ++
      (0 until 21).map(i => Ev(100L + i, t(i * 30), 3, "c", 1.0))
    val root = s"target/tmp/streams/evict_${System.nanoTime()}"
    val df = evs.toDF()
    graft.streaming.Streams.stageTimeOrdered(df, "ts", s"$root/events", 6)
    val got = graft.streaming.Streams.runningUserTotalsEvicting(
        spark, s"$root/events", df.schema, s"$root/partials", s"$root/ckpt",
        watermarkDelay = "10 minutes", idleGapMs = 2L * 3600 * 1000,
        maxFilesPerTrigger = 1)
      .as[(Long, Long)].collect().toMap
    val want = evs.groupBy(_.user_id)
      .map { case (u, es) => u -> es.size.toLong }
    assert(got === want, s"drained != batch: $got vs $want")
    // the boundaries must actually have been crossed, or the law above
    // tested only the no-eviction path
    val partials = spark.read.parquet(s"$root/partials")
    val finals = partials.filter($"is_final")
      .select($"user_id", $"batch_id").as[(Long, Long)].collect()
    assert(finals.nonEmpty, "no eviction fired")
    val lastFinal = finals.groupBy(_._1).map { case (u, r) =>
      u -> r.map(_._2).max }
    val post = partials.filter(!$"is_final")
      .select($"user_id", $"batch_id").as[(Long, Long)].collect()
    assert(post.exists { case (u, b) => lastFinal.get(u).exists(b > _) },
      "no user re-incarnated after its eviction — the rebirth path " +
        "went untested")
  }

  test("file-source streaming: readStream over the events fixture matches batch") {
    // stream the real fixture parquet through the same transform; event-time
    // watermarks require TIMESTAMP (not NTZ), so cast — value-preserving
    // under the engine's UTC session
    val batchEv = Tables.events(spark, TestSpark.sf)
      .withColumn("ts", $"ts".cast("timestamp"))
    val dir = "target/tmp/streams/events_src"
    batchEv.write.mode("overwrite").parquet(dir)
    val streamEv = spark.readStream
      .schema(batchEv.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
    val q = Streams.tumblingAgg(streamEv).writeStream
      .format("memory").queryName("file_stream_out").outputMode("complete")
      .option("checkpointLocation", ckpt("filestream"))
      .start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("file_stream_out")
      .select($"window_start".cast("string"), $"event_type", $"n")
      .as[(String, String, Long)].collect().toSet
    val batch = Streams.tumblingAgg(batchEv)
      .select($"window_start".cast("string"), $"event_type", $"n")
      .as[(String, String, Long)].collect().toSet
    assert(streamed === batch)
  }

  test("enrichWithDim: stream-static broadcast join equals the batch join") {
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((100L, "gold"), (200L, "silver")).toDF("user_id", "segment")
    val mem = MemoryStream[Ev]
    mem.addData(sample: _*)
    val q = Streams.enrichWithDim(mem.toDF(), dim, "user_id").writeStream
      .format("memory").queryName("enrich_out").outputMode("append")
      .option("checkpointLocation", ckpt("enrich"))
      .start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("enrich_out")
      .select($"event_id", $"segment").as[(Long, Option[String])].collect().toSet
    val batch = Streams.enrichWithDim(sample.toDF(), dim, "user_id")
      .select($"event_id", $"segment").as[(Long, Option[String])].collect().toSet
    assert(streamed === batch)
    assert(batch === Set(
      (1L, Some("gold")), (2L, Some("gold")), (3L, Some("gold")),
      (4L, Some("silver")), (5L, Some("silver"))))
    // left-outer: unmatched fact rows survive with NULL attributes
    val extra = Streams.enrichWithDim(
      (sample :+ Ev(6, t(20), 999, "click", 1.0)).toDF(), dim, "user_id")
    assert(extra.filter($"event_id" === 6 && $"segment".isNull).count() === 1)
  }

  test("clickPurchaseJoin: stream-stream watermarked join equals the batch join") {
    implicit val sqlCtx = spark.sqlContext
    val purchases = Seq(
      Ev(10, t(2), 100, "purchase", 5.0),   // within 1h of clicks 2 (10:05)
      Ev(11, t(58), 100, "purchase", 7.0),  // before no later click
      Ev(12, t(8), 200, "purchase", 9.0),   // within 1h of click 4 (10:10)
      Ev(13, t(90), 300, "purchase", 1.0))  // user with no clicks
    val clicks = sample.filter(_.event_type == "click")

    val memC = MemoryStream[Ev]
    val memP = MemoryStream[Ev]
    memC.addData(clicks: _*)
    memP.addData(purchases: _*)
    val q = Streams.clickPurchaseJoin(memC.toDF(), memP.toDF()).writeStream
      .format("memory").queryName("ssjoin_out").outputMode("append")
      .option("checkpointLocation", ckpt("ssjoin"))
      .start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("ssjoin_out")
      .select($"click_id", $"purchase_id", $"purchase_value")
      .as[(Long, Long, Double)].collect().toSet
    val batch = Streams.clickPurchaseJoin(clicks.toDF(), purchases.toDF())
      .select($"click_id", $"purchase_id", $"purchase_value")
      .as[(Long, Long, Double)].collect().toSet
    assert(streamed === batch)
    // click 1 (10:00) precedes purchase 10 (10:02) -> not attributed;
    // click 2 (10:05) sees purchase 10; click 4 (10:10) sees purchase 12
    assert(batch === Set((2L, 10L, 5.0), (4L, 12L, 9.0)))
  }

  test("clickPurchaseJoinOuter: unmatched clicks emit null-extended once the watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    val purchases = Seq(
      Ev(10, t(2), 100, "purchase", 5.0),  // within 1h of click 2 (10:05)
      Ev(12, t(8), 200, "purchase", 9.0))  // within 1h of click 4 (10:10)
    val clicks = sample.filter(_.event_type == "click") // 1,2,4; click 1 unmatched
    // sentinels far past everything: advance BOTH watermarks beyond every
    // real click's eviction point so outer rows flush; user 999 joins
    // nothing real
    val cSent = Ev(98, t(600), 999, "click", 0.0)
    val pSent = Ev(99, t(600), 999, "purchase", 0.0)

    val memC = MemoryStream[Ev]
    val memP = MemoryStream[Ev]
    val q = Streams.clickPurchaseJoinOuter(memC.toDF(), memP.toDF()).writeStream
      .format("memory").queryName("ssjoin_outer_out").outputMode("append")
      .option("checkpointLocation", ckpt("ssjoin_outer"))
      .start()
    try {
      memC.addData(clicks: _*); memP.addData(purchases: _*)
      q.processAllAvailable()
      memC.addData(cSent); memP.addData(pSent)
      q.processAllAvailable()
      // one more empty-ish advance so the watermark computed from batch 2
      // evicts and flushes the remaining outer state
      memC.addData(Ev(96, t(1200), 998, "click", 0.0))
      memP.addData(Ev(97, t(1200), 998, "purchase", 0.0))
      q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.table("ssjoin_outer_out")
      .filter($"user_id" < 900)
      .select($"click_id", $"purchase_id")
      .as[(Long, Option[Long])].collect().toSet
    val batch = Streams.clickPurchaseJoinOuter(
        clicks.toDF(), purchases.toDF())
      .select($"click_id", $"purchase_id")
      .as[(Long, Option[Long])].collect().toSet
    assert(batch === Set((1L, None), (2L, Some(10L)), (4L, Some(12L))),
      s"batch outer join wrong: $batch")
    assert(streamed === batch,
      s"streaming outer must equal batch once watermarks pass: $streamed vs $batch")
  }

  test("sessionize streaming: session_window merges across micro-batches and equals batch") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = Streams.sessionize(mem.toDF()).writeStream
      .format("memory").queryName("session_stream_out").outputMode("complete")
      .option("checkpointLocation", ckpt("session_stream"))
      .start()
    try {
      // batch 1: two events 10 min apart (one session so far)
      mem.addData(Ev(1, t(0), 100, "click", 1.0), Ev(2, t(10), 100, "click", 1.0))
      q.processAllAvailable()
      // batch 2: a third event 20 min later must MERGE into the same
      // session (cross-batch session-state merge), plus a distant event
      // that opens a second session
      mem.addData(Ev(3, t(30), 100, "click", 1.0), Ev(4, t(120), 100, "view", 1.0))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("session_stream_out")
      .select($"user_id", $"n_events").as[(Long, Long)].collect().toSet
    assert(streamed === Set((100L, 3L), (100L, 1L)),
      s"three clustered events must merge into ONE session across batches: $streamed")
    val batch = Streams.sessionize(Seq(
        Ev(1, t(0), 100, "click", 1.0), Ev(2, t(10), 100, "click", 1.0),
        Ev(3, t(30), 100, "click", 1.0), Ev(4, t(120), 100, "view", 1.0)).toDF())
      .select($"user_id", $"n_events").as[(Long, Long)].collect().toSet
    assert(streamed === batch)
  }

  test("Trigger.AvailableNow: backfill drains all input then stops on its own") {
    // the batch-backfill pattern: run the STREAMING pipeline over existing
    // data with bounded micro-batches, terminate when caught up — one code
    // path for backfill and live tail
    val batchEv = Tables.events(spark, TestSpark.sf)
      .withColumn("ts", $"ts".cast("timestamp"))
    val dir = "target/tmp/streams/events_backfill"
    batchEv.write.mode("overwrite").parquet(dir)
    val streamEv = spark.readStream.schema(batchEv.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val q = Streams.tumblingAgg(streamEv).writeStream
      .format("memory").queryName("backfill_out").outputMode("complete")
      .option("checkpointLocation", ckpt("backfill"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "AvailableNow must self-terminate")
    val streamed = spark.table("backfill_out")
      .select($"window_start".cast("string"), $"event_type", $"n")
      .as[(String, String, Long)].collect().toSet
    val batch = Streams.tumblingAgg(batchEv)
      .select($"window_start".cast("string"), $"event_type", $"n")
      .as[(String, String, Long)].collect().toSet
    assert(streamed === batch, "drained backfill must equal the batch computation")
  }

  test("parquet file sink: append across micro-batches is exactly-once (no dup, no loss)") {
    implicit val sqlCtx = spark.sqlContext
    val outDir = s"target/tmp/streams/file_sink_${System.nanoTime()}"
    val mem = MemoryStream[Ev]
    val q = mem.toDF().writeStream
      .format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt("file_sink"))
      .outputMode("append")
      .start()
    try {
      mem.addData(sample: _*)
      q.processAllAvailable()
      val afterB1 = spark.read.parquet(outDir).select($"event_id").as[Long].collect().sorted
      assert(afterB1.toSeq === sample.map(_.event_id).sorted)
      mem.addData(Ev(6, t(100), 300, "click", 60.0))
      q.processAllAvailable()
      val afterB2 = spark.read.parquet(outDir).select($"event_id").as[Long].collect().sorted
      assert(afterB2.toSeq === (sample.map(_.event_id) :+ 6L).sorted,
        "second batch must append exactly its own rows — no replay of batch 1")
    } finally q.stop()
  }

  test("cdcApply: micro-batched fold equals one-shot merge regardless of batch split") {
    val root = s"target/tmp/streams/cdc_${System.nanoTime()}"
    val base = Seq((1L, "a", 0), (2L, "b", 0), (3L, "c", 0)).toDF("k", "v", "ver")
    // conflicting versions of key 1 and 2 deliberately placed so a
    // 1-file-per-trigger split can deliver ver-2 BEFORE ver-1
    val changes = Seq((1L, "a2", 2), (2L, "b1", 1), (1L, "a1", 1),
      (2L, "b2", 2), (4L, "d", 1)).toDF("k", "v", "ver")
    base.write.parquet(s"$root/v0")
    changes.repartition(5).write.parquet(s"$root/changes")

    val fin = graft.streaming.Streams.cdcApply(spark, s"$root/changes",
      changes.schema, s"$root/v0", root, Seq("k"), "ver", "v",
      maxFilesPerTrigger = 1)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    val oneShot = graft.ops.Relational
      .upsertVersioned(base, changes, Seq("k"), "ver", "v")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(fin === oneShot)
    assert(fin === Set((1L, "a2", 2), (2L, "b2", 2), (3L, "c", 0), (4L, "d", 1)))
    // the snapshot chain must have one version per micro-batch
    val versions = new java.io.File(root).listFiles()
      .map(_.getName).filter(_.matches("v[0-9]+")).sorted
    assert(versions.length >= 3, s"expected a snapshot chain, got ${versions.toSeq}")
    // checkpoint hygiene (round-12 VERDICT wrong #2): the drain's
    // nano-stamped checkpoint is deleted once the run succeeds — a
    // maintenance cycle must not accumulate orphan ckpt dirs
    val orphans = new java.io.File(root).listFiles()
      .map(_.getName).filter(_.startsWith("ckpt_"))
    assert(orphans.isEmpty, s"orphan checkpoints left behind: ${orphans.toSeq}")
  }

  test("cdcApplyPartitioned: equals one-shot merge; untouched kb partitions are never rewritten") {
    import graft.sources.Sources
    val root = s"target/tmp/streams/cdcp_${System.nanoTime()}"
    val nBuckets = 8
    // base keys spread over many buckets; changes confined to FEW keys so
    // their bucket set is a strict subset of the table's
    val base = (1L to 200L).map(k => (k, s"v$k", 0)).toDF("k", "v", "ver")
    val changes = Seq((7L, "u2", 2), (7L, "u1", 1), (42L, "w1", 1),
      (999L, "new", 1)).toDF("k", "v", "ver")
    Sources.writeKeyBucketed(base, s"$root/table", Seq("k"), nBuckets)
    changes.repartition(4).write.parquet(s"$root/changes")

    def partFiles(): Map[String, Set[String]] =
      new java.io.File(s"$root/table").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("kb="))
        .map(d => d.getName ->
          d.listFiles().map(_.getName).filter(_.startsWith("part-")).toSet)
        .toMap
    val before = partFiles()
    assert(before.size == nBuckets, s"expected $nBuckets bucket dirs")

    val fin = graft.streaming.Streams.cdcApplyPartitioned(spark,
      s"$root/changes", changes.schema, s"$root/table", Seq("k"),
      "ver", "v", nBuckets = nBuckets, maxFilesPerTrigger = 1)
      .select($"k", $"v", $"ver")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    val oneShot = graft.ops.Relational
      .upsertVersioned(base, changes, Seq("k"), "ver", "v")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(fin === oneShot)
    assert(fin.contains((7L, "u2", 2)) && fin.contains((42L, "w1", 1)) &&
      fin.contains((999L, "new", 1)) && fin.contains((1L, "v1", 0)))

    // partition-pruning contract: only the buckets the change keys hash
    // into may have new files; every other directory is bit-identical
    val touched = changes.select(Sources.keyBucket(Seq("k"), nBuckets))
      .distinct().collect().map(r => s"kb=${r.getInt(0)}").toSet
    assert(touched.size < nBuckets,
      "fixture must leave untouched buckets for the test to bite")
    val after = partFiles()
    val rewritten = after.keySet.filter(d => after(d) != before.getOrElse(d, Set()))
    assert(rewritten.nonEmpty && rewritten.subsetOf(touched),
      s"rewrote $rewritten but changes only touch $touched")
    (after.keySet -- touched).foreach { d =>
      assert(after(d) === before(d), s"untouched partition $d was rewritten")
    }
    // checkpoint hygiene: the `<table>_ckpt_<nanos>` sibling dir is
    // removed after a successful drain
    val orphans = new java.io.File(root).listFiles()
      .map(_.getName).filter(_.contains("_ckpt_"))
    assert(orphans.isEmpty, s"orphan checkpoints left behind: ${orphans.toSeq}")
  }

  test("videoIngestStream: per-batch vhash marks against a static index " +
      "equal the one-shot cross join; every perturbed copy marks its original") {
    val root = s"target/tmp/streams/vingest_${System.nanoTime()}"
    val vids = graft.multimodal.Multimodal.syntheticAssets(spark, 120)
      .filter(col("modality") === "video") // 40 videos
    graft.multimodal.Multimodal.videoSignatures(vids)
      .write.parquet(s"$root/index")
    val copies = vids.select(
      (col("asset_id") + 1000000L).as("asset_id"), col("modality"),
      concat(substring(col("content"), 1, 60),
        lit(Array[Byte](0x7f.toByte)),
        expr("substring(content, 62, length(content) - 61)")).as("content"),
      col("meta"))
    copies.repartition(3).write.parquet(s"$root/new")
    val streamed = Streams.videoIngestStream(spark, s"$root/new",
      copies.schema, s"$root/index", s"$root/newsigs", s"$root/partials",
      ckpt("vingest"))
      .as[(Long, Long, Int)].collect().toSet
    val oneShot = graft.llm.Dedup.hamming64CrossDups(
        graft.multimodal.Multimodal.videoSignatures(copies)
          .withColumnRenamed("asset_id", "new_id"), "new_id",
        spark.read.parquet(s"$root/index")
          .withColumnRenamed("asset_id", "old_id"), "old_id",
        "sig", hamMax = 7, bands = 8)
      .as[(Long, Long, Int)].collect().toSet
    assert(streamed === oneShot)
    val ids = vids.select(col("asset_id")).as[Long].collect().toSet
    assert(ids.map(i => (i + 1000000L, i))
      .subsetOf(streamed.map(t => (t._1, t._2))),
      "every perturbed copy must mark its original")
  }

  test("imageIngestStream: per-batch pruned-index probes equal the " +
      "one-shot unpruned cross join over the same signatures") {
    val root = s"target/tmp/streams/iingest_${System.nanoTime()}"
    val imgs = graft.multimodal.Multimodal.syntheticAssets(spark, 120)
      .filter(col("modality") === "image") // 40 images
    val sigs = graft.multimodal.Multimodal.imageSignatures(imgs)
    graft.llm.Dedup.writeHammingIndex(sigs, "asset_id", "sig",
      s"$root/index", bands = 8, kbBuckets = 16)
    val copies = imgs.select(
      (col("asset_id") + 2000000L).as("asset_id"), col("modality"),
      concat(substring(col("content"), 1, 54),
        lit(Array[Byte](0x7f.toByte)),
        expr("substring(content, 56, length(content) - 55)")).as("content"),
      col("meta"))
    copies.repartition(3).write.parquet(s"$root/new")
    val streamed = Streams.imageIngestStream(spark, s"$root/new",
      copies.schema, s"$root/index", s"$root/newsigs", s"$root/partials",
      ckpt("iingest"), kbBuckets = 16)
      .as[(Long, Long, Int)].collect().toSet
    val oneShot = graft.llm.Dedup.hamming64CrossDups(
        graft.multimodal.Multimodal.imageSignatures(copies)
          .withColumnRenamed("asset_id", "new_id"), "new_id",
        sigs.withColumnRenamed("asset_id", "old_id"), "old_id",
        "sig", hamMax = 7, bands = 8)
      .as[(Long, Long, Int)].collect().toSet
    assert(streamed === oneShot)
    val ids = imgs.select(col("asset_id")).as[Long].collect().toSet
    assert(ids.map(i => (i + 2000000L, i))
      .subsetOf(streamed.map(t => (t._1, t._2))),
      "every perturbed copy must mark its original")
  }

  test("erasureStream: streamed delete-and-certify reconciles exactly, " +
      "equals the one-shot digest algebra, and replays are partial-safe") {
    import graft.sources.Sources
    val root = s"target/tmp/streams/erasure_${System.nanoTime()}"
    val cols = Seq("k", "v")
    val base = (1L to 200L).map(k => (k, s"v$k")).toDF("k", "v")
    Sources.writeKeyBucketed(base, s"$root/table", Seq("k"), 8)
    graft.ops.Relational.tableChecksum(base, cols)
      .coalesce(1).write.parquet(s"$root/before")
    val dels = base.filter($"k" % 7 === 0).select($"k")
    dels.repartition(3).write.parquet(s"$root/deletes")

    val cert = Streams.erasureStream(spark, s"$root/deletes", dels.schema,
      s"$root/table", Seq("k"), cols, nBuckets = 8, s"$root/before",
      s"$root/partials", ckpt("erasure")).head()
    assert(cert.getAs[Long]("n_before") === 200L)
    assert(cert.getAs[Long]("n_deleted") === 28L)
    assert(cert.getAs[Long]("n_after") === 172L)
    assert(cert.getAs[Long]("n_batches") === 3L)
    assert(cert.getAs[Long]("residual_rows") === 0L)
    assert(cert.getAs[Boolean]("counts_reconcile"), cert.toString)
    assert(cert.getAs[Boolean]("checksums_reconcile"), cert.toString)
    // streamed == one-shot: the folded per-batch digests equal the
    // one-shot checksum of the erased slice (additive digest law)
    val oneShot = graft.ops.Relational
      .tableChecksum(base.filter($"k" % 7 === 0), cols).head()
    assert(cert.getAs[String]("ck_deleted") === oneShot.getString(1))
    // and the stored survivors are exactly the non-erased rows
    val stored = spark.read.parquet(s"$root/table")
      .select($"k", $"v").as[(Long, String)].collect().toSet
    assert(stored === base.filter($"k" % 7 =!= 0)
      .as[(Long, String)].collect().toSet)

    // REPLAY safety: a second drain from a FRESH checkpoint re-delivers
    // every batch against the already-erased table; first-writer-wins
    // partials keep the pre-delete digests, deletes are key-level
    // no-ops, and the certificate is unchanged
    val cert2 = Streams.erasureStream(spark, s"$root/deletes", dels.schema,
      s"$root/table", Seq("k"), cols, nBuckets = 8, s"$root/before",
      s"$root/partials", ckpt("erasure2")).head()
    assert(cert2.getAs[Long]("n_deleted") === 28L)
    assert(cert2.getAs[String]("ck_deleted") ===
      cert.getAs[String]("ck_deleted"))
    assert(cert2.getAs[Boolean]("checksums_reconcile"), cert2.toString)
  }

  test("erasureStream crash-restart: a drain killed between batches resumes " +
      "from its checkpoint and the final certificate equals one-shot") {
    import graft.sources.Sources
    val root = s"target/tmp/streams/erasurecr_${System.nanoTime()}"
    val cols = Seq("k", "v")
    val base = (1L to 200L).map(k => (k, s"v$k")).toDF("k", "v")
    Sources.writeKeyBucketed(base, s"$root/table", Seq("k"), 8)
    graft.ops.Relational.tableChecksum(base, cols)
      .coalesce(1).write.parquet(s"$root/before")
    def nDeleteFiles: Int = new java.io.File(s"$root/deletes")
      .listFiles().count(_.getName.startsWith("part-"))
    val ck = ckpt("erasurecr")

    // phase 1 models the pre-kill prefix: only the first delete files
    // exist; the drain consumes them and the checkpoint commits their
    // batch ids
    base.filter($"k" % 7 === 0 && $"k" <= 100).select($"k")
      .repartition(2).write.parquet(s"$root/deletes")
    val mid = Streams.erasureStream(spark, s"$root/deletes",
      base.select($"k").schema, s"$root/table", Seq("k"), cols,
      nBuckets = 8, s"$root/before", s"$root/partials", ck).head()
    assert(mid.getAs[Boolean]("counts_reconcile"), mid.toString)
    assert(mid.getAs[Long]("n_batches") === nDeleteFiles.toLong)

    // "restart": the rest of the deletes arrive and the drain resumes
    // from the SAME checkpoint — only the new files become batches, the
    // already-committed prefix is never re-delivered
    base.filter($"k" % 7 === 0 && $"k" > 100).select($"k")
      .repartition(2).write.mode("append").parquet(s"$root/deletes")
    val cert = Streams.erasureStream(spark, s"$root/deletes",
      base.select($"k").schema, s"$root/table", Seq("k"), cols,
      nBuckets = 8, s"$root/before", s"$root/partials", ck).head()
    val allDeleted = base.filter($"k" % 7 === 0)
    assert(cert.getAs[Long]("n_deleted") === allDeleted.count())
    assert(cert.getAs[Long]("n_batches") === nDeleteFiles.toLong)
    assert(cert.getAs[Long]("residual_rows") === 0L)
    assert(cert.getAs[Boolean]("counts_reconcile"), cert.toString)
    assert(cert.getAs[Boolean]("checksums_reconcile"), cert.toString)
    val oneShot = graft.ops.Relational.tableChecksum(allDeleted, cols).head()
    assert(cert.getAs[String]("ck_deleted") === oneShot.getString(1),
      "folded per-batch digests across the kill/restart boundary must " +
        "equal the one-shot checksum of everything deleted")
  }

  test("erasureStream crash-mid-batch: an uncommitted partial (directory " +
      "without _SUCCESS) is recomputed on replay, never trusted") {
    import graft.sources.Sources
    val root = s"target/tmp/streams/erasuremb_${System.nanoTime()}"
    val cols = Seq("k", "v")
    val base = (1L to 100L).map(k => (k, s"v$k")).toDF("k", "v")
    Sources.writeKeyBucketed(base, s"$root/table", Seq("k"), 8)
    graft.ops.Relational.tableChecksum(base, cols)
      .coalesce(1).write.parquet(s"$root/before")
    base.filter($"k" % 5 === 0).select($"k")
      .repartition(1).write.parquet(s"$root/deletes")
    // fabricate the crash artifact (round-13 ADVICE, medium): batch 0's
    // partial directory exists but was never job-committed — a kill
    // between directory creation and commit leaves fragments and no
    // _SUCCESS. The replayed batch MUST recompute the pre-delete digest
    // here; a bare exists() gate would skip it, the rows would then be
    // deleted, and the certificate could never reconcile.
    val pdir = new java.io.File(s"$root/partials/batch_id=0")
    assert(pdir.mkdirs())
    java.nio.file.Files.writeString(
      new java.io.File(pdir, "_temporary").toPath, "crash-fragment")
    val cert = Streams.erasureStream(spark, s"$root/deletes",
      base.select($"k").schema, s"$root/table", Seq("k"), cols,
      nBuckets = 8, s"$root/before", s"$root/partials",
      ckpt("erasuremb")).head()
    assert(cert.getAs[Long]("n_deleted") === 20L,
      "the uncommitted partial must be recomputed, not read back as empty")
    assert(cert.getAs[Boolean]("counts_reconcile"), cert.toString)
    assert(cert.getAs[Boolean]("checksums_reconcile"), cert.toString)
    val oneShot = graft.ops.Relational
      .tableChecksum(base.filter($"k" % 5 === 0), cols).head()
    assert(cert.getAs[String]("ck_deleted") === oneShot.getString(1))
  }

  test("imageIngestStream crash-restart: a drain resumed from its " +
      "checkpoint probes only new batches; folded marks equal one-shot") {
    val root = s"target/tmp/streams/iingestcr_${System.nanoTime()}"
    val imgs = graft.multimodal.Multimodal.syntheticAssets(spark, 120)
      .filter(col("modality") === "image") // 40 images
    val sigs = graft.multimodal.Multimodal.imageSignatures(imgs)
    graft.llm.Dedup.writeHammingIndex(sigs, "asset_id", "sig",
      s"$root/index", bands = 8, kbBuckets = 16)
    val copies = imgs.select(
      (col("asset_id") + 2000000L).as("asset_id"), col("modality"),
      concat(substring(col("content"), 1, 54),
        lit(Array[Byte](0x7f.toByte)),
        expr("substring(content, 56, length(content) - 55)")).as("content"),
      col("meta"))
    val ck = ckpt("iingestcr")
    def drained() = Streams.imageIngestStream(spark, s"$root/new",
      copies.schema, s"$root/index", s"$root/newsigs", s"$root/partials",
      ck, kbBuckets = 16)

    // pre-kill prefix: half the new assets arrive and drain
    copies.filter(col("asset_id") % 2 === 0).repartition(2)
      .write.parquet(s"$root/new")
    drained()
    val batchDirsMid = new java.io.File(s"$root/partials")
      .listFiles().count(_.getName.startsWith("batch_id="))

    // restart from the SAME checkpoint with the other half appended:
    // only the new files become batches (ids continue past the prefix)
    copies.filter(col("asset_id") % 2 =!= 0).repartition(2)
      .write.mode("append").parquet(s"$root/new")
    val streamed = drained().as[(Long, Long, Int)].collect().toSet
    val batchDirsAfter = new java.io.File(s"$root/partials")
      .listFiles().count(_.getName.startsWith("batch_id="))
    assert(batchDirsMid > 0 && batchDirsAfter > batchDirsMid,
      "the resumed drain must add new batch partials, not rewrite history")

    val oneShot = graft.llm.Dedup.hamming64CrossDups(
        graft.multimodal.Multimodal.imageSignatures(copies)
          .withColumnRenamed("asset_id", "new_id"), "new_id",
        sigs.withColumnRenamed("asset_id", "old_id"), "old_id",
        "sig", hamMax = 7, bands = 8)
      .as[(Long, Long, Int)].collect().toSet
    assert(streamed === oneShot,
      "marks folded across the kill/restart boundary must equal the " +
        "one-shot cross-set probe over all new assets")
  }

  test("cdcApplyPartitioned crash-restart: cold recovery re-applies the " +
      "already-applied prefix as exact no-ops (idempotence contract)") {
    import graft.sources.Sources
    val root = s"target/tmp/streams/cdccr_${System.nanoTime()}"
    val nBuckets = 8
    val base = (1L to 200L).map(k => (k, s"v$k", 0)).toDF("k", "v", "ver")
    Sources.writeKeyBucketed(base, s"$root/table", Seq("k"), nBuckets)
    val first = Seq((7L, "u1", 1), (42L, "w1", 1)).toDF("k", "v", "ver")
    val late = Seq((7L, "u2", 2), (999L, "new", 1)).toDF("k", "v", "ver")

    // the crashed run got through the first files before dying; its
    // nano-stamped checkpoint is unreachable by design, so recovery for
    // this maintenance drain is a COLD rerun over the whole changes dir
    // — safe iff upsertVersioned re-application is a per-key no-op
    first.repartition(2).write.parquet(s"$root/changes")
    graft.streaming.Streams.cdcApplyPartitioned(spark, s"$root/changes",
      first.schema, s"$root/table", Seq("k"), "ver", "v",
      nBuckets = nBuckets, maxFilesPerTrigger = 1)

    late.repartition(2).write.mode("append").parquet(s"$root/changes")
    val fin = graft.streaming.Streams.cdcApplyPartitioned(spark,
      s"$root/changes", first.schema, s"$root/table", Seq("k"),
      "ver", "v", nBuckets = nBuckets, maxFilesPerTrigger = 1)
      .select($"k", $"v", $"ver")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    val oneShot = graft.ops.Relational
      .upsertVersioned(base, first.unionByName(late), Seq("k"), "ver", "v")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(fin === oneShot,
      "cold recovery over already-applied + new changes must equal the " +
        "one-shot merge of everything")
    assert(fin.contains((7L, "u2", 2)) && fin.contains((999L, "new", 1)))

    // and a full second recovery pass over the SAME changes is a no-op
    val again = graft.streaming.Streams.cdcApplyPartitioned(spark,
      s"$root/changes", first.schema, s"$root/table", Seq("k"),
      "ver", "v", nBuckets = nBuckets, maxFilesPerTrigger = 1)
      .select($"k", $"v", $"ver")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(again === fin, "re-recovery must not change the table")
  }

  test("aggTableApply: equals one-shot GROUP BY; restart drains only new files into their buckets") {
    import graft.sources.Sources
    val root = s"target/tmp/streams/aggt_${System.nanoTime()}"
    val nBuckets = 8
    val a = (1L to 400L).map(i => (i % 40, i * 0.03 + 0.01)).toDF("k", "v")
    a.repartition(4).write.parquet(s"$root/events")

    def drained() = graft.streaming.Streams.aggTableApply(spark,
      s"$root/events", a.schema, s"$root/table", s"$root/ckpt",
      keyCol = "k", valueCol = "v", nBuckets = nBuckets,
      maxFilesPerTrigger = 1)
    def expect(df: org.apache.spark.sql.DataFrame) =
      df.groupBy($"k")
        .agg(count(lit(1)).as("n_events"),
          graft.ops.Relational.exactSum($"v").as("sum_value"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    def got(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

    assert(got(drained()) === expect(a),
      "4-batch drain must equal the one-shot GROUP BY bit-for-bit")

    def partFiles(): Map[String, Set[String]] =
      new java.io.File(s"$root/table").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("kb="))
        .map(d => d.getName ->
          d.listFiles().map(_.getName).filter(_.startsWith("part-")).toSet)
        .toMap
    val before = partFiles()

    // late arrivals confined to ONE key: the restart (same checkpoint)
    // must process only the new file and rewrite only that key's bucket
    val b = Seq((7L, 1.25), (7L, 2.50)).toDF("k", "v")
    b.write.mode("append").parquet(s"$root/events")
    assert(got(drained()) === expect(a.unionByName(b)),
      "incremental drain must fold late arrivals into stored totals")
    val touched = b.select(Sources.keyBucket(Seq("k"), nBuckets))
      .distinct().collect().map(r => s"kb=${r.getInt(0)}").toSet
    val after = partFiles()
    (after.keySet -- touched).foreach { d =>
      assert(after(d) === before(d),
        s"bucket $d untouched by late keys was rewritten")
    }
    assert(touched.forall(d => after(d) != before.getOrElse(d, Set())),
      "the late keys' bucket must have been rewritten")
  }

  test("distinctSketchStream: streamed HLL estimate equals the one-shot estimate") {
    val root = s"target/tmp/streams/hll_${System.nanoTime()}"
    val a = (1L to 5000L).map(i => (s"k${i % 3}", i % 1200)).toDF("k", "v")
    a.repartition(4).write.parquet(s"$root/events")
    val streamed = graft.streaming.Streams.distinctSketchStream(spark,
        s"$root/events", a.schema, s"$root/partials", s"$root/ckpt",
        "k", "v", maxFilesPerTrigger = 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val oneShot = a.groupBy($"k")
      .agg(expr("hll_sketch_estimate(hll_sketch_agg(v, 12))").as("e"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // HLL union is NOT state-identical to a single-pass sketch (the
    // union operator's coupon promotion differs) — the contract is the
    // ERROR BOUND, not bit equality: both must land within ~1% of each
    // other and of the exact count (each key sees 400 distinct values:
    // i ≡ r (mod 3) stepping through i % 1200)
    assert(streamed.keySet === oneShot.keySet)
    streamed.foreach { case (k, est) =>
      assert(math.abs(est - oneShot(k)).toDouble / oneShot(k) < 0.01,
        s"$k: streamed $est vs one-shot ${oneShot(k)}")
      assert(math.abs(est - 400L) < 20L,
        s"$k: estimate $est must be within ~5% of the exact 400")
    }
  }

  test("dqReportStream: multi-batch report equals one-shot expectations; restart folds only new rows") {
    val root = s"target/tmp/streams/dq_${System.nanoTime()}"
    val rules = Seq(
      "k_not_null" -> $"k".isNull,
      "v_positive" -> !($"v" > 0.0))
    val a = Seq[(Option[Long], Option[Double])](
      (Some(1L), Some(1.0)), (Some(2L), Some(-1.0)), (None, Some(2.0)),
      (Some(3L), None), (Some(4L), Some(4.0)), (Some(5L), Some(5.0))
    ).toDF("k", "v")
    a.repartition(3).write.parquet(s"$root/events")

    def drained() = graft.streaming.Streams.dqReportStream(spark,
      s"$root/events", a.schema, s"$root/partials", s"$root/ckpt",
      rules, maxFilesPerTrigger = 1)
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap

    val oneShot = asMap(graft.ops.Profile.expectations(a, rules))
    assert(asMap(drained()) === oneShot,
      "3-batch streamed report must equal the one-shot expectations")
    assert(oneShot("v_positive") === ((6L, 2L, false)),
      "-1.0 and the NULL v are the two violations")

    // restart with the same checkpoint: only the new file is processed,
    // its counts FOLD into the stored partials
    Seq[(Option[Long], Option[Double])]((None, Some(-9.0)))
      .toDF("k", "v").write.mode("append").parquet(s"$root/events")
    val after = asMap(drained())
    assert(after("k_not_null") === ((7L, 2L, false)))
    assert(after("v_positive") === ((7L, 3L, false)))
  }

  test("heavyHittersStream: multi-batch candidates + exact recount equals " +
      "the one-shot batch heavyHitters, including a skewed token") {
    val root = s"target/tmp/streams/hh_${System.nanoTime()}"
    // skewed corpus: 'hot' appears in every doc, the rest are id-unique —
    // the hitter must survive candidate sketching across EVERY batch split
    val docs = (1 to 90).map(i => (i.toLong, s"hot token$i filler$i"))
      .toDF("doc_id", "text")
    docs.repartition(5).write.parquet(s"$root/docs")
    val streamed = graft.streaming.Streams.heavyHittersStream(spark,
      s"$root/docs", docs.schema, s"$root/partials", s"$root/ckpt",
      textCol = "text", k = 10, maxFilesPerTrigger = 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch = graft.ops.Relational.heavyHitters(
      docs.select(explode(graft.text.TextOps.tokens($"text")).as("token")),
      "token", k = 10)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed === batch,
      "5-batch streamed heavy hitters must equal the one-shot batch pass")
    assert(streamed === Map("hot" -> 90L),
      "'hot' is 90 of 270 tokens (> n/10); every other token is unique")
  }

  test("annServeStream: micro-batched serve equals the one-shot batch serve") {
    import graft.llm.Similarity
    val root = s"target/tmp/streams/ann_${System.nanoTime()}"
    val e = Tables.embeddings(spark, TestSpark.sf)
    val idx = Similarity.fitIvfPqIndex(
      e.select($"vec_id".as("n_id"), $"embedding".as("n_emb")),
      nlist = 8, m = 8, kc = 16, persistEntries = false)
    Similarity.unitVectors(e).write.parquet(s"$root/units")
    val qdf = e.filter($"vec_id" % 37 === 0)
      .select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
    qdf.repartition(3).write.parquet(s"$root/queries")

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val streamed = rows(graft.streaming.Streams.annServeStream(spark,
      s"$root/queries", qdf.schema, idx, s"$root/units", s"$root/sl",
      s"$root/ckpt", k = 3))
    val batch = rows(Similarity.exactRerankFromUnits(
      spark.read.parquet(s"$root/units"),
      Similarity.ivfPqShortlist(idx, qdf, k = 3), k = 3))
    assert(streamed.nonEmpty && streamed === batch,
      "micro-batched shortlist+rerank must equal the one-shot serve")
    // the drain really was micro-batched: several appended shortlist files
    val slFiles = new java.io.File(s"$root/sl").listFiles()
      .count(f => f.getName.startsWith("part-") && f.length() > 0)
    assert(slFiles >= 2, s"expected multi-batch appends, got $slFiles files")
  }

  test("streamingSubstringMarks: micro-batched ingestion marks equal the " +
      "one-shot cross-corpus batch computation; planted run exact") {
    import graft.llm.Dedup
    val root = s"target/tmp/streams/submarks_${System.nanoTime()}"
    val shared = (1 to 30).map(i => s"tok$i").mkString(" ")
    val old = Seq(
      (1L, s"alpha beta gamma $shared delta"),
      (2L, "unrelated words only nothing common here at all with anything"),
      (3L, "zeta eta " + (1 to 10).map(i => s"tok$i").mkString(" ")))
      .toDF("doc_id", "text")
    val fresh = Seq(
      (4L, s"intro words $shared outro stuff"),
      (8L, "totally novel content with zero overlap whatsoever in any gram"))
      .toDF("doc_id", "text")
    val (k, mod, win, minLen) = (4, 2, 32, 8)
    Dedup.substringTokenRows(old, "doc_id", "text", k)
      .write.parquet(s"$root/oldtoks")
    Dedup.cappedPostings(
        Dedup.substringAnchors(spark.read.parquet(s"$root/oldtoks"), k, mod),
        maxPerGram = 64)
      .write.parquet(s"$root/postings")
    fresh.repartition(2).write.parquet(s"$root/new")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val streamed = rows(Streams.streamingSubstringMarks(spark, s"$root/new",
      fresh.schema, s"$root/postings", s"$root/oldtoks",
      s"$root/partials", s"$root/ckpt",
      k = k, anchorMod = mod, window = win, minLen = minLen))
    val batch = rows(Dedup.crossCorpusSubstrings(fresh, "doc_id", "text",
      spark.read.parquet(s"$root/postings"),
      spark.read.parquet(s"$root/oldtoks"),
      k = k, anchorMod = mod, window = win, minLen = minLen))
    assert(streamed === batch,
      s"streamed marks must equal the one-shot batch: $streamed vs $batch")
    assert(streamed.exists { case (nd, od, _, ml) =>
      nd == 4L && od == 1L && ml == 30L },
      s"the planted 30-token run must mark (4, 1) at exactly 30: $streamed")
    assert(!streamed.exists(_._1 == 8L),
      "the clean new doc must mark nothing")
    // the drain really was micro-batched: multiple batch_id partitions
    val batches = new java.io.File(s"$root/partials").listFiles()
      .count(_.getName.startsWith("batch_id="))
    assert(batches >= 2, s"expected a multi-batch drain, got $batches")
  }

  test("survivorStream: streamed per-fingerprint policy argmin equals the " +
      "one-shot batch fold; a better copy in a LATER batch wins") {
    val root = s"target/tmp/streams/surv_${System.nanoTime()}"
    // three copies of one text across different sources/batches: the
    // policy-best (src1 -> tier 1) must win even though the tier-3 copy
    // (src3, doc 1) arrives first; clean doc keeps its own fp
    val docs = Seq(
      (1L, "src3", "alpha beta gamma delta"),
      (9L, "src7", "completely different content here"),
      (5L, "src1", "alpha beta gamma delta"),
      (7L, "src5", "Alpha  BETA gamma delta!")) // normalizes to same fp, tier 1
      .toDF("doc_id", "source", "text")
    // one row per file => one doc per micro-batch, copies split across
    // batches in id order is NOT guaranteed; what matters is they land
    // in different batches at maxFilesPerTrigger = 1
    docs.repartition(4, $"doc_id").write.parquet(s"$root/docs")
    val streamed = Streams.survivorStream(spark, s"$root/docs", docs.schema,
        s"$root/partials", s"$root/ckpt", maxFilesPerTrigger = 1)
      .select($"fp", $"survivor", $"src_tier", $"n_copies")
      .as[(String, Long, Long, Long)].collect().toSet
    val batch = Streams.survivorReadout(
        Streams.survivorPolicyRows(docs)
          .withColumn("n_copies", org.apache.spark.sql.functions.lit(1L))
          .withColumn("batch_id", org.apache.spark.sql.functions.lit(0L)))
      .select($"fp", $"survivor", $"src_tier", $"n_copies")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(streamed === batch,
      s"streamed survivors must equal the one-shot fold: $streamed vs $batch")
    // the dup fingerprint keeps exactly one survivor: the tier-1 copy
    // with the lower doc_id among the two tier-1 copies (5 vs 7 — doc 5
    // wins the id tie-break at equal tier/quality/length)
    val dup = streamed.find(_._4 == 3L).get
    assert(dup._2 === 5L && dup._3 === 1L,
      s"policy-best copy must survive across batches: $dup")
    assert(streamed.exists(r => r._2 == 9L && r._4 == 1L),
      "the clean doc survives alone")
  }

  test("centroidAssignStream: streamed per-cluster counts/inertia equal " +
      "the one-shot batch assignment against the same stored centroids") {
    val root = s"target/tmp/streams/kmassign_${System.nanoTime()}"
    // two stored centroids; five vectors split across micro-batches.
    // vec 30 is EQUIDISTANT from both centroids — the (dist2, cid) tie
    // must resolve to cid 0 in the stream exactly as in batch
    Seq((0L, 0L, 0L), (0L, 1L, 0L), (1L, 0L, 1000L), (1L, 1L, 1000L))
      .toDF("cid", "dim", "c_q")
      .write.parquet(s"$root/cent")
    val vecs = Seq(
      (10L, Array(0.0001f, -0.0002f)),
      (20L, Array(0.0009f, 0.0011f)),
      (30L, Array(0.0005f, 0.0005f)),
      (40L, Array(0.0f, 0.0f)),
      (50L, Array(0.0012f, 0.0008f)))
      .toDF("vec_id", "embedding")
    vecs.repartition(4, $"vec_id").write.parquet(s"$root/vecs")
    val streamed = Streams.centroidAssignStream(spark, s"$root/vecs",
        vecs.schema, s"$root/cent", s"$root/partials", s"$root/ckpt",
        maxFilesPerTrigger = 1)
      .as[(Long, Long, Long)].collect().toSet
    // naive one-shot replay with the same integer algebra
    val cent = Map(0L -> Seq(0L, 0L), 1L -> Seq(1000L, 1000L))
    val expected = Seq(
      10L -> Seq(0.0001f, -0.0002f), 20L -> Seq(0.0009f, 0.0011f),
      30L -> Seq(0.0005f, 0.0005f), 40L -> Seq(0.0f, 0.0f),
      50L -> Seq(0.0012f, 0.0008f))
      .map { case (v, fs) =>
        val qs = fs.map(f => math.floor(f.toDouble * 1e6).toLong)
        val best = cent.toSeq.map { case (c, cq) =>
          (qs.zip(cq).map { case (q, cc) => (q - cc) * (q - cc) }.sum, c)
        }.min
        (best._2, best._1)
      }
      .groupBy(_._1).view
      .mapValues(vs => (vs.size.toLong, vs.map(_._2).sum))
      .map { case (c, (n, ss)) => (c, n, ss) }.toSet
    assert(streamed === expected,
      s"streamed fold must equal the one-shot assignment: " +
        s"$streamed vs $expected")
    val batches = new java.io.File(s"$root/partials").listFiles()
      .count(_.getName.startsWith("batch_id="))
    assert(batches >= 2, s"expected a multi-batch drain, got $batches")
  }

  test("bhFdrStream: streamed count partials fold to exactly the one-shot " +
      "BH decision, including a rejection only visible after the fold") {
    val root = s"target/tmp/streams/bhfdr_${System.nanoTime()}"
    // type "skew" is perfectly balanced inside each single batch half but
    // HEAVILY skewed overall only when both batches fold — a per-batch
    // decision would never reject it; type "even" stays balanced
    // skew: 60 odd vs 4 even → z² = 49, Chebyshev p ≈ 20408 ppm,
    // 20408·m(2)·20 ≤ 10⁶·rk(1) → rejected; even: z² = 0 → survives
    val ev = (
      (1L to 60L).map(u => (2 * u + 1, "skew")) ++
        (1L to 4L).map(u => (2 * u, "skew")) ++
        (1L to 20L).map(u => (2 * u, "even")) ++
        (1L to 20L).map(u => (2 * u + 1, "even")))
      .toDF("user_id", "event_type")
    ev.repartition(4, $"user_id").write.parquet(s"$root/events")
    val streamed = Streams.bhFdrStream(spark, s"$root/events", ev.schema,
        s"$root/partials", s"$root/ckpt", maxFilesPerTrigger = 1)
      .select($"event_type", $"n", $"n_odd", $"rejected")
      .as[(String, Long, Long, Boolean)].collect().toSet
    val batch = Streams.bhFdrReadout(
        ev.groupBy($"event_type")
          .agg(org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("n"),
            org.apache.spark.sql.functions.sum(($"user_id" % 2 === 1)
              .cast("long")).as("n_odd"))
          .withColumn("batch_id", org.apache.spark.sql.functions.lit(0L)))
      .select($"event_type", $"n", $"n_odd", $"rejected")
      .as[(String, Long, Long, Boolean)].collect().toSet
    assert(streamed === batch,
      s"streamed fold must equal the one-shot BH: $streamed vs $batch")
    assert(streamed.exists(r => r._1 == "skew" && r._4),
      "the globally-skewed hypothesis must be rejected after the fold")
    assert(streamed.exists(r => r._1 == "even" && !r._4),
      "the balanced hypothesis must survive")
    val batches = new java.io.File(s"$root/partials").listFiles()
      .count(_.getName.startsWith("batch_id="))
    assert(batches >= 2, s"expected a multi-batch drain, got $batches")
  }

  test("pageHinkleyStream: streamed day partials fold to exactly the " +
      "one-shot detector, with a day SPLIT across two batches") {
    val root = s"target/tmp/streams/ph_${System.nanoTime()}"
    // day 0 rows land in different micro-batches: the day's mean exists
    // only after the fold; day 2 jumps to trip the detector shape
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(day: Int, off: Int) =
      new java.sql.Timestamp(base.getTime + day * 86400000L + off * 1000L)
    val ev = Seq(
      (at(0, 1), 10.0), (at(0, 2), 30.0), (at(0, 3), 20.0),
      (at(1, 1), 22.0), (at(1, 2), 18.0),
      (at(2, 1), 500.0), (at(2, 2), 480.0))
      .toDF("ts", "value")
    ev.repartition(4).write.parquet(s"$root/events")
    val streamed = Streams.pageHinkleyStream(spark, s"$root/events",
        ev.schema, s"$root/partials", s"$root/ckpt",
        maxFilesPerTrigger = 1)
      .select($"d", $"n", $"x", $"m", $"ph", $"alert")
      .as[(Long, Long, Long, Long, Long, Boolean)].collect().toSet
    val batch = Streams.pageHinkleyReadout(
        ev.groupBy(org.apache.spark.sql.functions.expr(
            "cast(unix_micros(cast(ts as timestamp)) div 86400000000" +
              " as bigint)").as("d"))
          .agg(org.apache.spark.sql.functions.sum(
            org.apache.spark.sql.functions.expr(
              "cast(cast(value as decimal(30,2)) * 100 as bigint)"))
            .as("cents"),
            org.apache.spark.sql.functions.count(
              org.apache.spark.sql.functions.lit(1)).as("n"))
          .withColumn("batch_id", org.apache.spark.sql.functions.lit(0L)))
      .select($"d", $"n", $"x", $"m", $"ph", $"alert")
      .as[(Long, Long, Long, Long, Long, Boolean)].collect().toSet
    assert(streamed === batch,
      s"streamed fold must equal the one-shot detector: " +
        s"$streamed vs $batch")
    val batches = new java.io.File(s"$root/partials").listFiles()
      .count(_.getName.startsWith("batch_id="))
    assert(batches >= 2, s"expected a multi-batch drain, got $batches")
  }

  test("datasetCardStream: streamed (source, lang) partials fold to the " +
      "one-shot card; majority language decided only after the fold") {
    val root = s"target/tmp/streams/card_${System.nanoTime()}"
    // source s1: per-batch 'de' can outnumber 'en' locally, but after
    // the fold 'en' must win the majority read
    val docs = Seq(
      (1L, "s1", "en", "alpha beta gamma"),
      (2L, "s1", "de", "eins zwei drei vier"),
      (3L, "s1", "en", "delta epsilon"),
      (4L, "s1", "en", "zeta eta theta iota"),
      (5L, "s2", "fr", "un deux trois"))
      .toDF("doc_id", "source", "lang", "text")
    docs.repartition(4, $"doc_id").write.parquet(s"$root/docs")
    val streamed = Streams.datasetCardStream(spark, s"$root/docs",
        docs.schema, s"$root/partials", s"$root/ckpt",
        maxFilesPerTrigger = 1)
      .select($"source", $"n_docs", $"n_tokens", $"n_langs", $"top_lang",
        $"top_lang_ppm", $"mean_quality_ppm")
      .as[(String, Long, Long, Long, String, Long, Long)].collect().toSet
    // the one-shot answer: the same per-batch shape folded as ONE batch
    val oneBatch = {
      val b = docs
        .select($"source", $"lang",
          graft.text.TextOps.tokens($"text").as("ts"))
        .select($"source", $"lang",
          org.apache.spark.sql.functions.size($"ts").cast("long")
            .as("n_tok"),
          org.apache.spark.sql.functions.size(
            org.apache.spark.sql.functions.array_distinct($"ts"))
            .cast("long").as("nd"))
        .withColumn("quality_ppm",
          org.apache.spark.sql.functions.expr(
            "nd * 1000000 div greatest(n_tok, 1)"))
        .groupBy($"source", $"lang")
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n_docs"),
          org.apache.spark.sql.functions.sum($"n_tok").as("n_tokens"),
          org.apache.spark.sql.functions.sum($"quality_ppm").as("qsum"))
        .withColumn("batch_id", org.apache.spark.sql.functions.lit(0L))
      Streams.datasetCardReadout(b)
        .select($"source", $"n_docs", $"n_tokens", $"n_langs", $"top_lang",
          $"top_lang_ppm", $"mean_quality_ppm")
        .as[(String, Long, Long, Long, String, Long, Long)].collect().toSet
    }
    assert(streamed === oneBatch,
      s"streamed card must equal the one-shot fold: $streamed vs $oneBatch")
    val s1 = streamed.find(_._1 == "s1").get
    assert(s1._2 === 4L && s1._5 === "en",
      s"majority language must be decided after the fold: $s1")
    val batches = new java.io.File(s"$root/partials").listFiles()
      .count(_.getName.startsWith("batch_id="))
    assert(batches >= 2, s"expected a multi-batch drain, got $batches")
  }

  test("streamingNearDupMarks: marks equal batch simhashDups pairs; later batches match earlier state") {
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs far away home"),
      (2L, "the quick brown fox jumps over the lazy cat and runs far away home"),
      (3L, "completely different content about spark query engines and shuffles here"),
      (4L, "the quick brown fox jumps over the lazy dog and runs far away home")
    )
    val mem = MemoryStream[(Long, String)]
    mem.addData(corpus: _*)
    val q = Streams.streamingNearDupMarks(
        mem.toDF().toDF("doc_id", "text"), hamMax = 3, bands = 4)
      .writeStream.format("memory").queryName("neardup_out").outputMode("update")
      .option("checkpointLocation", ckpt("neardup"))
      .start()
    try {
      q.processAllAvailable()
      val afterBatch1 = spark.table("neardup_out")
        .select($"matched_id", $"doc_id").as[(Long, Long)].collect().toSet
      val batchPairs = graft.llm.Dedup.simhashDups(
          corpus.toDF("doc_id", "text"), hamMax = 3, bands = 4)
        .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
      assert(afterBatch1 === batchPairs,
        s"one-batch marks must equal the batch pair set: $afterBatch1 vs $batchPairs")
      // a later arrival must be checked against STATE from batch 1
      mem.addData((9L, corpus.head._2))
      q.processAllAvailable()
      val marked = spark.table("neardup_out")
        .filter($"doc_id" === 9L).select($"matched_id").as[Long].collect().toSet
      assert(marked.contains(1L) && marked.contains(4L),
        s"cross-batch verbatim dup must mark both earlier copies, got $marked")
    } finally q.stop()
    // batch-frame form (fresh state) degenerates to the batch pair set
    val batchForm = Streams.streamingNearDupMarks(corpus.toDF("doc_id", "text"))
      .select($"matched_id", $"doc_id").as[(Long, Long)].collect().toSet
    assert(batchForm === graft.llm.Dedup.simhashDups(corpus.toDF("doc_id", "text"))
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet)
  }

  test("streamingFunnel: cross-batch reordering is exact — a late earlier view re-opens pruned candidates") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    def ev(id: Long, m: Int, u: Long, ty: String) = Ev(id, t(m), u, ty, 0.0)
    // batch 1: u1 view@10, click@5 (click precedes the view -> pending),
    //          u2 full in-order chain
    mem.addData(
      ev(1, 10, 1, "view"), ev(2, 5, 1, "click"),
      ev(3, 0, 2, "view"), ev(4, 1, 2, "click"), ev(5, 2, 2, "purchase"))
    val q = graft.streaming.Streams
      .streamingFunnel(mem.toDF(), Seq("view", "click", "purchase"))
      .toDF().writeStream
      .format("memory").queryName("funnel_out").outputMode("update")
      .option("checkpointLocation", ckpt("funnel"))
      .start()
    try {
      q.processAllAvailable()
      val mid = spark.table("funnel_out")
        .groupBy($"user_id").agg(max($"stage").as("st"))
        .as[(Long, Int)].collect().toMap
      assert(mid(1L) === 1, "click@5 must not count before any view")
      assert(mid(2L) === 3)
      // batch 2: an EARLIER view for u1 arrives late -> click@5 now
      // qualifies (state kept it); purchase@7 completes the chain
      mem.addData(ev(6, 3, 1, "view"), ev(7, 7, 1, "purchase"))
      q.processAllAvailable()
    } finally q.stop()
    val fin = spark.table("funnel_out")
      .groupBy($"user_id")
      .agg(min(element_at($"times", 1)).as("m1"),
        min(element_at($"times", 2)).as("m2"),
        min(element_at($"times", 3)).as("m3"),
        max($"stage").as("st"))
      .as[(Long, Option[Long], Option[Long], Option[Long], Int)]
      .collect().map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    def us(m: Int) = t(m).getTime * 1000L
    assert(fin(1L) === ((Some(us(3)), Some(us(5)), Some(us(7)), 3)),
      "the late earlier view must re-qualify the pruned click and finish the funnel")
    assert(fin(2L) === ((Some(us(0)), Some(us(1)), Some(us(2)), 3)))
  }

  test("streamingFunnel with a watermark: on-time data exact, late rows dropped by contract, state finalized") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    def ev(id: Long, m: Int, u: Long, ty: String) = Ev(id, t(m), u, ty, 0.0)
    // batch 1: in-order chain for u1 up to click; wm advances to max ts
    mem.addData(ev(1, 0, 1, "view"), ev(2, 10, 1, "click"),
      ev(3, 60, 9, "view")) // u9 pushes event time (and thus wm) to m=60
    val q = graft.streaming.Streams
      .streamingFunnel(mem.toDF(), Seq("view", "click", "purchase"),
        watermarkDelay = Some("0 seconds"))
      .toDF().writeStream
      .format("memory").queryName("funnel_wm_out").outputMode("update")
      .option("checkpointLocation", ckpt("funnel_wm"))
      .start()
    try {
      q.processAllAvailable()
      // batch 2: a LATE earlier view (m=?<60 is below the wm) must be
      // ignored — the declared bounded-state semantics — while an on-time
      // purchase completes the chain
      mem.addData(ev(4, 5, 1, "view"), ev(5, 70, 1, "purchase"))
      q.processAllAvailable()
    } finally q.stop()
    val fin = spark.table("funnel_wm_out")
      .groupBy($"user_id")
      .agg(min(element_at($"times", 1)).as("m1"),
        min(element_at($"times", 2)).as("m2"),
        min(element_at($"times", 3)).as("m3"),
        max($"stage").as("st"))
      .as[(Long, Option[Long], Option[Long], Option[Long], Int)]
      .collect().map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    def us(m: Int) = t(m).getTime * 1000L
    assert(fin(1L) === ((Some(us(0)), Some(us(10)), Some(us(70)), 3)),
      "late view@5 below the watermark must not rewrite t_view; on-time purchase completes")
  }

  test("streamingFunnel drained over the fixture equals the batch funnel") {
    val batchEv = Tables.events(spark, TestSpark.sf)
      .withColumn("ts", $"ts".cast("timestamp"))
    val stage = java.nio.file.Files
      .createTempDirectory("funnel_stage").toString
    graft.sources.Sources.writeParquet(batchEv.repartition(5), stage)
    val stream = spark.readStream.schema(batchEv.schema)
      .option("maxFilesPerTrigger", "1").parquet(stage)
    val q = graft.streaming.Streams
      .streamingFunnel(stream, Seq("view", "click", "purchase"))
      .toDF().writeStream
      .format("memory").queryName("funnel_fix_out").outputMode("update")
      .option("checkpointLocation", ckpt("funnel_fix"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(300000), "AvailableNow stream must drain")
    val streamed = spark.table("funnel_fix_out")
      .groupBy($"user_id")
      .agg(min(element_at($"times", 1)).as("m1"),
        min(element_at($"times", 2)).as("m2"),
        min(element_at($"times", 3)).as("m3"),
        max($"stage").as("st"))
      .filter($"st" >= 1)
      .as[(Long, Option[Long], Option[Long], Option[Long], Int)]
      .collect().map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    val batch = graft.ops.Temporal
      .funnel(batchEv, "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"))
      .select($"user_id",
        unix_micros($"t_view"), unix_micros($"t_click"),
        unix_micros($"t_purchase"), $"stage")
      .as[(Long, Option[Long], Option[Long], Option[Long], Int)]
      .collect().map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(streamed === batch,
      "per-file micro-batched funnel must equal the one-shot batch funnel")
  }

  test("tumblingAgg works identically over the events fixture in batch mode") {
    val ev = Tables.events(spark, TestSpark.sf)
    val viaStreamOp = Streams.tumblingAgg(ev)
      .select($"window_start", $"event_type", $"n")
    val viaTrunc = ev.groupBy(date_trunc("hour", $"ts").as("h"), $"event_type")
      .agg(count(lit(1)).as("n2"))
    val joined = viaStreamOp.join(viaTrunc,
      viaStreamOp("window_start") === viaTrunc("h") &&
        viaStreamOp("event_type") === viaTrunc("event_type"))
    assert(joined.filter($"n" =!= $"n2").count() === 0)
    assert(viaStreamOp.count() === viaTrunc.count())
  }

  test("srmKeyedStream (flatMapGroupsWithState) == srmGateStream (partial " +
      "tables) == batch srmCheck, under single-file micro-batches") {
    // the same gate computed three independent ways: cumulative keyed
    // state, per-batch mergeable partials, and the one-shot batch fold —
    // a disagreement anywhere is a state-management bug
    val ev = Tables.events(spark, TestSpark.sf)
      .select($"user_id", $"event_type")
    val root = s"target/tmp/streams/srm_keyed_${System.nanoTime()}"
    ev.repartition(5).write.mode("overwrite").parquet(s"$root/events")
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select($"event_type", $"n0", $"n1", $"chi2", $"srm")
      .as[(String, Long, Long, Double, Boolean)].collect().toSet
    val keyed = canon(Streams.srmKeyedStream(spark, s"$root/events",
      ev.schema, s"$root/p1", s"$root/c1",
      groupCol = "event_type", userCol = "user_id", maxFilesPerTrigger = 1))
    val partials = canon(Streams.srmGateStream(spark, s"$root/events",
      ev.schema, s"$root/p2", s"$root/c2",
      groupCol = "event_type", userCol = "user_id", maxFilesPerTrigger = 1))
    val batch = canon(graft.ops.Experiment.srmCheck(ev,
      "event_type", "user_id"))
    assert(keyed === batch, "keyed-state gate must equal the batch fold")
    assert(partials === batch, "partials gate must equal the batch fold")
  }

  /** A 4-file parquet source of (id, k) rows, streamed one file per
    * trigger — four micro-batches per drain. */
  private def drainSource(name: String): org.apache.spark.sql.DataFrame = {
    val dir = ckpt(s"${name}_src")
    val df = (1 to 40).map(i => (i.toLong, i % 5)).toDF("id", "k")
    df.repartition(4).write.parquet(dir)
    spark.readStream.schema(df.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
  }

  private val consume: (org.apache.spark.sql.DataFrame, Long) => Unit =
    (b, _) => b.write.format("noop").mode("overwrite").save()

  private def onThread[T](body: => T): java.util.concurrent.FutureTask[T] = {
    val task = new java.util.concurrent.FutureTask[T](() => body)
    new Thread(task).start()
    task
  }

  test("drain: concurrent drains each bind their own state width and " +
      "leave the session conf as they found it") {
    val conf = spark.conf.getAll
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val runs = Seq(4, 8).map { w =>
      val counts = drainSource(s"width$w").groupBy($"k").count()
      w -> onThread {
        barrier.await()
        Streams.drain(s"width-$w", counts, ckpt(s"width$w"), Some(w))(
          _.outputMode("update").foreachBatch(consume))
      }
    }
    runs.foreach { case (w, run) =>
      val progress = run.get(300, java.util.concurrent.TimeUnit.SECONDS)
      assert(progress.nonEmpty)
      assert(progress.flatMap(_.stateOperators)
        .map(_.numShufflePartitions).toSet === Set(w.toLong))
    }
    assert(spark.conf.getAll === conf)
    assert(spark.streams.active.isEmpty)
  }

  test("drain: an interrupted drain stops its stream, surfaces the " +
      "interruption and keeps its checkpoint") {
    val root = ckpt("interrupted")
    val entered = new java.util.concurrent.CountDownLatch(1)
    val never = new java.util.concurrent.CountDownLatch(1)
    val seen = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val t = new Thread(() =>
      try Streams.drain("interrupted", drainSource("interrupted"),
          s"$root/ckpt", oneShot = true)(_.foreachBatch {
          (_: org.apache.spark.sql.DataFrame, _: Long) =>
            entered.countDown(); never.await() })
      catch { case e: Throwable => seen.set(e) })
    t.start()
    assert(entered.await(120, java.util.concurrent.TimeUnit.SECONDS))
    t.interrupt()
    t.join(120000)
    assert(!t.isAlive)
    assert(seen.get.isInstanceOf[InterruptedException], s"got ${seen.get}")
    assert(spark.streams.active.isEmpty)
    assert(new java.io.File(root).listFiles().exists(_.getName.startsWith("ckpt_")),
      "an unfinished one-shot drain keeps its checkpoint")
  }

  test("drain: a failing foreachBatch surfaces its error and keeps the checkpoint") {
    val root = ckpt("failing")
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      Streams.drain("failing", drainSource("failing"), s"$root/ckpt",
          oneShot = true)(_.foreachBatch {
        (_: org.apache.spark.sql.DataFrame, _: Long) =>
          throw new IllegalStateException("batch sink failed")
      })
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("batch sink failed")))
    assert(spark.streams.active.isEmpty)
    assert(new java.io.File(root).listFiles().exists(_.getName.startsWith("ckpt_")))
  }

  test("drain: a listener on the caller's session sees every batch the " +
      "returned progress reports") {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import StreamingQueryListener._
    val batches = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, Int]
    val ended = java.util.concurrent.ConcurrentHashMap.newKeySet[java.util.UUID]
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: QueryStartedEvent): Unit = ()
      def onQueryProgress(e: QueryProgressEvent): Unit =
        batches.merge(e.progress.runId, 1, (a: Int, b: Int) => a + b)
      def onQueryTerminated(e: QueryTerminatedEvent): Unit = ended.add(e.runId)
    }
    spark.streams.addListener(listener)
    try {
      val progress = Streams.drain("listened", drainSource("listened"),
        ckpt("listened"))(_.foreachBatch(consume))
      assert(progress.length >= 2, "the source must drain in several batches")
      val runId = progress.head.runId
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!ended.contains(runId) && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(ended.contains(runId))
      assert(batches.get(runId) === progress.length)
    } finally spark.streams.removeListener(listener)
  }

  test("q105 and q106 run concurrently on one session: every run equals " +
      "a serial run and the session is left as it was found") {
    val names = Seq("q105_sliding_stream", "q106_dedup_stream")
    def rows(name: String): Seq[String] =
      SparkEntry.queries(name)(spark, TestSpark.sf)
        .collect().map(_.toString).toSeq.sorted
    val serial = names.map(n => n -> rows(n)).toMap
    val predsRoot = new java.io.File(
      graft.queries.QueryShared.predsPath("x")).getParentFile
    def oneShotCkpts(): Set[String] = Option(predsRoot.listFiles()).toSeq
      .flatten.flatMap(d => d +: Option(d.listFiles()).toSeq.flatten)
      .filter(f => f.isDirectory && f.getName.contains("ckpt_"))
      .map(_.getPath).toSet
    val conf = spark.conf.getAll
    val views = spark.catalog.listTables().collect().map(_.name).toSet
    val ckpts = oneShotCkpts()
    val runs = (names ++ names).map(n => n -> onThread(rows(n)))
    runs.foreach { case (n, run) =>
      assert(run.get(600, java.util.concurrent.TimeUnit.SECONDS) === serial(n),
        s"concurrent $n differs from its serial run")
    }
    assert(spark.conf.getAll === conf)
    assert(spark.catalog.listTables().collect().map(_.name).toSet === views)
    assert(spark.streams.active.isEmpty)
    assert(oneShotCkpts() === ckpts, "one-shot checkpoints left behind")
  }

  test("q127 and q501 drain one-shot: two runs of each leave no checkpoint " +
      "directory behind") {
    val predsRoot = new java.io.File(
      graft.queries.QueryShared.predsPath("x")).getParentFile
    def ckpts(): Set[String] = Option(predsRoot.listFiles()).toSeq.flatten
      .map(_.getName)
      .filter(n => n.startsWith("q127_ckpt") || n.startsWith("q501_ckpt")).toSet
    val before = ckpts()
    for (q <- Seq("q127_ann_stream", "q501_hybrid_stream"); _ <- 1 to 2)
      assert(SparkEntry.queries(q)(spark, TestSpark.sf).collect().nonEmpty, q)
    assert(ckpts() === before, "a run left its checkpoint directory")
  }

  test("Streams.drain is the only place in src/main that starts a stream " +
      "and waits on it") {
    val tokens = Seq("awaitTermination(", "Trigger.AvailableNow()", "queryName(")
    def sources(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).toSeq.flatten.flatMap(f =>
        if (f.isDirectory) sources(f)
        else Seq(f).filter(_.getName.endsWith(".scala")))
    def lines(f: java.io.File): IndexedSeq[String] = {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().toIndexedSeq finally src.close()
    }
    val streams = new java.io.File("src/main/scala/graft/streaming/Streams.scala")
    val streamsLines = lines(streams)
    // each `def drain` runs from its def line to its closing brace
    val drainBodies = streamsLines.indices
      .filter(streamsLines(_).startsWith("  def drain("))
      .map(i => i to streamsLines.indexWhere(_ == "  }", i))
    assert(drainBodies.nonEmpty)
    val hits = for {
      f <- sources(new java.io.File("src/main/scala"))
      (line, i) <- lines(f).zipWithIndex
      t <- tokens if line.contains(t)
    } yield (f.getCanonicalPath, i, t)
    val inDrain = hits.filter { case (f, i, _) =>
      f == streams.getCanonicalPath && drainBodies.exists(_.contains(i)) }
    assert(tokens.forall(t => inDrain.exists(_._3 == t)),
      "the guard must see every token inside Streams.drain")
    val stray = hits.diff(inDrain)
    assert(stray.isEmpty, "stream start/await outside Streams.drain: " +
      stray.map { case (f, i, t) => s"$f:${i + 1} $t" }.mkString(", "))
  }
}
