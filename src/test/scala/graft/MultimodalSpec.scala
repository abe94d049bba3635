package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.Multimodal

/** Test-side projections over the multimodal decoders. */
object MultimodalSpec {

  /** Decode each BMP payload ([[graft.expr.BmpDecode]]) and resample it to
    * a `w×h` RGB24 tensor ([[graft.expr.RgbResize]]), with the
    * [[Multimodal.resizeStub]] schema; a payload that does not decode
    * resizes to NULL. */
  def resizeImages(assets: DataFrame, w: Int, h: Int): DataFrame =
    assets
      .withColumn("img", graft.exprapi.bmpDecode(col("content")))
      .withColumn("resized",
        graft.exprapi.rgbResize(col("img.rgb"), col("img.w"), col("img.h"), w, h))
      .withColumn("meta", struct(
        col("meta.source").as("source"),
        lit(w).as("declared_w"),
        lit(h).as("declared_h")))
      .drop("img")

  /** Per modality: assets, payloads its real parser decoded, and the mean
    * norm of the [[Multimodal.decodeFeatures]] vectors. */
  def featureStats(assets: DataFrame, dims: Int = 16): DataFrame =
    Multimodal.decodeFeatures(assets, dims)
      .select(col("modality"),
        (col("modality") === "image" && col("img").isNotNull ||
          col("modality") === "audio" && col("aud").isNotNull ||
          col("modality") === "video" && col("vid").isNotNull).cast("long")
          .as("decoded"),
        aggregate(col("features"), lit(0.0), (acc, x) => acc + x * x).as("sq"))
      .groupBy(col("modality"))
      .agg(
        count(lit(1)).as("n_assets"),
        sum(col("decoded")).as("n_decoded"),
        avg(sqrt(col("sq"))).as("avg_feature_norm"))
}

class MultimodalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("syntheticAssets: deterministic, schema-conformant; images are real BMPs") {
    val a1 = Multimodal.syntheticAssets(spark, 9)
    val a2 = Multimodal.syntheticAssets(spark, 9)
    assert(a1.schema === a2.schema)
    val lens = a1.select($"modality", length($"content").as("l"))
      .distinct().as[(String, Int)].collect().toMap
    assert(lens("audio") === 44 + 8 * 16, "44-byte WAV header + PCM16 samples")
    assert(lens("video") === 36 + 2 * (6 + 8 * 6), "Y4M header + 2 x (FRAME\\n + luma)")
    assert(lens("image") === 54 + 8 * 6 * 3, "54-byte BMP header + RGB24 pixels")
    val c1 = a1.select($"asset_id", md5($"content")).as[(Long, String)].collect().toMap
    val c2 = a2.select($"asset_id", md5($"content")).as[(Long, String)].collect().toMap
    assert(c1 === c2, "payloads must be reproducible")
    val mods = a1.select($"modality").distinct().as[String].collect().toSet
    assert(mods === Set("image", "audio", "video"))
  }

  /** The SQL-expression form `syntheticAssets` had before it built its
    * payloads in one Scala function: the reference its bytes must equal. */
  private def expressionAssets(n: Int, payloadBlocks: Int) = {
    import Multimodal._
    def hexBlocks(tags: Seq[String]) = concat_ws("", tags.map(t => md5(concat($"id", lit(s"_$t")))): _*)
    val pixelBytes = SyntheticImageW * SyntheticImageH * 3
    val bmp = concat(
      lit(graft.expr.BmpDecode.encode(SyntheticImageW, SyntheticImageH,
        new Array[Byte](pixelBytes)).take(54)),
      to_binary(substring(hexBlocks((0 until (pixelBytes * 2 + 31) / 32).map(_.toString)),
        1, pixelBytes * 2), lit("hex")))
    val wav = concat(
      lit(graft.expr.WavDecode.encode(1, SyntheticSampleRate,
        new Array[Byte](payloadBlocks * 16)).take(44)),
      to_binary(hexBlocks((0 until payloadBlocks).map(_.toString)), lit("hex")))
    val lumaBytes = SyntheticImageW * SyntheticImageH
    val y4mRef = graft.expr.Y4mDecode.encode(
      SyntheticImageW, SyntheticImageH, 1, new Array[Byte](lumaBytes))
    val y4m = concat(
      lit(y4mRef.take(y4mRef.length - lumaBytes - 6)) +:
        (0 until SyntheticVideoFrames).flatMap(f => Seq(
          lit("FRAME\n".getBytes("US-ASCII")),
          to_binary(substring(
            hexBlocks((0 until (lumaBytes * 2 + 31) / 32).map(b => s"f${f}_$b")),
            1, lumaBytes * 2), lit("hex")))): _*)
    spark.range(n.toLong).select($"id".as("asset_id"),
      when(pmod($"id", lit(3)) === 0, bmp).when(pmod($"id", lit(3)) === 1, wav)
        .otherwise(y4m).as("content"))
  }

  test("syntheticAssets: payload bytes equal the SQL-expression form's") {
    for (blocks <- Seq(8, 64)) {
      val got = Multimodal.syntheticAssets(spark, 120, payloadBlocks = blocks)
        .select($"asset_id", $"content").as[(Long, Array[Byte])].collect()
        .map { case (id, c) => id -> c.toSeq }.toMap
      val want = expressionAssets(120, blocks).as[(Long, Array[Byte])].collect()
        .map { case (id, c) => id -> c.toSeq }.toMap
      assert(got.size === 120 && got === want, s"payloadBlocks = $blocks")
    }
  }

  test("bmp_decode: golden bytes — bottom-up row flip, padding, BGR→RGB, invalid→NULL") {
    // 2x2 top-down RGB: (255,0,0) (0,255,0) / (0,0,255) (10,20,30)
    val rgb = Array[Byte](
      255.toByte, 0, 0, 0, 255.toByte, 0,
      0, 0, 255.toByte, 10, 20, 30)
    val bmp = graft.expr.BmpDecode.encode(2, 2, rgb)
    // the encoder writes bottom-up rows with 2-byte padding (2*3=6 → 8)
    assert(bmp.length === 54 + 2 * 8)
    val decoded = graft.expr.BmpDecode.compute(bmp)
    assert(decoded != null)
    assert(decoded.getInt(0) === 2 && decoded.getInt(1) === 2)
    assert(decoded.getBinary(2).toSeq === rgb.toSeq, "decode(encode(x)) == x")

    // expression path incl. null for non-BMP payloads
    val df = Seq(
      (1L, bmp), (2L, Array[Byte](1, 2, 3)), (3L, "BMnot-a-real-header-x".getBytes)
    ).toDF("id", "content")
    val got = df.select($"id", graft.exprapi.bmpDecode($"content").as("img"))
      .select($"id", $"img".isNull.as("bad"), $"img.w", $"img.h")
      .as[(Long, Boolean, Option[Int], Option[Int])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) === ((false, Some(2), Some(2))))
    assert(got(2L)._1 === true)
    assert(got(3L)._1 === true)
    // height = Int.MinValue: math.abs stays negative in Int — must reject
    // as NULL, not allocate a negative array and kill the task
    val evil = java.util.Arrays.copyOf(bmp, bmp.length)
    evil(22) = 0; evil(23) = 0; evil(24) = 0; evil(25) = 0x80.toByte
    assert(graft.expr.BmpDecode.compute(evil) == null)
    // channel means over the golden pixels: r=(255+10)/4, g=(255+20)/4, b=(255+30)/4
    val means = df.filter($"id" === 1)
      .select(graft.exprapi.rgbMeans(graft.exprapi.bmpDecode($"content")("rgb")).as("m"))
      .as[Seq[Double]].head()
    assert(means.take(3) === Seq(265.0 / 4, 275.0 / 4, 285.0 / 4))
    val wantLuma = (299L * 265 + 587L * 275 + 114L * 285).toDouble / (1000.0 * 4)
    assert(math.abs(means(3) - wantLuma) < 1e-12)
  }

  test("rgb_resize + resizeImages: golden pixels up/down, shape contract, corrupt→NULL") {
    // kernel: 2x2 distinct corners upscaled 4x4 → each corner tiles 2x2
    val rgb = Array[Byte](
      255.toByte, 0, 0, 0, 255.toByte, 0,
      0, 0, 255.toByte, 10, 20, 30)
    val up = graft.expr.RgbResize.compute(rgb, 2, 2, 4, 4)
    assert(up.length === 4 * 4 * 3)
    def px(buf: Array[Byte], w: Int, x: Int, y: Int): Seq[Int] =
      (0 to 2).map(c => buf((y * w + x) * 3 + c) & 0xff)
    assert(px(up, 4, 0, 0) === Seq(255, 0, 0) && px(up, 4, 1, 1) === Seq(255, 0, 0))
    assert(px(up, 4, 2, 0) === Seq(0, 255, 0) && px(up, 4, 3, 1) === Seq(0, 255, 0))
    assert(px(up, 4, 0, 2) === Seq(0, 0, 255))
    assert(px(up, 4, 3, 3) === Seq(10, 20, 30))
    // downscale 4x4 → 2x2 recovers the corners (center sampling)
    assert(graft.expr.RgbResize.compute(up, 4, 4, 2, 2).toSeq === rgb.toSeq)
    // shape mismatch → null, never a reshaped lie
    assert(graft.expr.RgbResize.compute(rgb, 3, 2, 2, 2) == null)

    // DataFrame path over real synthetic BMPs + one corrupt payload
    val assets = Multimodal.syntheticAssets(spark, 6)
    val out = MultimodalSpec.resizeImages(assets.filter($"modality" === "image"), 4, 3)
    val rows = out.select($"resized", $"meta.declared_w", $"meta.declared_h")
      .as[(Array[Byte], Int, Int)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (r, w, h) =>
      assert(r != null && r.length === 4 * 3 * 3 && w === 4 && h === 3)
    }
    val corrupt = Seq((99L, "image", Array[Byte](9, 9, 9))).toDF("asset_id", "modality", "content")
      .withColumn("meta", struct(lit("t").as("source"),
        lit(1).as("declared_w"), lit(1).as("declared_h")))
    val bad = MultimodalSpec.resizeImages(corrupt, 4, 3).select($"resized").head()
    assert(bad.isNullAt(0), "corrupt payload must resize to NULL, not stub bytes")
  }

  test("decodeFeatures: REAL decode on every image, audio, and video asset") {
    val out = Multimodal.decodeFeatures(Multimodal.syntheticAssets(spark, 30))
    val images = out.filter($"modality" === "image")
    assert(images.filter($"img".isNull).count() === 0,
      "every synthetic image must decode as a real BMP")
    val dims = images.select($"img.w", $"img.h").distinct().as[(Int, Int)].collect().toSeq
    assert(dims === Seq((Multimodal.SyntheticImageW, Multimodal.SyntheticImageH)))
    // image features are channel means of real pixels: 4 values in [0,255]
    val feats = images.select($"features").as[Seq[Double]].collect()
    assert(feats.forall(f => f.length === 4 && f.forall(v => v >= 0.0 && v <= 255.0)))
    // audio: every synthetic WAV decodes; stats on the declared mono/16k contract
    val audio = out.filter($"modality" === "audio")
    assert(audio.filter($"aud".isNull).count() === 0,
      "every synthetic audio asset must decode as a real PCM16 WAV")
    val meta = audio.select($"aud.channels", $"aud.sample_rate", $"aud.n_samples")
      .distinct().as[(Int, Int, Int)].collect().toSeq
    assert(meta === Seq((1, Multimodal.SyntheticSampleRate, 8 * 16 / 2)))
    // audio features are sample stats: [mean, rms, peak, zcr], all in [-1,1]
    val afeats = audio.select($"features").as[Seq[Double]].collect()
    assert(afeats.forall(f => f.length === 4 && f.forall(v => v >= -1.0 && v <= 1.0)))
    // video: every synthetic Y4M decodes; luma-plane byte stats in [0,1]
    val video = out.filter($"modality" === "video")
    assert(video.filter($"vid".isNull).count() === 0,
      "every synthetic video asset must decode as a real Y4M stream")
    val vmeta = video.select($"vid.w", $"vid.h", $"vid.n_frames")
      .distinct().as[(Int, Int, Int)].collect().toSeq
    assert(vmeta === Seq((Multimodal.SyntheticImageW, Multimodal.SyntheticImageH,
      Multimodal.SyntheticVideoFrames)))
    val vfeats = video.select($"features").as[Seq[Double]].collect()
    assert(vfeats.forall(f => f.length === 4 && f.forall(v => v >= 0.0 && v <= 1.0)))
  }

  test("wav_decode: golden bytes — chunk walk, PCM16 frames, stats, invalid→NULL") {
    // 4 mono samples: 0, 16384 (half scale), -16384, -32768 (peak)
    val pcm = Array[Byte](0, 0, 0, 64, 0, 192.toByte, 0, 128.toByte)
    val wav = graft.expr.WavDecode.encode(1, 16000, pcm)
    assert(wav.length === 44 + 8)
    val decoded = graft.expr.WavDecode.compute(wav)
    assert(decoded != null)
    assert(decoded.getInt(0) === 1 && decoded.getInt(1) === 16000 && decoded.getInt(2) === 4)
    assert(decoded.getBinary(3).toSeq === pcm.toSeq, "decode(encode(x)) == x")

    // expression path incl. null for non-WAV payloads and truncated files
    val df = Seq(
      (1L, wav), (2L, Array[Byte](1, 2, 3)), (3L, "RIFFxxxxWAVEtruncated".getBytes)
    ).toDF("id", "content")
    val got = df.select($"id", graft.exprapi.wavDecode($"content").as("a"))
      .select($"id", $"a".isNull.as("bad"), $"a.n_samples")
      .as[(Long, Boolean, Option[Int])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) === ((false, Some(4))))
    assert(got(2L)._1 === true)
    assert(got(3L)._1 === true)
    // adversarial chunk size near Int.MaxValue: the bounds check must stay
    // in Long (reject as NULL), never wrap negative and crash the task
    val evil = java.util.Arrays.copyOf(wav, wav.length)
    evil(16) = 0xF4.toByte; evil(17) = 0xFF.toByte
    evil(18) = 0xFF.toByte; evil(19) = 0x7F.toByte // fmt size = 0x7FFFFFF4
    assert(graft.expr.WavDecode.compute(evil) == null)
    // stats over the golden samples: mean=(0+16384-16384-32768)/4/32768
    val stats = df.filter($"id" === 1)
      .select(graft.exprapi.pcmStats(graft.exprapi.wavDecode($"content")("pcm")).as("s"))
      .as[Seq[Double]].head()
    assert(stats(0) === -32768.0 / 4 / 32768.0, "mean")
    val wantRms = math.sqrt((0.0 + 16384.0 * 16384 * 2 + 32768.0 * 32768) / 4) / 32768.0
    assert(math.abs(stats(1) - wantRms) < 1e-12, "rms")
    assert(stats(2) === 1.0, "peak is full scale")
    // signs: 0(skip), +, -, - → one crossing over 3 transitions
    assert(stats(3) === 1.0 / 3.0, "zero-crossing ratio")
  }

  test("y4m_decode: golden bytes — header parse, frame walk, luma concat, invalid→NULL") {
    // 2 frames of 2x2 mono luma
    val y = Array[Byte](0, 64, 128.toByte, 255.toByte, 10, 20, 30, 40)
    val y4m = graft.expr.Y4mDecode.encode(2, 2, 2, y)
    val decoded = graft.expr.Y4mDecode.compute(y4m)
    assert(decoded != null)
    assert(decoded.getInt(0) === 2 && decoded.getInt(1) === 2 && decoded.getInt(2) === 2)
    assert(decoded.getBinary(3).toSeq === y.toSeq, "decode(encode(x)) == x")
    // truncated payload (missing luma bytes) must be rejected, not mis-sliced
    assert(graft.expr.Y4mDecode.compute(y4m.dropRight(1)) == null)
    // header-claimed dims whose product overflows Int must reject as NULL,
    // not index negatively or allocate a negative array
    val evil = "YUV4MPEG2 W46341 H46341 Cmono\nFRAME\n".getBytes("US-ASCII")
    assert(graft.expr.Y4mDecode.compute(evil) == null)

    val df = Seq(
      (1L, y4m), (2L, Array[Byte](1, 2, 3)), (3L, "YUV4MPEG2 W2 H2\n".getBytes)
    ).toDF("id", "content")
    val got = df.select($"id", graft.exprapi.y4mDecode($"content").as("v"))
      .select($"id", $"v".isNull.as("bad"), $"v.n_frames")
      .as[(Long, Boolean, Option[Int])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) === ((false, Some(2))))
    assert(got(2L)._1 === true)
    assert(got(3L)._1 === true, "header with no frames is not a video")
    // byte stats over the golden luma: mean=(0+64+128+255+10+20+30+40)/8/255
    val stats = df.filter($"id" === 1)
      .select(graft.exprapi.byteStats(graft.exprapi.y4mDecode($"content")("y")).as("s"))
      .as[Seq[Double]].head()
    assert(stats(0) === 547.0 / 8 / 255.0, "mean")
    assert(stats(2) === 0.0 && stats(3) === 1.0, "min 0, max 255")
  }

  test("videoFrameFeatures: one row per frame, stats equal direct plane slices") {
    val assets = Multimodal.syntheticAssets(spark, 9)
    val frames = Multimodal.videoFrameFeatures(assets)
      .as[(Long, Int, Seq[Double])].collect()
    val videoIds = assets.filter($"modality" === "video")
      .select($"asset_id").as[Long].collect().toSet
    assert(frames.map(_._1).toSet === videoIds, "only video assets decode")
    assert(frames.count(_._1 == frames.head._1) === Multimodal.SyntheticVideoFrames)
    // frame 0 features == byteStats of the first w*h luma bytes, computed directly
    val lumaLen = Multimodal.SyntheticImageW * Multimodal.SyntheticImageH
    val direct = assets.filter($"asset_id" === frames.head._1)
      .select(graft.exprapi.byteStats(
        graft.exprapi.y4mDecode($"content")("y").substr(1, lumaLen)).as("f"))
      .as[Seq[Double]].head()
    val f0 = frames.find(f => f._1 == frames.head._1 && f._2 == 0).get._3
    assert(f0 === direct)
    // md5-derived planes: consecutive frames must differ
    val f1 = frames.find(f => f._1 == frames.head._1 && f._2 == 1).get._3
    assert(f0 !== f1, "distinct frames must yield distinct stats")
  }

  test("audioWindowFeatures: one row per whole window, golden RMS/ZCR per " +
      "window, short clips excluded") {
    // 12 mono samples, windows of 4: [half-scale DC] [silence] [alternating]
    def s16(v: Int): Array[Byte] =
      Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    val pcm = (Seq.fill(4)(16384) ++ Seq.fill(4)(0) ++
      Seq(-16384, 16384, -16384, 16384)).flatMap(s16).toArray
    val wav = graft.expr.WavDecode.encode(1, 8000, pcm)
    val tiny = graft.expr.WavDecode.encode(1, 8000, s16(5) ++ s16(-5))
    val assets = Seq((1L, "audio", wav), (2L, "audio", tiny))
      .toDF("asset_id", "modality", "content")
    val rows = Multimodal.audioWindowFeatures(assets, windowSamples = 4)
      .select($"asset_id", $"win_no",
        element_at($"features", 2).as("rms"),
        element_at($"features", 4).as("zcr"))
      .as[(Long, Int, Double, Double)].collect().sortBy(r => (r._1, r._2))
    // the 2-sample clip is below one window and must be excluded
    assert(rows.forall(_._1 == 1L) && rows.length === 3,
      s"3 whole windows from the 12-sample clip only: ${rows.mkString(", ")}")
    val eps = 1e-12
    assert(math.abs(rows(0)._3 - 16384.0 / 32768.0) < eps, "DC window RMS = 0.5")
    assert(rows(0)._4 === 0.0, "DC window has no crossings")
    assert(rows(1)._3 === 0.0 && rows(1)._4 === 0.0, "silent window")
    assert(math.abs(rows(2)._3 - 16384.0 / 32768.0) < eps)
    assert(rows(2)._4 === 1.0, "alternating signs cross at every step: 3/3")
  }

  test("decodeStub: fixed-width features in [0,1), deterministic (STUB contract)") {
    val feats = Multimodal.decodeStub(Multimodal.syntheticAssets(spark, 6), dims = 12)
      .select($"asset_id", $"features").as[(Long, Seq[Double])].collect().toMap
    assert(feats.values.forall(_.length === 12))
    assert(feats.values.flatten.forall(v => v >= 0.0 && v < 1.0))
    val again = Multimodal.decodeStub(Multimodal.syntheticAssets(spark, 6), dims = 12)
      .select($"asset_id", $"features").as[(Long, Seq[Double])].collect().toMap
    assert(feats === again)
  }

  test("resizeStub: exact w*h*3 output bytes, meta updated, deterministic (STUB contract)") {
    val out = Multimodal.resizeStub(Multimodal.syntheticAssets(spark, 5), w = 4, h = 3)
    val lens = out.select(length($"resized")).distinct().as[Int].collect().toSeq
    assert(lens === Seq(4 * 3 * 3), "RGB24 byte budget must be exact")
    val dims = out.select($"meta.declared_w", $"meta.declared_h")
      .distinct().as[(Int, Int)].collect().toSeq
    assert(dims === Seq((4, 3)))
    val a = out.select($"asset_id", md5($"resized")).as[(Long, String)].collect().toMap
    val b = Multimodal.resizeStub(Multimodal.syntheticAssets(spark, 5), 4, 3)
      .select($"asset_id", md5($"resized")).as[(Long, String)].collect().toMap
    assert(a === b)
    // modality and payload untouched
    assert(out.columns.contains("content") && out.columns.contains("modality"))
  }

  test("featureStats: one row per modality, every image decoded, positive norms") {
    val stats = MultimodalSpec.featureStats(Multimodal.syntheticAssets(spark, 30))
      .as[(String, Long, Long, Double)].collect()
    assert(stats.length === 3)
    assert(stats.map(_._2).sum === 30)
    assert(stats.forall(_._4 > 0.0))
    val byMod = stats.map(s => s._1 -> s).toMap
    assert(byMod("image")._3 === byMod("image")._2, "n_decoded == n_assets for images")
    assert(byMod("audio")._3 === byMod("audio")._2, "n_decoded == n_assets for audio")
    assert(byMod("video")._3 === byMod("video")._2, "n_decoded == n_assets for video")
  }

  test("dhash64: deterministic, shape-strict, brightness-shift invariant, " +
      "unrelated images far apart") {
    val rnd = new scala.util.Random(11)
    val px = Array.fill(9 * 8 * 3)(rnd.nextInt(256).toByte)
    val h1 = graft.expr.DHash64.compute(px)
    assert(h1 != null && h1 === graft.expr.DHash64.compute(px.clone()))
    assert(graft.expr.DHash64.compute(px.take(100)) == null,
      "non-9x8x3 buffers must be NULL, not misread")
    // uniform brightness shift: every gray moves together -> same hash
    val brighter = px.map(b => math.min(255, (b & 0xff) + 40).toByte)
    val clipped = px.exists(b => (b & 0xff) + 40 > 255)
    if (!clipped)
      assert(graft.expr.DHash64.compute(brighter) === h1,
        "uniform brightness shift must not change the gradient hash")
    // unrelated random images: expect ~32 differing bits, never near 0
    val other = Array.fill(9 * 8 * 3)(rnd.nextInt(256).toByte)
    val ham = java.lang.Long.bitCount(
      h1.longValue() ^ graft.expr.DHash64.compute(other).longValue())
    assert(ham > 10, s"unrelated images must differ in many bits, got $ham")
  }

  test("imageNearDups: every perturbed copy pairs with its original; " +
      "unrelated originals never pair") {
    val imgs = Multimodal.syntheticAssets(spark, 120)
      .filter(col("modality") === "image") // ids 2,5,8,... -> 40 images
    val copies = imgs.select(
      (col("asset_id") + 1000000L).as("asset_id"),
      col("modality"),
      concat(substring(col("content"), 1, 54),
        lit(Array[Byte](0x7f.toByte)),
        expr("substring(content, 56, length(content) - 55)")).as("content"),
      col("meta"))
    val pairs = Multimodal.imageNearDups(imgs.unionByName(copies))
      .as[(Long, Long, Int)].collect()
    val ids = imgs.select(col("asset_id")).as[Long].collect().toSet
    // recall: (i, i+1e6) present for every original — the single-pixel
    // perturbation can move at most a couple of gradient bits
    val expected = ids.map(i => (i, i + 1000000L))
    val got = pairs.map(p => (math.min(p._1, p._2), math.max(p._1, p._2))).toSet
    assert(expected.subsetOf(got),
      s"missing ${expected -- got} original→copy pairs")
    // precision: no two DIFFERENT base images pair (md5 content is
    // effectively random — 64-bit gradient hashes land ~32 bits apart)
    val crossBase = got.filter { case (a, b) =>
      (b - a) != 1000000L && !(a >= 1000000L) }
    assert(crossBase.isEmpty, s"unrelated originals paired: $crossBase")
    pairs.foreach(p => assert(p._3 <= 7))
  }

  test("audioHash64: gain-invariant, length-strict; audioNearDups pairs " +
      "every perturbed copy with its original") {
    // gain invariance: doubling every sample preserves all energy-<
    val rnd = new scala.util.Random(13)
    val samples = Array.fill(400)((rnd.nextInt(20000) - 10000).toShort)
    def bytes(ss: Array[Short]): Array[Byte] = {
      val b = new Array[Byte](ss.length * 2)
      ss.indices.foreach { i =>
        b(2 * i) = (ss(i) & 0xff).toByte; b(2 * i + 1) = (ss(i) >> 8).toByte }
      b
    }
    val h = graft.expr.AudioHash64.compute(bytes(samples))
    val gained = samples.map(s => (s * 2).toShort) // no clip at ±20000
    assert(graft.expr.AudioHash64.compute(bytes(gained)) === h,
      "uniform gain must not change the energy-delta hash")
    assert(graft.expr.AudioHash64.compute(bytes(samples.take(100))) == null,
      "clips under 130 samples must hash NULL")

    val auds = Multimodal.syntheticAssets(spark, 120, payloadBlocks = 64)
      .filter(col("modality") === "audio") // 40 clips
    val copies = auds.select(
      (col("asset_id") + 1000000L).as("asset_id"),
      col("modality"),
      concat(substring(col("content"), 1, 556),
        lit(Array[Byte](0x7f.toByte)),
        expr("substring(content, 558, length(content) - 557)")).as("content"),
      col("meta"))
    val pairs = Multimodal.audioNearDups(auds.unionByName(copies))
      .as[(Long, Long, Int)].collect()
    val ids = auds.select(col("asset_id")).as[Long].collect().toSet
    val got = pairs.map(p => (math.min(p._1, p._2), math.max(p._1, p._2))).toSet
    val expected = ids.map(i => (i, i + 1000000L))
    assert(expected.subsetOf(got),
      s"missing ${expected -- got} original→copy pairs")
    val crossBase = got.filter { case (a, b) =>
      (b - a) != 1000000L && !(a >= 1000000L) }
    assert(crossBase.isEmpty, s"unrelated clips paired: $crossBase")
  }

  test("q474 shot boundaries: a cut only ever lands at the planted shot " +
      "change (frame 4), never inside a shot; ≥98% of clips detect it") {
    // within a shot the frames are IDENTICAL (hamming 0), so a false
    // positive is impossible — n_cuts ≤ 1 and first_cut ∈ {-1, 4} are
    // exact invariants. Across the shot change two independent md5
    // frames sit ~28±5 bits apart, so a >16 threshold MISSES ~0.6% of
    // clips by chance — real detector behavior, tolerated at 2%.
    val out = SparkEntry.queries("q474_shot_boundaries")(spark, TestSpark.sf)
      .collect()
    assert(out.length === 300)
    out.foreach { r =>
      assert(r.getAs[Long]("n_frames") === 8L, r.toString)
      assert(r.getAs[Long]("n_cuts") <= 1L, r.toString)
      assert(Set(-1L, 4L).contains(r.getAs[Long]("first_cut")), r.toString)
      assert((r.getAs[Long]("n_cuts") === 1L) ===
        (r.getAs[Long]("first_cut") === 4L), r.toString)
    }
    val detected = out.count(_.getAs[Long]("n_cuts") === 1L)
    assert(detected >= 294, s"only $detected/300 clips detected the cut")
  }

  test("vhash64: majority fold is frame-drop tolerant and shape-strict; " +
      "videoNearDups pairs every perturbed copy with its original") {
    // unit laws on the kernel itself
    val w = 8; val h = 6
    val rnd = new scala.util.Random(29)
    val f1 = Array.fill(w * h)(rnd.nextInt(256).toByte)
    val f2 = Array.fill(w * h)(rnd.nextInt(256).toByte)
    def cat(fs: Array[Byte]*): Array[Byte] = fs.flatten.toArray
    val h12 = graft.expr.VHash64.compute(cat(f1, f2), w, h, 2, 1)
    assert(h12 != null)
    // duplicating a frame cannot flip a decided majority bit: the
    // 3-frame (f1,f1,f2) fold equals the f1 hash wherever f1's bit had
    // 2 of 3 votes — in particular hamming((f1,f1,f2), f1-only) counts
    // only bits f2 alone set via the tie rule, which the 2/3 majority
    // removes: (f1,f1,f2) == (f1,f1) fold exactly... state the testable
    // law directly: a single-frame video hashes to that frame's dHash
    val h1 = graft.expr.VHash64.compute(f1, w, h, 1, 1)
    val h112 = graft.expr.VHash64.compute(cat(f1, f1, f2), w, h, 3, 1)
    assert(h1 != null && h112 != null)
    assert(java.lang.Long.bitCount(h1 ^ h112) === 0,
      "2-of-3 majority must equal the repeated frame's own hash")
    // stride sampling: stride 2 over (f1, f2, f1) samples frames 0 and 2
    val h_strided = graft.expr.VHash64.compute(cat(f1, f2, f1), w, h, 3, 2)
    assert(h_strided === h1, "stride-2 sampling must skip the middle frame")
    // shape strictness: wrong byte count or bad dims hash NULL
    assert(graft.expr.VHash64.compute(cat(f1, f2), w, h, 3, 1) == null)
    assert(graft.expr.VHash64.compute(f1, 0, h, 1, 1) == null)

    // end-to-end recall/precision over the q466 corpus construction
    val vids = Multimodal.syntheticAssets(spark, 120)
      .filter(col("modality") === "video") // ids ≡ 2 mod 3 -> 40 videos
    val copies = vids.select(
      (col("asset_id") + 1000000L).as("asset_id"),
      col("modality"),
      concat(substring(col("content"), 1, 60),
        lit(Array[Byte](0x7f.toByte)),
        expr("substring(content, 62, length(content) - 61)")).as("content"),
      col("meta"))
    val pairs = Multimodal.videoNearDups(vids.unionByName(copies))
      .as[(Long, Long, Int)].collect()
    val ids = vids.select(col("asset_id")).as[Long].collect().toSet
    assert(ids.size === 40)
    val got = pairs.map(p => (math.min(p._1, p._2), math.max(p._1, p._2))).toSet
    // recall: the perturbed luma byte sits at pixel (2,2) of frame 1 —
    // sampled by exactly one 9×8 grid cell, so ≤2 gradient bits move
    val expected = ids.map(i => (i, i + 1000000L))
    assert(expected.subsetOf(got),
      s"missing ${expected -- got} original→copy pairs")
    // precision: no two DIFFERENT base videos pair (md5 luma is
    // effectively random — folds land ~32 bits apart)
    val crossBase2 = got.filter { case (a, b) =>
      (b - a) != 1000000L && !(a >= 1000000L) }
    assert(crossBase2.isEmpty, s"unrelated videos paired: $crossBase2")
    pairs.foreach(p => assert(p._3 <= 7))
  }
}
