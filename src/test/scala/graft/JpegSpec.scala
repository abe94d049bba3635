package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.expr.JpegDecode
import graft.multimodal.Multimodal

/** Baseline-JPEG decoder (ITU-T T.81 SOF0) checks: encode-mirror round
  * trips at several shapes and quantization levels, exact flat-block
  * reconstruction, rejection of foreign/truncated payloads, and the
  * Spark-side column path (coalesce with BMP in the image stage). */
class JpegSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def seededRgb(w: Int, h: Int, seed: String): Array[Byte] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val rgb = new Array[Byte](w * h * 3)
    var off = 0
    var b = 0
    while (off < rgb.length) {
      val block = md.digest(s"${seed}_$b".getBytes("UTF-8"))
      val take = math.min(16, rgb.length - off)
      System.arraycopy(block, 0, rgb, off, take)
      off += take
      b += 1
    }
    rgb
  }

  private def maxAbsDiff(a: Array[Byte], b: Array[Byte]): Int = {
    assert(a.length === b.length)
    a.indices.map(i => math.abs((a(i) & 0xff) - (b(i) & 0xff))).max
  }

  test("flat-color 8x8: near-lossless round trip (DC-only block)") {
    // a flat block has only a DC coefficient; with a flat quant table of 1
    // the pipeline's only loss is YCbCr fixed-point rounding
    for (rgbVal <- Seq((128, 128, 128), (255, 0, 0), (0, 255, 0), (7, 200, 90))) {
      val (r, g, b) = rgbVal
      val rgb = Array.fill(8 * 8)(Array(r.toByte, g.toByte, b.toByte)).flatten
      val jpg = JpegDecode.encode(8, 8, rgb, quantVal = 1)
      val dec = JpegDecode.compute(jpg)
      assert(dec != null, s"flat $rgbVal must decode")
      assert(dec.getInt(0) === 8 && dec.getInt(1) === 8)
      assert(maxAbsDiff(dec.getBinary(2), rgb) <= 3,
        s"flat $rgbVal: color round trip must be within fixed-point rounding")
    }
  }

  test("seeded-noise round trip: 16x16 color within DCT tolerance; grayscale tighter") {
    val rgb = seededRgb(16, 16, "rt16")
    val dec = JpegDecode.compute(JpegDecode.encode(16, 16, rgb, quantVal = 1))
    assert(dec != null)
    assert(dec.getInt(0) === 16 && dec.getInt(1) === 16)
    // quant=1 loses only fdct rounding (≤0.5/coef) + YCbCr fixed point;
    // worst-case accumulation over 64 coefficients stays single-digit
    assert(maxAbsDiff(dec.getBinary(2), rgb) <= 8,
      "near-lossless color round trip must stay within DCT rounding")

    val grayRgb = rgb.grouped(3).flatMap { p =>
      val y = ((19595 * (p(0) & 0xff) + 38470 * (p(1) & 0xff) +
        7471 * (p(2) & 0xff)) >> 16).toByte
      Seq(y, y, y)
    }.toArray
    val gdec = JpegDecode.compute(JpegDecode.encode(16, 16, grayRgb,
      quantVal = 1, gray = true))
    assert(gdec != null)
    val gout = gdec.getBinary(2)
    assert(gout.grouped(3).forall(p => p(0) == p(1) && p(1) == p(2)),
      "grayscale decode must emit R=G=B")
    assert(maxAbsDiff(gout, grayRgb) <= 4, "single-component round trip")
  }

  test("non-multiple-of-8 dims: encoder edge-replicates, decoder crops to exact w*h") {
    for ((w, h) <- Seq((10, 6), (7, 13), (1, 1), (9, 8))) {
      val rgb = seededRgb(w, h, s"dims_${w}x$h")
      val dec = JpegDecode.compute(JpegDecode.encode(w, h, rgb, quantVal = 1))
      assert(dec != null, s"${w}x$h must decode")
      assert(dec.getInt(0) === w && dec.getInt(1) === h)
      assert(dec.getBinary(2).length === w * h * 3,
        s"${w}x$h: decoded buffer must be cropped to exact size")
      assert(maxAbsDiff(dec.getBinary(2), rgb) <= 8, s"${w}x$h round trip")
    }
  }

  test("real quantization (flat 16): decodes with bounded loss, not garbage") {
    val rgb = seededRgb(24, 16, "q16")
    val dec = JpegDecode.compute(JpegDecode.encode(24, 16, rgb, quantVal = 16))
    assert(dec != null)
    val out = dec.getBinary(2)
    val meanErr = rgb.indices.map(i =>
      math.abs((rgb(i) & 0xff) - (out(i) & 0xff))).sum.toDouble / rgb.length
    // per-coefficient error is ±quant/2; spatial-domain mean error stays
    // well under the quant step for noise content
    assert(meanErr < 16.0, s"quantized round trip mean error $meanErr")
  }

  test("foreign and malformed payloads are NULL, never stub values") {
    assert(JpegDecode.compute(null) == null)
    assert(JpegDecode.compute(Array[Byte]()) == null)
    assert(JpegDecode.compute("not a jpeg at all".getBytes) == null)
    // a valid BMP is not a JPEG
    val bmp = graft.expr.BmpDecode.encode(2, 2, new Array[Byte](12))
    assert(JpegDecode.compute(bmp) == null)
    // truncation at every eighth byte must fail cleanly, not throw
    val jpg = JpegDecode.encode(8, 8, seededRgb(8, 8, "trunc"))
    var i = 2
    while (i < jpg.length - 1) {
      assert(JpegDecode.compute(jpg.take(i)) == null, s"truncated at $i")
      i += 8
    }
    // progressive SOF2 is declared out of scope: flip the SOF marker
    val prog = jpg.clone()
    val sofAt = prog.indices.find(i =>
      (prog(i) & 0xff) == 0xff && (prog(i + 1) & 0xff) == 0xc0).get
    prog(sofAt + 1) = 0xc2.toByte
    assert(JpegDecode.compute(prog) == null, "progressive must be rejected")
  }

  test("column path: jpeg_decode in the image stage; synthetic JPEGs all decode") {
    val assets = Multimodal.syntheticJpegAssets(spark, 64)
    val decoded = assets
      .select($"asset_id",
        coalesce(graft.exprapi.bmpDecode($"content"),
          graft.exprapi.jpegDecode($"content")).as("img"))
    assert(decoded.filter($"img".isNull).count() === 0,
      "every synthetic JPEG payload must decode through the coalesce stage")
    val dims = decoded.select($"img.w", $"img.h").distinct()
      .as[(Int, Int)].collect().toSeq
    assert(dims === Seq((Multimodal.SyntheticImageW, Multimodal.SyntheticImageH)))
    // deterministic across invocations (content-addressed generation)
    val d1 = Multimodal.syntheticJpegAssets(spark, 16)
      .select(md5($"content")).as[String].collect().toSeq
    val d2 = Multimodal.syntheticJpegAssets(spark, 16)
      .select(md5($"content")).as[String].collect().toSeq
    assert(d1 === d2)
  }

  test("differential vs javax.imageio: our encoder's files decode identically (±4) in the JDK codec") {
    // javax.imageio ships an INDEPENDENT JPEG implementation — if our
    // encoder and decoder shared a mirrored bug (swapped zigzag, wrong
    // Huffman table, transposed DCT), the JDK codec would reject the file
    // or produce divergent pixels. Differences within ±4 are IDCT/color
    // rounding between implementations.
    for ((w, h, seed) <- Seq((16, 16, "io_a"), (10, 6, "io_b"), (24, 8, "io_c"))) {
      val rgb = seededRgb(w, h, seed)
      val jpg = JpegDecode.encode(w, h, rgb, quantVal = 1)
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(jpg))
      assert(img != null, s"JDK codec must accept our baseline stream ($seed)")
      assert(img.getWidth === w && img.getHeight === h)
      val ours = JpegDecode.compute(jpg).getBinary(2)
      var maxD = 0
      for (y <- 0 until h; x <- 0 until w) {
        val p = img.getRGB(x, y)
        val o = (y * w + x) * 3
        maxD = math.max(maxD, math.abs(((p >> 16) & 0xff) - (ours(o) & 0xff)))
        maxD = math.max(maxD, math.abs(((p >> 8) & 0xff) - (ours(o + 1) & 0xff)))
        maxD = math.max(maxD, math.abs((p & 0xff) - (ours(o + 2) & 0xff)))
      }
      assert(maxD <= 4, s"$seed: JDK codec and ours must agree on the same " +
        s"bitstream, max channel diff $maxD")
    }
  }

  test("differential vs javax.imageio: JDK-encoded files (4:2:0 in the wild) decode within tolerance") {
    // the reverse direction exercises subsampling: the JDK writer emits
    // JFIF-default 4:2:0 chroma, so this pins our sampling-factor MCU
    // geometry and chroma upsample against an independent encoder. A
    // smooth gradient keeps legitimate upsample-filter differences small.
    val w = 32
    val h = 24
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, ((x * 8) << 16) | ((y * 10) << 8) | (255 - x * 4))
    val baos = new java.io.ByteArrayOutputStream()
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
    val params = writer.getDefaultWriteParam
    params.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    params.setCompressionQuality(0.95f)
    writer.setOutput(javax.imageio.ImageIO.createImageOutputStream(baos))
    writer.write(null, new javax.imageio.IIOImage(img, null, null), params)
    writer.dispose()
    val jpg = baos.toByteArray
    val dec = JpegDecode.compute(jpg)
    assert(dec != null, "JDK-encoded baseline JPEG must decode")
    assert(dec.getInt(0) === w && dec.getInt(1) === h)
    val ours = dec.getBinary(2)
    val ref = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(jpg))
    var sumD = 0L
    var maxD = 0
    for (y <- 0 until h; x <- 0 until w) {
      val p = ref.getRGB(x, y)
      val o = (y * w + x) * 3
      val ds = Seq(
        math.abs(((p >> 16) & 0xff) - (ours(o) & 0xff)),
        math.abs(((p >> 8) & 0xff) - (ours(o + 1) & 0xff)),
        math.abs((p & 0xff) - (ours(o + 2) & 0xff)))
      sumD += ds.sum
      maxD = math.max(maxD, ds.max)
    }
    val meanD = sumD.toDouble / (w * h * 3)
    assert(meanD <= 3.0 && maxD <= 24,
      s"independent-encoder decode drift too large: mean=$meanD max=$maxD " +
        "(upsample-filter differences should stay small on a gradient)")
  }

  test("featureStats over mixed BMP+JPEG images: every image payload real-decodes") {
    val mixed = Multimodal.syntheticAssets(spark, 90)
      .unionByName(Multimodal.syntheticJpegAssets(spark, 30))
    val stats = MultimodalSpec.featureStats(mixed)
      .select($"modality", $"n_assets", $"n_decoded")
      .as[(String, Long, Long)].collect()
      .map { case (m, a, d) => m -> (a, d) }.toMap
    val (imgAssets, imgDecoded) = stats("image")
    assert(imgAssets === 30 + 30, "90 assets split 3 modalities + 30 jpegs")
    assert(imgDecoded === imgAssets,
      "every image payload (BMP and JPEG alike) must really decode")
  }
}
