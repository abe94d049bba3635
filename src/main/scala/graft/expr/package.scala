package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Column-API surface for graft's native catalyst expressions — usable on
  * ANY SparkSession (no registration needed; the expressions are wrapped
  * directly). For SQL-string access register [[GraftExtensions]] via
  * `spark.sql.extensions`.
  */
package object exprapi {

  /** `array<string>` shingles → `array<long>` MinHash signature (k minima,
    * xxhash64 double-hashing). See [[graft.expr.MinHashSignature]]. */
  def minhashSig(shingles: Column, numHashes: Int): Column =
    ColumnBridge.column(
      expr.MinHashSignature(ColumnBridge.expression(shingles), numHashes))

  /** `array<string>` shingles → `array<long>` engine-portable MinHash
    * signature (k minima of 60-bit md5 slices). See
    * [[graft.expr.PortableMinHash]]. */
  def portableMinHash(shingles: Column, numHashes: Int): Column =
    ColumnBridge.column(
      expr.PortableMinHash(ColumnBridge.expression(shingles), numHashes))

  /** `array<string>` tokens → 64-bit SimHash sketch. */
  def simhash64(tokens: Column): Column =
    ColumnBridge.column(expr.SimHash64(ColumnBridge.expression(tokens)))

  /** Fused integer-quantized dot product of two `array<float>` columns. */
  def quantizedDotFast(a: Column, b: Column): Column =
    ColumnBridge.column(expr.QuantizedDotProduct(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Exact dot product of two int8-quantized `array<tinyint>` columns. */
  def int8Dot(a: Column, b: Column): Column =
    ColumnBridge.column(expr.Int8DotProduct(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Native w-shingles over a token array (output identical to
    * `TextOps.ngrams(toks, w)`, fused loop instead of interpreted HOF). */
  def wordShingles(tokens: Column, width: Int): Column =
    ColumnBridge.column(expr.WordShingles(ColumnBridge.expression(tokens), width))

  /** O(n) rolling-hash winnowing fingerprints of a string column
    * (Karp–Rabin + monotonic-deque window minima). */
  def winnowFps(text: Column, k: Int, w: Int): Column =
    ColumnBridge.column(expr.WinnowFingerprints(ColumnBridge.expression(text), k, w))

  /** Full Porter (1980) stemmer over a token array — fused codegen loop,
    * element-wise; see [[graft.expr.PorterStem]]. */
  def porterStem(tokens: Column): Column =
    ColumnBridge.column(expr.PorterStem(ColumnBridge.expression(tokens)))

  /** BPE merge-table encode of a pre-token array → flattened subword
    * units; the merge table rides the plan. See [[graft.expr.BpeEncode]]. */
  def bpeEncode(pretokens: Column, merges: Seq[(String, String)]): Column =
    ColumnBridge.column(expr.BpeEncode(ColumnBridge.expression(pretokens), merges))

  /** Uncompressed 24-bit BMP decode: binary → struct(w, h, rgb) or NULL.
    * See [[graft.expr.BmpDecode]]. */
  def bmpDecode(content: Column): Column =
    ColumnBridge.column(expr.BmpDecode(ColumnBridge.expression(content)))

  /** Baseline-JPEG decode (ITU-T T.81 SOF0, pure JVM) →
    * `struct<w int, h int, rgb binary>`, NULL for non-JPEG payloads.
    * Same contract as [[bmpDecode]] — compose with `coalesce` for a
    * format-agnostic image stage. See [[graft.expr.JpegDecode]]. */
  def jpegDecode(content: Column): Column =
    ColumnBridge.column(expr.JpegDecode(ColumnBridge.expression(content)))

  /** Channel means over an RGB24 buffer → [r, g, b, luma]. */
  def rgbMeans(rgb: Column): Column =
    ColumnBridge.column(expr.RgbMeans(ColumnBridge.expression(rgb)))

  /** Real nearest-neighbor resize of an RGB24 buffer to a fixed target
    * shape (integer center sampling). See [[graft.expr.RgbResize]]. */
  def rgbResize(rgb: Column, w: Column, h: Column, dstW: Int, dstH: Int): Column =
    ColumnBridge.column(expr.RgbResize(
      ColumnBridge.expression(rgb), ColumnBridge.expression(w),
      ColumnBridge.expression(h), dstW, dstH))

  /** dHash perceptual fingerprint of a 9×8 RGB24 buffer → 64-bit long
    * (NULL on shape mismatch). See [[graft.expr.DHash64]]. */
  def dhash64(rgb: Column): Column =
    ColumnBridge.column(expr.DHash64(ColumnBridge.expression(rgb)))

  /** Energy-delta fingerprint of a PCM16 mono buffer → 64-bit long
    * (NULL under 130 samples). See [[graft.expr.AudioHash64]]. */
  def audioHash64(pcm: Column): Column =
    ColumnBridge.column(expr.AudioHash64(ColumnBridge.expression(pcm)))

  /** Majority-folded per-frame gradient fingerprint of a decoded Y4M
    * luma stream → 64-bit long (NULL on shape mismatch). See
    * [[graft.expr.VHash64]]. */
  def vhash64(y: Column, w: Column, h: Column, nFrames: Column,
      stride: Int = 1): Column =
    ColumnBridge.column(expr.VHash64(
      ColumnBridge.expression(y), ColumnBridge.expression(w),
      ColumnBridge.expression(h), ColumnBridge.expression(nFrames), stride))

  /** PCM16 RIFF/WAVE decode: binary → struct(channels, sample_rate,
    * n_samples, pcm) or NULL. See [[graft.expr.WavDecode]]. */
  def wavDecode(content: Column): Column =
    ColumnBridge.column(expr.WavDecode(ColumnBridge.expression(content)))

  /** Sample stats over a PCM16LE buffer → [mean, rms, peak, zcr]. */
  def pcmStats(pcm: Column): Column =
    ColumnBridge.column(expr.PcmStats(ColumnBridge.expression(pcm)))

  /** YUV4MPEG2 video decode: binary → struct(w, h, n_frames, y) with all
    * frames' luma planes concatenated, or NULL. See [[graft.expr.Y4mDecode]]. */
  def y4mDecode(content: Column): Column =
    ColumnBridge.column(expr.Y4mDecode(ColumnBridge.expression(content)))

  /** Unsigned-byte stats over a binary buffer → [mean, std, min, max]/255. */
  def byteStats(bytes: Column): Column =
    ColumnBridge.column(expr.ByteStats(ColumnBridge.expression(bytes)))

  /** Product-quantization encode: vector → m nearest-subspace-centroid
    * codes; the codebook rides the plan. See [[graft.expr.PqEncode]]. */
  def pqEncode(v: Column, codebook: Array[Float], m: Int, kc: Int, subDim: Int): Column =
    ColumnBridge.column(expr.PqEncode(ColumnBridge.expression(v), codebook, m, kc, subDim))

  /** Per-query ADC lookup table: m·kc partial dot products against the
    * codebook. See [[graft.expr.PqAdcTable]]. */
  def pqAdcTable(q: Column, codebook: Array[Float], m: Int, kc: Int, subDim: Int): Column =
    ColumnBridge.column(expr.PqAdcTable(ColumnBridge.expression(q), codebook, m, kc, subDim))

  /** Asymmetric-distance approximate dot: m table lookups per candidate.
    * See [[graft.expr.PqAdcDot]]. */
  def pqAdcDot(table: Column, codes: Column, kc: Int): Column =
    ColumnBridge.column(expr.PqAdcDot(
      ColumnBridge.expression(table), ColumnBridge.expression(codes), kc))

  /** Accent folding (NFD + combining-mark removal, ASCII fast path).
    * See [[graft.expr.FoldAccents]]. */
  def foldAccents(s: Column): Column =
    ColumnBridge.column(expr.FoldAccents(ColumnBridge.expression(s)))

  /** Distributed Bloom-filter build: one-pass sketch aggregate over a
    * pre-hashed LONG column (feed it `xxhash64(value)`), yielding the
    * serialized filter bytes. Wraps Spark's own `BloomFilterAggregate` —
    * the sketch the optimizer's runtime row-level filtering uses — so the
    * merge semantics and serialized format are the engine's, not bespoke.
    * `numBits = ceil(-n·ln(fpp)/ln²2)` is the standard optimal sizing.
    *
    * Spark SILENTLY clamps both `numBits` and `estimatedNumItems` to
    * `spark.sql.optimizer.runtime.bloomFilter.{maxNumBits,maxNumItems}`
    * (defaults 67,108,864 bits ≈ 8 MB / 4M items) — beyond ~13M expected
    * items the requested fpp would quietly degrade. To make the sizing
    * contract real, this builder RAISES those session confs when the
    * optimal sizing exceeds them (they are runtime-settable SQLConfs), so
    * e.g. 10⁸ grams at fpp .03 genuinely gets its ~91 MB filter. Callers
    * sharing the session inherit the raised cap — a widen-only change. */
  def bloomFilterAgg(hashed: Column, expectedItems: Long, fpp: Double = 0.03): Column = {
    require(expectedItems > 0, s"expectedItems must be > 0, got $expectedItems")
    require(fpp > 0.0 && fpp < 1.0, s"fpp must be in (0,1), got $fpp")
    val ln2 = math.log(2.0)
    val numBits = math.ceil(-expectedItems * math.log(fpp) / (ln2 * ln2)).toLong
    // BloomFilterAggregate takes min(requested, conf) at eval time; widen
    // the conf first so the requested sizing is the effective sizing.
    val conf = org.apache.spark.sql.SparkSession.active.conf
    val bitsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    val itemsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
    if (conf.get(bitsKey).toLong < numBits) conf.set(bitsKey, numBits)
    if (conf.get(itemsKey).toLong < expectedItems) conf.set(itemsKey, expectedItems)
    ColumnBridge.column(
      new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
        ColumnBridge.expression(hashed),
        org.apache.spark.sql.catalyst.expressions.Literal(expectedItems),
        org.apache.spark.sql.catalyst.expressions.Literal(numBits))
        .toAggregateExpression())
  }

  /** Membership probe against a serialized Bloom filter (foldable binary —
    * a literal of the [[bloomFilterAgg]] bytes): true = maybe present,
    * false = DEFINITELY absent. Codegen'd; the filter deserializes once
    * per task, not per row. Probe with the same `xxhash64(value)` hash
    * that built the filter. */
  def bloomMightContain(bloomBytes: Column, hashed: Column): Column =
    ColumnBridge.column(
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        ColumnBridge.expression(bloomBytes), ColumnBridge.expression(hashed)))

  /** DEFLATE compressed size of a binary payload (fixed level) — the
    * compression-ratio quality signal. See [[graft.expr.DeflateLen]]. */
  def deflateLen(bytes: Column): Column =
    ColumnBridge.column(expr.DeflateLen(ColumnBridge.expression(bytes)))

  /** Misra–Gries frequent-items sketch aggregate: ≤ k counters, one pass,
    * mergeable — candidates ⊇ every item with frequency > N/(k+1).
    * See [[graft.expr.MisraGriesAgg]]. */
  def misraGries(value: Column, k: Int): Column =
    ColumnBridge.column(
      expr.MisraGriesAgg(ColumnBridge.expression(value), k).toAggregateExpression())
}
