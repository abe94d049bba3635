package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, IntegerLiteral}

import graft.expr.{BmpDecode, ByteStats, FoldAccents, Int8DotProduct, MinHashSignature, PcmStats, PorterStem, QuantizedDotProduct, RgbMeans, SimHash64, WavDecode, WinnowFingerprints, WordShingles, Y4mDecode}

/** SQL-surface registration for graft's native expressions
  * (SURVEY.md §7.3 — `SparkSessionExtensions` is the sanctioned extension
  * point). [[graft.GraftSession.builder]] installs it; a session built
  * elsewhere activates it with the conf
  * `spark.sql.extensions=graft.GraftExtensions`. After that
  * `SELECT minhash_sig(shingles, 8)`, `simhash64(tokens)` and
  * `quantized_dot(a, b)` parse as native catalyst expressions (codegen'd —
  * no UDF fence). The Column API in [[graft.exprapi]] needs no registration.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSignature].getName, "minhash_sig"),
      (args: Seq[Expression]) => args match {
        case Seq(arr, IntegerLiteral(k)) => MinHashSignature(arr, k)
        case _ => throw new IllegalArgumentException(
          "minhash_sig(array<string>, <int literal k>)")
      }))

    ext.injectFunction((
      FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      (args: Seq[Expression]) => args match {
        case Seq(arr) => SimHash64(arr)
        case _ => throw new IllegalArgumentException("simhash64(array<string>)")
      }))

    ext.injectFunction((
      FunctionIdentifier("word_shingles"),
      new ExpressionInfo(classOf[WordShingles].getName, "word_shingles"),
      (args: Seq[Expression]) => args match {
        case Seq(arr, IntegerLiteral(w)) => WordShingles(arr, w)
        case _ => throw new IllegalArgumentException(
          "word_shingles(array<string>, <int literal w>)")
      }))

    ext.injectFunction((
      FunctionIdentifier("quantized_dot"),
      new ExpressionInfo(classOf[QuantizedDotProduct].getName, "quantized_dot"),
      (args: Seq[Expression]) => args match {
        case Seq(a, b) => QuantizedDotProduct(a, b)
        case _ => throw new IllegalArgumentException(
          "quantized_dot(array<float>, array<float>)")
      }))

    ext.injectFunction((
      FunctionIdentifier("winnow_fps"),
      new ExpressionInfo(classOf[WinnowFingerprints].getName, "winnow_fps"),
      (args: Seq[Expression]) => args match {
        case Seq(s, IntegerLiteral(k), IntegerLiteral(w)) => WinnowFingerprints(s, k, w)
        case _ => throw new IllegalArgumentException(
          "winnow_fps(string, <int literal k>, <int literal w>)")
      }))

    ext.injectFunction((
      FunctionIdentifier("porter_stem"),
      new ExpressionInfo(classOf[PorterStem].getName, "porter_stem"),
      (args: Seq[Expression]) => args match {
        case Seq(arr) => PorterStem(arr)
        case _ => throw new IllegalArgumentException("porter_stem(array<string>)")
      }))

    ext.injectFunction((
      FunctionIdentifier("bmp_decode"),
      new ExpressionInfo(classOf[BmpDecode].getName, "bmp_decode"),
      (args: Seq[Expression]) => args match {
        case Seq(bin) => BmpDecode(bin)
        case _ => throw new IllegalArgumentException("bmp_decode(binary)")
      }))

    ext.injectFunction((
      FunctionIdentifier("jpeg_decode"),
      new ExpressionInfo(classOf[graft.expr.JpegDecode].getName, "jpeg_decode"),
      (args: Seq[Expression]) => args match {
        case Seq(bin) => graft.expr.JpegDecode(bin)
        case _ => throw new IllegalArgumentException("jpeg_decode(binary)")
      }))

    ext.injectFunction((
      FunctionIdentifier("rgb_means"),
      new ExpressionInfo(classOf[RgbMeans].getName, "rgb_means"),
      (args: Seq[Expression]) => args match {
        case Seq(rgb) => RgbMeans(rgb)
        case _ => throw new IllegalArgumentException("rgb_means(binary)")
      }))

    ext.injectFunction((
      FunctionIdentifier("rgb_resize"),
      new ExpressionInfo(classOf[graft.expr.RgbResize].getName, "rgb_resize"),
      (args: Seq[Expression]) => args match {
        case Seq(rgb, w, h, IntegerLiteral(dw), IntegerLiteral(dh)) =>
          graft.expr.RgbResize(rgb, w, h, dw, dh)
        case _ => throw new IllegalArgumentException(
          "rgb_resize(binary, int w, int h, <int literal dstW>, <int literal dstH>)")
      }))

    ext.injectFunction((
      FunctionIdentifier("wav_decode"),
      new ExpressionInfo(classOf[WavDecode].getName, "wav_decode"),
      (args: Seq[Expression]) => args match {
        case Seq(bin) => WavDecode(bin)
        case _ => throw new IllegalArgumentException("wav_decode(binary)")
      }))

    ext.injectFunction((
      FunctionIdentifier("pcm_stats"),
      new ExpressionInfo(classOf[PcmStats].getName, "pcm_stats"),
      (args: Seq[Expression]) => args match {
        case Seq(pcm) => PcmStats(pcm)
        case _ => throw new IllegalArgumentException("pcm_stats(binary)")
      }))

    ext.injectFunction((
      FunctionIdentifier("y4m_decode"),
      new ExpressionInfo(classOf[Y4mDecode].getName, "y4m_decode"),
      (args: Seq[Expression]) => args match {
        case Seq(bin) => Y4mDecode(bin)
        case _ => throw new IllegalArgumentException("y4m_decode(binary)")
      }))

    ext.injectFunction((
      FunctionIdentifier("byte_stats"),
      new ExpressionInfo(classOf[ByteStats].getName, "byte_stats"),
      (args: Seq[Expression]) => args match {
        case Seq(bin) => ByteStats(bin)
        case _ => throw new IllegalArgumentException("byte_stats(binary)")
      }))

    ext.injectFunction((
      FunctionIdentifier("fold_accents"),
      new ExpressionInfo(classOf[FoldAccents].getName, "fold_accents"),
      (args: Seq[Expression]) => args match {
        case Seq(s) => FoldAccents(s)
        case _ => throw new IllegalArgumentException("fold_accents(string)")
      }))

    ext.injectFunction((
      FunctionIdentifier("int8_dot"),
      new ExpressionInfo(classOf[Int8DotProduct].getName, "int8_dot"),
      (args: Seq[Expression]) => args match {
        case Seq(a, b) => Int8DotProduct(a, b)
        case _ => throw new IllegalArgumentException(
          "int8_dot(array<tinyint>, array<tinyint>)")
      }))

    ext.injectFunction((
      FunctionIdentifier("deflate_len"),
      new ExpressionInfo(classOf[graft.expr.DeflateLen].getName, "deflate_len"),
      (args: Seq[Expression]) => args match {
        case Seq(bin) => graft.expr.DeflateLen(bin)
        case _ => throw new IllegalArgumentException("deflate_len(binary)")
      }))

    // the one AGGREGATE on the surface: builders may return any Expression,
    // so the wrapped AggregateExpression registers like a scalar function
    ext.injectFunction((
      FunctionIdentifier("misra_gries"),
      new ExpressionInfo(classOf[graft.expr.MisraGriesAgg].getName, "misra_gries"),
      (args: Seq[Expression]) => args match {
        case Seq(v, IntegerLiteral(k)) =>
          graft.expr.MisraGriesAgg(v, k).toAggregateExpression()
        case _ => throw new IllegalArgumentException(
          "misra_gries(string, <int literal k>)")
      }))
  }
}
