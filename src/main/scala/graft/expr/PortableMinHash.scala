package graft.expr

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Engine-portable MinHash signature: `portable_minhash(shingles, k)` →
  * `array<long>`, the k minima over the shingles of hash family j =
  * a 15-hex-digit (60-bit) slice of `md5(⌈j/2⌉ ‖ ':' ‖ shingle)`: odd j
  * takes hex digits 1–15, even j takes 16–30, so each digest feeds two
  * families and a shingle costs ⌈k/2⌉ md5 digests. DuckDB computes the
  * same value as `CAST('0x' || substr(md5(...), off, 15) AS BIGINT)`
  * (md5 hex matches across engines, and 60 bits fit a signed long), which
  * is what makes [[graft.llm.Dedup.bandBuckets]] oracle-replayable. For
  * the throughput path see [[MinHashSignature]].
  *
  * One pass per row: the slices are read straight from the digest bytes
  * (no hex string, `substring` or `conv`), so a signature is a
  * projection, not an explode and a per-document min aggregate. Null
  * shingles are skipped; a row with no non-null shingle (empty or null
  * input) yields k null elements, as `array_min` of an empty array does.
  */
case class PortableMinHash(child: Expression, numHashes: Int)
    extends UnaryExpression {
  require(numHashes >= 1, s"numHashes must be >= 1, got $numHashes")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"portable_minhash requires array<string>, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = false
  override def prettyName: String = "portable_minhash"

  override def eval(input: InternalRow): Any =
    PortableMinHash.compute(child.eval(input).asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} = graft.expr.PortableMinHash.compute(
        ${c.isNull} ? null : ${c.value}, $numHashes);""", isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): PortableMinHash =
    copy(child = newChild)
}

object PortableMinHash {
  private val Md5 = ThreadLocal.withInitial[MessageDigest](() => MessageDigest.getInstance("MD5"))

  /** The k minima of `arr`'s shingles (null `arr` reads as empty). */
  def compute(arr: ArrayData, k: Int): ArrayData = {
    val md = Md5.get()
    val digest = new Array[Byte](16)
    val prefixes = Array.tabulate((k + 1) / 2)(m => s"${m + 1}:".getBytes(UTF_8))
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var seen = false
    val n = if (arr == null) 0 else arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        seen = true
        val s = arr.getUTF8String(i).getBytes
        var m = 0
        while (m < prefixes.length) {
          md.update(prefixes(m))
          md.update(s)
          md.digest(digest, 0, 16)
          // digest bytes 0..7 hold hex digits 1..16, bytes 7..14 digits 15..30
          val odd = bigEndianLong(digest, 0) >>> 4
          if (odd < mins(2 * m)) mins(2 * m) = odd
          if (2 * m + 1 < k) {
            val even = bigEndianLong(digest, 7) & 0x0FFFFFFFFFFFFFFFL
            if (even < mins(2 * m + 1)) mins(2 * m + 1) = even
          }
          m += 1
        }
      }
      i += 1
    }
    if (seen) new GenericArrayData(mins)
    else new GenericArrayData(new Array[Any](k))
  }

  private def bigEndianLong(b: Array[Byte], off: Int): Long = {
    var v = 0L
    var i = off
    while (i < off + 8) { v = (v << 8) | (b(i) & 0xFF); i += 1 }
    v
  }
}
