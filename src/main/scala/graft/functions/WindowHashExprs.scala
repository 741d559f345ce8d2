package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Mod-`stride` sampled window digests — the fused kernel behind
 * [[graft.operators.Dedup.substringDupSpans]]'s window builder. The HOF
 * formulation (`transform(filter(sequence…)) `under the array()/element_at
 * binding trick) evaluated interpreted per document: an md5 expression
 * per candidate position inside the filter lambda, then a
 * `concat_ws(slice(…))` + md5 per surviving window, each with a fresh
 * lambda frame. This kernel runs the identical construction in one JVM
 * pass inside whole-stage codegen.
 *
 * Hash construction is bit-identical to the SQL form the oracle replays:
 * a position p (over the ""-cleaned token array) is sampled iff the
 * first 15 md5 hex chars of token p, read as a base-16 long, are ≡ 0
 * mod `stride`; a sampled window's digest is the full 32-char lowercase
 * md5 hex of the `window` tokens joined with single spaces. Fewer than
 * `window` cleaned tokens → empty array.
 */
case class SampledWindowHashes(child: Expression, window: Int, stride: Int)
    extends UnaryExpression {
  require(window >= 1 && stride >= 1, "window and stride must be >= 1")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string> input, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "sampled_window_hashes"

  override def nullSafeEval(v: Any): Any =
    SampledWindowHashes.build(v.asInstanceOf[ArrayData], window, stride)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SampledWindowHashes.build($c, $window, $stride);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SampledWindowHashes {

  private val HexChars = "0123456789abcdef".toCharArray

  private def hex32(d: Array[Byte]): UTF8String = {
    val cs = new Array[Byte](32)
    var i = 0
    while (i < 16) {
      cs(2 * i) = HexChars((d(i) >> 4) & 0xf).toByte
      cs(2 * i + 1) = HexChars(d(i) & 0xf).toByte
      i += 1
    }
    UTF8String.fromBytes(cs)
  }

  /** First 15 md5 hex chars of the token's utf8 bytes as a base-16 long
    * (60 bits, non-negative) — bit-identical to
    * `conv(substring(md5(t), 1, 15), 16, 10)::long`. */
  private def samplePrefix(md: java.security.MessageDigest,
                           t: UTF8String): Long = {
    md.reset()
    Md5Prefix.of(md.digest(t.getBytes))
  }

  def build(ts: ArrayData, window: Int, stride: Int): ArrayData = {
    // ""-cleaning mirrors the caller's array_remove(split(text, "\\s+"), "")
    val toks = new Array[UTF8String](ts.numElements())
    var n = 0
    var i = 0
    val raw = ts.numElements()
    while (i < raw) {
      val t = ts.getUTF8String(i)
      if (t != null && t.numBytes() > 0) { toks(n) = t; n += 1 }
      i += 1
    }
    if (n < window) return new GenericArrayData(Array.empty[Any])
    val md = java.security.MessageDigest.getInstance("MD5")
    val space = UTF8String.fromString(" ")
    val out = new scala.collection.mutable.ArrayBuffer[Any](n / stride + 2)
    var p = 0
    val m = n - window + 1
    while (p < m) {
      if (samplePrefix(md, toks(p)) % stride == 0) {
        val parts = new Array[UTF8String](2 * window - 1)
        var o = 0
        while (o < window) {
          parts(2 * o) = toks(p + o)
          if (o < window - 1) parts(2 * o + 1) = space
          o += 1
        }
        md.reset()
        out += hex32(md.digest(UTF8String.concat(parts: _*).getBytes))
      }
      p += 1
    }
    new GenericArrayData(out.toArray)
  }
}

object WindowHashExprs {
  /** Sampled window digests of a raw whitespace-split token array, as one
    * codegen'd pass. */
  def sampledWindowHashes(tokens: Column, window: Int, stride: Int): Column =
    GraftBridge.column(SampledWindowHashes(
      GraftBridge.expression(tokens), window, stride))
}
