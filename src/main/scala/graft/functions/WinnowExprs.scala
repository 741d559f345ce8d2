package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/**
 * Winnowing fingerprint selection (Schleimer et al. 2003) as ONE native
 * Catalyst expression — the hot-path rewrite of the HOF formulation in
 * [[graft.operators.Dedup.winnowedDupSpans]]:
 *
 *  - the HOF chain evaluates interpreted and allocates per window (a
 *    w-slice + min + position scan per selection window, a k-slice or
 *    k-gram digest per hash window): O(n·k + n·w) interpreted steps and
 *    O(n) array copies per document, measured as the whole bench's
 *    compute tail;
 *  - this expression does the complete job in a single O(n) JVM pass:
 *    one md5 per TOKEN (not per window), window hashes by rolling
 *    Horner update h' = (h − t_out·B^(k−1))·B + t_in (mod P), and
 *    leftmost-min selection with a monotonic deque (strict-pop keeps
 *    the earliest index among equal values — exactly the published
 *    leftmost tie-break).
 *
 * Hash construction is IDENTICAL to the portable SQL form the oracle
 * replays (token hash = first 15 md5 hex chars mod P = 2³¹−1; window
 * hash = 0-seeded Horner fold, B = 1000003), so the expression, the HOF
 * variant [[graft.operators.Dedup.winnowedDupSpansFast]] originally
 * used, and DuckDB's `list_reduce` all produce the same fingerprints.
 * Winnowing's selected positions are non-decreasing in the window start
 * (a later window selecting an EARLIER position would contradict the
 * leftmost-min rule on the earlier window), so adjacent-duplicate
 * suppression reproduces `array_distinct` exactly.
 *
 * Returns the selected fingerprints as array<bigint>; fewer than
 * k + w − 1 tokens → empty array (the operator's absent-doc contract
 * falls out of the downstream explode).
 */
case class WinnowFingerprints(child: Expression, k: Int, w: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    WinnowExprs.checkTokens(prettyName, child.dataType)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "winnow_fingerprints"

  override def nullSafeEval(v: Any): Any =
    WinnowFingerprints.select(v.asInstanceOf[ArrayData], k, w)

  // The loop lives in a static helper; codegen emits one call, keeping
  // the expression inside whole-stage codegen (the same shape Spark's
  // own built-ins use for non-trivial kernels).
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.WinnowFingerprints.select($c, $k, $w);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WinnowFingerprints {
  val P = 2147483647L // 2^31 − 1, shared with Dedup.MinhashP
  val B = 1000003L

  /** Token hash: first 15 md5 hex chars (= 60 bits) of the utf8 bytes,
    * mod P — bit-identical to `pmod(conv(substring(md5(t),1,15),16,10),P)`. */
  private def tokenHash(md: java.security.MessageDigest,
                        bytes: Array[Byte]): Long = {
    md.reset()
    Md5Prefix.of(md.digest(bytes)) % P
  }

  def select(ts: ArrayData, k: Int, w: Int): ArrayData = {
    val n = ts.numElements()
    if (n < k + w - 1) return new GenericArrayData(Array.empty[Long])
    val md = java.security.MessageDigest.getInstance("MD5")
    val th = new Array[Long](n)
    var i = 0
    while (i < n) {
      th(i) = tokenHash(md, ts.getUTF8String(i).getBytes)
      i += 1
    }
    val m = n - k + 1
    val hs = new Array[Long](m)
    var h = 0L
    var j = 0
    while (j < k) { h = (h * B + th(j)) % P; j += 1 }
    hs(0) = h
    var bk = 1L
    j = 0
    while (j < k - 1) { bk = bk * B % P; j += 1 }
    var s = 1
    while (s < m) {
      // th·bk < 2^62: fits signed 64; re-normalize the negative residue
      h = ((h - th(s - 1) * bk % P) % P + P) % P
      h = (h * B + th(s + k - 1)) % P
      hs(s) = h
      s += 1
    }
    // leftmost-min of each w-window of hs, monotonic deque; strict-pop
    // (>) keeps the EARLIEST index among equal values
    val out = new scala.collection.mutable.ArrayBuffer[Long](m / w + 2)
    val dq = new Array[Int](m)
    var head = 0; var tail = 0
    var last = -1
    var idx = 0
    while (idx < m) {
      while (tail > head && hs(dq(tail - 1)) > hs(idx)) tail -= 1
      dq(tail) = idx; tail += 1
      val start = idx - w + 1
      if (start >= 0) {
        while (dq(head) < start) head += 1
        val p = dq(head)
        if (p != last) { out += hs(p); last = p }
      }
      idx += 1
    }
    new GenericArrayData(out.toArray)
  }
}

/**
 * The md5-digest winnowing variant as ONE native expression — the fused
 * rewrite of [[graft.operators.Dedup.winnowedDupSpans]]' interpreted HOF
 * chain, producing the IDENTICAL fingerprint sequence (this is the
 * optimization seam for the md5-recipe operator; [[WinnowFingerprints]]
 * above is a DIFFERENT hash family and feeds the `_fast` twin):
 *
 *  - window digest = md5 hex of the space-joined k-token window — the
 *    same `md5(concat_ws(" ", slice(ts, p, k)))` string the HOF built,
 *    byte for byte;
 *  - selection = leftmost minimum of each w-window of digests under
 *    binary string order (UTF8String compare == array_min's StringType
 *    ordering on ASCII hex), monotonic deque with strict pop so the
 *    EARLIEST index wins ties — exactly `s−1 + array_position(sub,
 *    array_min(sub))`;
 *  - winnowing's selected positions are non-decreasing in the window
 *    start (a later window selecting an earlier position would
 *    contradict the leftmost-min rule on the earlier window), so
 *    adjacent-duplicate suppression reproduces the HOF's
 *    `array_distinct` over positions exactly.
 *
 * The HOF formulation evaluated interpreted (CodegenFallback) with a
 * fresh w-slice + min + position scan per selection window and a k-slice
 * + concat per hash window; the kernel is one JVM loop inside
 * whole-stage codegen. O(n·k) bytes still flow through md5 — that is
 * the md5 recipe's documented price and is unchanged. Fewer than
 * k + w − 1 tokens → empty array (same absent-doc contract).
 * PropertySpec pins kernel == HOF on random docs.
 */
case class WinnowMd5Windows(child: Expression, k: Int, w: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    WinnowExprs.checkTokens(prettyName, child.dataType)

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def prettyName: String = "winnow_md5_windows"

  override def nullSafeEval(v: Any): Any =
    WinnowMd5Windows.select(v.asInstanceOf[ArrayData], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.WinnowMd5Windows.select($c, $k, $w);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WinnowMd5Windows {
  private val HexDigits = "0123456789abcdef".toCharArray

  private def md5Hex(md: java.security.MessageDigest,
                     bytes: Array[Byte]): org.apache.spark.unsafe.types.UTF8String = {
    md.reset()
    val d = md.digest(bytes)
    val out = new Array[Byte](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = HexDigits((d(i) >> 4) & 0xf).toByte
      out(2 * i + 1) = HexDigits(d(i) & 0xf).toByte
      i += 1
    }
    org.apache.spark.unsafe.types.UTF8String.fromBytes(out)
  }

  def select(ts: ArrayData, k: Int, w: Int): ArrayData = {
    import org.apache.spark.unsafe.types.UTF8String
    val n = ts.numElements()
    if (n < k + w - 1) return new GenericArrayData(Array.empty[Any])
    // tokens AS GIVEN (the caller already array_remove'd "") — slice
    // semantics, no re-cleaning
    val toks = new Array[UTF8String](n)
    var i = 0
    while (i < n) { toks(i) = ts.getUTF8String(i); i += 1 }
    val md = java.security.MessageDigest.getInstance("MD5")
    val m = n - k + 1
    val hs = new Array[UTF8String](m)
    var p = 0
    while (p < m) {
      hs(p) = md5Hex(md, WordNgrams.gram(toks, p, k).getBytes)
      p += 1
    }
    // leftmost-min of each w-window under binary string order; strict-pop
    // deque keeps the earliest index among equal digests
    val out = new scala.collection.mutable.ArrayBuffer[Any](m / w + 2)
    val dq = new Array[Int](m)
    var head = 0; var tail = 0
    var last = -1
    var idx = 0
    while (idx < m) {
      while (tail > head && hs(dq(tail - 1)).compareTo(hs(idx)) > 0) tail -= 1
      dq(tail) = idx; tail += 1
      val start = idx - w + 1
      if (start >= 0) {
        while (dq(head) < start) head += 1
        val sel = dq(head)
        if (sel != last) { out += hs(sel); last = sel }
      }
      idx += 1
    }
    new GenericArrayData(out.toArray)
  }
}

object WinnowExprs {
  /** Both kernels take `array<string>` without null elements: a null token
    * has no hash, and their caller's `array_remove(split(…))` never yields
    * one, so a null-element array is refused at analysis, not mid-task. */
  private[functions] def checkTokens(name: String, dt: DataType): TypeCheckResult = dt match {
    case ArrayType(StringType, false) => TypeCheckResult.TypeCheckSuccess
    case ArrayType(StringType, true) => TypeCheckResult.TypeCheckFailure(
      s"$name requires array<string> without null elements")
    case other => TypeCheckResult.TypeCheckFailure(
      s"$name requires array<string> input, got ${other.catalogString}")
  }

  /** Selected winnowing fingerprints of a token array, as one codegen'd
    * O(n) kernel. */
  def winnowFingerprints(tokens: Column, k: Int, w: Int): Column =
    GraftBridge.column(WinnowFingerprints(
      GraftBridge.expression(tokens), k, w))
  /** Selected md5-digest winnowing window hashes (the
    * [[graft.operators.Dedup.winnowedDupSpans]] recipe), one codegen'd
    * pass. */
  def winnowMd5Windows(tokens: Column, k: Int, w: Int): Column =
    GraftBridge.column(WinnowMd5Windows(
      GraftBridge.expression(tokens), k, w))
}
