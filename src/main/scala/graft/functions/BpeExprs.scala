package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * BPE merge application (the encode half of the tokenizer loop) as ONE
 * native Catalyst expression — the production-depth rewrite of the
 * StringReplace chain in [[graft.operators.Curation.bpeEncodeChain]].
 *
 * Why a custom expression (the documented rejection of built-ins):
 * applying an ORDERED merge list with built-in operators requires one
 * expression node per merge — a chain whose depth equals the merge
 * count. Measured on this build (BENCH.md §7): the chain
 * stays in codegen but its throughput degrades superlinearly (4.9k →
 * 1.7k docs/s from depth 64 → 256: each merge re-scans the whole
 * wrapped string) and Catalyst analysis StackOverflows at depth 512 —
 * an order of magnitude below production vocabularies (10⁴–10⁵
 * merges). Chunking the chain with checkpoint
 * seams every ~64 merges fixes analysis but materializes the ENTIRE
 * corpus once per chunk — 500 extra corpus writes at a 32k-merge vocab,
 * unacceptable at 100 TB. This expression is depth-INDEPENDENT: the
 * merge list rides along as one broadcast-model-sized reference object
 * (the k-means-centroid seam), the plan is a single scan-local
 * projection, and codegen emits one static call — whole-stage codegen
 * survives any merge count.
 *
 * Semantics are EXACTLY [[graft.operators.Curation.bpeTrain]]'s greedy
 * fold, merge by merge: for each merge (t1, t2) in training order, one
 * left-to-right pass fuses every adjacent (t1, t2) into "t1 t2"; a
 * just-fused token is strictly longer than t1, so overlapping candidate
 * runs alternate (1st, 3rd, ... merge) — CurationSpec pins equality
 * against both the fold and the chain variant. Later merges can never
 * re-enable earlier ones (merge i's components exist before merge j>i's
 * fused token does), so sequential full passes are the canonical BPE
 * apply order.
 *
 * Per-row cost: O(m) HashSet guard checks + O(n) per merge whose BOTH
 * components are (conservatively) present among the row's tokens — the
 * token-presence set is maintained add-only across fusions, so a stale
 * positive costs one wasted scan, never a wrong result.
 */
case class BpeEncodeTokens(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string> input, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def prettyName: String = "bpe_encode_tokens"

  @transient private lazy val table = BpeEncodeTokens.compile(merges)

  override def nullSafeEval(v: Any): Any =
    BpeEncodeTokens.encode(v.asInstanceOf[ArrayData], table)

  // The loop lives in a static helper; the merge table is a reference
  // object (serialized once per task, not per row); codegen emits one
  // call, keeping the expression inside whole-stage codegen.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeMergeTable", table,
      classOf[BpeEncodeTokens.MergeTable].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.BpeEncodeTokens.encode($c, $ref);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BpeEncodeTokens {

  /** Precompiled merge list: parallel arrays of (t1, t2, "t1 t2") as
    * UTF8String so the per-row loop does zero string conversions. */
  final class MergeTable(val t1: Array[UTF8String], val t2: Array[UTF8String],
                         val fused: Array[UTF8String]) extends Serializable {
    def size: Int = t1.length
  }

  def compile(merges: Seq[(String, String)]): MergeTable = new MergeTable(
    merges.map(m => UTF8String.fromString(m._1)).toArray,
    merges.map(m => UTF8String.fromString(m._2)).toArray,
    merges.map(m => UTF8String.fromString(m._1 + " " + m._2)).toArray)

  def encode(ts: ArrayData, m: MergeTable): ArrayData = {
    val n = ts.numElements()
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val buf = new Array[UTF8String](n)
    val present = new java.util.HashSet[UTF8String](Math.max(16, n * 2))
    // empty strings are DROPPED here (the `\W+`-split boundary artifacts),
    // so callers can feed the codegen'd raw split() — routing through the
    // filter() HOF would throw the whole projection to CodegenFallback
    var i = 0
    var len = 0
    while (i < n) {
      val t = ts.getUTF8String(i)
      if (t != null && t.numBytes() > 0) {
        buf(len) = t
        present.add(t)
        len += 1
      }
      i += 1
    }
    var mi = 0
    val nm = m.size
    while (mi < nm && len > 1) {
      // guard: both components must be (conservatively) present — skips
      // the O(len) pass for every merge the row cannot contain
      if (present.contains(m.t1(mi)) && present.contains(m.t2(mi))) {
        val t1 = m.t1(mi); val t2 = m.t2(mi); val fused = m.fused(mi)
        var r = 0; var w = 0; var fusedAny = false
        while (r < len) {
          val cur = buf(r)
          if (w > 0 && buf(w - 1).equals(t1) && cur.equals(t2)) {
            buf(w - 1) = fused // fused != t1 (strictly longer): no refire
            fusedAny = true
          } else {
            buf(w) = cur
            w += 1
          }
          r += 1
        }
        len = w
        if (fusedAny) present.add(fused) // add-only: stale positives are
        // wasted scans, never wrong output
      }
      mi += 1
    }
    val out = new Array[Any](len)
    System.arraycopy(buf, 0, out, 0, len)
    new GenericArrayData(out)
  }
}

object BpeExprs {
  /** Ordered BPE merge application over a token array as one codegen'd
    * kernel; merge list is model-sized (driver-held, task-broadcast). */
  def bpeEncodeTokens(tokens: Column, merges: Seq[(String, String)]): Column =
    GraftBridge.column(BpeEncodeTokens(GraftBridge.expression(tokens), merges))
}
