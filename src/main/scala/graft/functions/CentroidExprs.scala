package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/**
 * Native Catalyst expressions for the ANN centroid machinery — the
 * model-as-reference-object rewrite of the k-literal expression trees
 * (`cellColumn`'s `array_max` over k struct literals, `nearestCentroidVec`'s
 * per-branch centroid payloads, `centroidLookup`'s chained `when`).
 *
 * Why (the documented rejection of built-ins, the [[BpeEncodeTokens]]
 * pattern): the literal formulation's expression depth and analysis cost
 * grow LINEARLY in k — trivial at the tested k=8, but production PQ uses
 * k=256 codewords and SemDeDup's published regime is k=50,000 cells:
 * a 10³–10⁴-node expression tree, the exact shape whose StringReplace
 * sibling degraded superlinearly and StackOverflowed Catalyst analysis at
 * depth 512 (BENCH.md §7). Here the codebook rides along as ONE reference
 * object (k·dim doubles, model-sized), the plan is a single scan-local
 * node at ANY k, and codegen emits one static call — whole-stage codegen
 * survives production codebook sizes (BENCH.md §10.1 has the sweep).
 *
 * Semantics are bit-identical to the literal formulation (pinned in
 * SimilaritySpec and PropertySpec): the argmax is lexicographic max over
 * (cosine, −cid) with [[CosineSim]]'s accumulation order and Spark's
 * double total order (NaN greatest), i.e. highest cosine, ties to the
 * smaller centroid id.
 */
object CentroidOps {

  /** Precompiled codebook: parallel arrays, plus per-centroid ArrayData
    * built once so vector-returning lookups allocate nothing per row. */
  final class CentroidTable(val cids: Array[Long],
                            val cents: Array[Array[Double]])
      extends Serializable {
    @transient lazy val arrs: Array[ArrayData] =
      cents.map(c => new GenericArrayData(c.map(v => v: Any)): ArrayData)
    def size: Int = cids.length
  }

  def compile(cb: Seq[(Long, Seq[Double])]): CentroidTable =
    new CentroidTable(cb.map(_._1).toArray, cb.map(_._2.toArray).toArray)

  /** Spark SQL's total order for doubles: -0.0 == 0.0, NaN equal to itself
    * and greater than everything else. */
  private def cmpDouble(a: Double, b: Double): Int =
    if (a < b) -1 else if (a > b) 1 else if (a == b) 0
    else { val an = java.lang.Double.isNaN(a)
      if (an && java.lang.Double.isNaN(b)) 0 else if (an) 1 else -1 }

  /** [[CosineSim]]'s kernel over ArrayData vs a driver-held centroid —
    * identical accumulation order and min-length truncation. */
  private def cosine(v: ArrayData, c: Array[Double]): Double = {
    val n = Math.min(v.numElements(), c.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val xi = v.getDouble(i); val yi = c(i)
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    dot / (Math.sqrt(na) * Math.sqrt(nb))
  }

  /** Index of the argmax-(cosine, −cid) centroid; −1 on an empty table.
    * A null vector scores NaN against every centroid — all ties — so the
    * smallest cid wins, as in `assignCells`' struct max over null cosines
    * and the oracle's row_number. */
  def nearestIdx(v: ArrayData, t: CentroidTable): Int = {
    var best = -1; var bestCos = 0.0; var bestNc = 0L
    var i = 0
    val k = t.size
    while (i < k) {
      val c = if (v == null) Double.NaN else cosine(v, t.cents(i))
      val nc = -t.cids(i)
      if (best < 0 || {
        val cc = cmpDouble(c, bestCos); cc > 0 || (cc == 0 && nc > bestNc)
      }) { best = i; bestCos = c; bestNc = nc }
      i += 1
    }
    best
  }

  def nearestId(v: ArrayData, t: CentroidTable): Long =
    t.cids(nearestIdx(v, t))

  def nearestVec(v: ArrayData, t: CentroidTable): ArrayData =
    t.arrs(nearestIdx(v, t))

  /** Centroid vector for a stored code; null when the code is unknown —
    * the chained-`when` lookup's fall-through. */
  def lookupVec(code: Long, t: CentroidTable): ArrayData = {
    var i = 0
    val k = t.size
    while (i < k) {
      if (t.cids(i) == code) return t.arrs(i)
      i += 1
    }
    null
  }

  /** zip_with(a, b, (x, y) => x − y): max-length result, null element
    * where either side is missing or null. */
  def vecSub(a: ArrayData, b: ArrayData): ArrayData =
    zipArith(a, b, add = false)

  /** zip_with(a, b, (x, y) => x + y). */
  def vecAdd(a: ArrayData, b: ArrayData): ArrayData =
    zipArith(a, b, add = true)

  private def zipArith(a: ArrayData, b: ArrayData, add: Boolean): ArrayData = {
    val na = a.numElements(); val nb = b.numElements()
    val n = Math.max(na, nb)
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (i < na && i < nb && !a.isNullAt(i) && !b.isNullAt(i)) {
        val x = a.getDouble(i); val y = b.getDouble(i)
        out(i) = if (add) x + y else x - y
      } // else null (zip_with pads the shorter side with null)
      i += 1
    }
    new GenericArrayData(out)
  }
}

private[functions] trait CentroidCodebook extends Expression {
  def codebook: Seq[(Long, Seq[Double])]
  /** Plans print the input plus the codebook's shape, not its k·dim
    * doubles. */
  override protected def stringArgs: Iterator[Any] =
    children.iterator ++ Iterator(s"k=${codebook.size}",
      s"dim=${codebook.headOption.fold(0)(_._2.size)}")
  @transient protected lazy val table: CentroidOps.CentroidTable =
    CentroidOps.compile(codebook)
  protected def tableRef(ctx: CodegenContext): String =
    ctx.addReferenceObj("centroidTable", table,
      classOf[CentroidOps.CentroidTable].getName)
  protected def checkVec(dt: DataType, name: String): TypeCheckResult =
    dt match {
      case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$name requires array<double> input, got ${other.catalogString}")
    }
}

/** Scan-local cell id: argmax-cosine centroid id for a vector (smaller id
  * wins ties) — `cellColumn`'s semantics at depth O(1) in k. Total: a
  * null vector gets the smallest cid, so the column is non-nullable and
  * a join on it infers no `isnotnull` filter that would run it again. */
case class NearestCentroidId(child: Expression,
                             codebook: Seq[(Long, Seq[Double])])
    extends UnaryExpression with CentroidCodebook {
  override def checkInputDataTypes(): TypeCheckResult =
    checkVec(child.dataType, prettyName)
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "nearest_centroid_id"
  override def eval(input: InternalRow): Any =
    CentroidOps.nearestId(child.eval(input).asInstanceOf[ArrayData], table)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = tableRef(ctx)
    val v = child.genCode(ctx)
    ev.copy(code = code"""
      ${v.code}
      long ${ev.value} = graft.functions.CentroidOps.nearestId(
        ${v.isNull} ? null : ${v.value}, $ref);""", isNull = FalseLiteral)
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Scan-local argmax-cosine centroid VECTOR (the payload-carrying argmax
  * behind PQ reconstruction) — `nearestCentroidVec` at depth O(1) in k. */
case class NearestCentroidVec(child: Expression,
                              codebook: Seq[(Long, Seq[Double])])
    extends UnaryExpression with CentroidCodebook {
  override def checkInputDataTypes(): TypeCheckResult =
    checkVec(child.dataType, prettyName)
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "nearest_centroid_vec"
  override def nullSafeEval(v: Any): Any =
    CentroidOps.nearestVec(v.asInstanceOf[ArrayData], table)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = tableRef(ctx)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.CentroidOps.nearestVec($c, $ref);")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Centroid vector by stored CODE (the decode half of the stored-codes
  * index); null for an unknown code — `centroidLookup`'s chained-`when`
  * fall-through, at depth O(1) in k. */
case class CentroidLookupVec(child: Expression,
                             codebook: Seq[(Long, Seq[Double])])
    extends UnaryExpression with CentroidCodebook {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires bigint input, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true // unknown code → null
  override def prettyName: String = "centroid_lookup_vec"
  override def nullSafeEval(v: Any): Any =
    CentroidOps.lookupVec(v.asInstanceOf[Long], table)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = tableRef(ctx)
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.CentroidOps.lookupVec($c, $ref);
      ${ev.isNull} = ${ev.value} == null;""")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Elementwise a − b over array<double> with zip_with's max-length /
  * null-padding semantics — codegen'd (ZipWith is CodegenFallback). */
case class VecSub(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<double> inputs, got " +
          s"${l.catalogString} / ${r.catalogString}")
    }
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def prettyName: String = "vec_sub"
  override def nullSafeEval(a: Any, b: Any): Any =
    CentroidOps.vecSub(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.CentroidOps.vecSub($a, $b);")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Elementwise a + b over array<double>, zip_with semantics — codegen'd. */
case class VecAdd(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<double> inputs, got " +
          s"${l.catalogString} / ${r.catalogString}")
    }
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def prettyName: String = "vec_add"
  override def nullSafeEval(a: Any, b: Any): Any =
    CentroidOps.vecAdd(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.CentroidOps.vecAdd($a, $b);")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CentroidExprs {
  /** An argmax over no centroids has no answer: refuse it on the driver. */
  private def nonEmpty(cb: Seq[(Long, Seq[Double])], name: String): Unit =
    require(cb.nonEmpty, s"$name needs a non-empty codebook")
  /** argmax-cosine centroid id (codebook driver-held, task-broadcast). */
  def nearestCentroidId(vec: Column, cb: Seq[(Long, Seq[Double])]): Column = {
    nonEmpty(cb, "nearest_centroid_id")
    GraftBridge.column(NearestCentroidId(
      GraftBridge.expression(vec.cast("array<double>")), cb))
  }
  /** argmax-cosine centroid vector. */
  def nearestCentroidVec(vec: Column, cb: Seq[(Long, Seq[Double])]): Column = {
    nonEmpty(cb, "nearest_centroid_vec")
    GraftBridge.column(NearestCentroidVec(
      GraftBridge.expression(vec.cast("array<double>")), cb))
  }
  /** centroid vector by stored code (null when unknown). */
  def centroidLookupVec(code: Column, cb: Seq[(Long, Seq[Double])]): Column =
    GraftBridge.column(CentroidLookupVec(
      GraftBridge.expression(code.cast("long")), cb))
  /** elementwise difference, zip_with semantics, codegen'd. */
  def vecSub(a: Column, b: Column): Column =
    GraftBridge.column(VecSub(
      GraftBridge.expression(a.cast("array<double>")),
      GraftBridge.expression(b.cast("array<double>"))))
  /** elementwise sum, zip_with semantics, codegen'd. */
  def vecAdd(a: Column, b: Column): Column =
    GraftBridge.column(VecAdd(
      GraftBridge.expression(a.cast("array<double>")),
      GraftBridge.expression(b.cast("array<double>"))))
}
