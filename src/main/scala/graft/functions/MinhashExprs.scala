package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The first 15 hex chars of an md5 digest as a non-negative 60-bit long —
  * bit-identical to `conv(substring(md5(x), 1, 15), 16, 10)::long` (DuckDB
  * `('0x' || substr(md5(x), 1, 15))::UBIGINT`) — the driver-side twin of
  * `TextAnalysis.md5Mod`. Every kernel that hashes a token or shingle by
  * md5 prefix, and the stored text index's query-term bucketing, share it
  * and apply their own modulus. */
private[graft] object Md5Prefix {
  def of(d: Array[Byte]): Long = {
    var v = 0L
    var j = 0
    while (j < 7) { v = (v << 8) | (d(j) & 0xffL); j += 1 }
    (v << 4) | ((d(7) & 0xf0L) >> 4)
  }
}

/**
 * Scan-local MinHash signature — the 8 permutation minima of a document's
 * word n-gram shingles computed WITHIN the row, as one codegen kernel.
 *
 * This replaces [[graft.operators.Dedup.minhashSignatures]]' relational
 * explode + groupBy(id) formulation: the min over a doc's own shingles
 * needs no shuffle at all (guide §2.4 — remove shuffles outright), and
 * the former plan shuffled every (id, shingle-hash) row of the corpus to
 * aggregate what is a pure per-row function. At 100 TB that exchange is
 * corpus-sized; here it simply does not exist.
 *
 * Hash construction is bit-identical to the relational form the oracle
 * replays: shingle = n cleaned tokens joined with single spaces, base
 * hash = first 15 md5 hex chars as a long mod P (2³¹−1), permutation i =
 * (a_i·h + b_i) mod P with [[graft.operators.Dedup.MinhashA]]/B. Min is
 * duplicate-insensitive, so the kernel skips the distinct the exploded
 * shingle table carried. Fewer than n cleaned tokens → NULL (the doc has
 * no shingle rows and is absent from the relational signature table;
 * callers filter).
 */
case class MinhashSig(child: Expression, n: Int,
                      as: Seq[Long], bs: Seq[Long], p: Long)
    extends UnaryExpression {
  require(n >= 1 && as.nonEmpty && as.length == bs.length)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string> input, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true // < n tokens → null
  override def prettyName: String = "minhash_sig"

  @transient private lazy val table = new MinhashSig.Perms(
    as.toArray, bs.toArray, p)

  override def nullSafeEval(v: Any): Any =
    MinhashSig.build(v.asInstanceOf[ArrayData], n, table)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("minhashPerms", table,
      classOf[MinhashSig.Perms].getName)
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.MinhashSig.build($c, $n, $ref);
      ${ev.isNull} = ${ev.value} == null;""")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinhashSig {
  final class Perms(val as: Array[Long], val bs: Array[Long], val p: Long)
      extends Serializable

  def build(ts: ArrayData, n: Int, t: Perms): ArrayData = {
    val toks = WordNgrams.cleanTokens(ts)
    if (toks.length < n) return null
    val k = t.as.length
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val md = java.security.MessageDigest.getInstance("MD5")
    val m = toks.length - n + 1
    var i = 0
    while (i < m) {
      // base hash: md5 prefix of the shingle mod p (digest() resets md)
      val h = Md5Prefix.of(md.digest(WordNgrams.gram(toks, i, n).getBytes)) % t.p
      var j = 0
      while (j < k) {
        // a·h < 2^54 — fits signed 64; operands non-negative, so % == pmod
        val v = (t.as(j) * h + t.bs(j)) % t.p
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }
}

/**
 * Scan-local SimHash integer — bit j−1 (worth 2^(j−1)) is set iff
 * strictly more than half of the doc's DISTINCT tokens have an odd hex
 * digit at position j of md5(token). Replaces
 * [[graft.operators.Dedup.simhashIntRows]]' explode + groupBy(id) with
 * 32 sum-aggregates: the signature is a pure per-row function (guide
 * §2.4), so the corpus-sized token exchange is removed. ±1 weights over
 * the distinct-token set and the strict majority test are verbatim; a
 * hex digit's parity is its nibble's low bit. Zero distinct tokens →
 * NULL (the doc had no rows in the exploded form; callers filter).
 */
case class SimhashInt(child: Expression, bits: Int) extends UnaryExpression {
  require(bits >= 1 && bits <= 32, "md5 hex positions support up to 32 bits")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string> input, got ${other.catalogString}")
  }

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "simhash_int"

  override def nullSafeEval(v: Any): Any =
    SimhashInt.build(v.asInstanceOf[ArrayData], bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      java.lang.Long ${ev.value}_b = graft.functions.SimhashInt.build($c, $bits);
      ${ev.isNull} = ${ev.value}_b == null;
      ${ev.value} = ${ev.isNull} ? -1L : ${ev.value}_b.longValue();""")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimhashInt {
  def build(ts: ArrayData, bits: Int): java.lang.Long = {
    // distinct tokens of the cleaned array — the ±1 sums run over the SET
    val toks = WordNgrams.cleanTokens(ts)
    if (toks.length == 0) return null
    val seen = new java.util.HashSet[UTF8String](toks.length * 2)
    val sums = new Array[Int](bits)
    var nDistinct = 0
    val md = java.security.MessageDigest.getInstance("MD5")
    var i = 0
    while (i < toks.length) {
      if (seen.add(toks(i))) {
        nDistinct += 1
        md.reset()
        val d = md.digest(toks(i).getBytes)
        var j = 0
        while (j < bits) {
          // hex digit j+1 of the digest: high nibble of byte j/2 for even
          // j (1-based odd positions), low nibble otherwise
          val nib =
            if ((j & 1) == 0) (d(j >> 1) >> 4) & 0xf else d(j >> 1) & 0xf
          sums(j) += (if ((nib & 1) == 1) 1 else -1)
          j += 1
        }
      }
      i += 1
    }
    var v = 0L
    var j = 0
    while (j < bits) {
      if (sums(j) > 0) v |= 1L << j
      j += 1
    }
    java.lang.Long.valueOf(v)
  }
}

/**
 * Scan-local hashed bag-of-words features — per-row (bucket, weight)
 * pairs over the doc's tokens, bucket = first 15 md5 hex chars of the
 * token as a long mod `dim`; weight = signed sum (16th hex digit ≥ 8 →
 * −1, else +1, the [[graft.operators.Curation.hashFeaturize]] recipe)
 * when `signed`, plain occurrence count otherwise (the DSIR docBuckets
 * recipe). Replaces the explode + groupBy(id, bucket) exchange: the
 * per-doc feature vector is a pure per-row function (guide §2.4). A
 * bucket row is emitted iff ≥ 1 token touched it — signed sums that
 * cancel to 0 still emit, exactly like the former aggregate.
 */
case class HashedBagFeatures(child: Expression, dim: Int, signed: Boolean)
    extends UnaryExpression {
  require(dim > 0, "dim must be positive")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string> input, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("bucket", LongType,
        nullable = false),
      org.apache.spark.sql.types.StructField("weight", LongType,
        nullable = false))), containsNull = false)
  override def prettyName: String = "hashed_bag_features"

  override def nullSafeEval(v: Any): Any =
    HashedBagFeatures.build(v.asInstanceOf[ArrayData], dim, signed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.HashedBagFeatures.build($c, $dim, $signed);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object HashedBagFeatures {
  def build(ts: ArrayData, dim: Int,
            signed: Boolean): ArrayData = {
    val toks = WordNgrams.cleanTokens(ts)
    val sums = new Array[Long](dim)
    val touched = new Array[Boolean](dim)
    var nTouched = 0
    val md = java.security.MessageDigest.getInstance("MD5")
    var i = 0
    while (i < toks.length) {
      val d = md.digest(toks(i).getBytes)
      val b = (Md5Prefix.of(d) % dim).toInt
      // 16th hex char = low nibble of byte 7; ≥ 8 → −1
      val s = if (signed && (d(7) & 0x08) != 0) -1L else 1L
      if (!touched(b)) { touched(b) = true; nTouched += 1 }
      sums(b) += s
      i += 1
    }
    val out = new Array[Any](nTouched)
    var o = 0
    var b = 0
    while (b < dim) {
      if (touched(b)) {
        out(o) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](b.toLong, sums(b))): org.apache.spark.sql.catalyst.InternalRow
        o += 1
      }
      b += 1
    }
    new GenericArrayData(out)
  }
}

object MinhashExprs {
  /** The 8 permutation minima of a doc's word n-gram shingles, scan-local
    * (null when the doc has fewer than n tokens). */
  def minhashSig(tokens: Column, n: Int,
                 as: Seq[Long], bs: Seq[Long], p: Long): Column =
    GraftBridge.column(MinhashSig(GraftBridge.expression(tokens), n,
      as, bs, p))
  /** Scan-local SimHash integer over the doc's distinct tokens (null for
    * token-less docs). */
  def simhashInt(tokens: Column, bits: Int): Column =
    GraftBridge.column(SimhashInt(GraftBridge.expression(tokens), bits))
  /** Scan-local hashed (bucket, weight) features — signed sum or count. */
  def hashedBagFeatures(tokens: Column, dim: Int, signed: Boolean): Column =
    GraftBridge.column(HashedBagFeatures(GraftBridge.expression(tokens),
      dim, signed))
}
