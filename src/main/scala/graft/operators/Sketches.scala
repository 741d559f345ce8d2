package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Mergeable frequency / cardinality sketches beyond [[Curation.kmvSketch]]'s
 * bottom-k: Count-Min (point-frequency estimation, Cormode & Muthukrishnan
 * 2005, "An improved data stream summary: the count-min sketch and its
 * applications", J. Algorithms) and an HLL-style register sketch
 * (Flajolet, Fusy, Gandouet & Meunier 2007, "HyperLogLog: the analysis of
 * a near-optimal cardinality estimation algorithm", AofA).
 *
 * Both are chosen for the same reason KMV was: the sketch STATE is exactly
 * reproducible relationally (integer registers — no RNG, no float
 * accumulation), so build, merge, and estimate all sit under the
 * cross-engine oracle. And both are mergeable the way a 1000-executor
 * corpus needs: CMS merges by register ADDITION, HLL by register MAX —
 * per-shard sketches combine into the global answer without rescanning
 * the corpus (the d·w / 2^p register space bounds every shuffle).
 *
 * Determinism notes baked into the recast:
 *  - hashes are md5-derived (48-bit base for CMS rows via the
 *    [[Dedup.MinhashA]]/[[Dedup.MinhashB]] affine family, 60-bit for HLL)
 *    — no seed, both engines agree bit-for-bit;
 *  - the HLL estimator's register sum Σ 2^−reg is computed as the INTEGER
 *    Σ 2^(56−reg) (≤ 32·2^56 < 2^63 — exact, order-independent) and
 *    divided once at the end — a float Σ 2^−reg would round differently
 *    per partial-aggregation order.
 */
object Sketches {

  /** 48-bit md5 token hash reduced into the Minhash prime field —
    * the shared base for the CMS row hashes. */
  private def baseHash48(tok: Column): Column =
    conv(substring(md5(tok), 1, 12), 16, 10).cast("long") % Dedup.MinhashP

  /** The k affine positions `((a_j·_h + b_j) mod P) mod width` (j < k)
    * over the `_h` base-hash column — the one hash family of the CMS rows
    * and the Bloom bits, so build, estimate and probe always agree. Holds
    * both range checks: k beyond the 8 [[Dedup.MinhashA]] coefficients
    * has no hash, k = 0 would emit no position (every key vanishes from an
    * exploded output), and width < 2 sends every key to bucket 0. */
  private def affinePositions(k: Int, width: Int, kName: String,
                              widthName: String): Seq[Column] = {
    require(k >= 1 && k <= Dedup.MinhashA.size,
      s"$kName must be in [1, ${Dedup.MinhashA.size}]")
    require(width >= 2, s"$widthName must be >= 2")
    (0 until k).map { j =>
      val (a, b) = (Dedup.MinhashA(j), Dedup.MinhashB(j))
      ((lit(a) * col("_h") + lit(b)) % Dedup.MinhashP) % width
    }
  }

  /** The CMS (depth, bucket) coordinate structs of one `_h` row. */
  private def cmsRows(depth: Int, width: Int): Seq[Column] =
    affinePositions(depth, width, "depth", "width").zipWithIndex.map {
      case (bucket, j) => struct(lit(j.toLong).as("depth"), bucket.as("bucket"))
    }

  /**
   * Count-Min sketch, build half: per group, d·w integer registers where
   * register (j, b) counts tokens with h_j(tok) = b; h_j = affine row
   * hash ((a_j·h + b_j) mod p) mod w over the 48-bit base hash. Counts
   * token OCCURRENCES (not distinct — CMS estimates frequencies).
   *
   * Plan: one tokenize scan → explode to d (row, bucket) pairs → ONE
   * hash aggregate. Partial (map-side) aggregation caps what ships at
   * groups·d·w register rows regardless of corpus size; only non-zero
   * registers are emitted (zeros are implied).
   */
  def cmsSketch(docs: DataFrame, grpCol: String, textCol: String,
                depth: Int = 4, width: Int = 64): DataFrame = {
    val rows = cmsRows(depth, width)
    docs.select(col(grpCol),
        explode(TextAnalysis.toks(col(textCol))).as("tok"))
      .select(col(grpCol), baseHash48(col("tok")).as("_h"))
      .select(col(grpCol), explode(array(rows: _*)).as("_rb"))
      .groupBy(col(grpCol), col("_rb.depth").as("depth"),
        col("_rb.bucket").as("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** CMS merge: registers ADD across sketches — the global sketch from
    * per-group sketches in one aggregate over ≤ groups·d·w short rows
    * (the corpus is never re-read). */
  def cmsMerge(sketch: DataFrame): DataFrame =
    sketch.groupBy(col("depth"), col("bucket")).agg(sum(col("cnt")).as("cnt"))

  /**
   * CMS point estimate for each probe token: êst(tok) = min_j register
   * (j, h_j(tok)) over a MERGED sketch — the classic one-sided guarantee
   * êst ≥ true count (collisions only inflate), asserted in SketchesSpec.
   *
   * Plan: the probe side computes its d (row, bucket) coordinates
   * scan-locally, joins the register table on the short (depth, bucket)
   * key (AQE broadcasts whichever side is model-sized), and one min
   * aggregate per token closes it. A probed token that was counted at
   * all has non-zero registers in every row, so the inner join loses
   * nothing; probes the sketch never saw estimate 0 via the outer-join
   * coalesce.
   */
  def cmsEstimate(merged: DataFrame, probes: DataFrame, tokCol: String,
                  depth: Int = 4, width: Int = 64): DataFrame = {
    val rows = cmsRows(depth, width)
    probes.select(col(tokCol), baseHash48(col(tokCol)).as("_h"))
      .select(col(tokCol), explode(array(rows: _*)).as("_rb"))
      .select(col(tokCol), col("_rb.depth").as("depth"),
        col("_rb.bucket").as("bucket"))
      .join(merged, Seq("depth", "bucket"), "left")
      .groupBy(col(tokCol))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est_cnt"))
  }

  /** The kHashes affine bit positions for one key hash — shared by
    * [[bloomBits]], [[bloomBitsGrouped]] and [[bloomProbe]] (they MUST
    * agree). */
  private def bloomPositions(mBits: Int, kHashes: Int): Seq[Column] =
    affinePositions(kHashes, mBits, "kHashes", "mBits")

  /**
   * Bloom filter, build half (Bloom 1970, "Space/time trade-offs in hash
   * coding with allowable errors", CACM) — the crawl frontier's
   * "URL already fetched?" sketch: each key sets kHashes affine bit
   * positions in an mBits space; the filter is stored SPARSELY as the
   * distinct set-bit table (relationally exact, and mergeable by plain
   * UNION + distinct — bitwise OR in relational form, the same
   * merge-without-rescan contract as [[cmsMerge]]/[[hllMerge]]).
   * Guarantee: NO false negatives ever (a seen key's bits are all set by
   * construction); false positives at the standard (1−e^(−kn/m))^k rate,
   * measured in-row by the driver query and in SketchesSpec.
   *
   * Plan: one scan → k positions per key → ONE distinct over ≤ mBits
   * short rows. The register space bounds the state regardless of how
   * many keys were ever inserted — what lets a 10¹²-URL frontier answer
   * membership from RAM.
   */
  def bloomBits(keys: DataFrame, keyCol: String, mBits: Int = 8192,
                kHashes: Int = 4): DataFrame =
    keys.select(baseHash48(col(keyCol)).as("_h"))
      .select(explode(array(bloomPositions(mBits, kHashes): _*)).as("bit"))
      .distinct()

  /** Per-group Bloom bit tables (grp, bit) — one filter per shard/source;
    * [[bloomMerge]] folds them into the union's filter. */
  def bloomBitsGrouped(keys: DataFrame, grpCol: String, keyCol: String,
                       mBits: Int = 8192, kHashes: Int = 4): DataFrame =
    keys.select(col(grpCol), baseHash48(col(keyCol)).as("_h"))
      .select(col(grpCol),
        explode(array(bloomPositions(mBits, kHashes): _*)).as("bit"))
      .distinct()

  /** Bloom merge: bitwise OR in relational form — the distinct union of
    * per-group set bits IS the union's filter (over ≤ groups·mBits short
    * rows; the key corpus is never re-read). */
  def bloomMerge(grouped: DataFrame): DataFrame =
    grouped.select(col("bit")).distinct()

  /**
   * Bloom membership probe: a key is `maybe_seen` iff ALL kHashes of its
   * bit positions are in the set-bit table. One position-explode, one
   * left join on the short bit key (the bits side is ≤ mBits rows —
   * broadcast by any planner), one count-equals-k aggregate per key.
   */
  def bloomProbe(bits: DataFrame, probes: DataFrame, keyCol: String,
                 mBits: Int = 8192, kHashes: Int = 4): DataFrame = {
    val set = bits.select(col("bit"), lit(1L).as("_set"))
    probes.select(col(keyCol), baseHash48(col(keyCol)).as("_h"))
      .select(col(keyCol),
        explode(array(bloomPositions(mBits, kHashes): _*)).as("bit"))
      .join(set, Seq("bit"), "left")
      .groupBy(col(keyCol))
      // ALL positions set — min-based, so a DUPLICATED probe key (whose
      // group holds dupCount·kHashes position rows) still reports
      // maybe_seen correctly; the former `sum === kHashes` silently broke
      // the zero-false-negative contract on duplicated input
      .agg(min(when(col("_set").isNotNull, 1L).otherwise(0L)).as("_all"))
      .select(col(keyCol), (col("_all") === 1L).as("maybe_seen"))
  }

  /** HLL geometry: p index bits → m = 2^p buckets over a 60-bit hash;
    * the remaining 60−p bits feed the leading-zero rank. */
  private def hllM(p: Int): Int = 1 << p

  /**
   * HLL-style register sketch, build half: per group, bucket = hash mod
   * 2^p (the low p bits) and register = max over the bucket's tokens of
   * ρ(w), the 1-based position of the leftmost 1-bit of the remaining
   * width = (60−p)-bit word w — ρ = width − ⌊log₂ w⌋ = width + 1 −
   * bitlen(w), computed EXACTLY via the length of the binary string
   * (`bin(w)` — identical minimal-width semantics on both engines; no
   * float log anywhere). w = 0 → ρ = width + 1, so P(ρ ≥ k) = 2^−(k−1).
   *
   * One tokenize scan → distinct (group, bucket, ρ) never materializes:
   * the max aggregate absorbs duplicates directly. Register space per
   * group is 2^p rows — the fixed-size state that makes HLL the
   * streaming/sharded cardinality sketch (vs KMV's k-row variable one).
   */
  def hllRegisters(docs: DataFrame, grpCol: String, textCol: String,
                   p: Int = 5): DataFrame = {
    require(p >= 2 && p <= 12, "p must be in [2, 12]")
    val m = hllM(p)
    val width = 60 - p
    val hv = conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long")
    val w = shiftright(col("_hv"), p) // the top 60−p bits — exact (no
    // float division: hv is up to 2^60, past double's 2^53 integer range)
    // ρ = leading zeros in the width-bit field + 1 = width + 1 − bitlen(w)
    val rho = when(w === 0L, lit(width + 1).cast("long"))
      .otherwise(lit(width + 1) - length(bin(w)))
    docs.select(col(grpCol),
        explode(TextAnalysis.toks(col(textCol))).as("tok"))
      .select(col(grpCol), hv.as("_hv"))
      .select(col(grpCol), (col("_hv") % m).as("bucket"), rho.as("rho"))
      .groupBy(col(grpCol), col("bucket"))
      .agg(max(col("rho")).as("register"))
  }

  /** HLL merge: registers MAX across sketches — the union's sketch from
    * per-group sketches, one aggregate over ≤ groups·2^p register rows.
    * (No geometry parameter: the merge is register-space only and cannot
    * validate p — a former unused `p` argument invited the false
    * impression that it did.) */
  def hllMerge(registers: DataFrame): DataFrame =
    registers.groupBy(col("bucket")).agg(max(col("register")).as("register"))

  /** The published alpha_m bias constant (Flajolet et al. 2007, Fig. 3). */
  def hllAlpha(m: Int): Double = m match {
    case 16 => 0.673
    case 32 => 0.697
    case 64 => 0.709
    case _  => 0.7213 / (1.0 + 1.079 / m)
  }

  /**
   * HLL estimator over a register table (per group): the raw estimate
   * E = α_m·m²/Σ 2^−reg with empty buckets at reg 0, plus the published
   * small-range correction E ≤ 2.5m ∧ V>0 → m·ln(m/V) (V = empty-bucket
   * count). The register sum runs in INTEGER space — Σ 2^((61−p)−reg) ≤
   * m·2^(61−p) < 2^63 — so the only floats are the final constant
   * multiply/divide and the correction's ln, both order-independent.
   * Emits (group, n_buckets_used, est_distinct at 4dp).
   */
  def hllEstimate(registers: DataFrame, grpCol: String,
                  p: Int = 5): DataFrame = {
    val m = hllM(p)
    val shiftBase = 61 - p // register values are in [1, 61−p]
    val alpha = hllAlpha(m)
    val agg = registers.groupBy(col(grpCol))
      .agg(count(lit(1)).as("n_buckets_used"),
        sum(expr(s"shiftleft(CAST(1 AS BIGINT), " +
          s"CAST($shiftBase - register AS INT))")).as("_s"))
    // empty buckets contribute 2^(shiftBase−0) each
    val s = col("_s") +
      (lit(m.toLong) - col("n_buckets_used")) * lit(1L << shiftBase)
    val v = (lit(m.toLong) - col("n_buckets_used")).cast("double")
    val raw = lit(alpha * m.toDouble * m.toDouble) *
      lit(math.pow(2.0, shiftBase)) / s.cast("double")
    val est = when(raw <= lit(2.5 * m) && v > 0.0,
      lit(m.toDouble) * log(lit(m.toDouble) / v)).otherwise(raw)
    agg.select(col(grpCol), col("n_buckets_used"),
      TextAnalysis.pround4(est).as("est_distinct"))
  }
}
