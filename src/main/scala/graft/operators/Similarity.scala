package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StructField, StructType}
import graft.Staging
import graft.functions.{CentroidExprs, VectorExprs}

/**
 * Similarity search over an embedding column (`Array[Float]`) — brute-force
 * cosine top-k as the exactness baseline, sign-LSH bucketing and an IVF
 * (k-means inverted-file) index as the scale paths. First-class
 * training-data-pipeline operators (builder brief).
 *
 * Scale design: cosine is a custom codegen'd Catalyst expression
 * ([[graft.functions.CosineSim]] — one fused loop inside whole-stage
 * codegen; no UDF, no interpreted HOF, no collect); top-k plans as
 * TakeOrderedAndProject (per-partition k then merge — no global sort
 * materialization); the LSH / IVF blocking bounds pair generation for the
 * near-dup case. At 1000-executor scale the bucketed variant shuffles each
 * vector once on a small bucket key instead of broadcasting the corpus, and
 * the IVF cell becomes the partition key of the stored index so probes read
 * only the probed cells' partitions.
 */
object Similarity {

  /**
   * cosine(a,b) ∈ [-1,1] — codegen'd single-pass kernel; accepts
   * `array<float>` or `array<double>` (floats widened to double). For
   * equal-length inputs the accumulation order matches the
   * `zip_with`+`aggregate` fold exactly (bit-identical results); unequal
   * lengths truncate to the shorter array where the fold returned null
   * (documented divergence, asserted in SimilaritySpec).
   */
  def cosine(a: Column, b: Column): Column = VectorExprs.cosineSim(a, b)

  /**
   * The ranked tail of every single-stage top-k: (id, `score` rounded to
   * 4 dp as `name`), score desc with id tiebreak, first k — plans as
   * TakeOrderedAndProject (per-partition k then merge, no global sort).
   * Rounding makes the order engine-portable: the DuckDB oracles rank the
   * same rounded value.
   */
  def topKBy(df: DataFrame, idCol: String, score: Column, name: String,
             k: Int): DataFrame =
    df.select(col(idCol), round(score, 4).as(name))
      .orderBy(col(name).desc, col(idCol).asc)
      .limit(k)

  /** The vector of row `id` (one row — the query, model-sized). */
  def queryVector(emb: DataFrame, idCol: String, vecCol: String,
                  id: Long): Seq[Double] =
    emb.filter(col(idCol) === id).select(col(vecCol))
      .collect()(0).getSeq[Double](0)

  /** `df` without row `excludeId` (when given) — the stored-index probes'
    * way to leave the query itself out. */
  private def excluding(df: DataFrame, idCol: String,
                        excludeId: Option[Long]): DataFrame =
    excludeId.fold(df)(id => df.filter(col(idCol) =!= id))

  /**
   * Brute-force top-k neighbors of one query vector: O(n·d) scan, ranked
   * by cosine desc with id tiebreak → TakeOrderedAndProject.
   */
  def bruteForceTopK(emb: DataFrame, idCol: String, vecCol: String,
                     query: Seq[Float], k: Int): DataFrame =
    topKBy(emb, idCol,
      cosine(col(vecCol), array(query.map(v => lit(v.toDouble)): _*)),
      "cos_sim", k)

  /** Component i's sign bit (1-based) as "1"/"0", never null. */
  private def signBit(vec: Column, i: Int): Column =
    when(element_at(vec, i) > 0, "1").otherwise("0")

  /** [[signBucket]] of a driver-held query vector. */
  private def queryBucket(query: Seq[Double], nBits: Int): String =
    query.take(nBits).map(v => if (v > 0) "1" else "0").mkString

  /**
   * Sign-LSH bucket key: the sign pattern of `nBits` fixed components —
   * a deterministic, engine-portable random-hyperplane surrogate (axis-
   * aligned hyperplanes). 2^nBits buckets; vectors near in cosine tend to
   * share sign patterns on the leading components.
   */
  def signBucket(vec: Column, nBits: Int = 4): Column =
    // nBits is a compile-time constant — unrolled concat of the per-bit
    // when()s (value-identical to the former array_join(transform(
    // sequence...)): each bit is always "1"/"0", never null). The HOF
    // form was CodegenFallback and broke the surrounding projection out
    // of whole-stage codegen on every ANN/embedding scan that buckets.
    concat((1 to nBits).map(signBit(vec, _)): _*)

  /**
   * ANN top-k: search only the query's sign bucket (probe-1 scale path).
   * Recall < 1 by construction; SimilaritySpec measures it against the
   * brute-force baseline.
   */
  def lshTopK(emb: DataFrame, idCol: String, vecCol: String,
              query: Seq[Float], k: Int, nBits: Int = 4): DataFrame =
    topKBy(emb.filter(signBucket(col(vecCol), nBits) ===
        queryBucket(query.map(_.toDouble), nBits)), idCol,
      cosine(col(vecCol), array(query.map(v => lit(v.toDouble)): _*)),
      "cos_sim", k)

  /**
   * Two-stage Matryoshka retrieval: rank the corpus by cosine over the
   * PREFIX of the embedding (Matryoshka-trained representations
   * front-load information, so a short prefix is a cheap coarse scorer —
   * Kusupati et al. 2022, public), keep a `pool`-sized candidate set,
   * then re-rank only those `pool` rows by full-dimension cosine.
   *
   * Scale: the coarse stage is the only corpus-wide pass and touches
   * prefixDim/d of each vector (with the prefix stored as its own column
   * in a columnar layout, the scan prunes to those bytes); the exact
   * stage is O(pool·d). Both stages plan as TakeOrderedAndProject — no
   * global sort. Coarse scores are rounded to 4dp with an id tiebreak so
   * the pool boundary is deterministic and engine-portable (same trade
   * as the final ranking in [[bruteForceTopK]]).
   */
  def matryoshkaTopK(emb: DataFrame, idCol: String, vecCol: String,
                     queryDf: DataFrame, qCol: String,
                     prefixDim: Int, pool: Int, k: Int): DataFrame = {
    val withQ = emb.crossJoin(broadcast(queryDf.select(col(qCol).as("_qv"))))
    val coarse = withQ.select(col(idCol), col(vecCol), col("_qv"),
      round(cosine(slice(col(vecCol), 1, prefixDim),
        slice(col("_qv"), 1, prefixDim)), 4).as("_coarse"))
      .orderBy(col("_coarse").desc, col(idCol).asc)
      .limit(pool)
    topKBy(coarse, idCol, cosine(col(vecCol), col("_qv")), "cos_sim", k)
  }

  /**
   * Per-dimension scalar-quantization parameters: corpus min/max of each
   * component, packed into two ordered arrays (`los`, `his`) in ONE model
   * row. The aggregate is a single shuffle of (pos, partial-min/max) rows
   * — dim-bounded, map-side combined — and the packing sort runs over dim
   * rows, not the corpus. min/max are exact (no float-order dependence),
   * so the parameters are engine- and partitioning-independent.
   */
  def sqParams(emb: DataFrame, vecCol: String): DataFrame = {
    val dims = emb
      .select(posexplode(col(vecCol)).as(Seq("pos", "x")))
      .groupBy(col("pos"))
      .agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
    dims.agg(
      transform(array_sort(collect_list(struct(col("pos"), col("lo")))),
        s => s.getField("lo")).as("los"),
      transform(array_sort(collect_list(struct(col("pos"), col("hi")))),
        s => s.getField("hi")).as("his"))
  }

  /**
   * Int8 scalar quantization (SQ8) for embedding columns: each component
   * maps to an integer code in [0,255] via the corpus per-dimension range
   * (code = floor((x−lo)/(hi−lo)·255 + 0.5), CLAMPED to [0,255] so a
   * query vector outside the corpus-trained range stays
   * int8-representable; degenerate dims code to 0),
   * an 8×-fewer-bytes representation — the standard memory-bound ANN
   * serving layout (FAISS SQ8, public). `sqCodes` emits (id, code array);
   * `sqReconstruct` maps codes back to the cell midpoint domain
   * (x̂ = lo + code·(hi−lo)/255) for distance evaluation.
   *
   * All arithmetic is fixed-order double ops mirrored verbatim by the
   * DuckDB oracle — codes are integer-exact cross-engine, reconstruction
   * bit-identical. Array-local per row (one broadcast of the dim-sized
   * params row); codegen'd transforms, no UDF.
   */
  def sqCodes(emb: DataFrame, idCol: String, vecCol: String,
              params: DataFrame): DataFrame =
    // native fused kernel (graft.functions.SqEncode — clamp included):
    // the former per-dim transform(sequence)+element_at chain was
    // CodegenFallback, an interpreted lambda frame per component per row
    emb.crossJoin(broadcast(params))
      .select(col(idCol),
        graft.functions.VectorExprs.sqEncode(col(vecCol), col("los"),
          col("his")).as("code"))

  /** Midpoint reconstruction x̂ from SQ8 codes (see [[sqCodes]]) —
    * fused decode kernel (graft.functions.SqDecode), same arithmetic. */
  def sqReconstruct(codes: DataFrame, idCol: String,
                    params: DataFrame): DataFrame =
    codes.crossJoin(broadcast(params))
      .select(col(idCol),
        graft.functions.VectorExprs.sqDecode(col("code"), col("los"),
          col("his")).as("vhat"))

  /**
   * ANN top-k over the QUANTIZED corpus: both query and corpus vectors
   * pass through the same SQ8 round-trip, then rank by cosine of the
   * reconstructions. At serving scale the scan reads 1-byte codes instead
   * of 8-byte doubles (the win this operator exists for); recall vs the
   * exact ranking is measured in SimilaritySpec and the error bound
   * (≤ range/255 per component) is what makes pool-free serving viable.
   */
  def sqTopK(emb: DataFrame, idCol: String, vecCol: String,
             queryDf: DataFrame, qCol: String, k: Int): DataFrame = {
    val params = sqParams(emb, vecCol)
    val corpus = sqReconstruct(sqCodes(emb, idCol, vecCol, params),
      idCol, params)
    val q = sqReconstruct(
      sqCodes(queryDf.select(col(qCol), lit(0L).as("_qid")), "_qid", qCol,
        params), "_qid", params)
      .select(col("vhat").as("_qhat"))
    topKBy(corpus.crossJoin(broadcast(q)), idCol,
      cosine(col("vhat"), col("_qhat")), "cos_sim", k)
  }

  /**
   * The query's sign bucket plus every flip-1-bit neighbor — the standard
   * multi-probe set (nBits+1 of the 2^nBits buckets). A vector whose sign
   * pattern differs from the query's in at most one component is reachable;
   * equivalently, candidates are rows with ≥ nBits−1 sign agreements.
   */
  def multiProbeBuckets(query: Seq[Double], nBits: Int): Seq[String] = {
    val qb = queryBucket(query, nBits)
    qb +: (0 until nBits).map(i =>
      qb.updated(i, if (qb(i) == '1') '0' else '1'))
  }

  /**
   * ANN top-k with multi-probe sign-LSH: search the query's bucket AND all
   * flip-1-bit buckets. Candidate volume grows ~(nBits+1)/2^nBits of the
   * corpus (vs 1/2^nBits for probe-1) and recall rises accordingly —
   * measured against brute force in SimilaritySpec and by the
   * q_ann_lsh_mp driver query. Against a stored index partitioned by
   * bucket, the `isin` probe-set predicate prunes to nBits+1 partitions.
   */
  def lshTopKMultiProbe(emb: DataFrame, idCol: String, vecCol: String,
                        query: Seq[Double], k: Int, nBits: Int = 4): DataFrame = {
    val probes: Seq[Any] = multiProbeBuckets(query, nBits)
    topKBy(emb.filter(signBucket(col(vecCol), nBits).isin(probes: _*)), idCol,
      cosine(col(vecCol), array(query.map(lit): _*)), "cos_sim", k)
  }

  /**
   * Deterministic k-means for the IVF index: seeds are the k smallest-id
   * vectors, then `iters` Lloyd iterations over a FIXED sample
   * (id < sampleN — at production scale this would be a hash-sample of the
   * same bounded size; the iteration cost is O(sample·k), independent of
   * corpus size). Per-dimension means are computed with exact DECIMAL sums
   * so the centroids are bit-identical regardless of row order / partition
   * count — reproducible clustering, oracle-checkable in any engine.
   * A centroid that loses all its sample points drops out (k shrinks);
   * deterministic, documented.
   *
   * EXECUTION (optimization round): the sample is model-sized by
   * construction (≤ sampleN rows), so it is collected ONCE and the Lloyd
   * iterations run driver-side in [[kmeansLocal]] — one Spark job per
   * training instead of `iters` × (assign-shuffle + mean-shuffle +
   * collect) jobs, which dominated every ANN query's wall clock (the
   * first formulation spent ~6 multi-stage jobs per codebook on ≤256
   * rows of data). The driver arithmetic mirrors the former relational
   * plan EXACTLY — same CosineSim accumulation order, Spark's double
   * total order (NaN greatest) for the argmax, per-value
   * DECIMAL(28,12) HALF_UP rounding and exact decimal sums for the
   * means — so centroids are bit-identical to the former plan's
   * (SimilaritySpec pins determinism; the full ANN oracle family pins
   * end-to-end equality).
   */
  def kmeansCentroids(emb: DataFrame, idCol: String, vecCol: String,
                      k: Int = 8, iters: Int = 2, sampleN: Long = 256): DataFrame = {
    val (sample, seeds) = sampleAndSeeds(emb, idCol, vecCol, k, sampleN)
    val rows = kmeansLocal(sample, seeds, iters)
      .map { case (cid, cv) => Row(cid, cv.toSeq) }
    emb.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(Seq(StructField("cid", LongType),
        StructField("cv", ArrayType(DoubleType)))))
  }

  /** The k-means sample (id < sampleN) and its seeds (id < k) as
    * driver-side rows, float vectors widened to double exactly as the
    * cosine cast does. Refuses a sample with no seed: Lloyd iterations
    * from zero centroids would invent a cell the relational twin
    * ([[assignCells]]) and the oracle never produce. */
  private def sampleAndSeeds(emb: DataFrame, idCol: String, vecCol: String,
                             k: Int, sampleN: Long)
      : (Array[(Long, Array[Double])], Array[(Long, Array[Double])]) = {
    // the sample is bounded (≤ sampleN rows) — one task beats 32 empty ones
    def below(bound: Long) = emb.filter(col(idCol) < bound)
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .coalesce(1)
      .collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) null
        else r.getSeq[Double](1).toArray))
    val sample = below(sampleN)
    val seeds = if (k <= sampleN) sample.filter(_._1 < k) else below(k)
    require(seeds.nonEmpty,
      s"k-means has no seed: no id below k=$k (sampleN=$sampleN)")
    (sample, seeds)
  }

  /** Spark SQL's total order for doubles (SQLOrderingUtil.compareDoubles):
    * -0.0 == 0.0, NaN equal to itself and greater than everything else —
    * the ordering the former relational argmax (`max(struct(...))`) used. */
  private def cmpDouble(a: Double, b: Double): Int =
    if (a < b) -1 else if (a > b) 1 else if (a == b) 0
    else { val an = java.lang.Double.isNaN(a)
      if (an && java.lang.Double.isNaN(b)) 0 else if (an) 1 else -1 }

  /** Driver-side mirror of [[CosineSim]]'s kernel: identical accumulation
    * order and min-length truncation, so results are bit-identical. */
  private def cosineLocal(x: Array[Double], y: Array[Double]): Double = {
    val n = math.min(x.length, y.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val xi = x(i); val yi = y(i)
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** One value's exact-decimal contribution: the double rounded HALF_UP to
    * 12 decimal places — Spark's `cast(x as decimal(28,12))` semantics
    * (Decimal(BigDecimal(double)) is Double.toString-based, then
    * changePrecision rounds HALF_UP). */
  private def dec12(x: Double): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(x).setScale(12, java.math.RoundingMode.HALF_UP)

  /**
   * Driver-side Lloyd iterations over a collected (model-sized) sample —
   * the arithmetic twin of the former relational formulation (see
   * [[kmeansCentroids]]): assignment is argmax cosine with smaller-cid
   * tie-break under Spark's double total order; the per-(cell, pos) mean
   * is exact-decimal-sum / count with per-value DECIMAL(28,12) HALF_UP
   * rounding; a centroid that loses all sample points drops out.
   * Output sorted by cid (the former collect order was partition-hash
   * order; every consumer is order-independent or sorts — documented).
   */
  private def kmeansLocal(sample: Array[(Long, Array[Double])],
                  seeds: Array[(Long, Array[Double])],
                  iters: Int): Seq[(Long, Array[Double])] = {
    var cents: Seq[(Long, Array[Double])] =
      seeds.sortBy(_._1).map { case (id, v) => (id, v) }.toSeq
    for (_ <- 1 to iters) {
      // argmax_{(cid,cv)} (cosine, -cid) — lexicographic, Spark double order
      val assigned: Array[(Long, Array[Double])] = sample.map { case (_, v) =>
        var bestCos = 0.0; var bestNc = 0L; var first = true; var cell = 0L
        cents.foreach { case (cid, cv) =>
          val c = cosineLocal(v, cv); val nc = -cid
          val better = first || {
            val cc = cmpDouble(c, bestCos)
            cc > 0 || (cc == 0 && nc > bestNc)
          }
          if (better) { bestCos = c; bestNc = nc; cell = cid; first = false }
        }
        (cell, v)
      }
      cents = assigned.groupBy(_._1).toSeq.map { case (cid, rows) =>
        val vecs = rows.map(_._2)
        val dim = vecs.map(_.length).max
        val cv = Array.tabulate(dim) { p =>
          var sum = java.math.BigDecimal.ZERO; var cnt = 0L
          vecs.foreach { v =>
            if (v.length > p) { sum = sum.add(dec12(v(p))); cnt += 1 }
          }
          sum.doubleValue() / cnt
        }
        (cid, cv)
      }.sortBy(_._1)
    }
    cents
  }

  /**
   * Component-wise mean embedding per group (e.g. per source/domain) —
   * the corpus-composition companion to k-means: drift between a
   * source's centroid and the corpus centroid is the standard
   * mixture-shift monitor. LONG output (group, dim, c), one row per
   * (group, component): posexplode → ONE shuffle on (group, dim) with
   * map-side partial sums; the same DECIMAL(28,12) exact-sum recipe as
   * [[kmeansCentroids]] (order-independent, engine-portable — a double
   * sum would be partitioning-dependent). Row count = groups × dims,
   * aggregate-scale, never corpus-scale.
   */
  def groupCentroids(joined: DataFrame, grpCol: String,
                     vecCol: String): DataFrame =
    joined.select(col(grpCol), posexplode(col(vecCol)))
      .groupBy(col(grpCol), col("pos").cast("long").as("dim"))
      .agg((sum(col("col").cast("decimal(28,12)")).cast("double")
        / count(lit(1))).as("c"))

  /**
   * IVF cell assignment: each vector's cell is its max-cosine centroid
   * (ties → smaller centroid id). The centroid table is tiny and broadcast.
   * argmax is `max(struct(cosine, −cid))` — lexicographic struct max ≡
   * (cosine desc, cid asc) — NOT a row_number window: the groupBy gets
   * map-side partial aggregation, so the n·k crossjoin rows combine back to
   * n rows BEFORE the shuffle (a window would shuffle all n·k rows — the
   * difference between shuffling the corpus and shuffling it k times).
   */
  def assignCells(emb: DataFrame, idCol: String, vecCol: String,
                  cents: DataFrame): DataFrame =
    emb.crossJoin(broadcast(cents))
      .groupBy(col(idCol))
      .agg(max(struct(
        cosine(col(vecCol), col("cv")).as("c"),
        (-col("cid")).as("nc"))).as("m"))
      .select(col(idCol), (-col("m.nc")).cast("long").as("cell"))

  /** IVF cell table for the whole corpus (k-means centroids). */
  def ivfCells(emb: DataFrame, idCol: String, vecCol: String,
               k: Int = 8, iters: Int = 2, sampleN: Long = 256): DataFrame =
    assignCells(emb, idCol, vecCol,
      kmeansCentroids(emb, idCol, vecCol, k, iters, sampleN))

  /** A (cid, cv) centroid table as a driver-held codebook, sorted by cid —
    * k rows, the model. */
  private def codebookOf(cents: DataFrame): Seq[(Long, Seq[Double])] =
    cents.collect().map(r => (r.getLong(0), r.getSeq[Double](1).toSeq))
      .sortBy(_._1).toSeq

  /** The `nprobe` cells nearest the query `q` (cosine desc, smaller cid on
    * ties) — the ranked probe set, nprobe ids, model-sized. */
  private def nearestCells(cents: DataFrame, q: Column,
                           nprobe: Int): Seq[Long] =
    cents.orderBy(cosine(col("cv"), q).desc, col("cid"))
      .limit(nprobe)
      .collect().map(_.getAs[Long]("cid")).toSeq

  /**
   * Cell assignment as a SCAN-LOCAL column: with the k centroids collected
   * driver-side (model-sized), each vector's argmax-cosine cell is a pure
   * expression — the native [[graft.functions.NearestCentroidId]] kernel,
   * the same lexicographic (cosine, −cid) argmax as [[assignCells]] — so
   * no crossjoin rows, no groupBy, no join to attach cells to a corpus
   * that also needs its payload columns. This is how a cell column should
   * be carried at 100 TB: computed in the scan, not joined on afterwards.
   *
   * The former formulation (`array_max` over k struct literals) grew its
   * expression tree linearly in k — fine at k=8, Catalyst-hazardous at
   * production k (BENCH.md §7's StringReplace sibling); the native kernel
   * holds the codebook as ONE model-sized reference object, depth O(1) in
   * k (BENCH.md §10.1 has the sweep), results bit-identical
   * (SimilaritySpec pins equality against the literal form).
   */
  def cellColumn(vecCol: Column, cents: Seq[(Long, Seq[Double])]): Column =
    CentroidExprs.nearestCentroidId(vecCol, cents)

  /** A candidate pair's rounded cosine over its (v1, v2) vectors — the
    * score both near-dup self-joins filter on. */
  private def pairCosine: Column = round(cosine(col("v1"), col("v2")), 4)

  /**
   * SemDeDup (Abbas et al. 2023, public — "SemDeDup: Data-efficient
   * learning at web-scale through semantic deduplication"): semantic
   * near-dup pairs via k-means blocking. Pairwise cosine is computed ONLY
   * within a cluster — the cluster granularity k bounds the quadratic
   * (the paper's core trick; they run k=50,000 on LAION). Complements the
   * sign-LSH [[nearDupPairs]]: LSH buckets are data-independent
   * hyperplane cuts, SemDeDup cells adapt to the corpus's density.
   *
   * Plan: centroids are model-sized (driver-held, [[kmeansCentroids]]'s
   * documented seam); the cell is a scan-local [[cellColumn]] expression
   * (NO assignment join), so the whole operator is ONE self-join shuffle
   * keyed on cell with bounded per-key width. Emits
   * (cell, id1, id2, cos_sim) at rounded-cosine ≥ eps, id1 < id2.
   */
  def semDedupPairs(emb: DataFrame, idCol: String, vecCol: String,
                    eps: Double, k: Int = 8, iters: Int = 2,
                    sampleN: Long = 256): DataFrame = {
    val cents = codebookOf(kmeansCentroids(emb, idCol, vecCol, k, iters,
      sampleN))
    val withCell = emb.select(col(idCol), col(vecCol),
      cellColumn(col(vecCol), cents).as("cell"))
    val a = withCell.select(col("cell"), col(idCol).as("id1"),
      col(vecCol).as("v1"))
    val b = withCell.select(col("cell"), col(idCol).as("id2"),
      col(vecCol).as("v2"))
    a.join(b, Seq("cell"))
      .filter(col("id1") < col("id2"))
      .select(col("cell"), col("id1"), col("id2"),
        pairCosine.as("cos_sim"))
      .filter(col("cos_sim") >= eps)
  }

  /**
   * SemDeDup keeper list: every id except those appearing as the HIGHER
   * id of a within-cell near-dup pair — the deterministic lowest-id
   * representative convention (the paper keeps the point farthest from
   * the centroid; lowest-id is equally valid and engine-portable). The
   * anti-join ships only ids, never vectors.
   */
  def semDedupKeep(emb: DataFrame, idCol: String, vecCol: String,
                   eps: Double, k: Int = 8, iters: Int = 2,
                   sampleN: Long = 256): DataFrame = {
    val dups = semDedupPairs(emb, idCol, vecCol, eps, k, iters, sampleN)
      .select(col("id2").as(idCol)).distinct()
    emb.select(col(idCol)).join(dups, Seq(idCol), "left_anti")
  }

  /**
   * IVF multi-probe top-k: rank centroids by cosine to the query and search
   * the union of the `nprobe` nearest cells (probe-1 = the query's own
   * cell). At scale the stored index is partitioned by cell, so this reads
   * only nprobe partitions. Recall vs brute force is measured in
   * SimilaritySpec.
   */
  def ivfTopK(emb: DataFrame, idCol: String, vecCol: String,
              queryId: Long, topK: Int, k: Int = 8, nprobe: Int = 2,
              iters: Int = 2, sampleN: Long = 256): DataFrame = {
    val cents = kmeansCentroids(emb, idCol, vecCol, k, iters, sampleN)
    val q = emb.filter(col(idCol) === queryId).select(col(vecCol).as("qv"))
    val probed = nearestCells(cents.crossJoin(broadcast(q)), col("qv"), nprobe)
    // cell is a scan-local cellColumn predicate (the stored-index probe's
    // shape) — the former corpus-wide assignCells crossjoin+groupBy+join
    // shuffled the corpus twice to attach a column the scan can compute
    topKBy(emb.filter(cellColumn(col(vecCol), codebookOf(cents))
        .isin(probed: _*))
      .crossJoin(broadcast(q))
      .filter(col(idCol) =!= queryId), idCol,
      cosine(col(vecCol), col("qv")), "cos_sim", topK)
  }

  /**
   * Persist the IVF index in its scale layout: vectors PARTITIONED BY cell
   * (plus the tiny centroid table). A probe then reads only the probed
   * cells' partition directories — the claim the in-memory `ivfTopK` makes
   * is realized as storage layout here, and partition pruning is asserted
   * in SimilaritySpec.
   */
  def writeIvfIndex(emb: DataFrame, idCol: String, vecCol: String,
                    path: String, k: Int = 8, iters: Int = 2,
                    sampleN: Long = 256): Unit = {
    val cents = kmeansCentroids(emb, idCol, vecCol, k, iters, sampleN)
    // cell computed IN the scan (cellColumn — same argmax as assignCells);
    // the former assignCells+join shuffled the corpus twice for a column
    // that is a pure function of the vector
    emb.withColumn("cell", cellColumn(col(vecCol), codebookOf(cents)))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/vectors")
    // model-sized table (k rows by construction): one task, one file —
    // a LocalTableScan write otherwise fans rows across default
    // parallelism into a pile of near-empty files the probe must list
    cents.coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
  }

  /**
   * ANN top-k against a stored IVF index: rank the (model-sized) centroid
   * table against the query vector, then scan ONLY the nprobe nearest
   * cells — the `cell IN (...)` predicate prunes to those partition
   * directories at planning time.
   */
  def ivfIndexTopK(spark: org.apache.spark.sql.SparkSession, path: String,
                   idCol: String, vecCol: String, query: Seq[Double],
                   topK: Int, nprobe: Int = 2,
                   excludeId: Option[Long] = None): DataFrame = {
    val q = array(query.map(lit): _*)
    val probed = nearestCells(spark.read.parquet(s"$path/centroids"), q, nprobe)
    val scan = spark.read.parquet(s"$path/vectors")
      .filter(col("cell").isin(probed: _*))
    topKBy(excluding(scan, idCol, excludeId), idCol,
      cosine(col(vecCol), q), "cos_sim", topK)
  }

  /**
   * Product-quantization codebooks (Jégou, Douze & Schmid 2011, "Product
   * Quantization for Nearest Neighbor Search", IEEE TPAMI): the vector
   * space splits into `m` contiguous subspaces of dim/m components and a
   * SEPARATE deterministic k-means codebook ([[kmeansCentroids]] — seeds
   * = smallest ids, fixed sample, DECIMAL-exact means) trains per
   * subspace. A database vector then stores m small codes instead of dim
   * floats (k ≤ 256 → m bytes) — the standard way a 100 TB embedding
   * corpus keeps its index in RAM, and the effective codebook is kᵐ
   * cells for m·k trained centroids. Driver-held return (model-sized:
   * m·k·(dim/m) doubles — the same seam as [[kmeansCentroids]]),
   * sorted by centroid id for determinism.
   */
  def pqCodebooks(emb: DataFrame, idCol: String, vecCol: String, dim: Int,
                  m: Int = 4, k: Int = 8, iters: Int = 2,
                  sampleN: Long = 256): Seq[Seq[(Long, Seq[Double])]] = {
    require(m >= 1 && dim % m == 0, s"dim $dim must be divisible by m $m")
    val sub = dim / m
    // ONE sample collect feeds all m subspace trainings (the slice is a
    // local subarray — Spark's slice(start, len) on the same rows); the
    // former per-subspace plan re-scanned the corpus m times
    val (sample, seeds) = sampleAndSeeds(emb, idCol, vecCol, k, sampleN)
    def sl(v: Array[Double], s: Int): Array[Double] =
      if (v == null) null
      else v.slice(s * sub, math.min(v.length, s * sub + sub))
    (0 until m).map { s =>
      kmeansLocal(sample.map(t => (t._1, sl(t._2, s))),
        seeds.map(t => (t._1, sl(t._2, s))), iters)
        .map { case (cid, cv) => (cid, cv.toSeq) }.toSeq
    }
  }

  /** PQ code per subspace (the stored representation): [[cellColumn]]'s
    * argmax on each slice — scan-local, no join, no shuffle. */
  def pqCodeColumns(vecCol: Column, codebooks: Seq[Seq[(Long, Seq[Double])]],
                    sub: Int): Seq[Column] =
    codebooks.zipWithIndex.map { case (cb, s) =>
      cellColumn(slice(vecCol, s * sub + 1, sub), cb)
    }

  /** PQ reconstruction x̂: each subspace's assigned centroid (the
    * [[cellColumn]] argmax carrying the centroid itself, native
    * [[graft.functions.NearestCentroidVec]] kernel), concatenated back to
    * a dim-length vector — pure scan-local expression. */
  def pqReconstruct(vecCol: Column, codebooks: Seq[Seq[(Long, Seq[Double])]],
                    sub: Int): Column =
    concat(codebooks.zipWithIndex.map { case (cb, s) =>
      CentroidExprs.nearestCentroidVec(slice(vecCol, s * sub + 1, sub), cb)
    }: _*)

  /**
   * PQ asymmetric-distance top-k: rank by cos(q, x̂) with the query kept
   * EXACT and every database vector replaced by its PQ reconstruction —
   * ADC, the paper's recommended regime (quantizing only one side halves
   * the quantization noise vs symmetric). The whole scoring pass is
   * scan-local (codebooks are driver-held literals; the reconstruction
   * and cosine run inside the scan) followed by ONE TakeOrdered — at
   * corpus scale there is no join and no shuffle, only the scan and the
   * top-k. Combine with the IVF partition layout ([[writeIvfIndex]]) for
   * IVFADC: coarse cells prune the scan, PQ codes score the survivors.
   * Recall vs [[bruteForceTopK]] is measured in SimilaritySpec.
   */
  def pqTopK(emb: DataFrame, idCol: String, vecCol: String, queryId: Long,
             dim: Int, topK: Int = 10, m: Int = 4, k: Int = 8,
             iters: Int = 2, sampleN: Long = 256): DataFrame = {
    val cbs = pqCodebooks(emb, idCol, vecCol, dim, m, k, iters, sampleN)
    val qv = queryVector(emb, idCol, vecCol, queryId)
    topKBy(emb.filter(col(idCol) =!= queryId), idCol,
      cosine(typedlit(qv), pqReconstruct(col(vecCol), cbs, dim / m)),
      "pq_sim", topK)
  }

  /**
   * The IVFADC model: the coarse k-means table and its codebook, the
   * residual column x − c(x) (native vec_sub over the nearest coarse
   * centroid — zip_with is CodegenFallback, interpreted per row) and the
   * m PQ codebooks trained on that residual. Shared by [[ivfadcTopK]]
   * and [[writeIvfadcIndex]].
   */
  private def ivfadcModel(emb: DataFrame, idCol: String, vecCol: String,
                          dim: Int, kCoarse: Int, m: Int, k: Int, iters: Int,
                          sampleN: Long)
      : (DataFrame, Seq[(Long, Seq[Double])], Column,
         Seq[Seq[(Long, Seq[Double])]]) = {
    val coarseDf = kmeansCentroids(emb, idCol, vecCol, kCoarse, iters, sampleN)
    val coarse = codebookOf(coarseDf)
    val resid = CentroidExprs.vecSub(col(vecCol),
      CentroidExprs.nearestCentroidVec(col(vecCol), coarse))
    val cbs = pqCodebooks(emb.select(col(idCol), resid.as("_r")),
      idCol, "_r", dim, m, k, iters, sampleN)
    (coarseDf, coarse, resid, cbs)
  }

  /**
   * IVFADC top-k (Jégou, Douze & Schmid 2011 §IV — the paper's composed
   * index, and the FAISS `IVFx,PQy` default): a coarse k-means quantizer
   * prunes the scan to the `nprobe` nearest cells, and PQ codebooks
   * trained on the RESIDUALS x − c(x) (not the raw vectors — residuals
   * concentrate near zero, so the same k·m centroids spend their
   * resolution where the data actually lives once the coarse cell is
   * known) score the survivors by cos(exact q, c(x) + r̂). Quantizing
   * residuals is what distinguishes IVFADC from merely running [[pqTopK]]
   * behind an IVF filter; recall dominance over both parents is measured
   * in SimilaritySpec.
   *
   * Plan contract: the coarse codebook and the m residual codebooks are
   * driver-held literals (model-sized — the [[kmeansCentroids]]
   * seam); cell assignment, residual, reconstruction and cosine are all
   * scan-local expressions over ONLY the probed cells' rows (with the
   * stored [[writeIvfIndex]] layout the probe reads nprobe partition
   * directories), followed by ONE TakeOrdered. No join, no shuffle beyond
   * the top-k merge.
   */
  def ivfadcTopK(emb: DataFrame, idCol: String, vecCol: String,
                 queryId: Long, dim: Int, topK: Int = 10, kCoarse: Int = 8,
                 nprobe: Int = 2, m: Int = 4, k: Int = 8, iters: Int = 2,
                 sampleN: Long = 256): DataFrame = {
    val (coarseDf, coarse, resid, cbs) =
      ivfadcModel(emb, idCol, vecCol, dim, kCoarse, m, k, iters, sampleN)
    val qv = queryVector(emb, idCol, vecCol, queryId)
    val probed = nearestCells(coarseDf, typedlit(qv), nprobe)
    val xhat = CentroidExprs.vecAdd(
      CentroidExprs.nearestCentroidVec(col(vecCol), coarse),
      pqReconstruct(resid, cbs, dim / m))
    topKBy(emb.filter(col(idCol) =!= queryId)
        .filter(cellColumn(col(vecCol), coarse).isin(probed: _*)), idCol,
      cosine(typedlit(qv), xhat), "adc_sim", topK)
  }

  /**
   * Persist the IVFADC index in its scale layout (Jégou et al. 2011 §IV /
   * the FAISS on-disk shape): per vector, the coarse CELL as the
   * partition key and the m PQ CODES as small ints — the full-precision
   * vector is NOT stored. At dim=64 doubles → 4 ints the index is ~60×
   * smaller than the [[writeIvfIndex]] layout, which is the property
   * that keeps a 100 TB embedding corpus's index in RAM; the price is
   * quantized (ADC) scores instead of exact ones. Alongside: the coarse
   * centroid table, the per-subspace residual codebooks, and a meta row
   * (dim, k_coarse, m, k) guarding artifact identity the way
   * [[writeLshIndex]] stores `n_bits`.
   */
  def writeIvfadcIndex(emb: DataFrame, idCol: String, vecCol: String,
                       path: String, dim: Int, kCoarse: Int = 8,
                       m: Int = 4, k: Int = 8, iters: Int = 2,
                       sampleN: Long = 256): Unit = {
    val (coarseDf, coarse, resid, cbs) =
      ivfadcModel(emb, idCol, vecCol, dim, kCoarse, m, k, iters, sampleN)
    val codeCols = pqCodeColumns(resid, cbs, dim / m).zipWithIndex
      .map { case (c, s) => c.cast("int").as(s"code$s") }
    emb.select(col(idCol) +: cellColumn(col(vecCol), coarse).as("cell") +:
        codeCols: _*)
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/codes")
    // model-sized tables (k_coarse / m·k rows): one task, one file each
    coarseDf.coalesce(1).write.mode("overwrite").parquet(s"$path/coarse")
    val cbRows = cbs.zipWithIndex.flatMap { case (cb, s) =>
      cb.map { case (cid, cv) => (s, cid, cv) }
    }
    emb.sparkSession.createDataFrame(cbRows)
      .toDF("subspace", "cid", "cv")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/codebooks")
    // single-task single-row meta write (one file, one commit)
    emb.sparkSession.range(0, 1, 1, 1)
      .select(lit(dim).as("dim"), lit(kCoarse).as("k_coarse"),
        lit(m).as("m"), lit(k).as("k"))
      .write.mode("overwrite").parquet(s"$path/meta")
  }

  /**
   * ANN top-k against a stored [[writeIvfadcIndex]] artifact: the coarse
   * table ranks the probe cells (model-sized read), the scan touches
   * ONLY the nprobe `cell=` partition directories (PartitionFilters
   * asserted in SimilaritySpec), and each survivor is scored from its m
   * stored CODES — reconstruction is a centroid lookup per code plus one
   * native vec_add, entirely scan-local, the raw vector never
   * read because it was never stored. Scores are identical to the
   * in-memory [[ivfadcTopK]] (same argmax semantics for cell and codes),
   * so both sit under the same oracle. Refuses a dim that differs from
   * the artifact's.
   */
  def ivfadcIndexTopK(spark: org.apache.spark.sql.SparkSession, path: String,
                      idCol: String, query: Seq[Double], topK: Int = 10,
                      nprobe: Int = 2,
                      excludeId: Option[Long] = None): DataFrame = {
    val meta = spark.read.parquet(s"$path/meta").head()
    val (dim, m) = (meta.getAs[Int]("dim"), meta.getAs[Int]("m"))
    require(dim == query.length,
      s"index at $path holds dim=$dim vectors, probed with dim=${query.length}")
    val coarseDf = spark.read.parquet(s"$path/coarse")
    val coarse = codebookOf(coarseDf)
    val cbs = spark.read.parquet(s"$path/codebooks").collect()
      .map(r => (r.getAs[Int]("subspace"), r.getLong(1), r.getSeq[Double](2).toSeq))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.map(t => (t._2, t._3)).sortBy(_._1).toSeq)
    val q = typedlit(query)
    val probed = nearestCells(coarseDf, q, nprobe)
    val scan = spark.read.parquet(s"$path/codes")
      .filter(col("cell").isin(probed: _*))
    val rhat = concat((0 until m).map(s =>
      CentroidExprs.centroidLookupVec(col(s"code$s"), cbs(s))): _*)
    val xhat = CentroidExprs.vecAdd(
      CentroidExprs.centroidLookupVec(col("cell"), coarse), rhat)
    topKBy(excluding(scan, idCol, excludeId), idCol, cosine(q, xhat),
      "adc_sim", topK)
  }

  /**
   * Persist the sign-LSH ANN index in its scale layout: vectors
   * PARTITIONED BY their nBits sign bucket — the sign-LSH sibling of
   * [[writeIvfIndex]] (data-independent buckets, so no centroid table to
   * persist; the bucket function IS the model). A multi-probe query then
   * reads only nBits+1 of the 2^nBits partition directories. The bucket
   * width is part of the artifact's identity (a probe built with a
   * different nBits would prune to the wrong directories), so it is
   * stored alongside, mirroring [[Dedup.writeSignatureIndex]]'s
   * `shingle_n` guard.
   */
  def writeLshIndex(emb: DataFrame, idCol: String, vecCol: String,
                    path: String, nBits: Int = 4): Unit = {
    emb.withColumn("bucket", signBucket(col(vecCol), nBits))
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$path/vectors")
    emb.sparkSession.range(0, 1, 1, 1).select(lit(nBits).as("n_bits"))
      .write.mode("overwrite").parquet(s"$path/meta")
  }

  /**
   * Multi-probe ANN top-k against a stored [[writeLshIndex]] artifact:
   * the query's bucket plus every flip-1-bit neighbor, as an `isin`
   * predicate on the partition column — pruned to nBits+1 partition
   * directories at planning time (asserted in SimilaritySpec). Same
   * candidate set, hence same result, as the in-memory
   * [[lshTopKMultiProbe]]. Refuses an `nBits` that differs from the one
   * the index was built with.
   */
  def lshIndexTopK(spark: org.apache.spark.sql.SparkSession, path: String,
                   idCol: String, vecCol: String, query: Seq[Double],
                   k: Int, nBits: Int = 4,
                   excludeId: Option[Long] = None): DataFrame = {
    val storedBits = spark.read.parquet(s"$path/meta")
      .head().getAs[Int]("n_bits")
    require(storedBits == nBits,
      s"LSH index at $path was built with nBits=$storedBits, probed with nBits=$nBits")
    val probes: Seq[Any] = multiProbeBuckets(query, nBits)
    val scan = spark.read.parquet(s"$path/vectors")
      .filter(col("bucket").isin(probes: _*))
    topKBy(excluding(scan, idCol, excludeId), idCol,
      cosine(col(vecCol), array(query.map(lit): _*)), "cos_sim", k)
  }

  /**
   * Embedding near-dup pairs: all pairs with cosine ≥ threshold, blocked
   * by (blockCol, band, sign bucket) — BANDED sign-LSH with OR-
   * amplification: `bands` independent sign buckets, each over
   * `bitsPerBand` consecutive components; a pair is a candidate if it
   * agrees on ANY band. Each band still splits every natural block
   * 2^bitsPerBand ways (a dominant block value cannot re-create the
   * quadratic join), while recall rises as 1−(1−p^r)^b instead of the
   * single-bucket p^r (p = per-component sign-agreement probability).
   * Recall at the driver's threshold is measured by the
   * q_dedup_embedding_recall query.
   */
  def nearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
                   blockCol: String, threshold: Double,
                   bands: Int = 4, bitsPerBand: Int = 2): DataFrame = {
    // constant band ranges — unrolled concat of per-bit when()s (see
    // signBucket: value-identical to the former HOF, fully codegen)
    val bandBuckets = (0 until bands).map { i =>
      concat((i * bitsPerBand + 1 to (i + 1) * bitsPerBand)
        .map(signBit(col(vecCol), _)): _*)
    }
    val withB = emb.select(col(blockCol).as("blk"), col(idCol), col(vecCol),
      posexplode(array(bandBuckets: _*)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bucket")
    val l = withB.select(col("blk"), col("band"), col("bucket"),
      col(idCol).as("id1"), col(vecCol).as("v1"))
    val r = withB.select(col("blk"), col("band"), col("bucket"),
      col(idCol).as("id2"), col(vecCol).as("v2"))
    l.join(r, Seq("blk", "band", "bucket"))
      .filter(col("id1") < col("id2"))
      .withColumn("cos_sim", pairCosine)
      .filter(col("cos_sim") >= threshold)
      .select(col("id1"), col("id2"), col("cos_sim"))
      .distinct() // a pair may agree on several bands
  }

  /**
   * TF-IDF all-pairs document similarity (the APSS problem — Bayardo,
   * Ma & Srikant, WWW 2007, public): cosine over sparse tf-idf vectors
   * for every same-block document pair above `threshold`, computed via
   * df-capped inverted postings — the weighted sibling of
   * [[Dedup.ngramJaccardPairs]] with the identical one-scan/one-shuffle
   * plan shape.
   *
   * Weights: w = tf · ln(1 + N/df). A token present in more than
   * `maxDfFrac` of all documents is dropped from the vector space
   * entirely (weights AND norms — the similarity stays a true cosine
   * over the capped space); such tokens carry near-zero idf signal but
   * make per-token pair generation quadratic in the hottest posting
   * list. A FRACTION (not a fixed count) is the right cap shape: a
   * fixed df bound shrinks the surviving vocabulary toward zero as the
   * corpus grows (the same Heaps'-law failure mode as a fixed LM
   * minCount), while a fraction keeps the vector space stable at any
   * scale.
   *
   * The BLOCK, not the df cap, bounds the arrays: postings are collected
   * per (token, block), so the quadratic is C(block_df, 2) per bucket —
   * the df cap trims the idf-dead vocabulary, the block choice is the
   * license for the pair space (as [[Dedup.ngramJaccardPairs]] with
   * `source`). The first formulation collected per TOKEN (all blocks in
   * one array, block equality filtered array-locally after an O(df²)
   * index enumeration): the fractional cap made that array O(maxDfFrac·N)
   * — corpus-proportional — and a 10× scale-up OOM'd the executor on the
   * hottest token (measured, BENCH.md §9). Same results, block-bounded
   * memory.
   *
   * Determinism: dot products and norms are summed through
   * DECIMAL(28,12) (the [[kmeansCentroids]] recipe), so results are
   * independent of partition order and engine — a raw double sum would
   * be neither.
   *
   * Plan: ONE scan builds (id, blk, tok, tf) with a single (id, blk, tok)
   * partial-agg shuffle; ONE shuffle on (tok, blk) collects block-bounded
   * postings; the GLOBAL df for cap + idf comes from a tok-partitioned
   * window over that aggregated (vocab × blocks)-row table — bounded,
   * never corpus-sized; pairs are enumerated array-locally (≤ C(block_df,
   * 2) per bucket); two id-keyed joins attach norms at the end.
   */
  def tfidfAllPairs(docs: DataFrame, idCol: String, textCol: String,
                    blockCol: String, threshold: Double = 0.5,
                    maxDfFrac: Double = 0.25): DataFrame = {
    // per-row (tok, tf) kernel (graft.functions.GramCounts, n = 1): the
    // former explode + (id, blk, tok) count exchange aggregated a
    // per-row value — the kernel's rows are already unique per key
    val tf = docs.select(col(idCol), col(blockCol),
        explode(graft.functions.NgramExprs.gramCounts(
          TextAnalysis.words(col(textCol)), 1)).as("_g"))
      .select(col(idCol), col(blockCol), col("_g.gram").as("tok"),
        col("_g.tf").cast("double").as("tf"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    // one (tok, blk)-keyed shuffle: postings bounded by the BLOCK
    val perBlk = tf.groupBy(col("tok"), col(blockCol).as("blk"))
      .agg(collect_list(struct(col(idCol).as("id"),
        col("tf").as("tf"))).as("ds"))
    // global token df: window over the aggregated vocab×blocks table
    val wTok = org.apache.spark.sql.expressions.Window.partitionBy(col("tok"))
    val buckets = Staging(perBlk // feeds norms AND pairs once
      .withColumn("df", sum(size(col("ds")).cast("long")).over(wTok))
      .crossJoin(broadcast(n))
      .filter(col("df") <= ceil(lit(maxDfFrac) * col("n_docs")))
      .select(transform(col("ds"), d => struct(
        d.getField("id").as("id"),
        (d.getField("tf") *
          log(lit(1.0) + col("n_docs") / col("df"))).as("w"))).as("ds")))
    val norms = buckets.select(explode(col("ds")).as("d"))
      .groupBy(col("d.id").as("id"))
      .agg(sqrt(sum((col("d.w") * col("d.w")).cast("decimal(28,12)"))
        .cast("double")).as("nrm"))
    val dots = buckets
      .select(explode(weightedPairCombos(col("ds"))).as("p"))
      .groupBy(col("p.id1").as("id1"), col("p.id2").as("id2"))
      .agg(sum(col("p.prod").cast("decimal(28,12)")).cast("double").as("dot"))
    dots
      .join(norms.select(col("id").as("id1"), col("nrm").as("n1")), Seq("id1"))
      .join(norms.select(col("id").as("id2"), col("nrm").as("n2")), Seq("id2"))
      .select(col("id1"), col("id2"),
        round(col("dot") / (col("n1") * col("n2")), 4).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /**
   * Weighted variant of [[Dedup.pairCombos]]: all unordered (id1 < id2)
   * pairs from a SAME-BLOCK postings array of (id, w) structs, each
   * carrying the weight product — the per-token dot-product
   * contribution. Callers group postings by (token, block), so block
   * equality holds by construction and every i < j pair is emitted.
   * Output is ≤ C(len, 2) structs, array-local.
   */
  def weightedPairCombos(ds: Column): Column =
    // native fused kernel (graft.functions.WeightedPairCombos): the HOF
    // enumeration was CodegenFallback — interpreted per bucket row with
    // transient index structs and per-element lambda frames; the kernel
    // emits the same i<j pairs (least/greatest ids, w_i·w_j product) in
    // one codegen loop (PropertySpec nested-loop reference)
    graft.functions.PairExprs.weightedPairCombos(ds)
}
