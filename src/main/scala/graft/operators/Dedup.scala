package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Staging

/**
 * Deduplication operators for large-scale training-data pipelines —
 * exact, MinHash+LSH, SimHash, and n-gram Jaccard. Beyond the reference's
 * own surface (it has no dedup); first-class per the builder brief.
 *
 * Design for 100 TB:
 *  - every signature is computed with pure expressions (codegen'd, no UDF);
 *  - candidate generation is always BLOCKED (LSH band buckets / source
 *    partitions) so the self-join never goes quadratic in the corpus —
 *    the shuffle key is the bucket, and bucket sizes are bounded;
 *  - hashes are md5 hex strings (not JVM hashCode) so results are
 *    engine-portable and oracle-checkable in DuckDB.
 */
object Dedup {

  /**
   * Exact dedup: group by content hash, keep the smallest id as canonical.
   * Scale: one hash-shuffle on a 32-char key; map-side partial agg.
   */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("dup_count"))

  /**
   * MinHash constants: 8 permutations `(a_i·h + b_i) mod P` over one base
   * hash per shingle, P = 2³¹−1 (Mersenne prime). One md5 per shingle —
   * the k-fold hash cost of the naive salted-md5 scheme is replaced by
   * integer arithmetic inside a codegen'd aggregate (measured 300s → <10s
   * on 50k docs at sf0.1).
   */
  val MinhashP = 2147483647L
  val MinhashA: Seq[Long] = Seq(1000003L, 2000029L, 3000073L, 4000037L,
    5000011L, 6000047L, 7000003L, 8000009L)
  val MinhashB: Seq[Long] = Seq(12345L, 23456L, 34567L, 45678L,
    56789L, 67890L, 78901L, 89012L)

  /** Base hash of a shingle from its md5 hex digest: the
    * [[TextAnalysis.md5Mod]] coin mod P (first 15 hex chars → bigint;
    * oracle twin `SparkEntry.baseHashSql`). Taking the digest lets a
    * caller that stages (id, digest) rows derive signatures without
    * re-hashing. */
  def baseHashOfDigest(dig: Column): Column =
    TextAnalysis.md5Mod(dig, MinhashP)

  /** MinHash signature table: (id, m0..m7), one row per doc — ZERO
    * shuffle: the 8 permutation minima are a pure per-row function of the
    * doc's own shingles, computed by the scan-local
    * [[graft.functions.MinhashSig]] kernel (guide §2.4 — the former
    * explode + groupBy(id) shape shuffled every (id, shingle-hash) row of
    * the corpus to aggregate a row-local value). Docs with fewer than n
    * tokens yield NULL and are filtered — exactly the rows the exploded
    * form never produced. Values bit-identical (same md5-prefix base
    * hash, same permutations; min is duplicate- and order-free). */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        n: Int = 3): DataFrame =
    sigColsFrom(docs.select(col(idCol), sigOf(col(textCol), n).as("_sig")),
      idCol)

  /** The [[graft.functions.MinhashSig]] kernel over a text column: the 8
    * permutation minima, null when the doc has fewer than n tokens — the
    * one signature column behind every MinHash path in this object. */
  private def sigOf(text: Column, n: Int): Column =
    graft.functions.MinhashExprs.minhashSig(
      TextAnalysis.words(text), n, MinhashA, MinhashB, MinhashP)

  /** The 4 LSH band keys (2 rows each) over signature component `m(i)` —
    * shared by the band table and the row-local band keys. */
  private def bandKeys(m: Int => Column): Seq[Column] =
    (0 until 4).map(b => md5(concat_ws("|", m(2 * b), m(2 * b + 1))))

  /** Signature table from an ALREADY-BUILT distinct (id, md5-digest `h`)
    * table — the [[containmentPairs]] staging: min-aggregates are
    * duplicate-insensitive and md5 is collision-free in practice, so
    * signatures from the digest rows equal signatures from the shingles. */
  def signaturesFromDigestRows(hd: DataFrame, idCol: String): DataFrame =
    signaturesFromHash(
      hd.select(col(idCol), baseHashOfDigest(col("h")).as("h")), idCol)

  private def signaturesFromHash(h: DataFrame, idCol: String): DataFrame = {
    val mins = MinhashA.zip(MinhashB).zipWithIndex.map { case ((a, b), i) =>
      min(pmod(lit(a) * col("h") + lit(b), lit(MinhashP))).as(s"m$i")
    }
    h.groupBy(col(idCol)).agg(mins.head, mins.tail: _*)
  }

  /** [[minhashCandidates]]' bucket-capped pair generation from a band
    * table — shared by the from-docs and from-staged-shingles paths.
    * ONE collect_list aggregate + the array-local [[graft.functions.UnorderedPairs]]
    * kernel instead of the former bucket-count aggregate + semi-join +
    * (band, band_key)-keyed SELF-JOIN (4 exchanges → 2, measured ~2× on
    * the candidate build). Pair set identical: each id appears at most
    * once per (band, band_key), so enumerating i<j over the bucket array
    * with (least, greatest) ids emits exactly the self-join's id1 < id2
    * rows; the distinct dedups across bands as before. A hot bucket's
    * quadratic enumeration lands in one task either way (the self-join
    * keyed the whole bucket to one partition too) — `maxBucketSize`
    * bounds it, unchanged. */
  private def candidatesFromBuckets(b: DataFrame, idCol: String,
                                    maxBucketSize: Int): DataFrame =
    b.groupBy(col("band"), col("band_key"))
      .agg(collect_list(col(idCol)).as("ds"))
      .filter(size(col("ds")) <= maxBucketSize)
      .select(explode(graft.functions.PairExprs.unorderedPairs(col("ds")))
        .as("p"))
      // strict-inequality guard mirrors the self-join's id1 < id2 filter
      // exactly if a bucket ever carried duplicate or null ids
      .filter(col("p.id1") =!= col("p.id2"))
      .select(col("p.id1").as("id1"), col("p.id2").as("id2")).distinct()

  /** LSH band-bucket rows from a signature table (4 bands × 2 rows). */
  def bucketsFromSignatures(sig: DataFrame, idCol: String): DataFrame =
    sig.select(col(idCol),
        posexplode(array(bandKeys(i => col(s"m$i")): _*)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_key")
      .select(col("band"), col("band_key"), col(idCol))

  /**
   * MinHash + LSH banding over word n-gram shingles, fully relational:
   * shingle rows → one base hash each → groupBy(id) with 8 min-aggregates
   * (single shuffle, map-side partial min) → 4 band keys of 2 rows each →
   * (band, band_key, id) bucket table. Docs sharing any band key are
   * candidates; bucket sizes stay bounded (the LSH guarantee), never an
   * all-pairs product.
   */
  def minhashBuckets(docs: DataFrame, idCol: String, textCol: String,
                     n: Int = 3): DataFrame =
    bucketsFromSignatures(minhashSignatures(docs, idCol, textCol, n), idCol)

  /**
   * Candidate near-dup pairs from LSH buckets (id1 < id2, distinct).
   * Buckets larger than `maxBucketSize` are dropped before the self-join —
   * an over-full bucket is a cluster of (near-)identical documents whose
   * pairs are quadratic in bucket size and which exact dedup already
   * handles; the cap bounds the worst bucket's cost, standard practice at
   * corpus scale. Default is far above any bucket this corpus produces
   * (result unchanged; the bound is for the 100 TB case).
   */
  def minhashCandidates(docs: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, maxBucketSize: Int = 1000): DataFrame =
    candidatesFromBuckets(minhashBuckets(docs, idCol, textCol, n), idCol,
      maxBucketSize)

  /**
   * MinHash Jaccard ESTIMATION over the LSH candidate pairs: for each
   * candidate, Ĵ = (# agreeing signature components) / 8 — the classic
   * MinHash estimator (E[m_i(A)=m_i(B)] = J(A,B)), computed WITHOUT
   * touching the shingle sets again. This is the operator that makes
   * MinHash a similarity pipeline rather than just a blocker: at corpus
   * scale the candidate set is LSH-bounded and the estimate costs two
   * broadcast-or-merge joins of one signature row per doc — no shingle
   * re-scan, no exact-intersection pass. 8 permutations → estimator
   * granularity 1/8 (stderr ≈ √(J(1−J)/8)); widen the signature for
   * tighter bands, the plan shape is unchanged. The signature table feeds
   * bucketing AND both estimate joins, so it is materialized once.
   */
  def minhashJaccardEstimate(docs: DataFrame, idCol: String, textCol: String,
                             n: Int = 3, maxBucketSize: Int = 1000): DataFrame = {
    val sig = Staging(minhashSignatures(docs, idCol, textCol, n))
    val cand = candidatesFromBuckets(bucketsFromSignatures(sig, idCol),
      idCol, maxBucketSize)
    val cols = (0 until 8).map(i => s"m$i")
    val sig1 = sig.select(col(idCol).as("id1") +:
      cols.map(c => col(c).as(s"a_$c")): _*)
    val sig2 = sig.select(col(idCol).as("id2") +:
      cols.map(c => col(c).as(s"b_$c")): _*)
    val agree = cols.map(c =>
      when(col(s"a_$c") === col(s"b_$c"), 1).otherwise(0).cast("long"))
      .reduce(_ + _)
    cand.join(sig1, Seq("id1")).join(sig2, Seq("id2"))
      .select(col("id1"), col("id2"), (agree / 8.0).as("j_est"))
  }

  /**
   * Edit-distance-VERIFIED near-dup pairs: the LSH candidate set
   * ([[minhashCandidates]] — band-bucket-bounded, never all-pairs)
   * re-joined to the two documents' texts and kept iff
   * Levenshtein(t1, t2) ≤ `maxDist`. This is the exact-verification stage
   * a production dedup pipeline runs between blocking and removal:
   * MinHash bounds WHICH pairs are compared, the edit distance decides.
   *
   * Plan contract: text ships through exactly TWO hash joins (one per
   * pair side), and only for candidate rows — the corpus text column
   * never enters the pair product. The verify itself uses Spark's
   * THRESHOLDED `levenshtein(l, r, maxDist)` (banded DP that early-exits
   * once the running minimum exceeds the bound — O(len·maxDist) per pair
   * instead of O(len²)); it returns −1 above the bound, so the filter
   * keeps exactly the verified pairs and every kept row carries the true
   * distance. At 100 TB the candidate volume is the LSH-bounded set and
   * each verify is bound-limited — the two properties that make exact
   * verification affordable at corpus scale.
   */
  def editVerifiedPairs(docs: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, maxDist: Int = 40,
                        maxBucketSize: Int = 1000): DataFrame = {
    val cand = minhashCandidates(docs, idCol, textCol, n, maxBucketSize)
    val t1 = docs.select(col(idCol).as("id1"), col(textCol).as("_t1"))
    val t2 = docs.select(col(idCol).as("id2"), col(textCol).as("_t2"))
    cand.join(t1, Seq("id1")).join(t2, Seq("id2"))
      .select(col("id1"), col("id2"),
        levenshtein(col("_t1"), col("_t2"), maxDist).cast("long")
          .as("edit_dist"))
      .filter(col("edit_dist") >= 0)
  }

  /**
   * Asymmetric n-gram CONTAINMENT over the LSH candidate pairs (Broder
   * 1997, "On the resemblance and containment of documents" — the
   * companion measure to Jaccard): C(A→B) = |S(A)∩S(B)| / |S(A)| over
   * distinct shingle sets. Containment is what catches a QUOTE — a short
   * document wholly embedded in a long one scores C(short→long) = 1.0
   * while its symmetric Jaccard (what [[minhashJaccardEstimate]]
   * estimates) stays near |short|/|long| and slips under any near-dup
   * threshold. Emits both directions (c1_in_2, c2_in_1) plus the exact
   * intersection size, kept when either direction ≥ `minContain`.
   *
   * Plan: candidates are band-bucket-bounded ([[minhashCandidates]] —
   * never all-pairs); the distinct (id, md5(shingle)) table materializes
   * ONCE ([[graft.Staging]]; a staging parquet at cluster scale) and feeds
   * the size aggregate plus both intersection joins; text never ships —
   * every join key is a 32-char digest or an id. Caveat documented: the
   * SYMMETRIC LSH blocker under-recalls extreme containments (low
   * Jaccard pairs rarely share a band); a production containment pass
   * additionally blocks on the smaller side's rarest shingles. The
   * measure itself is exact for every candidate surfaced.
   */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       n: Int = 3, minContain: Double = 0.5,
                       maxBucketSize: Int = 1000): DataFrame = {
    val pround4 = graft.operators.TextAnalysis.pround4 _
    // ONE (id, md5(shingle)) digest staging feeds the LSH candidate
    // generation (signatures derive from the digests — min-aggregates are
    // duplicate-insensitive), the size aggregate AND both intersection
    // joins: the former shape materialized the RAW shingle rows once and
    // the digest rows a second time (two text-sized checkpoints; this one
    // carries 32-char digests only)
    val shd = Staging(shingles(docs, idCol, textCol, n)
      .select(col(idCol), md5(col("shingle")).as("h")).distinct())
    val cand = candidatesFromBuckets(
      bucketsFromSignatures(signaturesFromDigestRows(shd, idCol), idCol),
      idCol, maxBucketSize)
    val sizes = shd.groupBy(col(idCol)).agg(count(lit(1)).as("n_sh"))
    val common = cand
      .join(shd.select(col(idCol).as("id1"), col("h")), Seq("id1"))
      .join(shd.select(col(idCol).as("id2"), col("h")), Seq("id2", "h"))
      .groupBy(col("id1"), col("id2"))
      .agg(count(lit(1)).as("common"))
    common
      .join(sizes.select(col(idCol).as("id1"), col("n_sh").as("_n1")),
        Seq("id1"))
      .join(sizes.select(col(idCol).as("id2"), col("n_sh").as("_n2")),
        Seq("id2"))
      .select(col("id1"), col("id2"), col("common"),
        pround4(col("common").cast("double") / col("_n1").cast("double"))
          .as("c1_in_2"),
        pround4(col("common").cast("double") / col("_n2").cast("double"))
          .as("c2_in_1"))
      .filter(greatest(col("c1_in_2"), col("c2_in_1")) >= minContain)
  }

  /**
   * Near-dup CLUSTERING: connected components over an undirected candidate-
   * pair graph (id1, id2) via min-label propagation — the step a real
   * dedup pipeline runs after pair generation (pairs alone don't say which
   * docs to keep; the canonical keeper is one per component). Returns
   * (id, cluster) with cluster = the smallest doc id reachable from id;
   * docs that appear in no pair are absent (singletons — left-join the
   * corpus and coalesce(id) for the full table).
   *
   * Iteration shape: each round is one join + one min-aggregate over the
   * edge list (both sides bounded by the LSH-bounded pair volume), with
   * labels staged per round ([[graft.Staging]] — constant lineage depth
   * instead of an O(iters)-deep nested plan; round k−1 is released once
   * round k is staged). Min-label propagation converges in
   * O(component diameter) rounds; near-dup components are
   * shallow in practice (dup clusters are dense), and `maxIters` hard-
   * bounds the loop. The per-round `count()` is a one-row convergence
   * gate — the same model-sized driver seam as k-means, documented.
   * Deterministic: min is order- and partitioning-independent.
   */
  def dedupClusters(pairs: DataFrame, maxIters: Int = 25): DataFrame = {
    // stage the PAIR table once and keep the symmetrization LAZY over the
    // checkpoint: the former shape checkpointed the 2|E| union, whose two
    // branches each embedded the full candidate-generation lineage (the
    // LSH build ran twice inside one materialization job), and wrote twice
    // the bytes; re-projecting checkpointed rows per round is pure CPU
    val base = Staging(pairs.select(col("id1"), col("id2")))
    val edges = base
      .union(base.select(col("id2").as("id1"), col("id1").as("id2")))
    var labels = Staging(edges.select(col("id1").as("id")).distinct()
      .withColumn("cluster", col("id")))
    var staged = labels // the live label stage: released once replaced
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIters) {
      val nbrMin = edges
        .join(labels.select(col("id").as("id2"), col("cluster").as("nl")),
          Seq("id2"))
        .groupBy(col("id1").as("id")).agg(min(col("nl")).as("nmin"))
      val stepped = Staging(labels.join(nbrMin, Seq("id"))
        .select(col("id"), col("cluster"),
          least(col("cluster"), col("nmin")).as("next"))) // ONE per round
      Staging.release(staged)
      staged = stepped
      changed = stepped.filter(col("next") < col("cluster")).count() // 1-row gate
      labels = stepped.select(col("id"), col("next").as("cluster"))
      iter += 1
    }
    labels
  }

  /**
   * Incremental (cross-snapshot) dedup: drop a NEW batch's documents that
   * duplicate the already-ingested SEEN corpus — the standard "dedup crawl
   * N+1 against the index of crawls 1..N" operation. Two independent
   * rejection channels, both anti-joins:
   *   1. exact: content md5 present in the seen corpus;
   *   2. near: any MinHash LSH band key present in the seen corpus's
   *      band-bucket index (the same signature index
   *      [[bucketsFromSignatures]] builds for within-corpus dedup — at
   *      scale the seen side is a STORED table, computed once per
   *      snapshot, not recomputed per batch).
   * Plan: both anti-joins are hash joins on short keys; the seen side
   * ships only (hash) / (band, band_key) columns — never text. No window,
   * no self-join; AQE broadcasts whichever side is small.
   */
  def incrementalDedup(newDocs: DataFrame, seenDocs: DataFrame,
                       idCol: String, textCol: String,
                       n: Int = 3): DataFrame = {
    // ONE seen-side text scan feeds BOTH rejection channels (the former
    // shape scanned seen text twice: once for content md5s, once for the
    // MinHash signatures)
    val seenKeys = stagedDedupKeys(seenDocs, idCol, textCol, n)
    val seenHashes = seenKeys.select(col("content_hash")).distinct()
    val seenBands = bucketsFromSignatures(sigColsFrom(seenKeys, idCol), idCol)
      .select(col("band"), col("band_key")).distinct()
    incrementalDedupCore(newDocs, seenHashes, seenBands, idCol, textCol, n)
  }

  /** ONE text scan computing BOTH dedup keys per doc — the content md5
    * and the MinHash signature struct (null for docs with < n tokens) —
    * so the exact-hash channel and the band channel never re-read the
    * text (guide §2.4). Short columns only. LAZY: callers stage it
    * through [[graft.Staging]] — eagerly for lazy consumers; the index
    * writers stage it lazily in their own scope, so the first write fills
    * the stage, the second reads it (no dedicated materialization job)
    * and the scope releases it. */
  private def dedupKeys(docs: DataFrame, idCol: String,
                        textCol: String, n: Int): DataFrame =
    docs.select(col(idCol), md5(col(textCol)).as("content_hash"),
      sigOf(col(textCol), n).as("_sig"))

  private def stagedDedupKeys(docs: DataFrame, idCol: String,
                              textCol: String, n: Int): DataFrame =
    Staging(dedupKeys(docs, idCol, textCol, n))

  /** (id, m0..m7) signature view over an (id, `_sig`) table: the raw-doc
    * projection of [[minhashSignatures]] or a [[dedupKeys]] staging. */
  private def sigColsFrom(keys: DataFrame, idCol: String): DataFrame =
    keys.filter(col("_sig").isNotNull)
      .select(col(idCol) +:
        (0 until MinhashA.length).map(i =>
          element_at(col("_sig"), i + 1).as(s"m$i")): _*)

  /** The anti-join core shared by the recompute-the-seen-side path above
    * and the stored-index path below. */
  private def incrementalDedupCore(newDocs: DataFrame, seenHashes: DataFrame,
                                   seenBands: DataFrame, idCol: String,
                                   textCol: String, n: Int): DataFrame = {
    val newBands = bucketsFromSignatures(
      minhashSignatures(newDocs, idCol, textCol, n), idCol)
    val nearDupIds = newBands
      .join(seenBands, Seq("band", "band_key"), "left_semi")
      .select(col(idCol)).distinct()
    newDocs
      .join(seenHashes, md5(newDocs(textCol)) === col("content_hash"),
        "left_anti")
      .join(nearDupIds, Seq(idCol), "left_anti")
  }

  /**
   * Persist a corpus snapshot's dedup index — the artifact
   * [[incrementalDedupAgainstIndex]] probes so that batch N+1's dedup
   * never re-reads snapshots 1..N's text: `hashes/` (distinct content
   * md5s) and `bands/` (distinct LSH band keys, partitioned by band so a
   * per-band probe prunes to one partition). Both tables are short-key
   * projections — the index is a small fraction of corpus bytes.
   */
  def writeSignatureIndex(docs: DataFrame, idCol: String, textCol: String,
                          path: String, n: Int = 3): Unit = Staging.scope {
    // ONE text scan feeds both artifact tables: staged lazily (the first
    // write fills the stage in its own job, the second reads it — no
    // dedicated materialization job), released when this scope ends
    val keys = Staging(dedupKeys(docs, idCol, textCol, n), eager = false)
    keys.select(col("content_hash")).distinct()
      .write.mode("overwrite").parquet(s"$path/hashes")
    bucketsFromSignatures(sigColsFrom(keys, idCol), idCol)
      .select(col("band"), col("band_key")).distinct()
      .write.mode("overwrite").partitionBy("band").parquet(s"$path/bands")
    // the shingle width is part of the artifact's identity: band keys are
    // md5s over n-gram min-signatures, so probing with a different n
    // would match NOTHING and silently disable the near-dup channel
    // range(…, numPartitions = 1): a single-row meta write needs one task,
    // not a default-parallelism fan of empty ones (one file, one commit)
    docs.sparkSession.range(0, 1, 1, 1).select(lit(n).as("shingle_n"))
      .write.mode("overwrite").parquet(s"$path/meta")
  }

  /**
   * APPEND a new batch into a stored [[writeSignatureIndex]] artifact —
   * the index-MAINTENANCE half of the rolling-snapshot loop (write once →
   * ingest batch → append → next batch probes the grown index). The
   * append is O(batch), never O(index): only the NEW batch's distinct
   * hashes / band keys are written (mode=append under the same partition
   * layout), the existing files are untouched and un-read. Keys already
   * present in the index may thus appear twice across file generations —
   * harmless BY CONSTRUCTION: every probe is a left_semi/left_anti join,
   * where duplicate build-side keys cannot change a single output row
   * (q_index_append pins probe-after-append == rebuild-from-scratch
   * under the same oracle as q_dedup_incremental). Compact by rebuilding
   * when generation count grows (small-files maintenance, same trade as
   * any LSM). Same `n` identity guard as the probe path.
   */
  def appendSignatureIndex(spark: org.apache.spark.sql.SparkSession,
                           indexPath: String, newDocs: DataFrame,
                           idCol: String, textCol: String,
                           n: Int = 3): Unit = Staging.scope {
    requireIndexN(spark, indexPath, n, "appended")
    // ONE text scan feeds both append channels (lazy stage, see
    // writeSignatureIndex)
    val keys = Staging(dedupKeys(newDocs, idCol, textCol, n), eager = false)
    keys.select(col("content_hash")).distinct()
      .write.mode("append").parquet(s"$indexPath/hashes")
    bucketsFromSignatures(sigColsFrom(keys, idCol), idCol)
      .select(col("band"), col("band_key")).distinct()
      .write.mode("append").partitionBy("band").parquet(s"$indexPath/bands")
  }

  /** [[incrementalDedup]] against a STORED [[writeSignatureIndex]]
    * artifact instead of recomputing the seen side — the production shape
    * for rolling snapshot ingestion. Refuses an `n` that differs from the
    * one the index was built with (the probe would silently match no
    * band key otherwise). */
  def incrementalDedupAgainstIndex(spark: org.apache.spark.sql.SparkSession,
                                   indexPath: String, newDocs: DataFrame,
                                   idCol: String, textCol: String,
                                   n: Int = 3): DataFrame = {
    requireIndexN(spark, indexPath, n, "probed")
    incrementalDedupCore(newDocs,
      spark.read.parquet(s"$indexPath/hashes"),
      spark.read.parquet(s"$indexPath/bands"), idCol, textCol, n)
  }

  /** The shingle width is part of a signature index's identity: probing
    * or appending with another `n` would match no band key and silently
    * disable the near-dup channel. `verb` names the refused operation. */
  private[graft] def requireIndexN(spark: org.apache.spark.sql.SparkSession,
                                   indexPath: String, n: Int,
                                   verb: String): Unit = {
    val storedN = spark.read.parquet(s"$indexPath/meta")
      .head().getAs[Int]("shingle_n")
    require(storedN == n,
      s"signature index at $indexPath was built with n=$storedN, $verb with n=$n")
  }

  /**
   * Canonical-document selection per near-dup cluster: keep the highest-
   * quality member (ties → smallest id). `clusters` is [[dedupClusters]]
   * output (id, cluster); `quality` carries (idCol, qualityCol). The
   * argmax is AGGREGATES (max-quality roll-up, then min-id over the
   * maximal members) — co-partitioned shuffles on cluster with map-side
   * combine, no window sort: at 100 TB a window over cluster would sort
   * every member list, while max/min reduce them pairwise. Works for any
   * id type (string URL/UUID ids included).
   */
  def clusterKeepers(clusters: DataFrame, quality: DataFrame,
                     idCol: String, qualityCol: String): DataFrame = {
    // members feeds TWO plan branches (the keeper join's stream side and
    // the max-quality aggregate); stage it once — its quality input is
    // typically a corpus-wide scoring scan, which the unmaterialized
    // diamond would run twice (the table itself is cluster-member-sized,
    // bounded by the LSH pair volume)
    val members = Staging(clusters
      .join(quality.select(col(idCol).as("id"), col(qualityCol).as("q")),
        Seq("id")))
    // two co-partitioned aggregates on cluster instead of max(struct(q,
    // -id)): arithmetic negation only exists for numeric ids — crawl
    // pipelines routinely key on URL/UUID strings, where "-id" casts to
    // null and every keeper_id silently comes back null
    val best = members.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_members"), max(col("q")).as("keeper_quality"))
    members.join(best, Seq("cluster"))
      .filter(col("q") === col("keeper_quality"))
      .groupBy(col("cluster"))
      .agg(min(col("id")).as("keeper_id"),
        first(col("keeper_quality")).as("keeper_quality"),
        first(col("n_members")).as("n_members"))
      .select(col("cluster"), col("keeper_id"), col("keeper_quality"),
        col("n_members"))
  }

  /** Hamming distance between two equal-length bit strings. */
  def hamming(a: Column, b: Column): Column =
    size(filter(zip_with(split(a, ""), split(b, ""), (x, y) => x =!= y),
      d => d))

  /**
   * SimHash as an INTEGER (bit j worth 2^(j-1)): bit j is 1 iff strictly
   * more than half of the distinct tokens have an odd hex digit at position
   * j of md5(token) (majority ⇔ sum of ±1 weights > 0). Pair comparison is
   * `bit_count(a XOR b)`: codegen'd integer ops instead of interpreted
   * string zip_with, which is what makes the pair scan viable at scale.
   * Relational formulation (explode + aggregate) for the same reason as
   * minhash. One md5 per distinct token — the former string-signature HOF
   * recomputed md5 once per bit position and is deleted; the bit string is
   * now derived from this integer ([[simhashBitsRows]]).
   */
  def simhashIntRows(docs: DataFrame, idCol: String, textCol: String,
                     bits: Int = 16): DataFrame =
    // scan-local kernel (graft.functions.SimhashInt — guide §2.4): the
    // signature is a pure per-row function of the doc's distinct token
    // set, so the former explode + groupBy(id)-with-32-sums shape
    // shuffled corpus token rows to aggregate a row-local value; the
    // kernel computes the same strict-majority bits in one codegen pass
    // (±1 over distinct tokens, nibble parity == the odd-hex-digit test).
    // Token-less docs yield NULL and are filtered — exactly the rows the
    // exploded form never produced.
    docs.select(col(idCol),
        graft.functions.MinhashExprs.simhashInt(
          TextAnalysis.words(col(textCol)), bits).as("simhash_int"))
      .filter(col("simhash_int").isNotNull)

  /**
   * SimHash signature as a bit STRING (char j = bit j), derived from the
   * integer signature — one md5 per distinct token total, vs the deleted
   * HOF formulation's one md5 per token per bit position.
   */
  def simhashBitsRows(docs: DataFrame, idCol: String, textCol: String,
                      bits: Int = 16): DataFrame =
    simhashIntRows(docs, idCol, textCol, bits)
      .select(col(idCol),
        reverse(lpad(bin(col("simhash_int")), bits, "0")).as("simhash"))

  /**
   * SimHash near-dup pairs via Hamming-LSH chunk banding: the `bits`-bit
   * signature is split into 3 near-equal chunks; by pigeonhole, any pair
   * within hamming distance ≤ 2 agrees EXACTLY on at least one chunk, so
   * joining on (chunk index, chunk value) generates every qualifying pair —
   * exact, not approximate, for maxDist ≤ 2. The blocking key is derived
   * from the signature itself (data-independent ~2^(bits/3) buckets per
   * chunk), unlike blocking on a natural column such as `source`, where one
   * dominant value re-creates the quadratic self-join. Candidate volume per
   * bucket shrinks exponentially in chunk width, so at larger corpus sizes
   * widen the signature (md5 provides up to 32 hex positions here; a
   * two-hash scheme extends to 64) — the pigeonhole guarantee always needs
   * only maxDist+1 chunks.
   */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxDist: Int = 2, bits: Int = 32): DataFrame = {
    require(bits >= 6 && bits <= 32, "md5 hex positions support up to 32 bits")
    require(maxDist <= 2, "3-chunk banding is exact only for maxDist <= 2")
    val base = bits / 3
    val widths = Seq(base + (if (bits % 3 > 0) 1 else 0),
      base + (if (bits % 3 > 1) 1 else 0), base)
    val offsets = widths.scanLeft(0)(_ + _)
    // materialize the (id, simhash_int) table once: the three chunk
    // projections would otherwise inline the scan-local signature kernel
    // (CollapseProject) and re-hash every doc per chunk column — the
    // staged table is two narrow columns, trivially checkpointable
    val sh = Staging(simhashIntRows(docs, idCol, textCol, bits))
    val chunkCols = (0 until 3).map { i =>
      shiftright(col("simhash_int"), offsets(i))
        .bitwiseAND(lit((1L << widths(i)) - 1))
    }
    val chunks = sh.select(col(idCol), col("simhash_int"),
      posexplode(array(chunkCols: _*)))
      .withColumnRenamed("pos", "chunk")
      .withColumnRenamed("col", "ckey")
    val l = chunks.select(col("chunk"), col("ckey"),
      col(idCol).as("id1"), col("simhash_int").as("h1"))
    val r = chunks.select(col("chunk"), col("ckey"),
      col(idCol).as("id2"), col("simhash_int").as("h2"))
    l.join(r, Seq("chunk", "ckey"))
      .filter(col("id1") < col("id2"))
      // cast: Spark's bit_count is INT, DuckDB's BIGINT — pin the width
      .withColumn("hamming",
        bit_count(col("h1").bitwiseXOR(col("h2"))).cast("long"))
      .filter(col("hamming") <= maxDist)
      .select(col("id1"), col("id2"), col("hamming"))
      .distinct()
  }

  /** Per-row distinct word n-gram ARRAY (the scan-local builder behind
    * [[shingles]]; exposed for stateless per-row consumers like the
    * streaming contamination gate). */
  def shingleArray(text: Column, n: Int): Column =
    // native fused kernel (graft.functions.WordNgrams): tokenize stays the
    // codegen'd raw split (the kernel drops ""-boundary artifacts itself),
    // n-gram build + first-occurrence distinct run as one JVM loop inside
    // whole-stage codegen. The former HOF chain (transform/sequence/
    // element_at under the array()/element_at lambda-binding trick) was
    // CodegenFallback — interpreted per row in EVERY shingle scan.
    graft.functions.NgramExprs.shingleTokens(TextAnalysis.words(text), n)

  /**
   * Row-local MinHash LSH band keys — [[minhashSignatures]] +
   * [[bucketsFromSignatures]] computed entirely WITHIN one row: the same
   * signature kernel and the same band-key builder, no explode, no
   * shuffle, so the 4 keys are bit-identical to the batch band table's.
   * This is what a STATELESS streaming ingest path needs — each arriving
   * doc carries its own 4 band keys, so probing a stored
   * [[writeSignatureIndex]] becomes a plain stream-static equi-join
   * ([[graft.streaming.StreamPipeline.incrementalDedupStream]]).
   * NULL (not md5-of-empties) exactly when the doc has no signature
   * (fewer than n tokens), matching the batch path where such docs never
   * enter the band table and so never match it.
   */
  def bandKeysLocal(text: Column, n: Int = 3): Column = {
    val sig = sigOf(text, n)
    // the null branch reads sig too: codegen shares a subexpression common
    // to every CASE value, so the kernel runs once per row (a THEN without
    // an ELSE would re-run it in each of the 8 element_at)
    when(sig.isNull, sig.cast("array<string>"))
      .otherwise(array(bandKeys(i => element_at(sig, i + 1)): _*))
  }

  /**
   * Word n-gram shingles as a relational table (id, shingle), distinct per
   * doc. Built ARRAY-LOCALLY (transform over the token array) — zero
   * shuffle, zero per-doc window sort; the former posexplode+lead()+Window
   * formulation shuffled every token row and sorted per doc, and its
   * recomputation across the Jaccard plan's branches dominated the query.
   * Output is identical to the window formulation (the DuckDB oracle keeps
   * the lead() form and matches).
   */
  def shingles(docs: DataFrame, idCol: String, textCol: String, n: Int = 3,
               carryCols: Seq[String] = Nil): DataFrame =
    // carryCols ride along in the SAME scan — a consumer that needs e.g.
    // the blocking column gets it here instead of re-scanning + joining
    docs.select((Seq(col(idCol)) ++ carryCols.map(col) :+
      explode(shingleArray(col(textCol), n)).as("shingle")): _*)

  /**
   * N-gram Jaccard near-dup pairs, blocked by a grouping column (e.g.
   * source) so candidate generation is bounded per block:
   * J(a,b) = |A∩B| / (|A|+|B|−|A∩B|) ≥ threshold.
   *
   * Hot-shingle bound: a shingle appearing in more than `maxShingleDf`
   * documents is dropped from the shingle space entirely (sizes AND pair
   * generation) — standard dedup practice: such shingles carry no
   * discriminating signal but make per-shingle pair generation quadratic
   * in the hottest bucket. Jaccard is then a true similarity over the
   * df-capped space.
   *
   * Plan shape (one scan, one wide shuffle): the shingle scan carries the
   * blocking column and is materialized once (`localCheckpoint`; a
   * staging-parquet write is the same seam at cluster scale). ONE shuffle
   * on `shingle` then both applies the df-cap and collects each surviving
   * shingle's ≤`maxShingleDf` (block, id) postings; candidate pairs are
   * generated ARRAY-LOCALLY from the bounded postings list (≤ C(cap,2)
   * per shingle, O(cap²) by construction — the cap is the license for the
   * quadratic) instead of a relational self-join, which cost two more
   * exchanges of the full shingle table. The former formulation (df table
   * + capped (blk,shingle) self-join + per-branch rescans) spent 3× the
   * scan plus 4 extra exchanges on the same result.
   */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        blockCol: String, n: Int = 3,
                        threshold: Double = 0.8,
                        maxShingleDf: Int = 100): DataFrame = {
    val shAll = Staging(
      shingles(docs, idCol, textCol, n, carryCols = Seq(blockCol)))
    // one shuffle: df-cap + bounded postings per shingle
    val buckets = Staging(shAll.groupBy(col("shingle"))
      .agg(collect_list(struct(col(blockCol).as("blk"),
        col(idCol).as("id"))).as("ds"))
      .filter(size(col("ds")) <= maxShingleDf)) // feeds sizes AND pairs
    // per-doc size of the df-capped shingle space
    val sizes = buckets.select(explode(col("ds")).as("d"))
      .groupBy(col("d.id").as(idCol)).agg(count(lit(1)).as("sz"))
    // array-local pair generation: same-block unordered pairs per shingle
    // (each doc appears once per shingle, so a pair arises once per shared
    // shingle — identical multiset to the former self-join)
    val pairs = buckets
      .select(explode(pairCombos(col("ds"))).as("p"))
      .groupBy(col("p.id1").as("id1"), col("p.id2").as("id2"))
      .agg(count(lit(1)).as("shared"))
    pairs
      .join(sizes.select(col(idCol).as("id1"), col("sz").as("sz1")), Seq("id1"))
      .join(sizes.select(col(idCol).as("id2"), col("sz").as("sz2")), Seq("id2"))
      .withColumn("jaccard",
        round(col("shared") / (col("sz1") + col("sz2") - col("shared")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), col("jaccard"))
  }

  /**
   * All same-block unordered (id1 < id2) pairs from a postings array of
   * (blk, id) structs — the array-local candidate generator behind
   * [[ngramJaccardPairs]]. Null blocks pair with nothing (SQL join-key
   * semantics). Index pairs are enumerated i<j over the bounded array, so
   * the output is ≤ C(len, 2) structs.
   */
  def pairCombos(ds: Column): Column =
    // native fused kernel (graft.functions.PairCombos): the former HOF
    // formulation (flatten/transform/sequence + filter + element_at) was
    // CodegenFallback — interpreted per bucket row with O(n²) transient
    // index structs and a fresh lambda frame per element; the kernel runs
    // the i<j same-block enumeration as one codegen loop, allocating only
    // the surviving pairs (PropertySpec pins it to the nested-loop
    // reference: same-block guard, least/greatest ids, null blocks pair
    // with nothing)
    graft.functions.PairExprs.pairCombos(ds)

  /**
   * Winnowing fingerprints (Schleimer et al., SIGMOD 2003): hash EVERY
   * `k`-token window, then slide a selection window of `w` consecutive
   * hashes and keep the leftmost minimum of each — ~2/(w+1) of all
   * hashes survive, and unlike [[substringDupSpans]]'s mod-m sampling
   * the guarantee is DETERMINISTIC: any common span of at least
   * k + w − 1 tokens shares at least one selected fingerprint (both
   * copies see the same hash run, and the same leftmost-min rule picks
   * the same content-relative position). Leftmost tie-break is pinned by
   * both engines' first-match semantics (`array_position` /
   * `list_indexof`). Docs with fewer than k + w − 1 tokens are absent.
   *
   * Same output schema and df roll-up as [[substringDupSpans]]; the
   * selection is array-local (O(n·w) comparisons per doc), so the only
   * shuffle is still the fingerprint-df join.
   */
  def winnowedDupSpans(docs: DataFrame, idCol: String, textCol: String,
                       k: Int = 16, w: Int = 8): DataFrame = {
    require(k >= 1 && w >= 1, "need k >= 1 and w >= 1")
    val toks = TextAnalysis.wsToks(col(textCol))
    // native fused kernel (graft.functions.WinnowMd5Windows) producing
    // the IDENTICAL md5-window fingerprint sequence the relational
    // recipe built — `md5(concat_ws(" ", slice(ts, p, k)))` per hash
    // window, leftmost-min of each w-window of digests, position-level
    // array_distinct. The former HOF chain (lambda-bound
    // transform/slice/array_min/array_position) was CodegenFallback:
    // a fresh w-slice + min + position scan per selection window and a
    // k-slice + concat per hash window, all interpreted — the bench's
    // compute tail. The oracle still replays the relational recipe
    // verbatim; PropertySpec pins kernel == HOF on random docs. O(n·k)
    // bytes still flow through md5 — the md5 recipe's documented price
    // (the different-hash-family throughput twin is
    // [[winnowedDupSpansFast]]).
    dupRollup(docs, idCol,
      graft.functions.WinnowExprs.winnowMd5Windows(toks, k, w))
  }

  /**
   * Winnowing via ONE native kernel — the throughput variant of
   * [[winnowedDupSpans]], same selection rule and the same deterministic
   * span-sharing guarantee, with the entire digest+selection pipeline
   * compiled into a single O(n) pass per document
   * ([[graft.functions.WinnowFingerprints]]): one md5 per TOKEN (not per
   * window), window hashes by rolling Horner update, leftmost-min
   * selection by monotonic deque. The HOF formulation this replaces
   * evaluated interpreted and allocated a fresh slice per window — an
   * intermediate rewrite that only swapped the md5 digests for
   * interpreted Horner folds measured NO gain (3.32 vs 3.36 s at sf0.1:
   * the interpreted per-window allocation, not the digest arithmetic,
   * was the tail); the fused kernel removes both.
   *
   * The hash construction is engine-portable by design — token hash =
   * first 15 md5 hex chars mod P, window hash = 0-seeded Horner fold
   * (B = 1000003, P = 2³¹−1) — and the DuckDB oracle replays it with
   * `list_reduce` over a 0-prepended hash slice (list_reduce seeds from
   * the first element; prepending the same 0 makes both engines run the
   * same accumulator sequence). Collision behavior differs from the md5
   * variant (31-bit polynomial vs 128-bit digest truncation), so
   * fingerprint SETS differ between the two operators — each is
   * self-consistent, both satisfy the Schleimer guarantee, and the df
   * roll-up shape is identical.
   */
  def winnowedDupSpansFast(docs: DataFrame, idCol: String, textCol: String,
                           k: Int = 16, w: Int = 8): DataFrame = {
    require(k >= 1 && w >= 1, "need k >= 1 and w >= 1")
    val toks = TextAnalysis.wsToks(col(textCol))
    dupRollup(docs, idCol,
      graft.functions.WinnowExprs.winnowFingerprints(toks, k, w))
  }

  /**
   * Substring dedup APPLIED — the removal step [[substringDupSpans]] only
   * diagnoses (Lee et al. 2021 actually delete the duplicated spans from
   * the training corpus): every token covered by ANY cross-doc-duplicated
   * anchored window is dropped and the survivors are rejoined with single
   * spaces. Same content-defined mod-m anchors as the diagnostic (so
   * relocated copies collide), same df ≥ 2 cross-doc rule. BOTH copies of
   * a duplicated span are removed — the symmetric policy (keep-one
   * requires a global tie-break over span instances; for training-data
   * dedup the symmetric drop is the published default).
   *
   * Plan: anchor/window build scan-local; one window-hash df shuffle
   * (short keys); the per-doc duplicated-anchor lists (collect_list —
   * bounded by the doc's own anchor count) join back to the token arrays
   * by id, and coverage is resolved ARRAY-LOCALLY (exists over the
   * anchor list per position) — the text ships through exactly one join,
   * never through a position-level shuffle. Output: (id, n_tokens,
   * n_removed, cleaned); docs whose every token is covered come back
   * with cleaned = "".
   */
  def removeDupSpans(docs: DataFrame, idCol: String, textCol: String,
                     window: Int = 32, stride: Int = 8): DataFrame = {
    require(stride >= 1, "stride must be >= 1")
    val toks = TextAnalysis.wsToks(col(textCol))
    def anchorsOf(ts: Column): Column =
      when(size(ts) >= window,
        filter(sequence(lit(1), size(ts) - (window - 1)), p =>
          conv(substring(md5(element_at(ts, p)), 1, 15), 16, 10)
            .cast("long") % stride === 0))
        .otherwise(array().cast("array<int>"))
    val base = Staging(docs.select(col(idCol), toks.as("_ts")), eager = false)
    val win = base
      .select(col(idCol), col("_ts"),
        explode(element_at(transform(array(col("_ts")), ts => anchorsOf(ts)), 1))
          .as("p"))
      .select(col(idCol), col("p"),
        md5(concat_ws(" ", slice(col("_ts"), col("p"), lit(window)))).as("h"))
    val dfw = win.groupBy(col("h"))
      .agg(count_distinct(col(idCol)).as("df"))
    val dupAnchors = win.join(dfw, Seq("h"))
      .filter(col("df") >= 2)
      .groupBy(col(idCol)).agg(collect_list(col("p")).as("_ps"))
    val joined = base.join(dupAnchors, Seq(idCol), "left")
    // guard: Spark's sequence(1, 0) steps BACKWARD ([1, 0]) — empty docs
    // must yield an empty position list, not a phantom 0th position
    val positions = when(size(col("_ts")) > 0,
      sequence(lit(1), size(col("_ts"))))
      .otherwise(array().cast("array<int>"))
    val keep = filter(positions, i =>
      not(coalesce(exists(col("_ps"), p => p <= i && i < p + window),
        lit(false))))
    joined.select(col(idCol),
      size(col("_ts")).cast("long").as("n_tokens"),
      (size(col("_ts")) - size(keep)).cast("long").as("n_removed"),
      concat_ws(" ", transform(keep, i => element_at(col("_ts"), i)))
        .as("cleaned"))
  }

  /**
   * Approximate exact-substring dedup (Lee et al. 2021's suffix-array
   * substring dedup recast for a relational engine): hash `window`-token
   * windows and flag those whose hash occurs in MORE THAN ONE document.
   * Window starts are CONTENT-DEFINED — position p anchors a window iff
   * md5(token at p) ≡ 0 (mod `stride`), Broder's "mod m" shingle
   * selection — so the sampled window set depends only on the text, not
   * on where a span sits in its document: two copies of a span at
   * different offsets anchor identical windows. (A fixed-phase stride
   * would NEVER match copies at different offsets mod stride — the
   * sampling must be position-independent or the operator is broken by
   * construction.) A duplicated span is missed only if none of its
   * eligible positions anchors: probability (1−1/stride)^(L−window+1) —
   * the standard fingerprint-sampling trade; stride=1 degenerates to the
   * exhaustive every-offset variant.
   *
   * Cross-doc only by choice: a hash repeating within one doc is
   * internal repetition ([[Curation.dupLineFraction]] territory), not
   * corpus duplication. Output per doc: anchored-window count,
   * duplicated-window count, duplicated fraction (docs anchoring no
   * window are absent).
   *
   * Scale: window hashes are short keys, text never ships past the
   * window build; the df join is a hash-keyed shuffle of the window
   * table — the honest cost of substring-granularity dedup at 100 TB;
   * stride divides that table's expected size.
   */
  def substringDupSpans(docs: DataFrame, idCol: String, textCol: String,
                        window: Int = 32, stride: Int = 8): DataFrame = {
    require(stride >= 1, "stride must be >= 1")
    // native fused kernel (graft.functions.SampledWindowHashes): the
    // former HOF chain (filter(sequence)+transform under the array()/
    // element_at binding trick) was CodegenFallback — an interpreted md5
    // per candidate position plus a concat_ws(slice)+md5 per surviving
    // window, each in its own lambda frame; the kernel runs the identical
    // sample-then-digest construction in one codegen pass
    dupRollup(docs, idCol, graft.functions.WindowHashExprs
      .sampledWindowHashes(split(col(textCol), "\\s+"), window, stride))
  }

  /**
   * The window-dedup df roll-up shared by [[substringDupSpans]],
   * [[winnowedDupSpans]] and [[winnowedDupSpansFast]]: one row per
   * (doc, selected window hash), each hash's cross-doc document frequency
   * (one hash-keyed shuffle), joined back and rolled up per doc to
   * (n_windows, n_dup = windows with df ≥ 2, dup_frac 4dp). Docs selecting
   * no window are absent.
   */
  private def dupRollup(docs: DataFrame, idCol: String,
                        hashes: Column): DataFrame = {
    val full = docs.select(col(idCol), explode(hashes).as("h"))
    val df = full.groupBy(col("h"))
      .agg(count_distinct(col(idCol)).as("df"))
    val nDup = sum(when(col("df") >= 2, 1L).otherwise(0L))
    full.join(df, Seq("h"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_windows"), nDup.as("n_dup"),
        graft.operators.TextAnalysis.pround4(
          nDup.cast("double") / count(lit(1))).as("dup_frac"))
  }

  /**
   * URL-level recrawl dedup — the FIRST dedup stage of a crawl pipeline:
   * many captures of the same page (same canonical URL, different fetch
   * timestamps) collapse to the freshest one before any content-level
   * dedup runs. The grouping key is [[Curation.normalizeUrl]] — tracking
   * params / fragments / case noise must not split a page's crawl
   * history. Keeper = the capture with the max fetch timestamp; ties →
   * max id (the later-numbered capture of the same second wins —
   * deterministic, order- and partitioning-independent).
   *
   * Plan: two aggregates + one join, ALL keyed on `canonical` (AQE
   * co-partitions them; no window — a window would sort every crawl
   * history, while max reduces pairwise with map-side combine). Only
   * (canonical, id, ts) ever shuffles — page text/html stays in the
   * scan. Works for any orderable id type (string capture ids included —
   * max, not arithmetic negation; the [[clusterKeepers]] convention).
   * Output: one row per canonical URL (canonical, keeper_id, last_ts,
   * n_crawls). Beyond the reference's surface (it processes a live
   * stream, never a recrawl history); crawl-ops family per the builder
   * brief.
   */
  def urlDedup(docs: DataFrame, idCol: String, urlCol: String,
               tsCol: String): DataFrame = {
    val canon = docs.select(
      Curation.normalizeUrl(col(urlCol)).as("canonical"),
      col(idCol), col(tsCol))
    val latest = canon.groupBy(col("canonical"))
      .agg(max(col(tsCol)).as("last_ts"), count(lit(1)).as("n_crawls"))
    canon.join(latest, Seq("canonical"))
      .filter(col(tsCol) === col("last_ts"))
      .groupBy(col("canonical"), col("last_ts"), col("n_crawls"))
      .agg(max(col(idCol)).as("keeper_id"))
      .select(col("canonical"), col("keeper_id"), col("last_ts"),
        col("n_crawls"))
  }

  /**
   * Cross-snapshot crawl diff: classify every URL across two snapshot
   * tables as added / removed / changed / unchanged by content hash —
   * the monitoring table an incremental-crawl pipeline publishes per
   * snapshot pair (how much of the web moved under us?). Inputs must be
   * key-unique per snapshot (run [[urlDedup]] first for raw capture
   * tables).
   *
   * Plan: each side is projected to (key, md5) BEFORE the join — text
   * never reaches the exchange, only a 32-char hash per URL — then ONE
   * full-outer hash join on the key. No window, no self-join; at 10¹²
   * URLs this is exactly one co-partitioned shuffle of two short-key
   * tables. Output: (key, status) with status ∈ added | removed |
   * changed | unchanged.
   */
  def snapshotDiff(oldDocs: DataFrame, newDocs: DataFrame,
                   keyCol: String, textCol: String): DataFrame = {
    val a = oldDocs.select(col(keyCol), md5(col(textCol)).as("h_old"))
    val b = newDocs.select(col(keyCol), md5(col(textCol)).as("h_new"))
    a.join(b, Seq(keyCol), "full_outer")
      .select(col(keyCol),
        when(col("h_old").isNull, "added")
          .when(col("h_new").isNull, "removed")
          .when(col("h_old") === col("h_new"), "unchanged")
          .otherwise("changed").as("status"))
  }

  /** Persist a crawl snapshot with its content hash precomputed — the
    * artifact [[snapshotDiffAgainstTable]] probes. The hash is paid ONCE
    * at write time; every later diff against this snapshot reads only
    * (key, content_hash) — column pruning keeps the old corpus's text
    * bytes unopened (ReadSchema asserted in DedupSpec). */
  def writeSnapshot(docs: DataFrame, keyCol: String, textCol: String,
                    path: String): Unit =
    docs.withColumn("content_hash", md5(col(textCol)))
      .write.mode("overwrite").parquet(path)

  /** [[snapshotDiff]] against a STORED [[writeSnapshot]] artifact — the
    * production shape: crawl N is a table on disk; diffing crawl N+1
    * re-hashes only the NEW side and column-prunes the stored side to
    * (key, content_hash). Same output contract as snapshotDiff. */
  def snapshotDiffAgainstTable(spark: org.apache.spark.sql.SparkSession,
                               tableDir: String, newDocs: DataFrame,
                               keyCol: String, textCol: String): DataFrame = {
    val a = spark.read.parquet(tableDir)
      .select(col(keyCol), col("content_hash").as("h_old"))
    val b = newDocs.select(col(keyCol), md5(col(textCol)).as("h_new"))
    a.join(b, Seq(keyCol), "full_outer")
      .select(col(keyCol),
        when(col("h_old").isNull, "added")
          .when(col("h_new").isNull, "removed")
          .when(col("h_old") === col("h_new"), "unchanged")
          .otherwise("changed").as("status"))
  }

  /**
   * Connected components via alternating LARGE-STAR / SMALL-STAR
   * (Kiveris et al. 2014, "Connected Components in MapReduce and
   * Beyond") — the O(log n)-round alternative to [[dedupClusters]]'
   * O(component-diameter) min-label propagation. Same contract, same
   * result: (id, cluster = smallest reachable id) for every node of the
   * pair graph. Near-dup components are dense and shallow (label
   * propagation is fine there); pick THIS variant when components can be
   * long chains — substring-overlap chains, link graphs — where diameter
   * ≫ log n and per-round cost must not multiply by the chain length.
   *
   * Per round: large-star (every node's strictly-larger neighbors
   * connect to the min of its closed neighborhood) then small-star
   * (every node's smaller-or-equal neighbors and itself connect to that
   * min). Each star step is ONE window-min shuffle over the adjacency
   * (min needs no sorted frame) + a distinct; the edge set is
   * re-staged per round ([[graft.Staging]] — constant lineage, round k−1
   * released: the [[dedupClusters]] pattern). Convergence gate = (edge
   * count, xxhash64 sum) pair per round — one model-sized driver row; a
   * collision that masks non-convergence needs a 64-bit hash-sum tie on
   * a changed edge set, negligible and bounded by `maxIters` anyway.
   */
  def dedupClustersStar(pairs: DataFrame, maxIters: Int = 25): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byU = Window.partitionBy("u")
    def sym(e: DataFrame): DataFrame =
      e.union(e.select(col("v").as("u"), col("u").as("v")))
    // large-star: emit (v, min(closed nbhd of u)) for v > u
    def largeStar(e: DataFrame): DataFrame =
      sym(e).withColumn("m", least(col("u"), min(col("v")).over(byU)))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v")).distinct()
    // small-star: at each node's LARGER endpoint, connect the smaller
    // neighbors and the node itself to the min of the smaller neighbors
    def smallStar(e: DataFrame): DataFrame = {
      val adj = sym(e).filter(col("v") < col("u"))
        .withColumn("m", min(col("v")).over(byU))
      adj.select(col("v").as("u"), col("m").as("v"))
        .union(adj.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v")).distinct()
    }
    // hash sum in DECIMAL(38,0): order-independent and overflow-free
    // (a raw long sum overflows under ANSI arithmetic at edge volume)
    def gate(e: DataFrame): (Long, String) = {
      val r = e.agg(count(lit(1)),
        sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)"))).head()
      (r.getLong(0), String.valueOf(r.get(1)))
    }
    // ONE staged copy of the pair table feeds BOTH the edge seed and the
    // node universe below — `pairs`' lineage is typically the full LSH
    // candidate build, which the former shape executed a SECOND time for
    // the final `nodes` union
    val base = Staging(pairs.select(col("id1").as("u"), col("id2").as("v")))
    var edges = Staging(base.filter(col("u") =!= col("v")).distinct())
    var prev = gate(edges)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIters) {
      val last = edges
      edges = Staging(smallStar(largeStar(edges)))
      Staging.release(last) // `base` stays: the node union reads it
      val cur = gate(edges)
      converged = cur == prev
      prev = cur
      iter += 1
    }
    // fixed point: every non-root points straight at its component min;
    // roots carry no outgoing edge → coalesce to themselves.
    // Output-contract guard (defensive): if maxIters exhausted BEFORE the
    // gate converged, a node can still carry several outgoing edges — the
    // min-reduce below keeps the contract (exactly one row per node, the
    // smallest label reached so far) instead of emitting duplicates; at a
    // converged fixed point each u has one edge and the reduce is a no-op.
    if (!converged)
      System.err.println(s"[dedupClustersStar] WARNING: not converged " +
        s"after $maxIters rounds — labels are smallest-reached, not " +
        s"guaranteed component minima; raise maxIters")
    val mapping = edges.groupBy(col("u").as("id"))
      .agg(min(col("v")).as("cluster"))
    val nodes = base.select(col("u").as("id"))
      .union(base.select(col("v").as("id"))).distinct()
    nodes.join(mapping, Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster"), col("id")).as("cluster"))
  }
}
