package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Analytics, Curation, Dedup, Similarity}

/**
 * Physical-plan gates for the round-2 operators — the plan each operator
 * is DESIGNED to produce, asserted so a regression (lost broadcast, a
 * surprise cross product, a shuffle where none belongs) fails loudly
 * rather than silently degrading at scale.
 */
class PlanSpec extends SparkSuite {
  import spark.implicits._

  private lazy val docs = (1L to 200L)
    .map(i => (i, s"alpha beta gamma delta epsilon tok$i zeta eta theta iota", s"s${i % 4}"))
    .toDF("doc_id", "text", "source")
  private lazy val emb = (1L to 100L)
    .map(i => (i, Array.tabulate(8)(d => ((i * 37 + 11 * d) % 17 - 8).toDouble), (i % 3).toInt))
    .toDF("vec_id", "v", "label")

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** The executed plans of EVERY query `df` runs when built and collected
    * — staging jobs (localCheckpoint) included, which the final plan hides. */
  private def plansRun(df: => DataFrame): Seq[String] = {
    val plans = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val rec = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                    ns: Long): Unit = plans.add(qe.executedPlan.toString)
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                    e: Exception): Unit = ()
    }
    org.apache.spark.TestBus.drain(spark.sparkContext)
    spark.listenerManager.register(rec)
    try { df.collect(); org.apache.spark.TestBus.drain(spark.sparkContext) }
    finally spark.listenerManager.unregister(rec)
    plans.toArray(Array.empty[String]).toSeq
  }

  test("shingles and tokenChunks are scan-local: zero Exchange") {
    assert(!planOf(Dedup.shingles(docs, "doc_id", "text", 3)).contains("Exchange"))
    assert(!planOf(Curation.tokenChunks(docs, "doc_id", "text", 10, 2))
      .contains("Exchange"))
  }

  test("contamination broadcasts the benchmark side, no cross product") {
    val p = planOf(Curation.contamination(
      docs.filter($"doc_id" >= 10), "doc_id", "text",
      docs.filter($"doc_id" < 10), n = 3))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"))
  }

  test("banded near-dup pair join is an equi-join, never a cross product") {
    val p = planOf(Similarity.nearDupPairs(emb, "vec_id", "v", "label", 0.5))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("IVF assignment combines map-side: partial max under the shuffle") {
    val cents = emb.filter($"vec_id" <= 4)
      .select($"vec_id".cast("long").as("cid"), $"v".as("cv"))
    val p = planOf(Similarity.assignCells(emb, "vec_id", "v", cents))
    assert(p.contains("partial_max") ||
      "(?s).*HashAggregate.*HashAggregate.*".r.matches(p), p)
  }

  test("keyset pagination (searchAfter): TakeOrderedAndProject top-k, no " +
    "offset operator, no global sort — page depth cannot change the plan") {
    val logs = (1L to 500L)
      .map(i => (i, new java.sql.Timestamp(1700000000000L + (i % 40) * 3600000L), s"e${i % 5}"))
      .toDF("event_id", "ts", "event_type")
    val page = Analytics.searchAfter(logs, "ts", "event_id",
      lastSort = lit(new java.sql.Timestamp(1700000000000L + 20 * 3600000L)),
      lastId = lit(250L), size = 20)
    val p = planOf(page)
    assert(p.contains("TakeOrderedAndProject"),
      s"keyset page must plan as per-partition top-k:\n$p")
    assert(!p.contains("GlobalLimitExec") && !"(?i)offset".r.findFirstIn(p).isDefined,
      s"no offset operator may appear:\n$p")
    // functional: keyset page == the offset page whose cursor is the last
    // row of the previous page (the search_after contract)
    val all = logs.orderBy($"ts".desc, $"event_id".desc)
      .as[(Long, java.sql.Timestamp, String)].collect()
    val cursor = all(99) // last row of page 5 (size 20)
    val viaKeyset = Analytics.searchAfter(logs, "ts", "event_id",
      lit(cursor._2), lit(cursor._1), size = 20)
      .as[(Long, java.sql.Timestamp, String)].collect().toSeq
    val viaOffset = all.slice(100, 120).toSeq
    assert(viaKeyset == viaOffset, "keyset page must equal the offset page")
  }

  test("textRankIdf: df table and N broadcast, only the tf agg shuffles") {
    val p = planOf(Analytics.textRankIdf(docs, "doc_id", "text", "alpha beta"))
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"), p)
  }

  test("unigram LM: vocab join is PLANNER-sized by default (no forced hint " +
    "— Heaps' law: minCount alone does not bound the model), and AQE " +
    "broadcasts it at runtime while it fits") {
    val df = Curation.unigramLmScore(docs, "doc_id", "text")
    // exactly ONE hint survives — the one-row total scalar; the VOCAB
    // join itself must carry none (planner-sized)
    val analyzed = df.queryExecution.optimizedPlan.toString
    assert("ResolvedHint".r.findAllIn(
      df.queryExecution.analyzed.toString).size == 1,
      s"only the 1-row total may be hint-forced:\n$analyzed")
    df.collect() // let AQE re-plan with measured sizes
    val p = planOf(df)
    assert(p.contains("BroadcastHashJoin"),
      s"AQE should pick broadcast for the small vocab at runtime:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("unigram LM with topK: the vocab is bounded BY CONSTRUCTION, so " +
    "the broadcast hint is forced and justified") {
    val df = Curation.unigramLmScore(docs, "doc_id", "text",
      topK = Some(100))
    assert("ResolvedHint".r.findAllIn(
      df.queryExecution.analyzed.toString).size == 2,
      "topK-bounded vocab AND the total should carry broadcast hints")
    val p = planOf(df)
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"), p)
  }

  test("bigram LM: model joins planner-sized by default — no forced hint, " +
    "AQE broadcasts at runtime, no cross product") {
    val df = Curation.bigramLmScore(docs, "doc_id", "text")
    // only the 1-row total is hinted; none of the three model joins is
    assert("ResolvedHint".r.findAllIn(
      df.queryExecution.analyzed.toString).size == 1,
      "model joins must not be hint-forced")
    df.collect()
    val p = planOf(df)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("substring removal: no window operator, no cross product — " +
    "coverage resolves array-locally after the df shuffle") {
    val p = planOf(Dedup.removeDupSpans(docs, "doc_id", "text",
      window = 4, stride = 1))
    assert(!p.contains("Window"), s"coverage must not use a window:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"position coverage must never be a range join:\n$p")
  }

  test("salted top-k per group: two window ranks, no global sort, " +
    "results identical to the single-window path") {
    val p = planOf(Curation.topKPerGroupSalted(docs, "source", $"doc_id",
      salt = 4, k = 3, $"doc_id".asc))
    assert("(?s).*Window.*Window.*".r.matches(p),
      s"expected the two-phase (salted then global) rank:\n$p")
    assert(!p.contains("Exchange SinglePartition"), p)
  }

  test("feature hashing: scan-local kernel — no join, no window, and " +
    "ZERO exchanges (the per-doc feature vector never shuffles)") {
    val p = planOf(Curation.hashFeaturize(docs, "doc_id", "text", 32))
    assert(!p.contains("Join") && !p.contains("Window"), p)
    // round 6: the former explode + groupBy(id, bucket) partial-agg
    // shuffle is gone — the signed sums come from the HashedBagFeatures
    // kernel inside the scan, so the plan must carry no Exchange at all
    assert(!p.contains("Exchange"),
      "per-row bucket weights must not shuffle\n" + p)
    assert(p.contains("hashed_bag_features"), p)
  }

  test("DSIR / NB: every hashed-bag plan buckets through the " +
    "HashedBagFeatures kernel — no md5 token recipe, staging jobs included") {
    val runs = Seq(
      "dsirModel" -> plansRun(Curation.dsirModel(docs, "doc_id", "text",
        $"source" === "s0", 32)),
      "nbcModel" -> plansRun(Curation.nbcModel(docs, "text",
        $"source" === "s0", 32)),
      "nbcScore" -> plansRun(Curation.nbcScore(docs, "doc_id", "text",
        $"source" === "s0", 32)))
    runs.foreach { case (name, plans) =>
      assert(plans.exists(_.contains("hashed_bag_features")),
        s"$name: no plan runs the kernel\n${plans.mkString("\n")}")
      assert(!plans.exists(_.contains("md5")),
        s"$name: a plan hashes tokens with md5\n${plans.mkString("\n")}")
    }
  }

  test("BPE pair top-k: array-local pair build, partial-agg shuffle, " +
    "TakeOrderedAndProject head — no global sort, no window") {
    val p = planOf(Curation.bpePairTopK(docs, "doc_id", "text", 10))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Window") && !p.contains("Join"), p)
    assert("(?s).*HashAggregate.*HashAggregate.*".r.matches(p),
      "pair counts must partial-aggregate map-side\n" + p)
  }

  test("matryoshka: both stages are TakeOrderedAndProject, query side " +
    "broadcast — no global sort, no shuffle of the corpus") {
    val qDf = emb.filter($"vec_id" === 1).select($"v".as("qv"))
    val p = planOf(Similarity.matryoshkaTopK(emb.filter($"vec_id" =!= 1),
      "vec_id", "v", qDf, "qv", prefixDim = 4, pool = 20, k = 5))
    assert("(?s).*TakeOrderedAndProject.*TakeOrderedAndProject.*".r.matches(p), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("Exchange hashpartitioning"), p)
  }

  /** `emb` as a parquet scan: a local Seq is folded into a LocalRelation,
    * which hides the scan-local filters and projections under test. */
  private lazy val embScan = {
    val path = tmpDir("plan-emb")
    emb.select($"vec_id", $"v").write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  test("ANN ranked tail: every single-stage top-k plans as " +
    "TakeOrderedAndProject — no global sort, no window") {
    val qv = emb.filter($"vec_id" === 1).select($"v").as[Array[Double]]
      .head().toSeq
    val rest = embScan.filter($"vec_id" =!= 1)
    val (ivf, adc, lsh) =
      (tmpDir("plan-ivf"), tmpDir("plan-ivfadc"), tmpDir("plan-lsh"))
    Similarity.writeIvfIndex(embScan, "vec_id", "v", ivf, k = 4, sampleN = 64)
    Similarity.writeIvfadcIndex(embScan, "vec_id", "v", adc, dim = 8,
      kCoarse = 4, m = 4, k = 4, sampleN = 64)
    Similarity.writeLshIndex(embScan, "vec_id", "v", lsh)
    val tops = Seq(
      "brute" -> Similarity.bruteForceTopK(rest, "vec_id", "v",
        qv.map(_.toFloat), 5),
      "lsh" -> Similarity.lshTopK(rest, "vec_id", "v", qv.map(_.toFloat), 5),
      "lsh multi-probe" -> Similarity.lshTopKMultiProbe(rest, "vec_id", "v",
        qv, 5),
      "sq" -> Similarity.sqTopK(rest, "vec_id", "v",
        embScan.filter($"vec_id" === 1), "v", 5),
      "ivf" -> Similarity.ivfTopK(embScan, "vec_id", "v", 1L, 5, k = 4,
        sampleN = 64),
      "pq" -> Similarity.pqTopK(embScan, "vec_id", "v", 1L, dim = 8,
        topK = 5, k = 4, sampleN = 64),
      "ivfadc" -> Similarity.ivfadcTopK(embScan, "vec_id", "v", 1L, dim = 8,
        topK = 5, kCoarse = 4, k = 4, sampleN = 64),
      "ivf index" -> Similarity.ivfIndexTopK(spark, ivf, "vec_id", "v", qv, 5,
        excludeId = Some(1L)),
      "ivfadc index" -> Similarity.ivfadcIndexTopK(spark, adc, "vec_id", qv,
        5, excludeId = Some(1L)),
      "lsh index" -> Similarity.lshIndexTopK(spark, lsh, "vec_id", "v", qv, 5,
        excludeId = Some(1L)))
    tops.foreach { case (name, df) =>
      val p = planOf(df)
      assert(p.contains("TakeOrderedAndProject"), s"$name:\n$p")
      assert("""\bSort \[""".r.findFirstIn(p).isEmpty, s"$name sorts:\n$p")
      assert(!p.contains("Window"), s"$name:\n$p")
    }
  }

  test("centroid kernels: SemDeDup's cell runs in no Filter (it is total, " +
    "so no null check re-runs it), and no ANN plan prints a codebook") {
    val sem = planOf(Similarity.semDedupPairs(embScan, "vec_id", "v",
      eps = 0.5, k = 4, sampleN = 64))
    val filters = sem.linesIterator
      .filter(l => l.contains("Filter") && l.contains("nearest_centroid_id"))
    assert(filters.isEmpty, s"the cell kernel re-runs in a filter:\n$sem")
    val coarse = Similarity.kmeansCentroids(embScan, "vec_id", "v", k = 4,
      sampleN = 64).as[(Long, Array[Double])].collect().map(_._2.toSeq).toSeq
    val pq = Similarity.pqCodebooks(embScan, "vec_id", "v", dim = 8, m = 4,
      k = 4, sampleN = 64).flatten.map(_._2)
    val adc = tmpDir("plan-ivfadc-cb")
    Similarity.writeIvfadcIndex(embScan, "vec_id", "v", adc, dim = 8,
      kCoarse = 4, m = 4, k = 4, sampleN = 64)
    val qv = emb.filter($"vec_id" === 1).select($"v").as[Array[Double]]
      .head().toSeq
    Seq(
      "semdedup" -> (sem, coarse),
      "ivf" -> (planOf(Similarity.ivfTopK(embScan, "vec_id", "v", 1L, 5,
        k = 4, sampleN = 64)), coarse),
      "pq" -> (planOf(Similarity.pqTopK(embScan, "vec_id", "v", 1L, dim = 8,
        topK = 5, k = 4, sampleN = 64)), pq),
      "ivfadc" -> (planOf(Similarity.ivfadcTopK(embScan, "vec_id", "v", 1L,
        dim = 8, topK = 5, kCoarse = 4, k = 4, sampleN = 64)), coarse),
      "ivfadc index" -> (planOf(Similarity.ivfadcIndexTopK(spark, adc,
        "vec_id", qv, 5)), coarse)
    ).foreach { case (name, (p, cb)) =>
      assert(p.contains("_centroid_") || p.contains("centroid_lookup"),
        s"$name runs no centroid kernel:\n$p")
      cb.foreach(cv => assert(!p.contains(cv.mkString(", ")),
        s"$name prints its codebook:\n$p"))
    }
  }

  test("cosine expression runs inside whole-stage codegen") {
    // spark.range source: a local Seq would be pre-evaluated by
    // ConvertToLocalRelation and show no physical operators at all
    val df = spark.range(1, 101)
      .select(transform(sequence(lit(1), lit(8)),
        d => ($"id" * 37 + d * 11).cast("double")).as("v"))
      .select(Similarity.cosine($"v", $"v").as("c"))
    val p = planOf(df)
    assert(p.linesIterator.exists(l => l.contains("cosine_sim") && l.contains("*(")),
      s"cosine_sim must sit inside a WholeStageCodegen span:\n$p")
  }

  test("simhash pair scan: integer xor/bit_count, no cross product") {
    val p = planOf(Dedup.simhashPairs(docs, "doc_id", "text", maxDist = 2, bits = 16))
    assert(!p.contains("CartesianProduct"))
    assert(p.toLowerCase.contains("bit_count"), p)
  }

  test("jaccard pair plan: downstream of the materialized postings there is " +
    "no cartesian product and no re-scan of the documents table") {
    val df = Dedup.ngramJaccardPairs(docs, "doc_id", "text", "source",
      n = 3, threshold = 0.2, maxShingleDf = 100)
    val p = planOf(df)
    assert(!p.contains("CartesianProduct"), p)
    // both materialization seams took effect: the final plan reads cached
    // RDDs (checkpoint scans), never the document source again
    assert(!p.contains("LocalTableScan") || !p.contains("doc_id#"),
      "sanity")
    assert(p.contains("Scan ExistingRDD") || p.contains("ExistingRDD"),
      s"expected checkpoint scans in:\n$p")
  }

  test("bucketed tables co-locate the join: sort-merge with ZERO exchanges " +
    "(the write-once-join-many layout for recurring large joins)") {
    import graft.operators.Exports
    def clean(t: String): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(s"spark-warehouse/$t")
      if (loc.exists()) { // stale location from an aborted earlier run
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(loc)
      }
    }
    clean("bkt_a"); clean("bkt_b")
    val a = (1L to 1000L).map(i => (i % 50, i)).toDF("k", "va")
    val b = (1L to 1000L).map(i => (i % 50, i * 7)).toDF("k", "vb")
    Exports.writeBucketed(a, "bkt_a", "k", 8)
    Exports.writeBucketed(b, "bkt_b", "k", 8)
    // force the non-broadcast path: the point is the large-to-large case
    // (at real scale neither side fits a broadcast; the threshold conf is
    // how a test makes two small tables look large)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.sql(
        "SELECT a.k, va, vb FROM bkt_a a JOIN bkt_b b ON a.k = b.k")
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), p)
      assert(!p.contains("Exchange"),
        s"bucketed join must not shuffle either side:\n$p")
      assert(joined.count() == 20000) // 50 keys × 20 × 20
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS bkt_a")
      spark.sql("DROP TABLE IF EXISTS bkt_b")
    }
  }

  test("source overlap: pair generation is array-local — no join operator, " +
    "exactly two aggregate exchanges") {
    val p = planOf(Curation.sourceOverlap(docs, "source", "text", n = 3))
    assert(!p.contains("Join"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2,
      s"expected the shingle agg + pair agg exchanges only:\n$p")
  }

  test("paragraph dedup: one hash-window shuffle + one roll-up, no join") {
    val p = planOf(Curation.paragraphDedup(docs, "doc_id", "text", 4))
    assert(!p.contains("Join"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2, p)
  }

  test("incremental dedup: both rejection channels are anti-joins on short " +
    "keys, never a cross product") {
    val p = planOf(Dedup.incrementalDedup(
      docs.filter($"doc_id" % 5 === 0), docs.filter($"doc_id" % 5 =!= 0),
      "doc_id", "text"))
    assert("LeftAnti".r.findAllIn(p).size == 2, p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("cluster keepers: argmax is an aggregate (map-side combine), " +
    "not a window sort") {
    val clusters = Seq((1L, 1L), (2L, 1L), (7L, 7L)).toDF("id", "cluster")
    val quality = docs.select($"doc_id", lit(0.5).as("q"))
    val p = planOf(Dedup.clusterKeepers(clusters, quality, "doc_id", "q"))
    assert(!p.contains("Window"), p)
    assert(p.contains("partial_"), s"expected partial aggregation:\n$p")
  }

  test("sequence packing: per-group window only — no global single-" +
    "partition sort") {
    val p = planOf(Curation.sequencePack(docs, "doc_id", "text", "source", 64))
    assert(p.contains("Window"), p)
    assert(!p.contains("Exchange SinglePartition"),
      s"a global-order window would serialize the corpus:\n$p")
  }

  test("group centroids: one shuffle on (group, dim) with partial sums") {
    val j = docs.select($"doc_id", $"source")
      .join(emb, $"vec_id" === $"doc_id")
    val p = planOf(Similarity.groupCentroids(j, "source", "v"))
    assert(p.contains("partial_"), p)
    // the posexplode blowup folds map-side before the only wide exchange
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2, p)
  }

  test("robots filter: ONE join (host-keyed, broadcast-sized rules), " +
    "verdict array-local — no per-page regroup, no cross product") {
    val pages = docs.select($"doc_id",
      concat(lit("https://h"), $"doc_id" % 5, lit(".com/p/"), $"doc_id")
        .as("url"))
    val rules = Seq(("h1.com", "disallow", "/p"), ("h1.com", "allow", "/p/1"))
      .toDF("host", "rule", "path_prefix")
    val p = planOf(graft.operators.WebGraph.robotsFilter(pages, rules, "url"))
    assert("Join".r.findAllIn(p).size <= 2, // one logical join (+ its hint row)
      s"robots verdicts must not re-join per page:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"),
      s"host-rules table is host-count-scale — AQE should broadcast it:\n$p")
  }

  test("url dedup: aggregates + co-partitioned join only — no window " +
    "(a window would sort every crawl history)") {
    val caps = docs.select($"doc_id",
      concat(lit("https://x.com/"), $"doc_id" % 20).as("url"),
      ($"doc_id" * 7 % 100).as("ts"))
    val p = planOf(Dedup.urlDedup(caps, "doc_id", "url", "ts"))
    assert(!p.contains("Window"), s"urlDedup must stay window-free:\n$p")
    assert(p.contains("partial_"), "max/count must combine map-side: " + p)
  }

  test("snapshot diff: text projected to md5 BEFORE the single join — " +
    "no text column crosses the exchange") {
    val p = planOf(Dedup.snapshotDiff(
      docs.select($"doc_id".as("url_id"), $"text"),
      docs.filter($"doc_id" % 2 === 0).select($"doc_id".as("url_id"), $"text"),
      "url_id", "text"))
    assert("Join".r.findAllIn(p).size <= 2, p)
    // the join's input schema carries only key + hash columns (on a
    // local fixture the md5 constant-folds into the table scan — the
    // exchange-schema assertion below is the load-bearing one)
    val exchanged = "Exchange hashpartitioning\\([^)]*text".r.findFirstIn(p)
    assert(exchanged.isEmpty,
      s"raw text must not be a shuffle key or ride the exchange:\n$p")
  }

  test("CMS / HLL sketch builds: one partial-agg hash aggregate (map-side " +
    "combine under a single Exchange), no join, no window") {
    import graft.operators.Sketches
    for (p <- Seq(
      planOf(Sketches.cmsSketch(docs, "source", "text", depth = 4, width = 16)),
      planOf(Sketches.hllRegisters(docs, "source", "text", p = 4)))) {
      assert(p.contains("partial_"),
        s"register build must combine map-side:\n$p")
      assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
        s"exactly ONE shuffle (the register aggregate):\n$p")
      assert(!p.contains("Join") && !p.contains("Window"), p)
    }
  }

  test("bloom / CMS probes: the register side joins BROADCAST (bits table " +
    "is bounded by mBits / d*w by construction), never sort-merge") {
    import graft.operators.Sketches
    val bits = Sketches.bloomBits(docs.select($"text".as("url")), "url",
      mBits = 1024, kHashes = 4).localCheckpoint()
    val pb = planOf(Sketches.bloomProbe(bits,
      docs.select($"text".as("url")), "url", mBits = 1024, kHashes = 4))
    assert(pb.contains("BroadcastHashJoin"), pb)
    assert(!pb.contains("SortMergeJoin"), pb)
    val merged = Sketches.cmsMerge(Sketches.cmsSketch(docs, "source",
      "text", depth = 4, width = 16)).localCheckpoint()
    val pc = planOf(Sketches.cmsEstimate(merged,
      docs.select(explode(graft.operators.TextAnalysis.toks($"text")).as("tok")).distinct(),
      "tok", depth = 4, width = 16))
    assert(pc.contains("BroadcastHashJoin"), pc)
    assert(!pc.contains("SortMergeJoin"), pc)
  }

  test("KMV sketch: salted two-window bottom-k (skew-proof), estimate is " +
    "one aggregate with map-side combine") {
    val sk = Curation.kmvSketch(docs, "source", "text", k = 8)
    val p = planOf(sk)
    assert("Window".r.findAllIn(p).size >= 2,
      s"salted path = two windows (per-salt-bucket, then survivors):\n$p")
    assert(!p.contains("Exchange SinglePartition"), p)
    val pe = planOf(Curation.kmvEstimate(sk.localCheckpoint(), "source", 8))
    assert(pe.contains("partial_"), pe)
  }
}
