package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity, TextAnalysis}

class DedupSpec extends SparkSuite {
  import spark.implicits._

  // corpus with planted exact dup (d1/d2), near-dup (d3/d4), and unrelated docs
  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank", "s1"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank", "s1"),
    (3L, "a fast crimson fox jumps over the lazy dog near the river bank today", "s1"),
    (4L, "a fast crimson fox jumps over the lazy dog near the river bank tonight", "s1"),
    (5L, "completely different content about database query optimization techniques", "s1"),
    (6L, "yet another unrelated text concerning distributed stream processing", "s2"))
    .toDF("doc_id", "text", "source")

  test("exact dedup groups identical content, keeps min id") {
    val r = Dedup.exact(docs, "doc_id", "text")
      .filter($"dup_count" > 1).as[(String, Long, Long)].collect()
    assert(r.length == 1 && r(0)._2 == 1L && r(0)._3 == 2L)
  }

  test("minhash LSH finds exact+near dups, not unrelated docs") {
    val pairs = Dedup.minhashCandidates(docs, "doc_id", "text", n = 3)
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), "exact dup must collide in every band")
    assert(pairs.contains((3L, 4L)), "near dup should collide in some band")
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L), "unrelated doc must not pair")
  }

  test("near-dup clustering: connected components = min reachable id; " +
    "chains need multiple propagation rounds; components stay separate") {
    // chain 10-20-30-40 (diameter 3 forces >1 round), pair {5,6}, and a
    // triangle {100,101,102}
    val pairs = Seq((10L, 20L), (20L, 30L), (30L, 40L), (5L, 6L),
      (100L, 101L), (101L, 102L), (100L, 102L)).toDF("id1", "id2")
    val got = Dedup.dedupClusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(10L -> 10L, 20L -> 10L, 30L -> 10L, 40L -> 10L,
      5L -> 5L, 6L -> 5L, 100L -> 100L, 101L -> 100L, 102L -> 100L))
    // maxIters hard bound: an under-iterated run is visibly unconverged
    val partial = Dedup.dedupClusters(pairs, maxIters = 1)
      .as[(Long, Long)].collect().toMap
    assert(partial(40L) == 30L, "one round moves labels one hop only")
  }

  test("minhash jaccard estimate: exact dup -> 1.0; candidates match " +
    "minhashCandidates; estimate agrees with per-component scala reference") {
    val est = Dedup.minhashJaccardEstimate(docs, "doc_id", "text", n = 3)
      .as[(Long, Long, Double)].collect().toSeq.sortBy(p => (p._1, p._2))
    val cands = Dedup.minhashCandidates(docs, "doc_id", "text", n = 3)
      .as[(Long, Long)].collect().toSet
    assert(est.map(p => (p._1, p._2)).toSet == cands,
      "estimator covers exactly the LSH candidate set")
    val byPair = est.map(p => (p._1, p._2) -> p._3).toMap
    assert(byPair((1L, 2L)) == 1.0, "identical docs agree on all 8 components")
    assert(est.forall(p => p._3 >= 0.0 && p._3 <= 1.0 &&
      (p._3 * 8).isWhole), "estimates are k/8")
    // cross-check against a driver-side recomputation of the signatures
    val sigs = Dedup.minhashSignatures(docs, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) -> (1 to 8).map(r.getLong)).toMap
    est.foreach { case (a, b, j) =>
      val exp = sigs(a).zip(sigs(b)).count(p => p._1 == p._2) / 8.0
      assert(j == exp, s"pair ($a,$b)")
    }
  }

  test("minhash bucket cap: over-full buckets are dropped, default cap is inert") {
    val capped = Dedup.minhashCandidates(docs, "doc_id", "text", n = 3,
      maxBucketSize = 1).count()
    assert(capped == 0, "cap=1 means every shared bucket is over-full")
    val default = Dedup.minhashCandidates(docs, "doc_id", "text", n = 3)
      .as[(Long, Long)].collect().toSet
    val uncapped = Dedup.minhashCandidates(docs, "doc_id", "text", n = 3,
      maxBucketSize = Int.MaxValue).as[(Long, Long)].collect().toSet
    assert(default == uncapped, "default cap must not change this corpus")
  }

  test("edit-verified pairs: subset of LSH candidates, distances exact " +
    "(scala reference), threshold drops far candidates") {
    def levRef(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val cand = Dedup.minhashCandidates(docs, "doc_id", "text", n = 3)
      .as[(Long, Long)].collect().toSet
    val texts = docs.as[(Long, String, String)].collect()
      .map(r => r._1 -> r._2).toMap
    val got = Dedup.editVerifiedPairs(docs, "doc_id", "text", n = 3,
      maxDist = 40).as[(Long, Long, Long)].collect()
    assert(got.map(r => (r._1, r._2)).toSet.subsetOf(cand),
      "verified pairs must come from the candidate set")
    got.foreach { case (i, j, d) =>
      assert(d == levRef(texts(i), texts(j)), s"($i,$j): $d")
      assert(d <= 40)
    }
    // exact dup pair verifies at distance 0; near-dup (day/night suffix) > 0
    assert(got.exists(r => r._1 == 1L && r._2 == 2L && r._3 == 0L))
    assert(got.exists(r => r._1 == 3L && r._2 == 4L && r._3 > 0L))
    // a tight threshold drops the near-dup but keeps the exact dup
    val tight = Dedup.editVerifiedPairs(docs, "doc_id", "text", n = 3,
      maxDist = 1).as[(Long, Long, Long)].collect()
    assert(tight.map(r => (r._1, r._2)).toSet == Set((1L, 2L)), tight.toSeq)
  }

  test("containment: a quote embedded in a longer doc scores 1.0 in the " +
    "contained direction; exact dups score 1.0 both ways; values match a " +
    "Scala set reference") {
    // doc 7 = doc 1's text verbatim + a continuation (a quote). Kept
    // short enough that the pair still shares an LSH band — the scaladoc's
    // documented blocker bias: an extreme containment (tiny Jaccard) can
    // miss candidacy; the MEASURE is exact for every surfaced pair.
    val quoted = docs.union(Seq((7L,
      "the quick brown fox jumps over the lazy dog near the river bank " +
        "and then the story simply continued onward",
      "s1")).toDF("doc_id", "text", "source"))
    val got = Dedup.containmentPairs(quoted, "doc_id", "text", n = 3,
      minContain = 0.5)
      .as[(Long, Long, Long, Double, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4, r._5)).toMap
    // Scala reference over distinct shingle sets
    def shSet(t: String): Set[String] = {
      val w = t.toLowerCase.split("\\W+").filter(_.nonEmpty)
      w.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    }
    val texts = quoted.as[(Long, String, String)].collect()
      .map(r => r._1 -> r._2).toMap
    got.foreach { case ((i, j), (common, c1, c2)) =>
      val (a, b) = (shSet(texts(i)), shSet(texts(j)))
      val inter = (a & b).size
      assert(common == inter.toLong, s"($i,$j) common")
      def r4(x: Double) = math.floor(x * 10000.0 + 0.5) / 10000.0
      assert(c1 == r4(inter.toDouble / a.size), s"($i,$j) c1")
      assert(c2 == r4(inter.toDouble / b.size), s"($i,$j) c2")
    }
    // the quote: all of doc 1's shingles appear in doc 7
    assert(got.contains((1L, 7L)), s"quote pair missing: ${got.keys}")
    assert(got((1L, 7L))._2 == 1.0, "contained direction must be 1.0")
    assert(got((1L, 7L))._3 < 0.7, "containing direction stays lower")
    // exact dup pair: both directions 1.0
    assert(got((1L, 2L))._2 == 1.0 && got((1L, 2L))._3 == 1.0)
  }

  test("simhash: identical -> same signature; near-dup closer than unrelated") {
    val sig = Dedup.simhashBitsRows(docs, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(sig(1L) == sig(2L))
    assert(sig.values.forall(s => s.length == 16 && s.forall("01".contains(_))))
    def ham(a: String, b: String) = a.zip(b).count(p => p._1 != p._2)
    assert(ham(sig(3L), sig(4L)) < ham(sig(3L), sig(6L)),
      s"near-dup hamming ${ham(sig(3L), sig(4L))} should beat unrelated ${ham(sig(3L), sig(6L))}")
    // bit string and integer signature agree bit-for-bit (char j = bit j)
    val ints = Dedup.simhashIntRows(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    sig.foreach { case (id, s) =>
      val fromInt = (1 to 16).map(j => if ((ints(id) & (1L << (j - 1))) != 0) '1' else '0').mkString
      assert(s == fromInt, s"doc $id: $s != $fromInt")
    }
  }

  test("simhash pairs: chunk banding is exact for hamming<=2 (matches brute force)") {
    val got = Dedup.simhashPairs(docs, "doc_id", "text", maxDist = 2, bits = 32)
      .as[(Long, Long, Long)].collect().toSet
    // brute-force reference over the integer signatures
    val ints = Dedup.simhashIntRows(docs, "doc_id", "text", bits = 32)
      .as[(Long, Long)].collect().sortBy(_._1)
    val brute = (for {
      (i1, h1) <- ints; (i2, h2) <- ints if i1 < i2
      d = java.lang.Long.bitCount(h1 ^ h2) if d <= 2
    } yield (i1, i2, d.toLong)).toSet
    assert(got == brute, s"banding missed or invented pairs: got=$got brute=$brute")
    assert(got.contains((1L, 2L, 0L)), "exact dup pair at hamming 0")
  }

  test("substring removal: duplicated span deleted from BOTH docs, " +
    "unique text kept, empty and short docs pass through") {
    val span = (1 to 20).map(i => s"d$i").mkString(" ")
    val d = Seq(
      (1L, s"alpha beta $span gamma"),
      (2L, s"$span omega"),
      (3L, "totally unique content here"),
      (4L, "")).toDF("doc_id", "text")
    // stride 1: every position anchors -> coverage is exact
    val got = Dedup.removeDupSpans(d, "doc_id", "text",
      window = 16, stride = 1)
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 23L, 20L, "alpha beta gamma")), got(1L).toString)
    assert(got(2L) == ((2L, 21L, 20L, "omega")), got(2L).toString)
    assert(got(3L) == ((3L, 4L, 0L, "totally unique content here")))
    assert(got(4L) == ((4L, 0L, 0L, "")), "empty doc passes through")
  }

  test("jaccard df-cap drops hot shingles: cap=1 kills every shared shingle") {
    val none = Dedup.ngramJaccardPairs(docs, "doc_id", "text", "source",
      n = 3, threshold = 0.01, maxShingleDf = 1)
    assert(none.count() == 0)
    // a generous cap leaves the small corpus's pairs unchanged
    val base = Dedup.ngramJaccardPairs(docs, "doc_id", "text", "source",
      n = 3, threshold = 0.75, maxShingleDf = 1000)
      .as[(Long, Long, Double)].collect().toSet
    val capped = Dedup.ngramJaccardPairs(docs, "doc_id", "text", "source",
      n = 3, threshold = 0.75, maxShingleDf = 100)
      .as[(Long, Long, Double)].collect().toSet
    assert(base == capped)
  }

  test("hamming expression matches scala reference") {
    val r = Seq(("1010", "1001"), ("1111", "1111")).toDF("a", "b")
      .select(Dedup.hamming($"a", $"b")).as[Int].collect().toSeq
    assert(r == Seq(2, 0))
  }

  test("ngram jaccard finds the near-dup pair with correct score, blocks by source") {
    // at 0.75 only the true pairs survive: (1,2) J=1.0 and (3,4) J=11/13;
    // cross pairs like (1,3) share the common suffix at J≈0.53 and are cut
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", "source",
      n = 3, threshold = 0.75)
      .as[(Long, Long, Double)].collect().sortBy(p => (p._1, p._2))
    assert(pairs.map(p => (p._1, p._2)).toSeq == Seq((1L, 2L), (3L, 4L)))
    assert(pairs(0)._3 == 1.0, "identical docs have J=1")
    val j34 = pairs(1)._3
    assert(j34 > 0.8 && j34 < 1.0, s"expected 11/13 = 0.8462, got $j34")
    // lower threshold admits the common-suffix cross pairs (sanity of J calc)
    val loose = Dedup.ngramJaccardPairs(docs, "doc_id", "text", "source",
      n = 3, threshold = 0.5).count()
    assert(loose == 6)
  }

  test("jaccard pair generation: null blocks pair with nothing (SQL join-key " +
    "semantics); id order canonical") {
    val d = Seq(
      (1L, "alpha beta gamma delta", Option("s1")),
      (2L, "alpha beta gamma delta", Option("s1")),
      (3L, "alpha beta gamma delta", Option.empty[String]), // null block
      (4L, "alpha beta gamma delta", Option.empty[String])  // null block
    ).toDF("doc_id", "text", "source")
    val pairs = Dedup.ngramJaccardPairs(d, "doc_id", "text", "source",
      n = 3, threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSeq
    // only (1,2): the two null-block docs must NOT pair (with each other
    // or anyone), exactly like a relational join on a null key
    assert(pairs.map(p => (p._1, p._2)) == Seq((1L, 2L)))
    assert(pairs.head._3 == 1.0)
  }

  test("shingles are distinct, ordered n-grams; short docs yield none") {
    val sh = Dedup.shingles(Seq((9L, "a b")).toDF("doc_id", "text"), "doc_id", "text", 3)
    assert(sh.count() == 0)
    val sh2 = Dedup.shingles(Seq((9L, "a b c d")).toDF("doc_id", "text"), "doc_id", "text", 3)
      .select("shingle").as[String].collect().toSet
    assert(sh2 == Set("a b c", "b c d"))
  }

  test("embedding near-dup: planted parallel vectors found, blocked join bounded") {
    val vecs = Seq(
      (1L, 0, Array(1.0, 0.0, 0.0, 0.0)),
      (2L, 0, Array(0.99, 0.1, 0.0, 0.0)),  // near-dup of 1
      (3L, 0, Array(0.0, 1.0, 0.0, 0.0)),   // orthogonal
      (4L, 1, Array(1.0, 0.0, 0.0, 0.0)))   // same dir but different block
      .toDF("vec_id", "label", "v")
    val pairs = Similarity.nearDupPairs(vecs, "vec_id", "v", "label",
      threshold = 0.9, bands = 1, bitsPerBand = 1)
      .as[(Long, Long, Double)].collect().toSeq
    assert(pairs.map(p => (p._1, p._2)) == Seq((1L, 2L)))
    assert(pairs(0)._3 > 0.99)
  }

  test("fingerprint is whitespace/case-insensitive, content-sensitive") {
    val fp = Seq(("A  Quick\tFox", 1), ("a quick fox", 2), ("a quick cat", 3))
      .toDF("t", "i").select(TextAnalysis.fingerprint($"t")).as[String].collect()
    assert(fp(0) == fp(1) && fp(1) != fp(2))
  }

  test("incremental dedup: exact dup of seen dropped, LSH near-dup of seen " +
    "dropped, novel doc survives") {
    // seen corpus = docs 1,3,5 ; new batch = exact dup of 1, near-dup of 3
    // (shares all but one trailing token), and a novel doc
    val seen = docs.filter($"doc_id".isin(1L, 3L, 5L))
    val newBatch = Seq(
      (11L, "the quick brown fox jumps over the lazy dog near the river bank", "s1"),
      (13L, "a fast crimson fox jumps over the lazy dog near the river bank forever", "s1"),
      (15L, "entirely novel observations on functional programming language design", "s1"))
      .toDF("doc_id", "text", "source")
    val kept = Dedup.incrementalDedup(newBatch, seen, "doc_id", "text")
      .select($"doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(15L), s"got $kept")
  }

  test("incremental dedup via stored signature index: identical survivors " +
    "to the direct path; band partitions on disk") {
    val seen = docs.filter($"doc_id".isin(1L, 3L, 5L))
    val newBatch = Seq(
      (11L, "the quick brown fox jumps over the lazy dog near the river bank", "s1"),
      (13L, "a fast crimson fox jumps over the lazy dog near the river bank forever", "s1"),
      (15L, "entirely novel observations on functional programming language design", "s1"))
      .toDF("doc_id", "text", "source")
    val idx = tmpDir("sigidx")
    Dedup.writeSignatureIndex(seen, "doc_id", "text", idx)
    val viaIndex = Dedup.incrementalDedupAgainstIndex(spark, idx, newBatch,
      "doc_id", "text").select($"doc_id").as[Long].collect().sorted.toSeq
    val direct = Dedup.incrementalDedup(newBatch, seen, "doc_id", "text")
      .select($"doc_id").as[Long].collect().sorted.toSeq
    assert(viaIndex == direct && viaIndex == Seq(15L))
    assert(new java.io.File(s"$idx/bands/band=0").exists(),
      "band index must be partitioned by band")
    // probing with a different shingle width than the index was built
    // with must FAIL, not silently match nothing
    val e = intercept[IllegalArgumentException] {
      Dedup.incrementalDedupAgainstIndex(spark, idx, newBatch,
        "doc_id", "text", n = 5)
    }
    assert(e.getMessage.contains("built with n=3"))
  }

  test("signature-index APPEND: probe after append equals probe of a " +
    "rebuilt-from-scratch index; append refuses a mismatched n") {
    val seenA = docs.filter($"doc_id".isin(1L, 3L))
    val seenB = docs.filter($"doc_id" === 5L)
    val newBatch = Seq(
      (11L, "the quick brown fox jumps over the lazy dog near the river bank", "s1"),
      (13L, "a fast crimson fox jumps over the lazy dog near the river bank forever", "s1"),
      (15L, "entirely novel observations on functional programming language design", "s1"))
      .toDF("doc_id", "text", "source")
    val grown = tmpDir("sigappend")
    Dedup.writeSignatureIndex(seenA, "doc_id", "text", grown)
    Dedup.appendSignatureIndex(spark, grown, seenB, "doc_id", "text")
    val rebuilt = tmpDir("sigrebuild")
    Dedup.writeSignatureIndex(seenA.union(seenB), "doc_id", "text", rebuilt)
    val viaGrown = Dedup.incrementalDedupAgainstIndex(spark, grown, newBatch,
      "doc_id", "text").select($"doc_id").as[Long].collect().sorted.toSeq
    val viaRebuilt = Dedup.incrementalDedupAgainstIndex(spark, rebuilt,
      newBatch, "doc_id", "text")
      .select($"doc_id").as[Long].collect().sorted.toSeq
    assert(viaGrown == viaRebuilt && viaGrown == Seq(15L),
      s"append must be invisible to the probe: $viaGrown vs $viaRebuilt")
    val e = intercept[IllegalArgumentException] {
      Dedup.appendSignatureIndex(spark, grown, seenB, "doc_id", "text", n = 5)
    }
    assert(e.getMessage.contains("built with n=3"))
  }

  test("row-local band keys equal the batch band table doc by doc, in " +
    "band order; null exactly for docs without a signature row") {
    val ds = Seq[(Long, String)](
      (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bend"),
      (3L, "two tokens"),
      (4L, ""),
      (5L, "?! ... -- ;; ,,"),
      (6L, null),
      (7L, "Привет мир как дела сегодня утром"),
      (8L, "naïve café résumé über straße façade déjà vu"))
      .toDF("doc_id", "text")
    val batch: Map[Long, Seq[String]] = Dedup.bucketsFromSignatures(
        Dedup.minhashSignatures(ds, "doc_id", "text", n = 3), "doc_id")
      .collect().toSeq
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("band"),
        r.getAs[String]("band_key")))
      .groupBy(_._1).map { case (id, rs) => id -> rs.sortBy(_._2).map(_._3) }
    // repartition: keep the projection off the local relation so it runs
    // through whole-stage codegen, as on a stream
    val local: Map[Long, Option[Seq[String]]] = ds.repartition(2)
      .select($"doc_id", Dedup.bandKeysLocal($"text", 3).as("bk"))
      .collect().map(r => r.getLong(0) ->
        Option(r.getSeq[String](1)).map(_.toSeq)).toMap
    assert(local.size == 8)
    local.foreach { case (id, keys) =>
      assert(keys == batch.get(id), s"doc $id: local $keys vs batch ${batch.get(id)}")
    }
    assert(batch.values.forall(_.size == 4))
    assert(Set(1L, 2L, 8L).subsetOf(batch.keySet))
    assert(Seq(3L, 4L, 5L, 6L).forall(id => local(id).isEmpty))
  }

  test("row-local band keys run the signature kernel once per row in " +
    "the generated code, not once per band component") {
    val plan = spark.range(4).select(
      Dedup.bandKeysLocal(concat(lit("a b c "), $"id".cast("string")), 3))
      .queryExecution.executedPlan
    val code = org.apache.spark.sql.execution.debug.codegenString(plan)
    assert("MinhashSig\\.build".r.findAllIn(code).length == 1)
  }

  test("star CC under exhausted maxIters: output contract holds — exactly " +
    "one row per node, labels are smallest-reached") {
    // a 6-node chain needs >1 star round; cap at 1 round to force the
    // non-converged exit path
    val chain = (1L to 5L).map(i => (i, i + 1)).toDF("id1", "id2")
    val got = Dedup.dedupClustersStar(chain, maxIters = 1)
      .as[(Long, Long)].collect().toSeq
    assert(got.map(_._1).distinct.size == got.size,
      s"one row per node even without convergence: $got")
    assert(got.size == 6)
    assert(got.forall { case (id, c) => c <= id },
      s"labels must be smallest-REACHED (never above the node id): $got")
  }

  test("cluster keepers: argmax quality per cluster, quality tie -> min id") {
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (8L, 7L))
      .toDF("id", "cluster")
    val quality = Seq((1L, 0.5), (2L, 0.9), (3L, 0.9), (7L, 0.4), (8L, 0.4))
      .toDF("doc_id", "q")
    val got = Dedup.clusterKeepers(clusters, quality, "doc_id", "q")
      .as[(Long, Long, Double, Long)].collect().sortBy(_._1).toSeq
    // cluster 1: 2 and 3 tie at 0.9 -> keeper 2; cluster 7: tie at 0.4 -> 7
    assert(got == Seq((1L, 2L, 0.9, 3L), (7L, 7L, 0.4, 2L)))
    // STRING ids (URL-keyed crawl pipelines) must work too — the argmax
    // is pure aggregates, no arithmetic id negation
    val sClusters = Seq(("u/a", "u/a"), ("u/b", "u/a")).toDF("id", "cluster")
    val sQuality = Seq(("u/a", 0.2), ("u/b", 0.9)).toDF("doc_id", "q")
    val sGot = Dedup.clusterKeepers(sClusters, sQuality, "doc_id", "q")
      .as[(String, String, Double, Long)].collect().toSeq
    assert(sGot == Seq(("u/a", "u/b", 0.9, 2L)))
  }

  test("winnowing: DETERMINISTIC shared-fingerprint guarantee — a span of " +
    "k+w-1 tokens collides at EVERY offset pairing; selection densifies " +
    "below the full hash set") {
    // k=4, w=3 -> guarantee for spans >= 6 tokens, at any offsets
    val span = (1 to 6).map(i => s"z$i").mkString(" ")
    val docs = (0 to 5).map { off =>
      val prefix = (1 to off).map(i => s"f${off}_$i").mkString(" ")
      val suffix = (1 to 4).map(i => s"t${off}_$i").mkString(" ")
      (off.toLong, s"$prefix $span $suffix".trim)
    }
    val got = Dedup.winnowedDupSpans(docs.toDF("doc_id", "text"),
      "doc_id", "text", k = 4, w = 3)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    docs.foreach { case (id, _) =>
      assert(got(id)._3 > 0,
        s"doc $id (offset $id) must share a span fingerprint — the " +
          "winnowing guarantee is deterministic, not probabilistic")
    }
    // density: selected fingerprints are a strict subset of all k-gram
    // hashes for any doc long enough to have multiple selection windows
    val long = Seq((9L, (1 to 40).map(i => s"u$i").mkString(" ")))
      .toDF("doc_id", "text")
    val sel = Dedup.winnowedDupSpans(long, "doc_id", "text", k = 4, w = 3)
      .as[(Long, Long, Long, Double)].collect().head
    assert(sel._2 < 40 - 3, s"selection must densify: ${sel._2} of ${40 - 3}")
    // short docs (< k+w-1 tokens) are absent
    val short = Dedup.winnowedDupSpans(
      Seq((1L, "a b c d e")).toDF("doc_id", "text"), "doc_id", "text", 4, 3)
    assert(short.count() == 0)
  }

  test("winnowing FAST variant: same deterministic guarantee under the " +
    "polynomial Horner hash; selection densifies; short docs absent") {
    val span = (1 to 6).map(i => s"z$i").mkString(" ")
    val docs = (0 to 5).map { off =>
      val prefix = (1 to off).map(i => s"f${off}_$i").mkString(" ")
      val suffix = (1 to 4).map(i => s"t${off}_$i").mkString(" ")
      (off.toLong, s"$prefix $span $suffix".trim)
    }
    val got = Dedup.winnowedDupSpansFast(docs.toDF("doc_id", "text"),
      "doc_id", "text", k = 4, w = 3)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    docs.foreach { case (id, _) =>
      assert(got(id)._3 > 0,
        s"doc $id must share a span fingerprint under the rolling hash " +
          "— the guarantee is hash-agnostic")
    }
    val long = Seq((9L, (1 to 40).map(i => s"u$i").mkString(" ")))
      .toDF("doc_id", "text")
    val sel = Dedup.winnowedDupSpansFast(long, "doc_id", "text", k = 4, w = 3)
      .as[(Long, Long, Long, Double)].collect().head
    assert(sel._2 < 40 - 3, s"selection must densify: ${sel._2}")
    assert(Dedup.winnowedDupSpansFast(
      Seq((1L, "a b c d e")).toDF("doc_id", "text"),
      "doc_id", "text", 4, 3).count() == 0)
  }

  test("substring dup spans: RELOCATED copies of a span collide (content-" +
    "defined anchors, not stride phase); unique docs clean; short docs " +
    "absent; single-doc internal repeats not cross-flagged") {
    val span = (1 to 12).map(i => s"s$i").mkString(" ")
    val d = Seq(
      (1L, s"p1 p2 p3 $span t1 t2"),        // span at token offset 4
      (2L, s"q1 $span u1"),                  // same span at offset 2 — different
                                             // phase mod any stride > 1
      (3L, "v1 v2 v3 v4 v5 v6 v7 v8 v9 v10 v11 v12 v13 v14 v15 v16 v17"),
      (4L, "tiny doc"),                      // < window -> absent
      (5L, "r1 r2 r1 r2 r1 r2 r1 r2 r1 r2 r1 r2 r1 r2 r1 r2 r1 r2"))
      .toDF("doc_id", "text")
    val got = Dedup.substringDupSpans(d, "doc_id", "text",
      window = 4, stride = 2)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L)._3 > 0 && got(2L)._3 > 0,
      "shared span at DIFFERENT offsets must still collide — " +
        "anchors are content-defined, not positional")
    assert(got(3L)._3 == 0, "unique text carries no duplicated windows")
    assert(!got.contains(4L), "docs shorter than the window are absent")
    assert(got(5L)._3 == 0,
      "within-doc repetition alone is not corpus duplication (df counts " +
        "distinct docs)")
    // determinism: same input -> same window counts
    val again = Dedup.substringDupSpans(d, "doc_id", "text", 4, 2)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(again == got)
  }

  test("url dedup: recrawls of one canonical page collapse to the " +
    "freshest capture; ts tie breaks to max id; messy variants unify") {
    val captures = Seq(
      // one page, three captures under URL noise the canonicalizer erases
      (1L, "https://example.com/a?utm_source=x", 100L),
      (2L, "HTTPS://EXAMPLE.com:443/a#frag", 300L),
      (3L, "https://example.com/a/", 200L),
      // second page, two captures at the SAME ts -> max id wins
      (4L, "https://example.com/b", 500L),
      (5L, "https://example.com/b?fbclid=y", 500L),
      // singleton
      (6L, "http://other.net/c", 50L))
      .toDF("doc_id", "url", "crawl_ts")
    val r = Dedup.urlDedup(captures, "doc_id", "url", "crawl_ts")
      .as[(String, Long, Long, Long)].collect().map(x => x._1 -> x).toMap
    assert(r.size == 3, s"three canonical pages, got ${r.keySet}")
    assert(r("https://example.com/a") == (("https://example.com/a", 2L, 300L, 3L)))
    assert(r("https://example.com/b") == (("https://example.com/b", 5L, 500L, 2L)),
      "equal-ts tie must resolve to the max id")
    assert(r("http://other.net/c")._4 == 1L)
  }

  test("snapshot diff: added / removed / changed / unchanged all " +
    "classified by content hash on the url key") {
    val oldSnap = Seq((1L, "same text"), (2L, "will change"), (3L, "gone"))
      .toDF("url_id", "text")
    val newSnap = Seq((1L, "same text"), (2L, "changed text"), (4L, "brand new"))
      .toDF("url_id", "text")
    val r = Dedup.snapshotDiff(oldSnap, newSnap, "url_id", "text")
      .as[(Long, String)].collect().toMap
    assert(r == Map(1L -> "unchanged", 2L -> "changed",
      3L -> "removed", 4L -> "added"))
  }

  test("stored-snapshot diff: equals the direct diff row-for-row, and " +
    "the stored side's scan reads only (key, content_hash) — text bytes " +
    "never opened") {
    val oldSnap = Seq((1L, "same text"), (2L, "will change"), (3L, "gone"))
      .toDF("url_id", "text")
    val newSnap = Seq((1L, "same text"), (2L, "changed text"), (4L, "brand new"))
      .toDF("url_id", "text")
    val path = tmpDir("snap-store")
    Dedup.writeSnapshot(oldSnap, "url_id", "text", path)
    val viaTable = Dedup.snapshotDiffAgainstTable(spark, path, newSnap,
      "url_id", "text")
    val direct = Dedup.snapshotDiff(oldSnap, newSnap, "url_id", "text")
    assert(viaTable.as[(Long, String)].collect().toSet ==
      direct.as[(Long, String)].collect().toSet)
    val plan = viaTable.queryExecution.executedPlan.toString
    val scan = plan.linesIterator.find(_.contains("FileScan")).getOrElse("")
    assert(scan.contains("content_hash") && !scan.contains("text"),
      s"stored-side ReadSchema must prune the text column:\n$scan")
  }

  test("star connected components: equals min-label propagation on the " +
    "minhash candidate graph, resolves a long chain (the diameter case " +
    "label propagation is slow on), and handles stars/singleton edges") {
    // long chain 10-11-...-19: diameter 9, components must still converge
    // (star alternation contracts in O(log n) rounds)
    val chain = (10L to 18L).map(i => (i, i + 1)).toDF("id1", "id2")
    val chainGot = Dedup.dedupClustersStar(chain)
      .as[(Long, Long)].collect().toMap
    assert((10L to 19L).forall(chainGot(_) == 10L),
      s"chain must collapse to min id 10: $chainGot")
    // two disjoint components + reversed edge order
    val multi = Seq((5L, 2L), (2L, 9L), (7L, 8L)).toDF("id1", "id2")
    val multiGot = Dedup.dedupClustersStar(multi)
      .as[(Long, Long)].collect().toMap
    assert(multiGot == Map(2L -> 2L, 5L -> 2L, 9L -> 2L, 7L -> 7L, 8L -> 7L))
    // algorithm equivalence on the real candidate graph
    val pairs = Dedup.minhashCandidates(docs, "doc_id", "text", n = 3)
      .localCheckpoint()
    val viaLabels = Dedup.dedupClusters(pairs)
      .as[(Long, Long)].collect().toSet
    val viaStars = Dedup.dedupClustersStar(pairs)
      .as[(Long, Long)].collect().toSet
    assert(viaStars == viaLabels,
      "large-star/small-star and min-label propagation must agree on the " +
        "same pair graph")
  }
}
