package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.Curation

class CurationSpec extends SparkSuite {
  import spark.implicits._

  test("dup-line fraction: duplicates counted, blank lines ignored, empty -> 0") {
    val d = Seq(
      (1L, "a\nb\na\n\n  \na"), // lines a,b,a,a -> 1 - 2/4 = 0.5
      (2L, "x\ny\nz"),          // all distinct -> 0
      (3L, "")).toDF("doc_id", "text")
    val got = d.select($"doc_id", Curation.dupLineFraction($"text").as("f"))
      .as[(Long, Double)].collect().toMap
    assert(got(1L) == 0.5 && got(2L) == 0.0 && got(3L) == 0.0)
  }

  test("top-bigram fraction: planted repetition dominates") {
    // "the cat the cat the cat" -> bigrams: (the cat)x3, (cat the)x2 -> 3/5
    val d = Seq((1L, "the cat the cat the cat"), (2L, "a"), (3L, "a b c d"))
      .toDF("doc_id", "text")
    val got = Curation.repetitionSignals(d, "doc_id", "text")
      .select($"doc_id", $"top_bigram_frac")
      .as[(Long, Double)].collect().toMap
    assert(got(1L) == 0.6)
    assert(got(2L) == 0.0, "single-token doc has no bigrams -> 0")
    assert(got(3L) == math.floor(1.0 / 3.0 * 10000 + 0.5) / 10000)
  }

  test("PII masking replaces emails and phones, leaves clean text alone") {
    val d = Seq(
      (1L, "mail a.b+c@sub.example.org now"),
      (2L, "call +1 555-123-4567 or 555 987 6543 today"),
      (3L, "nothing sensitive here v1.2 x@y")) // x@y: no TLD -> not an email
      .toDF("doc_id", "text")
    val got = d.select($"doc_id", Curation.maskPii($"text")).as[(Long, String)]
      .collect().toMap
    assert(got(1L) == "mail <EMAIL> now")
    assert(got(2L) == "call <PHONE> or <PHONE> today")
    assert(got(3L) == "nothing sensitive here v1.2 x@y")
  }

  test("stratified sample is deterministic and roughly honors per-stratum rates") {
    val d = (1L to 4000L).map(i => (i, if (i % 2 == 0) "hi" else "lo"))
      .toDF("doc_id", "source")
    val rate = when($"source" === "hi", 50L).otherwise(10L)
    val keep = d.filter(Curation.stratifiedSampleFilter($"source", $"doc_id", rate))
    val again = d.filter(Curation.stratifiedSampleFilter($"source", $"doc_id", rate))
    assert(keep.as[(Long, String)].collect().sorted.toSeq ==
      again.as[(Long, String)].collect().sorted.toSeq, "deterministic")
    val bySrc = keep.groupBy($"source").count().as[(String, Long)].collect().toMap
    // 2000 per stratum; binomial 3-sigma bounds
    assert(math.abs(bySrc("hi") - 1000) < 120, s"hi kept ${bySrc("hi")}")
    assert(math.abs(bySrc("lo") - 200) < 90, s"lo kept ${bySrc("lo")}")
  }

  test("token chunking: coverage, overlap, tail shortening") {
    val text = (1 to 100).map(i => s"t$i").mkString(" ")
    val d = Seq((1L, text), (2L, "only three tokens"), (3L, " ")).toDF("doc_id", "text")
    val chunks = Curation.tokenChunks(d, "doc_id", "text", chunkSize = 10, overlap = 2)
      .orderBy("doc_id", "chunk_idx")
      .as[(Long, Long, Long, String, Long)].collect()
    val doc1 = chunks.filter(_._1 == 1L)
    // starts 1,9,...,97 (step 8, last start <= 100-2=98) -> 13 chunks
    assert(doc1.length == 13)
    assert(doc1.head._4.startsWith("t1 t2") && doc1.head._5 == 10)
    assert(doc1.last._3 == 97 && doc1.last._4 == "t97 t98 t99 t100" && doc1.last._5 == 4)
    // consecutive chunks overlap by exactly 2 tokens
    val w1 = doc1(0)._4.split(" "); val w2 = doc1(1)._4.split(" ")
    assert(w1.takeRight(2).toSeq == w2.take(2).toSeq)
    // every token covered exactly: union of de-overlapped chunks == doc
    val rebuilt = doc1.head._4.split(" ").toSeq ++
      doc1.tail.toSeq.flatMap(c => c._4.split(" ").drop(2).toSeq)
    assert(rebuilt == (1 to 100).map(i => s"t$i"))
    assert(chunks.count(_._1 == 2L) == 1, "short doc -> single chunk")
    assert(!chunks.exists(_._1 == 3L), "token-less doc dropped")
  }

  test("contamination: doc sharing an 8-gram with the benchmark is flagged") {
    val gram = "one two three four five six seven eight"
    val docs = Seq(
      (10L, s"prefix words $gram suffix words here"),
      (11L, "totally unrelated content with no overlap at all whatsoever today"))
      .toDF("doc_id", "text")
    val bench = Seq((1L, s"benchmark text containing $gram inside"))
      .toDF("doc_id", "text")
    val got = Curation.contamination(docs, "doc_id", "text", bench, n = 8)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((10L, 1L, 1L)))
  }

  test("property: chunk windows cover every token exactly, at all boundary sizes") {
    val sizes = Seq(1, 2, 8, 9, 10, 11, 17, 18, 19, 47, 48, 49, 96, 97, 200, 1000)
    val d = sizes.zipWithIndex
      .map { case (n, i) => (i.toLong, (1 to n).map(j => s"w$j").mkString(" ")) }
      .toDF("doc_id", "text")
    val byDoc = Curation.tokenChunks(d, "doc_id", "text", chunkSize = 10, overlap = 2)
      .as[(Long, Long, Long, String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    sizes.zipWithIndex.foreach { case (n, i) =>
      val cs = byDoc(i.toLong)
      // de-overlapped concatenation reconstructs the doc exactly
      val rebuilt = cs.head._4.split(" ").toSeq ++
        cs.tail.toSeq.flatMap(c => c._4.split(" ").drop(2).toSeq)
      assert(rebuilt == (1 to n).map(j => s"w$j"), s"size $n")
      // every chunk holds [1, 10] tokens and n_tokens is truthful
      cs.foreach(c => assert(c._5 >= 1 && c._5 <= 10 &&
        c._4.split(" ").length == c._5, s"size $n chunk ${c._2}"))
    }
  }

  test("property: maskPii is idempotent (masking a masked text is a no-op)") {
    val rnd = new scala.util.Random(7)
    val words = Seq("alpha", "beta", "a@b.co", "x.y@mail-host.org",
      "+44 20 7946 0958", "555-123-4567", "12345678901", "v1.2", "<EMAIL>")
    val texts = (1 to 200).map(_ =>
      (1 to 8).map(_ => words(rnd.nextInt(words.length))).mkString(" "))
    val once = texts.toDF("t").select(Curation.maskPii($"t").as("m"))
    val twice = once.select(Curation.maskPii($"m").as("m"))
    assert(once.as[String].collect().toSeq == twice.as[String].collect().toSeq)
  }

  test("property: stratified sample is monotone in rate (20% keep-set ⊆ 50%)") {
    val d = (1L to 2000L).map(i => (i, s"src${i % 7}")).toDF("doc_id", "source")
    def kept(rate: Long) =
      d.filter(Curation.stratifiedSampleFilter($"source", $"doc_id", lit(rate)))
        .as[(Long, String)].collect().map(_._1).toSet
    assert(kept(20).subsetOf(kept(50)))
    assert(kept(0).isEmpty && kept(100).size == 2000)
  }

  test("cosine_sim is registered as a SQL function via GraftExtensions") {
    val r = spark.sql(
      "SELECT cosine_sim(array(1.0d, 2.0d, 3.0d), array(4.0d, 5.0d, 6.0d)) AS c")
      .as[Double].collect()(0)
    val exp = 32.0 / (math.sqrt(14.0) * math.sqrt(77.0))
    assert(math.abs(r - exp) < 1e-12)
  }

  test("paragraph dedup: globally-first chunk survives, later copies drop") {
    // 4-token chunks; doc 1 = [A B], doc 2 = [B C], doc 3 = [A]
    // first-occurrence rule: doc1 keeps both, doc2 keeps C only (B first
    // seen in doc1), doc3 keeps nothing (A first seen in doc1)
    val a = "alpha beta gamma delta"
    val b = "epsilon zeta eta theta"
    val c = "iota kappa lambda mu"
    val d = Seq((1L, s"$a $b"), (2L, s"$b $c"), (3L, a)).toDF("doc_id", "text")
    val got = Curation.paragraphDedup(d, "doc_id", "text", chunkTokens = 4)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, 2L, 2L, 1.0), (2L, 2L, 1L, 0.5), (3L, 1L, 0L, 0.0)))
  }

  test("gopher signals: mean word length, planted symbols, alpha fraction, gate") {
    val d = Seq(
      (1L, "solid normal words here"),        // keep: ml=5, sym=0, alpha=1
      (2L, "## ### #### ...... text"),        // symbol-heavy, mostly non-alpha
      (3L, "ab xy if at no up")).toDF("doc_id", "text") // ml=2 -> below band
    val got = d.select($"doc_id", Curation.gopherStruct($"text").as("g"))
      .select($"doc_id", $"g.mean_word_len", $"g.symbol_ratio",
        $"g.alpha_word_frac", $"g.gopher_keep")
      .as[(Long, Double, Double, Double, Boolean)]
      .collect().map(r => r._1 -> r).toMap
    assert(got(1L)._2 == 5.0 && got(1L)._3 == 0.0 && got(1L)._4 == 1.0 && got(1L)._5)
    assert(got(2L)._3 > 0.1 && !got(2L)._5) // 9 '#' + 2 '...' over 1 token
    assert(got(3L)._2 == 2.0 && !got(3L)._5)
  }

  test("weighted sample: p=0 drops all, p=1 keeps all, monotone in weight, " +
    "rate tracks the weight") {
    val d = (1L to 4000L).toDF("doc_id")
    def kept(bp: Long) =
      d.filter(Curation.weightedSampleFilter($"doc_id", lit(bp)))
        .as[Long].collect().toSet
    assert(kept(0).isEmpty && kept(10000).size == 4000)
    assert(kept(3000).subsetOf(kept(7000)))
    assert(math.abs(kept(2500).size - 1000) < 140, s"got ${kept(2500).size}")
  }

  test("ngram doc-frequency top-k: counts distinct docs, deterministic ties") {
    val d = Seq(
      (1L, "shared phrase here and more stuff"),
      (2L, "shared phrase here again today"),
      (3L, "shared phrase here yet again")).toDF("doc_id", "text")
    val top = Curation.ngramDocFreqTopK(d, "doc_id", "text", n = 3, k = 2)
      .as[(String, Long)].collect().toSeq
    assert(top.head == ("shared phrase here", 3L))
    assert(top(1)._2 < 3L) // every other trigram appears in fewer docs
  }

  test("domain stats: ntile size buckets follow total tokens, integer outputs") {
    val d = Seq(
      (1L, "a b c d e f", "big"), (2L, "g h i j k l", "big"),
      (3L, "m n o", "mid"), (4L, "p q", "small"))
      .toDF("doc_id", "text", "source")
    val got = Curation.domainStats(d, "source", "text")
      .select($"source", $"n_docs", $"total_tokens", $"size_bucket")
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got("big") == (("big", 2L, 12L, 1L)))
    assert(got("mid") == (("mid", 1L, 3L, 2L)))
    assert(got("small") == (("small", 1L, 2L, 3L)))
  }

  test("sequence packing: bins fill in id order per group, docs straddle " +
    "boundaries, groups pack independently") {
    val d = Seq(
      (1L, "a b c d e f", "g1"),   // 6 tokens, prefix 0  -> bin 0 off 0
      (2L, "g h i j k", "g1"),     // 5 tokens, prefix 6  -> bin 0 off 6
      (3L, "l m n o", "g1"),       // 4 tokens, prefix 11 -> bin 1 off 3 (straddle)
      (9L, "x y z", "g2")).toDF("doc_id", "text", "source") // fresh group
    val got = Curation.sequencePack(d, "doc_id", "text", "source", capacity = 8)
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._2 -> ((r._3, r._4, r._5))).toMap
    assert(got(1L) == ((6L, 0L, 0L)))
    assert(got(2L) == ((5L, 0L, 6L)))
    assert(got(3L) == ((4L, 1L, 3L)))
    assert(got(9L) == ((3L, 0L, 0L)), "second group starts at bin 0")
  }

  test("length histogram: log2 buckets are bit lengths, stats per bucket") {
    val d = Seq((1L, "a"), (2L, "a b"), (3L, "a b c"), (4L, (1 to 8).map("t" + _).mkString(" ")))
      .toDF("doc_id", "text")
    val got = Curation.lengthHistogram(d, "text")
      .as[(Long, Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 1L, 1L, 1L, 1L)))      // ntok 1 -> bucket 1
    assert(got(2L) == ((2L, 2L, 2L, 3L, 5L)))      // ntok 2,3 -> bucket 2
    assert(got(4L) == ((4L, 1L, 8L, 8L, 8L)))      // ntok 8 -> bucket 4
  }

  test("URL canonicalization: each rule fires; idempotent; clean URL unchanged") {
    val cases = Seq(
      (1L, "HTTPS://Ex.COM:443/A/b?utm_source=x&q=1&fbclid=z#top",
        "https://ex.com/A/b?q=1"),
      (2L, "http://h.io:80/p/", "http://h.io/p"),
      (3L, "https://h.io/?utm_medium=m", "https://h.io"),
      (4L, "https://h.io/a?gclid=g&utm_a=1", "https://h.io/a"),
      (5L, "https://clean.example.org/path?q=2", "https://clean.example.org/path?q=2"),
      // '&' in the PATH is data, not a parameter separator: no surgery
      (6L, "https://ex.com/a&b=c", "https://ex.com/a&b=c"),
      (7L, "https://ex.com/x&gclid=1/page?q=2", "https://ex.com/x&gclid=1/page?q=2"),
      // trailing slash drops from the path even when a query survives
      (8L, "https://h.io/p/?q=1", "https://h.io/p?q=1"),
      // consecutive tracking params all go, in one pass
      (9L, "https://h.io/a?utm_a=1&utm_b=2&q=3", "https://h.io/a?q=3"))
      .toDF("id", "url", "want")
    val got = cases.select($"id", Curation.normalizeUrl($"url").as("c"),
      Curation.normalizeUrl(Curation.normalizeUrl($"url")).as("cc"), $"want")
      .as[(Long, String, String, String)].collect()
    got.foreach { case (id, c, cc, want) =>
      assert(c == want, s"case $id: got $c want $want")
      assert(cc == c, s"case $id not idempotent: $c -> $cc")
    }
  }

  test("split assignment: bands are exhaustive, deterministic, and sized " +
    "to the percentages") {
    val d = (1L to 10000L).toDF("doc_id")
    val got = d.select(Curation.splitAssign($"doc_id").as("s"))
      .groupBy($"s").count().as[(String, Long)].collect().toMap
    assert(got.keySet == Set("train", "val", "test"))
    assert(got.values.sum == 10000L)
    assert(math.abs(got("train") - 9800) < 150, s"train ${got("train")}")
    assert(got("val") > 30 && got("val") < 250, s"val ${got("val")}")
    assert(got("test") > 30 && got("test") < 250, s"test ${got("test")}")
  }

  test("token budget: admission in id order, crossing doc admitted, " +
    "groups capped independently") {
    val d = Seq(
      (1L, "a b c d", "g1"),  // prefix 0  < 6 -> in
      (2L, "e f g", "g1"),    // prefix 4  < 6 -> in (crosses the budget)
      (3L, "h i", "g1"),      // prefix 7  >= 6 -> out
      (9L, "x y z", "g2")).toDF("doc_id", "text", "source")
    val kept = Curation.tokenBudgetFilter(d, "doc_id", "text", "source", 6L)
      .select($"doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 2L, 9L))
  }

  test("top-k per group: rank order respected, ties broken by id, " +
    "small groups kept whole") {
    val d = Seq(
      (1L, "g1", 0.9), (2L, "g1", 0.5), (3L, "g1", 0.9), (4L, "g1", 0.1),
      (9L, "g2", 0.3)).toDF("id", "g", "q")
    val got = Curation.topKPerGroup(d, "g", 2, $"q".desc, $"id".asc)
      .select($"id").as[Long].collect().sorted.toSeq
    assert(got == Seq(1L, 3L, 9L)) // g1: 0.9-tie -> ids 1,3; g2: all 1 doc
  }

  test("source overlap: shared shingles counted per unordered pair, " +
    "everywhere-shingles capped out") {
    val common = "one two three" // trigram shared by all three sources
    val d = Seq(
      (1L, s"$common apple pie", "s1"), (2L, s"$common apple pie", "s2"),
      (3L, common, "s3")).toDF("doc_id", "text", "source")
    val all = Curation.sourceOverlap(d, "source", "text", n = 3)
      .as[(String, String, Long)].collect().toSet
    // s1/s2 share 4 trigrams ("one two three","two three apple",
    // "three apple pie" + "apple pie"? no — distinct trigrams only):
    // tokens = one two three apple pie -> trigrams OTT, TTA, TAP... check:
    assert(all.contains(("s1", "s2", 3L)))
    assert(all.contains(("s1", "s3", 1L)) && all.contains(("s2", "s3", 1L)))
    // maxSources=2 drops the everywhere-trigram: s1/s3 and s2/s3 vanish
    val capped = Curation.sourceOverlap(d, "source", "text", n = 3,
      maxSources = 2).as[(String, String, Long)].collect().toSet
    assert(capped == Set(("s1", "s2", 2L)))
  }

  test("unigram LM score: common-token docs score lower than rare-token " +
    "docs, OOV floor applies below minCount, token-less docs absent") {
    // corpus: "the" x 6, "cat" x 2, "zyx" x 1 (below minCount=2 -> OOV)
    val d = Seq(
      (1L, "the the the"), (2L, "the the the"),   // only head tokens
      (3L, "cat cat zyx"),                         // rare + OOV
      (4L, "")).toDF("doc_id", "text")             // token-less -> absent
    val got = Curation.unigramLmScore(d, "doc_id", "text", minCount = 2L)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(!got.contains(4L))
    assert(got(1L) == got(2L), "identical docs score identically")
    // total = 9; p(the)=6/9, p(cat)=2/9, p(zyx)-> OOV count 1 -> 1/9
    val pr = (x: Double) => math.floor(x * 10000 + 0.5) / 10000
    assert(got(1L) == (3L, pr(-math.log(6.0 / 9))))
    assert(got(3L) == (3L,
      pr((-2 * math.log(2.0 / 9) - math.log(1.0 / 9)) / 3)))
    assert(got(3L)._2 > got(1L)._2, "rare-token doc is higher surprisal")
  }

  test("bigram LM with stupid-backoff: attested transitions use the " +
    "conditional, first tokens and unseen pairs back off to 0.4x unigram") {
    // uni: a=3 b=3 c=1 (c < minCount -> OOV); total=7
    // bi (minCount 2): "a b"=2, "b a"=2
    val d = Seq((1L, "a b a b"), (2L, "b a"), (3L, "c"))
      .toDF("doc_id", "text")
    val got = Curation.bigramLmScore(d, "doc_id", "text", minCount = 2L)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val pr = (x: Double) => math.floor(x * 10000 + 0.5) / 10000
    val ln = (x: Double) => math.log(x)
    // doc2 = [b, a]: first token backoff 0.4*3/7; then p(a|b)=bc/uc(b)=2/3
    assert(got(2L) == (2L, pr((-ln(0.4 * 3.0 / 7) - ln(2.0 / 3)) / 2)))
    // doc3 = [c]: OOV floor -> 0.4 * 1/7
    assert(got(3L) == (1L, pr(-ln(0.4 * 1.0 / 7))))
    // doc1 = [a b a b]: backoff(a) then three attested 2/3 transitions
    assert(got(1L) == (4L,
      pr((-ln(0.4 * 3.0 / 7) - 3 * ln(2.0 / 3)) / 4)))
    assert(got(3L)._2 > got(1L)._2, "word salad scores higher surprisal")
  }

  test("source token drift: hand-computed KL values, non-negativity, and " +
    "zero divergence when one source IS the corpus") {
    val d = Seq((1L, "a a b", "s1"), (2L, "a b b b", "s2"))
      .toDF("doc_id", "text", "source")
    val got = Curation.sourceTokenDrift(d, "source", "text")
      .as[(String, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    val pr = (x: Double) => math.floor(x * 10000 + 0.5) / 10000
    // corpus: a=3, b=4, total 7; s1: a=2,b=1 of 3; s2: a=1,b=3 of 4
    val kl1 = 2.0 / 3 * math.log((2.0 / 3) / (3.0 / 7)) +
      1.0 / 3 * math.log((1.0 / 3) / (4.0 / 7))
    val kl2 = 1.0 / 4 * math.log((1.0 / 4) / (3.0 / 7)) +
      3.0 / 4 * math.log((3.0 / 4) / (4.0 / 7))
    assert(got("s1") == (3L, pr(kl1)) && got("s2") == (4L, pr(kl2)))
    assert(got.values.forall(_._2 >= 0), "Gibbs: KL is non-negative")
    val solo = Curation.sourceTokenDrift(
      Seq((1L, "x y x", "sA")).toDF("doc_id", "text", "source"),
      "source", "text").as[(String, Long, Double)].collect()
    assert(solo.toSeq == Seq(("sA", 3L, 0.0)),
      "a lone source coincides with the corpus -> zero drift")
  }

  test("feature hashing: deterministic buckets in range, duplicate tokens " +
    "accumulate signed weight, disjoint docs hash independently") {
    val d = Seq((1L, "alpha alpha beta"), (2L, "alpha alpha beta"),
      (3L, "gamma")).toDF("doc_id", "text")
    val rows = Curation.hashFeaturize(d, "doc_id", "text", dim = 16)
      .as[(Long, Long, Long)].collect()
    assert(rows.forall(r => r._2 >= 0 && r._2 < 16), "buckets in [0, dim)")
    val byDoc = rows.groupBy(_._1)
    assert(byDoc(1L).toSet == byDoc(2L).toSet.map((t: (Long, Long, Long)) =>
      (1L, t._2, t._3)), "identical text -> identical sparse vector")
    // alpha appears twice: its bucket's |weight| is 2 unless beta collides
    assert(byDoc(1L).map(r => math.abs(r._3)).sum <= 3,
      "total |weight| bounded by token count")
    assert(byDoc(3L).length == 1 && math.abs(byDoc(3L).head._3) == 1)
  }

  test("BPE pair top-k: adjacent-pair occurrences counted across docs, " +
    "deterministic tie order, single-token docs contribute nothing") {
    val d = Seq(
      (1L, "a b a b"),   // pairs: "a b" x2, "b a" x1
      (2L, "a b c"),     // "a b", "b c"
      (3L, "z")).toDF("doc_id", "text")
    val got = Curation.bpePairTopK(d, "doc_id", "text", k = 10)
      .as[(String, Long)].collect().toSeq
    assert(got == Seq(("a b", 3L), ("b a", 1L), ("b c", 1L)),
      "count desc then pair asc; the z doc yields no pairs")
    val top1 = Curation.bpePairTopK(d, "doc_id", "text", k = 1)
      .as[(String, Long)].collect().toSeq
    assert(top1 == Seq(("a b", 3L)), "k bounds the output")
  }

  test("BPE training: hand-computed 2-round case — merge applied, pairs " +
    "re-counted over the fused arrays") {
    val d = Seq((1L, "a b a b c"), (2L, "a b x")).toDF("doc_id", "text")
    // r1: (a,b) x3 wins; doc1 -> [a b, a b, c], doc2 -> [a b, x]
    // r2: all pairs count 1 -> tie broken (t1, t2) asc: ("a b","a b")
    val got = Curation.bpeTrain(d, "doc_id", "text", iters = 2)
      .as[(Long, String, String, Long)].collect().toSeq
    assert(got == Seq((1L, "a", "b", 3L), (2L, "a b", "a b", 1L)), got.toString)
  }

  test("BPE training: greedy left-to-right overlap — in a run of " +
    "candidates the 1st, 3rd, ... merge") {
    val d = Seq((1L, "a a a a a")).toDF("doc_id", "text")
    // r1: (a,a) x4 -> greedy: [a a, a a, a]
    // r2 pairs: ("a a","a a") x1, ("a a","a") x1 -> tie: t2 "a" < "a a"
    val got = Curation.bpeTrain(d, "doc_id", "text", iters = 2)
      .as[(Long, String, String, Long)].collect().toSeq
    assert(got == Seq((1L, "a", "a", 4L), (2L, "a a", "a", 1L)), got.toString)
  }

  test("BPE encode: ordered merges applied greedily, pass-through and " +
    "overlap runs hand-computed") {
    val d = Seq(
      (1L, "a a a b c"),   // m1 (a,a): [a a, a, b, c]; m2 (a,b): [a a, a b, c]
      (2L, "a a a a a"),   // m1 greedy alternation: [a a, a a, a]; m2 no-op
      (3L, "x"),           // 1 token, no merges apply — pass-through
      (4L, "b a b")).toDF("doc_id", "text") // m2 merges trailing (a,b) only
    val got = Curation.bpeEncode(d, "doc_id", "text",
      Seq(("a", "a"), ("a", "b")))
      .as[(Long, String, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) == (("a a|a b|c", 3L)), got(1L).toString)
    assert(got(2L) == (("a a|a a|a", 3L)), got(2L).toString)
    assert(got(3L) == (("x", 1L)))
    assert(got(4L) == (("b|a b", 2L)))
    // encode(train's merges) reproduces train's internal fold: the round-2
    // winner from the hand-computed bpeTrain case must be mergeable here
    val merges = Curation.bpeTrain(d, "doc_id", "text", iters = 1)
      .as[(Long, String, String, Long)].collect()
      .map(m => (m._2, m._3)).toSeq
    val enc = Curation.bpeEncode(d, "doc_id", "text", merges)
      .as[(Long, String, Long)].collect().map(r => r._1 -> r._2).toMap
    assert(enc(2L) == "a a|a a|a", "train+encode agree on the overlap run")
  }

  test("BPE encode: native expression == StringReplace chain at depth 128, " +
    "and the expression survives a production-shaped 512-merge list") {
    // deterministic 40-doc corpus over a 64-word vocab, long repeat runs
    val docs = (1L to 40L).map { i =>
      val toks = (0 until 120).map(j => s"w${(i * 31 + j * 17) % 64}")
      (i, toks.mkString(" "))
    }.toDF("doc_id", "text")
    // depth 128: first-order pairs then second-order pairs, all can fire
    val m128 = (0 until 32).map(i => (s"w${2 * i}", s"w${2 * i + 1}")) ++
      (0 until 96).map { i =>
        val a = (i * 4) % 64; (s"w$a w${a + 1}", s"w${(a + 2) % 64}")
      }
    val viaExpr = Curation.bpeEncode(docs, "doc_id", "text", m128)
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    val viaChain = Curation.bpeEncodeChain(docs, "doc_id", "text", m128)
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(viaExpr == viaChain,
      "expression and chain must agree token-for-token at depth 128")
    // 512 merges: the depth that StackOverflowed the chain's analysis
    // (BENCH.md §7) — the expression must plan and run unchanged
    val m512 = (0 until 512).map { i =>
      (s"w${(2 * i) % 64} w${(2 * i + 1) % 64}", s"w${(3 * i) % 64}")
    }
    val deep = Curation.bpeEncode(docs, "doc_id", "text", m128 ++ m512)
    assert(deep.queryExecution.executedPlan.toString.nonEmpty) // analysis ok
    val n = deep.agg(sum($"n_tokens")).as[Long].head()
    assert(n > 0 && n <= 40L * 120, s"token conservation bound: $n")
  }

  test("salted and adaptive top-k per group match the single-window path " +
    "exactly, ties included") {
    val d = (1L to 300L).map { i =>
      val g = if (i <= 200) "big" else if (i <= 280) "mid" else "small"
      (i, g, (i % 7).toDouble) // heavy quality ties -> id tiebreak matters
    }.toDF("doc_id", "source", "q")
    val order = Seq($"q".desc, $"doc_id".asc)
    val base = Curation.topKPerGroup(d, "source", 5, order: _*)
      .select($"doc_id").as[Long].collect().sorted.toSeq
    for (salt <- Seq(1, 3, 8)) {
      val salted = Curation.topKPerGroupSalted(d, "source", $"doc_id",
        salt, 5, order: _*)
        .select($"doc_id").as[Long].collect().sorted.toSeq
      assert(salted == base, s"salt=$salt diverged")
    }
    val adaptive = Curation.topKPerGroupAdaptive(d, "source", $"doc_id",
      salt = 4, k = 5, threshold = 100L, order: _*)
      .select($"doc_id").as[Long].collect().sorted.toSeq
    assert(adaptive == base, "adaptive dispatch diverged")
  }

  test("per-source calibration: percent rank within source, ties share, " +
    "singleton source pins to 0") {
    val d = Seq(
      (1L, "a", 0.1), (2L, "a", 0.5), (3L, "a", 0.5), (4L, "a", 0.9),
      (5L, "b", 0.7), (6L, "b", 0.2), (7L, "c", 0.3))
      .toDF("doc_id", "source", "q")
    val got = Curation.calibrateScores(d, "source", "q")
      .select($"doc_id", $"calibrated")
      .as[(Long, Double)].collect().toMap
    assert(got(1L) == 0.0 && got(4L) == 1.0)
    assert(got(2L) == 0.3333 && got(3L) == 0.3333, "ties share the rank")
    assert(got(6L) == 0.0 && got(5L) == 1.0)
    assert(got(7L) == 0.0, "singleton source calibrates to 0 by definition")
  }

  test("unigram LM topK: a cut at/above the kept-vocab size is a no-op; " +
    "a tight cut floors more tokens to OOV (scores rise)") {
    val d = (1L to 50L).map(i =>
      (i, s"alpha beta gamma tok${i % 5} rare$i")).toDF("doc_id", "text")
    val full = Curation.unigramLmScore(d, "doc_id", "text")
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    val bounded = Curation.unigramLmScore(d, "doc_id", "text",
      topK = Some(100000))
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(bounded == full, "large topK must not change the model")
    val tight = Curation.unigramLmScore(d, "doc_id", "text", topK = Some(2))
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    val fullMap = full.map(r => r._1 -> r._3).toMap
    assert(tight.forall { case (id, s) => s >= fullMap(id) },
      "cutting vocab can only raise surprisal (more OOV floors)")
  }

  test("DSIR: target-like docs outweigh off-domain docs; Gumbel top-k is " +
    "deterministic and bounded") {
    // target domain (src t) speaks 'alpha'; the raw corpus bulk (src r)
    // speaks 'beta'. An unlabeled doc full of 'alpha' must score higher
    // than one full of 'beta'.
    val docs = (
      (1L to 5L).map(i => (i, "t", "alpha alpha alpha")) ++
      (6L to 20L).map(i => (i, "r", "beta beta beta")) ++
      Seq((21L, "r", "alpha alpha alpha"), (22L, "r", "beta beta beta"))
    ).toDF("doc_id", "source", "text")
    val w = Curation.dsirWeights(docs, "doc_id", "text",
      isTarget = $"source" === "t", dim = 64)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(w(21L) > w(22L),
      s"alpha doc must look target-like: ${w(21L)} vs ${w(22L)}")
    assert(w(21L) > 0 && w(22L) < 0,
      "log-ratio sign separates in-domain from off-domain")
    val s1 = Curation.dsirSample(
      Curation.dsirWeights(docs, "doc_id", "text", $"source" === "t", 64),
      "doc_id", k = 10).as[(Long, Double, Double)].collect().toSeq
    val s2 = Curation.dsirSample(
      Curation.dsirWeights(docs, "doc_id", "text", $"source" === "t", 64),
      "doc_id", k = 10).as[(Long, Double, Double)].collect().toSeq
    assert(s1 == s2, "hash-derived Gumbel noise is deterministic")
    assert(s1.size == 10 && s1.map(_._3) == s1.map(_._3).sorted.reverse,
      "top-k by gumbel_score desc")
  }

  test("Gopher repetition suite: hand-computed top/dup fractions per n, " +
    "short docs zero-filled") {
    val d = Seq(
      (1L, "the cat the cat the cat"), // 2-grams: (the cat)x3,(cat the)x2
      (2L, "a b c a b c d"),           // 3-grams: (a b c)x2 of 5 total
      (3L, "x y")).toDF("doc_id", "text") // no 3- or 4-grams
    val got = Curation.repetitionSuite(d, "doc_id", "text", ns = Seq(2, 3, 4))
      .as[(Long, Double, Double, Double, Double, Double, Double)]
      .collect().map(r => r._1 -> r).toMap
    def r4(x: Double) = math.floor(x * 10000.0 + 0.5) / 10000.0
    // doc1 n=2: top (the cat)=3/5, dup mass = 5/5 (both grams repeat)
    assert(got(1L)._2 == 0.6 && got(1L)._3 == 1.0)
    // doc1 n=3: grams (the cat the)x2,(cat the cat)x2 of 4 -> top 0.5 dup 1.0
    assert(got(1L)._4 == 0.5 && got(1L)._5 == 1.0)
    // doc2 n=3: (a b c)x2 of 5 -> top 0.4, dup 0.4
    assert(got(2L)._4 == r4(2.0 / 5) && got(2L)._5 == r4(2.0 / 5))
    // doc2 n=2: (a b)x2,(b c)x2,(c a),(c d) of 6 -> top 2/6, dup 4/6
    assert(got(2L)._2 == r4(2.0 / 6) && got(2L)._3 == r4(4.0 / 6))
    // doc3: one 2-gram (top=dup-less), zero 3-/4-gram rows -> 0.0 fill
    assert(got(3L)._2 == 1.0 && got(3L)._3 == 0.0)
    assert(got(3L)._4 == 0.0 && got(3L)._6 == 0.0)
  }

  test("line signals + line dedup: hand-computed fractions; first " +
    "occurrence kept in document order; empty and separator-only docs") {
    val d = Seq(
      (1L, "nav bar\nreal content here\nnav bar\nfooter"),
      (2L, "only one line"),
      (3L, "\n\n"),
      (4L, "a\nbb\nccc\na")).toDF("doc_id", "text")
    val sig = Curation.lineSignals(d, "doc_id", "text", shortLen = 3)
      .as[(Long, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    // doc1: 4 lines, 1 dup, mean len (7+17+7+6)/4 = 9.25, none < 3
    assert(sig(1L) == ((1L, 4L, 0.25, 9.25, 0.0)))
    assert(sig(2L) == ((2L, 1L, 0.0, 13.0, 0.0)))
    assert(sig(3L) == ((3L, 0L, 0.0, 0.0, 0.0)), "separator-only doc")
    // doc4: 4 lines, dup 'a'; short (<3): 'a','bb','a' = 3/4
    assert(sig(4L) == ((4L, 4L, 0.25, 1.75, 0.75)))
    val clean = d.select($"doc_id",
        Curation.dedupLinesText($"text").as("c"))
      .as[(Long, String)].collect().toMap
    assert(clean(1L) == "nav bar\nreal content here\nfooter",
      "first occurrence kept, order preserved")
    assert(clean(3L) == "")
    assert(clean(4L) == "a\nbb\nccc")
  }

  test("temperature sampling: rarest source keeps everything, head source " +
    "thinned toward n^alpha; alpha=1 is a no-op") {
    // head source: 60 docs x 10 tokens; tail: 3 docs x 10 tokens
    val docs = ((1L to 60L).map(i => (i, "head", Seq.fill(10)("w").mkString(" "))) ++
      (61L to 63L).map(i => (i, "tail", Seq.fill(10)("w").mkString(" "))))
      .toDF("doc_id", "source", "text")
    val kept = Curation.temperatureSample(docs, "doc_id", "text", "source",
      alpha = 0.5).as[(Long, String, Long)].collect()
    val bySrc = kept.groupBy(_._2).view.mapValues(_.length).toMap
    assert(bySrc("tail") == 3, "rarest source keeps every doc (rate 10000 bp)")
    assert(kept.filter(_._2 == "tail").forall(_._3 == 10000L))
    // head rate = sqrt(30/600)=sqrt(1/20)=0.2236 -> 2236 bp; accepted
    // count is hash-determined but must be well below 60 and nonzero
    val headRate = kept.find(_._2 == "head").map(_._3)
    assert(headRate.contains(2236L), s"head rate: $headRate")
    assert(bySrc("head") > 0 && bySrc("head") < 30)
    val all = Curation.temperatureSample(docs, "doc_id", "text", "source",
      alpha = 1.0).count()
    assert(all == 63, "alpha=1 keeps the natural mixture intact")
  }

  test("domain blocklist: entry blocks itself and every subdomain, not " +
    "lookalike TLDs; multi-match hosts emit once") {
    val docs = Seq(
      (1L, "example.com"),          // exact
      (2L, "ads.example.com"),      // subdomain
      (3L, "www.ads.example.com"),  // deeper subdomain
      (4L, "example.org"),          // different TLD - kept
      (5L, "notexample.com"),       // suffix of the STRING but not a label
      (6L, "bad.net")).toDF("doc_id", "host")
    val blocked = Seq("example.com", "bad.net", "ads.example.com")
      .toDF("pattern")
    val got = Curation.domainBlocklist(docs, "doc_id", "host", blocked)
      .as[(Long, String)].collect().map(_._1).sorted.toSeq
    assert(got == Seq(1L, 2L, 3L, 6L),
      s"label-boundary wildcard semantics: $got")
  }

  test("normalizeText: CRLF folded, controls stripped, space runs " +
    "collapsed, blank-line runs bounded, structure preserved") {
    val got = Seq(
      (1L, "clean text"),
      (2L, "  leading\t\tand   trailing  "),
      (3L, "a\r\nb\rc\n\n\n\n\nd"),
      (4L, "keep\n\ntwo blanks\n\nexactly")).toDF("doc_id", "text")
      .select($"doc_id",
        graft.operators.TextAnalysis.normalizeText($"text").as("c"))
      .as[(Long, String)].collect().toMap
    assert(got(1L) == "clean text")
    assert(got(2L) == "leading and trailing")
    assert(got(3L) == "a\nb\nc\n\nd", "CRLF and CR fold; 5 newlines -> 2")
    assert(got(4L) == "keep\n\ntwo blanks\n\nexactly", "double blank is the cap, untouched")
  }

  test("BPE fertility: post-merge tokens per word, per source; the merged " +
    "pair halves its run's token count") {
    // src a: 'x y' dominates -> merge (x,y); each 'x y' becomes 1 token.
    // src b has no x y adjacency -> fertility stays 1.0
    val d = Seq(
      (1L, "a", "x y x y x y"), // 6 words -> 3 tokens
      (2L, "a", "x y z"),       // 3 words -> 2 tokens
      (3L, "b", "z z q q")).toDF("doc_id", "source", "text")
    val got = Curation.bpeFertility(d, "doc_id", "text", "source", iters = 1)
      .as[(String, Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got("a") == (("a", 2L, 5L, 9L, math.floor(5.0 / 9 * 10000 + 0.5) / 10000)))
    assert(got("b") == (("b", 1L, 4L, 4L, 1.0)))
  }

  test("CCNet buckets: terciles per source are balanced on distinct " +
    "scores, and head docs are more fluent than tail docs") {
    // 6 docs in one source with strictly increasing surprisal: doc k has
    // k rare (OOV-priced) tokens out of 6
    val d = (0 to 5).map { k =>
      val toks = Seq.fill(6 - k)("common") ++ (1 to k).map(i => s"rare${k}_$i")
      (k.toLong, "s0", toks.mkString(" "))
    }.toDF("doc_id", "source", "text")
    val got = Curation.ccnetBuckets(d, "doc_id", "text", "source")
      .as[(Long, String, Double, String)].collect().sortBy(_._1)
    assert(got.map(_._4).toSeq ==
      Seq("head", "head", "middle", "middle", "tail", "tail"))
    val scores = got.map(_._3)
    assert(scores.toSeq == scores.sorted.toSeq, "surprisal increases with rare count")
  }

  test("Zipf slope: hand-computed OLS on a 3-type vocab; exact power law " +
    "recovers slope -1; distributed ranks match a global sort") {
    // freqs 4,2,1 -> ranks 1,2,3; OLS of ln f on ln r by hand
    val d = Seq((1L, "a a a a b b c")).toDF("doc_id", "text")
    val row = Curation.zipfSlope(d, "text")
      .as[(Long, Long, Double)].collect().head
    assert(row._1 == 3L && row._2 == 7L)
    val xs = Seq(1.0, 2.0, 3.0).map(math.log)
    val ys = Seq(4.0, 2.0, 1.0).map(math.log)
    val n = 3.0
    val sx = xs.sum; val sy = ys.sum
    val sxy = xs.zip(ys).map { case (a, b) => a * b }.sum
    val sxx = xs.map(a => a * a).sum
    val want = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert(row._3 == math.floor(want * 10000.0 + 0.5) / 10000.0)
    // exact Zipf: freq(r) = 60/r for ranks 1..4 (60,30,20,15) -> slope -1;
    // repeated tokens across docs exercise the fof/offset rank path with
    // a frequency tie-free and a tie-ful class mix
    val zipf = Seq.tabulate(4) { i =>
      (i.toLong, (("t" + i + " ") * (60 / (i + 1))).trim)
    }.toDF("doc_id", "text")
    val z = Curation.zipfSlope(zipf, "text")
      .as[(Long, Long, Double)].collect().head
    assert(z._1 == 4L && z._3 == -1.0, s"exact power law: $z")
    // tie class: two tokens at freq 2, one at 4 -> ranks 2,3 go to the
    // tied pair in token order; slope must equal the global-sort formula
    val tied = Seq((1L, "p p p p q q r r")).toDF("doc_id", "text")
    val tz = Curation.zipfSlope(tied, "text")
      .as[(Long, Long, Double)].collect().head
    val xs2 = Seq(1.0, 2.0, 3.0).map(math.log)
    val ys2 = Seq(4.0, 2.0, 2.0).map(math.log)
    val sx2 = xs2.sum; val sy2 = ys2.sum
    val sxy2 = xs2.zip(ys2).map { case (a, b) => a * b }.sum
    val sxx2 = xs2.map(a => a * a).sum
    val want2 = (3.0 * sxy2 - sx2 * sy2) / (3.0 * sxx2 - sx2 * sx2)
    assert(tz._3 == math.floor(want2 * 10000.0 + 0.5) / 10000.0)
  }

  test("packBins: straddling docs slice across bins; every non-final bin " +
    "holds exactly capacity tokens; concatenated bins reproduce the corpus") {
    // group g: docs of 3+3+1 tokens at capacity 4 -> bin0 = a b c d,
    // bin1 = e f g; doc 2 straddles the bin boundary
    val d = Seq(
      (1L, "a b c", "g"), (2L, "d e f", "g"), (3L, "g", "g"),
      (4L, "x y z w q", "h"), // second group: 5 tokens -> bins of 4 + 1
      (5L, "", "h")) // token-less doc absent, shifts nothing
      .toDF("doc_id", "text", "source")
    val bins = Curation.packBins(d, "doc_id", "text", "source", capacity = 4)
      .orderBy("source", "bin_idx")
      .as[(String, Long, Long, Long, String)].collect()
    assert(bins.map(b => (b._1, b._2, b._5)).toSeq == Seq(
      ("g", 0L, "a b c d"), ("g", 1L, "e f g"),
      ("h", 0L, "x y z w"), ("h", 1L, "q")))
    assert(bins.filter(_._1 == "g").map(_._3).toSeq == Seq(2L, 2L),
      "bin0 = doc1 + doc2-head, bin1 = doc2-tail + doc3")
    // invariants on a larger random-length group
    val docs = (1L to 30L).map(i =>
      (i, (1 to (i % 7 + 1).toInt).map(j => s"w${i}_$j").mkString(" "), "r"))
      .toDF("doc_id", "text", "source")
    val rb = Curation.packBins(docs, "doc_id", "text", "source", capacity = 10)
      .orderBy("bin_idx")
      .as[(String, Long, Long, Long, String)].collect()
    rb.dropRight(1).foreach(b =>
      assert(b._4 == 10L, s"non-final bin ${b._2} must be full: ${b._4}"))
    val corpus = (1L to 30L).flatMap(i =>
      (1 to (i % 7 + 1).toInt).map(j => s"w${i}_$j"))
    assert(rb.flatMap(_._5.split(" ")).toSeq == corpus,
      "bins in order must reproduce the concatenated corpus exactly")
  }

  test("script profile: hand-computed fractions on mixed-script text; " +
    "whitespace excluded; empty text safe") {
    import graft.operators.TextAnalysis
    // "abc привет 你好 123" -> non-space chars: abc(3 Latin) + привет(6
    // Cyrillic) + 你好(2 Han) + 123(3 digits) = 14
    val d = Seq((1L, "abc привет 你好 123"), (2L, ""), (3L, "   "))
      .toDF("doc_id", "text")
    val got = d.select($"doc_id", TextAnalysis.scriptProfile($"text").as("p"))
      .select($"doc_id", $"p.n_chars", $"p.latin_frac", $"p.cyrillic_frac",
        $"p.han_frac", $"p.arabic_frac", $"p.digit_frac")
      .as[(Long, Long, Double, Double, Double, Double, Double)]
      .collect().map(r => r._1 -> r).toMap
    def r4(x: Double) = math.floor(x * 10000.0 + 0.5) / 10000.0
    assert(got(1L)._2 == 14L)
    assert(got(1L)._3 == r4(3.0 / 14) && got(1L)._4 == r4(6.0 / 14) &&
      got(1L)._5 == r4(2.0 / 14) && got(1L)._6 == 0.0 &&
      got(1L)._7 == r4(3.0 / 14), s"${got(1L)}")
    assert(got(2L) == ((2L, 0L, 0.0, 0.0, 0.0, 0.0, 0.0)))
    assert(got(3L)._2 == 0L, "whitespace-only text has zero counted chars")
  }

  test("Luhn card detection: check digit decides, separators tolerated, " +
    "length-gated; masking replaces only VALID candidates") {
    val d = Seq(
      (1L, "pay 4111111111111111 today"),          // valid Visa test number
      (2L, "ref 4111111111111112 invalid"),        // check digit off by one
      (3L, "card 5500 0000 0000 0004 spaced"),     // valid, space-separated
      (4L, "id 4111-1111-1111-1111 dashed"),       // valid, dash-separated
      (5L, "short 123456789012 run"),              // 12 digits -> not a card
      (6L, "no digits here at all"))
      .toDF("doc_id", "text")
    val got = Curation.luhnCandidates(d, "doc_id", "text")
      .as[(Long, String, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, "4111111111111111", true)))
    assert(got(2L) == ((2L, "4111111111111112", false)))
    assert(got(3L) == ((3L, "5500 0000 0000 0004", true)))
    assert(got(4L) == ((4L, "4111-1111-1111-1111", true)))
    assert(!got.contains(5L), "12-digit runs are below the card length gate")
    assert(!got.contains(6L))
    val masked = d.select($"doc_id", Curation.maskValidCards($"text").as("m"))
      .as[(Long, String)].collect().toMap
    assert(masked(1L) == "pay <CARD> today")
    assert(masked(2L) == "ref 4111111111111112 invalid",
      "an invalid check digit is just a number, not PII")
    assert(masked(3L) == "card <CARD> spaced")
    assert(masked(5L) == "short 123456789012 run")
  }

  test("card masking is POSITIONALLY anchored: a valid candidate's digit " +
    "string embedded in a longer run elsewhere is never masked") {
    val d = Seq(
      // the valid span masks; the same digits inside a 20-digit run do not
      (1L, "a 4111111111111111 b 994111111111111111 c"),
      // repeated identical candidate: both occurrences mask, no double-apply
      (2L, "x 4111111111111111 y 4111111111111111 z"))
      .toDF("doc_id", "text")
    val masked = d.select($"doc_id", Curation.maskValidCards($"text").as("m"))
      .as[(Long, String)].collect().toMap
    assert(masked(1L) == "a <CARD> b 994111111111111111 c", masked(1L))
    assert(masked(2L) == "x <CARD> y <CARD> z", masked(2L))
  }

  test("KMV sketch: exact below k, mergeable across groups, and within " +
    "3-sigma of the true distinct count on a large vocabulary") {
    // group 'small': 5 distinct tokens < k=16 -> estimate is EXACT
    val small = Seq((1L, "a b c d e", "small")).toDF("doc_id", "text", "source")
    val est = Curation.kmvEstimate(
      Curation.kmvSketch(small, "source", "text", k = 16), "source", k = 16)
      .as[(String, Long, Double)].collect().head
    assert(est == (("small", 5L, 5.0)), s"sub-k sketch is the set itself: $est")
    // 3000 distinct tokens split over 3 groups; k=64 -> stderr ~ 1/sqrt(62)
    val big = (1L to 3000L).map(i => (i, s"tok$i", s"g${i % 3}"))
      .toDF("doc_id", "text", "source")
    val sk = Curation.kmvSketch(big, "source", "text", k = 64)
      .localCheckpoint()
    val global = Curation.kmvEstimate(
      Curation.kmvMerge(sk, k = 64).withColumn("s", lit("all")), "s", k = 64)
      .as[(String, Long, Double)].collect().head._3
    val direct = Curation.kmvEstimate(
      Curation.kmvSketch(big.withColumn("c", lit("all")), "c", "text", 64),
      "c", k = 64)
      .as[(String, Long, Double)].collect().head._3
    assert(global == direct,
      s"merged sketch estimate must equal the direct global one: $global vs $direct")
    val rel = math.abs(global - 3000.0) / 3000.0
    assert(rel < 3.0 / math.sqrt(62.0),
      s"estimate $global is ${rel * 100}%% off 3000 — beyond 3 sigma")
    // sketch rows are the k smallest: max of sketch <= min of the rest
    val g0 = sk.filter($"source" === "g0").as[(String, Long)].collect()
      .map(_._2).toSet
    assert(g0.size == 64)
  }

  test("novel n-gram audit: fully-seen doc scores 0, fully-novel 1, " +
    "partial overlap exact; sub-n docs absent") {
    val seen = Seq((100L, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    val newDocs = Seq(
      (1L, "alpha beta gamma delta"),   // grams all inside the seen doc
      (2L, "one two three four"),       // fully novel: 2 grams, both new
      // 4 grams: 'beta gamma delta' + 'gamma delta epsilon' seen,
      // the edge grams ('x beta gamma', 'delta epsilon q') novel -> 1/2
      (3L, "x beta gamma delta epsilon q"),
      (4L, "too short"))                // < 3 tokens -> absent
      .toDF("doc_id", "text")
    val got = Curation.novelNgramFraction(newDocs, seen, "doc_id", "text", 3)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 2L, 0L, 0.0)), got.toString)
    assert(got(2L) == ((2L, 2L, 2L, 1.0)))
    assert(got(3L) == ((3L, 4L, 2L, 0.5)),
      "only fully-contained grams count as seen: " + got(3L))
    assert(!got.contains(4L))
  }

  test("PMI collocations: hand-computed pmi at window 1, window-2 skip " +
    "pairs included, min-count cut applied, deterministic total order") {
    // corpus: "a b" x6 docs + "a c" x2 + "c b" x2 -> at window=1:
    // pairs: (a,b)x6, (a,c)x2, (c,b)x2; P=10; tokens: a=8, b=8, c=4, N=20
    val d = ((1 to 6).map(i => (i.toLong, "a b")) ++
      Seq((7L, "a c"), (8L, "a c"), (9L, "c b"), (10L, "c b")))
      .toDF("doc_id", "text")
    val got = Curation.pmiCollocations(d, "text", window = 1,
      minCount = 2L, topK = 10)
      .as[(String, String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r).toMap
    def r4(x: Double) = math.floor(x * 10000.0 + 0.5) / 10000.0
    assert(got(("a", "b"))._3 == 6L)
    assert(got(("a", "b"))._4 == r4(math.log((6.0 / 10) / (8.0 / 20 * (8.0 / 20)))),
      got.toString)
    assert(got(("a", "c"))._4 == r4(math.log((2.0 / 10) / (8.0 / 20 * (4.0 / 20)))))
    // window=2 adds the skip pair (x, z) from "x y z"
    val sk = Seq((1L, "x y z"), (2L, "x y z"), (3L, "x y z"), (4L, "x y z"),
      (5L, "x y z")).toDF("doc_id", "text")
    val w2 = Curation.pmiCollocations(sk, "text", window = 2,
      minCount = 5L, topK = 10)
      .as[(String, String, Long, Double)].collect().map(r => (r._1, r._2)).toSet
    assert(w2 == Set(("x", "y"), ("y", "z"), ("x", "z")),
      s"skip-distance-2 pair must appear: $w2")
    // min-count cut: a pair seen once vanishes at minCount=2
    val once = Seq((1L, "p q"), (2L, "p r"), (3L, "p r")).toDF("doc_id", "text")
    val cut = Curation.pmiCollocations(once, "text", 1, 2L, 10)
      .as[(String, String, Long, Double)].collect().map(r => (r._1, r._2)).toSet
    assert(cut == Set(("p", "r")))
  }

  test("KMV pair Jaccard: exact below k (identical -> 1, disjoint -> 0, " +
    "hand overlap exact); estimate within 3-sigma on large vocabularies") {
    // 3 small groups, all unions below k=16 -> estimator is EXACT
    val d = Seq(
      (1L, "a b c d", "g1"), (2L, "a b c d", "g2"),  // identical sets
      (3L, "p q r s", "g3"))                         // disjoint from both
      .toDF("doc_id", "text", "source")
    val got = Curation.kmvPairJaccard(
      Curation.kmvSketch(d, "source", "text", k = 16), "source", k = 16)
      .as[(String, String, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._5).toMap
    assert(got(("g1", "g2")) == 1.0 && got(("g1", "g3")) == 0.0 &&
      got(("g2", "g3")) == 0.0, got.toString)
    // hand overlap: {a b c d} vs {c d e f} -> J = 2/6
    val h = Seq((1L, "a b c d", "x"), (2L, "c d e f", "y"))
      .toDF("doc_id", "text", "source")
    val hj = Curation.kmvPairJaccard(
      Curation.kmvSketch(h, "source", "text", k = 16), "source", k = 16)
      .as[(String, String, Long, Long, Double)].collect().head
    assert(hj._5 == math.floor(2.0 / 6.0 * 10000 + 0.5) / 10000, hj.toString)
    // large vocab: A = tok1..tok1000, B = tok501..tok1500 -> J = 1/3;
    // k=128 -> stderr ~ sqrt(J(1-J)/k) ~ 0.042
    val big = Seq(
      (1L, (1 to 1000).map(i => s"tok$i").mkString(" "), "A"),
      (2L, (501 to 1500).map(i => s"tok$i").mkString(" "), "B"))
      .toDF("doc_id", "text", "source")
    val bj = Curation.kmvPairJaccard(
      Curation.kmvSketch(big, "source", "text", k = 128), "source", k = 128)
      .as[(String, String, Long, Long, Double)].collect().head
    assert(math.abs(bj._5 - 1.0 / 3.0) < 3 * math.sqrt(1.0 / 3 * 2.0 / 3 / 128),
      s"estimate ${bj._5} too far from 1/3")
  }

  test("NB classifier: separable corpus classified perfectly; prior " +
    "follows doc counts; model dim-bounded with constant OOV floor") {
    // positives share 'alpha beta', negatives share 'gamma delta' —
    // class-conditional vocabularies are disjoint, so multinomial NB
    // must recover the labels exactly on its own training set
    val d = Seq(
      (1L, "alpha beta alpha common", true),
      (2L, "beta alpha beta common", true),
      (3L, "alpha beta beta alpha", true),
      (4L, "gamma delta gamma common", false),
      (5L, "delta gamma delta common", false))
      .toDF("doc_id", "text", "label")
    // dim=256: collision-free for this vocabulary (alpha/gamma share a
    // bucket at 16 and 64 — verified by hand; collisions are the hashing
    // trick's accepted lossiness, not what this exactness test probes)
    val scored = Curation.nbcScore(d, "doc_id", "text", col("label"), dim = 256)
      .select($"doc_id", $"nb_score", $"nb_pred")
      .as[(Long, Double, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(scored.size == 5)
    (1L to 3L).foreach(i => assert(scored(i)._3, s"doc $i must score positive"))
    (4L to 5L).foreach(i => assert(!scored(i)._3, s"doc $i must score negative"))
    // prior: ln((3+1)/(2+1)) > 0 — a featureless doc would lean positive
    // (verified indirectly: scores are prior + likelihood, and the model
    // half below carries no prior)
    val model = Curation.nbcModel(d, "text", col("label"), dim = 256)
      .as[(Long, Double, Double)].collect()
    assert(model.length <= 256, "model must be dim-bounded by construction")
    assert(model.map(_._3).distinct.length == 1,
      "OOV floor w0 is corpus-level, constant across buckets")
    // w0 = ln((tn+dim)/(tp+dim)) with tp=12 positive tokens, tn=8 negative
    val w0 = model.head._3
    assert(math.abs(w0 - math.log((8.0 + 256) / (12.0 + 256))) < 1e-12,
      s"hand-computed OOV floor, got $w0")
    // determinism: same input -> identical scores
    val again = Curation.nbcScore(d, "doc_id", "text", col("label"), dim = 256)
      .select($"doc_id", $"nb_score", $"nb_pred")
      .as[(Long, Double, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(again == scored)
  }

  test("NB classifier: self-trained lang gate separates en from non-en " +
    "on a vocabulary-disjoint corpus (the fastText langid shape)") {
    val en = (0 until 20).map(i =>
      (i.toLong, s"the quick brown fox number $i jumps over the lazy dog", "en"))
    val de = (20 until 30).map(i =>
      (i.toLong, s"der schnelle braune fuchs nummer $i springt ueber den faulen hund", "de"))
    val d = (en ++ de).toDF("doc_id", "text", "lang")
    val eval = Curation.nbcScore(d, "doc_id", "text", col("lang") === "en", 64)
      .join(d.select($"doc_id", ($"lang" === "en").as("y")), Seq("doc_id"))
      .agg(avg(when($"nb_pred" === $"y", 1.0).otherwise(0.0)).as("acc"))
      .as[Double].collect().head
    assert(eval == 1.0, s"disjoint vocabularies must separate: acc=$eval")
  }

  test("UniMax: closed-form allocation equals the sequential waterfill " +
    "reference; caps bind smallest-first; budget is conserved") {
    // sequential reference: ascending sizes, min(cap, remaining/(left))
    def refAlloc(sizes: Seq[(String, Long)], budget: Long,
                 cap: Long): Map[String, Double] = {
      var rem = budget.toDouble
      val sorted = sizes.sortBy(s => (s._2, s._1))
      sorted.zipWithIndex.map { case ((src, n), i) =>
        val share = rem / (sorted.size - i)
        val b = math.min((cap * n).toDouble, share)
        rem -= b
        src -> b
      }.toMap
    }
    def mkDocs(sizes: Seq[(String, Long)]) =
      sizes.map { case (s, n) =>
        (s, (1L to n).map(j => s"t$j").mkString(" "))
      }.toDF("source", "text")
    val sizes = Seq(("a", 10L), ("b", 20L), ("c", 40L), ("d", 400L),
      ("e", 800L))
    val got = Curation.unimaxAllocation(mkDocs(sizes), "source", "text",
      budget = 500L, epochCap = 2L)
      .as[(String, Long, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    val ref = refAlloc(sizes, 500L, 2L)
    sizes.foreach { case (s, n) =>
      assert(got(s)._1 == n)
      assert(math.abs(got(s)._2 - ref(s)) < 1e-4, s"$s: ${got(s)._2} vs ${ref(s)}")
      assert(math.abs(got(s)._3 - ref(s) / n) < 1e-4, s"$s epochs")
    }
    // small sources capped at exactly 2 epochs; big ones share equally
    assert(got("a")._3 == 2.0 && got("b")._3 == 2.0 && got("c")._3 == 2.0)
    assert(got("d")._2 == got("e")._2, "uncapped sources get equal shares")
    // budget conserved
    assert(math.abs(got.values.map(_._2).sum - 500.0) < 1e-3)
    // all-capped: budget exceeds 2x total -> every source gets its cap
    val allCap = Curation.unimaxAllocation(mkDocs(sizes), "source", "text",
      budget = 10000L, epochCap = 2L)
      .as[(String, Long, Double, Double)].collect()
    assert(allCap.forall(r => r._3 == 2.0 * r._2 && r._4 == 2.0))
    // none capped: tiny budget -> pure equal split
    val none = Curation.unimaxAllocation(mkDocs(sizes), "source", "text",
      budget = 50L, epochCap = 2L)
      .as[(String, Long, Double, Double)].collect()
    assert(none.forall(r => r._3 == 10.0), none.mkString(","))
  }

  test("zero-token source: temperature sampling and UniMax drop it as " +
    "weight 0 instead of dividing by zero; every other row is unchanged") {
    val docs = Seq((1L, "a", "alpha beta gamma"), (2L, "a", "delta epsilon"),
      (3L, "b", "!!! ..."), (4L, "b", ""),
      (5L, "c", "zeta eta theta iota kappa lambda mu nu xi omicron"))
      .toDF("doc_id", "source", "text")
    val withoutB = docs.filter($"source" =!= "b")
    def temp(d: DataFrame) =
      Curation.temperatureSample(d, "doc_id", "text", "source", alpha = 0.5)
        .as[(Long, String, Long)].collect().sorted.toSeq
    val ts = temp(docs)
    assert(!ts.exists(_._2 == "b"), s"token-less source sampled: $ts")
    assert(ts == temp(withoutB))
    assert(ts.map(_._1).contains(1L), "the rarest source keeps every doc")
    // a: 5 tokens (cap 10, capped), c: 10 tokens (uncapped, share 15)
    def unimax(d: DataFrame) =
      Curation.unimaxAllocation(d, "source", "text", budget = 25L,
        epochCap = 2L).as[(String, Long, Double, Double)].collect()
        .sortBy(_._1).toSeq
    val um = unimax(docs)
    assert(!um.exists(_._1 == "b"), s"token-less source allocated: $um")
    assert(um == unimax(withoutB))
    assert(um == Seq(("a", 5L, 10.0, 2.0), ("c", 10L, 15.0, 1.5)), um.toString)
  }

  test("content-hash coins equal the driver-side md5 reference: split " +
    "bands, weighted and stratified keep sets, text-index buckets") {
    // the coin's definition: first 15 md5 hex chars as a long, mod m
    def coin(key: String, m: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(key.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.map("%02x".format(_)).mkString.take(15), 16) % m
    }
    val rows = (0L until 500L).map(i => (i, if (i % 2 == 0) "a" else "b"))
    val d = rows.toDF("doc_id", "source")
    val split = d.select($"doc_id", Curation.splitAssign($"doc_id"))
      .as[(Long, String)].collect().toMap
    rows.foreach { case (i, _) =>
      val h = coin(s"split|$i", 100L)
      assert(split(i) == (if (h < 98) "train" else if (h < 99) "val" else "test"),
        s"split of $i")
    }
    def keptIds(f: Column) =
      d.filter(f).select($"doc_id").as[Long].collect().toSet
    assert(keptIds(Curation.weightedSampleFilter($"doc_id", lit(5000L))) ==
      rows.collect { case (i, _) if coin(s"w|$i", 10000L) < 5000 => i }.toSet)
    assert(keptIds(Curation.stratifiedSampleFilter($"source", $"doc_id",
      lit(50L))) ==
      rows.collect { case (i, s) if coin(s"$s|$i", 100L) < 50 => i }.toSet)
    val path = tmpDir("coin-idx")
    graft.operators.Analytics.writeTextIndex(
      d.select($"doc_id", concat(lit("term"), $"doc_id", lit(" common"))
        .as("text")), "doc_id", "text", path, nBuckets = 16)
    val buckets = spark.read.parquet(s"$path/postings")
      .select($"gram", $"tbucket").distinct().as[(String, Int)].collect()
    assert(buckets.length == 501)
    buckets.foreach { case (g, b) => assert(b == coin(g, 16L), s"tbucket of $g") }
  }

  test("OLS closed-form fit: exact recovery of a noiseless linear target; " +
    "scores have zero residual; collinear design yields null betas, not " +
    "a silent fit") {
    val rows = (1 to 50).map { i =>
      val x1 = i * 0.01; val x2 = ((i * 7) % 13) * 0.05
      (i.toLong, x1, x2, 2.0 + 3.0 * x1 - 1.0 * x2)
    }
    val d = rows.toDF("id", "x1", "x2", "y")
    val fit = Curation.olsFit(d, "y", "x1", "x2")
      .as[(Long, Double, Double, Double)].collect().head
    assert(fit._1 == 50L)
    assert(fit._2 == 2.0 && fit._3 == 3.0 && fit._4 == -1.0, fit.toString)
    val scored = Curation.olsScore(d, "id", "y", "x1", "x2",
      Curation.olsFit(d, "y", "x1", "x2"))
      .as[(Long, Double, Double)].collect()
    assert(scored.length == 50 && scored.forall(_._3 == 0.0),
      "noiseless target + exact betas -> zero residuals")
    // determinism: partitioning must not change the moments (DECIMAL sums)
    val fitR = Curation.olsFit(d.repartition(7), "y", "x1", "x2")
      .as[(Long, Double, Double, Double)].collect().head
    assert(fitR == fit, "fit must be partitioning-independent")
    // collinear design: x2 = 2·x1 → singular normal equations → null betas
    val bad = d.withColumn("x2", $"x1" * 2.0)
    val sing = Curation.olsFit(bad, "y", "x1", "x2").collect().head
    assert(sing.getLong(0) == 50L && sing.isNullAt(1) && sing.isNullAt(2) &&
      sing.isNullAt(3), "singular fit must surface as nulls")
  }
}
