package graft

import org.apache.spark.sql.functions._
import graft.operators.{Sketches, TextAnalysis}

class SketchesSpec extends SparkSuite {
  import spark.implicits._

  /** Deterministic word-soup corpus over a bounded vocabulary, split
    * across 4 sources — small enough to compute exact truths in Scala. */
  private lazy val docs = (1 to 80).map { i =>
    val words = (0 until 20).map(j => s"w${(i * 7 + j * j) % 53}")
    (i.toLong, s"s${i % 4}", words.mkString(" "))
  }.toSeq
  private lazy val df = docs.toDF("doc_id", "source", "text")
  private lazy val allToks: Seq[String] =
    docs.flatMap(_._3.split(" ").toSeq)
  private lazy val trueCounts: Map[String, Long] =
    allToks.groupBy(identity).map { case (t, g) => t -> g.size.toLong }

  test("CMS: estimate >= true count for EVERY token (one-sided guarantee); " +
    "a wide sketch with few collisions is exact for most tokens") {
    val merged = Sketches.cmsMerge(
      Sketches.cmsSketch(df, "source", "text", depth = 4, width = 64))
    val probes = trueCounts.keys.toSeq.toDF("tok")
    val est = Sketches.cmsEstimate(merged, probes, "tok", depth = 4,
      width = 64).as[(String, Long)].collect().toMap
    assert(est.keySet == trueCounts.keySet)
    trueCounts.foreach { case (t, c) =>
      assert(est(t) >= c, s"CMS underestimated $t: ${est(t)} < $c")
    }
    // 53 distinct tokens into 4 rows of 64 buckets: min-of-rows recovers
    // the exact count for the large majority
    val exact = trueCounts.count { case (t, c) => est(t) == c }
    assert(exact >= 40, s"only $exact/53 exact — hash family suspect")
    // a token the corpus never saw estimates 0 (outer-join coalesce path)
    val unseen = Sketches.cmsEstimate(merged, Seq("zzz_unseen").toDF("tok"),
      "tok", 4, 64).as[(String, Long)].collect().head
    assert(unseen._2 >= 0L) // may collide upward, never negative
  }

  test("CMS: merging per-source sketches by addition equals building " +
    "the sketch globally; total register mass = total token count") {
    val perSrc = Sketches.cmsSketch(df, "source", "text", depth = 4,
      width = 64)
    val merged = Sketches.cmsMerge(perSrc)
      .as[(Long, Long, Long)].collect().toSet
    val global = Sketches.cmsSketch(
      df.withColumn("g", lit("all")), "g", "text", depth = 4, width = 64)
      .select($"depth", $"bucket", $"cnt")
      .as[(Long, Long, Long)].collect().toSet
    assert(merged == global, "CMS merge must equal rebuild")
    // every row of the sketch counts every token exactly once
    // (toSeq first — summing over the Set would dedupe equal counts)
    val perRow = merged.toSeq.groupBy(_._1).view
      .mapValues(_.map(_._3).sum).toMap
    assert(perRow.values.forall(_ == allToks.size.toLong), perRow.toString)
  }

  test("Bloom: zero false negatives ever; false-positive rate small at " +
    "sane load; merge by union equals rebuild; absent-key probe is false") {
    val seen = (1 to 300).map(i => (s"g${i % 3}", s"https://h$i.com/p/$i"))
      .toDF("g", "url")
    val unseen = (1001 to 1300).map(i => s"https://h$i.com/p/$i").toDF("url")
    val bits = Sketches.bloomBits(seen.select($"url"), "url",
      mBits = 8192, kHashes = 4)
    val nBits = bits.count()
    assert(nBits <= 300L * 4 && nBits > 1000, s"sparse bit table: $nBits")
    // every inserted key probes true — the hard guarantee
    val seenProbe = Sketches.bloomProbe(bits, seen.select($"url"), "url",
      mBits = 8192, kHashes = 4).as[(String, Boolean)].collect()
    assert(seenProbe.length == 300 && seenProbe.forall(_._2),
      "false negative detected")
    // unseen keys mostly probe false; rate within 10x of theory
    val fp = Sketches.bloomProbe(bits, unseen, "url", mBits = 8192,
      kHashes = 4).as[(String, Boolean)].collect().count(_._2)
    val pTheory = math.pow(1.0 - math.exp(-4.0 * 300 / 8192.0), 4)
    assert(fp <= math.max(3.0, 10 * pTheory * 300),
      s"FP rate suspicious: $fp/300 vs theory ${pTheory * 300}")
    // merge == rebuild
    val merged = Sketches.bloomMerge(
      Sketches.bloomBitsGrouped(seen, "g", "url", mBits = 8192, kHashes = 4))
      .as[Long].collect().toSet
    val direct = bits.as[Long].collect().toSet
    assert(merged == direct, "bloom merge must equal rebuild")
  }

  test("sketch geometry is range-checked on every entry point: grouped " +
    "Bloom, Bloom probe and CMS estimate refuse what would silently drop " +
    "keys, collapse them into one bucket, or index past the hash family") {
    val keys = Seq("a", "b").toDF("k")
    val grouped = Seq(("g", "a")).toDF("g", "k")
    val bits = Sketches.bloomBits(keys, "k")
    val merged = Sketches.cmsMerge(Sketches.cmsSketch(df, "source", "text"))
    val calls: Seq[(String, () => Any)] = Seq(
      "bloomBitsGrouped kHashes=0" ->
        (() => Sketches.bloomBitsGrouped(grouped, "g", "k", kHashes = 0)),
      "bloomBitsGrouped mBits=1" ->
        (() => Sketches.bloomBitsGrouped(grouped, "g", "k", mBits = 1)),
      "bloomProbe kHashes=0" ->
        (() => Sketches.bloomProbe(bits, keys, "k", kHashes = 0)),
      "bloomProbe mBits=1" ->
        (() => Sketches.bloomProbe(bits, keys, "k", mBits = 1)),
      "cmsEstimate width=1" ->
        (() => Sketches.cmsEstimate(merged, keys, "k", width = 1)),
      "cmsEstimate depth=9" ->
        (() => Sketches.cmsEstimate(merged, keys, "k", depth = 9)))
    calls.foreach { case (name, call) =>
      withClue(name) { intercept[IllegalArgumentException](call()) }
    }
  }

  test("HLL: registers match a Scala reference (md5 60-bit hash, low-p " +
    "bucket, bin-length rho); merge by max equals rebuild") {
    val p = 5; val m = 1 << p; val width = 60 - p
    def md5hex(s: String): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      d.map("%02x".format(_)).mkString
    }
    val ref = scala.collection.mutable.Map[(String, Long), Long]()
    docs.foreach { case (_, src, text) =>
      text.split(" ").foreach { t =>
        val hv = java.lang.Long.parseLong(md5hex(t).take(15), 16)
        val bucket = hv % m
        val w = hv >> p
        val rho = if (w == 0L) (width + 1).toLong
          else (width + 1) - java.lang.Long.toBinaryString(w).length.toLong
        val k = (src, bucket)
        ref(k) = math.max(ref.getOrElse(k, 0L), rho)
      }
    }
    val got = Sketches.hllRegisters(df, "source", "text", p)
      .as[(String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got == ref.toMap, "register table must match the Scala reference")
    // merge == rebuild
    val merged = Sketches.hllMerge(
      Sketches.hllRegisters(df, "source", "text", p))
      .as[(Long, Long)].collect().toMap
    val global = Sketches.hllRegisters(
      df.withColumn("g", lit("all")), "g", "text", p)
      .select($"bucket", $"register").as[(Long, Long)].collect().toMap
    assert(merged == global, "HLL merge must equal rebuild")
  }

  test("HLL: estimate is within the published error envelope of the exact " +
    "distinct count on a 2000-token vocabulary (rse ~ 1.04/sqrt(32))") {
    val big = (1 to 200).map { i =>
      (i.toLong, "all", (0 until 10).map(j => s"tok${i * 10 + j}").mkString(" "))
    }.toDF("doc_id", "source", "text")
    val est = Sketches.hllEstimate(
      Sketches.hllRegisters(big, "source", "text", p = 5), "source", p = 5)
      .as[(String, Long, Double)].collect().head
    val exact = 2000.0
    val rse = 1.04 / math.sqrt(32.0)
    assert(math.abs(est._3 - exact) / exact < 3 * rse,
      s"estimate ${est._3} vs exact $exact outside 3 rse")
  }

  test("HLL: small-range correction path — a tiny set with empty buckets " +
    "estimates near-exactly via m*ln(m/V)") {
    val tiny = Seq((1L, "all", "a b c d e")).toDF("doc_id", "source", "text")
    val est = Sketches.hllEstimate(
      Sketches.hllRegisters(tiny, "source", "text", p = 5), "source", p = 5)
      .as[(String, Long, Double)].collect().head
    assert(est._2 <= 5L, "5 tokens fill at most 5 buckets")
    // linear counting on 32 buckets with <=5 used: error well under 1
    assert(math.abs(est._3 - 5.0) < 1.0, s"small-range estimate ${est._3}")
  }
}
