package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.operators.{Parse, Score}

/**
 * Property tests (SURVEY.md §5.2#4). Each property evaluates the column
 * expressions over a generated batch in ONE Spark job (cases as rows),
 * not one job per case. Uses scalacheck Gen directly with fixed seeds
 * (deterministic; no scalatestplus bridge needed offline).
 */
class PropertySpec extends SparkSuite {

  private def sample[T](g: Gen[T], seed: Long): T =
    g.apply(Gen.Parameters.default, Seed(seed)).get
  import spark.implicits._

  private val texts: Gen[String] = Gen.oneOf(
    Gen.asciiPrintableStr,
    Gen.choose(9990, 10030).flatMap(n => Gen.stringOfN(n, Gen.alphaNumChar)),
    Gen.const(""),
    Gen.oneOf("exception", "ERROR inside", "timed out", "timeout",
      "connection refused", "connect", "connection reset"))

  private def runBatch(cases: Seq[String]) =
    cases.toDF("m").select(
      $"m",
      Parse.truncateMessage($"m").as("t"),
      Parse.severity(Parse.truncateMessage($"m")).as("sev"),
      Score.anomalyScore(Parse.truncateMessage($"m"), Parse.severity(Parse.truncateMessage($"m"))).as("score"))
      .collect()

  test("truncation: bounded at 10015, idempotent, identity below the limit") {
    val cases = sample(Gen.listOfN(200, texts), 11)
    val rows = runBatch(cases)
    rows.foreach { r =>
      val m = r.getString(0); val t = r.getString(1)
      assert(t.length <= 10015, s"bound violated for len ${m.length}")
      if (m.length <= 10000) assert(t == m, "identity below limit")
      else assert(t.length == 10015 && t.endsWith("... [truncated]"))
    }
    // idempotence: re-truncating the truncated output is a no-op
    val again = rows.map(_.getString(1)).toSeq.toDF("m")
      .select(Parse.truncateMessage($"m")).as[String].collect()
    assert(again.toSeq == rows.map(_.getString(1)).toSeq)
  }

  test("severity: total + disjoint; score within [0,1]; anomaly iff score>=0.5") {
    val cases = sample(Gen.listOfN(300, texts), 12)
    val rows = runBatch(cases)
    rows.foreach { r =>
      assert(Set("ERROR", "WARN", "INFO")(r.getString(2)))
      val s = r.getDouble(3)
      assert(s >= 0.0 && s <= 1.0)
    }
    // counts conserved across the partition-by-severity split
    val df = cases.toDF("m").select(Parse.severity($"m").as("s"))
    val bySev = df.groupBy("s").count().as[(String, Long)].collect().toMap
    assert(bySev.values.sum == cases.length)
  }

  test("router conservation on synthetic pages: sinks + rejected = input") {
    for (k <- 1 to 5) {
      val n = sample(Gen.choose(100L, 2000L), k)
      val seed = sample(Gen.choose(1L, 1000L), k + 100)
      val pages = Synth.pages(spark, n, seed = seed, parts = 2)
      val parsed = graft.operators.Parse(pages, Pipeline.DefaultJobStart)
      val routed = parsed.filter($"parse_ok").count()
      val rejected = parsed.filter(!$"parse_ok").count()
      assert(routed + rejected == n, s"conservation at n=$n seed=$seed")
    }
  }

  test("csv escape expression matches RFC-4180 for arbitrary strings") {
    val cases = sample(Gen.listOfN(150, Gen.oneOf(
      Gen.asciiPrintableStr, Gen.const("a,b"), Gen.const("say \"hi\""),
      Gen.const("line\nbreak"), Gen.const("cr\rhere"))), 13)
    val got = cases.toDF("t").select(
      when($"t".rlike("[,\"\n\r]"),
        concat(lit("\""), regexp_replace($"t", "\"", "\"\""), lit("\"")))
        .otherwise($"t")).as[String].collect()
    cases.zip(got).foreach { case (in, out) =>
      val needs = in.exists(",\"\n\r".contains(_))
      val exp = if (needs) "\"" + in.replace("\"", "\"\"") + "\"" else in
      assert(out == exp, s"escape mismatch for ${in.take(40)}")
    }
  }

  test("property: pairCombos equals the nested-loop reference on random " +
    "postings lists (same-block, id1<id2, once per list)") {
    val rnd = new scala.util.Random(23)
    val lists: Seq[Seq[(String, Long)]] = (1 to 120).map { _ =>
      val n = rnd.nextInt(7) // 0..6 postings like the real buckets
      (1 to n).map(_ => (s"b${rnd.nextInt(3)}", rnd.nextInt(10).toLong))
    }
    val df = lists.zipWithIndex.map { case (l, i) => (i.toLong, l) }
      .toDF("row_id", "ds_raw")
      .select($"row_id", expr(
        "transform(ds_raw, x -> named_struct('blk', x._1, 'id', x._2))")
        .as("ds"))
    val got = df.select($"row_id",
      graft.operators.Dedup.pairCombos($"ds").as("pairs"))
      .as[(Long, Seq[(Long, Long)])].collect().toMap
    lists.zipWithIndex.foreach { case (l, i) =>
      val exp = (for {
        a <- l.indices; b <- l.indices if a < b
        if l(a)._1 == l(b)._1
      } yield (math.min(l(a)._2, l(b)._2), math.max(l(a)._2, l(b)._2)))
      assert(got(i.toLong).sorted == exp.sorted, s"list $i: ${l.mkString(",")}")
    }
  }

  test("property: WinnowMd5Windows equals the relational HOF recipe " +
    "(md5 per k-window, leftmost-min per w-window, position distinct)") {
    val rnd = new scala.util.Random(53)
    // small vocab so digest ties and repeated windows actually occur
    val voc = Vector("a", "bb", "ccc", "merge", "x1", "tok")
    val docs = (1 to 120).map { i =>
      val n = rnd.nextInt(40) // includes < k+w-1 short docs
      (i.toLong, (1 to n).map(_ => voc(rnd.nextInt(voc.size))).mkString(" "))
    }
    val (k, w) = (4, 3)
    val df = docs.toDF("id", "text")
    val toks = array_remove(split($"text", "\\s+"), "")
    val kernel = df.select($"id",
      graft.functions.WinnowExprs.winnowMd5Windows(toks, k, w).as("f"))
      .as[(Long, Seq[String])].collect().toMap
    // the former HOF formulation, verbatim
    def selOf(hs: org.apache.spark.sql.Column) = {
      val sel = array_distinct(transform(
        sequence(lit(1), size(hs) - (w - 1)),
        s => {
          val sub = slice(hs, s, lit(w))
          s - 1 + array_position(sub, array_min(sub))
        }))
      transform(sel, p => element_at(hs, p.cast("int")))
    }
    def hsOf(ts: org.apache.spark.sql.Column) =
      transform(sequence(lit(1), size(ts) - (k - 1)),
        p => md5(concat_ws(" ", slice(ts, p, lit(k)))))
    val fpsHof = when(size(toks) >= k + w - 1,
      element_at(transform(array(toks), ts =>
        element_at(transform(array(hsOf(ts)), hs => selOf(hs)), 1)), 1))
      .otherwise(array().cast("array<string>"))
    val hof = df.select($"id", fpsHof.as("f"))
      .as[(Long, Seq[String])].collect().toMap
    docs.foreach { case (i, t) =>
      assert(kernel(i) == hof(i), s"doc $i (${t.take(60)}...) diverged")
    }
  }

  test("winnow kernels refuse null-element token arrays at analysis, " +
    "not with an NPE mid-task") {
    import graft.functions.WinnowExprs
    val df = Seq(Seq("a", null, "b", "c", "d")).toDF("t")
    Seq[org.apache.spark.sql.Column => org.apache.spark.sql.Column](
      WinnowExprs.winnowMd5Windows(_, 2, 2),
      WinnowExprs.winnowFingerprints(_, 2, 2)).foreach { kernel =>
      val e = intercept[org.apache.spark.sql.AnalysisException](
        df.select(kernel($"t")).collect())
      assert(e.getMessage.contains("without null elements"), e.getMessage)
      // the callers' array_remove(split(…)) shape is non-null-element
      val ok = Seq("a b c d").toDF("s")
        .select(kernel(array_remove(split($"s", "\\s+"), "")))
      assert(ok.collect().head.getSeq[Any](0).nonEmpty)
    }
  }

  test("property: RegexCapturePairs equals the two-pass " +
    "arrays_zip(regexp_extract_all g1, g2) form on generated html") {
    val rnd = new scala.util.Random(41)
    // generated anchors + malformed fragments + noise, mixed per page
    val frag: () => String = () => rnd.nextInt(6) match {
      case 0 => s"""<a class=x href="u${rnd.nextInt(50)}/p?q=${rnd.nextInt(9)}" id=y>anchor ${rnd.nextInt(20)} text</a>"""
      case 1 => s"""<A HREF="HTTPS://EX${rnd.nextInt(9)}.COM/${rnd.nextInt(99)}">Mixed Case</A>"""
      case 2 => s"""<a href=unquoted${rnd.nextInt(9)}>dropped</a>"""
      case 3 => s"""<a href="">empty${rnd.nextInt(9)}</a>"""
      case 4 => s"""<a href="nested${rnd.nextInt(9)}"><b>tagged</b></a>"""
      case _ => s"""plain text ${rnd.nextInt(100)} <div>noise</div> "quoted" """
    }
    val pages = (1 to 150).map { i =>
      (i.toLong, (1 to rnd.nextInt(8)).map(_ => frag()).mkString(" "))
    }
    val re = graft.operators.WebGraph.AnchorRe
    val df = pages.toDF("id", "html")
    val kernel = df.select($"id",
      graft.functions.AnchorExprs.capturePairs($"html", re, "href", "anchor")
        .as("ps"))
      .select($"id", expr("transform(ps, p -> struct(p.href, p.anchor))")
        .as("ps"))
      .as[(Long, Seq[(String, String)])].collect().toMap
    val twoPass = df.select($"id",
      arrays_zip(regexp_extract_all($"html", lit(re), lit(1)),
        regexp_extract_all($"html", lit(re), lit(2))).as("z"))
      .select($"id", expr("transform(z, p -> struct(p.`0`, p.`1`))").as("z"))
      .as[(Long, Seq[(String, String)])].collect().toMap
    pages.foreach { case (i, _) =>
      assert(kernel(i) == twoPass(i), s"page $i diverged")
    }
  }

  test("property: weightedPairCombos equals the nested-loop reference on " +
    "random weighted postings (id1<id2, w_i*w_j, once per i<j)") {
    val rnd = new scala.util.Random(29)
    val lists: Seq[Seq[(Long, Double)]] = (1 to 120).map { _ =>
      val n = rnd.nextInt(7)
      (1 to n).map(_ => (rnd.nextInt(10).toLong,
        math.rint(rnd.nextDouble() * 100) / 16.0))
    }
    val df = lists.zipWithIndex.map { case (l, i) => (i.toLong, l) }
      .toDF("row_id", "ds_raw")
      .select($"row_id", expr(
        "transform(ds_raw, x -> named_struct('id', x._1, 'w', x._2))")
        .as("ds"))
    val got = df.select($"row_id",
      graft.operators.Similarity.weightedPairCombos($"ds").as("pairs"))
      .as[(Long, Seq[(Long, Long, Double)])].collect().toMap
    lists.zipWithIndex.foreach { case (l, i) =>
      val exp = (for { a <- l.indices; b <- l.indices if a < b } yield
        (math.min(l(a)._1, l(b)._1), math.max(l(a)._1, l(b)._1),
          l(a)._2 * l(b)._2))
      assert(got(i.toLong).sorted == exp.sorted, s"list $i: ${l.mkString(",")}")
    }
  }

  test("property: orderedPairs equals the nested-loop reference on random " +
    "sorted arrays (positional i<j, src1 then src2)") {
    val rnd = new scala.util.Random(31)
    val lists: Seq[Seq[String]] = (1 to 120).map { _ =>
      val n = rnd.nextInt(7)
      (1 to n).map(_ => s"s${rnd.nextInt(9)}").distinct.sorted
    }
    val got = lists.zipWithIndex.map { case (l, i) => (i.toLong, l) }
      .toDF("row_id", "ss")
      .select($"row_id",
        graft.functions.PairExprs.orderedPairs($"ss").as("pairs"))
      .as[(Long, Seq[(String, String)])].collect().toMap
    lists.zipWithIndex.foreach { case (l, i) =>
      val exp = for { a <- l.indices; b <- l.indices if a < b }
        yield (l(a), l(b))
      assert(got(i.toLong) == exp, s"list $i: ${l.mkString(",")}")
    }
  }

  test("property: JpegDim finds SOF dims under random benign segment " +
    "prefixes; truncated/corrupt inputs yield null, never crash") {
    import graft.functions.ImageExprs
    val rnd = new scala.util.Random(37)
    def seg(marker: Int, payload: Array[Byte]): Array[Byte] = {
      val len = payload.length + 2
      Array(0xFF.toByte, marker.toByte,
        ((len >> 8) & 0xFF).toByte, (len & 0xFF).toByte) ++ payload
    }
    val soi = Array(0xFF, 0xD8).map(_.toByte)
    val benignMarkers = Seq(0xE0, 0xE1, 0xDB, 0xC4, 0xFE) // APPn/DQT/DHT/COM
    val cases: Seq[(Long, Array[Byte], Option[(Long, Long)])] =
      (1 to 80).map { i =>
        val w = 1 + rnd.nextInt(4000); val h = 1 + rnd.nextInt(4000)
        val sof = Array[Byte](8,
          ((h >> 8) & 0xFF).toByte, (h & 0xFF).toByte,
          ((w >> 8) & 0xFF).toByte, (w & 0xFF).toByte, 3)
        val prefix = (0 until rnd.nextInt(4)).flatMap(_ =>
          seg(benignMarkers(rnd.nextInt(benignMarkers.size)),
            Array.fill[Byte](rnd.nextInt(40))(rnd.nextInt(256).toByte))).toArray
        val full = soi ++ prefix ++ seg(0xC0, sof)
        rnd.nextInt(3) match {
          case 0 => (i.toLong, full, Some((w.toLong, h.toLong)))
          case 1 => // truncate before the SOF payload is readable
            (i.toLong, full.take(soi.length + prefix.length + 3), None)
          case _ => // corrupt: break the SOI magic
            (i.toLong, Array(0x00.toByte) ++ full.tail, None)
        }
      }
    val got = cases.map { case (i, b, _) => (i, b) }.toDF("id", "img")
      .select($"id", ImageExprs.jpegWidth($"img").as("w"),
        ImageExprs.jpegHeight($"img").as("h"))
      .as[(Long, Option[Long], Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    cases.foreach { case (i, _, exp) =>
      val (ew, eh) = (exp.map(_._1), exp.map(_._2))
      assert(got(i) == ((ew, eh)), s"case $i expected $exp got ${got(i)}")
    }
  }

  test("property: normalizeUrl is idempotent and never grows the URL, " +
    "over random scheme/host/port/path/param/fragment combos") {
    import graft.operators.Curation
    val urls: Gen[String] = for {
      scheme <- Gen.oneOf("http", "HTTPS", "https")
      host <- Gen.oneOf("Ex.COM", "a.b.io", "WWW.Site.ORG")
      port <- Gen.oneOf("", ":443", ":80", ":8080")
      path <- Gen.oneOf("", "/", "/A/b", "/x/", "/p.html", "/a&b=c", "/x&gclid=1/p")
      ps <- Gen.someOf(Seq("utm_source=x", "q=1", "fbclid=z", "utm_m=2", "id=5"))
      frag <- Gen.oneOf("", "#f", "#sec-2")
    } yield s"$scheme://$host$port$path" +
      (if (ps.isEmpty) "" else "?" + ps.mkString("&")) + frag
    val cases = sample(Gen.listOfN(300, urls), 23)
    val rows = cases.toDF("u").select($"u",
      Curation.normalizeUrl($"u").as("c"),
      Curation.normalizeUrl(Curation.normalizeUrl($"u")).as("cc"))
      .as[(String, String, String)].collect()
    rows.foreach { case (u, c, cc) =>
      assert(cc == c, s"not idempotent: $u -> $c -> $cc")
      assert(c.length <= u.length, s"grew: $u -> $c")
      assert(!c.contains("#") && !c.contains("utm_") && !c.contains("fbclid"),
        s"residual junk: $u -> $c")
    }
  }

  test("property: sequencePack conserves tokens — offsets chain (next " +
    "prefix = prev prefix + n_tokens) and bins advance monotonically") {
    import graft.operators.Curation
    val docs = sample(Gen.listOfN(120,
      Gen.zip(Gen.choose(0, 40), Gen.oneOf("g1", "g2", "g3"))), 31)
      .zipWithIndex.map { case ((n, g), i) =>
        (i.toLong, (1 to n).map("w" + _).mkString(" "), g) }
    val got = Curation.sequencePack(docs.toDF("doc_id", "text", "source"),
      "doc_id", "text", "source", capacity = 64)
      .as[(String, Long, Long, Long, Long)].collect()
      .groupBy(_._1).map { case (g, rs) => g -> rs.sortBy(_._2) }
    got.foreach { case (g, rs) =>
      var prefix = 0L
      rs.foreach { case (_, id, n, binIdx, binOff) =>
        assert(binIdx == prefix / 64, s"$g/$id bin")
        assert(binOff == prefix % 64, s"$g/$id off")
        prefix += n
      }
    }
  }

  test("property: unigram LM score is invariant under within-doc token " +
    "permutation and monotone under vocabulary rarity") {
    import graft.operators.Curation
    // random docs over a small vocab; doc 900/901 are permutations
    val vocab = Vector("ax", "bx", "cx", "dx", "ex")
    val docs = sample(Gen.listOfN(60,
      Gen.nonEmptyListOf(Gen.oneOf(vocab))), 41)
      .zipWithIndex.map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
    val perm = Seq((900L, "ax bx cx dx"), (901L, "dx cx bx ax"))
    val all = (docs ++ perm).toDF("doc_id", "text")
    val got = Curation.unigramLmScore(all, "doc_id", "text", minCount = 2L)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(got(900L) == got(901L),
      "unigram model: the score is a bag-of-words statistic")
    // appending one OOV token never lowers mean surprisal below the
    // all-common doc's score
    val base = (docs ++ Seq((1L, "ax ax ax"), (2L, "ax ax zzz_rare")))
      .toDF("doc_id", "text")
    val g2 = Curation.unigramLmScore(base, "doc_id", "text", minCount = 2L)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(g2(2L) > g2(1L), "an OOV token raises mean surprisal")
  }

  test("property: hashFeaturize weight bounds — per-bucket |weight| <= " +
    "token count, total tokens = sum of |contributions|, stable across " +
    "re-evaluation") {
    import graft.operators.Curation
    val docs = sample(Gen.listOfN(50,
      Gen.nonEmptyListOf(Gen.identifier.map(_.take(6)))), 43)
      .zipWithIndex.map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
    val df = docs.toDF("doc_id", "text")
    val rows = Curation.hashFeaturize(df, "doc_id", "text", dim = 8)
      .as[(Long, Long, Long)].collect()
    val ntok = docs.map { case (i, t) =>
      i -> t.split("\\W+").count(_.nonEmpty).toLong }.toMap
    rows.groupBy(_._1).foreach { case (id, rs) =>
      assert(rs.map(r => math.abs(r._3)).max <= ntok(id))
      assert(rs.map(r => math.abs(r._3)).sum <= ntok(id),
        "signed cancellation can only shrink mass")
      assert(rs.forall(r => r._2 >= 0 && r._2 < 8))
    }
    val again = Curation.hashFeaturize(df, "doc_id", "text", dim = 8)
      .as[(Long, Long, Long)].collect()
    assert(rows.sortBy(r => (r._1, r._2)).toSeq ==
      again.sortBy(r => (r._1, r._2)).toSeq)
  }

  test("property: SampledWindowHashes equals the relational HOF recipe " +
    "(md5-prefix mod-stride sampling, space-joined window md5) on random docs") {
    val rnd = new scala.util.Random(41)
    val docs = (1 to 60).map { i =>
      val n = rnd.nextInt(30)
      (i.toLong, (1 to n).map(_ => s"w${rnd.nextInt(40)}").mkString("  ", " ", ""))
    }
    val window = 4; val stride = 2
    val df = docs.toDF("doc_id", "text")
    val kern = df.select($"doc_id",
      graft.functions.WindowHashExprs.sampledWindowHashes(
        split($"text", "\\s+"), window, stride).as("hs"))
      .as[(Long, Seq[String])].collect().toMap
    val hof = df.selectExpr("doc_id", s"""
      CASE WHEN size(array_remove(split(text, '\\\\s+'), '')) >= $window THEN
        transform(
          filter(sequence(1, size(array_remove(split(text, '\\\\s+'), '')) - ${window - 1}),
            p -> cast(conv(substring(md5(element_at(array_remove(split(text, '\\\\s+'), ''), p)), 1, 15), 16, 10) as bigint) % $stride = 0),
          p -> md5(concat_ws(' ', slice(array_remove(split(text, '\\\\s+'), ''), p, $window))))
      ELSE array() END as hs""")
      .as[(Long, Seq[String])].collect().toMap
    docs.foreach { case (id, _) =>
      assert(kern(id) == hof(id), s"doc $id: ${kern(id)} vs ${hof(id)}")
    }
  }

  test("property: substring dedup — duplicating a random doc verbatim " +
    "flags ALL of both copies' windows; stride=1 window count is exact") {
    import graft.operators.Dedup
    val body = sample(Gen.listOfN(30, Gen.identifier.map(_.take(5))), 47)
      .mkString(" ")
    val d = Seq((1L, body), (2L, body), (3L, "solo " * 20))
      .toDF("doc_id", "text")
    val got = Dedup.substringDupSpans(d, "doc_id", "text",
      window = 8, stride = 1)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    // stride 1: every offset anchors -> exactly len-7 windows
    val n = body.split("\\s+").length
    assert(got(1L)._2 == n - 7 && got(2L)._2 == n - 7)
    assert(got(1L)._3 == got(1L)._2 && got(1L)._4 == 1.0,
      "verbatim duplicate: every window of both copies is flagged")
    assert(got(3L)._3 == 0L)
  }

  test("property: nearestCentroidId equals the former literal " +
    "-array_max(array(struct(cosine, -cid))) formulation at k = 1, 8, 64") {
    val rnd = new scala.util.Random(67)
    val dim = 16
    def vec(): Seq[Double] = Seq.fill(dim)(rnd.nextInt(2001) / 1000.0 - 1.0)
    Seq(1, 8, 64).foreach { k =>
      val drawn = (0 until k).map(i => (10L + 3 * i, vec()))
      // k > 1: the last centroid repeats centroid 1's vector under a
      // smaller id, so that tie must break on the id, not codebook order
      val cb = if (k == 1) drawn else drawn.init :+ (1L -> drawn(1)._2)
      val literal = -array_max(array(cb.map { case (cid, cv) =>
        struct(graft.functions.VectorExprs.cosineSim($"v", typedlit(cv))
          .as("c"), lit(-cid).as("nc"))
      }: _*)).getField("nc").cast("long")
      // random vectors, every centroid itself, the all-zero vector (NaN
      // cosine against every centroid) and a null vector (null cosine
      // against every centroid: the smaller id wins, as in assignCells)
      val vs = Seq.fill(300)(vec()) ++ cb.map(_._2) :+ Seq.fill(dim)(0.0) :+
        null
      val rows = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("id", "v").repartition(2)
        .select($"id",
          graft.functions.CentroidExprs.nearestCentroidId($"v", cb),
          literal)
        .as[(Long, Long, Long)].collect()
      assert(rows.length == vs.length)
      rows.foreach { case (i, got, exp) =>
        assert(got == exp, s"k=$k vector $i: kernel $got, literal $exp")
      }
      if (k > 1) assert(rows.exists(_._2 == 1L), "the tie is exercised")
    }
  }
}
