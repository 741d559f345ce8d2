package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.WebGraph

class WebGraphSpec extends SparkSuite {
  import spark.implicits._

  private def pages(rows: (Long, String, String)*) =
    rows.toDF("doc_id", "source", "h")
      .select($"doc_id", $"source", $"h".cast("binary").as("html"))

  test("link extraction: multiple anchors, attributes tolerated, malformed " +
    "markup degrades to missed edges (never failure), binary input") {
    val p = pages(
      (1L, "a.com",
        """<html><a href="http://x.com/p">one</a> mid """ +
          """<a href="https://y.com/q" rel="nofollow">two</a></html>"""),
      (2L, "b.com", """<a href="http://z.com">z!</a><a href="broken>no</a>"""),
      (3L, "c.com", "no anchors at all"))
    val got = WebGraph.extractLinks(p, "doc_id", "html")
      .as[(Long, String, String)].collect().toSet
    assert(got == Set(
      (1L, "http://x.com/p", "one"),
      (1L, "https://y.com/q", "two"),
      (2L, "http://z.com", "z!")),
      "attribute-bearing anchor matched; quote-less href skipped quietly")
    // the common well-formed shapes: attributes BEFORE href, uppercase tag
    val p2 = pages(
      (9L, "w.com",
        """<a class="nav" rel="x" href="http://pre.com/a">pre</a>""" +
          """<A HREF="http://up.com/b">up</A>"""))
    val got2 = WebGraph.extractLinks(p2, "doc_id", "html")
      .as[(Long, String, String)].collect().toSet
    assert(got2 == Set(
      (9L, "http://pre.com/a", "pre"),
      (9L, "http://up.com/b", "up")),
      "attributes before href and case-insensitive tags must match")
  }

  test("domain edges: host lowered, self-loops dropped, multiplicity " +
    "counted, host-less hrefs dropped") {
    val p = pages(
      (1L, "a.com",
        """<a href="http://B.com/1">x</a><a href="http://b.com/2">y</a>""" +
          """<a href="http://a.com/self">self</a><a href="">empty</a>"""),
      (2L, "a.com", """<a href="http://c.com">z</a>"""))
    val got = WebGraph.domainEdges(p, "source", "doc_id", "html")
      .as[(String, String, Long)].collect().toSet
    assert(got == Set(("a.com", "b.com", 2L), ("a.com", "c.com", 1L)))
  }

  test("pagerank step: hand-computed values, dangling node gets teleport " +
    "only, mass conservation") {
    // A->B, A->C, B->C; C dangling
    val edges = Seq(("A", "B", 1L), ("A", "C", 1L), ("B", "C", 1L))
      .toDF("src_domain", "dst_domain", "n_links")
    val pr = WebGraph.pagerankStep(edges).as[(String, Double)].collect().toMap
    val p4 = (x: Double) => math.floor(x * 10000 + 0.5) / 10000
    assert(pr("A") == p4(0.15))
    assert(pr("B") == p4(0.15 + 0.85 * 0.5))
    assert(pr("C") == p4(0.15 + 0.85 * 1.5))
    // conservation: teleport 3*0.15 + damped distributed mass 2*0.85
    assert(math.abs(pr.values.sum - (0.45 + 1.7)) < 1e-3)
  }

  test("anchor-text index: terms tokenized per inbound anchor, self-link " +
    "anchors excluded, counts accumulate across sources") {
    val p = pages(
      (1L, "a.com", """<a href="http://t.com/x">Best Spark guide</a>"""),
      (2L, "b.com", """<a href="http://t.com/y">spark GUIDE</a>"""),
      (3L, "t.com", """<a href="http://t.com/self">own nav spark</a>"""))
    val got = WebGraph.anchorTextIndex(p, "source", "doc_id", "html")
      .as[(String, String, Long)].collect().toSet
    assert(got == Set(
      ("t.com", "best", 1L), ("t.com", "spark", 2L), ("t.com", "guide", 2L)),
      "case-folded terms summed across inbound anchors; self-link ignored")
  }

  test("text extraction: script/style dropped, tags become separators, " +
    "entities single-decode in standard order, whitespace collapses") {
    val d = Seq(
      (1L, "<html><head><style>p{c}</style><script>if(a<b){}</script>" +
        "</head><body><p>Hello</p><p>world</p></body></html>"),
      (2L, "A &amp;amp; B &lt;tag&gt; &quot;q&quot;&nbsp;end"),
      (3L, "<div>spaced   \n  text</div>"))
      .toDF("doc_id", "h")
      .select($"doc_id", $"h".cast("binary").as("html"))
    val got = d.select($"doc_id", WebGraph.extractText($"html"))
      .as[(Long, String)].collect().toMap
    assert(got(1L) == "Hello world",
      "adjacent text nodes must not fuse; script body with < dropped whole")
    assert(got(2L) == "A &amp; B <tag> \"q\" end",
      "&amp;amp; decodes ONCE (amp last); lt/gt/quot/nbsp decoded")
    assert(got(3L) == "spaced text")
  }

  test("iterated pagerank: step 1 equals pagerankStep; ranks move toward " +
    "the stationary ordering and total mass is conserved per round") {
    val edges = Seq(("A", "B", 1L), ("A", "C", 1L), ("B", "C", 1L),
      ("C", "A", 1L)).toDF("src_domain", "dst_domain", "n_links")
    val one = WebGraph.pagerank(edges, iters = 1)
      .as[(String, Double)].collect().toMap
    val step = WebGraph.pagerankStep(edges)
      .as[(String, Double)].collect().toMap
    assert(one == step, "one iteration must equal the single-step operator")
    val ten = WebGraph.pagerank(edges, iters = 10)
      .as[(String, Double)].collect().toMap
    // strongly connected 4-edge cycle graph: C collects two in-edges and
    // must dominate; mass stays ~n at every horizon (no dangling nodes)
    assert(ten("C") > ten("A") && ten("C") > ten("B"))
    assert(math.abs(ten.values.sum - 3.0) < 1e-2,
      s"mass not conserved: ${ten.values.sum}")
  }

  test("iterated pagerank with a dangling domain: rank mass LEAKS by " +
    "design (documented semantics) — hand-computed horizon values") {
    // A -> B, B dangling: B's damped mass is never redistributed
    val edges = Seq(("A", "B", 1L)).toDF("src_domain", "dst_domain", "n_links")
    val p4 = (x: Double) => math.floor(x * 10000 + 0.5) / 10000
    val r3 = WebGraph.pagerank(edges, iters = 3)
      .as[(String, Double)].collect().toMap
    // A never receives inflow: 0.15 at every horizon.
    // B: round1 0.15+0.85*1 = 1.0; round2 0.15+0.85*0.15 = 0.2775;
    //    round3 same (A is stationary at 0.15)
    assert(r3("A") == p4(0.15) && r3("B") == p4(0.15 + 0.85 * 0.15), r3.toString)
    // total mass 0.4275 << 2.0 — the leak the scaladoc documents; a
    // mass-conserving formulation would keep the sum at 2.0 every round
    assert(r3.values.sum < 1.0, s"expected leaked mass, got ${r3.values.sum}")
  }

  test("conserving pagerank: dangling mass redistributed, Σpr = n at " +
    "every horizon; equals the leaked variant on a dangling-free graph") {
    val dangling = Seq(("A", "B", 1L)).toDF("src_domain", "dst_domain", "n_links")
    for (it <- Seq(1, 3)) {
      val pr = WebGraph.pagerankConserving(dangling, iters = it)
        .as[(String, Double)].collect().toMap
      assert(math.abs(pr.values.sum - 2.0) < 1e-3,
        s"iters=$it mass ${pr.values.sum} != 2.0")
    }
    // hand-check round 1: dm0 = pr(B) = 1 -> each gets 0.85*0.5 uniform;
    // B additionally gets A's full outflow 0.85*1
    val r1 = WebGraph.pagerankConserving(dangling, iters = 1)
      .as[(String, Double)].collect().toMap
    val p4 = (x: Double) => math.floor(x * 10000 + 0.5) / 10000
    assert(r1("A") == p4(0.15 + 0.85 * 0.5) && r1("B") == p4(0.15 + 0.85 * 1.5),
      r1.toString)
    // no dangling domains -> dmass = 0 every round -> identical results
    val cycle = Seq(("A", "B", 1L), ("B", "C", 1L), ("C", "A", 1L))
      .toDF("src_domain", "dst_domain", "n_links")
    val a = WebGraph.pagerank(cycle, iters = 4).as[(String, Double)]
      .collect().toMap
    val b = WebGraph.pagerankConserving(cycle, iters = 4)
      .as[(String, Double)].collect().toMap
    assert(a == b, s"dangling-free graphs must agree: $a vs $b")
  }

  test("plan: extraction is scan-local; pagerank joins out-degree " +
    "broadcast — no sort-merge join anywhere") {
    val p = pages((1L, "a.com", """<a href="http://b.com">x</a>"""))
    val ex = WebGraph.extractLinks(p, "doc_id", "html")
      .queryExecution.executedPlan.toString
    assert(!ex.contains("Exchange"), ex)
    val edges = Seq(("A", "B", 1L)).toDF("src_domain", "dst_domain", "n_links")
    val pp = WebGraph.pagerankStep(edges)
      .queryExecution.executedPlan.toString
    assert(pp.contains("BroadcastHashJoin"), pp)
    assert(!pp.contains("SortMergeJoin"), pp)
  }

  test("trustrank: trust flows only along link paths from seeds; " +
    "unreached (spam) domains score exactly 0; hand-computed rounds") {
    // S -> A -> B, plus spam C -> A (C unreachable from S)
    val edges = Seq(("S", "A", 1L), ("A", "B", 1L), ("C", "A", 1L))
      .toDF("src_domain", "dst_domain", "n_links")
    // round 1 from t0 = {S: 1.0}: t(S)=0.15, t(A)=0.85*(t0(S)+t0(C))=0.85,
    // t(B)=0.85*t0(A)=0, t(C)=0
    val r1 = WebGraph.trustrank(edges, Seq("S"), iters = 1)
      .as[(String, Double)].collect().toMap
    assert(r1 == Map("S" -> 0.15, "A" -> 0.85, "B" -> 0.0, "C" -> 0.0), r1.toString)
    // round 2: t(A)=0.85*t1(S)=0.1275, t(B)=0.85*t1(A)=0.7225, t(S)=0.15
    val r2 = WebGraph.trustrank(edges, Seq("S"), iters = 2)
      .as[(String, Double)].collect().toMap
    assert(r2 == Map("S" -> 0.15, "A" -> 0.1275, "B" -> 0.7225, "C" -> 0.0),
      r2.toString)
    // C never acquires trust at ANY horizon — the spam-demotion contract
    val r5 = WebGraph.trustrank(edges, Seq("S"), iters = 5)
      .as[(String, Double)].collect().toMap
    assert(r5("C") == 0.0)
    // two seeds split the teleport share
    val r0 = WebGraph.trustrank(edges, Seq("S", "C"), iters = 1)
      .as[(String, Double)].collect().toMap
    assert(r0("A") == 0.85 && r0("S") == 0.075 && r0("C") == 0.075,
      s"uniform seed share: $r0")
  }

  test("spam mass: domains unreached by trust have m = 1 exactly; " +
    "trusted-path domains sit below; composition matches the published " +
    "pr/tr vectors") {
    // S -> A -> B, plus spam C -> A (C unreachable from S); n = 4 domains
    val edges = Seq(("S", "A", 1L), ("A", "B", 1L), ("C", "A", 1L))
      .toDF("src_domain", "dst_domain", "n_links")
    val m = WebGraph.spamMass(edges, Seq("S"), iters = 2)
      .as[(String, Double, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    val pr = WebGraph.pagerank(edges, iters = 2)
      .as[(String, Double)].collect().toMap
    val tr = WebGraph.trustrank(edges, Seq("S"), iters = 2)
      .as[(String, Double)].collect().toMap
    // composition contract: m = round4((pr - 4·tr)/pr) of the PUBLISHED
    // (4dp) vectors
    m.foreach { case (d, (p, t, sm)) =>
      assert(p == pr(d) && t == tr(d))
      val exp = math.floor((p - 4.0 * t) / p * 10000.0 + 0.5) / 10000.0
      assert(sm == exp, s"$d: $sm vs $exp")
    }
    // C holds rank (teleport floor) but zero trust → spam mass exactly 1
    assert(m("C")._3 == 1.0, s"untrusted domain must be all-spam-mass: $m")
    // domains on a trusted path sit strictly below 1; the seed lowest
    assert(m("A")._3 < 1.0 && m("B")._3 < 1.0)
    assert(m("S")._3 == m.values.map(_._3).min, "seed carries least spam mass")
  }

  test("frontier rank: no fetched URL is ever re-queued (bloom FN-free " +
    "propagates); survivors ranked by destination-domain pagerank desc; " +
    "every output is an extracted candidate") {
    import graft.operators.Sketches
    // pages on 3 source domains linking to a.com (authority) and b.com
    val html = (to: String, p: Int) =>
      s"""<html><a href="http://$to/page$p">x</a></html>""".getBytes("UTF-8")
    val pages = Seq(
      (1L, "s0", html("a.com", 1)), (2L, "s1", html("a.com", 2)),
      (3L, "s2", html("a.com", 3)), (4L, "s0", html("b.com", 4)),
      (5L, "s1", html("b.com", 5)))
      .toDF("doc_id", "source", "html")
    val seen = Seq("http://a.com/page1", "http://b.com/page4").toDF("url")
    val got = WebGraph.frontierRank(pages, "source", "doc_id", "html",
      seen, iters = 2, mBits = 1024, kHashes = 4, topK = 10)
      .as[(String, String, Double)].collect()
    val urls = got.map(_._1).toSet
    assert(!urls.contains("http://a.com/page1") &&
      !urls.contains("http://b.com/page4"),
      s"fetched URLs must never re-queue: $urls")
    assert(urls.subsetOf(Set("http://a.com/page2", "http://a.com/page3",
      "http://b.com/page5")), urls.toString)
    // a.com has 3 in-links vs b.com's 2 -> higher rank -> queued first
    val pr = WebGraph.pagerank(
      WebGraph.domainEdges(pages, "source", "doc_id", "html"), iters = 2)
      .as[(String, Double)].collect().toMap
    got.foreach { case (_, d, p) => assert(p == pr(d)) }
    assert(got.map(_._3).toSeq == got.map(_._3).sorted.reverse.toSeq)
    assert(got.head._2 == "a.com", s"authority domain first: ${got.toSeq}")
    // bloom FP can only DROP candidates, never admit a seen one — verify
    // the probe agrees with exact membership on this fixture
    val bits = Sketches.bloomBits(seen, "url", 1024, 4)
    val probe = Sketches.bloomProbe(bits,
      Seq("http://a.com/page2", "http://a.com/page1").toDF("url"), "url",
      1024, 4).as[(String, Boolean)].collect().toMap
    assert(probe("http://a.com/page1"), "seen must probe true")
  }

  test("hits step: hand-computed auth/hub on a weighted graph; pure hubs " +
    "get zero authority and pure authorities zero hub") {
    // A -2-> C, B -1-> C, B -3-> D : a1(C)=3, a1(D)=3;
    // h1(A)=2*3=6, h1(B)=1*3+3*3=12; C,D are pure authorities
    val edges = Seq(("A", "C", 2L), ("B", "C", 1L), ("B", "D", 3L))
      .toDF("src_domain", "dst_domain", "n_links")
    val got = WebGraph.hitsStep(edges)
      .as[(String, Double, Double)].collect().map(r => r._1 -> r).toMap
    assert(got("A") == (("A", 0.0, 6.0)))
    assert(got("B") == (("B", 0.0, 12.0)))
    assert(got("C") == (("C", 3.0, 0.0)))
    assert(got("D") == (("D", 3.0, 0.0)))
  }

  test("graph steps stage their edge table without leaving it cached: " +
    "after hitsStep, degreeTable and pagerankStep run, the cache is empty") {
    val edges = Seq(("P", "Q", 4L), ("Q", "R", 1L), ("R", "P", 2L))
      .toDF("src_domain", "dst_domain", "n_links")
    val cache = spark.sharedState.cacheManager
    val cachedEdges = edges.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    Seq[(String, DataFrame => DataFrame)](
      "hitsStep" -> WebGraph.hitsStep,
      "degreeTable" -> WebGraph.degreeTable,
      "pagerankStep" -> (e => WebGraph.pagerankStep(e))).foreach {
      case (name, step) =>
        assert(step(edges).collect().length == 3, name)
        assert(cache.lookupCachedData(cachedEdges).isEmpty,
          s"$name left its edge table cached")
    }
  }

  test("rank staging: the edge table is always staged; out-weights and " +
    "domains only when a loop reads them more than once; one staging " +
    "serves both spam-mass chains") {
    val edges = Seq(("A", "B", 1L), ("A", "C", 1L), ("B", "C", 1L),
      ("C", "A", 1L)).toDF("src_domain", "dst_domain", "n_links")
    val sc = spark.sparkContext
    // localCheckpoint actions a call runs; each stages one RDD. Counted
    // through the listener rather than the persistent-RDD map, whose
    // weakly held entries may be collected once a loop drops a table
    def staged(f: => DataFrame): Int = {
      val n = new java.util.concurrent.atomic.AtomicInteger
      val rec = new org.apache.spark.sql.util.QueryExecutionListener {
        def onSuccess(fn: String, qe: org.apache.spark.sql.execution.QueryExecution,
                      ns: Long): Unit = if (fn == "localCheckpoint") n.incrementAndGet()
        def onFailure(fn: String, qe: org.apache.spark.sql.execution.QueryExecution,
                      e: Exception): Unit = ()
      }
      org.apache.spark.TestBus.drain(sc)
      spark.listenerManager.register(rec)
      try { f.collect(); org.apache.spark.TestBus.drain(sc) }
      finally spark.listenerManager.unregister(rec)
      n.get
    }
    // one round: only the edge table, which the result still references
    val before = sc.getPersistentRDDs.keySet
    val one = WebGraph.pagerank(edges, iters = 1)
    assert((sc.getPersistentRDDs.keySet -- before).size == 1,
      "a single round stages the edge table alone")
    assert(one.collect().length == 3)
    assert(staged(WebGraph.pagerank(edges, iters = 1)) == 1)
    assert(staged(WebGraph.pagerankStep(edges)) == 1)
    assert(staged(WebGraph.trustrank(edges, Seq("A"), iters = 1)) == 1)
    // three rounds: edges + out-weights + domains, then rounds 1 and 2
    assert(staged(WebGraph.pagerank(edges, iters = 3)) == 5)
    assert(staged(WebGraph.trustrank(edges, Seq("A"), iters = 3)) == 5)
    // the dangling set adds one at any horizon
    assert(staged(WebGraph.pagerankConserving(edges, iters = 1)) == 2)
    assert(staged(WebGraph.pagerankConserving(edges, iters = 3)) == 6)
    // spam mass: ONE staging set (3) for both chains, 2 rounds each
    assert(staged(WebGraph.spamMass(edges, Seq("A"), iters = 3)) == 7)
    assert(staged(WebGraph.spamMass(edges, Seq("A"), iters = 1)) == 3)
  }

  test("degree table: distinct-neighbor counts and weight sums per " +
    "direction; missing directions zero-filled") {
    val edges = Seq(("A", "C", 2L), ("B", "C", 1L), ("B", "D", 3L))
      .toDF("src_domain", "dst_domain", "n_links")
    val got = WebGraph.degreeTable(edges)
      .as[(String, Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got("A") == (("A", 1L, 2L, 0L, 0L)))
    assert(got("B") == (("B", 2L, 4L, 0L, 0L)))
    assert(got("C") == (("C", 0L, 0L, 2L, 3L)))
    assert(got("D") == (("D", 0L, 0L, 1L, 3L)))
  }

  test("robots filter: longest prefix wins, allow beats disallow on tie, " +
    "unmatched path and rule-less host default to allowed, root path " +
    "normalized") {
    val p = Seq(
      (1L, "https://a.com/private/x"),      // disallow /private
      (2L, "https://a.com/private/ok/x"),   // allow /private/ok (longer)
      (3L, "https://a.com/pub/x"),          // tie at /pub -> allow wins
      (4L, "https://a.com/other"),          // no matching rule -> allowed
      (5L, "https://a.com"),                // empty path -> '/' -> unmatched
      (6L, "https://norules.org/private/x") // host without robots -> allowed
    ).toDF("doc_id", "url")
    val r = Seq(
      ("a.com", "disallow", "/private"),
      ("a.com", "allow", "/private/ok"),
      ("a.com", "allow", "/pub"),
      ("a.com", "disallow", "/pub"))
      .toDF("host", "rule", "path_prefix")
    val got = WebGraph.robotsFilter(p, r, "url")
      .select($"doc_id", $"path", $"matched_len", $"allowed")
      .as[(Long, String, Long, Boolean)].collect().map(x => x._1 -> x).toMap
    assert(got(1L) == ((1L, "/private/x", 8L, false)))
    assert(got(2L) == ((2L, "/private/ok/x", 11L, true)),
      "the longer allow must override the shorter disallow")
    assert(got(3L) == ((3L, "/pub/x", 4L, true)),
      "equal-length allow and disallow must resolve to allow")
    assert(got(4L) == ((4L, "/other", -1L, true)))
    assert(got(5L) == ((5L, "/", -1L, true)))
    assert(got(6L) == ((6L, "/private/x", -1L, true)))
  }

  test("robots filter: scheme-less URLs parse host AND path consistently — " +
    "a malformed URL cannot fail open past a disallow rule") {
    val p = Seq(
      (1L, "a.com/private/x"),          // scheme-less: must still match
      (2L, "a.com/pub/x"),              // scheme-less allowed path
      (3L, "http://a.com/private/x"))   // plain http: same host+path
      .toDF("doc_id", "url")
    val r = Seq(("a.com", "disallow", "/private"), ("a.com", "allow", "/pub"))
      .toDF("host", "rule", "path_prefix")
    val got = WebGraph.robotsFilter(p, r, "url")
      .select($"doc_id", $"host", $"path", $"allowed")
      .as[(Long, String, String, Boolean)].collect().map(x => x._1 -> x).toMap
    assert(got(1L) == ((1L, "a.com", "/private/x", false)),
      "scheme-less URL must NOT bypass the disallow rule (fail-open bug)")
    assert(got(2L) == ((2L, "a.com", "/pub/x", true)))
    assert(got(3L) == ((3L, "a.com", "/private/x", false)))
  }
}
