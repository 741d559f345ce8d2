package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Staging
import graft.operators.TextAnalysis.pround4

/**
 * Web-graph operators over the pages table's raw `html` column — link
 * extraction, link-graph degree stats, and a PageRank power-iteration
 * step. This is the crawl-side counterpart of the text-curation surface:
 * the reference parses log text into structured fields
 * (`LogProcessorService.java:150-210`); here the same vectorized-regex
 * parse idea is applied to markup, and the extracted edges feed plain
 * relational graph aggregates. No graph framework — at web scale the
 * edge list IS a table and every step below is one bounded shuffle.
 */
object WebGraph {

  /**
   * Anchor extraction: every `<a ... href="...">text</a>` in the html
   * bytes → one (href, anchor) row. Case-insensitive, attributes before
   * or after href tolerated (the common well-formed shapes); unquoted
   * hrefs and anchors containing nested tags are dropped quietly —
   * malformed-or-exotic markup degrades to missed edges, never to
   * failures, the right trade for link-graph construction at 10¹²
   * pages. Pure scan-local regexp (RE2-portable: no lookarounds, two
   * capture groups extracted by index) over the binary column cast to
   * string — no DOM. `carryCols` ride along on the single scan so
   * callers never re-join the pages table to recover their own columns.
   */
  private[graft] val AnchorRe =
    "(?i)<a\\s[^>]*href=\"([^\"]*)\"[^>]*>([^<]*)</a>"

  def extractLinks(pages: DataFrame, idCol: String, htmlCol: String,
                   carryCols: String*): DataFrame = {
    val s = col(htmlCol).cast("string")
    // ONE matcher pass per page emitting both capture groups
    // (graft.functions.RegexCapturePairs — same java.util.regex engine and
    // pattern as the former arrays_zip(regexp_extract_all(g1),
    // regexp_extract_all(g2)), which ran the anchor automaton over the
    // html twice; pair equality pinned in PropertySpec)
    pages.select(col(idCol) +: carryCols.map(col) :+
        explode(graft.functions.AnchorExprs.capturePairs(s, AnchorRe,
          "href", "anchor")).as("_l"): _*)
      .select(col(idCol) +: carryCols.map(col) :+
        col("_l").getField("href").as("href") :+
        col("_l").getField("anchor").as("anchor"): _*)
  }

  /**
   * Main-text extraction from html bytes — the canonical crawl→corpus
   * step (trafilatura/jusText reduced to its deterministic core):
   * script/style subtrees dropped, every remaining tag replaced by a
   * space (so adjacent text nodes never fuse), the five ubiquitous
   * entities decoded (`&amp;` LAST so `&amp;lt;` single-decodes, the
   * standard order), whitespace collapsed, ends trimmed. Pure codegen
   * regexp chain, RE2-portable (inline `(?s)` + non-greedy, no
   * lookaround) so the DuckDB oracle mirrors it verbatim. For wrapper
   * markup around a text body this is EXACTLY inverse to wrapping — the
   * north-rule "extracted text per url" invariant is assertable
   * byte-for-byte (q_html_text; ParseSpec in-pipeline gate).
   */
  def extractText(html: Column): Column = {
    val s = html.cast("string")
    val noScript = regexp_replace(s, "(?s)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?s)<style[^>]*>.*?</style>", " ")
    val noTags = regexp_replace(noStyle, "<[^>]+>", " ")
    val ent = regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      regexp_replace(noTags,
        "&nbsp;", " "), "&lt;", "<"), "&gt;", ">"), "&quot;", "\""),
      "&amp;", "&")
    trim(regexp_replace(ent, "\\s+", " "))
  }

  /** Registrable host of an URL (scheme-relative tolerant), null if none. */
  def hostOf(url: Column): Column = {
    val h = regexp_extract(url, "^(?:https?://)?([^/:?#]+)", 1)
    when(h === "", null).otherwise(lower(h))
  }

  /**
   * Domain-level link graph from extracted anchors: distinct
   * (src_domain, dst_domain) edges with multiplicity, self-loops
   * dropped. ONE scan of the pages table (the source column rides the
   * extraction via `carryCols` — no self-join to recover it) + one
   * partial-agg shuffle on the edge key; the domain-domain edge list is
   * corpus-sublinear (Zipf hosts), which is what makes the downstream
   * graph aggregates broadcast-friendly.
   */
  def domainEdges(pages: DataFrame, srcCol: String, idCol: String,
                  htmlCol: String): DataFrame =
    extractLinks(pages, idCol, htmlCol, srcCol)
      .select(col(srcCol).as("src_domain"), hostOf(col("href")).as("dst_domain"))
      .filter(col("dst_domain").isNotNull &&
        col("dst_domain") =!= col("src_domain"))
      .groupBy(col("src_domain"), col("dst_domain"))
      .agg(count(lit(1)).as("n_links"))

  /**
   * Anchor-text index: for every target domain, the term counts of all
   * anchor texts pointing AT it — the classic off-page relevance signal
   * (anchors describe the target better than the target describes
   * itself; the reason link spam exists). Self-links excluded so a
   * site's own nav anchors don't vote. One scan (source rides the
   * extraction) + one (dst, term) partial-agg shuffle over the
   * (sublinear) extracted-anchor rows.
   */
  def anchorTextIndex(pages: DataFrame, srcCol: String, idCol: String,
                      htmlCol: String): DataFrame =
    extractLinks(pages, idCol, htmlCol, srcCol)
      .select(col(srcCol).as("src_domain"), hostOf(col("href")).as("dst_domain"),
        explode(TextAnalysis.toks(col("anchor"))).as("term"))
      .filter(col("dst_domain").isNotNull &&
        col("dst_domain") =!= col("src_domain"))
      .groupBy(col("dst_domain"), col("term"))
      .agg(count(lit(1)).as("n"))

  /**
   * PageRank iterated to a fixed number of power steps from the uniform
   * start pr₀ = 1, unrounded between iterations (only the output is
   * 4dp-rounded):
   *   pr_{k+1}(d) = (1−damping) + damping · Σ_{(s→d)} pr_k(s)·w(s→d)/out(s)
   * with w the edge multiplicity and out(s) = Σ_d w(s→d). One
   * [[powerIteration]] with the uniform teleport; staging per
   * [[rankStage]], each round's rank table checkpointed so lineage stays
   * constant-depth across iterations.
   *
   * DANGLING-MASS SEMANTICS (deliberate): a dangling domain (in-links but
   * no out-links) receives rank but redistributes none — its damped mass
   * LEAKS each iteration rather than being spread uniformly as in
   * standard power iteration, so on graphs with dangling domains the
   * total rank mass shrinks toward the teleport floor and iterated ranks
   * sit systematically below the mass-conserving formulation
   * (WebGraphSpec pins both: conservation on a dangling-free cycle,
   * measured leak on a graph with a sink). This is the "leaked PageRank"
   * variant, cheaper by one aggregate-and-broadcast per round. For a
   * single round the difference is rank-order-neutral (uniform
   * redistribution adds the same constant to every node); over multiple
   * rounds the constant feeds back through the graph and orderings can
   * drift, so use [[pagerankConserving]] when absolute rank values — or
   * deep-iteration orderings on dangling-heavy graphs — are the product.
   */
  def pagerank(edges: DataFrame, iters: Int,
               damping: Double = 0.85): DataFrame = {
    val (withOut, doms) = rankStage(edges, iters)
    powerIteration(withOut, doms, "pr", lit(1.0), None, iters, damping)
  }

  /** One PageRank power step — [[pagerank]] at `iters = 1`, the single
    * diagnostic round the q_pagerank oracle pins exactly. */
  def pagerankStep(edges: DataFrame, damping: Double = 0.85): DataFrame =
    pagerank(edges, 1, damping)

  /**
   * Stage what a rank loop reads: the edge table joined to its out-weights
   * (`withOut`) and the domain universe (`doms`). The edge table is always
   * checkpointed — both derived tables read it, and its lineage is
   * typically the HTML link-extraction scan (the edge table is sublinear
   * in the corpus). `withOut` and `doms` are checkpointed only
   * when they are read more than once: every round reads both, so that is
   * `iters × chains > 1` ([[spamMass]] runs two chains over one staging).
   * A single round leaves them lazy, so the plan reads the staged edges
   * and stages nothing it reads once. The out-weight join is NOT a forced
   * broadcast: the domain table can reach 10⁹ rows at full-crawl scale,
   * so AQE picks broadcast vs shuffle from its measured size.
   */
  private def rankStage(edges: DataFrame, iters: Int,
                        chains: Int = 1): (DataFrame, DataFrame) = {
    require(iters >= 1, "iters must be >= 1")
    val e = Staging(edges)
    val withOut = e
      .join(e.groupBy(col("src_domain"))
        .agg(sum(col("n_links")).as("outw")), Seq("src_domain"))
    val doms = e.select(col("src_domain").as("domain"))
      .union(e.select(col("dst_domain").as("domain"))).distinct()
    if (iters * chains > 1) (Staging(withOut), Staging(doms))
    else (withOut, doms)
  }

  /**
   * The rank recurrence, written once: from v₀ = teleport,
   *   v_{k+1} = (1−d)·teleport + d·(inflow_k [+ dmass_k/n])
   * where inflow_k(x) = Σ_{(s→x)} v_k(s)·w/out(s) is one join against the
   * staged out-weights plus ONE dst-keyed aggregate. With a `dangling`
   * set, the round's mass on it (one 1-row aggregate, broadcast) is
   * spread uniformly over the n domains — the mass-conserving variant.
   * Each round but the last is staged (constant-depth lineage) and
   * releases round k−1; the LAST stays lazy — consumed exactly once
   * downstream, a stage would only be read back (one dead job).
   * Output: (domain, `name`) rounded to 4dp. With teleport = 1.0 the
   * (1−d)·1.0 and 1.0·w/out products are exact in IEEE arithmetic, so the
   * uniform case computes the same doubles as the unscaled formula.
   */
  private def powerIteration(withOut: DataFrame, doms: DataFrame,
                             name: String, teleport: Column,
                             dangling: Option[DataFrame], iters: Int,
                             damping: Double): DataFrame = {
    lazy val nDoms = doms.count().toDouble // model-sized driver scalar
    var v = doms.withColumn(name, teleport)
    for (i <- 1 to iters) {
      val inflow = withOut
        .join(v.withColumnRenamed("domain", "src_domain"), Seq("src_domain"))
        .select(col("dst_domain").as("domain"),
          (col(name) * col("n_links").cast("double") / col("outw")).as("c"))
        .groupBy(col("domain")).agg(sum(col("c")).as("inflow"))
      val rows = doms.join(inflow, Seq("domain"), "left")
      val received = coalesce(col("inflow"), lit(0.0))
      val (in, mass) = dangling match {
        case None => (rows, received)
        case Some(dg) =>
          val dm = v.join(dg, Seq("domain"), "left_semi")
            .agg(coalesce(sum(col(name)), lit(0.0)).as("dmass"))
          (rows.crossJoin(broadcast(dm)), received + col("dmass") / nDoms)
      }
      val next = in.select(col("domain"),
        (lit(1.0 - damping) * teleport + lit(damping) * mass).as(name))
      val last = v
      v = if (i < iters) Staging(next) else next
      if (i > 1 && i < iters) Staging.release(last) // v₀ is a lazy view
    }
    v.select(col("domain"), pround4(col(name)).as(name))
  }

  /**
   * TrustRank to a fixed horizon (Gyöngyi, Garcia-Molina & Pedersen
   * 2004, "Combating Web Spam with TrustRank"): PageRank with the
   * teleport biased ENTIRELY onto a trusted seed set —
   * t₀ = s, t_{k+1} = (1−d)·s + d·M t_k with s uniform over seeds and
   * zero elsewhere. Trust reaches a domain only through a link path
   * from a seed, so spam clusters with no trusted in-path score exactly
   * 0 — the deliberate difference from [[pagerank]]'s uniform teleport
   * (which gives every domain the (1−d) floor). The same
   * [[powerIteration]] as pagerank with the seed teleport; the seed set
   * is a literal IN list (seed sets are human-curated — hundreds, not
   * millions).
   */
  def trustrank(edges: DataFrame, seeds: Seq[String], iters: Int,
                damping: Double = 0.85): DataFrame = {
    val tele = seedTeleport(seeds)
    val (withOut, doms) = rankStage(edges, iters)
    powerIteration(withOut, doms, "tr", tele, None, iters, damping)
  }

  /** TrustRank's teleport: 1/|seeds| on each seed domain, 0 elsewhere. */
  private def seedTeleport(seeds: Seq[String]): Column = {
    require(seeds.nonEmpty, "TrustRank needs a non-empty seed set")
    when(col("domain").isin(seeds.map(x => x: Any): _*),
      lit(1.0 / seeds.size)).otherwise(lit(0.0))
  }

  /**
   * Crawl-frontier prioritization — the composition a crawler's scheduler
   * actually runs, from pieces that are each oracle-pinned alone:
   * candidate URLs are the hrefs extracted from fetched pages
   * ([[extractLinks]]), already-fetched URLs are filtered through the
   * Bloom URL-seen sketch ([[Sketches.bloomBits]] — zero false negatives
   * means nothing fetched is ever re-queued; a false positive drops a
   * candidate, the crawl-safe direction), and the survivors are ranked
   * by the PageRank of their DESTINATION domain ([[pagerank]] — the
   * authority-first frontier ordering, the batch recast of OPIC/
   * priority-BFS scheduling).
   *
   * Plan: candidates and edges come from ONE pages scan each; the bloom
   * bit table is ≤ mBits rows (broadcast), the rank table is
   * domain-keyed (aggregate-scale, AQE-sized join); the final top-k is
   * TakeOrderedAndProject. Nothing corpus-scale shuffles more than once.
   */
  def frontierRank(pages: DataFrame, srcCol: String, idCol: String,
                   htmlCol: String, seenUrls: DataFrame, iters: Int = 3,
                   mBits: Int = 8192, kHashes: Int = 4,
                   topK: Int = 20): DataFrame =
    // ONE link-extraction scan feeds BOTH the rank edges and the candidate
    // URLs (the former shape ran the regexp extraction twice)
    frontierRankFromLinks(
      Staging(extractLinks(pages, idCol, htmlCol, srcCol)),
      srcCol, seenUrls, iters, mBits, kHashes, topK)

  /** [[frontierRank]] from an ALREADY-STAGED [[extractLinks]] table —
    * the seam for callers whose seen-set derivation reads the same
    * extraction (q_frontier): one staged scan feeds candidates, edges
    * AND the caller's seen set instead of re-running the anchor regex. */
  def frontierRankFromLinks(links: DataFrame, srcCol: String,
                            seenUrls: DataFrame, iters: Int = 3,
                            mBits: Int = 8192, kHashes: Int = 4,
                            topK: Int = 20): DataFrame = {
    val edges = links
      .select(col(srcCol).as("src_domain"), hostOf(col("href")).as("dst_domain"))
      .filter(col("dst_domain").isNotNull &&
        col("dst_domain") =!= col("src_domain"))
      .groupBy(col("src_domain"), col("dst_domain"))
      .agg(count(lit(1)).as("n_links"))
    val pr = pagerank(edges, iters)
    val cand = links
      .select(col("href").as("url"), hostOf(col("href")).as("domain"))
      .filter(col("domain").isNotNull)
      .distinct()
    val bits = Sketches.bloomBits(seenUrls, "url", mBits, kHashes)
    val unseen = Sketches.bloomProbe(bits, cand.select(col("url")), "url",
      mBits, kHashes)
      .filter(!col("maybe_seen")).select(col("url"))
    cand.join(unseen, Seq("url"))
      .join(pr, Seq("domain"))
      .select(col("url"), col("domain"), col("pr").as("priority"))
      .orderBy(col("priority").desc, col("url"))
      .limit(topK)
  }

  /**
   * Relative spam mass (Gyöngyi, Berkhin, Garcia-Molina & Pedersen 2006,
   * "Link Spam Detection Based on Mass Estimation", VLDB): the fraction
   * of a domain's PageRank that arrives through UNtrusted paths,
   * m = (PR − PR⁺)/PR, where PR⁺ is the rank earned when teleport lands
   * only on the trusted seeds. Here PR is [[pagerank]] (uniform teleport,
   * 1.0 per domain — total mass n) and PR⁺ = n · [[trustrank]] (seed
   * teleport totals 1.0, so the ×n rescale puts both vectors on the same
   * total teleport mass, the paper's core normalization). m → 1 means the
   * domain's rank is almost entirely spam-suspect; seeds themselves go
   * NEGATIVE (they hold more trusted than total rank under the leaked-PR
   * formulation) — the paper thresholds on m, this emits the raw value.
   *
   * Plan: ONE [[rankStage]] feeds both rank chains; both vectors are
   * domain-keyed aggregate-scale tables (never corpus-scale), so the
   * composition is ONE AQE-sized join plus scalar arithmetic; the domain
   * count is a driver scalar read from the staged domain table. Inputs
   * are the two operators' published 4dp-rounded ranks, so the division
   * composes engine-portably — both engines divide the same doubles.
   * PR ≥ (1−d) everywhere under uniform teleport, so the denominator
   * never vanishes.
   */
  def spamMass(edges: DataFrame, seeds: Seq[String], iters: Int,
               damping: Double = 0.85): DataFrame = {
    val tele = seedTeleport(seeds)
    val (withOut, doms) = rankStage(edges, iters, chains = 2)
    val pr = powerIteration(withOut, doms, "pr", lit(1.0), None, iters, damping)
    val tr = powerIteration(withOut, doms, "tr", tele, None, iters, damping)
    val nDoms = doms.count().toDouble
    pr.join(tr, Seq("domain"))
      .select(col("domain"), col("pr"), col("tr"),
        pround4((col("pr") - lit(nDoms) * col("tr")) / col("pr"))
          .as("spam_mass"))
  }

  /**
   * Mass-CONSERVING PageRank to a fixed horizon — the standard power
   * iteration [[pagerank]] deliberately is not: each round the damped
   * mass of DANGLING domains (in-links, no out-links) is summed and
   * redistributed uniformly across the domain universe, so Σpr stays
   * exactly n·1.0 through every round (spec-pinned on a dangling graph).
   * [[powerIteration]] with the dangling set (staged once); costs one
   * extra aggregate + broadcast per round over the leaked variant.
   */
  def pagerankConserving(edges: DataFrame, iters: Int,
                         damping: Double = 0.85): DataFrame = {
    val (withOut, doms) = rankStage(edges, iters)
    val dangling = Staging(doms
      .join(withOut.select(col("src_domain").as("domain")), Seq("domain"),
        "left_anti"))
    powerIteration(withOut, doms, "pr", lit(1.0), Some(dangling), iters,
      damping)
  }
  /**
   * Robots-exclusion filtering (RFC 9309 subset): decide per page whether
   * the crawl may keep it, from a rules table (host, rule ∈
   * allow|disallow, path_prefix). Precedence follows the standard:
   * among the host's rules whose path_prefix prefixes the page's path,
   * the LONGEST prefix wins; a length tie resolves to allow; a page
   * whose host has no matching rule (or no rules at all) is allowed.
   * Subset scope — single '*' agent group, literal prefixes (no $ / *
   * wildcards) — documented divergence from full REP.
   *
   * Scale: rules are first aggregated to ONE array row per host (robots
   * files are KB-sized, so per-host rule lists are bounded by
   * construction), then ONE host-keyed join attaches them — the rules
   * table is host-count-scale, corpus-sublinear, AQE broadcasts it while
   * it fits — and the verdict fold runs ARRAY-LOCALLY inside the scan
   * (max over (plen, is_allow): associative+commutative, order-
   * independent). No per-page regroup, no second shuffle.
   *
   * Output: input columns + (host, path, matched_len, allowed);
   * matched_len = −1 when no rule matched.
   */
  def robotsFilter(pages: DataFrame, rules: DataFrame,
                   urlCol: String): DataFrame = {
    val hostRules = rules.groupBy(col("host"))
      .agg(collect_list(struct(
        length(col("path_prefix")).cast("long").as("plen"),
        col("path_prefix").as("pfx"),
        (col("rule") === "allow").as("is_allow"))).as("_rules"))
    // scheme-OPTIONAL, mirroring [[hostOf]]'s exact scheme scope
    // ("(?:https?://)?"): a scheme-less URL like "example.com/private/x"
    // must still yield "/private/x" — with a mandatory "//" it parsed to
    // "/" and silently bypassed every disallow rule (failed OPEN, the
    // wrong direction for a compliance filter). Non-http(s) schemes are
    // outside robots scope and outside hostOf's contract — keeping the
    // two regexes scope-identical means host and path always come from
    // the SAME parse of the URL.
    val rawPath = regexp_extract(col(urlCol),
      "^(?:https?://)?[^/?#]*([^?#]*)", 1)
    val zero = struct(lit(-1L).as("plen"), lit(true).as("is_allow"))
    pages
      .withColumn("host", hostOf(col(urlCol)))
      .withColumn("path", when(rawPath === "", "/").otherwise(rawPath))
      .join(hostRules, Seq("host"), "left")
      .withColumn("_v", when(col("_rules").isNull, zero)
        .otherwise(aggregate(
          filter(col("_rules"),
            r => startswith(col("path"), r.getField("pfx"))),
          zero,
          (acc, r) => when(
            r.getField("plen") > acc.getField("plen") ||
              (r.getField("plen") === acc.getField("plen") &&
                r.getField("is_allow")),
            struct(r.getField("plen").as("plen"),
              r.getField("is_allow").as("is_allow")))
            .otherwise(acc))))
      .withColumn("matched_len", col("_v.plen"))
      .withColumn("allowed", col("_v.is_allow"))
      .drop("_rules", "_v")
  }

  /**
   * One HITS update (Kleinberg 1999, "Authoritative Sources in a
   * Hyperlinked Environment") over the weighted domain edge list, from
   * the uniform h₀ = 1 init: authority a₁(d) = Σ_in n_links (the
   * in-weight under h₀ = 1), then hub h₁(s) = Σ_out n_links·a₁(dst) —
   * the standard a-then-h half-steps of one power iteration,
   * UNNORMALIZED (HITS rankings are scale-invariant; per-round
   * normalization is one 1-row aggregate if absolute values are wanted —
   * the pagerankConserving pattern). Iterate-to-convergence = this step
   * in the [[graft.operators.Dedup.dedupClusters]] checkpoint loop, like
   * [[pagerank]]. Exactness: all sums are integer-valued doubles (link
   * counts and their products), so results are order-independent.
   *
   * Plan: two keyed aggregates + one AQE-sized join, all on the
   * corpus-sublinear edge table. Output: (domain, auth, hub), 4dp.
   */
  def hitsStep(edges0: DataFrame): DataFrame = {
    // the edge table feeds FOUR plan branches (auth agg, hub join, both
    // domain-universe arms); its lineage is typically the HTML
    // link-extraction scan, which the unmaterialized diamond re-ran per
    // branch. Staged once; the caller's scope releases it
    val edges = Staging(edges0)
    val auth = edges.groupBy(col("dst_domain").as("domain"))
      .agg(sum(col("n_links")).cast("double").as("auth"))
    val hub = edges
      .join(auth.select(col("domain").as("dst_domain"), col("auth")),
        Seq("dst_domain"))
      .groupBy(col("src_domain").as("domain"))
      .agg(sum(col("n_links").cast("double") * col("auth")).as("hub"))
    val allDomains = edges.select(col("src_domain").as("domain"))
      .union(edges.select(col("dst_domain").as("domain"))).distinct()
    allDomains
      .join(auth, Seq("domain"), "left")
      .join(hub, Seq("domain"), "left")
      .select(col("domain"),
        pround4(coalesce(col("auth"), lit(0.0))).as("auth"),
        pround4(coalesce(col("hub"), lit(0.0))).as("hub"))
  }

  /**
   * Per-domain degree/weight table — the first graph-health diagnostic
   * of a crawl graph (degree distributions expose scraper loops, link
   * farms, and dead hubs before any ranking runs): out_deg/in_deg =
   * distinct neighbor counts (edge rows are already distinct pairs),
   * out_weight/in_weight = link-multiplicity sums. One aggregate per
   * direction + one AQE-sized full-outer join, all on the
   * corpus-sublinear edge table; integer-only output (cross-engine
   * exact).
   */
  def degreeTable(edges0: DataFrame): DataFrame = {
    // both direction aggregates read the same (typically
    // extraction-lineage) edge table — staged once, see hitsStep
    val edges = Staging(edges0)
    val outd = edges.groupBy(col("src_domain").as("domain"))
      .agg(count(lit(1)).as("out_deg"), sum(col("n_links")).as("out_weight"))
    val ind = edges.groupBy(col("dst_domain").as("domain"))
      .agg(count(lit(1)).as("in_deg"), sum(col("n_links")).as("in_weight"))
    outd.join(ind, Seq("domain"), "full_outer")
      .select(col("domain"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("out_weight"), lit(0L)).as("out_weight"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"),
        coalesce(col("in_weight"), lit(0L)).as("in_weight"))
  }
}
