package graft.operators

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Staging

/**
 * Analytics / search surface (SURVEY.md §2 D, E, F, I; §3.2-3.3) — the
 * Catalyst recast of the reference's ES query DSL + JPQL endpoints.
 *
 * All builders take a logs DataFrame with columns
 * `(id, ts, level, service, message, ...)` and return a lazy DataFrame —
 * filters stay declarative so Catalyst pushes them into the parquet scan
 * (verified in AnalyticsSpec via PushedFilters).
 */
object Analytics {

  /**
   * E1 — ES `match` on message: standard-analyzer-style tokenized OR-match,
   * case-folded, in boolean (non-scoring) context. The reference only uses
   * match as a gate + timestamp sort (`ElasticsearchService.java:279-283`),
   * so boolean semantics suffice (SURVEY.md §2.E divergence note).
   */
  def textMatch(message: Column, queryText: String): Column = {
    arrays_overlap(TextAnalysis.words(message),
      array(TextAnalysis.queryToks(queryText).map(lit): _*))
  }

  /**
   * E1 (scored variant) — term-frequency relevance: count of query-token
   * occurrences in the message (the tf core of ES's practical scoring),
   * usable as a ranking sort key on top of the boolean gate. Codegen'd
   * `regexp_count`; cast to long for engine-portable aggregation.
   */
  def textMatchScore(message: Column, queryText: String): Column = {
    val tokens = TextAnalysis.queryToks(queryText)
    regexp_count(lower(message),
      lit("\\b(" + tokens.mkString("|") + ")\\b")).cast("long")
  }

  /**
   * E1 (idf-weighted variant) — tf·idf relevance over the corpus:
   * score(d) = Σ_t tf(t,d) · (N − df(t) + 0.5)/(df(t) + 0.5), the rational
   * core of BM25's idf (the log wrap is monotone, omitted deliberately:
   * ln() is not IEEE-exact and would break cross-engine hash checks;
   * ranking is identical). df table is ≤ |query tokens| rows → broadcast;
   * N is a broadcast scalar — no corpus-sized shuffle beyond the tf agg.
   * Caveat: per-doc score sums ≤ |query tokens| doubles; IEEE addition is
   * commutative so 2-token queries are order-safe.
   */
  def textRankIdf(docs: DataFrame, idCol: String, textCol: String,
                  queryText: String): DataFrame = {
    // shape kept deliberately (round 6 measured the scan-local
    // size(toks) − size(array_remove(toks, t)) variant SLOWER: it copies
    // the token array per query token, while the explode's isin filter
    // drops non-query tokens before the tiny (id, gram) count)
    val tokens: Seq[Any] = TextAnalysis.queryToks(queryText)
    val toks = Curation.gramRows(docs, idCol, textCol, n = 1)
      .filter(col("gram").isin(tokens: _*))
    val tf = toks.groupBy(col(idCol), col("gram")).agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy(col("gram")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    tf.join(broadcast(df_), Seq("gram")).crossJoin(broadcast(n))
      .groupBy(col(idCol))
      .agg(TextAnalysis.pround4(
        sum(col("tf") * (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)))
        .as("score"))
      .orderBy(col("score").desc, col(idCol))
  }

  /**
   * E1 (stemmed variant) — analyzer-style stemming recast as QUERY
   * EXPANSION: each query token matches itself or its common inflections
   * (`tok(s|es|ed|ing)?`), so "spark window" also hits "sparks",
   * "windowing", etc. This is the portable form of light stemming — one
   * codegen'd `rlike` over the message, no per-token document analysis, no
   * interpreted HOF — and covers the reference's standard-analyzer gap
   * (ElasticsearchService.java:148) for the inflection cases that matter;
   * a full Porter stemmer is a per-doc-token transform and deliberately
   * out of scope (documented divergence).
   */
  def textMatchStemmed(message: Column, queryText: String): Column = {
    val tokens = TextAnalysis.queryToks(queryText)
    lower(message).rlike(
      "\\b(" + tokens.mkString("|") + ")(s|es|ed|ing)?\\b")
  }

  /**
   * E1 (full BM25 idf) — tf·idf with Lucene's actual idf,
   * ln(1 + (N − df + 0.5)/(df + 0.5)), closing the documented divergence
   * from [[textRankIdf]]'s log-free rational core (reference scores hits:
   * ElasticsearchService.java:279-283). `ln` is not guaranteed IEEE-exact
   * across engines, so the score is floor-rounded to 4 decimals on BOTH
   * sides (pround4) — a 1-ulp ln() difference cannot survive the rounding
   * unless it lands exactly on a boundary. Same plan shape as textRankIdf:
   * broadcast df + N, one tf shuffle. For single-term queries the ranking
   * is provably identical to the rational-core variant (ln is monotone);
   * for multi-term queries the per-term weights rescale and CAN reorder
   * sums in principle — equality on the test corpus is asserted in
   * AnalyticsSpec, not assumed.
   */
  def textRankBm25(docs: DataFrame, idCol: String, textCol: String,
                   queryText: String): DataFrame = {
    val tokens: Seq[Any] = TextAnalysis.queryToks(queryText)
    val toks = Curation.gramRows(docs, idCol, textCol, n = 1)
      .filter(col("gram").isin(tokens: _*))
    val tf = toks.groupBy(col(idCol), col("gram")).agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy(col("gram")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    tf.join(broadcast(df_), Seq("gram")).crossJoin(broadcast(n))
      .groupBy(col(idCol))
      .agg(TextAnalysis.pround4(
        sum(col("tf") * log(lit(1.0) +
          (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5))))
        .as("score"))
      .orderBy(col("score").desc, col(idCol))
  }

  /**
   * Porter-light stemming of EVERY word in a text column — the document-
   * side analyzer step [[textMatchStemmed]]'s query expansion deliberately
   * avoided, now available for relevance-porting users (r3 verdict,
   * "what's missing" #2). Five ordered rewrite rules (Porter step 1a +
   * the vowel-guarded 1b core: sses→ss, ies→i, final-s drop after
   * non-s/u, ing/ed drop when the stem keeps a vowel), each ONE
   * codegen'd whole-text `regexp_replace` with word boundaries — no
   * per-token explode, no HOF; the whole chain is scan-local. Every
   * pattern is RE2-portable (no lookaround; the DuckDB oracle mirrors
   * the chain verbatim with `\\1` backrefs and the `g` flag).
   * Linguistic fidelity trade (documented): this is the S-stemmer +
   * 1b-core tier — no Porter steps 2-5 (no "ational"→"ate"), no e-
   * restoration ("hoped"→"hop" not "hope") — the standard light-
   * stemming operating point for retrieval.
   */
  def porterLightStemText(message: Column): Column = {
    val r1 = regexp_replace(lower(message), "([a-z])sses\\b", "$1ss")
    val r2 = regexp_replace(r1, "([a-z]{2})ies\\b", "$1i")
    val r3 = regexp_replace(r2, "([a-z]{2}[^su\\s])s\\b", "$1")
    val r4 = regexp_replace(r3, "([a-z]*[aeiou][a-z]*)ing\\b", "$1")
    regexp_replace(r4, "([a-z]*[aeiou][a-z]*)ed\\b", "$1")
  }

  /** Scala twin of [[porterLightStemText]] for query-side stemming —
    * same five rules, same order, so query and document meet in the same
    * stem space. */
  def porterLightStem(token: String): String =
    token.toLowerCase
      .replaceAll("([a-z])sses$", "$1ss")
      .replaceAll("([a-z]{2})ies$", "$1i")
      .replaceAll("([a-z]{2}[^su\\s])s$", "$1")
      .replaceAll("([a-z]*[aeiou][a-z]*)ing$", "$1")
      .replaceAll("([a-z]*[aeiou][a-z]*)ed$", "$1")

  /**
   * E1 (true-stemming variant) — analyzer-style match in STEM SPACE:
   * both the document text and the query are Porter-light stemmed, then
   * matched with the standard tokenized OR-match. Unlike
   * [[textMatchStemmed]] (which expands the query with a fixed suffix
   * alternation), this matches any inflection pair that meets at a
   * common stem — "sparks" in the query hits "sparking" in the doc.
   */
  def textMatchPorter(message: Column, queryText: String): Column = {
    val stemmedQuery =
      TextAnalysis.queryToks(queryText).map(porterLightStem).mkString(" ")
    textMatch(porterLightStemText(message), stemmedQuery)
  }

  /**
   * E1 (FULL BM25) — Lucene's complete default similarity, closing the
   * last scoring divergence from the reference (which delegates to
   * ES/Lucene, ElasticsearchService.java:279-283): per query term,
   *   score += ln(1 + (N−df+0.5)/(df+0.5)) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
   * i.e. [[textRankBm25]]'s ln-idf PLUS tf saturation (k1) and document-
   * length normalization (b) — the terms that make long documents stop
   * winning on raw repetition. dl is the doc's FULL token count, computed
   * scan-local (size of the token array — no extra shuffle); avgdl is one
   * broadcast scalar, the mean dl over ALL documents (token-less docs
   * count with dl = 0). avgdl's sum-of-bigints is exact in doubles below
   * 2^53, so the scalar is bit-identical cross-engine; the per-doc score
   * is pround4-rounded like its siblings. Plan shape unchanged: one tf
   * shuffle, broadcast df + N + avgdl.
   */
  def textRankBm25Full(docs: DataFrame, idCol: String, textCol: String,
                       queryText: String, k1: Double = 1.2,
                       b: Double = 0.75): DataFrame = {
    val tokens: Seq[Any] = TextAnalysis.queryToks(queryText)
    val dls = docs.select(col(idCol), TextAnalysis.wordCount(col(textCol)).as("dl"))
    val toks = Curation.gramRows(docs, idCol, textCol, n = 1)
      .filter(col("gram").isin(tokens: _*))
    val tf = toks.groupBy(col(idCol), col("gram")).agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy(col("gram")).agg(count(lit(1)).as("df"))
    // BOTH broadcast scalars from ONE corpus pass (count(dl rows) ==
    // count(docs): one row per doc by construction) — the former shape
    // counted N in its own separate corpus scan
    val scal = dls.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5))
    val norm = col("tf") * (k1 + 1.0) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))
    tf.join(dls, Seq(idCol))
      .join(broadcast(df_), Seq("gram"))
      .crossJoin(broadcast(scal))
      .groupBy(col(idCol))
      .agg(TextAnalysis.pround4(sum(idf * norm)).as("score"))
      .orderBy(col("score").desc, col(idCol))
  }

  /**
   * Exact PHRASE matching — the match_phrase query of the reference's
   * search surface family, computed ARRAY-LOCALLY: for an m-token
   * phrase, keep token positions p where tokens[p..p+m−1] equal the
   * phrase; output (id, n_occurrences, first_pos), non-matching docs
   * absent. Zero shuffles — the whole operator lives inside the scan
   * (the token array is lambda-bound once; interpreted HOFs do no CSE).
   * Overlapping occurrences all count ("a a a" matches "a a" twice).
   * Serving-side note: phrase queries over the STORED index would need
   * positional postings ([[writeTextIndex]] stores tf only — documented
   * scope boundary; the scan-local operator is the batch-filter path).
   */
  def phraseMatch(docs: DataFrame, idCol: String, textCol: String,
                  phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase must have at least one token")
    val m = phrase.length
    val ph = phrase.map(_.toLowerCase)
    val tsC = TextAnalysis.toks(col(textCol))
    val hits = element_at(transform(array(tsC), ts =>
      when(size(ts) >= m,
        filter(sequence(lit(1), size(ts) - (m - 1)), p =>
          ph.zipWithIndex.map { case (w, i) =>
            element_at(ts, p + i) === w }.reduce(_ && _)))
        .otherwise(array().cast("array<int>"))), 1)
    docs.select(col(idCol), hits.as("hits"))
      .filter(size(col("hits")) > 0)
      .select(col(idCol),
        size(col("hits")).cast("long").as("n_occurrences"),
        element_at(col("hits"), 1).cast("long").as("first_pos"))
  }

  /**
   * Stored inverted text index — the SERVING artifact for the BM25 family,
   * completing the stored-index set (IVF cells, sign-LSH buckets, MinHash
   * signature index) for text retrieval. Layout under `path`:
   * `postings/tbucket=B/` (id, term, tf) partitioned by
   * tbucket = md5(term) mod nBuckets, `doclen/` (id, dl), `meta/` one row
   * (n_docs, avgdl, n_buckets). At corpus scale the postings table is
   * corpus-sized, but a query touches only its terms' buckets: the
   * tbucket `isin` prunes to ≤ |query terms| of nBuckets partition
   * directories at planning time (PartitionFilters asserted in
   * AnalyticsSpec). avgdl is an integer-sum average of BIGINT doc
   * lengths — exact, so index-time and query-time scoring agree to the
   * bit with the in-memory [[textRankBm25Full]].
   */
  def writeTextIndex(docs: DataFrame, idCol: String, textCol: String,
                     path: String, nBuckets: Int = 16): Unit = Staging.scope {
    require(nBuckets > 0, "nBuckets must be positive")
    val withDl = docs.select(col(idCol), col(textCol),
      TextAnalysis.wordCount(col(textCol)).as("dl"))
    // per-row (gram, tf) kernel (graft.functions.GramCounts): a doc's
    // term counts are a per-row function, so the former corpus-sized
    // (id, gram) count exchange is gone — the exploded rows are already
    // unique per (id, gram)
    withDl.select(col(idCol),
        explode(graft.functions.NgramExprs.gramCounts(
          TextAnalysis.words(col(textCol)), 1)).as("_g"))
      .select(col(idCol), col("_g.gram").as("gram"), col("_g.tf").as("tf"))
      .withColumn("tbucket", TextAnalysis.md5Mod(md5(col("gram")), nBuckets))
      .write.mode("overwrite").partitionBy("tbucket")
      .parquet(s"$path/postings")
    // ONE tokenize scan feeds the doclen write AND the meta aggregate
    // (each formerly re-scanned + re-tokenized the corpus); doclen keeps
    // every doc — zero-token rows included — so n_docs/avgdl are exactly
    // the corpus stats the in-memory scorer uses
    val dl = Staging(withDl.select(col(idCol), col("dl")))
    dl.write.mode("overwrite").parquet(s"$path/doclen")
    dl.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
      .withColumn("n_buckets", lit(nBuckets))
      .write.mode("overwrite").parquet(s"$path/meta")
  }

  /**
   * Query-time BM25 over the stored index: the driver hashes the query
   * terms with the SAME md5-mod recipe the writer used (n_buckets read
   * back from meta — the identity guard), prunes the postings scan to
   * those partitions, and scores with the identical k1/b formula as
   * [[textRankBm25Full]] — the roundtrip must reproduce the in-memory
   * ranking exactly (same oracle). The corpus never re-tokenizes: df
   * comes from the pruned postings, dl from the stored doclen table,
   * n_docs/avgdl from the one meta row.
   */
  def textIndexTopK(spark: org.apache.spark.sql.SparkSession, path: String,
                    idCol: String, queryText: String, k1: Double = 1.2,
                    b: Double = 0.75): DataFrame = {
    val meta = spark.read.parquet(s"$path/meta").head()
    val nB = meta.getAs[Int]("n_buckets")
    val nDocs = meta.getAs[Long]("n_docs")
    val avgdl = meta.getAs[Double]("avgdl")
    val tokens = TextAnalysis.queryToks(queryText).distinct
    def bucketOf(t: String): Long = graft.functions.Md5Prefix.of(
      java.security.MessageDigest.getInstance("MD5").digest(t.getBytes("UTF-8"))) % nB
    val buckets: Seq[Any] = tokens.map(bucketOf).distinct
    val terms: Seq[Any] = tokens
    val postings = spark.read.parquet(s"$path/postings")
      .filter(col("tbucket").isin(buckets: _*) &&
        col("gram").isin(terms: _*))
    val df_ = postings.groupBy(col("gram")).agg(count(lit(1)).as("df"))
    val dl = spark.read.parquet(s"$path/doclen")
    val idf = log(lit(1.0) +
      (lit(nDocs) - col("df") + 0.5) / (col("df") + 0.5))
    val norm = col("tf") * (k1 + 1.0) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / lit(avgdl)))
    postings.join(dl, Seq(idCol))
      .join(broadcast(df_), Seq("gram"))
      .groupBy(col(idCol))
      .agg(TextAnalysis.pround4(sum(idf * norm)).as("score"))
      .orderBy(col("score").desc, col(idCol))
  }

  /**
   * Rank a BOUNDED scored list for fusion: dense position by
   * (score desc, id asc). The caller must pass an already-bounded frame
   * (a top-N `limit` result) — the unpartitioned window is then a
   * single-task sort of N rows by construction, never a corpus-wide
   * single-partition sort. Scores should be pre-rounded so the rank
   * order (and thus the N-boundary) is engine-portable.
   */
  def rankArm(scored: DataFrame, idCol: String, scoreCol: String): DataFrame =
    scored.select(col(idCol),
      row_number().over(Window.orderBy(col(scoreCol).desc, col(idCol).asc))
        .cast("long").as("rank"))

  /**
   * Reciprocal-rank fusion (Cormack, Clarke & Büttcher, SIGIR 2009) — the
   * standard hybrid-retrieval combiner (what ES/OpenSearch "hybrid search"
   * runs between the BM25 arm and the kNN arm): each arm contributes
   * 1/(k0 + rank) for every id it retrieved, arms that miss an id
   * contribute nothing, and the fused list is ordered by the summed score.
   * Rank-based (not score-based) fusion needs no cross-arm score
   * calibration — exactly why it won the TREC comparison in the paper.
   *
   * Scale: each arm is a bounded top-N list, so the fuse is one unionAll
   * + one partial-agg groupBy over ≤ Σ N_i rows — list-sized, never
   * corpus-sized. Determinism: with two arms the double sum is a single
   * commutative addition; pround4 + id tiebreak pin the output order.
   */
  def rrfFuse(arms: Seq[DataFrame], idCol: String, k0: Int = 60,
              topK: Int = 10): DataFrame = {
    require(arms.nonEmpty, "rrfFuse needs at least one arm")
    val unioned = arms.map(_.select(col(idCol), col("rank"))).reduce(_ unionAll _)
    unioned.groupBy(col(idCol))
      .agg(TextAnalysis.pround4(sum(lit(1.0) / (lit(k0) + col("rank"))))
          .as("rrf_score"),
        count(lit(1)).as("n_arms"))
      .orderBy(col("rrf_score").desc, col(idCol))
      .limit(topK)
  }

  /**
   * §3.2 search path — bool{must: match, filter: [levels, services, range]}
   * + sort + from/size pagination (`ElasticsearchService.java:237-274`).
   * `hosts` is accepted-and-ignored for fidelity (dead filter D6,
   * `dto/LogSearchRequest.java:38`).
   */
  def searchLogs(logs: DataFrame,
                 queryText: Option[String] = None,
                 levels: Seq[String] = Nil,
                 services: Seq[String] = Nil,
                 hosts: Seq[String] = Nil, // D6: declared but never applied
                 start: Option[Timestamp] = None,
                 end: Option[Timestamp] = None,
                 sortBy: String = "ts",
                 ascending: Boolean = false,
                 page: Int = 0,
                 size: Int = 20,
                 tiebreak: String = "id"): DataFrame = {
    var df = logs
    queryText.filter(_.nonEmpty).foreach(q => df = df.filter(textMatch(col("message"), q)))
    if (levels.nonEmpty) df = df.filter(col("level").isin(levels: _*))      // D3
    if (services.nonEmpty) df = df.filter(col("service").isin(services: _*)) // D4
    start.foreach(s => df = df.filter(col("ts") >= lit(s)))                  // D5
    end.foreach(e => df = df.filter(col("ts") <= lit(e)))                    // D5
    val sortCols =
      if (ascending) Seq(col(sortBy).asc, col(tiebreak).asc)
      else Seq(col(sortBy).desc, col(tiebreak).desc) // I1 + deterministic tiebreak
    // I2 — offset+limit (Spark ≥3.4 planned as GlobalLimit/offset, with
    // TakeOrderedAndProject for the top-k path)
    df.orderBy(sortCols: _*).offset(page * size).limit(size)
  }

  /**
   * I2' — KEYSET pagination (the `search_after` recast): fetch the page
   * AFTER a (sortValue, id) cursor instead of `offset(page·size)`. ES
   * itself caps from+size at 10,000 and forces `search_after` past it
   * (the reference's from/size path, `ElasticsearchService.java:259-260`,
   * inherits that cap) — this is the 100×-scale variant: the cursor
   * predicate `(sort, id) < (lastSort, lastId)` is pushed into the scan
   * (PushedFilters) and `orderBy+limit` plans as TakeOrderedAndProject —
   * per-partition top-k then a k-row merge on the driver, NO global sort,
   * NO offset operator, page depth does not change the plan (asserted in
   * PlanSpec). The (sortCol, idCol) pair must be a total order (idCol
   * unique) or pages can skip/repeat rows at cursor ties.
   */
  def searchAfter(logs: DataFrame, sortCol: String, idCol: String,
                  lastSort: Column, lastId: Column, size: Int,
                  ascending: Boolean = false): DataFrame = {
    val (pred, sorts) =
      if (ascending)
        (col(sortCol) > lastSort ||
          (col(sortCol) === lastSort && col(idCol) > lastId),
          Seq(col(sortCol).asc, col(idCol).asc))
      else
        (col(sortCol) < lastSort ||
          (col(sortCol) === lastSort && col(idCol) < lastId),
          Seq(col(sortCol).desc, col(idCol).desc))
    logs.filter(pred).orderBy(sorts: _*).limit(size)
  }

  /**
   * F1+F2 — dashboard metrics in ONE conditional-aggregate pass (the
   * reference issues 3 sequential count searches,
   * `ElasticsearchService.java:372-431`; SURVEY.md notes the fusion).
   * Includes the zero-logs division guard (`:411`,
   * `ElasticsearchServiceTest.java:415-472`).
   */
  def dashboardMetrics(logs: DataFrame): DataFrame =
    logs.agg(
      count(lit(1)).as("total_logs"),
      count(when(col("level") === "ERROR", 1)).as("error_count"),
      count(when(col("level") === "WARN", 1)).as("warning_count"))
      .withColumn("logs_per_minute",
        round(col("total_logs") / (24.0 * 60.0), 4)) // :408 — fixed 24h window
      .withColumn("error_rate",
        when(col("total_logs") === 0, 0.0) // zero-division guard :411
          .otherwise(round(col("error_count") * 100.0 / col("total_logs"), 4)))

  /**
   * F3 — date histogram, fixed 1-hour buckets, minDocCount(0): empty
   * buckets between the first and last hour ARE emitted
   * (`ElasticsearchService.java:436-498`). Gap-fill in ONE scan, no join:
   * the hourly counts fold into one row (bounds, hour → count map) whose
   * hour `sequence` explodes, a missing hour reading 0 (SURVEY.md §2.F3);
   * zero logs → no rows (`ElasticsearchServiceTest.java:452-472`).
   */
  def logVolume(logs: DataFrame, tsCol: String = "ts"): DataFrame =
    logs.groupBy(date_trunc("hour", col(tsCol)).as("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .agg(min("bucket").as("lo"), max("bucket").as("hi"),
        map_from_entries(collect_list(struct(col("bucket"), col("cnt"))))
          .as("m"))
      .filter(col("lo").isNotNull)
      .select(explode(sequence(col("lo"), col("hi"), expr("interval 1 hour")))
        .as("bucket"), col("m"))
      .select(col("bucket"),
        coalesce(element_at(col("m"), col("bucket")), lit(0L)).as("cnt"))
      .orderBy("bucket")

  /**
   * F4 — terms agg over level + percentage of total
   * (`ElasticsearchService.java:503-567`). Percentage via a single
   * window-total (no second scan); guard: empty input → empty result.
   */
  def levelDistribution(logs: DataFrame): DataFrame =
    logs.groupBy(col("level")).agg(count(lit(1)).as("cnt"))
      .withColumn("percentage",
        round(col("cnt") * 100.0 / sum(col("cnt")).over(Window.partitionBy()), 4))
      .orderBy(col("cnt").desc, col("level"))

  /**
   * F5 — top-k services by doc count desc (`ElasticsearchService.java:
   * 572-626`), deterministic tiebreak on service name; orderBy+limit plans
   * as TakeOrderedAndProject (top-k pushdown, SURVEY.md §4).
   */
  def topServices(logs: DataFrame, k: Int): DataFrame =
    logs.groupBy(col("service")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("service").asc)
      .limit(k)

  /**
   * I5 — distinct sorted service names (controller's topServices(500) →
   * map → sorted().distinct(), `controller/LogSearchController.java:66-74`).
   */
  def serviceNames(logs: DataFrame): DataFrame =
    logs.select("service").distinct().orderBy("service")

  /**
   * I3/B5/B6 — export: top-10000 by timestamp desc (cap at
   * `controller/LogSearchController.java:29`); CSV/JSON serialization is
   * Spark's writers (identical RFC-4180 quoting — G15).
   */
  def exportRows(logs: DataFrame, cap: Int = 10000, tiebreak: String = "id"): DataFrame =
    logs.orderBy(col("ts").desc, col(tiebreak).desc).limit(cap)

  /** D7/I4/F6 — anomaly queries (`repository/AnomalyDetectionRepository.java:17-53`). */
  object Anomalies {
    def recent(anoms: DataFrame, after: Timestamp): DataFrame =
      anoms.filter(col("detected_at") > lit(after))
        .orderBy(col("detected_at").desc, col("log_id"))

    // conjunct order: the cheap timestamp range short-circuits ahead of
    // is_anomaly, whose upstream is typically the full scorer tree
    // (Kleene AND is commutative — identical rows either way)
    def anomalousInRange(anoms: DataFrame, start: Timestamp, end: Timestamp): DataFrame =
      anoms.filter(col("detected_at").between(lit(start), lit(end)) && col("is_anomaly"))
        .orderBy(col("detected_at").desc, col("log_id"))

    def highConfidence(anoms: DataFrame, threshold: Double): DataFrame =
      anoms.filter(col("is_anomaly") && col("confidence") > threshold)
        .orderBy(col("confidence").desc, col("detected_at").desc, col("log_id"))

    def countInRange(anoms: DataFrame, start: Timestamp, end: Timestamp): Long =
      anoms.filter(col("detected_at").between(lit(start), lit(end)) && col("is_anomaly"))
        .count()
  }
}
