package graft

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._

/**
 * Driver contract — one `queries` entry per implemented operator from
 * SURVEY.md §2 (+ the training-data operators from the builder brief),
 * each with a DuckDB oracle over the same parquet tables.
 *
 * Carrier mapping (FIXTURES.md §5): `events` plays the log stream
 * (event_type→level, user_id→service, props→message payload), `documents`
 * plays the pages table, `embeddings` carries the similarity operators.
 *
 * Determinism rules for oracle parity: every result is deterministically
 * ordered; doubles are rounded or produced from exact decimal sums;
 * int-typed Spark expressions are cast to long to match DuckDB's bigint.
 */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** The embeddings table as (vec_id, v: array<double>) — the similarity
    * family's input. */
  private def vecs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  /** Shared (doc_id, punct_ratio, stopword_ratio, quality) design matrix
    * for the OLS queries — mirrors the oracle's `qualityCtes` exactly. */
  private def qualityFeatures(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      TextAnalysis.punctRatio(col("text")).as("punct_ratio"),
      TextAnalysis.stopwordRatio(col("text")).as("stopword_ratio"),
      TextAnalysis.qualityScore(col("text")).as("quality"))

  // ---- shared column recipes (must stay in lock-step with the SQL below) --

  /** events → log level (D-row carrier mapping). */
  private val level: Column =
    when(col("event_type") === "error", "ERROR")
      .when(col("event_type") === "click", "WARN")
      .otherwise("INFO")

  /** events → service name. */
  private val service: Column =
    concat(lit("svc-"), (col("user_id") % 10).cast("string"))

  private val levelSql =
    "CASE WHEN event_type='error' THEN 'ERROR' WHEN event_type='click' THEN 'WARN' ELSE 'INFO' END"
  private val serviceSql = "'svc-' || (user_id % 10)"

  /**
   * events → synthetic log message. Plants the reference's trigger
   * keywords at data-driven rates, including the G9/G11 "timed out"
   * divergence ('view' rows) and the full multi-failure combo
   * ('error' + value>150 → score ≥ 0.85 → the H3 alert path).
   */
  private val synthMsg: Column =
    when(col("event_type") === "error" && col("value") > 150,
      concat(lit("fatal error: connection reset by peer after timeout "), col("props")))
      .when(col("event_type") === "error",
        concat(lit("unhandled exception in handler "), col("props")))
      .when(col("event_type") === "view" && col("value") > 100,
        concat(lit("connection pool saturated "), col("props")))
      .when(col("event_type") === "view",
        concat(lit("render timed out after 2s "), col("props")))
      .otherwise(concat(col("event_type"), lit(" ok "), col("props")))

  private val synthMsgSql =
    """CASE WHEN event_type='error' AND value>150 THEN 'fatal error: connection reset by peer after timeout ' || props
      |     WHEN event_type='error' THEN 'unhandled exception in handler ' || props
      |     WHEN event_type='view' AND value>100 THEN 'connection pool saturated ' || props
      |     WHEN event_type='view' THEN 'render timed out after 2s ' || props
      |     ELSE event_type || ' ok ' || props END""".stripMargin.replace("\n", " ")

  /** Exact sum of a double column: via DECIMAL(18,2), back to double. */
  private def exactSum(c: Column): Column =
    sum(c.cast("decimal(18,2)")).cast("double")

  /** Run-scoped stored-artifact root for index/export roundtrip queries:
    * app-id-suffixed (no collision between concurrent sessions), with
    * PRIOR generations of the same artifact tag deleted on creation — so
    * repeated Bench/Verify runs keep at most one generation per tag on
    * disk instead of accumulating orphans (index lifecycle hygiene, r5
    * verdict #6). */
  private def scratchPath(s: SparkSession, tag: String): String = {
    val appId = s.sparkContext.applicationId
    val dir = new java.io.File("/tmp")
    val prefix = s"graft_${tag}_"
    Option(dir.listFiles()).getOrElse(Array.empty).foreach { f =>
      if (f.getName.startsWith(prefix) && !f.getName.endsWith(appId)) {
        val p = new org.apache.hadoop.fs.Path(f.getAbsolutePath)
        try p.getFileSystem(s.sparkContext.hadoopConfiguration)
          .delete(p, true)
        catch { case _: Throwable => } // best-effort hygiene
      }
    }
    s"/tmp/graft_${tag}_$appId"
  }

  // ---- flagship -----------------------------------------------------------

  /** Flagship: full parse→enrich→score pipeline on synthetic pages. */
  def entry(spark: SparkSession): DataFrame = {
    val pages = Synth.pages(spark, 2000, parts = 4)
    Pipeline.transform(pages, Synth.domainReputation(spark), Synth.langMeta(spark))
      .filter(col("parse_ok"))
      .groupBy(col("severity"))
      .agg(count(lit(1)).as("doc_count"),
        count(when(col("is_anomaly"), 1)).as("anomaly_count"),
        count(when(col("alert"), 1)).as("alert_count"))
      .orderBy("severity")
  }

  // ---- the operator queries ----------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // F1+F2 — dashboard metrics, one conditional-aggregate pass
    "q_counts_conditional" -> ((s, dir) =>
      Analytics.dashboardMetrics(t(s, dir, "events").select(level.as("level")))),

    // D2 — term equality filter
    "q_filter_eq" -> ((s, dir) =>
      t(s, dir, "events").filter(col("event_type") === "error")
        .select(col("event_id"), col("ts"), col("user_id"), col("value"))
        .orderBy("event_id")),

    // D3+D4 — terms-in-set filters
    "q_filter_in" -> ((s, dir) =>
      t(s, dir, "events")
        .filter(col("event_type").isin("error", "signup") &&
          col("user_id").isin(1L, 2L, 3L, 5L, 8L))
        .select(col("event_id"), col("event_type"), col("user_id"))
        .orderBy("event_id")),

    // D5 — timestamp range (one- and two-sided)
    "q_ts_range" -> ((s, dir) =>
      t(s, dir, "events")
        .filter(col("ts") >= lit(Timestamp.valueOf("2024-01-05 00:00:00")) &&
          col("ts") <= lit(Timestamp.valueOf("2024-01-12 00:00:00")))
        .select(col("event_id"), col("ts"), col("event_type"))
        .orderBy("event_id")),

    // E1 — tokenized text match (ES match recast)
    "q_text_match" -> ((s, dir) =>
      t(s, dir, "documents")
        .filter(Analytics.textMatch(col("text"), "spark window"))
        .select(col("doc_id")).orderBy("doc_id")),

    // E1 (phrase variant) — exact ADJACENT-token phrase match with
    // occurrence counts and first position, array-local (zero shuffle);
    // overlapping occurrences counted
    "q_text_phrase" -> ((s, dir) =>
      Analytics.phraseMatch(t(s, dir, "documents"), "doc_id", "text",
        Seq("the", "fast"))
        .orderBy("doc_id")),

    // E1 (scored variant) — tf-ranked text match: term-frequency of the
    // query tokens as relevance key (closes the documented boolean-vs-
    // scored divergence from ES match; ElasticsearchService.java:279-283)
    "q_text_rank" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          Analytics.textMatchScore(col("text"), "spark window").as("tf"))
        .filter(col("tf") > 0)
        .orderBy(col("tf").desc, col("doc_id"))),

    // E1 (idf variant) — corpus-statistics relevance: tf·idf with the
    // rational BM25 idf core (log omitted: monotone + not IEEE-exact)
    "q_text_rank_idf" -> ((s, dir) =>
      Analytics.textRankIdf(t(s, dir, "documents"), "doc_id", "text",
        "spark window")),

    // E1 (full BM25 idf) — ln() included, floor-rounded to 4dp on both
    // engines so a last-ulp ln difference cannot flip the hash
    "q_text_rank_bm25" -> ((s, dir) =>
      Analytics.textRankBm25(t(s, dir, "documents"), "doc_id", "text",
        "spark window")),

    // E1 (FULL BM25) — Lucene's complete default similarity: ln-idf PLUS
    // tf saturation (k1=1.2) and doc-length normalization (b=0.75, avgdl
    // as one broadcast scalar) — long docs stop winning on raw repetition
    "q_text_rank_bm25_full" -> ((s, dir) =>
      Analytics.textRankBm25Full(t(s, dir, "documents"), "doc_id", "text",
        "spark window", k1 = 1.2, b = 0.75)),

    // E1 as a SERVING artifact: write the term-bucket-partitioned inverted
    // index, then score the same query through it — the roundtrip must
    // reproduce the in-memory BM25 ranking exactly (same oracle); the
    // postings scan prunes to the query terms' tbucket partitions
    "q_text_index" -> ((s, dir) => {
      val path = scratchPath(s, "text_index")
      Analytics.writeTextIndex(t(s, dir, "documents"), "doc_id", "text",
        path, nBuckets = 16)
      Analytics.textIndexTopK(s, path, "doc_id", "spark window",
        k1 = 1.2, b = 0.75)
    }),

    // E1 + ANN — hybrid retrieval via reciprocal-rank fusion: the full-BM25
    // text arm (top 50) and the brute-force cosine arm (top 50, embeddings
    // as the carrier, vec_id ≡ doc_id) fused with RRF(k0=60) — the
    // ES/OpenSearch hybrid-search shape. Both arms are bounded BEFORE the
    // rank window, so fusion is list-sized end to end.
    "q_hybrid_rrf" -> ((s, dir) => {
      val bm25 = Analytics.textRankBm25Full(t(s, dir, "documents"),
        "doc_id", "text", "spark window", k1 = 1.2, b = 0.75).limit(50)
      val e = t(s, dir, "embeddings")
        .select(col("vec_id").as("doc_id"),
          col("embedding").cast("array<double>").as("v"))
      val q = e.filter(col("doc_id") === 0).select(col("v").as("qv"))
      val cos = Similarity.topKBy(
        e.filter(col("doc_id") =!= 0).crossJoin(broadcast(q)), "doc_id",
        Similarity.cosine(col("v"), col("qv")), "cos_sim", 50)
      Analytics.rrfFuse(
        Seq(Analytics.rankArm(bm25, "doc_id", "score"),
          Analytics.rankArm(cos, "doc_id", "cos_sim")),
        "doc_id", k0 = 60, topK = 10)
    }),

    // E1 (stemmed variant) — analyzer-lite: query tokens expanded to their
    // common inflections, one codegen'd rlike. Inflected forms are PLANTED
    // ("sparks"/"windowing" on a doc_id schedule) because the synthetic
    // corpus contains none — the row set strictly exceeds q_text_match's
    // (probed non-degenerate at all SFs).
    "q_text_match_stem" -> ((s, dir) => {
      val planted = concat(col("text"),
        when(col("doc_id") % 11 === 0, lit(" sparks")).otherwise(lit("")),
        when(col("doc_id") % 13 === 0, lit(" windowing")).otherwise(lit("")))
      t(s, dir, "documents")
        .filter(Analytics.textMatchStemmed(planted, "spark window"))
        .select(col("doc_id")).orderBy("doc_id")
    }),

    // E1 (true stemming) — document AND query meet in Porter-light stem
    // space: the planted "sparking"/"windowed" inflections match query
    // inflections ("sparks window") no suffix expansion could reach.
    // Whole-text codegen regexp chain, RE2-portable, mirrored verbatim
    // by the oracle.
    "q_text_match_porter" -> ((s, dir) => {
      val planted = concat(col("text"),
        when(col("doc_id") % 11 === 0, lit(" sparking")).otherwise(lit("")),
        when(col("doc_id") % 13 === 0, lit(" windowed")).otherwise(lit("")))
      t(s, dir, "documents")
        .filter(Analytics.textMatchPorter(planted, "sparks window"))
        .select(col("doc_id")).orderBy("doc_id")
    }),

    // curation composition — quality gate → exact-dedup keepers →
    // stratified sample → per-source stats, one lazy plan end to end
    "q_curation_pipeline" -> ((s, dir) => {
      // scored table staged ONCE (text-free columns): it feeds the keeper
      // aggregate AND the join's stream side — the unmaterialized diamond
      // ran the quality+md5 corpus scan twice; filtering BEHIND the
      // checkpoint also keeps qualityScore out of FilterExec (no
      // subexpression elimination there — the pushed-down predicate
      // re-evaluated the score ahead of the projection's own copy)
      val q = Staging(t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          TextAnalysis.qualityScore(col("text")).as("quality"),
          md5(col("text")).as("h")))
        .filter(col("quality") >= 0.5)
      val keep = q.groupBy(col("h")).agg(min(col("doc_id")).as("doc_id"))
      val sampled = q.join(keep, Seq("h", "doc_id"))
        .filter(Curation.stratifiedSampleFilter(col("source"), col("doc_id"),
          when(col("source").rlike("^src1\\d$"), 50L).otherwise(20L)))
      sampled.groupBy(col("source"))
        .agg(count(lit(1)).as("kept"),
          sum(col("quality").cast("decimal(18,4)")).cast("double")
            .as("sum_quality"))
        .orderBy("source")
    }),

    // F3 — gap-filled 1h date histogram, minDocCount(0)
    "q_date_histogram" -> ((s, dir) =>
      Analytics.logVolume(t(s, dir, "events"), "ts")),

    // F4 — terms agg + percentage (window total)
    "q_level_distribution" -> ((s, dir) =>
      Analytics.levelDistribution(t(s, dir, "events").select(level.as("level")))),

    // F5 — top-k terms agg with deterministic tiebreak
    "q_topk_services" -> ((s, dir) =>
      Analytics.topServices(t(s, dir, "events").select(service.as("service")), 5)),

    // I5 — distinct + sort
    "q_distinct_sorted" -> ((s, dir) =>
      Analytics.serviceNames(t(s, dir, "events").select(service.as("service")))),

    // I1+I2 — dynamic sort + offset/limit pagination
    "q_pagination" -> ((s, dir) =>
      t(s, dir, "events")
        .select(col("event_id"), col("ts"), col("event_type"))
        .orderBy(col("ts").desc, col("event_id").desc)
        .offset(40).limit(20)),

    // I1 — sort by arbitrary field
    "q_sort_dynamic" -> ((s, dir) =>
      t(s, dir, "events").select(col("event_id"), col("value"))
        .orderBy(col("value").desc, col("event_id").asc).limit(50)),

    // I3 — export cap (top-N by timestamp desc)
    "q_export_cap" -> ((s, dir) =>
      t(s, dir, "events").select(col("event_id"), col("ts"))
        .orderBy(col("ts").desc, col("event_id").desc).limit(100)),

    // G1-G4 — normalization bundle
    "q_normalize" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        Parse.normalizeLevel(col("lang")).as("level_norm"),
        Parse.truncateMessage(col("text")).as("message"),
        Parse.normalizeEnvironment(col("source")).as("environment"))
        .orderBy("doc_id")),

    // G7-G10 — enrichment flags
    "q_enrich_flags" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        length(col("text")).cast("long").as("message_length"),
        Parse.hasException(col("text")).as("has_exception"),
        Parse.hasTimeout(col("text")).as("has_timeout"),
        Parse.hasConnection(col("text")).as("has_connection"))
        .orderBy("doc_id")),

    // C3+G11-G13 — ML feature extraction (note G11 "timed out" divergence)
    "q_ml_features" -> ((s, dir) =>
      t(s, dir, "events").select(
        col("event_id"),
        Score.featMessageLength(synthMsg).cast("long").as("message_length"),
        Score.featLevel(level).as("level"),
        Score.featService(service).as("service"),
        Score.featHasException(synthMsg).as("has_exception"),
        Score.featHasTimeout(synthMsg).as("has_timeout"),
        Score.featHasConnectionError(synthMsg).as("has_connection_error"))
        .orderBy("event_id")),

    // H1 — deterministic anomaly scorer
    "q_anomaly_score" -> ((s, dir) =>
      t(s, dir, "events").select(
        col("event_id"),
        Score.anomalyScore(synthMsg, level).as("anomaly_score"))
        .withColumn("is_anomaly", Score.isAnomaly(col("anomaly_score")))
        .withColumn("confidence", Score.confidence(col("anomaly_score")))
        .orderBy("event_id")),

    // H3 — high-confidence alert gate (exclusive 0.7 boundary)
    "q_alert_gate" -> ((s, dir) =>
      // scored columns evaluated in a PROJECTION and filtered BEHIND a
      // checkpoint barrier: predicate pushdown otherwise inlines the full
      // scorer tree into the gate (score + confidence + isAnomaly copies),
      // and FilterExec does no subexpression elimination — the feature
      // CASE chain ran ~5x per row (the q_curation_v2 gate pattern; the
      // staged table is three narrow columns)
      Staging(t(s, dir, "events").select(
        col("event_id"),
        Score.anomalyScore(synthMsg, level).as("anomaly_score"))
        .withColumn("confidence", Score.confidence(col("anomaly_score"))))
        .filter(Score.alertGate(Score.isAnomaly(col("anomaly_score")), col("confidence")))
        .select(col("event_id"), col("anomaly_score"), col("confidence"))
        .orderBy("event_id")),

    // G14 — features JSON serialization
    "q_features_json" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        Score.featuresJson(length(col("text")), upper(col("lang")), col("source"),
          Parse.hasException(col("text")), Parse.hasTimeout(col("text")),
          Parse.hasConnection(col("text"))).as("features"))
        .orderBy("doc_id")),

    // D7+I4 — anomaly-repository predicates + ordering
    "q_anomaly_recent" -> ((s, dir) =>
      t(s, dir, "events")
        .filter(col("event_type") === "error" &&
          col("ts") > lit(Timestamp.valueOf("2024-01-15 00:00:00")) &&
          col("value") > 50)
        .select(col("event_id"), col("ts"), col("value"))
        .orderBy(col("value").desc, col("event_id"))),

    // G18+F7 — severity router + per-sink counts
    "q_severity_route" -> ((s, dir) =>
      t(s, dir, "events").select(Parse.severity(synthMsg).as("severity"))
        .groupBy("severity").agg(count(lit(1)).as("doc_count"))
        .orderBy("severity")),

    // I7 — broadcast enrich join chain (events→customer→nation→region)
    "q_enrich_join" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      e.join(broadcast(c), e("user_id") === c("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("cnt"), exactSum(col("value")).as("total_value"))
        .orderBy("r_name")
    }),

    // headline agg — TPC-H Q1 shape on lineitem
    "q_tpch_q1" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit(Timestamp.valueOf("1998-09-02 00:00:00")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          exactSum(col("l_quantity")).as("sum_qty"),
          exactSum(col("l_extendedprice")).as("sum_base_price"),
          count(lit(1)).as("count_order"))
        .withColumn("avg_qty", round(col("sum_qty") / col("count_order"), 4))
        .orderBy("l_returnflag", "l_linestatus")),

    // join + top-k — TPC-H Q3 shape
    "q_join_topk" -> ((s, dir) => {
      val l = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      // shape kept deliberately (round 6 measured the pre-aggregate-
      // before-join variant SLOWER here): AQE broadcasts the filtered
      // orders side, so lineitem is never shuffled raw — the groupBy's
      // map-side partial aggregation already runs before its exchange
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .filter(col("o_orderstatus") =!= "F")
        .groupBy(col("o_orderkey"))
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    }),

    // window functions — running aggregates per key
    "q_window_running" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events").select(
        col("event_id"), col("user_id"),
        row_number().over(w).cast("long").as("rn"), // match DuckDB's BIGINT row_number
        sum(col("value").cast("decimal(18,2)"))
          .over(w.rowsBetween(Window.unboundedPreceding, 0))
          .cast("double").as("running_value"))
        .orderBy("event_id")
    }),

    // temporal — as-of join (Spark-missing operator; merge-by-time window
    // formulation, ONE keyed shuffle, never a range join): latest order
    // at-or-before each event per customer; DuckDB's native ASOF LEFT JOIN
    // is the oracle
    "q_asof_join" -> ((s, dir) => {
      val e = t(s, dir, "events").select(col("event_id"), col("user_id"), col("ts"))
      val o = t(s, dir, "orders")
        .groupBy(col("o_custkey").as("user_id"), col("o_orderdate"))
        .agg(max(col("o_orderkey")).as("last_orderkey"))
      Temporal.asofJoin(e, o, "user_id", "ts", "o_orderdate")
        .select(col("event_id"), col("last_orderkey"))
        .orderBy("event_id")
    }),

    // temporal — sessionization: 30-minute-gap sessions per user. Output is
    // epoch-second BIGINTs end to end (ordering, gap, bounds all derive from
    // ONE unix_timestamp projection) — no cross-engine timestamp channel.
    "q_sessionize" -> ((s, dir) =>
      Temporal.sessionStats(
        t(s, dir, "events").select(col("event_id"), col("user_id"), col("ts")),
        "user_id", "ts", gapSeconds = 1800, tieBreak = "event_id")
        .orderBy("user_id", "session_seq")),

    // F (pivot) — severity × service matrix via relational PIVOT
    "q_pivot" -> ((s, dir) =>
      t(s, dir, "events").select(service.as("service"), level.as("level"))
        .groupBy("service").pivot("level", Seq("ERROR", "WARN", "INFO"))
        .count().na.fill(0L)
        .orderBy("service")),

    // F (rollup) — multi-dimensional aggregate with grouping id
    "q_rollup" -> ((s, dir) =>
      t(s, dir, "events").select(col("event_type"), service.as("service"))
        .rollup("event_type", "service")
        .agg(count(lit(1)).as("cnt"), grouping_id().cast("long").as("gid"))
        .orderBy("gid", "event_type", "service")),

    // F (percentiles) — exact interpolated p50/p95 per service
    // (pround4-style flooring on both engines: round() tie-break differs)
    "q_percentiles" -> ((s, dir) =>
      t(s, dir, "events").select(service.as("service"), col("value"))
        .groupBy("service")
        .agg(
          TextAnalysis.pround4(expr("percentile(value, 0.5)")).as("p50"),
          TextAnalysis.pround4(expr("percentile(value, 0.95)")).as("p95"))
        .orderBy("service")),

    // §4 skew — salted two-phase aggregation UNDER the oracle: the oracle
    // is the plain GROUP BY, so the hash match IS the exactness proof
    // (decimal value column keeps the sum order-independent)
    "q_salted_agg" -> ((s, dir) =>
      Aggregates.domainStatsSalted(
        t(s, dir, "events").select(col("event_id").as("id"),
          service.as("service"),
          col("value").cast("decimal(18,2)").as("value")),
        "service", "value")
        .select(col("service"), col("cnt"),
          col("total").cast("double").as("total"),
          col("min_v").cast("double").as("min_v"),
          col("max_v").cast("double").as("max_v"))
        .orderBy("service")),

    // I6 — union (set op)
    "q_union" -> ((s, dir) => {
      val e = t(s, dir, "events")
      e.filter(col("event_type") === "error")
        .agg(count(lit(1)).as("cnt")).select(lit("err").as("tag"), col("cnt"))
        .union(e.filter(col("event_type") === "signup")
          .agg(count(lit(1)).as("cnt")).select(lit("sig").as("tag"), col("cnt")))
        .orderBy("tag")
    }),

    // I6 — set ops: except / intersect over (user, day) — days a user
    // erred without signing up, and days with both
    "q_except" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .select(col("user_id"), to_date(col("ts")).as("d"), col("event_type"))
      e.filter(col("event_type") === "error").select("user_id", "d").distinct()
        .except(e.filter(col("event_type") === "signup").select("user_id", "d").distinct())
        .orderBy("user_id", "d")
    }),

    "q_intersect" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .select(col("user_id"), to_date(col("ts")).as("d"), col("event_type"))
      e.filter(col("event_type") === "error").select("user_id", "d").distinct()
        .intersect(e.filter(col("event_type") === "signup").select("user_id", "d").distinct())
        .orderBy("user_id", "d")
    }),

    // G15 — RFC-4180 CSV field escaping as data
    "q_csv_escape" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        when(col("text").rlike("[,\"\n\r]"),
          concat(lit("\""), regexp_replace(col("text"), "\"", "\"\""), lit("\"")))
          .otherwise(col("text")).as("csv_field"))
        .orderBy("doc_id")),

    // B5+I3 end-to-end — export WRITE path under the oracle: plant CSV
    // specials (comma, quote, newline), write through Exports.exportCsv
    // (RFC-4180 quoting, cap, forced sort), read the file back, compare to
    // the oracle's view of the capped set. A broken writer (wrong quoting,
    // trimmed whitespace, lost rows) mis-parses on read-back and fails the
    // value hash. Pins LogSearchController.java:81-134 + 188-220.
    // G18' — canonical host extraction under the oracle (URLs planted from
    // table fields; pure-regex form, ParseSpec pins parity with parse_url)
    "q_host_extract" -> ((s, dir) => {
      val url = concat(lit("https://"),
        when(col("doc_id") % 3 === 0, lit("WWW.")).otherwise(lit("")),
        col("source"), lit(".Example.com"),
        when(col("doc_id") % 5 === 0, lit(":8443")).otherwise(lit("")),
        lit("/p/"), col("doc_id"),
        when(col("doc_id") % 2 === 0, lit("?utm=x#frag")).otherwise(lit("")))
      t(s, dir, "documents").select(col("doc_id"),
        Parse.canonicalHost(url).as("host"))
        .orderBy("doc_id")
    }),

    // crawl ops: robots-exclusion filtering (RFC 9309 longest-match
    // subset) — per-host rules planted so every precedence branch fires:
    // /private disallowed, /private/ok re-allowed (longer match), /public
    // tied allow+disallow (tie → allow), '/' unmatched (default allow),
    // and src0 hosts carry no rules at all
    "q_robots_filter" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val url = concat(lit("https://www."), col("source"),
        lit(".example.com"),
        when(col("doc_id") % 4 === 0,
          concat(lit("/private/doc"), col("doc_id").cast("string")))
          .when(col("doc_id") % 4 === 1,
            concat(lit("/private/ok/doc"), col("doc_id").cast("string")))
          .when(col("doc_id") % 4 === 2,
            concat(lit("/public/doc"), col("doc_id").cast("string")))
          .otherwise(lit("/")))
      val rules = d.select(col("source")).distinct()
        .filter(col("source") =!= "src0")
        .select(concat(lit("www."), col("source"), lit(".example.com"))
          .as("host"))
        .select(col("host"), explode(array(
          struct(lit("disallow").as("rule"), lit("/private").as("path_prefix")),
          struct(lit("allow").as("rule"), lit("/private/ok").as("path_prefix")),
          struct(lit("allow").as("rule"), lit("/public").as("path_prefix")),
          struct(lit("disallow").as("rule"), lit("/public").as("path_prefix"))))
          .as("r"))
        .select(col("host"), col("r.rule").as("rule"),
          col("r.path_prefix").as("path_prefix"))
      WebGraph.robotsFilter(d.select(col("doc_id"), url.as("url")), rules,
        "url")
        .select(col("doc_id"), col("host"), col("path"), col("matched_len"),
          col("allowed"))
        .orderBy("doc_id")
    }),

    "q_export_roundtrip" -> ((s, dir) => {
      val out = scratchPath(s, "export_roundtrip")
      val src = t(s, dir, "documents")
        .select(col("doc_id"),
          concat(lit("a,b\"c\nd "), col("text")).as("payload"))
      Exports.exportCsv(src, out, cap = 100, tsCol = "doc_id", tiebreak = "doc_id")
      s.read.option("header", "true").option("multiLine", "true")
        .option("escape", "\"")
        .schema("doc_id LONG, payload STRING")
        .csv(out)
        .orderBy("doc_id")
    }),

    // B6 end-to-end — JSON export WRITE path under the oracle, the
    // JSON-lines sibling of q_export_roundtrip: plant JSON specials
    // (quote, backslash, newline, tab, unicode), write through
    // Exports.exportJson (cap + forced sort), read the file back. A broken
    // serializer (bad escaping, lost rows, mangled unicode) mis-parses on
    // read-back and fails the value hash.
    "q_export_roundtrip_json" -> ((s, dir) => {
      val out = scratchPath(s, "export_json")
      val src = t(s, dir, "documents")
        .select(col("doc_id"),
          concat(lit("q\"b\\s\nnl\ttabé "), col("text")).as("payload"))
      Exports.exportJson(src, out, cap = 100, tsCol = "doc_id",
        tiebreak = "doc_id")
      s.read.schema("doc_id LONG, payload STRING").json(out)
        .orderBy("doc_id")
    }),

    // ---- training-data operators ----------------------------------------

    // dedup: exact content-hash
    "q_dedup_exact" -> ((s, dir) =>
      Dedup.exact(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("content_hash")),

    // dedup: MinHash+LSH candidate pairs over trigram shingles
    // (relational perm-minhash — one md5 per shingle, arithmetic perms)
    "q_dedup_minhash" -> ((s, dir) =>
      Dedup.minhashCandidates(t(s, dir, "documents"), "doc_id", "text", n = 3)
        .orderBy("id1", "id2")),

    // dedup: edit-distance-VERIFIED near-dup pairs — the LSH candidates
    // re-joined to their texts and kept iff Levenshtein ≤ 40 (thresholded
    // banded DP, O(len·maxDist) per pair); drops the band-collision false
    // positives the probabilistic blocker admits (6 of 34 at sf0.001)
    "q_dedup_edit" -> ((s, dir) =>
      Dedup.editVerifiedPairs(t(s, dir, "documents"), "doc_id", "text",
        n = 3, maxDist = 40)
        .orderBy("id1", "id2")),

    // dedup: asymmetric n-gram CONTAINMENT on the LSH candidates (Broder
    // 1997) — |S(A)∩S(B)|/|S(A)| both directions; catches quotes /
    // subset docs that symmetric Jaccard under-scores. Shingle sets ship
    // as md5 keys only, one materialization feeds sizes + both joins.
    "q_containment" -> ((s, dir) =>
      Dedup.containmentPairs(t(s, dir, "documents"), "doc_id", "text",
        n = 3, minContain = 0.5)
        .orderBy("id1", "id2")),

    // dedup: near-dup CLUSTERING — connected components over the minhash
    // candidate graph via min-label propagation (cluster = min reachable
    // id); oracle = DuckDB recursive CTE over the same pair set
    "q_dedup_clusters" -> ((s, dir) =>
      Dedup.dedupClusters(
        Dedup.minhashCandidates(t(s, dir, "documents"), "doc_id", "text",
          n = 3))
        .orderBy("id")),

    // dedup: MinHash Jaccard ESTIMATION over the LSH candidates — the
    // classic Ĵ = agreeing-components/8 estimator; no shingle re-scan,
    // two signature joins (one row per doc)
    "q_dedup_minhash_est" -> ((s, dir) =>
      Dedup.minhashJaccardEstimate(t(s, dir, "documents"), "doc_id", "text",
        n = 3)
        .orderBy("id1", "id2")),

    // dedup: 16-bit SimHash signature (bit string derived from the
    // relational integer signature — one md5 per distinct token)
    "q_dedup_simhash" -> ((s, dir) =>
      Dedup.simhashBitsRows(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    // dedup: SimHash near-dup pairs — Hamming-LSH chunk banding (exact for
    // maxDist<=2), signature-derived blocking, no natural-key skew
    // exposure; 32-bit signatures (16-bit is too coarse: ~6.5x more
    // candidate pairs on this corpus)
    "q_dedup_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashPairs(t(s, dir, "documents"), "doc_id", "text",
        maxDist = 2, bits = 32)
        .orderBy("id1", "id2")),

    // dedup: n-gram Jaccard near-dup pairs (blocked by source, hot shingles
    // df-capped so the self-join is bounded per (blk, shingle) bucket)
    "q_dedup_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
        "source", n = 3, threshold = 0.2, maxShingleDf = 100)
        .orderBy("id1", "id2")),

    // dedup: embedding-cosine near-dup pairs, blocked by (label, band,
    // sign bucket) — the scale-safe variant: each of 8 sign bands splits
    // every label block 2^2 ways (a dominant label cannot go quadratic),
    // OR-amplification across bands keeps recall high (1−(1−p²)⁸; was 4
    // bands / 0.89 measured recall in round 2 — see COVERAGE.md for the
    // recall/candidate-volume trade)
    "q_dedup_embedding" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("v"))
      Similarity.nearDupPairs(e, "vec_id", "v", "label",
        threshold = 0.40, bands = 8, bitsPerBand = 2)
        .orderBy("id1", "id2")
    }),

    // storage: the bucketed CO-LOCATED join end to end under the oracle —
    // both sides written bucketBy(doc_id) then joined through the
    // bucket-aligned read path (zero exchanges, PlanSpec-asserted); the
    // oracle is the plain relational join, so the green row proves the
    // bucketed layout changes the PLAN, never the RESULT
    "q_bucketed_join" -> ((s, dir) => {
      val sfx = s.sparkContext.applicationId.replaceAll("\\W", "_")
      val docs = t(s, dir, "documents").select(col("doc_id"), col("source"))
      val stats = t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.wordCount(col("text")).as("n_tokens"))
      val (ta, tb) = (s"bj_docs_$sfx", s"bj_stats_$sfx")
      Staging.onRelease( // the enclosing scope drops both; outside one they stay
        Seq(ta, tb).foreach(x => s.sql(s"DROP TABLE IF EXISTS $x")))
      Exports.writeBucketed(docs, ta, "doc_id", 8)
      Exports.writeBucketed(stats, tb, "doc_id", 8)
      s.table(ta).join(s.table(tb), Seq("doc_id")).orderBy("doc_id")
    }),

    // similarity: TF-IDF all-pairs (APSS, Bayardo et al. 2007) — cosine
    // over sparse tf-idf vectors for every same-source pair ≥ 0.5, via
    // df-FRACTION-capped inverted postings (a fixed count cap would
    // Heaps'-law-degenerate as the corpus grows); the weighted sibling
    // of q_dedup_jaccard's one-scan/one-shuffle plan
    "q_tfidf_pairs" -> ((s, dir) =>
      Similarity.tfidfAllPairs(t(s, dir, "documents"), "doc_id", "text",
        "source", threshold = 0.5, maxDfFrac = 0.25)
        .orderBy("id1", "id2")),

    // dedup: SemDeDup (Abbas et al. 2023) — semantic near-dup pairs with
    // k-means CELL blocking (data-adaptive, vs the sign-LSH hyperplane
    // buckets of q_dedup_embedding); cluster granularity bounds the
    // within-cell quadratic; the cell is a scan-local argmax expression,
    // so the operator is ONE cell-keyed self-join
    "q_semdedup" -> ((s, dir) =>
      Similarity.semDedupPairs(vecs(s, dir), "vec_id", "v", eps = 0.40)
        .orderBy("cell", "id1", "id2")),

    // dedup: SemDeDup keeper list — the deduplicated corpus id set under
    // the lowest-id representative convention; the anti-join ships ids only
    "q_semdedup_keep" -> ((s, dir) =>
      Similarity.semDedupKeep(vecs(s, dir), "vec_id", "v", eps = 0.40)
        .orderBy("vec_id")),

    // dedup: recall harness for the bucketed near-dup — bucketed pair count
    // vs exact all-pairs at the same threshold, on a fixed bounded probe
    // subset (ids < 1000) so the exact side stays cheap at any scale
    "q_dedup_embedding_recall" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").filter(col("vec_id") < 1000)
        .select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("v"))
      val l = e.select(col("label").as("blk"), col("vec_id").as("id1"), col("v").as("v1"))
      val r = e.select(col("label").as("blk"), col("vec_id").as("id2"), col("v").as("v2"))
      val exact = l.join(r, Seq("blk")).filter(col("id1") < col("id2"))
        .filter(round(Similarity.cosine(col("v1"), col("v2")), 4) >= 0.40)
        .agg(count(lit(1)).as("n_exact"))
      val bucketed = Similarity.nearDupPairs(e, "vec_id", "v", "label",
        threshold = 0.40, bands = 8, bitsPerBand = 2)
        .agg(count(lit(1)).as("n_bucketed"))
      bucketed.crossJoin(exact).select(
        col("n_bucketed"), col("n_exact"),
        when(col("n_exact") === 0, 1.0)
          .otherwise(round(col("n_bucketed") / col("n_exact"), 4)).as("recall"))
    }),

    // similarity: brute-force cosine top-k vs query vector (vec_id=0)
    "q_ann_topk" -> ((s, dir) => {
      val e = vecs(s, dir)
      val q = e.filter(col("vec_id") === 0).select(col("v").as("qv"))
      Similarity.topKBy(e.filter(col("vec_id") =!= 0).crossJoin(broadcast(q)),
        "vec_id", Similarity.cosine(col("v"), col("qv")), "cos_sim", 10)
    }),

    // similarity: two-stage Matryoshka retrieval — 16-dim prefix coarse
    // rank → 50-candidate pool → full 64-dim re-rank, top 10
    "q_ann_matryoshka" -> ((s, dir) => {
      val e = vecs(s, dir)
      Similarity.matryoshkaTopK(
        e.filter(col("vec_id") =!= 0), "vec_id", "v",
        e.filter(col("vec_id") === 0), "v",
        prefixDim = 16, pool = 50, k = 10)
    }),

    // similarity: int8 scalar-quantized ANN — corpus-range SQ8 round-trip
    // on both sides, rank by cosine of the reconstructions
    "q_ann_sq" -> ((s, dir) => {
      val e = vecs(s, dir)
      Similarity.sqTopK(e.filter(col("vec_id") =!= 0), "vec_id", "v",
        e.filter(col("vec_id") === 0), "v", k = 10)
    }),

    // similarity: sign-LSH bucketed ANN top-k (the scale path)
    "q_ann_lsh" -> ((s, dir) => {
      val e = vecs(s, dir)
      val q = e.filter(col("vec_id") === 0)
        .select(col("v").as("qv"), Similarity.signBucket(col("v"), 4).as("qb"))
      Similarity.topKBy(e.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
        .filter(Similarity.signBucket(col("v"), 4) === col("qb")),
        "vec_id", Similarity.cosine(col("v"), col("qv")), "cos_sim", 10)
    }),

    // similarity: multi-probe sign-LSH ANN — query bucket + all flip-1-bit
    // buckets (nBits+1 of 2^nBits); recall lift vs probe-1 measured in
    // SimilaritySpec
    "q_ann_lsh_mp" -> ((s, dir) => {
      val e = vecs(s, dir)
      val qv = Similarity.queryVector(e, "vec_id", "v", 0L)
      Similarity.lshTopKMultiProbe(e.filter(col("vec_id") =!= 0),
        "vec_id", "v", qv, k = 10, nBits = 4)
    }),

    // similarity: the STORED sign-LSH index end to end — vectors written
    // partitioned by sign bucket, then probed through the partition-pruned
    // multi-probe read path; the oracle is the same as q_ann_lsh_mp, so
    // the green row proves index write → prune → probe reproduces the
    // in-memory multi-probe result exactly
    "q_ann_lsh_index" -> ((s, dir) => {
      val e = vecs(s, dir)
      val path = scratchPath(s, "lsh_index")
      Similarity.writeLshIndex(e, "vec_id", "v", path, nBits = 4)
      val qv = Similarity.queryVector(e, "vec_id", "v", 0L)
      Similarity.lshIndexTopK(s, path, "vec_id", "v", qv, k = 10,
        nBits = 4, excludeId = Some(0L))
    }),

    // similarity: IVF ANN — deterministic sampled k-means centroids
    // (2 Lloyd iterations, DECIMAL-exact means) + multi-probe (nprobe=2)
    "q_ann_ivf" -> ((s, dir) =>
      Similarity.ivfTopK(vecs(s, dir), "vec_id", "v", queryId = 0L,
        topK = 10, k = 8, nprobe = 2, iters = 2, sampleN = 256)),

    // similarity: the STORED IVF index end to end — write the partitioned
    // index (vectors partitioned by cell + centroid table), then probe it
    // through the partition-pruned read path; the oracle is the same as
    // q_ann_ivf, so the green row proves index write → prune → probe
    // reproduces the in-memory result exactly
    "q_ann_ivf_index" -> ((s, dir) => {
      val e = vecs(s, dir)
      val path = scratchPath(s, "ivf_index")
      Similarity.writeIvfIndex(e, "vec_id", "v", path, k = 8, iters = 2,
        sampleN = 256)
      val qv = Similarity.queryVector(e, "vec_id", "v", 0L)
      Similarity.ivfIndexTopK(s, path, "vec_id", "v", qv, topK = 10,
        nprobe = 2, excludeId = Some(0L))
    }),

    // similarity: product-quantization ADC top-k (Jégou et al. 2011) —
    // 4 subspaces × 16 dims, one deterministic k-means codebook each;
    // rank by cos(exact query, reconstructed database vector); fully
    // scan-local scoring + ONE TakeOrdered, codebooks driver-held
    "q_ann_pq" -> ((s, dir) =>
      Similarity.pqTopK(vecs(s, dir), "vec_id", "v", queryId = 0L, dim = 64,
        topK = 10, m = 4, k = 8, iters = 2, sampleN = 256)),

    // similarity: the PQ CODES themselves — the stored representation
    // (64 floats → 4 small ints per vector); each code is a scan-local
    // argmax against its subspace codebook, no join, no shuffle
    "q_ann_pq_codes" -> ((s, dir) => {
      val e = vecs(s, dir)
      val cbs = Similarity.pqCodebooks(e, "vec_id", "v", dim = 64, m = 4,
        k = 8, iters = 2, sampleN = 256)
      val codes = Similarity.pqCodeColumns(col("v"), cbs, sub = 16)
      e.select(col("vec_id") +:
        codes.zipWithIndex.map { case (c, i) => c.as(s"code$i") }: _*)
        .orderBy("vec_id")
    }),

    // similarity: IVFADC (Jégou et al. 2011 §IV) — coarse k-means prunes
    // to nprobe cells, PQ codebooks trained on RESIDUALS x − c(x) score
    // the survivors by cos(exact q, c(x) + r̂); all codebooks driver-held,
    // scoring scan-local over the probed rows + ONE TakeOrdered
    "q_ann_ivfadc" -> ((s, dir) =>
      Similarity.ivfadcTopK(vecs(s, dir), "vec_id", "v", queryId = 0L,
        dim = 64, topK = 10, kCoarse = 8, nprobe = 2, m = 4, k = 8, iters = 2,
        sampleN = 256)),

    // similarity: IVFADC against the STORED codes-only index — cell
    // partition key + m int codes per vector (raw vectors never stored,
    // ~60× smaller than the vector layout); probe prunes to nprobe
    // partition dirs and scores from codes. Oracle identical to
    // q_ann_ivfadc: the store/score roundtrip must not change a row.
    "q_ann_ivfadc_index" -> ((s, dir) => {
      val e = vecs(s, dir)
      val path = scratchPath(s, "ivfadc_index")
      Similarity.writeIvfadcIndex(e, "vec_id", "v", path, dim = 64,
        kCoarse = 8, m = 4, k = 8, iters = 2, sampleN = 256)
      val qv = Similarity.queryVector(e, "vec_id", "v", 0L)
      Similarity.ivfadcIndexTopK(s, path, "vec_id", qv, topK = 10,
        nprobe = 2, excludeId = Some(0L))
    }),

    // text: heuristic language ID
    "q_lang_id" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id")),

    // text: quality scoring (length/punct/stopword ratios)
    "q_quality" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.punctRatio(col("text")).as("punct_ratio"),
        TextAnalysis.stopwordRatio(col("text")).as("stopword_ratio"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")),

    // curation: closed-form OLS fit (normal equations, Cramer on ONE
    // DECIMAL-exact moment row) — quality regressed on punct/stopword
    // ratios; the distributed linear probe, zero gradient iterations
    "q_linreg_fit" -> ((s, dir) =>
      Curation.olsFit(qualityFeatures(t(s, dir, "documents")),
        "quality", "punct_ratio", "stopword_ratio")),

    // curation: score the corpus with the fitted model — ŷ + residual
    // from the PUBLISHED 4dp betas; scan-local arithmetic, the 1-row
    // model broadcast by construction
    "q_linreg_score" -> ((s, dir) => {
      val feats = qualityFeatures(t(s, dir, "documents"))
      Curation.olsScore(feats, "doc_id", "quality", "punct_ratio",
        "stopword_ratio",
        Curation.olsFit(feats, "quality", "punct_ratio", "stopword_ratio"))
        .orderBy("doc_id")
    }),

    // text: token counting (whitespace + BPE-ish pre-tokenization)
    "q_token_count" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("ws_tokens"),
        TextAnalysis.bpeishTokenCount(col("text")).cast("long").as("bpeish_tokens"))
        .orderBy("doc_id")),

    // text: document fingerprint (normalized content hash)
    "q_fingerprint" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")),

    // multimodal: binary column metadata (decode plumbing is mapPartitions;
    // the SQL-visible part is length + content hash over the blob)
    "q_multimodal_meta" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        length(col("text").cast("binary")).cast("long").as("byte_len"),
        sha2(col("text").cast("binary"), 256).as("sha256"))
        .orderBy("doc_id")),

    // multimodal: GENUINE container-header decode over a BinaryType column —
    // PNG IHDR width/height read from the blob's bytes with substring/hex/
    // conv (no codec library; dimensions live at fixed header offsets).
    // Blobs are synthesized deterministically from doc_id (a PNG header
    // with planted dims; every 7th row a JPEG prefix → is_png=false, null
    // dims). The oracle builds the SAME bytes with unhex and parses them
    // back via the hex roundtrip (DuckDB 1.0.0 has no blob slicing).
    "q_multimodal_dims" -> ((s, dir) => {
      val w = (col("doc_id") % 640 + 16).cast("long")
      val h = ((col("doc_id") * 7) % 480 + 16).cast("long")
      val pngHex = concat(lit("89504E470D0A1A0A0000000D49484452"),
        lpad(hex(w), 8, "0"), lpad(hex(h), 8, "0"), lit("0806000000"))
      val hx = when(col("doc_id") % 7 === 0,
        lit("FFD8FFE000104A46494600")).otherwise(pngHex)
      t(s, dir, "documents").select(col("doc_id"), unhex(hx).as("img"))
        .select(col("doc_id"),
          Multimodal.pngIsValid(col("img")).as("is_png"),
          Multimodal.pngWidth(col("img")).as("width"),
          Multimodal.pngHeight(col("img")).as("height"),
          length(col("img")).cast("long").as("byte_len"))
        .orderBy("doc_id")
    }),

    // curation: Gopher-style repetition quality signals
    "q_repetition" -> ((s, dir) =>
      Curation.repetitionSignals(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    // curation: PII masking (email + phone planted so every row exercises
    // the replacement; pattern semantics identical in Java regex and RE2)
    "q_pii_mask" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        Curation.maskPii(concat(
          lit("reach bob.smith@example.com or +1 555-123-9876 now "),
          col("text"))).as("masked"))
        .orderBy("doc_id")),

    // curation: payment-card detection with LUHN validation — the PII
    // class a regex alone cannot decide; planted candidates cover valid,
    // check-digit-invalid, and separator-spaced forms
    "q_card_detect" -> ((s, dir) => {
      val payload = concat(col("text"), lit(" "),
        when(col("doc_id") % 3 === 0, lit("pay 4111111111111111 now"))
          .when(col("doc_id") % 3 === 1, lit("id 4111111111111112 ref"))
          .otherwise(lit("card 5500 0000 0000 0004 used")))
      Curation.luhnCandidates(
        t(s, dir, "documents").select(col("doc_id"), payload.as("text")),
        "doc_id", "text")
        .orderBy("doc_id", "cand")
    }),

    // curation: deterministic stratified sampling — src10..src19 at 50%,
    // the rest at 20%; hash-mod keep rule, no rand() (resume-stable)
    "q_stratified_sample" -> ((s, dir) =>
      t(s, dir, "documents")
        .filter(Curation.stratifiedSampleFilter(col("source"), col("doc_id"),
          when(col("source").rlike("^src1\\d$"), 50L).otherwise(20L)))
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")),

    // curation: token-window chunking (64-token windows, 16-token overlap)
    "q_chunking" -> ((s, dir) =>
      Curation.tokenChunks(t(s, dir, "documents"), "doc_id", "text",
        chunkSize = 64, overlap = 16)
        .orderBy("doc_id", "chunk_idx")),

    // curation: benchmark contamination — corpus docs sharing any word
    // 5-gram with the (bounded, broadcast) benchmark set doc_id < 10
    // (5-grams: the synthetic docs are short; production contamination
    // checks use 8-13-gram windows — the n parameter is free)
    "q_contamination" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      Curation.contamination(d.filter(col("doc_id") >= 10), "doc_id", "text",
        d.filter(col("doc_id") < 10), n = 5)
        .orderBy("doc_id")
    }),

    // curation: corpus-wide paragraph-level exact dedup (paragraph =
    // 8-token non-overlapping window on this newline-less corpus); a chunk
    // survives iff globally first by (doc_id, chunk_idx) for its hash —
    // probed non-degenerate: 166/3504 duplicate chunks at sf0.001
    "q_dedup_paragraph" -> ((s, dir) =>
      Curation.paragraphDedup(t(s, dir, "documents"), "doc_id", "text",
        chunkTokens = 8)
        .orderBy("doc_id")),

    // dedup: incremental cross-snapshot — the doc_id%5==0 batch deduped
    // against the rest of the corpus (exact hash + MinHash band index)
    "q_dedup_incremental" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      Dedup.incrementalDedup(d.filter(col("doc_id") % 5 === 0),
        d.filter(col("doc_id") % 5 =!= 0), "doc_id", "text", n = 3)
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")
    }),

    // dedup: incremental against a STORED signature index — writes the
    // seen corpus's hashes + band-partitioned LSH index, then dedups the
    // new batch by probing the stored artifact (rolling-snapshot shape);
    // oracle identical to q_dedup_incremental: the index roundtrip must
    // not change a single surviving row
    "q_dedup_incremental_index" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val idx = scratchPath(s, "sig_index")
      Dedup.writeSignatureIndex(d.filter(col("doc_id") % 5 =!= 0),
        "doc_id", "text", idx, n = 3)
      Dedup.incrementalDedupAgainstIndex(s, idx,
        d.filter(col("doc_id") % 5 === 0), "doc_id", "text", n = 3)
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")
    }),

    // dedup: canonical-keeper selection per near-dup cluster (argmax
    // quality, ties → min id) — struct-max aggregate, no window sort
    "q_cluster_keeper" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val clusters = Dedup.dedupClusters(
        Dedup.minhashCandidates(d, "doc_id", "text", n = 3))
      val quality = d.select(col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("q"))
      Dedup.clusterKeepers(clusters, quality, "doc_id", "q")
        .orderBy("cluster")
    }),

    // dedup: connected components via LARGE-STAR/SMALL-STAR (Kiveris
    // 2014) — the O(log n)-round variant over the SAME candidate graph,
    // pinned to the SAME converged-components oracle as q_dedup_clusters
    "q_dedup_clusters_star" -> ((s, dir) =>
      Dedup.dedupClustersStar(
        Dedup.minhashCandidates(t(s, dir, "documents"), "doc_id", "text",
          n = 3))
        .orderBy("id")),

    // crawl ops: URL-level recrawl dedup — messy recrawl URLs planted so
    // 40 canonical pages each carry many captures (canonicalization rules
    // all fire; ts ties at sf>=0.01 exercise the max-id tie-break)
    "q_url_dedup" -> ((s, dir) => {
      val messy = concat(
        lit("HTTPS://WWW.Example.COM"),
        when(col("doc_id") % 4 === 0, ":443").otherwise(""),
        lit("/Page/"), (col("doc_id") % 40).cast("string"),
        when(col("doc_id") % 3 === 0, "/").otherwise(""),
        when(col("doc_id") % 2 === 0, "?utm_source=feed")
          .otherwise("?fbclid=x1"),
        when(col("doc_id") % 5 === 0, "#frag").otherwise(""))
      val ts = lit(1700000000L) + (col("doc_id") * 37 % 1000) * 60
      Dedup.urlDedup(
        t(s, dir, "documents")
          .select(col("doc_id"), messy.as("url"), ts.as("crawl_ts")),
        "doc_id", "url", "crawl_ts")
        .orderBy("canonical")
    }),

    // crawl ops: cross-snapshot diff — old = docs %5!=0, new = docs
    // %3!=0 with every 7th page's content updated; all four statuses
    // occur (added / removed / changed / unchanged)
    "q_snapshot_diff" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val oldSnap = d.filter(col("doc_id") % 5 =!= 0)
        .select(col("doc_id").as("url_id"), col("text"))
      val newSnap = d.filter(col("doc_id") % 3 =!= 0)
        .select(col("doc_id").as("url_id"),
          when(col("doc_id") % 7 === 0,
            concat(col("text"), lit(" [recrawled]")))
            .otherwise(col("text")).as("text"))
      Dedup.snapshotDiff(oldSnap, newSnap, "url_id", "text")
        .orderBy("url_id")
    }),

    // curation: Gopher-style heuristic rules (symbols planted on every 3rd
    // row so the symbol-ratio path is exercised; the corpus itself has
    // neither '#' nor ellipses)
    "q_gopher_rules" -> ((s, dir) => {
      val payload = concat(col("text"),
        when(col("doc_id") % 3 === 0, lit(" ### flag ... end"))
          .otherwise(lit(" plain end")))
      // project the signal struct ONCE, read fields from the projected
      // column — each interpreted-HOF signal tree evaluates once per row
      t(s, dir, "documents")
        .select(col("doc_id"), Curation.gopherStruct(payload).as("g"))
        .select(col("doc_id"), col("g.mean_word_len"), col("g.symbol_ratio"),
          col("g.alpha_word_frac"), col("g.gopher_keep"))
        .orderBy("doc_id")
    }),

    // curation: the FULL Gopher repetition table (Rae 2021 §A1.1) —
    // top-n-gram and duplicate-n-gram occurrence fractions for n=2,3,4
    // in one pass (n≥5 duplicate mass is identically zero on this
    // corpus, probed); one tagged-gram scan, one (id,n,gram) shuffle
    "q_gopher_repetition" -> ((s, dir) =>
      Curation.repetitionSuite(t(s, dir, "documents"), "doc_id", "text",
        ns = Seq(2, 3, 4))
        .orderBy("doc_id")),

    // curation: corpus n-gram document-frequency top-k (memorized-
    // boilerplate report) — partial-agg shuffle + TakeOrderedAndProject
    "q_ngram_topk" -> ((s, dir) =>
      Curation.ngramDocFreqTopK(t(s, dir, "documents"), "doc_id", "text",
        n = 3, k = 50)),

    // curation: per-source corpus composition with head/middle/tail
    // size bucketing (ntile over the aggregated table, not the corpus)
    "q_domain_stats" -> ((s, dir) =>
      Curation.domainStats(t(s, dir, "documents"), "source", "text")
        .orderBy("source")),

    // curation: quality-weighted deterministic sampling — survival
    // probability equals the doc's quality score, hash-derived (no rand())
    "q_weighted_sample" -> ((s, dir) => {
      val q = TextAnalysis.qualityScore(col("text"))
      t(s, dir, "documents")
        .filter(Curation.weightedSampleFilter(col("doc_id"),
          floor(q * 10000).cast("long")))
        .select(col("doc_id"), q.as("quality"))
        .orderBy("doc_id")
    }),

    // curation: cross-source shingle overlap (corpus-mixing report) —
    // array-local pair generation from bounded postings, no self-join
    "q_source_overlap" -> ((s, dir) =>
      Curation.sourceOverlap(t(s, dir, "documents"), "source", "text",
        n = 3, maxSources = 64)
        .orderBy("src1", "src2")),

    // multimodal: WAV/RIFF header decode over a BinaryType column —
    // little-endian field reassembly with pure scan-local expressions
    // (the PNG/JPEG sibling is q_multimodal_dims). Blobs synthesized
    // deterministically from doc_id; every 5th row an ID3/MP3 prefix →
    // is_wav=false, null fields. Oracle builds the same bytes and parses
    // them back through the hex roundtrip.
    "q_multimodal_wav" -> ((s, dir) => {
      val ch = (col("doc_id") % 2 + 1).cast("long")
      val rate = element_at(
        array(lit(8000L), lit(16000L), lit(22050L), lit(44100L)),
        (col("doc_id") % 4 + 1).cast("int"))
      val dataSize = ((col("doc_id") % 1000 + 1) * 1024).cast("long")
      val byteRate = rate * ch * 2
      val blockAlign = ch * 2
      val hx = when(col("doc_id") % 5 === 0, lit("494433040000"))
        .otherwise(concat(lit("52494646"), leHexCol(dataSize + 36, 4),
          lit("57415645666D7420"), leHexCol(lit(16L), 4),
          leHexCol(lit(1L), 2), leHexCol(ch, 2), leHexCol(rate, 4),
          leHexCol(byteRate, 4), leHexCol(blockAlign, 2),
          leHexCol(lit(16L), 2), lit("64617461"), leHexCol(dataSize, 4)))
      t(s, dir, "documents").select(col("doc_id"), unhex(hx).as("wav"))
        .select(col("doc_id"),
          Multimodal.wavIsValid(col("wav")).as("is_wav"),
          Multimodal.wavChannels(col("wav")).as("channels"),
          Multimodal.wavSampleRate(col("wav")).as("sample_rate"),
          Multimodal.wavBitsPerSample(col("wav")).as("bits_per_sample"),
          Multimodal.wavDataSize(col("wav")).as("data_size"),
          Multimodal.wavDurationMs(col("wav")).as("duration_ms"))
        .orderBy("doc_id")
    }),

    // similarity: per-source mean embedding (mixture-shift monitor) —
    // DECIMAL-exact component sums, long (source, dim, c) output
    "q_source_centroid" -> ((s, dir) => {
      val j = t(s, dir, "documents").select(col("doc_id"), col("source"))
        .join(t(s, dir, "embeddings"),
          col("vec_id") === col("doc_id"))
      Similarity.groupCentroids(j, "source", "embedding")
        .orderBy("source", "dim")
    }),

    // curation: training-sequence packing — 256-token bins per source,
    // documents straddle bin boundaries (GPT-style packed layout)
    "q_seq_packing" -> ((s, dir) =>
      Curation.sequencePack(t(s, dir, "documents"), "doc_id", "text",
        "source", capacity = 256)
        .orderBy("doc_id")),

    // curation: log2-bucketed length histogram (integer-exact buckets via
    // binary-string length, no floating log)
    "q_length_histogram" -> ((s, dir) =>
      Curation.lengthHistogram(t(s, dir, "documents"), "text")
        .orderBy("log2_bucket")),

    // curation: URL canonicalization — synthetic messy URLs (mixed-case
    // host, default port, utm/fbclid params in varying positions,
    // fragment, trailing slash) planted per doc_id so every rule fires
    "q_url_normalize" -> ((s, dir) => {
      val messy = concat(
        lit("HTTPS://WWW."), col("source"), lit(".Example.COM"),
        when(col("doc_id") % 4 === 0, ":443").otherwise(""),
        lit("/Path/"), col("doc_id").cast("string"),
        when(col("doc_id") % 3 === 0, "/").otherwise(""),
        when(col("doc_id") % 2 === 0, "?utm_source=feed&id=7&utm_medium=x")
          .otherwise("?fbclid=abc123"),
        when(col("doc_id") % 5 === 0, "#section-2").otherwise(""))
      t(s, dir, "documents").select(col("doc_id"), messy.as("url"))
        .select(col("doc_id"), col("url"),
          Curation.normalizeUrl(col("url")).as("canonical"))
        .orderBy("doc_id")
    }),

    // curation: deterministic train/val/test split (98/1/1 hash bands)
    "q_split_assign" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        Curation.splitAssign(col("doc_id")).as("split"))
        .orderBy("doc_id")),

    // curation: packed-bin MATERIALIZATION — the content half of
    // q_seq_packing: each (source, bin) row carries the bin's actual
    // token stream, straddling docs sliced across bins; every non-final
    // bin holds exactly 256 tokens
    "q_pack_bins" -> ((s, dir) =>
      Curation.packBins(t(s, dir, "documents"), "doc_id", "text",
        "source", capacity = 256)
        .orderBy("source", "bin_idx")),

    // curation: SHARD MANIFEST — the trainer-facing artifact: hash-split
    // assignment feeds per-split sequence packing, yielding each doc's
    // (split, bin, offset) address. Split → pack composition of two
    // individually-oracled operators; 512-token bins
    "q_shard_manifest" -> ((s, dir) =>
      Curation.sequencePack(
        t(s, dir, "documents").withColumn("split",
          Curation.splitAssign(col("doc_id"))),
        "doc_id", "text", "split", capacity = 512)
        .orderBy("split", "doc_id")),

    // curation: per-source token-budget capping (head-domain down-
    // weighting) — 800-token budget per source, docs admitted in id order
    "q_token_budget" -> ((s, dir) =>
      Curation.tokenBudgetFilter(t(s, dir, "documents"), "doc_id", "text",
        "source", budget = 800L)
        .orderBy("doc_id")),

    // curation: UniMax epoch-capped budget allocation (Chung et al. 2023)
    // — smallest sources first at min(2·size, equal remaining share);
    // the sequential waterfill computed closed-form via the monotone
    // capped-prefix flag, exact integer arithmetic up to the final share
    "q_unimax" -> ((s, dir) =>
      Curation.unimaxAllocation(t(s, dir, "documents"), "source", "text",
        budget = 20000L, epochCap = 2L)
        .orderBy("source")),

    // curation: top-3 best-quality docs per domain (representative
    // selection) — driven through the SALTED two-phase path at a forced
    // salt (exact for any salt: a group's true top-k survives its salt
    // bucket's top-k), so the skew-proof variant is what the oracle pins
    "q_topk_per_domain" -> ((s, dir) =>
      Curation.topKPerGroupSalted(
        t(s, dir, "documents").select(col("doc_id"), col("source"),
          TextAnalysis.qualityScore(col("text")).as("quality")),
        "source", col("doc_id"), salt = 4, k = 3,
        col("quality").desc, col("doc_id").asc)
        .orderBy("source", "doc_id")),

    // curation: corpus-trained unigram-LM surprisal score (CCNet-style
    // perplexity pre-filter without an external model) — vocab minCount=2,
    // OOV floor count 1, mean −ln p(w) per doc
    "q_unigram_lm" -> ((s, dir) =>
      Curation.unigramLmScore(t(s, dir, "documents"), "doc_id", "text",
        minCount = 2L)
        .orderBy("doc_id")),

    // curation: BPE vocab-induction merge selection — corpus-wide
    // adjacent-token pair counts, top 50 (count desc, pair asc)
    "q_bpe_pairs" -> ((s, dir) =>
      Curation.bpePairTopK(t(s, dir, "documents"), "doc_id", "text",
        k = 50)),

    // curation: ITERATED BPE training — 3 rounds of merge selection
    // (count desc, t1, t2 — deterministic total order) + greedy
    // left-to-right merge application over the token arrays; oracle is
    // the same 3 rounds unrolled in SQL (parity-of-run-position replays
    // the greedy fold relationally)
    "q_bpe_train" -> ((s, dir) =>
      Curation.bpeTrain(t(s, dir, "documents"), "doc_id", "text",
        iters = 3)),

    // curation: BPE ENCODE — the trained 3-round merge list applied
    // corpus-wide (the inference half of the tokenizer loop). Greedy
    // left-to-right apply == plain string replace over sentinel-wrapped
    // tokens: scan-local, zero shuffles, one codegen'd StringReplace per
    // merge. Oracle replays the same rounds and emits per-doc sequences.
    "q_bpe_encode" -> ((s, dir) =>
      Curation.bpeTrainEncode(t(s, dir, "documents"), "doc_id", "text",
        iters = 3)
        .filter(col("n_tokens") > 0)
        .orderBy("doc_id")),

    // curation: tokenizer fertility per source — BPE tokens per pre-merge
    // word after the 3 trained merges; carry columns ride the encode
    // projection (one scan + one source aggregate, no corpus join)
    "q_bpe_fertility" -> ((s, dir) =>
      Curation.bpeFertility(t(s, dir, "documents"), "doc_id", "text",
        "source", iters = 3)
        .orderBy("source")),

    // dedup: approximate exact-substring dedup (Lee et al. 2021 recast)
    // — 16-token windows, content-defined anchors (token-hash ≡ 0 mod 4,
    // Broder "mod m" selection: position-independent, so relocated
    // copies of a span still collide)
    "q_dedup_substring" -> ((s, dir) =>
      Dedup.substringDupSpans(t(s, dir, "documents"), "doc_id", "text",
        window = 16, stride = 4)
        .orderBy("doc_id")),

    // dedup: winnowing fingerprints (Schleimer et al. 2003) — every
    // 8-token window hashed, leftmost-min of each 4-hash selection
    // window kept: DETERMINISTIC guarantee that common spans ≥ 11 tokens
    // share a fingerprint (vs q_dedup_substring's probabilistic mod-m)
    "q_dedup_winnow" -> ((s, dir) =>
      Dedup.winnowedDupSpans(t(s, dir, "documents"), "doc_id", "text",
        k = 8, w = 4)
        .orderBy("doc_id")),

    // dedup: winnowing with POLYNOMIAL window hashes — same selection
    // rule and guarantee, O(n) md5 + integer Horner folds instead of
    // O(n·k) md5 digests (the md5 variant is the bench's compute tail)
    "q_dedup_winnow_fast" -> ((s, dir) =>
      Dedup.winnowedDupSpansFast(t(s, dir, "documents"), "doc_id", "text",
        k = 8, w = 4)
        .orderBy("doc_id")),

    // dedup: substring removal APPLIED (Lee et al.'s end step) — every
    // token covered by a cross-doc-duplicated anchored window dropped,
    // survivors rejoined; same mod-m anchors as q_dedup_substring
    "q_dedup_remove" -> ((s, dir) =>
      Dedup.removeDupSpans(t(s, dir, "documents"), "doc_id", "text",
        window = 16, stride = 4)
        .orderBy("doc_id")),

    // curation: per-source quality calibration — percent rank within
    // source (tie-sharing PERCENT_RANK, deterministic with no tiebreak)
    "q_calibrate" -> ((s, dir) =>
      Curation.calibrateScores(
        t(s, dir, "documents").select(col("doc_id"), col("source"),
          TextAnalysis.qualityScore(col("text")).as("quality")),
        "source", "quality")
        .orderBy("doc_id")),

    // curation v4 — THIS round's operators composed end to end:
    // per-source percent-rank calibration → keep each source's upper
    // half (calibrated ≥ 0.5 — a GLOBAL threshold made meaningful by
    // calibration) → substring removal over the survivor corpus (df
    // counted post-gate, matching the staged-pipeline contract) →
    // per-source kept/removed token stats
    "q_curation_v4" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val cal = Curation.calibrateScores(
        d.select(col("doc_id"), col("source"),
          TextAnalysis.qualityScore(col("text")).as("quality")),
        "source", "quality")
      val kept = d.join(cal.filter(col("calibrated") >= 0.5)
        .select("doc_id"), Seq("doc_id"))
      Dedup.removeDupSpans(kept, "doc_id", "text", window = 16, stride = 4)
        .join(d.select(col("doc_id"), col("source")), Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens") - col("n_removed")).as("kept_tokens"),
          sum(col("n_removed")).as("removed_tokens"))
        .orderBy("source")
    }),

    // sink: keyed UPSERT into a partitioned parquet table (MERGE without
    // a table format): base write → batch of updates + inserts → dynamic
    // partition overwrite of ONLY the touched partitions → read back;
    // the oracle is the relational FULL-JOIN merge (batch wins)
    "q_upsert" -> ((s, dir) => {
      val p = new org.apache.hadoop.fs.Path(
        scratchPath(s, "upsert"))
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
      val docs = t(s, dir, "documents")
      val base = docs.select(col("doc_id"), lit("v0").as("ver"), col("source"))
      Exports.upsertByKey(s, p.toString, base, "doc_id", "source")
      val batch = docs.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), lit("v1").as("ver"), col("source"))
        .union(docs.filter(col("doc_id") % 7 === 3)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            lit("new").as("ver"), col("source")))
      Exports.upsertByKey(s, p.toString, batch, "doc_id", "source")
      s.read.parquet(p.toString)
        .select(col("doc_id"), col("ver"), col("source"))
        .orderBy("doc_id")
    }),

    // web graph: main-text extraction from html bytes, with the
    // north-rule round-trip invariant made explicit — wrapping the text
    // in markup (style/script subtrees, tags, a double-escaped entity, a
    // trailing anchor) and extracting must return the normalized text
    // plus exactly the planted visible additions, asserted per row
    "q_html_text" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val html = concat(
        lit("<html><head><style>p {c:red}</style><script>var a=\"<x>\";</script></head><body><p>"),
        col("text"),
        lit("</p> &amp;amp; <a href=\"http://x.com/p\">tail link</a></body></html>"))
        .cast("binary")
      val normText = trim(regexp_replace(col("text"), "\\s+", " "))
      val expected = trim(concat(normText, lit(" &amp; tail link")))
      d.select(col("doc_id"),
          WebGraph.extractText(html).as("extracted"),
          coalesce(WebGraph.extractText(html) === expected, lit(false))
            .as("roundtrip_ok"))
        .orderBy("doc_id")
    }),

    // web graph: anchor extraction from html bytes → domain edge list.
    // Anchors planted deterministically (the synthetic corpus has none):
    // two <a> tags per doc targeting site{f(doc_id)}.com
    "q_link_graph" -> ((s, dir) => {
      val pages = t(s, dir, "documents").select(col("doc_id"), col("source"),
        plantedHtml.cast("binary").as("html"))
      WebGraph.domainEdges(pages, "source", "doc_id", "html")
        .orderBy("src_domain", "dst_domain")
    }),

    // web graph: anchor-text index — per target domain, term counts of
    // all anchors pointing at it (off-page relevance signal)
    "q_anchor_text" -> ((s, dir) => {
      val pages = t(s, dir, "documents").select(col("doc_id"), col("source"),
        plantedHtml.cast("binary").as("html"))
      WebGraph.anchorTextIndex(pages, "source", "doc_id", "html")
        .orderBy("dst_domain", "term")
    }),

    // web graph: one PageRank power-iteration step over the same edges
    "q_pagerank" -> ((s, dir) => {
      val pages = t(s, dir, "documents").select(col("doc_id"), col("source"),
        plantedHtml.cast("binary").as("html"))
      WebGraph.pagerankStep(
        WebGraph.domainEdges(pages, "source", "doc_id", "html"))
        .orderBy("domain")
    }),

    // web graph: TrustRank to a 3-step horizon (Gyöngyi 2004) — teleport
    // biased onto {src0, src1, site0.com}: src0/src1 are SOURCE domains
    // with out-edges, so trust actually flows through all 3 iterations
    // (the damping feedback is oracle-pinned, not just the teleport
    // term); site0.com is destination-only, pinning the inflow-plus-
    // teleport case; non-seed srcN (no trusted in-path) score exactly 0
    // (the spam-demotion contract)
    "q_trustrank" -> ((s, dir) => {
      val pages = t(s, dir, "documents").select(col("doc_id"), col("source"),
        plantedHtml.cast("binary").as("html"))
      WebGraph.trustrank(
        WebGraph.domainEdges(pages, "source", "doc_id", "html"),
        seeds = Seq("src0", "src1", "site0.com"), iters = 3)
        .orderBy("domain")
    }),

    // web graph/crawl: frontier prioritization — the scheduler
    // composition: extracted hrefs, bloom-unseen filter (zero false
    // negatives: fetched URLs never re-queued), ranked by destination-
    // domain PageRank; every piece oracle-pinned alone, composed here
    "q_frontier" -> ((s, dir) => {
      val pages = t(s, dir, "documents").select(col("doc_id"), col("source"),
        plantedHtml.cast("binary").as("html"))
      // ONE staged extraction feeds the seen-set derivation AND the
      // frontier composition (the former shape ran the anchor regex twice:
      // once here for cand/seen, once inside frontierRank)
      val links = Staging(
        WebGraph.extractLinks(pages, "doc_id", "html", "source"))
      // host-filtered like the oracle's cand CTE (regexp_extract <> '') —
      // a host-less/relative href must not set extra Bloom bits Spark-side
      val cand = links.select(col("href").as("url")).distinct()
        .filter(WebGraph.hostOf(col("url")).isNotNull)
      val seen = cand.filter(col("url").endsWith("/q") ||
        substring(col("url"), -1, 1).isin("0", "2", "4", "6", "8"))
      WebGraph.frontierRankFromLinks(links, "source",
        seen.select(col("url")), iters = 3, mBits = 8192, kHashes = 4,
        topK = 20)
    }),

    // web graph: relative spam mass (Gyöngyi et al. 2006) — the fraction
    // of each domain's PageRank earned through UNtrusted paths,
    // m = (pr − n·tr)/pr with tr rescaled to pr's total teleport mass;
    // seeds go negative, spam-suspect domains → 1; composition of the
    // two oracle-pinned rank vectors, one aggregate-scale join
    "q_spam_mass" -> ((s, dir) => {
      val pages = t(s, dir, "documents").select(col("doc_id"), col("source"),
        plantedHtml.cast("binary").as("html"))
      WebGraph.spamMass(
        WebGraph.domainEdges(pages, "source", "doc_id", "html"),
        seeds = Seq("src0", "src1", "site0.com"), iters = 3)
        .orderBy("domain")
    }),

    // web graph: one HITS update (Kleinberg 1999) from uniform init —
    // authority then hub half-steps, unnormalized (rankings scale-
    // invariant), integer-valued double sums so 4dp is exact
    "q_hits" -> ((s, dir) => {
      val pages = t(s, dir, "documents").select(col("doc_id"), col("source"),
        plantedHtml.cast("binary").as("html"))
      WebGraph.hitsStep(
        WebGraph.domainEdges(pages, "source", "doc_id", "html"))
        .orderBy("domain")
    }),

    // web graph: per-domain degree/weight table — the graph-health
    // diagnostic (out/in distinct-neighbor counts + link-weight sums)
    "q_degree_table" -> ((s, dir) => {
      val pages = t(s, dir, "documents").select(col("doc_id"), col("source"),
        plantedHtml.cast("binary").as("html"))
      WebGraph.degreeTable(
        WebGraph.domainEdges(pages, "source", "doc_id", "html"))
        .orderBy("domain")
    }),

    // web graph: PageRank iterated to a 3-step horizon — per-round
    // checkpointed power iteration, unrounded between rounds, 4dp only on
    // the final output (the implementation's contract); oracle is the
    // same 3 rounds unrolled in SQL
    "q_pagerank_iters" -> ((s, dir) => {
      val pages = t(s, dir, "documents").select(col("doc_id"), col("source"),
        plantedHtml.cast("binary").as("html"))
      WebGraph.pagerank(
        WebGraph.domainEdges(pages, "source", "doc_id", "html"), iters = 3)
        .orderBy("domain")
    }),

    // web graph: mass-CONSERVING 3-step PageRank — per round the dangling
    // domains' damped mass (one 1-row aggregate) is redistributed
    // uniformly, standard power iteration; Σpr = n at every horizon
    "q_pagerank_conserving" -> ((s, dir) => {
      val pages = t(s, dir, "documents").select(col("doc_id"), col("source"),
        plantedHtml.cast("binary").as("html"))
      WebGraph.pagerankConserving(
        WebGraph.domainEdges(pages, "source", "doc_id", "html"), iters = 3)
        .orderBy("domain")
    }),

    // curation: per-source token-distribution drift — KL(source ‖ corpus)
    "q_source_kl" -> ((s, dir) =>
      Curation.sourceTokenDrift(t(s, dir, "documents"), "source", "text")
        .orderBy("source")),

    // curation: bigram LM with stupid-backoff (0.4) to the unigram model
    "q_bigram_lm" -> ((s, dir) =>
      Curation.bigramLmScore(t(s, dir, "documents"), "doc_id", "text",
        minCount = 2L)
        .orderBy("doc_id")),

    // curation: temperature mixture resampling (alpha=0.5) — head sources
    // thinned toward n_s^alpha, rarest source keeps all; hash-coin accept
    "q_temperature_sample" -> ((s, dir) =>
      Curation.temperatureSample(t(s, dir, "documents"), "doc_id", "text",
        "source", alpha = 0.5)
        .orderBy("doc_id")),

    // curation: wildcard domain blocklist via suffix-explosion equi-join;
    // hosts synthesized per doc_id so exact, subdomain, and non-matching
    // TLD cases all occur (same planted-fixture pattern as q_url_normalize)
    "q_domain_blocklist" -> ((s, dir) => {
      import s.implicits._
      val host = concat(
        when(col("doc_id") % 2 === 0, "www.").otherwise(""),
        col("source"), lit("."),
        when(col("doc_id") % 4 === 0, "ads.example.com")
          .when(col("doc_id") % 4 === 1, "example.com")
          .when(col("doc_id") % 4 === 2, "example.org")
          .otherwise("clean.net"))
      val blocked = Seq("example.com", "tracker.net").toDF("pattern")
      Curation.domainBlocklist(
        t(s, dir, "documents").select(col("doc_id"), host.as("host")),
        "doc_id", "host", blocked)
        .orderBy("doc_id")
    }),

    // curation: CCNet perplexity terciles — head/middle/tail per source
    // by unigram surprisal (head = most fluent third, the slice CCNet
    // keeps); percent_rank ties share a bucket, so it's deterministic
    "q_ccnet_buckets" -> ((s, dir) =>
      Curation.ccnetBuckets(t(s, dir, "documents"), "doc_id", "text",
        "source", minCount = 2L)
        .orderBy("doc_id")),

    // curation: DSIR importance weights (Xie et al. 2023) — hashed-unigram
    // LM log-ratio of the src0 target domain vs the raw corpus, Laplace
    // smoothed; one scan + one (id,bucket) shuffle + two dim-bounded
    // aggregates, model join broadcast BY CONSTRUCTION (64 rows)
    "q_dsir_weights" -> ((s, dir) =>
      Curation.dsirWeights(t(s, dir, "documents"), "doc_id", "text",
        isTarget = col("source") === "src0", dim = 64)
        .orderBy("doc_id")),

    // curation: the DSIR model itself as a first-class artifact — the
    // dim-bounded (bucket, lr) table the streaming gate broadcasts;
    // pround4 wraps the raw log-ratios (ln ULPs differ across engines)
    "q_dsir_model" -> ((s, dir) =>
      Curation.dsirModel(t(s, dir, "documents"), "doc_id", "text",
        isTarget = col("source") === "src0", dim = 64)
        .select(col("bucket"),
          graft.operators.TextAnalysis.pround4(col("lr")).as("lr"),
          graft.operators.TextAnalysis.pround4(col("lr0")).as("lr0"))
        .orderBy("bucket")),

    // curation: DSIR Gumbel-top-k selection — the paper's resampling with
    // content-hash-derived Gumbel noise (deterministic, resume-stable)
    "q_dsir_sample" -> ((s, dir) =>
      Curation.dsirSample(
        Curation.dsirWeights(t(s, dir, "documents"), "doc_id", "text",
          isTarget = col("source") === "src0", dim = 64),
        "doc_id", k = 100)),

    // curation: hashed Naive-Bayes classifier MODEL (fastText recipe,
    // Joulin 2016) — closed-form multinomial NB over 64 hashed-unigram
    // buckets, labels = lang=='en'; dim-bounded artifact à la q_dsir_model
    "q_nbc_model" -> ((s, dir) =>
      Curation.nbcModel(t(s, dir, "documents"), "text",
        isPositive = col("lang") === "en", dim = 64)
        .select(col("bucket"),
          graft.operators.TextAnalysis.pround4(col("w")).as("w"),
          graft.operators.TextAnalysis.pround4(col("w0")).as("w0"))
        .orderBy("bucket")),

    // curation: NB scores + decisions over the training corpus (doc-count
    // prior + DECIMAL-exact per-doc log-likelihood sums, 4dp)
    "q_nbc_score" -> ((s, dir) =>
      Curation.nbcScore(t(s, dir, "documents"), "doc_id", "text",
        isPositive = col("lang") === "en", dim = 64)
        .orderBy("doc_id")),

    // curation: classifier evaluation — confusion counts + accuracy of
    // the self-trained NB gate against its own labels (composition row).
    // The synthetic corpus's lang label is uncorrelated with its text
    // (same word soup for every lang), so accuracy here measures engine
    // parity on a noisy-label fit — all four confusion cells are
    // non-zero at every SF; REAL separability is proven in CurationSpec
    // on a vocabulary-disjoint corpus
    "q_nbc_eval" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      Curation.nbcScore(d, "doc_id", "text",
        isPositive = col("lang") === "en", dim = 64)
        .join(d.select(col("doc_id"), (col("lang") === "en").as("y")),
          Seq("doc_id"))
        .agg(
          sum(when(col("nb_pred") && col("y"), 1L).otherwise(0L)).as("tp"),
          sum(when(col("nb_pred") && !col("y"), 1L).otherwise(0L)).as("fp"),
          sum(when(!col("nb_pred") && col("y"), 1L).otherwise(0L)).as("fn"),
          sum(when(!col("nb_pred") && !col("y"), 1L).otherwise(0L)).as("tn"),
          graft.operators.TextAnalysis.pround4(
            avg(when(col("nb_pred") === col("y"), 1.0).otherwise(0.0)))
            .as("accuracy"))
    }),

    // curation: KMV distinct-count sketch per source — the k=32 smallest
    // 48-bit token hashes (Beyer 2007); reproducible relationally, so the
    // sketch itself sits under the cross-engine oracle (unlike HLL)
    "q_kmv_sketch" -> ((s, dir) =>
      Curation.kmvSketch(t(s, dir, "documents"), "source", "text", k = 32)
        .orderBy("source", "hv")),

    // curation: KMV estimates + exact distinct per source in one row —
    // the estimator under the oracle with its error visible in-row
    "q_kmv_distinct" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val exact = d.select(col("source"),
          explode(TextAnalysis.toks(col("text"))).as("tok"))
        .select(col("source"),
          conv(substring(md5(col("tok")), 1, 12), 16, 10).cast("long")
            .as("hv"))
        .distinct()
        .groupBy(col("source")).agg(count(lit(1)).as("exact_distinct"))
      Curation.kmvEstimate(
        Curation.kmvSketch(d, "source", "text", k = 32), "source", k = 32)
        .join(exact, Seq("source"))
        .orderBy("source")
    }),

    // curation: KMV MERGEABILITY — the global estimate from the union of
    // per-source sketches equals the directly-built global sketch's
    // estimate (k smallest of a union of bottom-k sets = k smallest of
    // the union); one row carries merged, direct, and exact counts
    "q_kmv_merge" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val merged = Curation.kmvMerge(
        Curation.kmvSketch(d, "source", "text", k = 32), k = 32)
        .withColumn("scope", lit("global"))
      val direct = Curation.kmvSketch(
        d.withColumn("corpus", lit("global")), "corpus", "text", k = 32)
      val exact = d.select(explode(TextAnalysis.toks(col("text"))).as("tok"))
        .select(conv(substring(md5(col("tok")), 1, 12), 16, 10).cast("long")
          .as("hv"))
        .distinct().agg(count(lit(1)).as("exact_distinct"))
      Curation.kmvEstimate(merged, "scope", 32)
        .select(col("est_distinct").as("est_merged"))
        .crossJoin(Curation.kmvEstimate(direct, "corpus", 32)
          .select(col("est_distinct").as("est_direct")))
        .crossJoin(exact)
    }),

    // sketches: Count-Min registers per source (Cormode & Muthukrishnan
    // 2005) — d·w bounded integer state per group, one tokenize scan +
    // one hash aggregate; only non-zero registers emitted
    "q_cms_sketch" -> ((s, dir) =>
      Sketches.cmsSketch(t(s, dir, "documents"), "source", "text",
        depth = 4, width = 64)
        .orderBy("source", "depth", "bucket")),

    // sketches: CMS MERGEABILITY — Spark merges the per-source sketches
    // by register ADDITION; the oracle builds the global sketch from
    // scratch. Hash equality pins merge == rebuild cross-engine.
    "q_cms_merge" -> ((s, dir) =>
      Sketches.cmsMerge(Sketches.cmsSketch(t(s, dir, "documents"),
        "source", "text", depth = 4, width = 64))
        .orderBy("depth", "bucket")),

    // sketches: CMS point estimates for the 20 highest-true-count tokens,
    // true count in-row (êst ≥ true, the one-sided CMS guarantee —
    // integer-exact on both engines)
    "q_cms_estimate" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val truth = d.select(explode(TextAnalysis.toks(col("text"))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("true_cnt"))
      val probes = truth.orderBy(col("true_cnt").desc, col("tok")).limit(20)
      val merged = Sketches.cmsMerge(
        Sketches.cmsSketch(d, "source", "text", depth = 4, width = 64))
      Sketches.cmsEstimate(merged, probes.select(col("tok")), "tok",
        depth = 4, width = 64)
        .join(probes, Seq("tok"))
        .select(col("tok"), col("true_cnt"), col("est_cnt"))
        .orderBy(col("true_cnt").desc, col("tok"))
    }),

    // sketches: HLL registers per source (Flajolet et al. 2007) — 2^p
    // fixed integer state per group, rho from exact binary-string length
    // (no float log anywhere in the sketch)
    "q_hll_registers" -> ((s, dir) =>
      Sketches.hllRegisters(t(s, dir, "documents"), "source", "text", p = 5)
        .orderBy("source", "bucket")),

    // sketches: HLL estimates + exact distinct per source in one row —
    // the estimator under the oracle with its error visible in-row
    "q_hll_estimate" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val exact = d.select(col("source"),
          explode(TextAnalysis.toks(col("text"))).as("tok"))
        .groupBy(col("source"))
        .agg(countDistinct(col("tok")).as("exact_distinct"))
      Sketches.hllEstimate(
        Sketches.hllRegisters(d, "source", "text", p = 5), "source", p = 5)
        .join(exact, Seq("source"))
        .orderBy("source")
    }),

    // sketches: HLL MERGEABILITY — Spark merges per-source registers by
    // MAX and estimates the union; the oracle builds the global register
    // table from scratch. One row: merged estimate vs global exact.
    "q_hll_merge" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val merged = Sketches.hllMerge(
        Sketches.hllRegisters(d, "source", "text", p = 5))
        .withColumn("scope", lit("global"))
      val exact = d.select(explode(TextAnalysis.toks(col("text"))).as("tok"))
        .distinct().agg(count(lit(1)).as("exact_distinct"))
      Sketches.hllEstimate(merged, "scope", p = 5)
        .select(col("n_buckets_used"), col("est_distinct"))
        .crossJoin(exact)
    }),

    // sketches/crawl: Bloom URL-seen filter (Bloom 1970) — 2/3 of the
    // URLs are "already crawled"; probe ALL against the sparse set-bit
    // table. truly_seen in-row pins the zero-false-negative guarantee
    // cross-engine (no row may have truly_seen AND NOT maybe_seen).
    "q_bloom_filter" -> ((s, dir) => {
      val urls = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("https://site"), (col("doc_id") % 20).cast("string"),
          lit(".com/page/"), col("doc_id").cast("string")).as("url"))
      val bits = Sketches.bloomBits(
        urls.filter(col("doc_id") % 3 =!= 0).select(col("url")), "url",
        mBits = 8192, kHashes = 4)
      Sketches.bloomProbe(bits, urls.select(col("url")), "url",
        mBits = 8192, kHashes = 4)
        .join(urls.select(col("url"),
          (col("doc_id") % 3 =!= 0).as("truly_seen")), Seq("url"))
        .orderBy("url")
    }),

    // sketches/crawl: Bloom MERGEABILITY — Spark ORs the per-source bit
    // tables (union + distinct); the oracle builds the union's filter
    // from scratch. Hash equality pins merge == rebuild cross-engine.
    "q_bloom_merge" -> ((s, dir) => {
      val urls = t(s, dir, "documents").select(col("source"),
        concat(lit("https://site"), (col("doc_id") % 20).cast("string"),
          lit(".com/page/"), col("doc_id").cast("string")).as("url"))
      Sketches.bloomMerge(Sketches.bloomBitsGrouped(urls, "source", "url",
        mBits = 8192, kHashes = 4))
        .orderBy("bit")
    }),

    // crawl ops: snapshot diff against the STORED snapshot artifact —
    // hash paid once at write time, the diff column-prunes the stored
    // side to (key, content_hash); oracle identical to q_snapshot_diff
    // (the roundtrip must not change a single row)
    "q_snapshot_diff_stored" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val path = scratchPath(s, "snapshot")
      Dedup.writeSnapshot(d.filter(col("doc_id") % 5 =!= 0)
        .select(col("doc_id").as("url_id"), col("text")),
        "url_id", "text", path)
      val newSnap = d.filter(col("doc_id") % 3 =!= 0)
        .select(col("doc_id").as("url_id"),
          when(col("doc_id") % 7 === 0,
            concat(col("text"), lit(" [recrawled]")))
            .otherwise(col("text")).as("text"))
      Dedup.snapshotDiffAgainstTable(s, path, newSnap, "url_id", "text")
        .orderBy("url_id")
    }),

    // text analysis: Unicode-script composition profile — Cyrillic /
    // Han / Arabic / digit snippets planted per doc_id so every script
    // fraction is exercised (corpus text itself is Latin-only)
    "q_script_profile" -> ((s, dir) => {
      val planted = concat(col("text"),
        when(col("doc_id") % 4 === 0, lit(" привет мир"))
          .when(col("doc_id") % 4 === 1, lit(" 你好世界"))
          .when(col("doc_id") % 4 === 2, lit(" مرحبا بالعالم"))
          .otherwise(lit(" 12345")))
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.scriptProfile(planted).as("p"))
        .select(col("doc_id"), col("p.n_chars"), col("p.latin_frac"),
          col("p.cyrillic_frac"), col("p.han_frac"), col("p.arabic_frac"),
          col("p.digit_frac"))
        .orderBy("doc_id")
    }),

    // layout: Z-order (Morton) clustering key — bit interleave of two
    // dimensions, unrolled into codegen shift/mask terms; the write path
    // (range-partition + sort on z) is spec-measured for file pruning
    "q_zorder" -> ((s, dir) => {
      val a = col("doc_id") % 97
      val b = (col("doc_id") * 31) % 89
      t(s, dir, "documents").select(col("doc_id"), a.as("a"), b.as("b"),
        Exports.zValue(a, b, bits = 8).as("z"))
        .orderBy("doc_id")
    }),

    // crawl ops: the round-4 composition — INCREMENTAL crawl processing:
    // diff two snapshots and keep only what moved (added/changed), gate
    // through robots exclusion, then per-source stats with KMV distinct
    // estimates; each stage applies over the previous stage's survivors
    "q_crawl_pipeline" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val oldSnap = d.filter(col("doc_id") % 5 =!= 0)
        .select(col("doc_id").as("url_id"), col("text"))
      val newSnap = d.filter(col("doc_id") % 3 =!= 0)
        .select(col("doc_id").as("url_id"), col("source"),
          when(col("doc_id") % 7 === 0,
            concat(col("text"), lit(" [recrawled]")))
            .otherwise(col("text")).as("text"))
      val diff = Dedup.snapshotDiff(oldSnap,
        newSnap.select(col("url_id"), col("text")), "url_id", "text")
      val moved = newSnap.join(
        diff.filter(col("status").isin("added", "changed")), Seq("url_id"))
      val url = concat(lit("https://www."), col("source"),
        lit(".example.com"),
        when(col("url_id") % 4 === 0,
          concat(lit("/private/doc"), col("url_id").cast("string")))
          .when(col("url_id") % 4 === 1,
            concat(lit("/private/ok/doc"), col("url_id").cast("string")))
          .when(col("url_id") % 4 === 2,
            concat(lit("/public/doc"), col("url_id").cast("string")))
          .otherwise(lit("/")))
      val rules = d.select(col("source")).distinct()
        .filter(col("source") =!= "src0")
        .select(concat(lit("www."), col("source"), lit(".example.com"))
          .as("host"))
        .select(col("host"), explode(array(
          struct(lit("disallow").as("rule"), lit("/private").as("path_prefix")),
          struct(lit("allow").as("rule"), lit("/private/ok").as("path_prefix")),
          struct(lit("allow").as("rule"), lit("/public").as("path_prefix")),
          struct(lit("disallow").as("rule"), lit("/public").as("path_prefix"))))
          .as("r"))
        .select(col("host"), col("r.rule").as("rule"),
          col("r.path_prefix").as("path_prefix"))
      val gated = WebGraph.robotsFilter(moved.withColumn("url", url), rules,
        "url").filter(col("allowed"))
      val stats = gated
        .select(col("source"), TextAnalysis.toks(col("text")).as("toks"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(col("toks"))).cast("long").as("total_tokens"))
      stats.join(
        Curation.kmvEstimate(
          Curation.kmvSketch(gated.select(col("source"), col("text")),
            "source", "text", k = 32), "source", k = 32),
        Seq("source"))
        .orderBy("source")
    }),

    // curation: novel-n-gram memorization audit — the %5==0 batch's
    // per-doc novelty fraction vs the rest of the corpus (the same
    // split as q_dedup_incremental; this REPORTS where that DROPS)
    "q_novel_ngrams" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      Curation.novelNgramFraction(d.filter(col("doc_id") % 5 === 0),
        d.filter(col("doc_id") % 5 =!= 0), "doc_id", "text", n = 3)
        .orderBy("doc_id")
    }),

    // curation: PMI collocations — windowed ordered-pair pointwise
    // mutual information (Church & Hanks 1990), pairs built array-
    // locally, top-50 by (pmi desc, x, y) over a min-count cut
    "q_pmi_collocations" -> ((s, dir) =>
      Curation.pmiCollocations(t(s, dir, "documents"), "text",
        window = 2, minCount = 5L, topK = 50)),

    // curation: pairwise source Jaccard from KMV sketches ALONE — the
    // sketch-algebra similarity matrix; never re-touches the corpus
    // (contrast q_source_overlap's shingle shuffle)
    "q_kmv_pair_jaccard" -> ((s, dir) =>
      Curation.kmvPairJaccard(
        Curation.kmvSketch(t(s, dir, "documents"), "source", "text", k = 32),
        "source", k = 32)
        .orderBy("source_a", "source_b")),

    // curation: Zipf rank-frequency slope — corpus-health diagnostic
    // (OLS of ln freq on ln rank); ranks assigned distributedly via the
    // O(√N)-bounded frequency-of-frequency table, no global vocab sort
    "q_zipf_slope" -> ((s, dir) =>
      Curation.zipfSlope(t(s, dir, "documents"), "text")),

    // curation: FineWeb/CCNet line-level quality signals. The synthetic
    // docs carry no newlines, so the wrapper plants line structure with
    // an engine-portable regexp (every 2 words -> one line,
    // short enough that within-doc duplicate lines genuinely occur) — the same
    // planted-feature pattern as q_text_match_porter; the operator
    // itself is separator-generic and fully array-local
    "q_line_signals" -> ((s, dir) =>
      Curation.lineSignals(
        t(s, dir, "documents").withColumn("text",
          regexp_replace(col("text"), "(\\w+ \\w+) ", "$1\n")),
        "doc_id", "text")
        .orderBy("doc_id")),

    // curation: within-doc first-occurrence line dedup (boilerplate
    // scrub) over the same planted line structure
    "q_dedup_lines" -> ((s, dir) =>
      t(s, dir, "documents")
        .withColumn("text",
          regexp_replace(col("text"), "(\\w+ \\w+) ", "$1\n"))
        .select(col("doc_id"),
          Curation.dedupLinesText(col("text")).as("clean_text"))
        .orderBy("doc_id")),

    // curation: text normalization scrub — CRLF/control/whitespace mess
    // planted on every 7th doc (the clean docs are the no-op fixture)
    "q_normalize_text" -> ((s, dir) =>
      t(s, dir, "documents")
        .withColumn("raw", concat(col("text"),
          when(col("doc_id") % 7 === 0,
            lit("  messy\u0007\t\ttail\r\n\n\n\nend ")).otherwise(lit(""))))
        .select(col("doc_id"),
          graft.operators.TextAnalysis.normalizeText(col("raw")).as("clean"))
        .orderBy("doc_id")),

    // curation: hashing-trick featurizer — 64-bucket signed sparse vectors
    "q_hash_features" -> ((s, dir) =>
      Curation.hashFeaturize(t(s, dir, "documents"), "doc_id", "text",
        dim = 64)
        .orderBy("doc_id", "bucket")),

    // curation: v3 composition over THIS round's LM operators — unigram-LM
    // band gate (drop both tails: boilerplate scores low, gibberish high;
    // band [3.39, 3.41] is non-degenerate at every DRIVER SF, distribution
    // probed SF-stable — but calibrated to the UNSALTED corpus: on
    // ScaleUp's salted sweep tables the LM distribution shifts and the
    // band selects 0 rows; both engines agree, see BENCH.md §9)
    // → exact-dedup keeper on the whitespace/case
    // fingerprint (min doc_id per fingerprint) → per-source corpus stats
    // with mean LM score. The gate compares the ALREADY-4dp-rounded
    // lm_score, which is hash-match-proven bit-identical cross-engine, so
    // the band boundary cannot diverge.
    "q_curation_v3" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val lm = Curation.unigramLmScore(d, "doc_id", "text", minCount = 2L)
      val g = d.join(lm, "doc_id")
        .filter(col("lm_score") >= 3.39 && col("lm_score") <= 3.41)
      // fingerprinted band table staged ONCE, projected text-free: it
      // feeds the keeper aggregate AND the join's stream side — the
      // unmaterialized diamond re-ran the LM corpus aggregate + band join
      // + fingerprint chain twice (different join keys, so exchange reuse
      // never applied)
      val fp = Staging(g.select(col("doc_id"), col("source"), col("n_tokens"),
          col("lm_score"), TextAnalysis.fingerprint(col("text")).as("f")))
      val keep = fp.groupBy(col("f")).agg(min(col("doc_id")).as("doc_id"))
      fp.join(keep, Seq("f", "doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          TextAnalysis.pround4(avg(col("lm_score"))).as("avg_lm"))
        .orderBy("source")
    }),

    // curation: the round-3 operators composed END TO END — Gopher gate
    // ∧ quality floor → paragraph-dedup survivor gate (kept_frac ≥ 0.5
    // over the gated corpus) → per-source token budget → train/val/test
    // split → per-split corpus stats. Every stage's semantics are
    // individually oracled above; this row proves the COMPOSITION (gates
    // applied in order, each over the previous stage's survivor set)
    // matches the same chain in SQL. One plan with a single staged seam:
    // the gated set is staged once (eager [[Staging]]) for its two
    // consumers.
    "q_curation_v2" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val keep = Curation.gopherStruct(col("text")).getField("gopher_keep")
      // the gated survivor set feeds TWO consumers (the paragraph-dedup
      // pass and the budget join) — stage the DECISION once as an id set
      // (guide §8: the checkpoint carries ids, not corpus text bytes; each
      // consumer re-attaches text via a column-pruned parquet scan + hash
      // join instead of reading a text-sized checkpoint copy).
      // The gate is evaluated in a PROJECTION and filtered BEHIND the
      // checkpoint barrier: FilterExec does no subexpression elimination,
      // so filtering on the raw predicate re-ran the shared
      // split(lower(text)) subtrees ~6x per row (CurationProbe: 2.6 s
      // filter vs 0.9 s projection for the identical gate at sf0.1)
      val gatedIds = Staging(d.select(col("doc_id"),
          (keep && TextAnalysis.qualityScore(col("text")) >= 0.45)
            .as("_keep")))
        .filter(col("_keep")).select(col("doc_id"))
      val gated = d.join(gatedIds, Seq("doc_id"))
      val para = Curation.paragraphDedup(gated, "doc_id", "text", 8)
        .filter(col("kept_frac") >= 0.5).select("doc_id")
      val clean = gated.join(para, Seq("doc_id"))
      Curation.tokenBudgetFilter(clean, "doc_id", "text", "source", 800L)
        .select(Curation.splitAssign(col("doc_id")).as("split"),
          col("n_tokens"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"))
        .orderBy("split")
    }),

    // F6 — anomaly COUNT in a detected_at range
    // (AnomalyDetectionRepository.java:39-40,
    // countByIsAnomalyTrueAndDetectedAtBetween): the real countInRange
    // operator (an aggregate-only plan — no row materialization), its one
    // scalar wrapped back into a 1-row frame for the oracle compare
    "q_anomaly_count_range" -> ((s, dir) => {
      val anoms = t(s, dir, "events").select(
        col("event_id").as("log_id"),
        col("ts").as("detected_at"),
        Score.anomalyScore(synthMsg, level).as("anomaly_score"))
        .withColumn("is_anomaly", Score.isAnomaly(col("anomaly_score")))
      val n = Analytics.Anomalies.countInRange(anoms,
        Timestamp.valueOf("2024-01-05 00:00:00"),
        Timestamp.valueOf("2024-01-20 00:00:00"))
      // 1 scalar — model-sized; numPartitions=1 (no empty-task fan)
      s.range(0, 1, 1, 1).select(lit(n).as("n_anomalies"))
    }),

    // B4/J2 — dead-letter rows with reject reasons
    // (consumer/LogConsumer.java:52-62 nack→DLQ): the REAL Parse-stage
    // validation gate over a pages-shaped frame (invalid/null urls + null
    // text planted from table fields), rejected rows + their reasons;
    // precedence pinned (invalid_url wins over null_text on doc_id 0)
    "q_rejected_rows" -> ((s, dir) =>
      Parse(docPages(s, dir), Pipeline.DefaultJobStart)
        .filter(!col("parse_ok"))
        .select(col("doc_id"), col("reject_reason"))
        .orderBy("doc_id")),

    // C4+D3-D5+E1+I1+I2 — the FULL composite search endpoint in ONE query
    // (controller/LogSearchController.java:38-61 → searchLogs): coalesced
    // optional params, tokenized match gate, level/service IN filters,
    // two-sided ts range, the D6 dead hosts param (accepted-and-ignored),
    // dynamic sort desc, page 2 of 15 with deterministic tiebreak
    "q_search_composite" -> ((s, dir) => {
      val logs = t(s, dir, "events").select(
        col("event_id").as("id"), col("ts"), level.as("level"),
        service.as("service"), synthMsg.as("message"), col("value"))
      Analytics.searchLogs(logs,
        queryText = Some("timeout connection exception"),
        levels = Seq("ERROR", "INFO"),
        services = Seq("svc-1", "svc-2", "svc-3", "svc-5", "svc-7", "svc-8"),
        hosts = Seq("dead-host-filter"), // D6: declared but never applied
        start = Some(Timestamp.valueOf("2024-01-03 00:00:00")),
        end = Some(Timestamp.valueOf("2024-01-25 00:00:00")),
        sortBy = "ts", ascending = false, page = 2, size = 15,
        tiebreak = "id")
        .select(col("id"), col("ts"), col("level"), col("service"))
    }),

    // I2' — KEYSET pagination (search_after recast): the page after the
    // (ts, id) cursor via a pushed-down range predicate + top-k — plans
    // as TakeOrderedAndProject with NO global sort and NO offset
    // (PlanSpec), the scale-safe variant ES forces past from+size=10k
    "q_pagination_keyset" -> ((s, dir) =>
      Analytics.searchAfter(
        t(s, dir, "events").select(col("event_id"), col("ts"), col("event_type")),
        sortCol = "ts", idCol = "event_id",
        lastSort = lit(Timestamp.valueOf("2024-01-15 00:00:00")),
        lastId = lit(5000L), size = 20)),

    // index maintenance — APPEND into the stored signature index: base
    // index from half the seen corpus, second half appended (O(batch)
    // append-mode write, existing files untouched), then the SAME probe as
    // q_dedup_incremental_index; oracle IDENTICAL to q_dedup_incremental —
    // probe-after-append must equal rebuild-from-scratch row for row
    "q_index_append" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val idx = scratchPath(s, "sig_append")
      val p = new org.apache.hadoop.fs.Path(idx)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true) // bench reruns: fresh roundtrip
      Dedup.writeSignatureIndex(
        d.filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 2 === 0),
        "doc_id", "text", idx, n = 3)
      Dedup.appendSignatureIndex(s, idx,
        d.filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 2 === 1),
        "doc_id", "text", n = 3)
      Dedup.incrementalDedupAgainstIndex(s, idx,
        d.filter(col("doc_id") % 5 === 0), "doc_id", "text", n = 3)
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")
    }),

    // J1+J7 — resume + lineage conservation under the driver: the FULL
    // checkpointed Pipeline.run (parse→enrich→score→route→aggregate with
    // commit markers) over a pages-shaped frame, run TWICE — the second
    // run must skip both committed stages (RESUME_SKIPPED_OK row). The
    // result is derived from the checkpoint artifacts themselves: per-
    // severity doc counts from the per-file LINEAGE table (not the sink),
    // the REJECTED partition count, and the commit row's input_rows
    // (TOTAL_COMMITTED) — so Σ sinks + rejected == input is pinned against
    // the oracle's severity distribution computed from the INPUT rules
    "q_lineage_conservation" -> ((s, dir) => {
      val root = scratchPath(s, "lineage")
      val p = new org.apache.hadoop.fs.Path(root)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
      val pages = docPages(s, dir)
      Pipeline.run(s, pages, Synth.domainReputation(s), Synth.langMeta(s), root)
      val second =
        Pipeline.run(s, pages, Synth.domainReputation(s), Synth.langMeta(s), root)
      val bySev = s.read.parquet(s"$root/_checkpoint/route/lineage")
        .groupBy(col("severity")).agg(sum(col("rows")).as("doc_count"))
      val rejected = s.read.parquet(s"$root/routed")
        .filter(col("severity") === Route.RejectedPartition)
        .agg(count(lit(1)).as("doc_count"))
        .select(lit(Route.RejectedPartition).as("severity"), col("doc_count"))
      val committed = s.read.parquet(s"$root/_checkpoint/route/commit")
        .select(lit("TOTAL_COMMITTED").as("severity"),
          col("inputRows").as("doc_count"))
      val resumed = s.range(0, 1, 1, 1).select(
        lit("RESUME_SKIPPED_OK").as("severity"),
        lit(if (!second.ran && !second.ranAggregate) 1L else 0L)
          .as("doc_count"))
      bySev.select(col("severity").cast("string").as("severity"),
          col("doc_count"))
        .union(rejected).union(committed).union(resumed)
        .orderBy("severity")
    })
  )

  /** SQL twin of [[plantedHtml]] — ONE definition interpolated into all
    * web-graph oracles so the two recipes cannot drift independently. */
  private val plantedHtmlSql: String =
    """'<html><body><a href="http://site' || (doc_id % 7) || '.com/p' || (doc_id % 13) || '">ref ' || (doc_id % 5) || '</a> mid <a href="http://site' || ((doc_id * 3 + 1) % 7) || '.com/q">link ' || (doc_id % 3) || '</a></body></html>'"""

  /** Deterministic anchor-bearing html for the web-graph queries: two
    * `<a>` tags per doc targeting site{f(doc_id)}.com (the corpus itself
    * carries no markup). Mirrored verbatim by the DuckDB oracles. */
  private def plantedHtml: Column =
    concat(lit("<html><body><a href=\"http://site"),
      col("doc_id") % 7, lit(".com/p"), col("doc_id") % 13,
      lit("\">ref "), col("doc_id") % 5,
      lit("</a> mid <a href=\"http://site"),
      (col("doc_id") * 3 + 1) % 7,
      lit(".com/q\">link "), col("doc_id") % 3,
      lit("</a></body></html>"))

  /** The planted pages (`h`) and their extracted hrefs (`l`): the head of
    * every link-graph oracle. */
  private val linkCtes: String =
    s"""WITH h AS (
      |  SELECT doc_id, source, $plantedHtmlSql AS html
      |  FROM documents),
      |l AS (
      |  SELECT source, unnest(regexp_extract_all(html, '(?i)<a\\s[^>]*href="([^"]*)"[^>]*>([^<]*)</a>', 1)) AS href
      |  FROM h)""".stripMargin

  /** [[linkCtes]] + the domain edge list `eg(src_domain, dst_domain, n)`
    * (the oracle twin of `WebGraph.domainEdges`). */
  private val edgeCtes: String =
    s"""$linkCtes,
      |eg AS (
      |  SELECT src_domain, dst_domain, count(*) AS n FROM (
      |    SELECT source AS src_domain,
      |           lower(regexp_extract(href, '^(?:https?://)?([^/:?#]+)', 1)) AS dst_domain
      |    FROM l)
      |  WHERE dst_domain <> '' AND dst_domain <> src_domain
      |  GROUP BY 1, 2)""".stripMargin

  /** Out-weight per source domain over [[edgeCtes]]. */
  private val outdCte: String =
    "outd AS (SELECT src_domain, sum(n) AS outw FROM eg GROUP BY 1)"

  /** The domain universe of [[edgeCtes]]: every source and target. */
  private val domsCte: String =
    """doms AS (
      |  SELECT DISTINCT src_domain AS domain FROM eg
      |  UNION SELECT DISTINCT dst_domain FROM eg)""".stripMargin

  /** Pages-shaped frame synthesized from the documents table for the
    * driver-pinned pipeline rows (q_rejected_rows, q_lineage_conservation):
    * plants invalid urls (doc_id%11), null urls (%13) and null text (%7=3)
    * so every validation branch and the reject-reason precedence fire.
    * Mirrored verbatim by [[docPagesSql]]. */
  private def docPages(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      col("doc_id"),
      when(col("doc_id") % 11 === 0,
        concat(lit("not-a-url-"), col("doc_id")))
        .when(col("doc_id") % 13 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("https://"), col("source"),
          lit(".example.com/p/"), col("doc_id"))).as("url"),
      lit(null).cast("timestamp").as("warc_ts"),
      lit(null).cast("binary").as("html"),
      when(col("doc_id") % 7 === 3, lit(null).cast("string"))
        .otherwise(col("text")).as("text"),
      col("lang"))

  /** SQL twin of [[docPages]] — ONE definition interpolated into both
    * pipeline oracles so the two recipes cannot drift independently. */
  private val docPagesSql: String =
    """pages AS (
      |  SELECT doc_id,
      |         CASE WHEN doc_id % 11 = 0 THEN 'not-a-url-' || doc_id::VARCHAR
      |              WHEN doc_id % 13 = 0 THEN NULL
      |              ELSE 'https://' || source || '.example.com/p/' || doc_id::VARCHAR END AS url,
      |         CASE WHEN doc_id % 7 = 3 THEN NULL ELSE text END AS text,
      |         lang
      |  FROM documents)""".stripMargin

  /** Little-endian hex encoding of a long column into `nBytes` bytes
    * (query-synthesis helper; the parse inverse is Multimodal.leUint). */
  private def leHexCol(c: Column, nBytes: Int): Column = {
    val be = lpad(hex(c), nBytes * 2, "0")
    concat(((nBytes - 1) to 0 by -1).map(i => substring(be, i * 2 + 1, 2)): _*)
  }

  // ---- DuckDB oracles -----------------------------------------------------

  /** Oracle twin of `TextAnalysis.words`: the raw lower-cased `\W+` split. */
  private def wordsSql(e: String): String = s"regexp_split_to_array(lower($e), '\\W+')"

  /** Oracle twin of `TextAnalysis.toks`: [[wordsSql]] with empties dropped. */
  private def toksSql(e: String): String = s"list_filter(${wordsSql(e)}, x -> x <> '')"

  /** Oracle twin of `TextAnalysis.wsToks`: whitespace tokens, empties dropped. */
  private def wsToksSql(e: String): String =
    raw"list_filter(regexp_split_to_array($e, '\s+'), x -> x <> '')"

  /** Oracle twin of `TextAnalysis.md5Mod`: the content-hash coin of an md5
    * hex `digest` expression, mod `m`. */
  private def md5ModSql(digest: String, m: Long): String =
    s"('0x' || substr($digest, 1, 15))::UBIGINT % $m"

  /** The per-doc token table `tokf(doc_id, toks)` over the documents. */
  private val tokfCte: String =
    s"""tokf AS (
      |  SELECT doc_id, ${toksSql("text")} AS toks
      |  FROM documents)""".stripMargin

  /** The corpus unigram LM of `Curation.unigramLmScore` (minCount 2):
    * [[tokfCte]], token rows `tok`, counts `freq`, total `tot`, and the
    * kept vocabulary under the caller's name `kept`. */
  private def unigramLmCtes(kept: String): String =
    s"""$tokfCte,
      |tok AS (SELECT doc_id, unnest(toks) AS tok FROM tokf),
      |freq AS (SELECT tok, count(*) AS c FROM tok GROUP BY 1),
      |tot AS (SELECT sum(c)::DOUBLE AS s FROM freq),
      |$kept AS (SELECT tok, c FROM freq WHERE c >= 2)""".stripMargin

  /** CTE `name` over `from(doc_id, grp, n_tokens)`: each doc's running
    * token prefix within its `grp` in doc_id order — the oracle twin of
    * `Curation.tokenPrefix`. */
  private def prefixCte(name: String, grp: String, from: String): String =
    s"""$name AS (
      |  SELECT doc_id, $grp, n_tokens,
      |         sum(n_tokens) OVER (PARTITION BY $grp ORDER BY doc_id) - n_tokens AS prefix
      |  FROM $from)""".stripMargin

  /** OR-of-bands sign-agreement condition mirroring Similarity.nearDupPairs. */
  private def bandCondSql(bands: Int, bitsPerBand: Int): String =
    (0 until bands).map { i =>
      (1 to bitsPerBand).map { j =>
        val k = i * bitsPerBand + j
        s"(a.v[$k] > 0) = (b.v[$k] > 0)"
      }.mkString("(", " AND ", ")")
    }.mkString("(", " OR ", ")")

  private val shinglesCte =
    s"""WITH tokf AS (
      |  SELECT doc_id, source, ${toksSql("text")} AS toks
      |  FROM documents),
      |tok AS (
      |  SELECT doc_id, source, unnest(toks) AS tok, generate_subscripts(toks, 1) AS p FROM tokf),
      |sh AS (
      |  SELECT DISTINCT doc_id, source, g FROM (
      |    SELECT doc_id, source, tok || ' ' || lead(tok,1) OVER w || ' ' || lead(tok,2) OVER w AS g
      |    FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY p))
      |  WHERE g IS NOT NULL)""".stripMargin

  /** DuckDB twin of `Dedup.baseHashOfDigest(md5(g))`: first 15 md5 hex chars mod P. */
  private def baseHashSql(g: String): String =
    md5ModSql(s"md5($g)", 2147483647L)

  /** The MinHash-LSH band preamble, mirroring `Dedup.minhashSignatures` +
    * `bucketsFromSignatures`: per-shingle base hash `hh`, the 8
    * permutation minima `sig`, the 4 band keys `bk`. */
  private lazy val minhashBandCtes: String = {
    val perms = graft.operators.Dedup.MinhashA
      .zip(graft.operators.Dedup.MinhashB).zipWithIndex
      .map { case ((a, b), i) =>
        s"min(($a * h + $b) % 2147483647) AS m$i" }.mkString(", ")
    s"""$shinglesCte,
       |hh AS (
       |  SELECT doc_id, ${baseHashSql("g")} AS h FROM sh),
       |sig AS (SELECT doc_id, $perms FROM hh GROUP BY doc_id),
       |bk AS (
       |  SELECT doc_id, 0 AS band, md5(m0 || '|' || m1) AS band_key FROM sig
       |  UNION ALL SELECT doc_id, 1, md5(m2 || '|' || m3) FROM sig
       |  UNION ALL SELECT doc_id, 2, md5(m4 || '|' || m5) FROM sig
       |  UNION ALL SELECT doc_id, 3, md5(m6 || '|' || m7) FROM sig)""".stripMargin
  }

  /** [[minhashBandCtes]] + the `maxBucketSize = 1000` cap: the capped
    * band sizes `bs` and the surviving bucket rows `bc`. */
  private lazy val minhashBucketCtes: String =
    s"""$minhashBandCtes,
       |bs AS (SELECT band, band_key FROM bk GROUP BY 1, 2 HAVING count(*) <= 1000),
       |bc AS (SELECT bk.* FROM bk JOIN bs USING (band, band_key))""".stripMargin

  /** [[minhashBucketCtes]] + `Dedup.minhashCandidates`' pair set `cand`
    * (id1 < id2, distinct across bands). */
  private lazy val minhashCandCtes: String =
    s"""$minhashBucketCtes,
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
       |  FROM bc a JOIN bc b ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id)""".stripMargin

  /** [[minhashCandCtes]] + the connected components of the candidate
    * graph: symmetric `edges` and the recursive reachability `reach`
    * (cluster = min r per id). */
  private lazy val componentCtes: String =
    s"""${minhashCandCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |edges AS (SELECT id1, id2 FROM cand UNION SELECT id2, id1 FROM cand),
       |reach(id, r) AS (
       |  SELECT id1, id1 FROM edges
       |  UNION
       |  SELECT e.id1, reach.r FROM edges e JOIN reach ON e.id2 = reach.id)""".stripMargin

  /** Incremental-dedup survivors oracle — ONE definition shared by
    * q_dedup_incremental (recomputed seen side), q_dedup_incremental_index
    * (stored-index rebuild) and q_index_append (stored index grown by an
    * O(batch) append): all three implementations must produce the exact
    * same survivor set, so they pin to the same SQL. */
  private lazy val incrementalSurvivorsSql: String =
    s"""$minhashBandCtes,
       |seenb AS (SELECT DISTINCT band, band_key FROM bk WHERE doc_id % 5 <> 0),
       |neardup AS (
       |  SELECT DISTINCT n.doc_id FROM bk n JOIN seenb s USING (band, band_key)
       |  WHERE n.doc_id % 5 = 0),
       |seenh AS (SELECT DISTINCT md5(text) AS ch FROM documents WHERE doc_id % 5 <> 0)
       |SELECT d.doc_id, d.source FROM documents d
       |WHERE d.doc_id % 5 = 0
       |  AND md5(d.text) NOT IN (SELECT ch FROM seenh)
       |  AND d.doc_id NOT IN (SELECT doc_id FROM neardup)
       |ORDER BY d.doc_id""".stripMargin

  /** Converged-components oracle shared by q_dedup_clusters (min-label
    * propagation) and q_dedup_clusters_star (large-star/small-star): the
    * component structure is algorithm-independent, so both implementations
    * pin to ONE recursive-CTE ground truth. */
  private lazy val clustersOracle: String =
    s"""$componentCtes
       |SELECT id, min(r) AS cluster FROM reach GROUP BY id ORDER BY id""".stripMargin

  def oracleSql: Map[String, String] = Map(

    "q_counts_conditional" ->
      s"""WITH logs AS (SELECT $levelSql AS level FROM events)
         |SELECT count(*) AS total_logs,
         |       count(CASE WHEN level='ERROR' THEN 1 END) AS error_count,
         |       count(CASE WHEN level='WARN' THEN 1 END) AS warning_count,
         |       round(count(*) / (24.0*60.0), 4) AS logs_per_minute,
         |       CASE WHEN count(*)=0 THEN 0.0
         |            ELSE round(count(CASE WHEN level='ERROR' THEN 1 END)*100.0/count(*), 4) END AS error_rate
         |FROM logs""".stripMargin,

    "q_filter_eq" ->
      "SELECT event_id, ts, user_id, value FROM events WHERE event_type='error' ORDER BY event_id",

    "q_filter_in" ->
      """SELECT event_id, event_type, user_id FROM events
        |WHERE event_type IN ('error','signup') AND user_id IN (1,2,3,5,8)
        |ORDER BY event_id""".stripMargin,

    "q_ts_range" ->
      """SELECT event_id, ts, event_type FROM events
        |WHERE ts >= TIMESTAMP '2024-01-05 00:00:00' AND ts <= TIMESTAMP '2024-01-12 00:00:00'
        |ORDER BY event_id""".stripMargin,

    "q_text_match" ->
      """SELECT doc_id FROM documents
        |WHERE regexp_matches(lower(text), '\b(spark|window)\b')
        |ORDER BY doc_id""".stripMargin,

    "q_text_phrase" ->
      s"""WITH $tokfCte,
        |pos AS (
        |  SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS p
        |  FROM tokf WHERE len(toks) >= 2),
        |hit AS (
        |  SELECT doc_id, p FROM pos
        |  WHERE toks[p] = 'the' AND toks[p + 1] = 'fast')
        |SELECT doc_id, count(*)::BIGINT AS n_occurrences, min(p)::BIGINT AS first_pos
        |FROM hit GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // same 5-rule Porter-light chain as the Spark side, RE2 \1 backrefs,
    // global flag; query "sparks window" stems to (spark, window)
    "q_text_match_porter" ->
      """WITH p AS (
        |  SELECT doc_id, text
        |      || (CASE WHEN doc_id % 11 = 0 THEN ' sparking' ELSE '' END)
        |      || (CASE WHEN doc_id % 13 = 0 THEN ' windowed' ELSE '' END) AS m
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |      lower(m), '([a-z])sses\b', '\1ss', 'g'),
        |      '([a-z]{2})ies\b', '\1i', 'g'),
        |      '([a-z]{2}[^su\s])s\b', '\1', 'g'),
        |      '([a-z]*[aeiou][a-z]*)ing\b', '\1', 'g'),
        |      '([a-z]*[aeiou][a-z]*)ed\b', '\1', 'g') AS stemmed
        |  FROM p)
        |SELECT doc_id FROM s
        |WHERE regexp_matches(stemmed, '\b(spark|window)\b')
        |ORDER BY doc_id""".stripMargin,

    "q_text_rank" ->
      """SELECT doc_id, len(regexp_extract_all(lower(text), '\b(spark|window)\b'))::BIGINT AS tf
        |FROM documents
        |WHERE len(regexp_extract_all(lower(text), '\b(spark|window)\b')) > 0
        |ORDER BY tf DESC, doc_id""".stripMargin,

    "q_text_match_stem" ->
      """WITH p AS (
        |  SELECT doc_id,
        |         text || (CASE WHEN doc_id % 11 = 0 THEN ' sparks' ELSE '' END)
        |              || (CASE WHEN doc_id % 13 = 0 THEN ' windowing' ELSE '' END) AS m
        |  FROM documents)
        |SELECT doc_id FROM p
        |WHERE regexp_matches(lower(m), '\b(spark|window)(s|es|ed|ing)?\b')
        |ORDER BY doc_id""".stripMargin,

    "q_text_rank_idf" ->
      s"""WITH $tokfCte,
        |tok AS (SELECT doc_id, unnest(toks) AS tok FROM tokf),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok WHERE tok IN ('spark', 'window') GROUP BY 1, 2),
        |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1)
        |SELECT tf.doc_id,
        |       floor(sum(tf.tf * ((SELECT count(*) FROM documents) - df.df + 0.5) / (df.df + 0.5)) * 10000.0 + 0.5) / 10000.0 AS score
        |FROM tf JOIN df USING (tok)
        |GROUP BY 1 ORDER BY score DESC, doc_id""".stripMargin,

    "q_text_rank_bm25" ->
      s"""WITH $tokfCte,
        |tok AS (SELECT doc_id, unnest(toks) AS tok FROM tokf),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok WHERE tok IN ('spark', 'window') GROUP BY 1, 2),
        |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1)
        |SELECT tf.doc_id,
        |       floor(sum(tf.tf * ln(1.0 + ((SELECT count(*) FROM documents) - df.df + 0.5) / (df.df + 0.5))) * 10000.0 + 0.5) / 10000.0 AS score
        |FROM tf JOIN df USING (tok)
        |GROUP BY 1 ORDER BY score DESC, doc_id""".stripMargin,

    // full BM25: constants mirrored as the SAME IEEE ops Spark runs —
    // (1.2+1.0) is computed, not written 2.2, because the sum rounds to a
    // different double than the literal would in a near-tie; avgdl is an
    // exact integer-sum average, bit-identical cross-engine
    "q_text_rank_bm25_full" ->
      s"""WITH $tokfCte,
        |dl AS (SELECT doc_id, len(toks)::BIGINT AS dl FROM tokf),
        |ad AS (SELECT avg(dl) AS avgdl FROM dl),
        |tok AS (SELECT doc_id, unnest(toks) AS tok FROM tokf),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok WHERE tok IN ('spark', 'window') GROUP BY 1, 2),
        |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1)
        |SELECT tf.doc_id AS doc_id,
        |       floor(sum(ln(1.0 + ((SELECT count(*) FROM documents) - df.df + 0.5) / (df.df + 0.5))
        |                 * (tf.tf * (1.2::DOUBLE + 1.0::DOUBLE))
        |                 / (tf.tf + 1.2::DOUBLE * ((1.0::DOUBLE - 0.75::DOUBLE) + 0.75::DOUBLE * dl.dl / ad.avgdl))) * 10000.0 + 0.5) / 10000.0 AS score
        |FROM tf JOIN df USING (tok) JOIN dl ON dl.doc_id = tf.doc_id, ad
        |GROUP BY tf.doc_id ORDER BY score DESC, tf.doc_id""".stripMargin,

    // the stored-index roundtrip must reproduce the in-memory BM25
    "q_text_index" ->
      s"""WITH $tokfCte,
        |dl AS (SELECT doc_id, len(toks)::BIGINT AS dl FROM tokf),
        |ad AS (SELECT avg(dl) AS avgdl FROM dl),
        |tok AS (SELECT doc_id, unnest(toks) AS tok FROM tokf),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok WHERE tok IN ('spark', 'window') GROUP BY 1, 2),
        |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1)
        |SELECT tf.doc_id AS doc_id,
        |       floor(sum(ln(1.0 + ((SELECT count(*) FROM documents) - df.df + 0.5) / (df.df + 0.5))
        |                 * (tf.tf * (1.2::DOUBLE + 1.0::DOUBLE))
        |                 / (tf.tf + 1.2::DOUBLE * ((1.0::DOUBLE - 0.75::DOUBLE) + 0.75::DOUBLE * dl.dl / ad.avgdl))) * 10000.0 + 0.5) / 10000.0 AS score
        |FROM tf JOIN df USING (tok) JOIN dl ON dl.doc_id = tf.doc_id, ad
        |GROUP BY tf.doc_id ORDER BY score DESC, tf.doc_id""".stripMargin,

    // hybrid RRF: the bm25-full CTE chain (top 50) + the cosine arm
    // (top 50), each ranked by (rounded score desc, id), fused with
    // Σ 1/(60+rank) — a single commutative two-term double add, so the
    // pround4 mirror is exact
    "q_hybrid_rrf" ->
      s"""WITH $tokfCte,
        |dl AS (SELECT doc_id, len(toks)::BIGINT AS dl FROM tokf),
        |ad AS (SELECT avg(dl) AS avgdl FROM dl),
        |tok AS (SELECT doc_id, unnest(toks) AS tok FROM tokf),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok WHERE tok IN ('spark', 'window') GROUP BY 1, 2),
        |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
        |bm AS (
        |  SELECT tf.doc_id AS doc_id,
        |         floor(sum(ln(1.0 + ((SELECT count(*) FROM documents) - df.df + 0.5) / (df.df + 0.5))
        |                   * (tf.tf * (1.2::DOUBLE + 1.0::DOUBLE))
        |                   / (tf.tf + 1.2::DOUBLE * ((1.0::DOUBLE - 0.75::DOUBLE) + 0.75::DOUBLE * dl.dl / ad.avgdl))) * 10000.0 + 0.5) / 10000.0 AS score
        |  FROM tf JOIN df USING (tok) JOIN dl ON dl.doc_id = tf.doc_id, ad
        |  GROUP BY tf.doc_id ORDER BY score DESC, tf.doc_id LIMIT 50),
        |ta AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank FROM bm),
        |e AS (SELECT vec_id AS doc_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT v AS qv FROM e WHERE doc_id = 0),
        |cos AS (
        |  SELECT e.doc_id, round(list_cosine_similarity(e.v, q.qv), 4) AS cos_sim
        |  FROM e, q WHERE e.doc_id <> 0
        |  ORDER BY cos_sim DESC, doc_id LIMIT 50),
        |va AS (SELECT doc_id, row_number() OVER (ORDER BY cos_sim DESC, doc_id) AS rank FROM cos),
        |u AS (SELECT doc_id, rank FROM ta UNION ALL SELECT doc_id, rank FROM va)
        |SELECT doc_id,
        |       floor(sum(1.0 / (60 + rank)) * 10000.0 + 0.5) / 10000.0 AS rrf_score,
        |       count(*)::BIGINT AS n_arms
        |FROM u GROUP BY doc_id
        |ORDER BY rrf_score DESC, doc_id LIMIT 10""".stripMargin,

    "q_curation_pipeline" ->
      raw"""WITH b AS (
        |  SELECT doc_id, source, text, md5(text) AS h,
        |         CASE WHEN length(text) = 0 THEN 0.0
        |              ELSE floor(length(regexp_replace(text, '[\w\s]', '', 'g'))::DOUBLE / length(text) * 10000.0 + 0.5) / 10000.0 END AS punct_ratio,
        |         len(${toksSql("text")}) AS ntok,
        |         len(list_filter(${wordsSql("text")},
        |             x -> x <> '' AND list_contains(['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as'], x))) AS nstop
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, source, h, text, punct_ratio,
        |         CASE WHEN ntok = 0 THEN 0.0 ELSE floor(nstop::DOUBLE / ntok * 10000.0 + 0.5) / 10000.0 END AS stopword_ratio
        |  FROM b),
        |q AS (
        |  SELECT doc_id, source, h,
        |         CASE WHEN text IS NULL OR length(text) = 0 THEN 0.0
        |              ELSE floor((0.4 * least(length(text) / 500.0, 1.0)
        |                        + 0.3 * (1.0 - punct_ratio)
        |                        + 0.3 * least(stopword_ratio / 0.4, 1.0)) * 10000.0 + 0.5) / 10000.0 END AS quality
        |  FROM r),
        |qf AS (SELECT * FROM q WHERE quality >= 0.5),
        |keep AS (SELECT h, min(doc_id) AS doc_id FROM qf GROUP BY 1),
        |dd AS (SELECT qf.* FROM qf JOIN keep USING (h, doc_id)),
        |smp AS (SELECT * FROM dd
        |        WHERE ${md5ModSql("md5(source || '|' || doc_id::VARCHAR)", 100)}
        |              < (CASE WHEN regexp_matches(source, '^src1\d$$') THEN 50 ELSE 20 END))
        |SELECT source, count(*) AS kept,
        |       CAST(sum(CAST(quality AS DECIMAL(18,4))) AS DOUBLE) AS sum_quality
        |FROM smp GROUP BY 1 ORDER BY source""".stripMargin,

    "q_host_extract" ->
      """WITH u AS (
        |  SELECT doc_id,
        |         'https://' || (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END)
        |         || source || '.Example.com'
        |         || (CASE WHEN doc_id % 5 = 0 THEN ':8443' ELSE '' END)
        |         || '/p/' || doc_id::VARCHAR
        |         || (CASE WHEN doc_id % 2 = 0 THEN '?utm=x#frag' ELSE '' END) AS url
        |  FROM documents)
        |SELECT doc_id,
        |       regexp_replace(lower(regexp_extract(url, '^[a-zA-Z]+://([^/:?#]+)', 1)), '^www\.', '') AS host
        |FROM u ORDER BY doc_id""".stripMargin,

    "q_robots_filter" ->
      """WITH pages AS (
        |  SELECT doc_id, 'www.' || source || '.example.com' AS host,
        |         CASE WHEN doc_id % 4 = 0 THEN '/private/doc' || doc_id::VARCHAR
        |              WHEN doc_id % 4 = 1 THEN '/private/ok/doc' || doc_id::VARCHAR
        |              WHEN doc_id % 4 = 2 THEN '/public/doc' || doc_id::VARCHAR
        |              ELSE '/' END AS path
        |  FROM documents),
        |rules AS (
        |  SELECT 'www.' || s.source || '.example.com' AS host, r.rule, r.path_prefix
        |  FROM (SELECT DISTINCT source FROM documents WHERE source <> 'src0') s,
        |       (VALUES ('disallow', '/private'), ('allow', '/private/ok'),
        |               ('allow', '/public'), ('disallow', '/public')) AS r(rule, path_prefix)),
        |m AS (
        |  SELECT p.doc_id, length(r.path_prefix)::BIGINT AS plen,
        |         (r.rule = 'allow') AS is_allow
        |  FROM pages p JOIN rules r
        |    ON p.host = r.host AND starts_with(p.path, r.path_prefix)),
        |best AS (
        |  SELECT doc_id, plen, is_allow,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY plen DESC, is_allow DESC) AS rn
        |  FROM m)
        |SELECT p.doc_id, p.host, p.path,
        |       coalesce(b.plen, -1)::BIGINT AS matched_len,
        |       coalesce(b.is_allow, true) AS allowed
        |FROM pages p LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "q_export_roundtrip" ->
      """WITH capped AS (
        |  SELECT doc_id, 'a,b"c' || chr(10) || 'd ' || text AS payload
        |  FROM documents ORDER BY doc_id DESC LIMIT 100)
        |SELECT doc_id, payload FROM capped ORDER BY doc_id""".stripMargin,

    "q_export_roundtrip_json" ->
      """WITH capped AS (
        |  SELECT doc_id,
        |         'q"b\s' || chr(10) || 'nl' || chr(9) || 'tab' || chr(233) || ' ' || text AS payload
        |  FROM documents ORDER BY doc_id DESC LIMIT 100)
        |SELECT doc_id, payload FROM capped ORDER BY doc_id""".stripMargin,

    "q_date_histogram" ->
      """WITH counts AS (
        |  SELECT date_trunc('hour', ts) AS bucket, count(*) AS cnt FROM events GROUP BY 1),
        |bounds AS (SELECT min(bucket) AS lo, max(bucket) AS hi FROM counts),
        |hours AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket FROM bounds WHERE lo IS NOT NULL)
        |SELECT h.bucket AS bucket, coalesce(c.cnt, 0) AS cnt
        |FROM hours h LEFT JOIN counts c USING (bucket) ORDER BY bucket""".stripMargin,

    "q_level_distribution" ->
      s"""WITH logs AS (SELECT $levelSql AS level FROM events),
         |g AS (SELECT level, count(*) AS cnt FROM logs GROUP BY 1)
         |SELECT level, cnt, round(cnt*100.0 / sum(cnt) OVER (), 4) AS percentage
         |FROM g ORDER BY cnt DESC, level""".stripMargin,

    "q_topk_services" ->
      s"""SELECT $serviceSql AS service, count(*) AS cnt FROM events
         |GROUP BY 1 ORDER BY cnt DESC, service ASC LIMIT 5""".stripMargin,

    "q_distinct_sorted" ->
      s"SELECT DISTINCT $serviceSql AS service FROM events ORDER BY service",

    "q_pagination" ->
      """SELECT event_id, ts, event_type FROM events
        |ORDER BY ts DESC, event_id DESC LIMIT 20 OFFSET 40""".stripMargin,

    "q_sort_dynamic" ->
      "SELECT event_id, value FROM events ORDER BY value DESC, event_id ASC LIMIT 50",

    "q_export_cap" ->
      "SELECT event_id, ts FROM events ORDER BY ts DESC, event_id DESC LIMIT 100",

    "q_normalize" ->
      """SELECT doc_id,
        |       upper(lang) AS level_norm,
        |       CASE WHEN length(text) > 10000
        |            THEN substr(text, 1, 10000) || '... [truncated]' ELSE text END AS message,
        |       CASE WHEN source IS NULL OR source = '' THEN 'unknown' ELSE source END AS environment
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_enrich_flags" ->
      """SELECT doc_id, length(text) AS message_length,
        |       (lower(text) LIKE '%exception%' OR lower(text) LIKE '%error%') AS has_exception,
        |       (lower(text) LIKE '%timeout%') AS has_timeout,
        |       (lower(text) LIKE '%connection%' OR lower(text) LIKE '%connect%') AS has_connection
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_ml_features" ->
      s"""WITH m AS (SELECT event_id, $synthMsgSql AS msg, $levelSql AS level, $serviceSql AS service FROM events)
         |SELECT event_id,
         |       length(msg) AS message_length,
         |       level, service,
         |       (lower(msg) LIKE '%exception%' OR lower(msg) LIKE '%error%') AS has_exception,
         |       (lower(msg) LIKE '%timeout%' OR lower(msg) LIKE '%timed out%') AS has_timeout,
         |       (lower(msg) LIKE '%connection%' AND (lower(msg) LIKE '%refused%' OR lower(msg) LIKE '%failed%' OR lower(msg) LIKE '%reset%')) AS has_connection_error
         |FROM m ORDER BY event_id""".stripMargin,

    "q_anomaly_score" -> scoreSql(filterAlerts = false),
    "q_alert_gate" -> scoreSql(filterAlerts = true),

    // NOTE: coalesce mirrors Score.featuresJson exactly — null text
    // serializes as length 0 (and null level/service as the STRING "null",
    // the documented divergence from Jackson's JSON null; Score.scala G14).
    "q_features_json" ->
      """SELECT doc_id,
        |  '{"messageLength":' || coalesce(length(text), 0)
        |  || ',"level":"' || coalesce(upper(lang), 'null')
        |  || '","service":"' || coalesce(source, 'null')
        |  || '","hasException":' || (CASE WHEN lower(text) LIKE '%exception%' OR lower(text) LIKE '%error%' THEN 'true' ELSE 'false' END)
        |  || ',"hasTimeout":' || (CASE WHEN lower(text) LIKE '%timeout%' THEN 'true' ELSE 'false' END)
        |  || ',"hasConnection":' || (CASE WHEN lower(text) LIKE '%connection%' OR lower(text) LIKE '%connect%' THEN 'true' ELSE 'false' END)
        |  || '}' AS features
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_anomaly_recent" ->
      """SELECT event_id, ts, value FROM events
        |WHERE event_type='error' AND ts > TIMESTAMP '2024-01-15 00:00:00' AND value > 50
        |ORDER BY value DESC, event_id""".stripMargin,

    "q_severity_route" ->
      s"""WITH m AS (SELECT $synthMsgSql AS msg FROM events),
         |s AS (SELECT CASE WHEN lower(msg) LIKE '%exception%' OR lower(msg) LIKE '%error%' THEN 'ERROR'
         |                  WHEN lower(msg) LIKE '%timeout%' OR lower(msg) LIKE '%connection%' OR lower(msg) LIKE '%connect%' THEN 'WARN'
         |                  ELSE 'INFO' END AS severity FROM m)
         |SELECT severity, count(*) AS doc_count FROM s GROUP BY 1 ORDER BY severity""".stripMargin,

    "q_enrich_join" ->
      """SELECT r_name, count(*) AS cnt,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events e
        |JOIN customer c ON e.user_id = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,

    "q_tpch_q1" ->
      """WITH g AS (
        |  SELECT l_returnflag, l_linestatus,
        |         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |         count(*) AS count_order
        |  FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |  GROUP BY 1, 2)
        |SELECT l_returnflag, l_linestatus, sum_qty, sum_base_price, count_order,
        |       round(sum_qty / count_order, 4) AS avg_qty
        |FROM g ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q_join_topk" ->
      """SELECT o_orderkey,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderstatus <> 'F'
        |GROUP BY o_orderkey ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,

    "q_window_running" ->
      """SELECT event_id, user_id,
        |       row_number() OVER w AS rn,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_value
        |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY event_id""".stripMargin,

    "q_pivot" ->
      s"""WITH e AS (SELECT $serviceSql AS service, $levelSql AS level FROM events)
         |SELECT service,
         |       count(CASE WHEN level = 'ERROR' THEN 1 END) AS "ERROR",
         |       count(CASE WHEN level = 'WARN' THEN 1 END) AS "WARN",
         |       count(CASE WHEN level = 'INFO' THEN 1 END) AS "INFO"
         |FROM e GROUP BY 1 ORDER BY service""".stripMargin,

    "q_rollup" ->
      s"""WITH e AS (SELECT event_type, $serviceSql AS service FROM events)
         |SELECT event_type, service, count(*) AS cnt,
         |       GROUPING(event_type, service)::BIGINT AS gid
         |FROM e GROUP BY ROLLUP (event_type, service)
         |ORDER BY gid, event_type, service""".stripMargin,

    "q_percentiles" ->
      s"""WITH e AS (SELECT $serviceSql AS service, value FROM events)
         |SELECT service,
         |       floor(quantile_cont(value, 0.5) * 10000.0 + 0.5) / 10000.0 AS p50,
         |       floor(quantile_cont(value, 0.95) * 10000.0 + 0.5) / 10000.0 AS p95
         |FROM e GROUP BY 1 ORDER BY service""".stripMargin,

    "q_asof_join" ->
      """WITH o AS (
        |  SELECT o_custkey AS user_id, o_orderdate, max(o_orderkey) AS last_orderkey
        |  FROM orders GROUP BY 1, 2)
        |SELECT e.event_id, o.last_orderkey
        |FROM events e ASOF LEFT JOIN o
        |  ON e.user_id = o.user_id AND e.ts >= o.o_orderdate
        |ORDER BY event_id""".stripMargin,

    // floor(epoch()) mirrors Spark's unix_timestamp flooring; everything
    // downstream (ordering, gap, bounds) lives in that BIGINT domain so the
    // two engines share one integer arithmetic — no timestamp serialization
    "q_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, floor(epoch(ts))::BIGINT AS ts_s, event_id FROM events),
        |x AS (
        |  SELECT user_id, ts_s, event_id, lag(ts_s) OVER w AS prev
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_s, event_id)),
        |y AS (
        |  SELECT user_id, ts_s,
        |         (sum(CASE WHEN prev IS NULL OR ts_s - prev > 1800 THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY user_id ORDER BY ts_s, event_id ROWS UNBOUNDED PRECEDING))::BIGINT AS session_seq
        |  FROM x)
        |SELECT user_id, session_seq, count(*) AS n_events,
        |       min(ts_s) AS session_start_s, max(ts_s) AS session_end_s,
        |       max(ts_s) - min(ts_s) AS duration_s
        |FROM y GROUP BY 1, 2 ORDER BY user_id, session_seq""".stripMargin,

    "q_salted_agg" ->
      s"""WITH e AS (SELECT $serviceSql AS service, CAST(value AS DECIMAL(18,2)) AS v FROM events)
         |SELECT service, count(*) AS cnt,
         |       CAST(round(sum(v), 4) AS DOUBLE) AS total,
         |       CAST(min(v) AS DOUBLE) AS min_v,
         |       CAST(max(v) AS DOUBLE) AS max_v
         |FROM e GROUP BY 1 ORDER BY service""".stripMargin,

    "q_union" ->
      """SELECT * FROM (
        |  SELECT 'err' AS tag, count(*) AS cnt FROM events WHERE event_type='error'
        |  UNION ALL
        |  SELECT 'sig' AS tag, count(*) AS cnt FROM events WHERE event_type='signup')
        |ORDER BY tag""".stripMargin,

    "q_except" ->
      """SELECT DISTINCT user_id, ts::DATE AS d FROM events WHERE event_type = 'error'
        |EXCEPT
        |SELECT DISTINCT user_id, ts::DATE FROM events WHERE event_type = 'signup'
        |ORDER BY user_id, d""".stripMargin,

    "q_intersect" ->
      """SELECT DISTINCT user_id, ts::DATE AS d FROM events WHERE event_type = 'error'
        |INTERSECT
        |SELECT DISTINCT user_id, ts::DATE FROM events WHERE event_type = 'signup'
        |ORDER BY user_id, d""".stripMargin,

    "q_csv_escape" ->
      """SELECT doc_id,
        |       CASE WHEN regexp_matches(text, '[,"\n\r]')
        |            THEN '"' || replace(text, '"', '""') || '"' ELSE text END AS csv_field
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_dedup_exact" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keeper_id, count(*) AS dup_count
        |FROM documents GROUP BY 1 ORDER BY content_hash""".stripMargin,

    "q_dedup_minhash" -> {
      s"""$minhashBucketCtes
         |SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
         |FROM bc a JOIN bc b ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
         |ORDER BY id1, id2""".stripMargin
    },

    "q_dedup_edit" -> {
      s"""$minhashCandCtes
         |SELECT id1, id2, levenshtein(d1.text, d2.text)::BIGINT AS edit_dist
         |FROM cand JOIN documents d1 ON d1.doc_id = cand.id1
         |          JOIN documents d2 ON d2.doc_id = cand.id2
         |WHERE levenshtein(d1.text, d2.text) <= 40
         |ORDER BY id1, id2""".stripMargin
    },

    "q_containment" -> {
      s"""$minhashCandCtes,
         |shd AS (SELECT DISTINCT doc_id, md5(g) AS hd FROM sh),
         |sz AS (SELECT doc_id, count(*)::BIGINT AS n_sh FROM shd GROUP BY 1),
         |co AS (
         |  SELECT cand.id1, cand.id2, count(*)::BIGINT AS common
         |  FROM cand JOIN shd a ON a.doc_id = cand.id1
         |            JOIN shd b ON b.doc_id = cand.id2 AND b.hd = a.hd
         |  GROUP BY 1, 2)
         |SELECT id1, id2, common,
         |       floor(common::DOUBLE / s1.n_sh::DOUBLE * 10000.0 + 0.5) / 10000.0 AS c1_in_2,
         |       floor(common::DOUBLE / s2.n_sh::DOUBLE * 10000.0 + 0.5) / 10000.0 AS c2_in_1
         |FROM co JOIN sz s1 ON s1.doc_id = co.id1
         |        JOIN sz s2 ON s2.doc_id = co.id2
         |WHERE greatest(floor(common::DOUBLE / s1.n_sh::DOUBLE * 10000.0 + 0.5) / 10000.0,
         |               floor(common::DOUBLE / s2.n_sh::DOUBLE * 10000.0 + 0.5) / 10000.0) >= 0.5
         |ORDER BY id1, id2""".stripMargin
    },

    "q_dedup_clusters" -> clustersOracle,

    "q_dedup_clusters_star" -> clustersOracle,

    "q_url_dedup" ->
      """WITH raw AS (
        |  SELECT doc_id,
        |         'HTTPS://WWW.Example.COM'
        |         || (CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END)
        |         || '/Page/' || (doc_id % 40)::VARCHAR
        |         || (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END)
        |         || (CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed' ELSE '?fbclid=x1' END)
        |         || (CASE WHEN doc_id % 5 = 0 THEN '#frag' ELSE '' END) AS url,
        |         1700000000 + (doc_id * 37 % 1000) * 60 AS crawl_ts
        |  FROM documents),
        |s1 AS (SELECT doc_id, crawl_ts, regexp_replace(url, '#.*$', '') AS c FROM raw),
        |s2 AS (SELECT doc_id, crawl_ts,
        |         lower(regexp_extract(c, '^([^/]*//[^/?#]*)', 1)) || regexp_replace(c, '^[^/]*//[^/?#]*', '') AS c
        |       FROM s1),
        |s3 AS (SELECT doc_id, crawl_ts, regexp_replace(c, '^(https?://[^/?#:]*):(?:80|443)([/?#]|$)', '\1\2') AS c FROM s2),
        |s4 AS (
        |  SELECT doc_id, crawl_ts,
        |         CASE WHEN strpos(c, '?') = 0 THEN c ELSE substr(c, 1, strpos(c, '?') - 1) END AS p,
        |         CASE WHEN strpos(c, '?') = 0 THEN '' ELSE substr(c, strpos(c, '?') + 1) END AS q
        |  FROM s3),
        |u AS (
        |  SELECT doc_id, crawl_ts,
        |         CASE WHEN regexp_replace(regexp_replace(q, '(?:^|&)(?:utm_[^&=]*|fbclid|gclid)=[^&]*', '', 'g'), '^&+', '') = ''
        |              THEN regexp_replace(p, '([^/:])/$', '\1')
        |              ELSE regexp_replace(p, '([^/:])/$', '\1') || '?'
        |                   || regexp_replace(regexp_replace(q, '(?:^|&)(?:utm_[^&=]*|fbclid|gclid)=[^&]*', '', 'g'), '^&+', '') END AS canonical
        |  FROM s4),
        |latest AS (
        |  SELECT canonical, max(crawl_ts) AS last_ts, count(*)::BIGINT AS n_crawls
        |  FROM u GROUP BY 1)
        |SELECT canonical, max(doc_id) AS keeper_id, last_ts, n_crawls
        |FROM u JOIN latest USING (canonical)
        |WHERE crawl_ts = last_ts
        |GROUP BY canonical, last_ts, n_crawls
        |ORDER BY canonical""".stripMargin,

    "q_snapshot_diff" -> snapshotDiffOracle,

    "q_snapshot_diff_stored" -> snapshotDiffOracle,

    "q_script_profile" -> {
      val classes = Seq("latin_frac" -> "\\p{Latin}",
        "cyrillic_frac" -> "\\p{Cyrillic}", "han_frac" -> "\\p{Han}",
        "arabic_frac" -> "\\p{Arabic}", "digit_frac" -> "[0-9]")
      val cols = classes.map { case (name, cls) =>
        s"floor((CASE WHEN n_chars = 0 THEN 0.0 ELSE (n_chars - length(regexp_replace(s, '$cls', '', 'g')))::DOUBLE / n_chars END) * 10000.0 + 0.5) / 10000.0 AS $name"
      }.mkString(",\n       ")
      s"""WITH p AS (
         |  SELECT doc_id, text || CASE WHEN doc_id % 4 = 0 THEN ' привет мир'
         |                              WHEN doc_id % 4 = 1 THEN ' 你好世界'
         |                              WHEN doc_id % 4 = 2 THEN ' مرحبا بالعالم'
         |                              ELSE ' 12345' END AS t
         |  FROM documents),
         |c AS (SELECT doc_id, regexp_replace(t, '\\s+', '', 'g') AS s FROM p),
         |m AS (SELECT doc_id, s, length(s)::BIGINT AS n_chars FROM c)
         |SELECT doc_id, n_chars,
         |       $cols
         |FROM m ORDER BY doc_id""".stripMargin
    },

    "q_dedup_minhash_est" -> {
      val agree = (0 until 8).map(i => s"(x.m$i = y.m$i)::INT").mkString(" + ")
      s"""$minhashCandCtes
         |SELECT c.id1, c.id2, ($agree) / 8.0 AS j_est
         |FROM cand c JOIN sig x ON x.doc_id = c.id1 JOIN sig y ON y.doc_id = c.id2
         |ORDER BY id1, id2""".stripMargin
    },

    "q_dedup_simhash" ->
      s"""WITH tokf AS (
        |  SELECT doc_id, list_distinct(${toksSql("text")}) AS toks
        |  FROM documents),
        |tok AS (SELECT doc_id, unnest(toks) AS tok FROM tokf),
        |bits AS (
        |  SELECT doc_id, j,
        |         CASE WHEN 2 * count(CASE WHEN substr(md5(tok), j, 1) IN ('1','3','5','7','9','b','d','f') THEN 1 END) > count(*)
        |              THEN '1' ELSE '0' END AS bit
        |  FROM tok CROSS JOIN range(1, 17) t(j) GROUP BY doc_id, j)
        |SELECT doc_id, string_agg(bit, '' ORDER BY j) AS simhash
        |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_dedup_simhash_pairs" -> {
      val bits = 32
      val weights = (1 to bits).map(j =>
        s"sum(CASE WHEN substr(h, $j, 1) IN ('1','3','5','7','9','b','d','f') THEN 1 ELSE -1 END) AS s$j").mkString(", ")
      val intVal = (1 to bits).map(j =>
        s"(CASE WHEN s$j > 0 THEN ${1L << (j - 1)} ELSE 0 END)").mkString(" + ")
      // 3-chunk split mirroring Dedup.simhashPairs: widths 11/11/10
      s"""WITH tokf AS (
         |  SELECT doc_id, list_distinct(${toksSql("text")}) AS toks
         |  FROM documents),
         |tok AS (SELECT doc_id, md5(unnest(toks)) AS h FROM tokf),
         |sums AS (SELECT doc_id, $weights FROM tok GROUP BY doc_id),
         |sh AS (SELECT doc_id, ($intVal)::BIGINT AS hi FROM sums),
         |ch AS (
         |  SELECT doc_id, hi, 0 AS chunk, hi & 2047 AS ckey FROM sh
         |  UNION ALL SELECT doc_id, hi, 1, (hi >> 11) & 2047 FROM sh
         |  UNION ALL SELECT doc_id, hi, 2, hi >> 22 FROM sh)
         |SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
         |       bit_count(xor(a.hi, b.hi))::BIGINT AS hamming
         |FROM ch a JOIN ch b ON a.chunk = b.chunk AND a.ckey = b.ckey AND a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.hi, b.hi)) <= 2
         |ORDER BY id1, id2""".stripMargin
    },

    "q_dedup_jaccard" ->
      s"""$shinglesCte,
         |rare AS (SELECT g FROM sh GROUP BY g HAVING count(*) <= 100),
         |shc AS (SELECT sh.* FROM sh JOIN rare USING (g)),
         |sz AS (SELECT doc_id, count(*) AS sz FROM shc GROUP BY 1),
         |pairs AS (
         |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS shared
         |  FROM shc a JOIN shc b ON a.source = b.source AND a.g = b.g AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT id1, id2, round(shared / (s1.sz + s2.sz - shared), 4) AS jaccard
         |FROM pairs JOIN sz s1 ON s1.doc_id = id1 JOIN sz s2 ON s2.doc_id = id2
         |WHERE round(shared / (s1.sz + s2.sz - shared), 4) >= 0.2
         |ORDER BY id1, id2""".stripMargin,

    "q_dedup_embedding" ->
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings)
         |SELECT a.vec_id AS id1, b.vec_id AS id2,
         |       round(list_cosine_similarity(a.v, b.v), 4) AS cos_sim
         |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
         |  AND ${bandCondSql(8, 2)}
         |WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.40
         |ORDER BY id1, id2""".stripMargin,

    "q_bucketed_join" ->
      s"""SELECT doc_id, source,
        |       len(${toksSql("text")})::BIGINT AS n_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_tfidf_pairs" ->
      s"""WITH tokf AS (
        |  SELECT doc_id, source, ${toksSql("text")} AS toks
        |  FROM documents),
        |tok AS (SELECT doc_id, source, unnest(toks) AS tok FROM tokf),
        |tf AS (SELECT doc_id, source, tok, count(*)::DOUBLE AS tf FROM tok GROUP BY 1, 2, 3),
        |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |w AS (
        |  SELECT tf.doc_id, tf.source, tf.tok, tf.tf * ln(1.0 + n.n_docs / df.df) AS w
        |  FROM tf JOIN df USING (tok) CROSS JOIN n
        |  WHERE df.df <= ceil(0.25 * n.n_docs)),
        |nrm AS (
        |  SELECT doc_id, sqrt(CAST(sum(CAST(w*w AS DECIMAL(28,12))) AS DOUBLE)) AS nrm
        |  FROM w GROUP BY 1),
        |dots AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2,
        |         CAST(sum(CAST(a.w*b.w AS DECIMAL(28,12))) AS DOUBLE) AS dot
        |  FROM w a JOIN w b ON a.tok = b.tok AND a.source = b.source AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id1, id2, round(dot / (n1.nrm * n2.nrm), 4) AS sim
        |FROM dots JOIN nrm n1 ON n1.doc_id = id1 JOIN nrm n2 ON n2.doc_id = id2
        |WHERE round(dot / (n1.nrm * n2.nrm), 4) >= 0.5
        |ORDER BY id1, id2""".stripMargin,

    "q_semdedup" -> semDedupOracleSql(k = 8, iters = 2, sampleN = 256,
      eps = 0.40),

    "q_semdedup_keep" -> semDedupKeepOracleSql(k = 8, iters = 2,
      sampleN = 256, eps = 0.40),

    "q_dedup_embedding_recall" ->
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
         |           FROM embeddings WHERE vec_id < 1000),
         |ex AS (
         |  SELECT count(*) AS n_exact FROM e a JOIN e b
         |  ON a.label = b.label AND a.vec_id < b.vec_id
         |  WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.40),
         |bk AS (
         |  SELECT count(*) AS n_bucketed FROM e a JOIN e b
         |  ON a.label = b.label AND a.vec_id < b.vec_id
         |    AND ${bandCondSql(8, 2)}
         |  WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.40)
         |SELECT n_bucketed, n_exact,
         |       CASE WHEN n_exact = 0 THEN 1.0
         |            ELSE round(n_bucketed * 1.0 / n_exact, 4) END AS recall
         |FROM bk, ex""".stripMargin,

    "q_ann_topk" ->
      s"""WITH $annPreamble
        |SELECT e.vec_id AS vec_id, round(list_cosine_similarity(e.v, q.qv), 4) AS cos_sim
        |FROM e, q WHERE e.vec_id <> 0
        |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin,

    "q_ann_matryoshka" ->
      s"""WITH $annPreamble,
        |coarse AS (
        |  SELECT e.vec_id, e.v, q.qv,
        |         round(list_cosine_similarity(e.v[1:16], q.qv[1:16]), 4) AS cs
        |  FROM e, q WHERE e.vec_id <> 0
        |  ORDER BY cs DESC, vec_id LIMIT 50)
        |SELECT vec_id, round(list_cosine_similarity(v, qv), 4) AS cos_sim
        |FROM coarse ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin,

    "q_ann_sq" ->
      s"""WITH $eCte,
        |c AS (SELECT * FROM e WHERE vec_id <> 0),
        |dims AS (
        |  SELECT pos, min(x) AS lo, max(x) AS hi
        |  FROM (SELECT unnest(v) AS x, generate_subscripts(v, 1) AS pos FROM c)
        |  GROUP BY pos),
        |par AS (SELECT list(lo ORDER BY pos) AS los, list(hi ORDER BY pos) AS his FROM dims),
        |qz AS (
        |  SELECT vec_id, list_transform(range(1, len(v) + 1), i ->
        |           CASE WHEN his[i] = los[i] THEN 0.0
        |                ELSE greatest(0.0, least(255.0, floor((v[i] - los[i]) / (his[i] - los[i]) * 255.0 + 0.5))) END) AS code
        |  FROM e, par),
        |rec AS (
        |  SELECT vec_id, list_transform(range(1, len(code) + 1), i ->
        |           los[i] + code[i] * (his[i] - los[i]) / 255.0) AS vh
        |  FROM qz, par)
        |SELECT r.vec_id, round(list_cosine_similarity(r.vh, q.vh), 4) AS cos_sim
        |FROM rec r, (SELECT vh FROM rec WHERE vec_id = 0) q
        |WHERE r.vec_id <> 0
        |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin,

    "q_ann_lsh" ->
      s"""WITH $annPreamble
        |SELECT e.vec_id AS vec_id, round(list_cosine_similarity(e.v, q.qv), 4) AS cos_sim
        |FROM e, q
        |WHERE e.vec_id <> 0
        |  AND (e.v[1] > 0) = (q.qv[1] > 0) AND (e.v[2] > 0) = (q.qv[2] > 0)
        |  AND (e.v[3] > 0) = (q.qv[3] > 0) AND (e.v[4] > 0) = (q.qv[4] > 0)
        |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin,

    "q_ann_lsh_mp" -> lshMultiProbeOracleSql,

    // same oracle as q_ann_lsh_mp: the stored-index multi-probe must
    // reproduce the in-memory probe exactly (write → prune → scan → top-k)
    "q_ann_lsh_index" -> lshMultiProbeOracleSql,

    "q_ann_ivf" -> ivfOracleSql(k = 8, iters = 2, sampleN = 256, nprobe = 2,
      topK = 10),

    // same oracle as q_ann_ivf: the stored-index path must reproduce the
    // in-memory probe exactly (write → partition prune → scan → top-k)
    "q_ann_ivf_index" -> ivfOracleSql(k = 8, iters = 2, sampleN = 256,
      nprobe = 2, topK = 10),

    "q_ann_pq" -> pqOracleSql(m = 4, sub = 16, k = 8, iters = 2,
      sampleN = 256, topK = 10),

    "q_ann_pq_codes" -> pqCodesOracleSql(m = 4, sub = 16, k = 8, iters = 2,
      sampleN = 256),

    "q_ann_ivfadc" -> ivfadcOracleSql(dim = 64, kCoarse = 8, iters = 2,
      sampleN = 256, nprobe = 2, m = 4, sub = 16, k = 8, topK = 10),

    "q_ann_ivfadc_index" -> ivfadcOracleSql(dim = 64, kCoarse = 8,
      iters = 2, sampleN = 256, nprobe = 2, m = 4, sub = 16, k = 8,
      topK = 10),

    "q_lang_id" ->
      """SELECT doc_id,
        |  CASE WHEN text IS NULL THEN 'und'
        |       WHEN ' '||lower(text)||' ' LIKE '% the %' OR ' '||lower(text)||' ' LIKE '% and %' OR ' '||lower(text)||' ' LIKE '% of %' OR ' '||lower(text)||' ' LIKE '% with %' THEN 'en'
        |       WHEN ' '||lower(text)||' ' LIKE '% der %' OR ' '||lower(text)||' ' LIKE '% die %' OR ' '||lower(text)||' ' LIKE '% und %' OR ' '||lower(text)||' ' LIKE '% nicht %' THEN 'de'
        |       WHEN ' '||lower(text)||' ' LIKE '% le %' OR ' '||lower(text)||' ' LIKE '% la %' OR ' '||lower(text)||' ' LIKE '% les %' OR ' '||lower(text)||' ' LIKE '% est %' THEN 'fr'
        |       WHEN ' '||lower(text)||' ' LIKE '% el %' OR ' '||lower(text)||' ' LIKE '% los %' OR ' '||lower(text)||' ' LIKE '% las %' OR ' '||lower(text)||' ' LIKE '% es %' THEN 'es'
        |       ELSE 'und' END AS lang_pred
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_quality" -> qualitySql,

    "q_linreg_fit" ->
      s"""WITH $qualityCtes,
         |$olsMomentsCtes
         |SELECT n::BIGINT AS n_rows,
         |       CASE WHEN det <> 0.0 THEN floor(det0 / det * 10000.0 + 0.5) / 10000.0 END AS b0,
         |       CASE WHEN det <> 0.0 THEN floor(det1 / det * 10000.0 + 0.5) / 10000.0 END AS b1,
         |       CASE WHEN det <> 0.0 THEN floor(det2 / det * 10000.0 + 0.5) / 10000.0 END AS b2
         |FROM fit""".stripMargin,

    "q_linreg_score" ->
      s"""WITH $qualityCtes,
         |$olsMomentsCtes,
         |b AS (
         |  SELECT CASE WHEN det <> 0.0 THEN floor(det0 / det * 10000.0 + 0.5) / 10000.0 END AS b0,
         |         CASE WHEN det <> 0.0 THEN floor(det1 / det * 10000.0 + 0.5) / 10000.0 END AS b1,
         |         CASE WHEN det <> 0.0 THEN floor(det2 / det * 10000.0 + 0.5) / 10000.0 END AS b2
         |  FROM fit)
         |SELECT q.doc_id AS doc_id,
         |       floor((b.b0 + b.b1 * q.punct_ratio + b.b2 * q.stopword_ratio) * 10000.0 + 0.5) / 10000.0 AS y_hat,
         |       floor((q.quality - (b.b0 + b.b1 * q.punct_ratio + b.b2 * q.stopword_ratio)) * 10000.0 + 0.5) / 10000.0 AS residual
         |FROM qual q CROSS JOIN b ORDER BY doc_id""".stripMargin,

    "q_calibrate" ->
      s"""WITH $qualityCtes
         |SELECT q.doc_id, d.source, q.quality,
         |       floor(percent_rank() OVER (PARTITION BY d.source ORDER BY q.quality) * 10000.0 + 0.5) / 10000.0 AS calibrated
         |FROM qual q JOIN documents d ON d.doc_id = q.doc_id
         |ORDER BY q.doc_id""".stripMargin,

    "q_curation_v4" ->
      s"""WITH $qualityCtes,
         |cal AS (
         |  SELECT q.doc_id,
         |         floor(percent_rank() OVER (PARTITION BY d.source ORDER BY q.quality) * 10000.0 + 0.5) / 10000.0 AS c
         |  FROM qual q JOIN documents d ON d.doc_id = q.doc_id),
         |sv AS (
         |  SELECT d.doc_id, d.source, d.text
         |  FROM documents d JOIN cal ON cal.doc_id = d.doc_id WHERE cal.c >= 0.5),
         |tokf2 AS (
         |  SELECT doc_id, source, ${wsToksSql("text")} AS toks
         |  FROM sv),
         |anch2 AS (
         |  SELECT doc_id, toks, unnest(list_filter(range(1, len(toks) - 14),
         |    p -> ${md5ModSql("md5(toks[p])", 4)} = 0)) AS p
         |  FROM tokf2 WHERE len(toks) >= 16),
         |win2 AS (
         |  SELECT doc_id, p, md5(array_to_string(list_slice(toks, p, p + 15), ' ')) AS h
         |  FROM anch2),
         |dfw2 AS (SELECT h, count(DISTINCT doc_id) AS df FROM win2 GROUP BY 1),
         |dup2 AS (SELECT win2.doc_id, win2.p FROM win2 JOIN dfw2 USING (h) WHERE df >= 2),
         |pos2 AS (SELECT doc_id, generate_subscripts(toks, 1) AS i FROM tokf2),
         |cov2 AS (
         |  SELECT DISTINCT pos2.doc_id, pos2.i
         |  FROM pos2 JOIN dup2 d ON d.doc_id = pos2.doc_id
         |                       AND pos2.i >= d.p AND pos2.i < d.p + 16),
         |res2 AS (
         |  SELECT p.doc_id, count(*) - count(c.i) AS n_kept
         |  FROM pos2 p LEFT JOIN cov2 c ON c.doc_id = p.doc_id AND c.i = p.i
         |  GROUP BY 1)
         |SELECT f.source, count(*) AS n_docs,
         |       sum(coalesce(r.n_kept, 0))::BIGINT AS kept_tokens,
         |       sum(len(f.toks) - coalesce(r.n_kept, 0))::BIGINT AS removed_tokens
         |FROM tokf2 f LEFT JOIN res2 r ON r.doc_id = f.doc_id
         |GROUP BY 1 ORDER BY f.source""".stripMargin,

    "q_upsert" ->
      """WITH base AS (SELECT doc_id, 'v0' AS ver, source FROM documents),
        |batch AS (
        |  SELECT doc_id, 'v1' AS ver, source FROM documents WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, 'new', source FROM documents WHERE doc_id % 7 = 3)
        |SELECT coalesce(b.doc_id, a.doc_id) AS doc_id,
        |       coalesce(b.ver, a.ver) AS ver,
        |       coalesce(b.source, a.source) AS source
        |FROM base a FULL JOIN batch b ON a.doc_id = b.doc_id
        |ORDER BY doc_id""".stripMargin,

    "q_token_count" ->
      raw"""SELECT doc_id,
        |       len(${wsToksSql("text")}) AS ws_tokens,
        |       len(list_filter(regexp_split_to_array(text, '\W+'), x -> x <> ''))
        |         + length(regexp_replace(text, '[\w\s]', '', 'g')) AS bpeish_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_fingerprint" ->
      """SELECT doc_id, md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_multimodal_meta" ->
      """SELECT doc_id, octet_length(encode(text)) AS byte_len, sha256(text) AS sha256
        |FROM documents ORDER BY doc_id""".stripMargin,

    // builds the SAME blob bytes (unhex) and parses them back through the
    // hex roundtrip — DuckDB 1.0.0 has no blob substring; the Spark side
    // slices the BinaryType column directly
    "q_multimodal_dims" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN 'FFD8FFE000104A46494600'
        |         ELSE '89504E470D0A1A0A0000000D49484452'
        |              || lpad(hex(doc_id % 640 + 16), 8, '0')
        |              || lpad(hex((doc_id * 7) % 480 + 16), 8, '0')
        |              || '0806000000' END AS hx
        |  FROM documents),
        |b AS (SELECT doc_id, unhex(hx) AS img FROM p),
        |hh AS (SELECT doc_id, hex(img) AS h, octet_length(img)::BIGINT AS byte_len FROM b)
        |SELECT doc_id,
        |       (byte_len >= 24 AND substr(h, 1, 16) = '89504E470D0A1A0A') AS is_png,
        |       CASE WHEN byte_len >= 24 AND substr(h, 1, 16) = '89504E470D0A1A0A'
        |            THEN ('0x' || substr(h, 33, 8))::UBIGINT::BIGINT END AS width,
        |       CASE WHEN byte_len >= 24 AND substr(h, 1, 16) = '89504E470D0A1A0A'
        |            THEN ('0x' || substr(h, 41, 8))::UBIGINT::BIGINT END AS height,
        |       byte_len
        |FROM hh ORDER BY doc_id""".stripMargin,

    "q_repetition" ->
      raw"""WITH lines AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(text, '\n'), x -> trim(x) <> '') AS ls
        |  FROM documents),
        |lf AS (
        |  SELECT doc_id, CASE WHEN len(ls) = 0 THEN 0.0
        |         ELSE floor((1.0 - len(list_distinct(ls))::DOUBLE / len(ls)) * 10000.0 + 0.5) / 10000.0 END AS dup_line_frac
        |  FROM lines),
        |$tokfCte,
        |tok AS (SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS p FROM tokf),
        |bg AS (
        |  SELECT doc_id, g, count(*) AS c FROM (
        |    SELECT doc_id, tok || ' ' || lead(tok) OVER (PARTITION BY doc_id ORDER BY p) AS g FROM tok)
        |  WHERE g IS NOT NULL GROUP BY 1, 2),
        |tb AS (SELECT doc_id, floor(max(c)::DOUBLE / sum(c) * 10000.0 + 0.5) / 10000.0 AS top_bigram_frac FROM bg GROUP BY 1)
        |SELECT l.doc_id, l.dup_line_frac, coalesce(tb.top_bigram_frac, 0.0) AS top_bigram_frac
        |FROM lf l LEFT JOIN tb USING (doc_id) ORDER BY doc_id""".stripMargin,

    "q_pii_mask" ->
      """SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace('reach bob.smith@example.com or +1 555-123-9876 now ' || text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\+?\d[\d \-]{7,}\d', '<PHONE>', 'g') AS masked
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_card_detect" ->
      """WITH p AS (
        |  SELECT doc_id,
        |         text || ' ' || CASE WHEN doc_id % 3 = 0 THEN 'pay 4111111111111111 now'
        |                             WHEN doc_id % 3 = 1 THEN 'id 4111111111111112 ref'
        |                             ELSE 'card 5500 0000 0000 0004 used' END AS text
        |  FROM documents),
        |c AS (SELECT doc_id, unnest(regexp_extract_all(text, '[0-9][0-9 \-]{11,21}[0-9]')) AS cand FROM p),
        |d AS (
        |  SELECT doc_id, cand, regexp_replace(cand, '[^0-9]', '', 'g') AS ds FROM c
        |  WHERE length(regexp_replace(cand, '[^0-9]', '', 'g')) BETWEEN 13 AND 19),
        |e AS (SELECT doc_id, cand, reverse(ds) AS r FROM d),
        |f AS (
        |  SELECT doc_id, cand,
        |         sum(CASE WHEN i % 2 = 0 THEN (CASE WHEN dig * 2 > 9 THEN dig * 2 - 9 ELSE dig * 2 END)
        |                  ELSE dig END) AS s
        |  FROM (SELECT doc_id, cand, i, substr(r, i, 1)::BIGINT AS dig
        |        FROM e, UNNEST(generate_series(1, length(r))) AS t(i))
        |  GROUP BY 1, 2)
        |SELECT doc_id, cand, (s % 10 = 0) AS luhn_valid
        |FROM f ORDER BY doc_id, cand""".stripMargin,

    "q_stratified_sample" ->
      raw"""SELECT doc_id, source FROM documents
        |WHERE ${md5ModSql("md5(source || '|' || doc_id::VARCHAR)", 100)}
        |      < (CASE WHEN regexp_matches(source, '^src1\d$$') THEN 50 ELSE 20 END)
        |ORDER BY doc_id""".stripMargin,

    "q_chunking" ->
      s"""WITH tokf AS (
        |  SELECT doc_id, ${wsToksSql("text")} AS toks
        |  FROM documents),
        |st AS (
        |  SELECT doc_id, toks, unnest(generate_series(1, greatest(len(toks) - 16, 1), 48)) AS s
        |  FROM tokf WHERE len(toks) > 0)
        |SELECT doc_id,
        |       row_number() OVER (PARTITION BY doc_id ORDER BY s) AS chunk_idx,
        |       s AS start_tok,
        |       array_to_string(list_slice(toks, s, least(s + 63, len(toks))), ' ') AS chunk,
        |       least(len(toks) - s + 1, 64)::BIGINT AS n_tokens
        |FROM st ORDER BY doc_id, chunk_idx""".stripMargin,

    "q_contamination" -> {
      val leads = (1 to 4).map(i => s"lead(tok,$i) OVER w").mkString(" || ' ' || ")
      s"""WITH $tokfCte,
         |tok AS (SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS p FROM tokf),
         |sh AS (SELECT DISTINCT doc_id, g FROM (
         |  SELECT doc_id, tok || ' ' || $leads AS g FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY p))
         |  WHERE g IS NOT NULL)
         |SELECT s.doc_id AS doc_id, count(DISTINCT s.g) AS shared_grams,
         |       count(DISTINCT b.doc_id) AS bench_docs
         |FROM sh s JOIN sh b ON s.g = b.g AND s.doc_id >= 10 AND b.doc_id < 10
         |GROUP BY 1 ORDER BY 1""".stripMargin
    },

    "q_dedup_paragraph" ->
      s"""WITH tokf AS (
        |  SELECT doc_id, ${wsToksSql("text")} AS toks
        |  FROM documents),
        |st AS (
        |  SELECT doc_id, toks, unnest(generate_series(1, greatest(len(toks), 1), 8)) AS s
        |  FROM tokf WHERE len(toks) > 0),
        |ch AS (
        |  SELECT doc_id, row_number() OVER (PARTITION BY doc_id ORDER BY s) AS chunk_idx,
        |         md5(array_to_string(list_slice(toks, s, least(s + 7, len(toks))), ' ')) AS h
        |  FROM st),
        |rk AS (
        |  SELECT doc_id, row_number() OVER (PARTITION BY h ORDER BY doc_id, chunk_idx) AS rk
        |  FROM ch)
        |SELECT doc_id, count(*) AS n_chunks,
        |       count(*) FILTER (rk = 1) AS n_kept,
        |       floor(count(*) FILTER (rk = 1)::DOUBLE / count(*) * 10000.0 + 0.5) / 10000.0 AS kept_frac
        |FROM rk GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_dedup_incremental" -> incrementalSurvivorsSql,

    // same result set as q_dedup_incremental: the stored-index roundtrip
    // must be invisible to the survivors
    "q_dedup_incremental_index" -> incrementalSurvivorsSql,

    "q_cluster_keeper" -> {
      s"""$componentCtes,
         |cl AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id),
         |$qualityCtes,
         |mem AS (
         |  SELECT cl.cluster, cl.id, qual.quality,
         |         row_number() OVER (PARTITION BY cl.cluster ORDER BY qual.quality DESC, cl.id ASC) AS rk,
         |         count(*) OVER (PARTITION BY cl.cluster) AS n_members
         |  FROM cl JOIN qual ON qual.doc_id = cl.id)
         |SELECT cluster, id AS keeper_id, quality AS keeper_quality, n_members
         |FROM mem WHERE rk = 1 ORDER BY cluster""".stripMargin
    },

    "q_gopher_rules" ->
      s"""WITH p AS (
        |  SELECT doc_id,
        |         text || (CASE WHEN doc_id % 3 = 0 THEN ' ### flag ... end' ELSE ' plain end' END) AS payload
        |  FROM documents),
        |tk AS (
        |  SELECT doc_id, payload,
        |         ${toksSql("payload")} AS toks
        |  FROM p),
        |m AS (
        |  SELECT doc_id, len(toks) AS ntok,
        |         CASE WHEN len(toks) = 0 THEN 0.0
        |              ELSE floor(list_sum(list_transform(toks, x -> length(x)))::DOUBLE / len(toks) * 10000.0 + 0.5) / 10000.0 END AS mean_word_len,
        |         (length(payload) - length(replace(payload, '#', '')))
        |           + (length(payload) - length(replace(payload, '...', ''))) / 3 AS nsym,
        |         CASE WHEN len(toks) = 0 THEN 0.0
        |              ELSE floor(len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))::DOUBLE / len(toks) * 10000.0 + 0.5) / 10000.0 END AS alpha_word_frac
        |  FROM tk),
        |r AS (
        |  SELECT doc_id, mean_word_len,
        |         CASE WHEN ntok = 0 THEN 0.0
        |              ELSE floor(nsym::DOUBLE / ntok * 10000.0 + 0.5) / 10000.0 END AS symbol_ratio,
        |         alpha_word_frac
        |  FROM m)
        |SELECT doc_id, mean_word_len, symbol_ratio, alpha_word_frac,
        |       (mean_word_len >= 3.0 AND mean_word_len <= 10.0
        |        AND symbol_ratio < 0.1 AND alpha_word_frac > 0.8) AS gopher_keep
        |FROM r ORDER BY doc_id""".stripMargin,

    "q_gopher_repetition" ->
      s"""WITH $tokfCte,
        |g AS (
        |  SELECT doc_id, 2 AS n, unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) AS gram
        |  FROM tokf WHERE len(toks) >= 2
        |  UNION ALL
        |  SELECT doc_id, 3 AS n, unnest(list_transform(range(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS gram
        |  FROM tokf WHERE len(toks) >= 3
        |  UNION ALL
        |  SELECT doc_id, 4 AS n, unnest(list_transform(range(1, len(toks) - 2), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS gram
        |  FROM tokf WHERE len(toks) >= 4),
        |c AS (SELECT doc_id, n, gram, count(*) AS c FROM g GROUP BY 1, 2, 3),
        |s AS (
        |  SELECT doc_id, n,
        |         floor(max(c)::DOUBLE / sum(c) * 10000.0 + 0.5) / 10000.0 AS topf,
        |         floor(sum(CASE WHEN c >= 2 THEN c ELSE 0 END)::DOUBLE / sum(c) * 10000.0 + 0.5) / 10000.0 AS dupf
        |  FROM c GROUP BY 1, 2)
        |SELECT doc_id,
        |       coalesce(max(CASE WHEN n = 2 THEN topf END), 0.0) AS top2_frac,
        |       coalesce(max(CASE WHEN n = 2 THEN dupf END), 0.0) AS dup2_frac,
        |       coalesce(max(CASE WHEN n = 3 THEN topf END), 0.0) AS top3_frac,
        |       coalesce(max(CASE WHEN n = 3 THEN dupf END), 0.0) AS dup3_frac,
        |       coalesce(max(CASE WHEN n = 4 THEN topf END), 0.0) AS top4_frac,
        |       coalesce(max(CASE WHEN n = 4 THEN dupf END), 0.0) AS dup4_frac
        |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_ngram_topk" ->
      s"""$shinglesCte
         |SELECT g AS shingle, count(*) AS df FROM sh
         |GROUP BY g ORDER BY df DESC, shingle LIMIT 50""".stripMargin,

    "q_unigram_lm" ->
      s"""WITH ${unigramLmCtes("kept")}
        |SELECT t.doc_id, count(*) AS n_tokens,
        |       floor(avg(-ln(coalesce(k.c, 1)::DOUBLE / (SELECT s FROM tot))) * 10000.0 + 0.5) / 10000.0 AS lm_score
        |FROM tok t LEFT JOIN kept k USING (tok)
        |GROUP BY 1 ORDER BY doc_id""".stripMargin,

    "q_bpe_pairs" ->
      s"""WITH $tokfCte,
        |pairs AS (
        |  SELECT unnest(list_transform(range(1, len(toks)),
        |                               i -> toks[i] || ' ' || toks[i + 1])) AS pair
        |  FROM tokf WHERE len(toks) >= 2)
        |SELECT pair, count(*) AS c FROM pairs
        |GROUP BY 1 ORDER BY c DESC, pair LIMIT 50""".stripMargin,

    "q_bpe_train" -> bpeTrainOracleSql(iters = 3),
    "q_bpe_encode" -> bpeEncodeOracleSql(iters = 3),

    // fertility = post-merge tokens per pre-merge word, per source; the
    // same 3 training rounds as q_bpe_encode (tok3 is the encoded table)
    "q_bpe_fertility" ->
      s"""WITH ${bpeRoundsCtes(iters = 3, minToks = 1)},
         |enc AS (SELECT doc_id, count(*) AS nt FROM tok3 GROUP BY 1),
         |w AS (
         |  SELECT doc_id, source,
         |         len(${toksSql("text")}) AS nw
         |  FROM documents)
         |SELECT source, count(*)::BIGINT AS n_docs, sum(nt)::BIGINT AS bpe_tokens,
         |       sum(nw)::BIGINT AS words,
         |       floor(sum(nt)::DOUBLE / sum(nw) * 10000.0 + 0.5) / 10000.0 AS fertility
         |FROM w JOIN enc USING (doc_id) WHERE nw > 0
         |GROUP BY source ORDER BY source""".stripMargin,

    "q_dedup_remove" ->
      s"""WITH tokf AS (
        |  SELECT doc_id, ${wsToksSql("text")} AS toks
        |  FROM documents),
        |anch AS (
        |  SELECT doc_id, toks, unnest(list_filter(range(1, len(toks) - 14),
        |    p -> ${md5ModSql("md5(toks[p])", 4)} = 0)) AS p
        |  FROM tokf WHERE len(toks) >= 16),
        |win AS (
        |  SELECT doc_id, p, md5(array_to_string(list_slice(toks, p, p + 15), ' ')) AS h
        |  FROM anch),
        |dfw AS (SELECT h, count(DISTINCT doc_id) AS df FROM win GROUP BY 1),
        |dup AS (SELECT win.doc_id, win.p FROM win JOIN dfw USING (h) WHERE df >= 2),
        |pos AS (SELECT doc_id, generate_subscripts(toks, 1) AS i, unnest(toks) AS t FROM tokf),
        |cov AS (
        |  SELECT DISTINCT pos.doc_id, pos.i
        |  FROM pos JOIN dup d ON d.doc_id = pos.doc_id
        |                     AND pos.i >= d.p AND pos.i < d.p + 16),
        |keptpos AS (
        |  SELECT pos.doc_id, pos.i, pos.t
        |  FROM pos LEFT JOIN cov ON cov.doc_id = pos.doc_id AND cov.i = pos.i
        |  WHERE cov.i IS NULL),
        |res AS (
        |  SELECT doc_id, string_agg(t, ' ' ORDER BY i) AS cleaned,
        |         count(*) AS n_kept
        |  FROM keptpos GROUP BY 1)
        |SELECT f.doc_id, len(f.toks)::BIGINT AS n_tokens,
        |       (len(f.toks) - coalesce(r.n_kept, 0))::BIGINT AS n_removed,
        |       coalesce(r.cleaned, '') AS cleaned
        |FROM tokf f LEFT JOIN res r USING (doc_id)
        |ORDER BY f.doc_id""".stripMargin,

    "q_dedup_winnow" ->
      s"""WITH tokf AS (
        |  SELECT doc_id, ${wsToksSql("text")} AS toks
        |  FROM documents),
        |hsx AS (
        |  SELECT doc_id,
        |         list_transform(range(1, len(toks) - 6),
        |                        p -> md5(array_to_string(list_slice(toks, p, p + 7), ' '))) AS hs
        |  FROM tokf WHERE len(toks) >= 11),
        |selx AS (
        |  SELECT doc_id, hs,
        |         list_distinct(list_transform(range(1, len(hs) - 2),
        |           s -> s - 1 + list_indexof(list_slice(hs, s, s + 3),
        |                                     list_min(list_slice(hs, s, s + 3))))) AS ps
        |  FROM hsx),
        |fullw AS (SELECT doc_id, hs[unnest(ps)] AS h FROM selx),
        |dfw AS (SELECT h, count(DISTINCT doc_id) AS df FROM fullw GROUP BY 1)
        |SELECT f.doc_id, count(*) AS n_windows,
        |       sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_dup,
        |       floor(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END)::DOUBLE / count(*) * 10000.0 + 0.5) / 10000.0 AS dup_frac
        |FROM fullw f JOIN dfw USING (h)
        |GROUP BY 1 ORDER BY doc_id""".stripMargin,

    // identical winnowing chain, but window hashes are the same Horner
    // fold Spark runs: list_reduce over a 0-seeded slice of per-token
    // base hashes (both engines execute the same accumulator sequence)
    "q_dedup_winnow_fast" ->
      raw"""WITH tokf AS (
        |  SELECT doc_id, ${wsToksSql("text")} AS toks
        |  FROM documents),
        |thx AS (
        |  SELECT doc_id,
        |         list_transform(toks, t -> ${baseHashSql("t")}) AS th
        |  FROM tokf WHERE len(toks) >= 11),
        |hsx AS (
        |  SELECT doc_id,
        |         list_transform(range(1, len(th) - 6),
        |                        p -> list_reduce(list_prepend(0::UBIGINT, list_slice(th, p, p + 7)),
        |                                         (a, b) -> (a * 1000003 + b) % 2147483647)) AS hs
        |  FROM thx),
        |selx AS (
        |  SELECT doc_id, hs,
        |         list_distinct(list_transform(range(1, len(hs) - 2),
        |           s -> s - 1 + list_indexof(list_slice(hs, s, s + 3),
        |                                     list_min(list_slice(hs, s, s + 3))))) AS ps
        |  FROM hsx),
        |fullw AS (SELECT doc_id, hs[unnest(ps)] AS h FROM selx),
        |dfw AS (SELECT h, count(DISTINCT doc_id) AS df FROM fullw GROUP BY 1)
        |SELECT f.doc_id, count(*) AS n_windows,
        |       sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_dup,
        |       floor(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END)::DOUBLE / count(*) * 10000.0 + 0.5) / 10000.0 AS dup_frac
        |FROM fullw f JOIN dfw USING (h)
        |GROUP BY 1 ORDER BY doc_id""".stripMargin,

    "q_dedup_substring" ->
      s"""WITH tokf AS (
        |  SELECT doc_id, ${wsToksSql("text")} AS toks
        |  FROM documents),
        |anch AS (
        |  SELECT doc_id, toks,
        |         list_filter(range(1, len(toks) - 14),
        |                     p -> ${md5ModSql("md5(toks[p])", 4)} = 0) AS ps
        |  FROM tokf WHERE len(toks) >= 16),
        |fullw AS (
        |  SELECT doc_id,
        |         md5(array_to_string(list_slice(toks, unnest(ps), unnest(ps) + 15), ' ')) AS h
        |  FROM anch),
        |dfw AS (SELECT h, count(DISTINCT doc_id) AS df FROM fullw GROUP BY 1)
        |SELECT f.doc_id, count(*) AS n_windows,
        |       sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_dup,
        |       floor(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END)::DOUBLE / count(*) * 10000.0 + 0.5) / 10000.0 AS dup_frac
        |FROM fullw f JOIN dfw USING (h)
        |GROUP BY 1 ORDER BY doc_id""".stripMargin,

    "q_html_text" ->
      """WITH h AS (
        |  SELECT doc_id, text,
        |         '<html><head><style>p {c:red}</style><script>var a="<x>";</script></head><body><p>' || text ||
        |         '</p> &amp;amp; <a href="http://x.com/p">tail link</a></body></html>' AS html
        |  FROM documents),
    |noscript AS (SELECT doc_id, text, regexp_replace(html, '(?s)<script[^>]*>.*?</script>', ' ', 'g') AS v FROM h),
        |nostyle AS (SELECT doc_id, text, regexp_replace(v, '(?s)<style[^>]*>.*?</style>', ' ', 'g') AS v FROM noscript),
        |notags AS (SELECT doc_id, text, regexp_replace(v, '<[^>]+>', ' ', 'g') AS v FROM nostyle),
        |ent AS (
        |  SELECT doc_id, text,
        |         regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(v,
        |           '&nbsp;', ' ', 'g'),
        |           '&lt;', '<', 'g'),
        |           '&gt;', '>', 'g'),
        |           '&quot;', '"', 'g'),
        |           '&amp;', '&', 'g') AS v
        |  FROM notags),
        |x AS (SELECT doc_id, text, trim(regexp_replace(v, '\s+', ' ', 'g')) AS extracted FROM ent)
        |SELECT doc_id, extracted,
        |       coalesce(extracted = trim(trim(regexp_replace(text, '\s+', ' ', 'g')) || ' &amp; tail link'), false) AS roundtrip_ok
        |FROM x ORDER BY doc_id""".stripMargin,

    "q_link_graph" ->
      s"""$linkCtes,
        |e AS (
        |  SELECT source AS src_domain,
        |         lower(regexp_extract(href, '^(?:https?://)?([^/:?#]+)', 1)) AS dst_domain
        |  FROM l)
        |SELECT src_domain, dst_domain, count(*) AS n_links FROM e
        |WHERE dst_domain <> '' AND dst_domain <> src_domain
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_anchor_text" ->
      s"""WITH h AS (
        |  SELECT doc_id, source, $plantedHtmlSql AS html
        |  FROM documents),
        |l AS (
        |  SELECT source,
        |         unnest(regexp_extract_all(html, '(?i)<a\\s[^>]*href="([^"]*)"[^>]*>([^<]*)</a>', 1)) AS href,
        |         unnest(regexp_extract_all(html, '(?i)<a\\s[^>]*href="([^"]*)"[^>]*>([^<]*)</a>', 2)) AS anchor
        |  FROM h),
        |t2 AS (
        |  SELECT source AS src_domain,
        |         lower(regexp_extract(href, '^(?:https?://)?([^/:?#]+)', 1)) AS dst_domain,
        |         unnest(${toksSql("anchor")}) AS term
        |  FROM l)
        |SELECT dst_domain, term, count(*) AS n FROM t2
        |WHERE dst_domain <> '' AND dst_domain <> src_domain
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_pagerank" ->
      s"""$edgeCtes,
        |$outdCte,
        |contrib AS (
        |  SELECT dst_domain AS domain, sum(n::DOUBLE / outw) AS inflow
        |  FROM eg JOIN outd USING (src_domain) GROUP BY 1),
        |$domsCte
        |SELECT domain,
        |       floor(((1.0::DOUBLE - 0.85::DOUBLE) + 0.85::DOUBLE * coalesce(inflow, 0.0)) * 10000.0 + 0.5) / 10000.0 AS pr
        |FROM doms LEFT JOIN contrib USING (domain) ORDER BY domain""".stripMargin,

    "q_pagerank_iters" -> rankOracleSql("pr", iters = 3),

    "q_trustrank" ->
      rankOracleSql("tr", iters = 3, seeds = Seq("src0", "src1", "site0.com")),

    "q_spam_mass" ->
      spamMassOracleSql(iters = 3, seeds = Seq("src0", "src1", "site0.com")),

    "q_frontier" -> frontierOracleSql(iters = 3, mBits = 8192,
      kHashes = 4, topK = 20),

    "q_pagerank_conserving" -> rankOracleSql("pr", iters = 3, dangling = true),

    "q_hits" ->
      s"""$edgeCtes,
        |a AS (SELECT dst_domain AS domain, sum(n)::DOUBLE AS auth FROM eg GROUP BY 1),
        |hb AS (
        |  SELECT src_domain AS domain, sum(n::DOUBLE * a.auth) AS hub
        |  FROM eg JOIN a ON eg.dst_domain = a.domain GROUP BY 1),
        |$domsCte
        |SELECT doms.domain,
        |       floor(coalesce(a.auth, 0.0) * 10000.0 + 0.5) / 10000.0 AS auth,
        |       floor(coalesce(hb.hub, 0.0) * 10000.0 + 0.5) / 10000.0 AS hub
        |FROM doms LEFT JOIN a USING (domain) LEFT JOIN hb USING (domain)
        |ORDER BY domain""".stripMargin,

    "q_degree_table" ->
      s"""$edgeCtes,
        |o AS (
        |  SELECT src_domain AS domain, count(*)::BIGINT AS out_deg, sum(n)::BIGINT AS out_weight
        |  FROM eg GROUP BY 1),
        |i AS (
        |  SELECT dst_domain AS domain, count(*)::BIGINT AS in_deg, sum(n)::BIGINT AS in_weight
        |  FROM eg GROUP BY 1)
        |SELECT coalesce(o.domain, i.domain) AS domain,
        |       coalesce(out_deg, 0)::BIGINT AS out_deg,
        |       coalesce(out_weight, 0)::BIGINT AS out_weight,
        |       coalesce(in_deg, 0)::BIGINT AS in_deg,
        |       coalesce(in_weight, 0)::BIGINT AS in_weight
        |FROM o FULL OUTER JOIN i ON o.domain = i.domain
        |ORDER BY domain""".stripMargin,

    "q_curation_v3" ->
      raw"""WITH ${unigramLmCtes("keptv")},
        |lm AS (
        |  SELECT t.doc_id, count(*) AS n_tokens,
        |         floor(avg(-ln(coalesce(k.c, 1)::DOUBLE / (SELECT s FROM tot))) * 10000.0 + 0.5) / 10000.0 AS lm_score
        |  FROM tok t LEFT JOIN keptv k USING (tok) GROUP BY 1),
        |g AS (
        |  SELECT d.doc_id, d.source, d.text, lm.n_tokens, lm.lm_score
        |  FROM documents d JOIN lm USING (doc_id)
        |  WHERE lm.lm_score >= 3.39 AND lm.lm_score <= 3.41),
        |fp AS (SELECT *, md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS f FROM g),
        |keep AS (SELECT f, min(doc_id) AS doc_id FROM fp GROUP BY f)
        |SELECT source, count(*) AS n_docs, sum(n_tokens)::BIGINT AS total_tokens,
        |       floor(avg(lm_score) * 10000.0 + 0.5) / 10000.0 AS avg_lm
        |FROM fp JOIN keep USING (f, doc_id)
        |GROUP BY 1 ORDER BY source""".stripMargin,

    "q_source_kl" ->
      s"""WITH tokf AS (
        |  SELECT source, ${toksSql("text")} AS toks
        |  FROM documents),
        |tok AS (SELECT source, unnest(toks) AS tok FROM tokf),
        |st AS (SELECT source, tok, count(*) AS sc FROM tok GROUP BY 1, 2),
        |corpus AS (SELECT tok, sum(sc) AS cc FROM st GROUP BY 1),
        |totals AS (SELECT source, sum(sc) AS stot FROM st GROUP BY 1),
        |ct AS (SELECT sum(cc)::DOUBLE AS c FROM corpus)
        |SELECT st.source, max(stot)::BIGINT AS n_tokens,
        |       floor(sum(sc::DOUBLE / stot * ln((sc::DOUBLE / stot) / (cc::DOUBLE / (SELECT c FROM ct)))) * 10000.0 + 0.5) / 10000.0 AS kl
        |FROM st JOIN corpus USING (tok) JOIN totals USING (source)
        |GROUP BY 1 ORDER BY source""".stripMargin,

    "q_bigram_lm" ->
      s"""WITH $tokfCte,
        |tok AS (SELECT doc_id, unnest(toks) AS tok FROM tokf),
        |uni AS (SELECT tok, count(*) AS uc FROM tok GROUP BY 1),
        |tot AS (SELECT sum(uc)::DOUBLE AS s FROM uni),
        |unik AS (SELECT tok, uc FROM uni WHERE uc >= 2),
        |bi AS (
        |  SELECT pair AS gram, count(*) AS bc FROM (
        |    SELECT unnest(list_transform(range(1, len(toks)),
        |                                 i -> toks[i] || ' ' || toks[i + 1])) AS pair
        |    FROM tokf WHERE len(toks) >= 2)
        |  GROUP BY 1 HAVING count(*) >= 2),
        |pos AS (
        |  SELECT doc_id, tok, CASE WHEN p > 1 THEN toks[p - 1] END AS prev,
        |         CASE WHEN p > 1 THEN toks[p - 1] || ' ' || tok ELSE tok END AS gram
        |  FROM (SELECT doc_id, toks, unnest(toks) AS tok,
        |               generate_subscripts(toks, 1) AS p FROM tokf)),
        |scored AS (
        |  SELECT pos.doc_id,
        |         CASE WHEN pos.prev IS NOT NULL AND bi.bc IS NOT NULL AND pu.uc IS NOT NULL
        |              THEN bi.bc::DOUBLE / pu.uc
        |              ELSE 0.4 * coalesce(u.uc, 1)::DOUBLE / (SELECT s FROM tot) END AS p
        |  FROM pos LEFT JOIN bi USING (gram)
        |           LEFT JOIN unik pu ON pu.tok = pos.prev
        |           LEFT JOIN unik u ON u.tok = pos.tok)
        |SELECT doc_id, count(*) AS n_tokens,
        |       floor(avg(-ln(p)) * 10000.0 + 0.5) / 10000.0 AS lm2_score
        |FROM scored GROUP BY 1 ORDER BY doc_id""".stripMargin,

    // a_s = (n_min/n_s)^(1-alpha) in basis points (round-half floor as
    // everywhere); the accept coin is weightedSampleFilter's md5 recipe;
    // a token-less source has weight 0 and is dropped before n_min
    "q_temperature_sample" ->
      s"""WITH w AS (
        |  SELECT doc_id, source,
        |         len(${toksSql("text")}) AS nt
        |  FROM documents),
        |c AS (SELECT source, sum(nt) AS ns FROM w GROUP BY 1 HAVING sum(nt) > 0),
        |m AS (SELECT min(ns) AS nmin FROM c),
        |r AS (
        |  SELECT source, floor(pow(nmin::DOUBLE / ns, 0.5) * 10000 + 0.5)::BIGINT AS rate_bp
        |  FROM c CROSS JOIN m)
        |SELECT d.doc_id, d.source, r.rate_bp
        |FROM documents d JOIN r USING (source)
        |WHERE (${md5ModSql("md5('w|' || d.doc_id::VARCHAR)", 10000)}) < rate_bp
        |ORDER BY doc_id""".stripMargin,

    // suffix set per host (every dot-suffix), semi-join against the list
    "q_domain_blocklist" ->
      """WITH h AS (
        |  SELECT doc_id,
        |         (CASE WHEN doc_id % 2 = 0 THEN 'www.' ELSE '' END) || source || '.' ||
        |         (CASE WHEN doc_id % 4 = 0 THEN 'ads.example.com'
        |               WHEN doc_id % 4 = 1 THEN 'example.com'
        |               WHEN doc_id % 4 = 2 THEN 'example.org'
        |               ELSE 'clean.net' END) AS host
        |  FROM documents),
        |b AS (SELECT unnest(['example.com', 'tracker.net']) AS pattern),
        |s AS (
        |  SELECT doc_id, host, labels, unnest(range(1, len(labels) + 1)) AS i
        |  FROM (SELECT doc_id, host, string_split(host, '.') AS labels FROM h)),
        |suf AS (
        |  SELECT doc_id, host, array_to_string(list_slice(labels, i, len(labels)), '.') AS suf
        |  FROM s)
        |SELECT DISTINCT doc_id, host
        |FROM suf WHERE suf IN (SELECT pattern FROM b)
        |ORDER BY doc_id""".stripMargin,

    // the q_unigram_lm model chain + per-source percent_rank terciles;
    // the rank is pround4'd on both engines before the CASE thresholds
    "q_ccnet_buckets" ->
      s"""WITH ${unigramLmCtes("kept")},
        |lm AS (
        |  SELECT t.doc_id,
        |         floor(avg(-ln(coalesce(k.c, 1)::DOUBLE / (SELECT s FROM tot))) * 10000.0 + 0.5) / 10000.0 AS lm_score
        |  FROM tok t LEFT JOIN kept k USING (tok) GROUP BY 1),
        |c AS (
        |  SELECT d.doc_id, d.source, lm.lm_score,
        |         floor(percent_rank() OVER (PARTITION BY d.source ORDER BY lm.lm_score) * 10000.0 + 0.5) / 10000.0 AS pr
        |  FROM documents d JOIN lm USING (doc_id))
        |SELECT doc_id, source, lm_score,
        |       CASE WHEN pr < 1.0/3 THEN 'head' WHEN pr < 2.0/3 THEN 'middle' ELSE 'tail' END AS bucket
        |FROM c ORDER BY doc_id""".stripMargin,

    "q_dsir_weights" -> (dsirWeightsSql + "\nORDER BY doc_id"),

    // same model CTEs as dsirWeightsSql, emitted at bucket level; lr0 is
    // the smoothed unseen-bucket log-ratio (cr=0, ct=0 under +1 Laplace)
    "q_dsir_model" ->
      s"""WITH tokf AS (
        |  SELECT doc_id, source = 'src0' AS is_target,
        |         ${toksSql("text")} AS toks
        |  FROM documents),
        |h AS (SELECT doc_id, is_target, md5(unnest(toks)) AS hx FROM tokf),
        |b AS (SELECT is_target, (${md5ModSql("hx", 64)})::BIGINT AS bucket FROM h),
        |m AS (
        |  SELECT bucket, count(*) AS cr,
        |         sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS ct
        |  FROM b GROUP BY 1),
        |tot AS (SELECT sum(cr) AS rtot, sum(ct) AS ttot FROM m)
        |SELECT bucket,
        |       floor((ln((ct + 1.0) / (ttot + 64)) - ln((cr + 1.0) / (rtot + 64))) * 10000.0 + 0.5) / 10000.0 AS lr,
        |       floor((ln(1.0 / (ttot + 64)) - ln(1.0 / (rtot + 64))) * 10000.0 + 0.5) / 10000.0 AS lr0
        |FROM m CROSS JOIN tot ORDER BY bucket""".stripMargin,

    "q_dsir_sample" ->
      s"""WITH w AS (
         |$dsirWeightsSql)
         |SELECT doc_id, dsir_weight,
         |       floor((dsir_weight - ln(-ln(
         |         ((${md5ModSql("md5('dsir|' || doc_id::VARCHAR)", 1000000)})::DOUBLE + 0.5) / 1000000.0
         |       ))) * 10000.0 + 0.5) / 10000.0 AS gumbel_score
         |FROM w
         |ORDER BY gumbel_score DESC, doc_id LIMIT 100""".stripMargin,

    "q_nbc_model" ->
      s"""$nbcCtes
         |SELECT bucket,
         |       floor((ln((cp + 1.0) / (tp + 64)) - ln((cn + 1.0) / (tn + 64))) * 10000.0 + 0.5) / 10000.0 AS w,
         |       floor((ln(1.0 / (tp + 64)) - ln(1.0 / (tn + 64))) * 10000.0 + 0.5) / 10000.0 AS w0
         |FROM cls CROSS JOIN tot ORDER BY bucket""".stripMargin,

    "q_nbc_score" ->
      s"""$nbcCtes
         |SELECT doc_id, n_tokens, nb_score, nb_score > 0 AS nb_pred
         |FROM sc ORDER BY doc_id""".stripMargin,

    "q_kmv_sketch" ->
      s"""$kmvCtes
         |SELECT source, hv FROM sk ORDER BY source, hv""".stripMargin,

    "q_kmv_distinct" ->
      s"""$kmvCtes,
         |s AS (SELECT source, count(*)::BIGINT AS n_sketch, max(hv) AS hk FROM sk GROUP BY 1),
         |ex AS (SELECT source, count(*)::BIGINT AS exact_distinct FROM dv GROUP BY 1)
         |SELECT source, n_sketch,
         |       floor((CASE WHEN n_sketch < 32 THEN n_sketch::DOUBLE
         |              ELSE 31.0 / ((hk::DOUBLE + 0.5) / 281474976710656.0) END) * 10000.0 + 0.5) / 10000.0 AS est_distinct,
         |       exact_distinct
         |FROM s JOIN ex USING (source) ORDER BY source""".stripMargin,

    "q_kmv_merge" ->
      s"""$kmvCtes,
         |mg AS (SELECT hv FROM (SELECT DISTINCT hv FROM sk) ORDER BY hv LIMIT 32),
         |dg AS (SELECT hv FROM (SELECT DISTINCT hv FROM dv) ORDER BY hv LIMIT 32),
         |em AS (SELECT count(*)::BIGINT AS n, max(hv) AS hk FROM mg),
         |ed AS (SELECT count(*)::BIGINT AS n, max(hv) AS hk FROM dg),
         |ex AS (SELECT count(DISTINCT hv)::BIGINT AS exact_distinct FROM dv)
         |SELECT floor((CASE WHEN em.n < 32 THEN em.n::DOUBLE
         |              ELSE 31.0 / ((em.hk::DOUBLE + 0.5) / 281474976710656.0) END) * 10000.0 + 0.5) / 10000.0 AS est_merged,
         |       floor((CASE WHEN ed.n < 32 THEN ed.n::DOUBLE
         |              ELSE 31.0 / ((ed.hk::DOUBLE + 0.5) / 281474976710656.0) END) * 10000.0 + 0.5) / 10000.0 AS est_direct,
         |       exact_distinct
         |FROM em, ed, ex""".stripMargin,

    "q_bloom_filter" -> {
      val bitRows = affineHashRows(4, 8192, "bit", "sh")
      val probeRows = affineHashRows(4, 8192, "bit", "ph", cols = _ => "url, ")
      s"""WITH u AS (
         |  SELECT doc_id,
         |         'https://site' || (doc_id % 20)::VARCHAR || '.com/page/' || doc_id::VARCHAR AS url
         |  FROM documents),
         |sh AS (
         |  SELECT ('0x' || substr(md5(url), 1, 12))::UBIGINT::BIGINT % 2147483647 AS h
         |  FROM u WHERE doc_id % 3 <> 0),
         |bits AS (SELECT DISTINCT bit FROM (
         |  $bitRows)),
         |ph AS (
         |  SELECT url, ('0x' || substr(md5(url), 1, 12))::UBIGINT::BIGINT % 2147483647 AS h
         |  FROM u),
         |pb AS (
         |  $probeRows),
         |hits AS (
         |  SELECT url, sum(CASE WHEN bits.bit IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS nh
         |  FROM pb LEFT JOIN bits ON bits.bit = pb.bit GROUP BY 1)
         |SELECT u.url AS url, (nh = 4) AS maybe_seen,
         |       (doc_id % 3 <> 0) AS truly_seen
         |FROM hits JOIN u ON u.url = hits.url
         |ORDER BY url""".stripMargin
    },

    "q_bloom_merge" -> {
      val bitRows = affineHashRows(4, 8192, "bit", "sh")
      s"""WITH u AS (
         |  SELECT doc_id,
         |         'https://site' || (doc_id % 20)::VARCHAR || '.com/page/' || doc_id::VARCHAR AS url
         |  FROM documents),
         |sh AS (
         |  SELECT ('0x' || substr(md5(url), 1, 12))::UBIGINT::BIGINT % 2147483647 AS h
         |  FROM u),
         |bits AS (SELECT DISTINCT bit FROM (
         |  $bitRows))
         |SELECT bit FROM bits ORDER BY bit""".stripMargin
    },

    "q_cms_sketch" ->
      s"""WITH ${cmsCtes(depth = 4, width = 64)}
         |SELECT source, depth, bucket, cnt FROM sk
         |ORDER BY source, depth, bucket""".stripMargin,

    "q_cms_merge" ->
      s"""WITH ${cmsCtes(depth = 4, width = 64)}
         |SELECT depth, bucket, count(*)::BIGINT AS cnt FROM rb
         |GROUP BY 1, 2 ORDER BY depth, bucket""".stripMargin,

    "q_cms_estimate" ->
      s"""WITH ${cmsCtes(depth = 4, width = 64)},
         |g AS (SELECT depth, bucket, count(*)::BIGINT AS cnt FROM rb GROUP BY 1, 2),
         |truth AS (SELECT tok, count(*)::BIGINT AS true_cnt FROM tok GROUP BY 1),
         |probes AS (SELECT tok, true_cnt FROM truth ORDER BY true_cnt DESC, tok LIMIT 20),
         |${cmsProbeCtes(depth = 4, width = 64)}
         |SELECT pb.tok AS tok, pb.true_cnt AS true_cnt,
         |       min(coalesce(g.cnt, 0))::BIGINT AS est_cnt
         |FROM pb LEFT JOIN g ON g.depth = pb.depth AND g.bucket = pb.bucket
         |GROUP BY 1, 2
         |ORDER BY true_cnt DESC, tok""".stripMargin,

    "q_hll_registers" ->
      s"""WITH ${hllCtes(p = 5)}
         |SELECT source, bucket, register FROM reg
         |ORDER BY source, bucket""".stripMargin,

    "q_hll_estimate" ->
      s"""WITH ${hllCtes(p = 5)},
         |${hllEstimateCtes("reg", Some("source"), p = 5)},
         |ex AS (SELECT source, count(DISTINCT tok)::BIGINT AS exact_distinct FROM tok GROUP BY 1)
         |SELECT fin.source AS source, n_buckets_used, est_distinct, exact_distinct
         |FROM fin JOIN ex ON ex.source = fin.source
         |ORDER BY source""".stripMargin,

    "q_hll_merge" ->
      s"""WITH ${hllCtes(p = 5)},
         |regg AS (SELECT bucket, max(rho) AS register FROM rr GROUP BY 1),
         |${hllEstimateCtes("regg", None, p = 5)},
         |ex AS (SELECT count(DISTINCT tok)::BIGINT AS exact_distinct FROM tok)
         |SELECT n_buckets_used, est_distinct, exact_distinct
         |FROM fin, ex""".stripMargin,

    "q_zorder" -> {
      val terms = (0 until 8).map(i =>
        s"(((a >> $i) & 1) << ${2 * i}) + (((b >> $i) & 1) << ${2 * i + 1})")
        .mkString(" + ")
      s"""WITH v AS (
         |  SELECT doc_id, doc_id % 97 AS a, (doc_id * 31) % 89 AS b
         |  FROM documents)
         |SELECT doc_id, a, b, ($terms)::BIGINT AS z
         |FROM v ORDER BY doc_id""".stripMargin
    },

    "q_crawl_pipeline" ->
      s"""WITH o AS (
        |  SELECT doc_id AS url_id, md5(text) AS h_old
        |  FROM documents WHERE doc_id % 5 <> 0),
        |n AS (
        |  SELECT doc_id AS url_id, source,
        |         CASE WHEN doc_id % 7 = 0 THEN text || ' [recrawled]' ELSE text END AS text
        |  FROM documents WHERE doc_id % 3 <> 0),
        |moved AS (
        |  SELECT n.url_id, n.source, n.text
        |  FROM n LEFT JOIN o USING (url_id)
        |  WHERE o.url_id IS NULL OR md5(n.text) <> o.h_old),
        |pages AS (
        |  SELECT url_id, source, text,
        |         'www.' || source || '.example.com' AS host,
        |         CASE WHEN url_id % 4 = 0 THEN '/private/doc' || url_id::VARCHAR
        |              WHEN url_id % 4 = 1 THEN '/private/ok/doc' || url_id::VARCHAR
        |              WHEN url_id % 4 = 2 THEN '/public/doc' || url_id::VARCHAR
        |              ELSE '/' END AS path
        |  FROM moved),
        |rules AS (
        |  SELECT 'www.' || s.source || '.example.com' AS host, r.rule, r.path_prefix
        |  FROM (SELECT DISTINCT source FROM documents WHERE source <> 'src0') s,
        |       (VALUES ('disallow', '/private'), ('allow', '/private/ok'),
        |               ('allow', '/public'), ('disallow', '/public')) AS r(rule, path_prefix)),
        |m AS (
        |  SELECT p.url_id, length(r.path_prefix) AS plen, (r.rule = 'allow') AS is_allow
        |  FROM pages p JOIN rules r ON p.host = r.host AND starts_with(p.path, r.path_prefix)),
        |best AS (
        |  SELECT url_id, is_allow,
        |         row_number() OVER (PARTITION BY url_id ORDER BY plen DESC, is_allow DESC) AS rn
        |  FROM m),
        |gated AS (
        |  SELECT p.* FROM pages p
        |  LEFT JOIN (SELECT url_id, is_allow FROM best WHERE rn = 1) b USING (url_id)
        |  WHERE coalesce(b.is_allow, true)),
        |tk AS (
        |  SELECT source, url_id,
        |         ${toksSql("text")} AS toks
        |  FROM gated),
        |stats AS (
        |  SELECT source, count(*)::BIGINT AS n_docs, sum(len(toks))::BIGINT AS total_tokens
        |  FROM tk GROUP BY 1),
        |dv AS (
        |  SELECT DISTINCT source, ('0x' || substr(md5(tok), 1, 12))::UBIGINT::BIGINT AS hv
        |  FROM (SELECT source, unnest(toks) AS tok FROM tk)),
        |sk AS (
        |  SELECT source, hv FROM (
        |    SELECT source, hv, row_number() OVER (PARTITION BY source ORDER BY hv) AS rk FROM dv)
        |  WHERE rk <= 32),
        |est AS (SELECT source, count(*)::BIGINT AS n_sketch, max(hv) AS hk FROM sk GROUP BY 1)
        |SELECT s.source, n_docs, total_tokens, n_sketch,
        |       floor((CASE WHEN n_sketch < 32 THEN n_sketch::DOUBLE
        |              ELSE 31.0 / ((hk::DOUBLE + 0.5) / 281474976710656.0) END) * 10000.0 + 0.5) / 10000.0 AS est_distinct
        |FROM stats s JOIN est USING (source) ORDER BY source""".stripMargin,

    "q_novel_ngrams" ->
      s"""WITH $tokfCte,
        |ng AS (
        |  SELECT DISTINCT doc_id, toks[p] || ' ' || toks[p + 1] || ' ' || toks[p + 2] AS g
        |  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 2)) AS p
        |        FROM tokf WHERE len(toks) >= 3)),
        |newg AS (SELECT doc_id, md5(g) AS h FROM ng WHERE doc_id % 5 = 0),
        |seng AS (SELECT DISTINCT md5(g) AS h FROM ng WHERE doc_id % 5 <> 0)
        |SELECT n.doc_id, count(*)::BIGINT AS n_grams,
        |       sum(CASE WHEN s.h IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_novel,
        |       floor((sum(CASE WHEN s.h IS NULL THEN 1 ELSE 0 END)::DOUBLE / count(*)) * 10000.0 + 0.5) / 10000.0 AS novel_frac
        |FROM newg n LEFT JOIN seng s ON n.h = s.h
        |GROUP BY n.doc_id ORDER BY n.doc_id""".stripMargin,

    "q_pmi_collocations" ->
      s"""WITH $tokfCte,
        |pos AS (
        |  SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS p
        |  FROM tokf WHERE len(toks) >= 2),
        |pr AS (
        |  SELECT toks[p] AS x, toks[p + d] AS y
        |  FROM pos, UNNEST(generate_series(1, least(2, len(toks) - p))) AS t(d)),
        |pa AS (SELECT x, y, count(*)::BIGINT AS c_xy FROM pr GROUP BY 1, 2),
        |pt AS (SELECT sum(c_xy)::BIGINT AS p_total FROM pa),
        |uc AS (
        |  SELECT tok, count(*)::BIGINT AS c
        |  FROM (SELECT unnest(toks) AS tok FROM tokf) GROUP BY 1),
        |nt AS (SELECT sum(c)::BIGINT AS n_tokens FROM uc)
        |SELECT x, y, c_xy,
        |       floor(ln((c_xy::DOUBLE / p_total) / ((cx.c::DOUBLE / n_tokens) * (cy.c::DOUBLE / n_tokens))) * 10000.0 + 0.5) / 10000.0 AS pmi
        |FROM pa JOIN uc cx ON cx.tok = pa.x JOIN uc cy ON cy.tok = pa.y
        |CROSS JOIN pt CROSS JOIN nt
        |WHERE c_xy >= 5
        |ORDER BY pmi DESC, x, y LIMIT 50""".stripMargin,

    "q_kmv_pair_jaccard" ->
      s"""$kmvCtes,
         |gs AS (SELECT DISTINCT source FROM sk),
         |prs AS (
         |  SELECT a.source AS source_a, b.source AS source_b
         |  FROM gs a JOIN gs b ON a.source < b.source),
         |u AS (
         |  SELECT source_a, source_b, hv,
         |         max(in_a) AS in_a, max(in_b) AS in_b
         |  FROM (
         |    SELECT p.source_a, p.source_b, s.hv, 1 AS in_a, 0 AS in_b
         |    FROM prs p JOIN sk s ON s.source = p.source_a
         |    UNION ALL
         |    SELECT p.source_a, p.source_b, s.hv, 0, 1
         |    FROM prs p JOIN sk s ON s.source = p.source_b)
         |  GROUP BY 1, 2, 3),
         |tp AS (
         |  SELECT * FROM (
         |    SELECT u.*, row_number() OVER (PARTITION BY source_a, source_b ORDER BY hv) AS rk
         |    FROM u)
         |  WHERE rk <= 32),
         |agg AS (
         |  SELECT source_a, source_b, count(*)::BIGINT AS n_union_sketch,
         |         sum(in_a * in_b)::BIGINT AS n_both
         |  FROM tp GROUP BY 1, 2)
         |SELECT source_a, source_b, n_union_sketch, n_both,
         |       floor((n_both::DOUBLE / least(32, n_union_sketch)) * 10000.0 + 0.5) / 10000.0 AS est_jaccard
         |FROM agg ORDER BY source_a, source_b""".stripMargin,

    "q_nbc_eval" ->
      s"""$nbcCtes,
         |truth AS (SELECT doc_id, lang = 'en' AS y FROM documents)
         |SELECT sum(CASE WHEN nb_score > 0 AND y THEN 1 ELSE 0 END)::BIGINT AS tp,
         |       sum(CASE WHEN nb_score > 0 AND NOT y THEN 1 ELSE 0 END)::BIGINT AS fp,
         |       sum(CASE WHEN nb_score <= 0 AND y THEN 1 ELSE 0 END)::BIGINT AS fn,
         |       sum(CASE WHEN nb_score <= 0 AND NOT y THEN 1 ELSE 0 END)::BIGINT AS tn,
         |       floor(avg(CASE WHEN (nb_score > 0) = y THEN 1.0 ELSE 0.0 END) * 10000.0 + 0.5) / 10000.0 AS accuracy
         |FROM sc JOIN truth USING (doc_id)""".stripMargin,

    // ranks via row_number over the whole vocab: tie order within a
    // frequency class cannot change the regression sums (y constant in
    // the class), so a plain (c desc, tok) ordering is parity-exact with
    // the Spark side's offset+within-class scheme
    "q_zipf_slope" ->
      s"""WITH t AS (
        |  SELECT unnest(${toksSql("text")}) AS tok
        |  FROM documents),
        |v AS (SELECT tok, count(*)::BIGINT AS c FROM t GROUP BY 1),
        |r AS (SELECT c, row_number() OVER (ORDER BY c DESC, tok) AS rank FROM v),
        |s AS (SELECT ln(rank::DOUBLE) AS x, ln(c::DOUBLE) AS y FROM r)
        |SELECT (SELECT count(*) FROM v)::BIGINT AS vocab_size,
        |       (SELECT sum(c) FROM v)::BIGINT AS total_tokens,
        |       floor(((count(*)::DOUBLE * sum(x*y) - sum(x)*sum(y)) /
        |              (count(*)::DOUBLE * sum(x*x) - sum(x)*sum(x))) * 10000.0 + 0.5) / 10000.0 AS zipf_slope
        |FROM s""".stripMargin,

    // length() (chars) not strlen() (bytes) for the Spark parity;
    // list_distinct is size-only here so its ordering doesn't matter
    "q_line_signals" ->
      """WITH p AS (
        |  SELECT doc_id, regexp_replace(text, '(\w+ \w+) ', '\1' || chr(10), 'g') AS m
        |  FROM documents),
        |l AS (SELECT doc_id, list_filter(string_split(m, chr(10)), x -> x <> '') AS ls FROM p)
        |SELECT doc_id, len(ls)::BIGINT AS n_lines,
        |       CASE WHEN len(ls) = 0 THEN 0.0 ELSE floor((len(ls) - len(list_distinct(ls)))::DOUBLE / len(ls) * 10000.0 + 0.5) / 10000.0 END AS dup_line_frac,
        |       CASE WHEN len(ls) = 0 THEN 0.0 ELSE floor(list_aggregate(list_transform(ls, x -> length(x)), 'sum')::DOUBLE / len(ls) * 10000.0 + 0.5) / 10000.0 END AS mean_line_len,
        |       CASE WHEN len(ls) = 0 THEN 0.0 ELSE floor(len(list_filter(ls, x -> length(x) < 30))::DOUBLE / len(ls) * 10000.0 + 0.5) / 10000.0 END AS short_line_frac
        |FROM l ORDER BY doc_id""".stripMargin,

    // the same 4-pass regexp chain as the Spark side; trim() on both
    // engines strips spaces only, so structural newlines survive
    "q_normalize_text" ->
      """WITH p AS (
        |  SELECT doc_id, text || CASE WHEN doc_id % 7 = 0
        |    THEN '  messy' || chr(7) || chr(9) || chr(9) || 'tail' || chr(13) || chr(10) || chr(10) || chr(10) || chr(10) || 'end '
        |    ELSE '' END AS raw
        |  FROM documents)
        |SELECT doc_id,
        |       trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(raw,
        |         '\r\n?', chr(10), 'g'),
        |         '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
        |         '[ \t]+', ' ', 'g'),
        |         '\n{3,}', chr(10) || chr(10), 'g')) AS clean
        |FROM p ORDER BY doc_id""".stripMargin,

    // first-occurrence positional filter — the same lambda as the Spark
    // side (DuckDB's lambda index and list_position are both 1-based)
    "q_dedup_lines" ->
      """WITH p AS (
        |  SELECT doc_id, regexp_replace(text, '(\w+ \w+) ', '\1' || chr(10), 'g') AS m
        |  FROM documents),
        |l AS (SELECT doc_id, list_filter(string_split(m, chr(10)), x -> x <> '') AS ls FROM p)
        |SELECT doc_id,
        |       array_to_string(list_filter(ls, (x, i) -> list_position(ls, x) = i), chr(10)) AS clean_text
        |FROM l ORDER BY doc_id""".stripMargin,

    "q_hash_features" ->
      s"""WITH $tokfCte,
        |h AS (SELECT doc_id, md5(unnest(toks)) AS hx FROM tokf)
        |SELECT doc_id,
        |       (${md5ModSql("hx", 64)})::BIGINT AS bucket,
        |       sum(CASE WHEN substr(hx, 16, 1) >= '8' THEN -1 ELSE 1 END)::BIGINT AS weight
        |FROM h GROUP BY 1, 2 ORDER BY doc_id, bucket""".stripMargin,

    "q_domain_stats" ->
      s"""WITH a AS (
        |  SELECT source, count(*) AS n_docs,
        |         sum(len(${toksSql("text")}))::BIGINT AS total_tokens,
        |         sum(length(text))::BIGINT AS total_chars
        |  FROM documents GROUP BY source)
        |SELECT source, n_docs, total_tokens, total_chars,
        |       ntile(3) OVER (ORDER BY total_tokens DESC, source)::BIGINT AS size_bucket
        |FROM a ORDER BY source""".stripMargin,

    "q_weighted_sample" ->
      s"""WITH $qualityCtes
         |SELECT doc_id, quality FROM qual
         |WHERE ${md5ModSql("md5('w|' || doc_id::VARCHAR)", 10000)}
         |      < floor(quality * 10000)::BIGINT
         |ORDER BY doc_id""".stripMargin,

    "q_source_overlap" ->
      s"""$shinglesCte,
         |ssrc AS (SELECT DISTINCT source, g FROM sh),
         |cnt AS (SELECT g, count(*) AS c FROM ssrc GROUP BY g),
         |ok AS (SELECT s.source, s.g FROM ssrc s JOIN cnt USING (g) WHERE c BETWEEN 2 AND 64)
         |SELECT a.source AS src1, b.source AS src2, count(*) AS shared_shingles
         |FROM ok a JOIN ok b ON a.g = b.g AND a.source < b.source
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_multimodal_wav" -> {
      val body =
        s"""'52494646' || ${leHexSql("data_size + 36", 4)} || '57415645666D7420' ||
           |${leHexSql("16", 4)} || ${leHexSql("1", 2)} || ${leHexSql("ch", 2)} ||
           |${leHexSql("rate", 4)} || ${leHexSql("byte_rate", 4)} || ${leHexSql("block_align", 2)} ||
           |${leHexSql("16", 2)} || '64617461' || ${leHexSql("data_size", 4)}"""
          .stripMargin.replace("\n", " ")
      s"""WITH f AS (
         |  SELECT doc_id, (doc_id % 2 + 1) AS ch,
         |         (CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000 WHEN 2 THEN 22050 ELSE 44100 END) AS rate,
         |         ((doc_id % 1000 + 1) * 1024) AS data_size
         |  FROM documents),
         |g AS (
         |  SELECT doc_id, ch, rate, data_size, rate * ch * 2 AS byte_rate, ch * 2 AS block_align
         |  FROM f),
         |p AS (
         |  SELECT doc_id,
         |         CASE WHEN doc_id % 5 = 0 THEN '494433040000' ELSE $body END AS hx
         |  FROM g),
         |b AS (SELECT doc_id, unhex(hx) AS wav FROM p),
         |hh AS (SELECT doc_id, hex(wav) AS h, octet_length(wav) AS blen FROM b),
         |v AS (
         |  SELECT doc_id, h,
         |         (blen >= 44 AND substr(h, 1, 8) = '52494646'
         |          AND substr(h, 17, 16) = '57415645666D7420'
         |          AND substr(h, 73, 8) = '64617461') AS is_wav
         |  FROM hh)
         |SELECT doc_id, is_wav,
         |       CASE WHEN is_wav THEN ${leParseSql(23, 2)} END AS channels,
         |       CASE WHEN is_wav THEN ${leParseSql(25, 4)} END AS sample_rate,
         |       CASE WHEN is_wav THEN ${leParseSql(35, 2)} END AS bits_per_sample,
         |       CASE WHEN is_wav THEN ${leParseSql(41, 4)} END AS data_size,
         |       CASE WHEN is_wav AND ${leParseSql(29, 4)} > 0
         |            THEN floor(${leParseSql(41, 4)} * 1000.0 / ${leParseSql(29, 4)})::BIGINT END AS duration_ms
         |FROM v ORDER BY doc_id""".stripMargin
    },

    // embedding::DOUBLE[] before the DECIMAL sum: DuckDB's direct
    // FLOAT->DECIMAL cast decimalizes the float32 bits (garbage past ~7
    // digits) while Spark rounds the widened double — the double hop is
    // the shared exact domain (same recipe as the k-means oracle)
    "q_source_centroid" ->
      """WITH j AS (
        |  SELECT d.source, e.embedding::DOUBLE[] AS embedding
        |  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id),
        |x AS (
        |  SELECT source, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS p
        |  FROM j)
        |SELECT source, (p - 1)::BIGINT AS dim,
        |       sum(v::DECIMAL(28,12))::DOUBLE / count(*) AS c
        |FROM x GROUP BY 1, 2 ORDER BY source, dim""".stripMargin,

    "q_seq_packing" ->
      s"""WITH n AS (
        |  SELECT doc_id, source,
        |         len(${toksSql("text")})::BIGINT AS n_tokens
        |  FROM documents),
        |${prefixCte("c", "source", "n")}
        |SELECT source, doc_id, n_tokens,
        |       floor(prefix / 256)::BIGINT AS bin_idx,
        |       (prefix % 256)::BIGINT AS bin_offset
        |FROM c ORDER BY doc_id""".stripMargin,

    "q_pack_bins" ->
      s"""WITH tk AS (
        |  SELECT source, doc_id,
        |         ${toksSql("text")} AS toks
        |  FROM documents),
        |d AS (SELECT source, doc_id, toks, len(toks)::BIGINT AS n FROM tk WHERE len(toks) > 0),
        |p AS (
        |  SELECT source, doc_id, toks, n,
        |         (sum(n) OVER (PARTITION BY source ORDER BY doc_id) - n)::BIGINT AS prefix
        |  FROM d),
        |segs AS (
        |  SELECT source, b AS bin_idx,
        |         greatest(b * 256, prefix) AS seg_start,
        |         toks[(greatest(b * 256, prefix) - prefix + 1) : (least((b + 1) * 256, prefix + n) - prefix)] AS seg
        |  FROM p, UNNEST(generate_series(prefix // 256, (prefix + n - 1) // 256)) AS t(b))
        |SELECT source, bin_idx, count(*)::BIGINT AS n_segments,
        |       sum(len(seg))::BIGINT AS n_tokens,
        |       string_agg(array_to_string(seg, ' '), ' ' ORDER BY seg_start) AS bin_text
        |FROM segs GROUP BY 1, 2
        |ORDER BY source, bin_idx""".stripMargin,

    "q_length_histogram" ->
      s"""WITH n AS (
        |  SELECT len(${toksSql("text")})::BIGINT AS ntok
        |  FROM documents)
        |SELECT length(bin(ntok))::BIGINT AS log2_bucket, count(*) AS n_docs,
        |       min(ntok) AS min_tokens, max(ntok) AS max_tokens, sum(ntok)::BIGINT AS total_tokens
        |FROM n GROUP BY 1 ORDER BY log2_bucket""".stripMargin,

    "q_url_normalize" ->
      """WITH u AS (
        |  SELECT doc_id,
        |         'HTTPS://WWW.' || source || '.Example.COM'
        |         || (CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END)
        |         || '/Path/' || doc_id::VARCHAR
        |         || (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END)
        |         || (CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed&id=7&utm_medium=x' ELSE '?fbclid=abc123' END)
        |         || (CASE WHEN doc_id % 5 = 0 THEN '#section-2' ELSE '' END) AS url
        |  FROM documents),
        |s1 AS (SELECT doc_id, url, regexp_replace(url, '#.*$', '') AS c FROM u),
        |s2 AS (SELECT doc_id, url,
        |         lower(regexp_extract(c, '^([^/]*//[^/?#]*)', 1)) || regexp_replace(c, '^[^/]*//[^/?#]*', '') AS c
        |       FROM s1),
        |s3 AS (SELECT doc_id, url, regexp_replace(c, '^(https?://[^/?#:]*):(?:80|443)([/?#]|$)', '\1\2') AS c FROM s2),
        |s4 AS (
        |  SELECT doc_id, url,
        |         CASE WHEN strpos(c, '?') = 0 THEN c ELSE substr(c, 1, strpos(c, '?') - 1) END AS p,
        |         CASE WHEN strpos(c, '?') = 0 THEN '' ELSE substr(c, strpos(c, '?') + 1) END AS q
        |  FROM s3),
        |s5 AS (
        |  SELECT doc_id, url,
        |         regexp_replace(p, '([^/:])/$', '\1') AS pc,
        |         regexp_replace(regexp_replace(q, '(?:^|&)(?:utm_[^&=]*|fbclid|gclid)=[^&]*', '', 'g'), '^&+', '') AS qc
        |  FROM s4)
        |SELECT doc_id, url,
        |       CASE WHEN qc = '' THEN pc ELSE pc || '?' || qc END AS canonical
        |FROM s5 ORDER BY doc_id""".stripMargin,

    "q_shard_manifest" ->
      s"""WITH n AS (
        |  SELECT doc_id,
        |         CASE WHEN ${md5ModSql("md5('split|' || doc_id::VARCHAR)", 100)} < 98 THEN 'train'
        |              WHEN ${md5ModSql("md5('split|' || doc_id::VARCHAR)", 100)} < 99 THEN 'val'
        |              ELSE 'test' END AS split,
        |         len(${toksSql("text")})::BIGINT AS n_tokens
        |  FROM documents),
        |${prefixCte("c", "split", "n")}
        |SELECT split, doc_id, n_tokens,
        |       floor(prefix / 512)::BIGINT AS bin_idx,
        |       (prefix % 512)::BIGINT AS bin_offset
        |FROM c ORDER BY split, doc_id""".stripMargin,

    "q_split_assign" ->
      s"""SELECT doc_id,
        |       CASE WHEN ${md5ModSql("md5('split|' || doc_id::VARCHAR)", 100)} < 98 THEN 'train'
        |            WHEN ${md5ModSql("md5('split|' || doc_id::VARCHAR)", 100)} < 99 THEN 'val'
        |            ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_token_budget" ->
      s"""WITH n AS (
        |  SELECT doc_id, source,
        |         len(${toksSql("text")})::BIGINT AS n_tokens
        |  FROM documents),
        |${prefixCte("c", "source", "n")}
        |SELECT source, doc_id, n_tokens FROM c
        |WHERE prefix < 800 ORDER BY doc_id""".stripMargin,

    // a token-less source has weight 0 and is dropped before the ranking
    "q_unimax" ->
      s"""WITH tk AS (
        |  SELECT source,
        |         len(${toksSql("text")})::BIGINT AS nt
        |  FROM documents),
        |sz AS (
        |  SELECT source, sum(nt)::BIGINT AS n_tokens,
        |         (sum(nt) * 2)::BIGINT AS cap
        |  FROM tk GROUP BY 1 HAVING sum(nt) > 0),
        |rk AS (
        |  SELECT source, n_tokens, cap,
        |         row_number() OVER (ORDER BY n_tokens, source)::BIGINT AS rn,
        |         sum(cap) OVER (ORDER BY n_tokens, source
        |                        ROWS UNBOUNDED PRECEDING)::BIGINT AS pref,
        |         count(*) OVER ()::BIGINT AS n
        |  FROM sz),
        |fl AS (
        |  SELECT *, (cap * (n - rn + 1) <= 20000 - (pref - cap)) AS capped
        |  FROM rk),
        |sc AS (
        |  SELECT sum(CASE WHEN capped THEN 1 ELSE 0 END)::BIGINT AS k,
        |         sum(CASE WHEN capped THEN cap ELSE 0 END)::BIGINT AS pref_k,
        |         count(*)::BIGINT AS n2
        |  FROM fl),
        |sc2 AS (
        |  SELECT k, CASE WHEN n2 > k THEN (20000 - pref_k)::DOUBLE / (n2 - k)::DOUBLE
        |                 ELSE 0.0::DOUBLE END AS share
        |  FROM sc)
        |SELECT source, n_tokens,
        |       floor((CASE WHEN rn <= k THEN cap::DOUBLE ELSE share END) * 10000.0 + 0.5) / 10000.0 AS budget_tokens,
        |       floor((CASE WHEN rn <= k THEN cap::DOUBLE ELSE share END) / n_tokens::DOUBLE * 10000.0 + 0.5) / 10000.0 AS epochs
        |FROM fl, sc2 ORDER BY source""".stripMargin,

    "q_topk_per_domain" ->
      s"""WITH $qualityCtes,
         |r AS (
         |  SELECT d.doc_id, d.source, qual.quality,
         |         row_number() OVER (PARTITION BY d.source ORDER BY qual.quality DESC, d.doc_id ASC) AS rk
         |  FROM documents d JOIN qual ON qual.doc_id = d.doc_id)
         |SELECT doc_id, source, quality FROM r WHERE rk <= 3
         |ORDER BY source, doc_id""".stripMargin,

    // the same stage chain as the Spark plan, each gate over the previous
    // stage's survivors
    "q_curation_v2" ->
      s"""WITH $qualityCtes,
         |gtk AS (
         |  SELECT doc_id, ${toksSql("text")} AS toks
         |  FROM documents),
         |gm AS (
         |  SELECT doc_id, len(toks) AS ntok,
         |         CASE WHEN len(toks) = 0 THEN 0.0
         |              ELSE floor(list_sum(list_transform(toks, x -> length(x)))::DOUBLE / len(toks) * 10000.0 + 0.5) / 10000.0 END AS mean_word_len,
         |         CASE WHEN len(toks) = 0 THEN 0.0
         |              ELSE floor(len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))::DOUBLE / len(toks) * 10000.0 + 0.5) / 10000.0 END AS alpha_word_frac
         |  FROM gtk),
         |gsym AS (
         |  SELECT d.doc_id,
         |         (length(d.text) - length(replace(d.text, '#', '')))
         |           + (length(d.text) - length(replace(d.text, '...', ''))) / 3 AS nsym
         |  FROM documents d),
         |gated AS (
         |  SELECT d.doc_id, d.text, d.source FROM documents d
         |  JOIN gm ON gm.doc_id = d.doc_id
         |  JOIN gsym ON gsym.doc_id = d.doc_id
         |  JOIN qual ON qual.doc_id = d.doc_id
         |  WHERE gm.mean_word_len >= 3.0 AND gm.mean_word_len <= 10.0
         |    AND (CASE WHEN gm.ntok = 0 THEN 0.0 ELSE floor(gsym.nsym::DOUBLE / gm.ntok * 10000.0 + 0.5) / 10000.0 END) < 0.1
         |    AND gm.alpha_word_frac > 0.8
         |    AND qual.quality >= 0.45),
         |ptok AS (
         |  SELECT doc_id, ${wsToksSql("text")} AS toks
         |  FROM gated),
         |pst AS (
         |  SELECT doc_id, toks, unnest(generate_series(1, greatest(len(toks), 1), 8)) AS s
         |  FROM ptok WHERE len(toks) > 0),
         |pch AS (
         |  SELECT doc_id, row_number() OVER (PARTITION BY doc_id ORDER BY s) AS chunk_idx,
         |         md5(array_to_string(list_slice(toks, s, least(s + 7, len(toks))), ' ')) AS h
         |  FROM pst),
         |prk AS (
         |  SELECT doc_id, row_number() OVER (PARTITION BY h ORDER BY doc_id, chunk_idx) AS rk
         |  FROM pch),
         |pfrac AS (
         |  SELECT doc_id,
         |         floor(count(*) FILTER (rk = 1)::DOUBLE / count(*) * 10000.0 + 0.5) / 10000.0 AS kept_frac
         |  FROM prk GROUP BY doc_id),
         |clean AS (
         |  SELECT g.doc_id, g.text, g.source FROM gated g
         |  JOIN pfrac p ON p.doc_id = g.doc_id WHERE p.kept_frac >= 0.5),
         |ctok AS (
         |  SELECT doc_id, source,
         |         len(${toksSql("text")})::BIGINT AS n_tokens
         |  FROM clean),
         |${prefixCte("budg", "source", "ctok")}
         |SELECT CASE WHEN ${md5ModSql("md5('split|' || doc_id::VARCHAR)", 100)} < 98 THEN 'train'
         |            WHEN ${md5ModSql("md5('split|' || doc_id::VARCHAR)", 100)} < 99 THEN 'val'
         |            ELSE 'test' END AS split,
         |       count(*) AS n_docs, sum(n_tokens)::BIGINT AS total_tokens
         |FROM budg WHERE prefix < 800
         |GROUP BY 1 ORDER BY split""".stripMargin,

    "q_anomaly_count_range" ->
      s"""WITH m AS (SELECT event_id, ts, $synthMsgSql AS msg, $levelSql AS level FROM events),
         |sc AS (
         |  SELECT ts,
         |         round(least(1.0,
         |             0.30 * (CASE WHEN lower(msg) LIKE '%exception%' OR lower(msg) LIKE '%error%' THEN 1.0 ELSE 0.0 END)
         |           + 0.25 * (CASE WHEN lower(msg) LIKE '%connection%' AND (lower(msg) LIKE '%refused%' OR lower(msg) LIKE '%failed%' OR lower(msg) LIKE '%reset%') THEN 1.0 ELSE 0.0 END)
         |           + 0.20 * (CASE WHEN lower(msg) LIKE '%timeout%' OR lower(msg) LIKE '%timed out%' THEN 1.0 ELSE 0.0 END)
         |           + 0.10 * (CASE WHEN level = 'ERROR' THEN 1.0 ELSE 0.0 END)
         |           + 0.05 * (CASE WHEN level = 'WARN' THEN 1.0 ELSE 0.0 END)
         |           + 0.10 * least(length(msg) / 10000.0, 1.0)), 4) AS anomaly_score
         |  FROM m)
         |SELECT count(*)::BIGINT AS n_anomalies FROM sc
         |WHERE anomaly_score >= 0.5
         |  AND ts BETWEEN TIMESTAMP '2024-01-05 00:00:00' AND TIMESTAMP '2024-01-20 00:00:00'""".stripMargin,

    "q_rejected_rows" ->
      s"""WITH $docPagesSql
         |SELECT doc_id,
         |       CASE WHEN url IS NULL OR NOT regexp_matches(url, '^https?://[^/]+')
         |            THEN 'invalid_url' ELSE 'null_text' END AS reject_reason
         |FROM pages
         |WHERE url IS NULL OR NOT regexp_matches(url, '^https?://[^/]+') OR text IS NULL
         |ORDER BY doc_id""".stripMargin,

    "q_search_composite" ->
      s"""WITH logs AS (
         |  SELECT event_id AS id, ts, $levelSql AS level, $serviceSql AS service, $synthMsgSql AS message
         |  FROM events)
         |SELECT id, ts, level, service FROM logs
         |WHERE regexp_matches(lower(message), '\\b(timeout|connection|exception)\\b')
         |  AND level IN ('ERROR', 'INFO')
         |  AND service IN ('svc-1', 'svc-2', 'svc-3', 'svc-5', 'svc-7', 'svc-8')
         |  AND ts >= TIMESTAMP '2024-01-03 00:00:00'
         |  AND ts <= TIMESTAMP '2024-01-25 00:00:00'
         |ORDER BY ts DESC, id DESC LIMIT 15 OFFSET 30""".stripMargin,

    "q_pagination_keyset" ->
      """SELECT event_id, ts, event_type FROM events
        |WHERE ts < TIMESTAMP '2024-01-15 00:00:00'
        |   OR (ts = TIMESTAMP '2024-01-15 00:00:00' AND event_id < 5000)
        |ORDER BY ts DESC, event_id DESC LIMIT 20""".stripMargin,

    // identical to q_dedup_incremental: probing the APPENDED index must
    // equal probing a rebuilt-from-scratch index, row for row
    "q_index_append" -> incrementalSurvivorsSql,

    "q_lineage_conservation" ->
      s"""WITH $docPagesSql,
         |ok AS (
         |  SELECT doc_id, text,
         |         (url IS NOT NULL AND regexp_matches(url, '^https?://[^/]+') AND text IS NOT NULL) AS parse_ok
         |  FROM pages),
         |msg AS (
         |  SELECT parse_ok,
         |         CASE WHEN length(text) > 10000 THEN substr(text, 1, 10000) || '... [truncated]' ELSE text END AS m
         |  FROM ok),
         |sev AS (
         |  SELECT CASE WHEN NOT parse_ok THEN 'REJECTED'
         |              WHEN lower(m) LIKE '%exception%' OR lower(m) LIKE '%error%' THEN 'ERROR'
         |              WHEN lower(m) LIKE '%timeout%' OR lower(m) LIKE '%connection%' OR lower(m) LIKE '%connect%' THEN 'WARN'
         |              ELSE 'INFO' END AS severity
         |  FROM msg),
         |dist AS (SELECT severity, count(*)::BIGINT AS doc_count FROM sev GROUP BY 1)
         |SELECT severity, doc_count FROM dist
         |UNION ALL SELECT 'TOTAL_COMMITTED', count(*)::BIGINT FROM pages
         |UNION ALL SELECT 'RESUME_SKIPPED_OK', 1::BIGINT
         |ORDER BY severity""".stripMargin
  )

  /** The rank oracles' shared preamble: the link-edge CTEs, the
    * out-weights `outd` and the domain universe `doms`. */
  private val rankPreamble: String = s"$edgeCtes,\n$outdCte,\n$domsCte"

  /** TrustRank's teleport term: uniform share over the seeds, zero
    * elsewhere (the oracle twin of `WebGraph.seedTeleport`). */
  private def seedTeleportSql(seeds: Seq[String]): String = {
    val seedList = seeds.map(s => s"'$s'").mkString(", ")
    s"(CASE WHEN domain IN ($seedList) THEN (1.0::DOUBLE / ${seeds.size}) ELSE 0.0::DOUBLE END)"
  }

  /**
   * `iters` unrolled rounds of the damped rank update over
   * [[rankPreamble]] — the oracle twin of `WebGraph.powerIteration`:
   * round i joins `$v{i-1}` to the out-weights into the inflow CTE
   * `$inf$i`, then `$v$i` = (1 − 0.85)·teleport + 0.85·inflow. `tele` is
   * the teleport factor as written after (1 − 0.85): empty for the uniform
   * 1.0, which multiplies out. With `dangling`, each round first sums the
   * previous vector over the domains without out-links (`dm$i`) and
   * spreads it uniformly — arithmetic order mirrors the Scala side
   * (inflow + dmass/n, then damped). Constants are written as the same
   * IEEE ops the Scala side runs (1.0 − 0.85 computed, not 0.15 written);
   * the per-domain inflow sum is the one engine-order float hazard,
   * absorbed by the final 4dp floor-rounding (intermediates unrounded).
   */
  private def rankRounds(inf: String, v: String, tele: String, iters: Int,
                         dangling: Boolean = false): String =
    (1 to iters).map { i =>
      val prev = s"$v${i - 1}"
      val dm = if (!dangling) "" else
        s"""dm$i AS (
           |  SELECT coalesce(sum($v), 0.0::DOUBLE) AS dmass FROM $prev
           |  WHERE domain NOT IN (SELECT src_domain FROM outd)),
           |""".stripMargin
      val update = if (!dangling)
        s"((1.0::DOUBLE - 0.85::DOUBLE)$tele + 0.85::DOUBLE * coalesce(inflow, 0.0::DOUBLE)) AS $v"
      else
        s"""((1.0::DOUBLE - 0.85::DOUBLE)$tele + 0.85::DOUBLE *
           |          (coalesce(inflow, 0.0::DOUBLE)
           |           + (SELECT dmass FROM dm$i) / (SELECT count(*) FROM doms))) AS $v""".stripMargin
      s"""$dm$inf$i AS (
         |  SELECT dst_domain AS domain, sum($v * n::DOUBLE / outw) AS inflow
         |  FROM eg JOIN outd USING (src_domain)
         |       JOIN $prev ON $prev.domain = eg.src_domain
         |  GROUP BY 1),
         |$v$i AS (
         |  SELECT doms.domain,
         |         $update
         |  FROM doms LEFT JOIN $inf$i USING (domain))""".stripMargin
    }.mkString(",\n")

  /**
   * Unrolled DuckDB SQL for one rank vector at a fixed iteration count:
   * `${v}0` = the teleport on the domain universe, [[rankRounds]], 4dp
   * floor-rounding on the FINAL round only (the implementation's
   * contract). No seeds = `WebGraph.pagerank` (pr₀ = 1.0), or with
   * `dangling` `WebGraph.pagerankConserving`; seeds =
   * `WebGraph.trustrank` (t₀ = s).
   */
  private def rankOracleSql(v: String, iters: Int, seeds: Seq[String] = Nil,
                            dangling: Boolean = false): String = {
    val tele = if (seeds.isEmpty) None else Some(seedTeleportSql(seeds))
    s"""$rankPreamble,
       |${v}0 AS (SELECT domain, ${tele.getOrElse("1.0::DOUBLE")} AS $v FROM doms),
       |${rankRounds("inf", v, tele.fold("")(t => s" * $t"), iters, dangling)}
       |SELECT domain, floor($v * 10000.0 + 0.5) / 10000.0 AS $v
       |FROM $v$iters ORDER BY domain""".stripMargin
  }

  /**
   * Spam-mass oracle: the pagerank rounds (pr, `pinf`) and the trustrank
   * rounds (tr, `tinf`) unrolled over ONE preamble, both floor-rounded to
   * their published 4dp values, then m = (pr − n·tr)/pr with n = |doms| —
   * mirroring `WebGraph.spamMass`'s composition of the two published
   * vectors.
   */
  private def spamMassOracleSql(iters: Int, seeds: Seq[String]): String = {
    val tele = seedTeleportSql(seeds)
    s"""$rankPreamble,
       |pr0 AS (SELECT domain, 1.0::DOUBLE AS pr FROM doms),
       |tr0 AS (SELECT domain, $tele AS tr FROM doms),
       |${rankRounds("pinf", "pr", "", iters)},
       |${rankRounds("tinf", "tr", s" * $tele", iters)},
       |prf AS (SELECT domain, floor(pr * 10000.0 + 0.5) / 10000.0 AS pr FROM pr$iters),
       |trf AS (SELECT domain, floor(tr * 10000.0 + 0.5) / 10000.0 AS tr FROM tr$iters)
       |SELECT prf.domain AS domain, prf.pr AS pr, trf.tr AS tr,
       |       floor((prf.pr - (SELECT count(*) FROM doms)::DOUBLE * trf.tr) / prf.pr * 10000.0 + 0.5) / 10000.0 AS spam_mass
       |FROM prf JOIN trf USING (domain) ORDER BY domain""".stripMargin
  }

  /** Frontier oracle: the pagerank rounds over the planted edges + the
    * bloom bits/probe CTEs over the seen rule (url ends /q or in an even
    * digit) + unseen-join-rank — mirroring `WebGraph.frontierRank`'s
    * composition. */
  private def frontierOracleSql(iters: Int, mBits: Int, kHashes: Int,
                                topK: Int): String = {
    val bitRows = affineHashRows(kHashes, mBits, "bit", "shh")
    val probeRows = affineHashRows(kHashes, mBits, "bit", "phh",
      cols = _ => "url, ")
    s"""$rankPreamble,
       |pr0 AS (SELECT domain, 1.0::DOUBLE AS pr FROM doms),
       |${rankRounds("pinf", "pr", "", iters)},
       |prf AS (SELECT domain, floor(pr * 10000.0 + 0.5) / 10000.0 AS pr FROM pr$iters),
       |cand AS (
       |  SELECT DISTINCT href AS url,
       |         lower(regexp_extract(href, '^(?:https?://)?([^/:?#]+)', 1)) AS domain
       |  FROM l
       |  WHERE regexp_extract(href, '^(?:https?://)?([^/:?#]+)', 1) <> ''),
       |seen AS (
       |  SELECT url FROM cand
       |  WHERE url LIKE '%/q' OR substr(url, -1) IN ('0', '2', '4', '6', '8')),
       |shh AS (
       |  SELECT ('0x' || substr(md5(url), 1, 12))::UBIGINT::BIGINT % 2147483647 AS h
       |  FROM seen),
       |bits AS (SELECT DISTINCT bit FROM (
       |  $bitRows)),
       |phh AS (
       |  SELECT url, ('0x' || substr(md5(url), 1, 12))::UBIGINT::BIGINT % 2147483647 AS h
       |  FROM cand),
       |pb AS (
       |  $probeRows),
       |hits AS (
       |  SELECT url, sum(CASE WHEN bits.bit IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS nh
       |  FROM pb LEFT JOIN bits ON bits.bit = pb.bit GROUP BY 1)
       |SELECT cand.url AS url, cand.domain AS domain, prf.pr AS priority
       |FROM cand JOIN hits ON hits.url = cand.url AND hits.nh < $kHashes
       |JOIN prf ON prf.domain = cand.domain
       |ORDER BY priority DESC, url LIMIT $topK""".stripMargin
  }

  /** Snapshot-diff oracle shared by the direct and stored-artifact
    * variants (the roundtrip must not change a single row). */
  private val snapshotDiffOracle: String =
    """WITH o AS (
      |  SELECT doc_id AS url_id, md5(text) AS h_old
      |  FROM documents WHERE doc_id % 5 <> 0),
      |n AS (
      |  SELECT doc_id AS url_id,
      |         md5(CASE WHEN doc_id % 7 = 0 THEN text || ' [recrawled]' ELSE text END) AS h_new
      |  FROM documents WHERE doc_id % 3 <> 0)
      |SELECT COALESCE(o.url_id, n.url_id) AS url_id,
      |       CASE WHEN h_old IS NULL THEN 'added'
      |            WHEN h_new IS NULL THEN 'removed'
      |            WHEN h_old = h_new THEN 'unchanged'
      |            ELSE 'changed' END AS status
      |FROM o FULL OUTER JOIN n ON o.url_id = n.url_id
      |ORDER BY url_id""".stripMargin

  /** DuckDB twin of `Sketches.affinePositions`: for each j < k one
    * `SELECT <cols(j)>((a_j·h + b_j) mod P) mod w AS <out> FROM <t>` row,
    * joined by UNION ALL — the CMS rows and the Bloom bits. */
  private def affineHashRows(k: Int, w: Int, out: String, t: String,
                             h: String = "h",
                             cols: Int => String = _ => ""): String =
    (0 until k).map { j =>
      val a = graft.operators.Dedup.MinhashA(j)
      val b = graft.operators.Dedup.MinhashB(j)
      s"SELECT ${cols(j)}(($a * $h + $b) % 2147483647) % $w AS $out FROM $t"
    }.mkString("\n  UNION ALL ")

  /** Shared CMS CTE chain (mirrors `Sketches.cmsSketch`): tokens →
    * 48-bit base hash reduced into the Minhash prime field → d affine
    * row hashes (`rb`) → per-source registers `sk`. The globally-built
    * sketch is `GROUP BY depth, bucket` over `rb` directly. */
  private def cmsCtes(depth: Int, width: Int): String = {
    val rows = affineHashRows(depth, width, "bucket", "h",
      cols = j => s"source, $j::BIGINT AS depth, ")
    s"""tok AS (
       |  SELECT source, unnest(${toksSql("text")}) AS tok
       |  FROM documents),
       |h AS (
       |  SELECT source, ('0x' || substr(md5(tok), 1, 12))::UBIGINT::BIGINT % 2147483647 AS h
       |  FROM tok),
       |rb AS (
       |  $rows),
       |sk AS (SELECT source, depth, bucket, count(*)::BIGINT AS cnt FROM rb GROUP BY 1, 2, 3)""".stripMargin
  }

  /** Probe-side CMS coordinates for a `probes(tok, true_cnt)` CTE. */
  private def cmsProbeCtes(depth: Int, width: Int): String = {
    val rows = affineHashRows(depth, width, "bucket", "ph", h = "ph",
      cols = j => s"tok, true_cnt, $j::BIGINT AS depth, ")
    s"""ph AS (
       |  SELECT tok, true_cnt,
       |         ('0x' || substr(md5(tok), 1, 12))::UBIGINT::BIGINT % 2147483647 AS ph
       |  FROM probes),
       |pb AS (
       |  $rows)""".stripMargin
  }

  /** Shared HLL CTE chain (mirrors `Sketches.hllRegisters`): tokens →
    * 60-bit hash → (bucket = low p bits, ρ from exact bin() length) →
    * per-source registers `reg`. */
  private def hllCtes(p: Int): String = {
    val m = 1 << p
    val width = 60 - p
    s"""tok AS (
       |  SELECT source, unnest(${toksSql("text")}) AS tok
       |  FROM documents),
       |hh AS (
       |  SELECT source, ('0x' || substr(md5(tok), 1, 15))::UBIGINT::BIGINT AS hv
       |  FROM tok),
       |rr AS (
       |  SELECT source, hv % $m AS bucket,
       |         (CASE WHEN (hv >> $p) = 0 THEN ${width + 1}
       |               ELSE ${width + 1} - length(bin(hv >> $p)) END)::BIGINT AS rho
       |  FROM hh),
       |reg AS (SELECT source, bucket, max(rho) AS register FROM rr GROUP BY 1, 2)""".stripMargin
  }

  /** HLL estimator CTEs over a register table (mirrors
    * `Sketches.hllEstimate` arithmetic exactly: integer register sum,
    * one constant multiply/divide, small-range ln correction). Yields
    * `fin($grpSel n_buckets_used, est_distinct)`. */
  private def hllEstimateCtes(regTable: String, grpCol: Option[String],
                              p: Int): String = {
    val m = 1 << p
    val shiftBase = 61 - p
    val alphaM2 = Sketches.hllAlpha(m) * m.toDouble * m.toDouble
    val pow = math.pow(2.0, shiftBase)
    val grpSel = grpCol.fold("")(g => s"$g, ")
    val grpBy = grpCol.fold("")(_ => "GROUP BY 1")
    s"""hest AS (
       |  SELECT ${grpSel}count(*)::BIGINT AS n_buckets_used,
       |         sum(1::BIGINT << ($shiftBase - register)::INT)::BIGINT AS s_used
       |  FROM $regTable $grpBy),
       |hfin AS (
       |  SELECT ${grpSel}n_buckets_used,
       |         ($m::BIGINT - n_buckets_used)::DOUBLE AS v,
       |         (s_used + ($m::BIGINT - n_buckets_used) * (1::BIGINT << $shiftBase))::DOUBLE AS s
       |  FROM hest),
       |fin AS (
       |  SELECT ${grpSel}n_buckets_used,
       |         floor((CASE WHEN ($alphaM2 * $pow / s) <= ${2.5 * m} AND v > 0.0
       |                     THEN $m.0 * ln($m.0 / v)
       |                     ELSE $alphaM2 * $pow / s END) * 10000.0 + 0.5) / 10000.0 AS est_distinct
       |  FROM hfin)""".stripMargin
  }

  /** Shared CTE chain for the KMV-sketch oracles: distinct (source,
    * 48-bit token hash) pairs, then the per-source bottom-32 sketch. */
  private val kmvCtes: String =
    s"""WITH tok AS (
      |  SELECT source, unnest(${toksSql("text")}) AS tok
      |  FROM documents),
      |dv AS (
      |  SELECT DISTINCT source, ('0x' || substr(md5(tok), 1, 12))::UBIGINT::BIGINT AS hv
      |  FROM tok),
      |sk AS (
      |  SELECT source, hv FROM (
      |    SELECT source, hv, row_number() OVER (PARTITION BY source ORDER BY hv) AS rk FROM dv)
      |  WHERE rk <= 32)""".stripMargin

  /** Shared CTE chain for the Naive-Bayes oracles: hashed per-doc class
    * counts → per-class bucket counts → Laplace log-ratios → doc-count
    * prior → DECIMAL-exact doc scores (mirrors Curation.nbcScore verbatim;
    * labels = lang='en', dim=64). */
  private val nbcCtes: String =
    s"""WITH tokf AS (
      |  SELECT doc_id, lang = 'en' AS y,
      |         ${toksSql("text")} AS toks
      |  FROM documents),
      |h AS (SELECT doc_id, y, md5(unnest(toks)) AS hx FROM tokf),
      |db AS (
      |  SELECT doc_id, y,
      |         (${md5ModSql("hx", 64)})::BIGINT AS bucket,
      |         count(*) AS n
      |  FROM h GROUP BY 1, 2, 3),
      |cls AS (
      |  SELECT bucket, sum(CASE WHEN y THEN n ELSE 0 END) AS cp,
      |         sum(CASE WHEN NOT y THEN n ELSE 0 END) AS cn
      |  FROM db GROUP BY 1),
      |tot AS (SELECT sum(cp) AS tp, sum(cn) AS tn FROM cls),
      |w AS (
      |  SELECT bucket, ln((cp + 1.0) / (tp + 64)) - ln((cn + 1.0) / (tn + 64)) AS w
      |  FROM cls CROSS JOIN tot),
      |pr AS (
      |  SELECT ln((sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) + 1.0) /
      |            (sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) + 1.0)) AS prior
      |  FROM documents),
      |sc AS (
      |  SELECT doc_id, sum(n)::BIGINT AS n_tokens,
      |         floor((CAST(sum(CAST(n * w AS DECIMAL(28,12))) AS DOUBLE) + (SELECT prior FROM pr)) * 10000.0 + 0.5) / 10000.0 AS nb_score
      |  FROM db JOIN w USING (bucket) GROUP BY doc_id)""".stripMargin

  /** DSIR hashed-unigram importance weights (no final ORDER BY so the
    * block can nest as a CTE body in the Gumbel-selection oracle). */
  private val dsirWeightsSql: String =
    s"""WITH tokf AS (
      |  SELECT doc_id, source = 'src0' AS is_target,
      |         ${toksSql("text")} AS toks
      |  FROM documents),
      |h AS (SELECT doc_id, is_target, md5(unnest(toks)) AS hx FROM tokf),
      |db AS (
      |  SELECT doc_id, is_target,
      |         (${md5ModSql("hx", 64)})::BIGINT AS bucket,
      |         count(*) AS n
      |  FROM h GROUP BY 1, 2, 3),
      |raw AS (SELECT bucket, sum(n) AS cr FROM db GROUP BY 1),
      |tgt AS (SELECT bucket, sum(n) AS ct FROM db WHERE is_target GROUP BY 1),
      |m AS (SELECT raw.bucket, cr, coalesce(ct, 0) AS ct FROM raw LEFT JOIN tgt USING (bucket)),
      |tot AS (SELECT sum(cr) AS rtot, sum(ct) AS ttot FROM m),
      |lr AS (
      |  SELECT bucket, ln((ct + 1.0) / (ttot + 64)) - ln((cr + 1.0) / (rtot + 64)) AS lr
      |  FROM m CROSS JOIN tot)
      |SELECT doc_id, sum(n)::BIGINT AS n_tokens,
      |       floor(CAST(sum(CAST(n * lr AS DECIMAL(28,12))) AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS dsir_weight
      |FROM db JOIN lr USING (bucket) GROUP BY doc_id""".stripMargin

  /** Shared CTE chain for the BPE oracles: tokenize, then `iters` rounds
    * of (pair-count, select, greedy-merge). `minToks` gates which docs
    * enter tok0 — sub-2-token docs contribute no pairs either way, so
    * merge SELECTION is identical for any minToks ≤ 2; the encode oracle
    * uses 1 so pass-through docs appear in the final token table. */
  private def bpeRoundsCtes(iters: Int, minToks: Int): String = {
    val rounds = (1 to iters).map { r =>
      val prev = s"tok${r - 1}"
      s"""pl$r AS (
         |  SELECT doc_id, p, t, lead(t) OVER (PARTITION BY doc_id ORDER BY p) AS nx
         |  FROM $prev),
         |sel$r AS (
         |  SELECT t AS t1, nx AS t2, count(*) AS c FROM pl$r WHERE nx IS NOT NULL
         |  GROUP BY 1, 2 ORDER BY c DESC, t1, t2 LIMIT 1),
         |cand$r AS (
         |  SELECT doc_id, p FROM pl$r
         |  WHERE t = (SELECT t1 FROM sel$r) AND nx = (SELECT t2 FROM sel$r)),
         |runs$r AS (
         |  SELECT doc_id, p,
         |         p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS grp
         |  FROM cand$r),
         |mrg$r AS (
         |  SELECT doc_id, p FROM (
         |    SELECT doc_id, p,
         |           row_number() OVER (PARTITION BY doc_id, grp ORDER BY p) AS rn
         |    FROM runs$r) WHERE rn % 2 = 1),
         |tok$r AS (
         |  SELECT doc_id, row_number() OVER (PARTITION BY doc_id ORDER BY p) AS p,
         |         CASE WHEN merged THEN (SELECT t1 FROM sel$r) || ' ' || (SELECT t2 FROM sel$r)
         |              ELSE t END AS t
         |  FROM (
         |    SELECT k.doc_id, k.p, k.t, (m.p IS NOT NULL) AS merged
         |    FROM $prev k
         |    LEFT JOIN mrg$r m ON m.doc_id = k.doc_id AND m.p = k.p
         |    LEFT JOIN mrg$r pm ON pm.doc_id = k.doc_id AND pm.p = k.p - 1
         |    WHERE pm.p IS NULL))""".stripMargin
    }.mkString(",\n")
    s"""$tokfCte,
       |tok0 AS (
       |  SELECT doc_id, generate_subscripts(toks, 1) AS p, unnest(toks) AS t
       |  FROM tokf WHERE len(toks) >= $minToks),
       |$rounds""".stripMargin
  }

  /**
   * Unrolled DuckDB SQL for [[graft.operators.Curation.bpeTrain]] at a
   * fixed round count. The Scala side's greedy left-to-right fold is
   * replayed relationally per round: candidate positions (pair matches)
   * split into runs of consecutive positions, and within each run the
   * 1st, 3rd, ... merge (exactly the fold's alternation — a just-merged
   * token can't re-match t1); positions consumed by a preceding merge are
   * dropped and the survivors renumbered. Pair selection orders by
   * (count desc, t1, t2) — the components, not their concatenation, which
   * is ambiguous once merged tokens contain the joiner.
   */
  private def bpeTrainOracleSql(iters: Int): String = {
    val union = (1 to iters).map(r =>
      s"SELECT $r::BIGINT AS round, t1, t2, c FROM sel$r")
      .mkString("\nUNION ALL\n")
    s"""WITH ${bpeRoundsCtes(iters, minToks = 2)}
       |SELECT * FROM (
       |$union)
       |ORDER BY round""".stripMargin
  }

  /** BPE encode oracle: the same `iters` merge rounds, but emitting the
    * final per-doc token sequences ('|'-joined) instead of the merges. */
  private def bpeEncodeOracleSql(iters: Int): String =
    s"""WITH ${bpeRoundsCtes(iters, minToks = 1)}
       |SELECT doc_id, string_agg(t, '|' ORDER BY p) AS toks_str,
       |       count(*)::BIGINT AS n_tokens
       |FROM tok$iters GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Every vector as array<double>, and `e` over it. */
  private val embVecSql = "SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings"
  private val eCte = s"e AS ($embVecSql)"

  /** `q`, the query vector (vec_id 0), and the ANN oracles' `e`/`q`
    * preamble. */
  private val qCte = "q AS (SELECT v AS qv FROM e WHERE vec_id = 0)"
  private val annPreamble = s"$eCte,\n$qCte"

  /** Multi-probe sign-LSH: candidates are rows with >= nBits-1 sign
    * agreements, which is the bucket set {query bucket} ∪ {flip-1-bit
    * buckets} that the Spark side probes (in memory and from the index). */
  private val lshMultiProbeOracleSql: String =
    s"""WITH $annPreamble
       |SELECT e.vec_id AS vec_id, round(list_cosine_similarity(e.v, q.qv), 4) AS cos_sim
       |FROM e, q
       |WHERE e.vec_id <> 0
       |  AND (((e.v[1] > 0) = (q.qv[1] > 0))::INT + ((e.v[2] > 0) = (q.qv[2] > 0))::INT
       |     + ((e.v[3] > 0) = (q.qv[3] > 0))::INT + ((e.v[4] > 0) = (q.qv[4] > 0))::INT) >= 3
       |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin

  /** One k-means CTE chain (seeds = k smallest ids, `iters` Lloyd rounds
    * over the id<sampleN sample, exact DECIMAL means), every name prefixed
    * `p`: `${p}e AS (eDef)` (the vectors), `${p}smp`, `${p}c0` … `${p}c$iters`
    * (the centroids) and `${p}cells` (every vector's argmax-cosine cell,
    * ties to the smaller cid). */
  private def kmeansChain(p: String, eDef: String, k: Int, iters: Int,
                          sampleN: Long): Seq[String] = {
    def assign(name: String, src: String, cents: String) =
      s"""$name AS (
         |  SELECT vec_id, cid AS cell FROM (
         |    SELECT s.vec_id, c.cid,
         |           row_number() OVER (PARTITION BY s.vec_id
         |             ORDER BY list_cosine_similarity(s.v, c.cv) DESC, c.cid) AS rn
         |    FROM $src s CROSS JOIN $cents c) WHERE rn = 1)""".stripMargin
    def means(name: String, asg: String) =
      s"""$name AS (
         |  SELECT cid, list(m ORDER BY pos) AS cv FROM (
         |    SELECT a.cell AS cid, u.pos,
         |           CAST(sum(CAST(u.x AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS m
         |    FROM (SELECT vec_id, generate_subscripts(v, 1) AS pos, unnest(v) AS x FROM ${p}smp) u
         |    JOIN $asg a ON a.vec_id = u.vec_id
         |    GROUP BY a.cell, u.pos) GROUP BY cid)""".stripMargin
    val steps = (1 to iters).flatMap { i =>
      Seq(assign(s"${p}a$i", s"${p}smp", s"${p}c${i - 1}"),
        means(s"${p}c$i", s"${p}a$i"))
    }
    Seq(
      s"${p}e AS ($eDef)",
      s"${p}smp AS (SELECT vec_id, v FROM ${p}e WHERE vec_id < $sampleN)",
      s"${p}c0 AS (SELECT vec_id::BIGINT AS cid, v AS cv FROM ${p}e WHERE vec_id < $k)") ++
      steps :+ assign(s"${p}cells", s"${p}e", s"${p}c$iters")
  }

  /** The k-means chain over all vectors: `e`, `c$iters`, `cells`. Used by
    * the IVF, IVFADC and SemDeDup oracles. */
  private def kmeansCellsCtes(k: Int, iters: Int, sampleN: Long): Seq[String] =
    kmeansChain("", embVecSql, k, iters, sampleN)

  /** OLS moment + Cramer CTEs over `qual` (x1 = punct_ratio,
    * x2 = stopword_ratio, y = quality): DECIMAL-exact sums, then the
    * determinant arithmetic with the EXACT operand order of
    * `Curation.olsFit` — yields `mom` and `fit(n, det, det0, det1, det2)`. */
  private val olsMomentsCtes: String =
    """mom AS (
      |  SELECT count(*)::DOUBLE AS n,
      |         CAST(sum(CAST(punct_ratio AS DECIMAL(28,12))) AS DOUBLE) AS s1,
      |         CAST(sum(CAST(stopword_ratio AS DECIMAL(28,12))) AS DOUBLE) AS s2,
      |         CAST(sum(CAST(punct_ratio * punct_ratio AS DECIMAL(28,12))) AS DOUBLE) AS s11,
      |         CAST(sum(CAST(punct_ratio * stopword_ratio AS DECIMAL(28,12))) AS DOUBLE) AS s12,
      |         CAST(sum(CAST(stopword_ratio * stopword_ratio AS DECIMAL(28,12))) AS DOUBLE) AS s22,
      |         CAST(sum(CAST(quality AS DECIMAL(28,12))) AS DOUBLE) AS sy,
      |         CAST(sum(CAST(punct_ratio * quality AS DECIMAL(28,12))) AS DOUBLE) AS s1y,
      |         CAST(sum(CAST(stopword_ratio * quality AS DECIMAL(28,12))) AS DOUBLE) AS s2y
      |  FROM qual),
      |fit AS (
      |  SELECT n,
      |         n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2) + s2 * (s1 * s12 - s11 * s2) AS det,
      |         sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y) + s2 * (s1y * s12 - s11 * s2y) AS det0,
      |         n * (s1y * s22 - s2y * s12) - sy * (s1 * s22 - s12 * s2) + s2 * (s1 * s2y - s1y * s2) AS det1,
      |         n * (s11 * s2y - s12 * s1y) - s1 * (s1 * s2y - s1y * s2) + sy * (s1 * s12 - s11 * s2) AS det2
      |  FROM mom)""".stripMargin

  /**
   * DuckDB mirror of Similarity.kmeansCentroids + multi-probe ivfTopK:
   * `iters` unrolled Lloyd steps (assignment = argmax cosine with cid
   * tiebreak; means via exact DECIMAL sums — bit-identical to Spark's
   * regardless of row order), then full-corpus assignment and an
   * nprobe-cell search for query vec_id=0.
   */
  private def ivfOracleSql(k: Int, iters: Int, sampleN: Long, nprobe: Int,
                           topK: Int): String =
    s"""WITH ${probeCtes(k, iters, sampleN, nprobe).mkString(",\n")}
       |SELECT e.vec_id AS vec_id, round(list_cosine_similarity(e.v, q.qv), 4) AS cos_sim
       |FROM e JOIN cells ON e.vec_id = cells.vec_id
       |JOIN probe ON cells.cell = probe.cid CROSS JOIN q
       |WHERE e.vec_id <> 0
       |ORDER BY cos_sim DESC, vec_id LIMIT $topK""".stripMargin

  /** The coarse k-means chain, `q`, and `probe`: the `nprobe` centroids
    * nearest the query (cosine desc, smaller cid on ties). Shared by the
    * IVF and IVFADC oracles. */
  private def probeCtes(k: Int, iters: Int, sampleN: Long,
                        nprobe: Int): Seq[String] =
    kmeansCellsCtes(k, iters, sampleN) ++ Seq(qCte,
      s"""probe AS (SELECT cid FROM c$iters CROSS JOIN q
         |  ORDER BY list_cosine_similarity(cv, qv) DESC, cid LIMIT $nprobe)""".stripMargin)

  /** The m PQ subspace k-means chains, subspace s named `p<s>` over
    * vectors SLICED to it ([lo:hi], 1-based inclusive, mirroring Spark's
    * `slice(v, lo, len)`). `srcTable`/`vecExpr` select what gets sliced —
    * the raw embeddings by default, the coarse-residual CTE for IVFADC. */
  private def pqChains(m: Int, sub: Int, k: Int, iters: Int, sampleN: Long,
                       srcTable: String = "embeddings",
                       vecExpr: String = "embedding::DOUBLE[]"): Seq[String] =
    (0 until m).flatMap(s => kmeansChain(s"p$s",
      s"SELECT vec_id, ($vecExpr)[${s * sub + 1}:${(s + 1) * sub}] AS v FROM $srcTable",
      k, iters, sampleN))

  /** PQ reconstruction CTE `name`: each `base` vector's m assigned
    * codewords ([[pqChains]]) concatenated with `||` as `out`. */
  private def pqReconCte(name: String, base: String, out: String, m: Int,
                         iters: Int): String = {
    val joins = (0 until m).map(s =>
      s"JOIN p${s}cells ON p${s}cells.vec_id = $base.vec_id JOIN p${s}c$iters cc$s ON cc$s.cid = p${s}cells.cell")
      .mkString("\n  ")
    val recon = (0 until m).map(s => s"cc$s.cv").mkString(" || ")
    s"""$name AS (
       |  SELECT $base.vec_id, ($recon) AS $out
       |  FROM $base
       |  $joins)""".stripMargin
  }

  /** PQ/ADC oracle: per-subspace k-means cells, reconstruction by
    * concatenating assigned centroids, rank by cos(exact query, x̂). */
  private def pqOracleSql(m: Int, sub: Int, k: Int, iters: Int,
                          sampleN: Long, topK: Int): String =
    s"""WITH fe AS ($embVecSql),
       |${pqChains(m, sub, k, iters, sampleN).mkString(",\n")},
       |q AS (SELECT v AS qv FROM fe WHERE vec_id = 0),
       |${pqReconCte("recon", "fe", "rv", m, iters)}
       |SELECT recon.vec_id AS vec_id, round(list_cosine_similarity(q.qv, recon.rv), 4) AS pq_sim
       |FROM recon CROSS JOIN q
       |WHERE recon.vec_id <> 0
       |ORDER BY pq_sim DESC, vec_id LIMIT $topK""".stripMargin

  /** PQ code-table oracle: each vector's per-subspace cell id. */
  private def pqCodesOracleSql(m: Int, sub: Int, k: Int, iters: Int,
                               sampleN: Long): String = {
    val joins = (0 until m).map(s =>
      s"JOIN p${s}cells ON p${s}cells.vec_id = fe.vec_id").mkString("\n  ")
    val codes = (0 until m).map(s => s"p${s}cells.cell AS code$s").mkString(", ")
    s"""WITH fe AS (SELECT vec_id FROM embeddings),
       |${pqChains(m, sub, k, iters, sampleN).mkString(",\n")}
       |SELECT fe.vec_id AS vec_id, $codes
       |FROM fe
       |  $joins
       |ORDER BY vec_id""".stripMargin
  }

  /** IVFADC oracle: coarse k-means cells ([[kmeansCellsCtes]]) give the
    * probe set AND the residuals x − c(x); per-subspace k-means chains
    * ([[pqChains]] over the residual CTE) quantize the residuals; rank
    * the probed cells by cos(exact q, c(x) + r̂). */
  private def ivfadcOracleSql(dim: Int, kCoarse: Int, iters: Int,
                              sampleN: Long, nprobe: Int, m: Int, sub: Int,
                              k: Int, topK: Int): String = {
    val ctes = probeCtes(kCoarse, iters, sampleN, nprobe) ++ Seq(
      s"""re AS (
         |  SELECT e.vec_id, cells.cell,
         |         list_transform(range(1, $dim + 1), i -> e.v[i] - cc.cv[i]) AS rv
         |  FROM e JOIN cells ON cells.vec_id = e.vec_id
         |       JOIN c$iters cc ON cc.cid = cells.cell)""".stripMargin) ++
      pqChains(m, sub, k, iters, sampleN, srcTable = "re", vecExpr = "rv") ++
      Seq(pqReconCte("rhat", "re", "rr", m, iters),
        s"""xhat AS (
           |  SELECT re.vec_id, re.cell,
           |         list_transform(range(1, $dim + 1), i -> cc.cv[i] + rhat.rr[i]) AS xv
           |  FROM re JOIN rhat ON rhat.vec_id = re.vec_id
           |       JOIN c$iters cc ON cc.cid = re.cell)""".stripMargin)
    s"""WITH ${ctes.mkString(",\n")}
       |SELECT xhat.vec_id AS vec_id,
       |       round(list_cosine_similarity(q.qv, xhat.xv), 4) AS adc_sim
       |FROM xhat JOIN probe ON xhat.cell = probe.cid CROSS JOIN q
       |WHERE xhat.vec_id <> 0
       |ORDER BY adc_sim DESC, vec_id LIMIT $topK""".stripMargin
  }

  /** SemDeDup oracle: within-cell pairs at rounded-cosine ≥ eps. */
  private def semDedupOracleSql(k: Int, iters: Int, sampleN: Long,
                                eps: Double): String =
    s"""WITH ${kmeansCellsCtes(k, iters, sampleN).mkString(",\n")}
       |SELECT ca.cell AS cell, a.vec_id AS id1, b.vec_id AS id2,
       |       round(list_cosine_similarity(a.v, b.v), 4) AS cos_sim
       |FROM e a JOIN cells ca ON ca.vec_id = a.vec_id
       |JOIN e b ON a.vec_id < b.vec_id
       |JOIN cells cb ON cb.vec_id = b.vec_id AND cb.cell = ca.cell
       |WHERE round(list_cosine_similarity(a.v, b.v), 4) >= $eps
       |ORDER BY cell, id1, id2""".stripMargin

  /** SemDeDup keeper list: drop every id that is the HIGHER id of any
    * within-cell near-dup pair (lowest-id representative convention). */
  private def semDedupKeepOracleSql(k: Int, iters: Int, sampleN: Long,
                                    eps: Double): String =
    s"""WITH ${kmeansCellsCtes(k, iters, sampleN).mkString(",\n")},
       |dups AS (
       |  SELECT DISTINCT b.vec_id AS vec_id
       |  FROM e a JOIN cells ca ON ca.vec_id = a.vec_id
       |  JOIN e b ON a.vec_id < b.vec_id
       |  JOIN cells cb ON cb.vec_id = b.vec_id AND cb.cell = ca.cell
       |  WHERE round(list_cosine_similarity(a.v, b.v), 4) >= $eps)
       |SELECT e.vec_id AS vec_id FROM e
       |WHERE e.vec_id NOT IN (SELECT vec_id FROM dups)
       |ORDER BY vec_id""".stripMargin

  /** Shared score computation SQL (H1/H3). */
  private def scoreSql(filterAlerts: Boolean): String = {
    val base =
      s"""WITH m AS (SELECT event_id, $synthMsgSql AS msg, $levelSql AS level FROM events),
         |sc AS (
         |  SELECT event_id,
         |         round(least(1.0,
         |             0.30 * (CASE WHEN lower(msg) LIKE '%exception%' OR lower(msg) LIKE '%error%' THEN 1.0 ELSE 0.0 END)
         |           + 0.25 * (CASE WHEN lower(msg) LIKE '%connection%' AND (lower(msg) LIKE '%refused%' OR lower(msg) LIKE '%failed%' OR lower(msg) LIKE '%reset%') THEN 1.0 ELSE 0.0 END)
         |           + 0.20 * (CASE WHEN lower(msg) LIKE '%timeout%' OR lower(msg) LIKE '%timed out%' THEN 1.0 ELSE 0.0 END)
         |           + 0.10 * (CASE WHEN level = 'ERROR' THEN 1.0 ELSE 0.0 END)
         |           + 0.05 * (CASE WHEN level = 'WARN' THEN 1.0 ELSE 0.0 END)
         |           + 0.10 * least(length(msg) / 10000.0, 1.0)), 4) AS anomaly_score
         |  FROM m),
         |c AS (
         |  SELECT event_id, anomaly_score,
         |         anomaly_score >= 0.5 AS is_anomaly,
         |         round(least(abs(anomaly_score - 0.5) * 2.0, 1.0), 4) AS confidence
         |  FROM sc)""".stripMargin
    if (filterAlerts)
      base + "\nSELECT event_id, anomaly_score, confidence FROM c WHERE is_anomaly AND confidence > 0.7 ORDER BY event_id"
    else
      base + "\nSELECT event_id, anomaly_score, is_anomaly, confidence FROM c ORDER BY event_id"
  }

  /** Quality-score CTE chain: `qb`, `qr`, `qual(doc_id, punct_ratio,
    * stopword_ratio, quality)` — shared by q_quality, q_cluster_keeper and
    * q_weighted_sample so the formula cannot drift between oracles. */
  private val qualityCtes: String =
    raw"""qb AS (
      |  SELECT doc_id, text,
      |         CASE WHEN length(text) = 0 THEN 0.0
      |              ELSE floor(length(regexp_replace(text, '[\w\s]', '', 'g'))::DOUBLE / length(text) * 10000.0 + 0.5) / 10000.0 END AS punct_ratio,
      |         len(${toksSql("text")}) AS ntok,
      |         len(list_filter(${wordsSql("text")},
      |             x -> x <> '' AND list_contains(['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as'], x))) AS nstop
      |  FROM documents),
      |qr AS (
      |  SELECT doc_id, text, punct_ratio,
      |         CASE WHEN ntok = 0 THEN 0.0 ELSE floor(nstop::DOUBLE / ntok * 10000.0 + 0.5) / 10000.0 END AS stopword_ratio
      |  FROM qb),
      |qual AS (
      |  SELECT doc_id, punct_ratio, stopword_ratio,
      |       CASE WHEN text IS NULL OR length(text) = 0 THEN 0.0
      |            ELSE floor((0.4 * least(length(text) / 500.0, 1.0)
      |                      + 0.3 * (1.0 - punct_ratio)
      |                      + 0.3 * least(stopword_ratio / 0.4, 1.0)) * 10000.0 + 0.5) / 10000.0 END AS quality
      |  FROM qr)""".stripMargin

  /**
   * Quality-score SQL mirroring TextAnalysis exactly, including the
   * engine-portable floor-based rounding (see TextAnalysis.pround4 —
   * `round(double)` tie-breaking differs between Spark and DuckDB).
   */
  private def qualitySql: String =
    s"WITH $qualityCtes\nSELECT doc_id, punct_ratio, stopword_ratio, quality FROM qual ORDER BY doc_id"

  /** Little-endian hex encoding of an integer SQL expression (oracle-side
    * twin of [[leHexCol]]). */
  private def leHexSql(expr: String, nBytes: Int): String =
    ((nBytes - 1) to 0 by -1)
      .map(i => s"substr(lpad(hex($expr), ${nBytes * 2}, '0'), ${i * 2 + 1}, 2)")
      .mkString(" || ")

  /** Parse a little-endian uint of `nBytes` at 1-based byte `off` from the
    * hex-roundtrip column `h` (oracle-side twin of Multimodal.leUint). */
  private def leParseSql(off: Int, nBytes: Int): String =
    "('0x' || " + ((nBytes - 1) to 0 by -1)
      .map(i => s"substr(h, ${2 * (off + i - 1) + 1}, 2)")
      .mkString(" || ") + ")::UBIGINT::BIGINT"
}
