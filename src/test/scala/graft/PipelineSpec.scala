package graft

import org.apache.spark.sql.functions._
import graft.operators.{Parse, Route, Score}
import graft.plans.Checkpoint

/**
 * End-to-end correctness gates from the north rule (SURVEY.md §5.2):
 *  - routed-row equality per sink vs the pure-Scala RefOracle,
 *  - byte-identical `text` per url,
 *  - row-count conservation across the fan-out,
 *  - idempotent resume from the checkpoint.
 */
class PipelineSpec extends SparkSuite {
  import spark.implicits._

  private val N = 3000L
  private lazy val pages = Synth.pages(spark, N, parts = 8).cache()
  private lazy val dims = (Synth.domainReputation(spark), Synth.langMeta(spark))
  private val t0 = Pipeline.DefaultJobStart

  test("pipeline output equals RefOracle row-for-row (routed-row equality)") {
    val got = Pipeline.transform(pages, dims._1, dims._2, t0)
      .filter($"parse_ok")
      .select($"id", $"url", $"ts", $"severity", $"host", $"message", $"text",
        $"environment", $"message_length", $"has_exception", $"has_timeout",
        $"has_connection", $"anomaly_score", $"is_anomaly", $"confidence", $"alert")
      .collect().map(r => (r.getString(1), r)).sortBy(_._1)

    val inputs = pages.collect()
    val expected = inputs.flatMap { r =>
      RefOracle.process(r.getString(0), r.getTimestamp(1), r.getString(3),
        r.getString(4), t0).toOption
    }.map(o => (o.url, o)).sortBy(_._1)

    assert(got.length == expected.length, "routed row count")
    got.zip(expected).foreach { case ((u1, g), (u2, e)) =>
      assert(u1 == u2)
      assert(g.getString(0) == e.id, s"id @ $u1")
      assert(g.getTimestamp(2) == e.ts, s"ts @ $u1")
      assert(g.getString(3) == e.severity, s"severity @ $u1")
      assert(g.getString(4) == e.host, s"host @ $u1")
      assert(g.getString(5) == e.message, s"message @ $u1")
      assert(g.getString(6) == e.text, s"text byte-identity @ $u1")
      assert(g.getString(7) == e.environment, s"environment @ $u1")
      assert(g.getInt(8) == e.messageLength.get, s"message_length @ $u1")
      assert(g.getBoolean(9) == e.hasException.get, s"has_exception @ $u1")
      assert(g.getBoolean(10) == e.hasTimeout.get, s"has_timeout @ $u1")
      assert(g.getBoolean(11) == e.hasConnection.get, s"has_connection @ $u1")
      assert(g.getDouble(12) == e.anomalyScore, s"score @ $u1")
      assert(g.getBoolean(13) == e.isAnomaly, s"is_anomaly @ $u1")
      assert(g.getDouble(14) == e.confidence, s"confidence @ $u1")
      assert(g.getBoolean(15) == e.alert, s"alert @ $u1")
    }
  }

  test("rejected rows match oracle and carry reasons (dead-letter B4)") {
    val got = Pipeline.transform(pages, dims._1, dims._2, t0)
      .filter(!$"parse_ok").select($"url", $"reject_reason")
      .as[(String, String)].collect().sortBy(_._1)
    val expected = pages.collect().flatMap { r =>
      RefOracle.process(r.getString(0), r.getTimestamp(1), r.getString(3),
        r.getString(4), t0).left.toOption
    }.map(o => (o.url, o.reason)).sortBy(_._1)
    assert(got.toSeq == expected.toSeq)
    assert(expected.nonEmpty, "generator must plant rejects")
  }

  test("full run: conservation, per-sink aggregates, lineage, resume") {
    val root = tmpDir("pipe")
    val r1 = Pipeline.run(spark, pages, dims._1, dims._2, root, t0)
    assert(r1.ran)
    val s = r1.stats.get
    assert(s.inputRows == N)
    assert(s.routedRows + s.rejectedRows == N, "row conservation")

    val sinkRows = Route.logs(spark, root).count()
    val rejRows = Route.rejected(spark, root).count()
    assert(sinkRows == s.routedRows && rejRows == s.rejectedRows)

    // per-sink aggregates match independent recount (F7 gate)
    val aggs = spark.read.parquet(s"$root/sink_counts")
      .select($"severity", $"doc_count").as[(String, Long)].collect().toMap
    val recount = Route.logs(spark, root)
      .groupBy($"severity").count().as[(String, Long)].collect().toMap
    assert(aggs == recount)
    assert(aggs.keySet == Set("ERROR", "WARN", "INFO"))

    // planted multi-failure rows make the anomaly + alert paths non-empty
    val logs = Route.logs(spark, root)
    assert(logs.filter($"is_anomaly").count() > 0, "anomalies planted")
    assert(logs.filter($"alert").count() > 0, "high-confidence alerts planted")

    // anomalies side-table: one row per routed log (B3)
    assert(spark.read.parquet(s"$root/anomalies").count() == s.routedRows)

    // lineage rows sum to routed rows (J7)
    val lin = spark.read.parquet(s"$root/_checkpoint/route/lineage")
    assert(lin.agg(sum($"rows")).as[Long].collect()(0) == s.routedRows)

    // resume: second run skips committed stages, output unchanged (J1)
    val before = Route.logs(spark, root).orderBy($"id").collect()
    val r2 = Pipeline.run(spark, pages, dims._1, dims._2, root, t0)
    assert(!r2.ran, "committed stage must be skipped on re-run")
    val after = Route.logs(spark, root).orderBy($"id").collect()
    assert(before.sameElements(after))

    // invalidate the aggregate stage only -> partial resume re-runs it
    Checkpoint.invalidate(spark, root, "aggregate")
    Pipeline.run(spark, pages, dims._1, dims._2, root, t0)
    assert(Checkpoint.committed(spark, root, "aggregate"))
    val commits = Checkpoint.commits(spark, root)
    assert(commits.filter($"status" === "committed").count() == 2)
  }

  test("anomaly side-table features come from the stored columns and " +
    "equal the JSON derived from the sink's message") {
    val root = tmpDir("pipe-feat")
    Pipeline.run(spark, pages, dims._1, dims._2, root, t0)
    val got = spark.read.parquet(s"$root/anomalies")
      .select($"log_id", $"features")
    val m = $"message"
    val fromMessage = Route.logs(spark, root)
      .select($"id".as("log_id"),
        Score.featuresJson(length(m), $"severity", $"service",
          Parse.hasException(m), Parse.hasTimeout(m), Parse.hasConnection(m))
          .as("features"))
    assert(got.count() > 0)
    assert(got.exceptAll(fromMessage).count() == 0)
    assert(fromMessage.exceptAll(got).count() == 0)
  }

  test("upstream re-run invalidates downstream aggregate (stale-sink guard)") {
    val root = tmpDir("pipe-inv")
    val r1 = Pipeline.run(spark, pages, dims._1, dims._2, root, t0)
    assert(r1.ran && r1.ranAggregate)
    val r2 = Pipeline.run(spark, pages, dims._1, dims._2, root, t0)
    assert(!r2.ran && !r2.ranAggregate, "fully committed run resumes past both")
    // clear ONLY the route marker: its re-run must invalidate the still-
    // present aggregate marker, else sink_counts would describe the old sink
    Checkpoint.invalidate(spark, root, "route")
    val r3 = Pipeline.run(spark, pages, dims._1, dims._2, root, t0)
    assert(r3.ran, "route re-runs")
    assert(r3.ranAggregate, "aggregate must be recomputed after route re-ran")
  }

  test("enrich joins broadcast and hit/miss correctly") {
    val df = Pipeline.transform(pages, dims._1, dims._2, t0).filter($"parse_ok")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), "dims must broadcast")
    // every valid host is a generated domain -> reputation always present
    assert(df.filter($"reputation".isNull).count() == 0)
    // "ja" is missing from lang_meta -> left-join null path exercised
    assert(df.filter($"lang" === "ja" && $"lang_family".isNull).count() > 0)
    assert(df.filter($"lang" === "en" && $"lang_family" =!= "germanic").count() == 0)
  }

  test("oversized messages truncated in sink; planted outliers exist") {
    val df = Pipeline.transform(pages, dims._1, dims._2, t0).filter($"parse_ok")
    assert(df.filter(length($"text") > 10000).count() > 0, "generator plants outliers")
    assert(df.agg(max(length($"message"))).as[Int].collect()(0) <= 10015)
    assert(df.filter($"message".endsWith("... [truncated]")).count() ==
      df.filter(length($"text") > 10000).count())
  }
}
