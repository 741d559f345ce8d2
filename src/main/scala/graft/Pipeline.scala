package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{Enrich, Parse, Route, Score}
import graft.plans.Checkpoint

/**
 * The flagship end-to-end pipeline (north_rule): parse → enrich → route →
 * aggregate over the Common-Crawl-style pages table, as ONE Catalyst plan
 * per stage — the recast of the reference's per-message chain
 * (`consumer/LogConsumer.java:33` → `service/LogProcessorService.java:72-96`
 * → ES/ML/PG), SURVEY.md §3.1.
 *
 * Physical shape (asserted in PipelineSpec):
 *   FileScan/Range → WholeStageCodegen(parse+flags+severity+score)
 *   → BroadcastHashJoin(domain_rep) → BroadcastHashJoin(lang_meta)
 *   → dynamic-partition fan-out write (no shuffle)
 *   then per-sink aggregates as a pruned read-back scan.
 *
 * Determinism: `jobStartTs` is an explicit parameter replacing every
 * `Instant.now()` in the reference (G1/G5, anomaly detectedAt) so re-runs
 * and resumes are bit-identical.
 */
object Pipeline {

  val DefaultJobStart: java.sql.Timestamp =
    java.sql.Timestamp.from(java.time.Instant.parse("2024-06-01T00:00:00Z"))

  /** Lazily composed logical plan for the full transform (no action). */
  def transform(pages: DataFrame, domainRep: DataFrame, langMeta: DataFrame,
                jobStartTs: java.sql.Timestamp = DefaultJobStart): DataFrame = {
    val parsed = Parse(pages, jobStartTs)
    val enriched = Enrich(parsed, domainRep, langMeta, jobStartTs)
    Score(enriched)
  }

  final case class RunResult(ran: Boolean, stats: Option[Route.RouteStats],
                             ranAggregate: Boolean = false)

  /**
   * Full checkpointed run: route stage (logs + rejected + anomalies sinks)
   * then aggregate stage (per-sink counts), each commit-marker-last so a
   * re-run resumes past completed stages (J1).
   */
  def run(spark: SparkSession, pages: DataFrame, domainRep: DataFrame,
          langMeta: DataFrame, root: String,
          jobStartTs: java.sql.Timestamp = DefaultJobStart): RunResult = {
    var stats: Option[Route.RouteStats] = None

    val ranRoute = Checkpoint.runStage(spark, root, "route", jobStartTs) {
      val scored = transform(pages, domainRep, langMeta, jobStartTs)
      val s = Route(scored, root) // ONE heavy pass + columnar derivations
      stats = Some(s)
      (Checkpoint.CommitRow("route", s.inputRows, s.routedRows,
        s.rejectedRows, "", ""),
        Some(Route.lineage(spark, root)))
    }

    // Downstream consistency: if the route stage (re-)executed, any
    // aggregate commit from a previous run describes the OLD sink — clear
    // it so sink_counts is always recomputed from the sink just written.
    if (ranRoute) Checkpoint.invalidate(spark, root, "aggregate")

    val ranAgg = Checkpoint.runStage(spark, root, "aggregate", jobStartTs) {
      Route.sinkAggregates(spark, root)
        .write.mode("overwrite").parquet(s"$root/sink_counts")
      val n = spark.read.parquet(s"$root/sink_counts").count()
      (Checkpoint.CommitRow("aggregate", n, n, 0L, "", ""), None)
    }

    RunResult(ranRoute, stats, ranAgg)
  }
}
