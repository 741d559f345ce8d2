package graft.operators

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Router / sink fan-out stage (SURVEY.md §2 B1-B4, F7, J1-J2;
 * north_rule "rule-driven router fans rows out to per-severity sinks").
 *
 * The reference indexes one document per HTTP call into a single ES index
 * (`service/ElasticsearchService.java:170-193`) and nacks failures to a DLQ
 * (`consumer/LogConsumer.java:52-62`). The Spark recast is built around ONE
 * invariant: **the expensive plan (parse → enrich → score over the full
 * text) executes exactly once.**
 *
 *  - A single dynamic-partition parquet write `partitionBy("severity")`
 *    fans every row out in one pass — rejected rows ride along under
 *    `severity=REJECTED` (the dead-letter partition, B4/J2: never dropped,
 *    annotated with `reject_reason`), so the dead-letter sink costs no
 *    second scan. No shuffle: each write task appends to the partition
 *    dirs it sees. (At cluster scale add `repartition($"severity", salt)`
 *    to bound files-per-partition; local mode keeps the shuffle-free path.)
 *  - The anomaly side-table (B3, PostgreSQL analog) and the per-sink
 *    aggregates (F7) are derived by reading BACK the routed sink — a
 *    columnar scan of a few narrow columns (statistics/dictionary pages
 *    only, no text bytes), orders of magnitude cheaper than re-running
 *    the pipeline.
 *  - Row-count conservation (Σ sinks + rejected = input) is observed in
 *    the same single pass via the `Observation` API (J7) — no extra scan.
 */
object Route {

  val RejectedPartition = "REJECTED"

  /**
   * Columns persisted to the routed sink (LogRecord + scoring); `host`
   * becomes the LogRecord `service` slot (SURVEY.md §1.4).
   *
   * Write-volume design (the sink write is memory-bandwidth-bound, the
   * dominant E2E cost): `message` equals `text` for all but the ~0.1%
   * truncated outliers (G3), so only the DIFFERENT values are stored
   * (`message_trunc`, null otherwise) and [[logs]] reconstructs
   * `message = coalesce(message_trunc, text)` on read — ~40% fewer sink
   * bytes with identical semantics. `features_json` (~180B/row, needed
   * only by the anomalies side-table) is computed in the derive pass,
   * not stored twice.
   */
  val sinkColumns: Seq[String] = Seq(
    "id", "url", "ts", "host as service",
    "CASE WHEN message <> text THEN message END as message_trunc",
    "text", "lang", "environment",
    "message_length", "has_exception", "has_timeout", "has_connection",
    "reputation", "category", "lang_family", "script",
    "processed_at", "processor",
    "anomaly_score", "is_anomaly", "confidence", "model_version", "alert",
    "reject_reason")

  final case class RouteStats(inputRows: Long, routedRows: Long, rejectedRows: Long)

  /**
   * Writes `scored` (output of Parse→Enrich→Score, incl. `parse_ok`) to
   * `root/routed` partitioned by severity (rejected rows under
   * `severity=REJECTED`), then derives `root/anomalies` from the sink
   * read-back. Returns conservation stats from the single heavy pass.
   */
  def apply(scored: DataFrame, root: String): RouteStats = {
    val spark = scored.sparkSession
    val obs = new Observation()
    writeSink(scored.observe(obs,
        count(lit(1)).as("input_rows"),
        count(when(col("parse_ok"), 1)).as("routed_rows"),
        count(when(!col("parse_ok"), 1)).as("rejected_rows")),
      s"$root/routed")

    val row = obs.get
    val stats = RouteStats(
      row("input_rows").asInstanceOf[Long],
      row("routed_rows").asInstanceOf[Long],
      row("rejected_rows").asInstanceOf[Long])

    // B3 — anomaly side-table via read-back (reference persists every
    // prediction, anomalous or not: LogProcessorServiceTest.java:506-533).
    // features JSON (G14) is derived here rather than written twice, from
    // the stored length and flag columns Parse computed over the same
    // message — no text bytes are read back
    logs(spark, root)
      .select(
        col("id").as("log_id"),
        col("anomaly_score"),
        col("is_anomaly"),
        col("confidence"),
        col("model_version"),
        Score.featuresJson(col("message_length"), col("severity"),
          col("service"), col("has_exception"), col("has_timeout"),
          col("has_connection")).as("features"),
        col("processed_at").as("detected_at"))
      .write.mode("overwrite").parquet(s"$root/anomalies")

    stats
  }

  /**
   * The one routed-sink write, batch and streaming alike: rejected rows
   * re-keyed to the `severity=REJECTED` dead-letter partition, rows
   * projected to [[sinkColumns]], one dynamic-partition parquet write
   * (overwrite) under `path`.
   */
  def writeSink(scored: DataFrame, path: String): Unit =
    scored
      .withColumn("severity",
        when(col("parse_ok"), col("severity")).otherwise(RejectedPartition))
      .selectExpr(sinkColumns :+ "severity": _*)
      .write.mode("overwrite")
      .partitionBy("severity")
      .parquet(path)

  /** Routed (accepted) log records — partition-pruned to skip REJECTED;
    * reconstructs `message` from the sparse `message_trunc` column. */
  def logs(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(s"$root/routed")
      .filter(col("severity") =!= RejectedPartition)
      .withColumn("message", coalesce(col("message_trunc"), col("text")))
      .drop("message_trunc")

  /**
   * C2 — typed read-back: sink rows rehydrated as `Dataset[LogRecord]`
   * (the reference's hit→DTO conversion,
   * `service/ElasticsearchService.java:348-367`, without the per-field
   * null-guard boilerplate — Encoders do it).
   */
  def logsTyped(spark: SparkSession, root: String): org.apache.spark.sql.Dataset[graft.Schemas.LogRecord] = {
    import spark.implicits._
    logs(spark, root)
      .select(col("id"), col("url"), col("ts").as("timestamp"), col("severity"),
        col("service"), col("message"), col("text"), col("lang"), col("environment"))
      .as[graft.Schemas.LogRecord]
  }

  /** Dead-letter rows (B4) with their reject reasons. */
  def rejected(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(s"$root/routed")
      .filter(col("severity") === RejectedPartition)
      .select(col("url"), col("reject_reason").as("reason"))

  /**
   * F7 — per-sink aggregates over the routed sink (read-back; severity is
   * a partition column so per-severity queries are partition-pruned).
   */
  def sinkAggregates(spark: SparkSession, root: String): DataFrame =
    logs(spark, root)
      .groupBy("severity")
      .agg(
        count(lit(1)).as("doc_count"),
        countDistinct(col("service")).as("distinct_hosts"),
        round(avg(col("anomaly_score")), 4).as("avg_score"),
        count(when(col("is_anomaly"), 1)).as("anomaly_count"),
        count(when(col("alert"), 1)).as("alert_count"))
      .orderBy("severity")

  /**
   * J7 — per-written-file lineage (each file = one write task/partition):
   * the per-partition lineage rows the checkpoint table records.
   */
  def lineage(spark: SparkSession, root: String): DataFrame =
    logs(spark, root)
      .groupBy(col("severity"), input_file_name().as("file"))
      .agg(count(lit(1)).as("rows"))
      .orderBy("severity", "file")
}
