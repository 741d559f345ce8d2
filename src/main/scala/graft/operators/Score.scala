package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Anomaly scoring stage — the deterministic recast of the external ML RPC
 * (SURVEY.md §2 C3, G11-G13, H1-H3).
 *
 * The reference POSTs per-row features to an ML service
 * (`service/MLServiceClient.java:65-103`) whose model is not part of the
 * repo; a nondeterministic network call is not reproducible or
 * oracle-checkable, so per SURVEY.md §2.H the prediction is replaced by a
 * **pure rule-based scorer** — a fixed, documented function of exactly the
 * features `extractFeatures` computes (`service/MLServiceClient.java:41-56`).
 * Pure column expressions → whole-stage codegen, no UDF, no shuffle.
 */
object Score {

  val ModelVersion = "rule-v1.0"

  /** G13 — level default "INFO" (`MLServiceClient.java:47`). */
  def featLevel(level: Column): Column = coalesce(upper(level), lit("INFO"))

  /** G13 — service default "unknown" (`MLServiceClient.java:48`). */
  def featService(service: Column): Column = coalesce(service, lit("unknown"))

  /** G13 — null message treated as "" → length 0 (`MLServiceClient.java:42-46`). */
  def featMessageLength(message: Column): Column =
    coalesce(length(message), lit(0))

  /** Same keyword pair as enrich-side G8 (`MLServiceClient.java:49`). */
  def featHasException(message: Column): Column = {
    val m = lower(coalesce(message, lit("")))
    m.contains("exception") || m.contains("error")
  }

  /**
   * G11 — "timeout" OR "timed out" (`MLServiceClient.java:50`).
   * Deliberately NOT the same as enrich-side G9 ("timeout" only) — the
   * divergence is part of the reference's semantics and is pinned by
   * ScoreSpec on Synth's planted "operation timed out" rows.
   */
  def featHasTimeout(message: Column): Column = {
    val m = lower(coalesce(message, lit("")))
    m.contains("timeout") || m.contains("timed out")
  }

  /** G12 — conjunctive: "connection" AND (refused|failed|reset) (`MLServiceClient.java:51-54`). */
  def featHasConnectionError(message: Column): Column = {
    val m = lower(coalesce(message, lit("")))
    m.contains("connection") &&
      (m.contains("refused") || m.contains("failed") || m.contains("reset"))
  }

  /**
   * The deterministic scoring rule (H1'): a weighted sum of the ML features,
   * clamped to [0,1], rounded to 4 decimals.
   *
   *   score = min(1, 0.30·hasException + 0.25·hasConnectionError
   *                + 0.20·hasTimeout + 0.10·(level=ERROR) + 0.05·(level=WARN)
   *                + 0.10·min(messageLength/10000, 1))
   */
  def anomalyScore(message: Column, level: Column): Column = {
    val b = (c: Column) => when(c, 1.0).otherwise(0.0)
    round(least(lit(1.0),
      lit(0.30) * b(featHasException(message)) +
      lit(0.25) * b(featHasConnectionError(message)) +
      lit(0.20) * b(featHasTimeout(message)) +
      lit(0.10) * b(featLevel(level) === "ERROR") +
      lit(0.05) * b(featLevel(level) === "WARN") +
      lit(0.10) * least(featMessageLength(message) / 10000.0, lit(1.0))), 4)
  }

  /** isAnomaly ⇔ score ≥ 0.5. */
  def isAnomaly(score: Column): Column = score >= 0.5

  /** confidence = min(1, |score − 0.5| · 2), rounded to 4 decimals. */
  def confidence(score: Column): Column =
    round(least(abs(score - 0.5) * 2.0, lit(1.0)), 4)

  /**
   * H3 — high-confidence alert gate: isAnomaly AND confidence strictly > 0.7
   * (boundary exclusive — `LogProcessorService.java:127`, pinned by
   * `LogProcessorServiceTest.java:477-503`).
   */
  def alertGate(isAnomaly: Column, confidence: Column): Column =
    isAnomaly && confidence > 0.7

  /**
   * G14 — features JSON for the anomaly side-table
   * (`service/LogProcessorService.java:149-160`). Canonical key order
   * (Java HashMap order is unspecified; we fix one) and built with string
   * concat so the DuckDB oracle can reproduce it byte-for-byte.
   * Note: per the reference (:151-160) these are the ENRICH-side flags
   * (hasTimeout = G9 "timeout" only), not the ML-side features — the
   * `Parse.hasException` / `hasTimeout` / `hasConnection` values, passed
   * in as columns (the sink stores them, so the side-table reads no
   * text). A null length serializes as 0, a null flag as false.
   */
  def featuresJson(messageLength: Column, level: Column, service: Column,
                   hasException: Column, hasTimeout: Column,
                   hasConnection: Column): Column = {
    val b = (c: Column) => when(coalesce(c, lit(false)), "true").otherwise("false")
    concat(
      lit("{\"messageLength\":"), coalesce(messageLength, lit(0)).cast("string"),
      lit(",\"level\":\""), coalesce(level, lit("null")),
      lit("\",\"service\":\""), coalesce(service, lit("null")),
      lit("\",\"hasException\":"), b(hasException),
      lit(",\"hasTimeout\":"), b(hasTimeout),
      lit(",\"hasConnection\":"), b(hasConnection),
      lit("}"))
  }

  /**
   * Applies the scoring stage: adds `anomaly_score, is_anomaly, confidence,
   * model_version, alert` columns (H2 metadata-merge analog).
   * `messageCol`/`levelCol`/`serviceCol` name existing columns.
   */
  def apply(df: DataFrame, messageCol: String = "message",
            levelCol: String = "severity", serviceCol: String = "host"): DataFrame = {
    val score = anomalyScore(col(messageCol), col(levelCol))
    df.withColumn("anomaly_score", score)
      .withColumn("is_anomaly", isAnomaly(col("anomaly_score")))
      .withColumn("confidence", confidence(col("anomaly_score")))
      .withColumn("model_version", lit(ModelVersion))
      .withColumn("alert", alertGate(col("is_anomaly"), col("confidence")))
    // features JSON (G14) is intentionally NOT materialized here: only the
    // anomalies side-table needs it, and the router derives it there
    // (Route.apply) instead of paying its bytes in the heavy-pass sink.
  }
}
