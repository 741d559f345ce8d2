package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.{Pipeline, Staging, Synth}
import graft.operators.Route

/**
 * Structured Streaming recast of the reference's queue-consumer delivery
 * semantics (SURVEY.md §2.J). The reference consumes RabbitMQ with manual
 * ack / DLQ nack (`consumer/LogConsumer.java:33-63`) — at-least-once with
 * idempotent effects. The streaming equivalents:
 *
 *  - J1 at-least-once + ack  → file source + checkpointed offsets; the
 *    sink write is made idempotent per micro-batch via foreachBatch
 *    (deterministic output path per batchId, overwrite on replay);
 *  - J2 DLQ                  → rejected rows ride in the same fan-out
 *    (severity=REJECTED partition), exactly like the batch router;
 *  - J4 consumer concurrency → source file splits / maxFilesPerTrigger;
 *  - J6: the reference has NO watermark/window/session state — the
 *    windowed aggregate here is the dashboard's date-histogram (F3)
 *    maintained incrementally, with a watermark bounding state.
 *
 * The whole transform is the SAME Catalyst plan as the batch pipeline
 * (`Pipeline.transform`) — one definition, two execution modes; that is
 * the point of recasting the per-message flow as a declarative plan.
 *
 * The gates' trained models are staged ([[graft.Staging]]) and must live
 * as long as their stream: a scope around a gate ends after its `stop()`.
 */
object StreamPipeline {

  /** Streaming source over a pages directory (the queue analog). */
  def pagesStream(spark: SparkSession, inputDir: String,
                  maxFilesPerTrigger: Int = 4): DataFrame =
    spark.readStream
      .schema(graft.Schemas.pageSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(inputDir)

  /**
   * Full streaming pipeline: transform each micro-batch with the batch
   * plan and fan out to the same partitioned sink layout. foreachBatch +
   * overwrite-per-batch-path = idempotent replay (at-least-once source →
   * effectively-once sink).
   */
  def run(spark: SparkSession, inputDir: String, outRoot: String,
          checkpoint: String): StreamingQuery = {
    val dims = (Synth.domainReputation(spark), Synth.langMeta(spark))
    pagesStream(spark, inputDir).writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Route.writeSink(Pipeline.transform(batch, dims._1, dims._2),
          s"$outRoot/batch=$batchId") // deterministic path per batch
      }
      .start()
  }

  /**
   * Custom keyed state via `flatMapGroupsWithState`: per-service anomaly
   * STREAK detection — emit an alert row whenever a service accumulates
   * `threshold` consecutive anomalous records (resets on a clean record).
   * This is the one semantic the reference's stateless per-message flow
   * cannot express and windowed aggregation cannot either (order-dependent
   * state); the reference's alert gate (H3) is per-row, this extends it
   * across the stream.
   */
  final case class ServiceEvent(service: String, ts: java.sql.Timestamp, isAnomaly: Boolean)
  final case class StreakAlert(service: String, streak: Int, at: java.sql.Timestamp)

  /** Streak state: current run length + high-water timestamp (late bound). */
  final case class StreakState(streak: Int, lastTsMillis: Long)

  def anomalyStreaks(events: org.apache.spark.sql.Dataset[ServiceEvent],
                     threshold: Int = 3): org.apache.spark.sql.Dataset[StreakAlert] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events.groupByKey(_.service)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout())(
        (service: String, rows: Iterator[ServiceEvent], state: GroupState[StreakState]) => {
          val st = state.getOption.getOrElse(StreakState(0, Long.MinValue))
          var streak = st.streak
          var lastTs = st.lastTsMillis
          // Streak semantics are order-dependent, so the micro-batch's rows
          // for this key are materialized and sorted by event time. MEMORY
          // BOUND: per-key-per-batch volume is capped by the trigger size
          // (maxFilesPerTrigger / maxOffsetsPerTrigger at the source), not
          // by total stream volume — size triggers so one key's batch slice
          // fits an executor. CROSS-batch disorder is NOT absorbed by the
          // sort: rows older than the high-water mark already processed are
          // dropped as late (the watermark-style trade; state stays
          // O(1) per key).
          val ordered = rows.toArray.sortInPlaceBy(_.ts.getTime)
          val alerts = ordered.iterator
            .filter(_.ts.getTime >= lastTs)
            .flatMap { e =>
              lastTs = e.ts.getTime
              if (e.isAnomaly) {
                streak += 1
                if (streak == threshold) Some(StreakAlert(service, streak, e.ts)) else None
              } else { streak = 0; None }
            }.toList
          state.update(StreakState(streak, lastTs))
          alerts.iterator
        })
  }

  /**
   * J1' — streaming dedup for at-least-once sources: a replayed message
   * (same url) arriving within the watermark window is dropped, with state
   * BOUNDED by the watermark (ids older than it are evicted — unbounded-
   * state dedup is not a thing at 10¹² docs). This is the streaming half
   * of the effectively-once contract; the batch half is the idempotent
   * overwrite in [[run]].
   */
  def dedupStream(pages: DataFrame, watermark: String = "10 minutes"): DataFrame =
    pages.withWatermark("warc_ts", watermark)
      .dropDuplicatesWithinWatermark("url")

  /**
   * Streaming sessionization — the incremental half of
   * [[graft.operators.Temporal.sessionize]]: `session_window` merges
   * events within `gap` of each other into one growing session per key;
   * the watermark both bounds state and finalizes sessions (a session
   * closes when the watermark passes its end). Output matches the batch
   * operator's per-session roll-up shape (epoch-second BIGINT bounds) so
   * the two halves are interchangeable downstream. Boundary semantics
   * MATCH the batch operator: `session_window` merges an event landing
   * exactly at session-end + 0 (gap == limit stays in-session, split only
   * on strictly-greater) — asserted against the batch operator on the
   * same input, boundary case included, in StreamingSpec.
   */
  def sessionizeStream(events: DataFrame, key: String, tsCol: String,
                       gap: String = "30 minutes",
                       watermark: String = "10 minutes"): DataFrame =
    events.withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap), col(key))
      .agg(count(lit(1)).as("n_events"),
        min(unix_timestamp(col(tsCol))).as("session_start_s"),
        max(unix_timestamp(col(tsCol))).as("session_end_s"))
      .select(col(key), col("n_events"), col("session_start_s"),
        col("session_end_s"),
        (col("session_end_s") - col("session_start_s")).as("duration_s"))

  /**
   * Streaming benchmark-contamination gate — the ingest-time twin of
   * [[graft.operators.Curation.contamination]]: documents arriving on the
   * stream are flagged the moment they share any word n-gram with the
   * static benchmark set, so contaminated docs never reach the corpus and
   * no after-the-fact corpus re-scan is needed.
   *
   * Deliberately STATELESS (append-mode, zero streaming state): the
   * benchmark shingle set is pre-aggregated to ONE bounded array row and
   * broadcast into every micro-batch; each document's shingle set is
   * built array-locally and intersected per row. An explode + stream-
   * static join + groupBy would compute the same counts but register as a
   * stateful streaming aggregate — state the operator has no need for,
   * since a doc carries all its shingles within one input row.
   *
   * PRECONDITION: stream and benchmark id spaces must be disjoint. The
   * batch operator excludes self-matches per bench id
   * ([[graft.operators.Curation.contamination]]'s `idCol =!= bench_id`);
   * the aggregated bench set here cannot, so a streamed doc whose id IS a
   * bench doc would count its own shingles. Equality with the batch
   * counts (asserted in StreamingSpec) holds under this precondition.
   */
  def contaminationStream(docs: DataFrame, idCol: String, textCol: String,
                          benchDocs: DataFrame, n: Int = 8): DataFrame = {
    import graft.operators.Dedup
    val benchSet = Dedup.shingles(benchDocs, idCol, textCol, n)
      .agg(collect_set(col("shingle")).as("bench_shingles"))
    docs.select(col(idCol), Dedup.shingleArray(col(textCol), n).as("sh"))
      .crossJoin(broadcast(benchSet))
      .select(col(idCol),
        size(array_intersect(col("sh"), col("bench_shingles")))
          .cast("long").as("shared_grams"))
      .filter(col("shared_grams") > 0)
  }

  /**
   * Streaming unigram-LM quality gate — the ingest-time twin of
   * [[graft.operators.Curation.unigramLmScore]]: documents arriving on
   * the stream are scored by mean token surprisal against a model TRAINED
   * ON THE STATIC CORPUS (the already-curated snapshot), so low-quality
   * docs are gated before they ever land. The batch operator trains and
   * scores on the same corpus; here train-time and score-time corpora
   * differ by design — that is what the OOV floor is for.
   *
   * STATELESS like [[contaminationStream]]: the trained model (min-count
   * vocab map + pre-cut total) is ONE bounded row broadcast into every
   * micro-batch, and each doc is scored array-locally by folding its own
   * token array — no explode, no stream-side groupBy, zero streaming
   * state. The fold accumulates in array order, which is exactly the
   * order the batch operator's per-doc mean sees, so for identical
   * train/score corpora the two agree to the last bit (asserted in
   * StreamingSpec).
   */
  def lmScoreStream(docs: DataFrame, idCol: String, textCol: String,
                    vocabDocs: DataFrame, minCount: Long = 2L,
                    topK: Option[Int] = None): DataFrame = {
    def toksOf(c: Column) = graft.operators.TextAnalysis.toks(c)
    val freq = Staging( // train ONCE; feeds both the total and the vocab cut
      vocabDocs.select(explode(toksOf(col(textCol))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("c")))
    // one model row: full-corpus total + cut vocab map. A fixed minCount
    // does NOT bound the map as the training corpus grows (Heaps' law) —
    // the one-row broadcast would grow with it; pass topK to bound the
    // vocab BY CONSTRUCTION (count desc, token asc — deterministic cut,
    // identical to [[graft.operators.Curation.unigramLmScore]]'s topK).
    // The total stays the full pre-cut token count either way.
    val kept = {
      val cut = freq.filter(col("c") >= minCount)
      topK.fold(cut)(k => cut.orderBy(col("c").desc, col("tok").asc).limit(k))
    }
    val total = freq.agg(sum(col("c")).cast("double").as("s"))
    val model = Staging(kept // materialize once, not per micro-batch trigger
      .agg(map_from_entries(collect_list(struct(col("tok"), col("c"))))
        .as("vocab"))
      .crossJoin(total)
      .select(col("s"), col("vocab")))
    docs.select(col(idCol), toksOf(col(textCol)).as("_ts"))
      .filter(size(col("_ts")) > 0)
      .crossJoin(broadcast(model))
      .select(col(idCol), size(col("_ts")).cast("long").as("n_tokens"),
        graft.operators.TextAnalysis.pround4(
          aggregate(col("_ts"), lit(0.0), (acc, t) =>
            acc - log(coalesce(element_at(col("vocab"), t), lit(1L))
              .cast("double") / col("s")))
            / size(col("_ts"))).as("lm_score"))
  }

  /**
   * Streaming incremental dedup — the ingest-time twin of
   * [[graft.operators.Dedup.incrementalDedupAgainstIndex]]: documents
   * arriving on the stream are dropped the moment they exactly or nearly
   * duplicate the already-ingested corpus, probed through the SAME stored
   * [[graft.operators.Dedup.writeSignatureIndex]] artifact.
   *
   * Fully STATELESS (append mode, zero streaming state): each doc's 4
   * MinHash band keys are computed row-locally
   * ([[graft.operators.Dedup.bandKeysLocal]] — bit-identical to the batch
   * signature, no explode/groupBy), then the rejection channels are five
   * chained stream-static LEFT ANTI equi-joins — one on the content md5
   * against `hashes/`, and one per band against `bands/` (each pruned to
   * its single `band=b` partition directory). A doc survives iff no
   * channel matches — exactly the batch operator's semantics (any
   * matching band rejects), asserted row-for-row in StreamingSpec.
   *
   * Index-refresh cadence CONTRACT: the static side is snapshotted when
   * the query STARTS — docs deduplicate against the index as of launch,
   * not against each other or against docs ingested since. Duplicates
   * WITHIN the stream window are the watermark-dedup's job ([[dedupStream]]);
   * catching dups against post-launch ingests requires restarting the
   * query against a refreshed index (the standard rolling-snapshot
   * cadence: rebuild index per crawl batch, restart the ingest query).
   */
  def incrementalDedupStream(spark: SparkSession, indexPath: String,
                             docs: DataFrame, idCol: String, textCol: String,
                             n: Int = 3): DataFrame = {
    import graft.operators.Dedup
    Dedup.requireIndexN(spark, indexPath, n, "probed")
    val hashes = spark.read.parquet(s"$indexPath/hashes")
    val bands = spark.read.parquet(s"$indexPath/bands")
    val bk = "__graft_band_keys"
    var cur = docs.withColumn(bk, Dedup.bandKeysLocal(col(textCol), n))
      .join(hashes, md5(col(textCol)) === col("content_hash"), "left_anti")
    for (b <- 0 until 4) {
      cur = cur.join(
        bands.filter(col("band") === b).select(col("band_key")),
        element_at(col(bk), b + 1) === col("band_key"), "left_anti")
    }
    cur.drop(bk)
  }

  /**
   * Streaming DSIR gate — the ingest-time twin of
   * [[graft.operators.Curation.dsirWeights]]: documents arriving on the
   * stream are importance-weighted against a model TRAINED ON THE STATIC
   * CORPUS ([[graft.operators.Curation.dsirModel]] — same bag, same
   * Laplace smoothing), so off-domain docs can be gated before landing.
   *
   * STATELESS like [[lmScoreStream]]: the model is ONE row (bucket→lr
   * map + OOV floor) broadcast into every micro-batch — and unlike the
   * LM vocab it is dim-BOUNDED BY CONSTRUCTION (≤ dim entries), so the
   * broadcast is safe at ANY corpus size. Each doc is scored
   * array-locally by [[scoreBags]], so scoring the training corpus
   * through the gate equals the batch weights bit-for-bit (asserted in
   * StreamingSpec). Buckets absent from the model (possible only when
   * train and score corpora differ) price at the smoothed unseen-bucket
   * log-ratio lr0.
   */
  def dsirGateStream(docs: DataFrame, idCol: String, textCol: String,
                     trainDocs: DataFrame, isTarget: Column,
                     dim: Int = 64): DataFrame = {
    import graft.operators.Curation
    val model = Staging( // train once, not per micro-batch trigger
      modelRow(Curation.dsirModel(trainDocs, idCol, textCol, isTarget, dim)))
    scoreBags(docs, idCol, textCol, model, dim)(s =>
      graft.operators.TextAnalysis.pround4(s).as("dsir_weight"))
  }

  /**
   * Streaming Naive-Bayes gate — the ingest-time twin of
   * [[graft.operators.Curation.nbcScore]]: documents arriving on the
   * stream are scored against the NB model TRAINED ON THE STATIC LABELED
   * CORPUS ([[graft.operators.Curation.nbcModel]] + the doc-count
   * prior), so off-class / low-quality pages can be gated before
   * landing — the fastText-classifier serving path.
   *
   * STATELESS like [[dsirGateStream]] (the same one-row broadcast-model
   * recipe): the model is ONE row (bucket→w map + OOV floor w0 + prior),
   * dim-BOUNDED BY CONSTRUCTION, trained once ([[graft.Staging]]), never
   * per trigger. Scoring is the same [[scoreBags]] fold, so scoring the
   * training corpus through the gate equals the batch scorer bit-for-bit
   * (StreamingSpec). Buckets the training corpus never produced price at
   * w0 — a case the SELF-trained batch scorer cannot encounter, but the
   * gate's whole point is a disjoint arriving corpus.
   */
  def nbcGateStream(docs: DataFrame, idCol: String, textCol: String,
                    trainDocs: DataFrame, isPositive: Column,
                    dim: Int = 64): DataFrame = {
    import graft.operators.Curation
    // fail FAST on a degenerate training corpus: an empty or single-class
    // trainDocs would yield a null w0 / empty map, every arriving doc
    // would score null, and the gate would silently pass NOTHING — a
    // stream that runs forever doing nothing is worse than one that
    // refuses to start. One model-sized action at stream setup.
    val classes = trainDocs.agg(
      sum(when(isPositive, 1L).otherwise(0L)).as("pos"),
      sum(when(!isPositive, 1L).otherwise(0L)).as("neg")).head()
    require(classes.get(0) != null && classes.getLong(0) > 0 &&
        classes.getLong(1) > 0,
      s"nbcGateStream needs BOTH classes in the training corpus; got " +
        s"pos=${classes.get(0)}, neg=${classes.get(1)}")
    val model = Staging( // train once, not per micro-batch trigger
      modelRow(Curation.nbcModel(trainDocs, textCol, isPositive, dim))
        .crossJoin(Curation.nbcPrior(trainDocs, isPositive)))
    scoreBags(docs, idCol, textCol, model, dim)(s =>
      graft.operators.TextAnalysis.pround4(s + col("prior")).as("nb_score"))
      .withColumn("nb_pred", col("nb_score") > 0)
  }

  /** A (bucket, weight, floor) model table as ONE broadcastable row:
    * `m` (bucket → weight map, ≤ dim entries) and `floor`. */
  private def modelRow(model: DataFrame): DataFrame =
    model.toDF("bucket", "w", "w0")
      .agg(map_from_entries(collect_list(struct(col("bucket"), col("w"))))
          .as("m"),
        first(col("w0")).as("floor"))

  /**
   * The row-local scorer both hashed-bag gates share: the doc's
   * [[graft.operators.Curation.bagOf]] (bucket, count) array folded
   * against the broadcast `model` row — Σ count·m[bucket] (floor for a
   * bucket the model lacks), each term cast to DECIMAL(28,12) exactly as
   * the batch operators' order-free decimal sum casts it. n_tokens is the
   * sum of the counts; token-less docs are dropped, as in batch. `score`
   * finishes the double-valued sum (it may read the model row's other
   * columns). Output: (id, n_tokens, score).
   */
  private def scoreBags(docs: DataFrame, idCol: String, textCol: String,
                        model: DataFrame, dim: Int)(
                        score: Column => Column): DataFrame = {
    val dec = "decimal(28,12)"
    docs.select(col(idCol),
        graft.operators.Curation.bagOf(col(textCol), dim).as("_f"))
      .filter(size(col("_f")) > 0)
      .crossJoin(broadcast(model))
      .select(col(idCol),
        aggregate(col("_f"), lit(0L), (acc, f) => acc + f.getField("weight"))
          .as("n_tokens"),
        score(aggregate(col("_f"), lit(0.0).cast(dec), (acc, f) =>
          (acc + (f.getField("weight") *
            coalesce(element_at(col("m"), f.getField("bucket")), col("floor")))
            .cast(dec)).cast(dec)).cast("double")))
  }

  /**
   * Streaming keyed upsert — the delivery-semantics completion of
   * [[graft.operators.Exports.upsertByKey]]: each micro-batch MERGEs into
   * the partitioned parquet table (batch wins on key collision, only
   * touched partitions rewritten). At-least-once replay of a micro-batch
   * re-applies the same merge, and the merge is idempotent — so the
   * at-least-once source + idempotent sink compose to effectively-once
   * table state, the same contract as [[run]]'s overwrite-per-batch-path
   * but for a KEYED mutable table rather than an append log. Batches are
   * applied serially in batchId order (foreachBatch's contract), which
   * is what makes "batch wins" well-defined across triggers.
   */
  def upsertStream(spark: SparkSession, tableDir: String, docs: DataFrame,
                   keyCol: String, partitionCol: String,
                   checkpoint: String): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.operators.Exports.upsertByKey(spark, tableDir, batch,
          keyCol, partitionCol)
        ()
      }
      .start()

  /**
   * F3 as an incremental streaming aggregate: 1-hour event-time windows
   * per severity, 10-minute watermark bounding state (late rows beyond it
   * are dropped — the streaming trade-off the batch gap-fill never makes).
   */
  def windowedSeverityCounts(pages: DataFrame,
                             watermark: String = "10 minutes"): DataFrame = {
    val parsed = graft.operators.Parse(pages, Pipeline.DefaultJobStart)
    parsed.filter(col("parse_ok"))
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("severity"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("bucket"), col("severity"), col("cnt"))
  }
}
