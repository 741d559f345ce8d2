package perfbench

import scala.util.Try
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.{Pipeline, RefOracle, Synth}
import graft.operators.{Enrich, Parse, Route, Score}

/**
 * `flagship`: the sink's write path, then its read side. Set-up
 * materializes `Synth.pages(seed)` as parquet (the generator stays out of
 * the timed plan). Each write operation is one full `Pipeline.run` (route
 * stage + aggregate stage + commits) into a fresh root, closed loop, one
 * job at a time; then one analyst's dashboard session reads the last sink
 * written ([[Dashboard]]).
 */
object Flagship {
  final case class Inputs(pages: () => DataFrame, domainRep: DataFrame, langMeta: DataFrame)

  def run(c: Ctx): Seq[Double] = {
    val docs = c.args("docs").toLong
    val input = s"${c.work}/input"
    val setup = (1 to 3).map(_ => Main.secondsOf {
      Synth.pages(c.spark, docs, c.seed, parts = 2 * c.cpus)
        .write.mode("overwrite").parquet(input)
    })
    def inputs() = Inputs(() => c.spark.read.parquet(input),
      Synth.domainReputation(c.spark, seed = c.seed), Synth.langMeta(c.spark))
    var in = inputs()
    def pass(root: String): Pipeline.RunResult =
      Pipeline.run(c.spark, in.pages(), in.domainRep, in.langMeta, root)

    pass(s"${c.work}/warmup")  // untimed: pays the first pass's code generation
    Main.delete(s"${c.work}/warmup")
    var last: Option[String] = None
    val t0 = System.nanoTime()
    var i = 0
    while (i < 2 || (System.nanoTime() - t0) / 1e9 < c.seconds) {
      val root = s"${c.work}/pass-$i"
      val ok = c.op("pipeline", "run", Map("docs" -> docs))(pass(root))(r => conservation(c, r, root, docs))
      if (ok.nonEmpty) { last.foreach(Main.delete); last = Some(root) } else Main.delete(root)
      i += 1
    }
    last.foreach(root => c.check("ref_oracle_sample")(oracleSample(c, input, root)))
    c.extra("sink_bytes") = last.map(root =>
      Seq("routed", "anomalies", "sink_counts").map(d => dirBytes(s"$root/$d")).sum).getOrElse(0L)

    val dashboard = last.map(new Dashboard.Session(c, _))
    dashboard.foreach(_.loop("request"))

    if (c.traced) {
      layers(c, in)
      dashboard.foreach(_.loop("request_traced"))
      val scaled = c.spans("pipeline.run.local1") {
        c.spark.stop()
        c.spark = Main.session(1, c.work)
        in = inputs()
        Main.secondsOf(pass(s"${c.work}/local1"))
      }
      c.extra("local1_pass_s") = scaled
    }
    setup
  }

  /** Row conservation across the fan-out and the aggregate stage. */
  private def conservation(c: Ctx, r: Pipeline.RunResult, root: String, docs: Long): Option[String] = {
    val s = r.stats.get
    val sinkCounts = c.spark.read.parquet(s"$root/sink_counts").agg(sum("doc_count")).head().getLong(0)
    val anomalies = c.spark.read.parquet(s"$root/anomalies").count()
    if (!r.ran || !r.ranAggregate) Some("a stage did not run")
    else if (s.inputRows != docs) Some(s"input rows ${s.inputRows} != $docs")
    else if (s.routedRows + s.rejectedRows != docs) Some(s"routed ${s.routedRows} + rejected ${s.rejectedRows} != $docs")
    else if (sinkCounts != s.routedRows) Some(s"sum(sink_counts.doc_count) $sinkCounts != routed ${s.routedRows}")
    else if (anomalies != s.routedRows) Some(s"anomaly rows $anomalies != routed ${s.routedRows}")
    else None
  }

  /** `RefOracle.process` equality on a seeded sample of input rows: every
    * sampled row is either in the sink with the oracle's values or in the
    * dead-letter partition with the oracle's reason. */
  private def oracleSample(c: Ctx, input: String, root: String): Option[String] = {
    val spark = c.spark
    val sample = spark.read.parquet(input)
      .filter(pmod(xxhash64(col("url"), lit(c.seed)), lit(32L)) === 0)
      .select("url", "warc_ts", "text", "lang").collect()
    val urls = sample.map(_.getString(0)).toSeq
    val sink = Route.logs(spark, root).filter(col("url").isin(urls: _*))
      .select("url", "id", "ts", "severity", "service", "message", "text", "environment",
        "message_length", "has_exception", "has_timeout", "has_connection",
        "anomaly_score", "is_anomaly", "confidence", "alert")
      .collect().map(r => r.getString(0) -> r).toMap
    val rejected = Route.rejected(spark, root).filter(col("url").isin(urls: _*))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val t0 = Pipeline.DefaultJobStart
    val bad = sample.iterator.flatMap { r =>
      val url = r.getString(0)
      RefOracle.process(url, r.getTimestamp(1), r.getString(2), r.getString(3), t0) match {
        case Left(rej) =>
          if (rejected.get(url).contains(rej.reason)) None else Some(s"$url: reject ${rej.reason}")
        case Right(o) => sink.get(url) match {
          case None => Some(s"$url: missing from sink")
          case Some(g) =>
            val got = Seq(g.get(1), g.get(2), g.get(3), g.get(4), g.get(5), g.get(6), g.get(7),
              g.get(8), g.get(9), g.get(10), g.get(11), g.get(12), g.get(13), g.get(14), g.get(15))
            val want = Seq(o.id, o.ts, o.severity, o.host, o.message, o.text, o.environment,
              o.messageLength.get, o.hasException.get, o.hasTimeout.get, o.hasConnection.get,
              o.anomalyScore, o.isAnomaly, o.confidence, o.alert)
            if (got == want) None else Some(s"$url: sink row differs from RefOracle")
        }
      }
    }.take(3).toSeq
    if (sample.length < 1000) Some(s"sample has only ${sample.length} rows")
    else if (bad.nonEmpty) Some(bad.mkString("; "))
    else None
  }

  private def dirBytes(path: String): Long = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) 0L
    else java.nio.file.Files.walk(p).filter(java.nio.file.Files.isRegularFile(_))
      .mapToLong(java.nio.file.Files.size(_)).sum()
  }

  /** Traced-run layer split. Cumulative noop-sink prefixes give scan,
    * parse, enrich and score self times; then one `Pipeline.run` under the
    * recorder, whose SQL executions split route, lineage, aggregates and
    * commits, keyed on their output paths. */
  private def layers(c: Ctx, in: Inputs): Unit = {
    val ts = Pipeline.DefaultJobStart
    val prefixes: Seq[(String, () => DataFrame)] = Seq(
      "scan" -> (() => in.pages()),
      "parse" -> (() => Parse(in.pages(), ts)),
      "enrich" -> (() => Enrich(Parse(in.pages(), ts), in.domainRep, in.langMeta, ts)),
      "score" -> (() => Score(Enrich(Parse(in.pages(), ts), in.domainRep, in.langMeta, ts))))
    for (_ <- 1 to 2; (name, df) <- prefixes)
      c.spans(s"prefix.$name")(Main.noop(df()))
    c.startRecorder()
    val root = s"${c.work}/traced"
    c.op("pipeline_traced", "run")(c.spans("pipeline.run")(
      Pipeline.run(c.spark, in.pages(), in.domainRep, in.langMeta, root)))(_ => None)
    Try(Main.delete(root))
  }
}
