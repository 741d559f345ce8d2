package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.Timestamp
import scala.util.{Random, Try}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.Pipeline
import graft.operators.{Analytics, Exports, Route}

/**
 * The dashboard phase of `flagship`: the read side of the sink a
 * `Pipeline.run` pass just wrote. One analyst session (a closed loop with
 * one client) sends the reference's REST calls in a fixed number of rounds.
 * Each response is collected to the driver, or for exports written as one
 * file. Every distinct request is also sent once untimed before the loop;
 * that first response is what `run.py` checks against DuckDB, and every
 * timed response must hash to the same bytes.
 *
 * One round is one view of each of the reference's two pages, one call per
 * REST endpoint, as mapped in SURVEY.md sections 3.2-3.3:
 *  - the dashboard page: `/dashboard/{metrics, log-volume,
 *    log-level-distribution, top-services, anomalies}`;
 *  - the search page: the service-name filter list, two searches (one
 *    filtered to ERROR and WARN, one not) with pages 0 and 1 each, one
 *    keyset page (the recast of deep paging) and the CSV and JSON exports.
 * So the mix is one call per endpoint per view, four for searching. The
 * reference records no traffic, so this is the shape of a view, not a
 * measured frequency of calls.
 */
object Dashboard {
  final case class Req(kind: String, spec: Map[String, Any], call: () => Response) {
    val key: String = Json.render(spec)
  }
  /** A collected result (canonical rows) or an export file. */
  final case class Response(rows: Seq[Seq[Any]], file: Option[String]) {
    lazy val hash: String = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      md.update(file.map(f => Files.readAllBytes(Paths.get(f))).getOrElse(Json.render(rows).getBytes("UTF-8")))
      md.digest().map("%02x".format(_)).mkString
    }
    /** Rows returned: collected rows, or the export's records. */
    def count: Long = file.fold(rows.size.toLong) { f =>
      val lines = Files.lines(Paths.get(f))
      try lines.count() - (if (f.endsWith(".csv")) 1 else 0) finally lines.close()
    }
  }

  val SearchCols = Seq("id", "url", "ts", "level", "service", "message", "environment",
    "anomaly_score", "is_anomaly", "confidence")
  val ExportCols = Seq("id", "ts", "level", "service", "message")
  val Day0: Long = 1704067200L // 2024-01-01T00:00:00Z, start of Synth's 24 h window

  def canon(v: Any): Any = v match {
    case t: Timestamp => val i = t.toInstant; i.getEpochSecond * 1000000L + i.getNano / 1000
    case d: java.math.BigDecimal => d.doubleValue
    case r: Row => r.toSeq.map(canon)
    case other => other
  }

  /** One analyst's session against the sink at `root`: builds the seeded
    * requests of a round and sends each distinct request once untimed,
    * keeping its reference response; `loop` then runs the rounds. */
  final class Session(c: Ctx, root: String) {
    c.extra("sink") = root
    private val rnd = new Random(c.seed)
    private def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.length))

    private def logs = Route.logs(c.spark, root).withColumnRenamed("severity", "level")
    private def anoms = c.spark.read.parquet(s"$root/anomalies")
    private def collect(df: DataFrame) = Response(df.collect().toSeq.map(r => r.toSeq.map(canon)), None)
    private def byLevel(df: DataFrame, lv: Option[String]) = lv.fold(df)(l => df.filter(col("level") === l))
    private def ts(sec: Long) = new Timestamp(sec * 1000L)
    private def hours(h0: Int, h1: Int) = (Day0 + h0 * 3600L, Day0 + h1 * 3600L)
    private def inRange(df: DataFrame, from: Long, to: Long) =
      df.filter(col("ts").between(lit(ts(from)), lit(ts(to))))

    // the seed picks terms and windows; level filters and window widths are
    // fixed so that request cost does not swing from seed to seed
    private val dashboardPage = {
      val h0 = rnd.nextInt(16)
      val (from, to) = hours(h0, h0 + 8)
      val after = Pipeline.DefaultJobStart.getTime / 1000 - 24 * 3600
      Seq(
        Req("metrics", Map("kind" -> "metrics", "start_s" -> from, "end_s" -> to),
          () => collect(Analytics.dashboardMetrics(inRange(logs, from, to)))),
        Req("volume", Map("kind" -> "volume", "start_s" -> from, "end_s" -> to),
          () => collect(Analytics.logVolume(inRange(logs, from, to)))),
        Req("levels", Map("kind" -> "levels"), () => collect(Analytics.levelDistribution(logs))),
        Req("top_services", Map("kind" -> "top_services", "k" -> 10),
          () => collect(Analytics.topServices(logs, 10))),
        Req("anomalies", Map("kind" -> "anomalies", "after_s" -> after),
          () => collect(Analytics.Anomalies.recent(anoms, ts(after)))))
    }
    private def search(lv: Seq[String]) = {
      val q = pick(Seq("timeout", "connection refused", "exception", "lock", "peer reset",
        "gateway", "error code", "alpha", "delta tango", "retry"))
      val h0 = rnd.nextInt(18)
      val (from, to) = hours(h0, h0 + 6)
      (0 to 1).map { page =>
        Req("search", Map("kind" -> "search", "q" -> q, "levels" -> lv,
          "start_s" -> from, "end_s" -> to, "page" -> page, "size" -> 20),
          () => collect(Analytics.searchLogs(logs, Some(q), lv, Nil, Nil,
            Some(ts(from)), Some(ts(to)), page = page, size = 20).select(SearchCols.map(col): _*)))
      }
    }
    private val searchPage = {
      val names = Req("service_names", Map("kind" -> "service_names"),
        () => collect(Analytics.serviceNames(logs)))
      val searches = search(Seq("ERROR", "WARN")) ++ search(Nil)
      val cur = Day0 + 3600 + rnd.nextInt(20 * 3600)
      val id = (1 to 64).map(_ => "0123456789abcdef"(rnd.nextInt(16))).mkString
      Seq(names) ++ searches ++ Seq(
        Req("search_after", Map("kind" -> "search_after", "ts_s" -> cur, "id" -> id, "size" -> 20),
          () => collect(Analytics.searchAfter(logs, "ts", "id", lit(ts(cur)), lit(id), 20)
            .select(SearchCols.map(col): _*))),
        export("export_csv", None)(Exports.exportCsv(_, _)),
        export("export_json", Some("ERROR"))(Exports.exportJson(_, _)))
    }
    private def export(kind: String, lv: Option[String])(write: (DataFrame, String) => Unit) =
      Req(kind, Map("kind" -> kind, "level" -> lv, "cap" -> Exports.ExportCap), () => {
        val out = s"${c.work}/$kind"
        write(byLevel(logs, lv).select(ExportCols.map(col): _*), out)
        Response(Nil, Some(new java.io.File(out).listFiles()
          .filter(_.getName.startsWith("part-")).head.getPath))
      })
    private val round: Seq[Req] = dashboardPage ++ searchPage

    // untimed first pass: warms every plan and keeps the reference response;
    // a request that throws here has no reference, so it fails every time
    private val reference = {
      val dir = Files.createDirectories(Paths.get(s"${c.work}/responses"))
      val refs = round.zipWithIndex.map { case (req, i) =>
        Try(req.call()).fold(e => (req.key, "", Map("key" -> req.key, "spec" -> req.spec,
          "error" -> Main.describe(e))), { r =>
          val saved = r.file.map { f =>
            val to = dir.resolve(s"$i.${req.kind.stripPrefix("export_")}")
            Files.copy(Paths.get(f), to, StandardCopyOption.REPLACE_EXISTING).toString
          }
          (req.key, r.hash, Map("key" -> req.key, "spec" -> req.spec, "rows" -> r.rows, "file" -> saved))
        })
      }
      c.extra("reference") = refs.map(_._3)
      refs.map(r => r._1 -> r._2).toMap
    }

    /** One untimed round, then `rounds` timed ones. Until a request has run
      * about three times its cost is still falling (JIT and plan caches), so
      * the warm round keeps that fall out of the timed ones. The count is
      * fixed, whatever `--seconds` is, so that every run's latency figures
      * come from the same number of requests. */
    def loop(kind: String): Unit = {
      round.foreach(req => Try(req.call()))
      for (_ <- 1 to c.args("rounds").toInt; req <- round) {
        val r = c.op(kind, req.key, Map("type" -> req.kind))(req.call()) { r =>
          if (r.hash == reference(req.key)) None else Some("response differs from the first response")
        }
        c.ops(c.ops.length - 1) = c.ops.last + ("rows" -> r.map(_.count).getOrElse(0L))
      }
    }
  }
}
