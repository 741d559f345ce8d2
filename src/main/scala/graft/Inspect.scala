package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.FormattedMode

/**
 * Inspects a named subset of [[SparkEntry.queries]]. For each name it writes
 * the [[Verify]] layout — `<outDir>/<name>/` parquet — plus
 * `<outDir>/<name>.plan.txt` (the formatted EXPLAIN), and one
 * `oracle_sql.json` restricted to the named queries, so
 * `scripts/check_oracles.py <outDir> <sfDir>` validates just that subset.
 *
 * Run: sbt "runMain graft.Inspect <sfDir> <outDir> <name> [<name> ...]"
 */
object Inspect {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: Inspect <sfDir> <outDir> <name> [<name> ...]")
    val Seq(sfDir, outDir) = args.toSeq.take(2)
    val names = args.toSeq.drop(2).distinct
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")

    val spark = GraftSession.local()
    Files.createDirectories(Paths.get(outDir))
    // one Staging scope per query: its stages are released once it is written
    names.foreach { name => Staging.scope {
      val df = SparkEntry.queries(name)(spark, sfDir)
      Files.writeString(Paths.get(s"$outDir/$name.plan.txt"),
        df.queryExecution.explainString(FormattedMode))
      df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    }}
    // JSON string escape: backslash, quote and every control char (< 0x20)
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = names.flatMap(n => SparkEntry.oracleSql.get(n).map(sql => s"${q(n)}: ${q(sql)}"))
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
