package graft

import org.apache.spark.sql.SparkSession

/**
 * The one SparkSession every graft main and test builds: [[GraftExtensions]],
 * AQE on, UTC, UI off, log level WARN, on `local[cpus]` with `cpus` shuffle
 * partitions — the session [[Bench]] builds. Under spark-submit
 * (`spark.master` already set) the master and the shuffle partitions are the
 * submitter's, so `--master local[C] --conf spark.sql.shuffle.partitions=C`
 * wins.
 */
object GraftSession {

  /** `SPARK_GRAFT_CPUS` when set, else the host's processor count. */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(cpus: Int = defaultCpus): SparkSession = {
    val builder = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = (if (sys.props.contains("spark.master")) builder
      else builder.master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus.toLong)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
