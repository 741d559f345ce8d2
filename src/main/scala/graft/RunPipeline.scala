package graft

/**
 * spark-submit entry point for the flagship pipeline (north_rule):
 *
 *   spark-submit --class graft.RunPipeline <jar> <outRoot> [nRows] [parts]
 *   (or: sbt "runMain graft.RunPipeline /tmp/out 100000 32")
 *
 * Synthesizes the deterministic pages table at the requested size, runs
 * parse → enrich → route → aggregate with checkpointed stages, and prints
 * one JSON status line (rows routed/rejected, docs/sec, resume flags).
 */
object RunPipeline {
  def main(args: Array[String]): Unit = {
    val outRoot = args.headOption.getOrElse(sys.error(
      "usage: RunPipeline <outRoot> [nRows] [parts] [cores]"))
    val n = if (args.length > 1) args(1).toLong else 100000L
    val parts = if (args.length > 2) args(2).toInt else 32
    val spark = GraftSession.local(
      if (args.length > 3) args(3).toInt else GraftSession.defaultCpus)

    val t0 = System.nanoTime()
    val pages = Synth.pages(spark, n, parts = parts)
    val result = Pipeline.run(spark, pages,
      Synth.domainReputation(spark), Synth.langMeta(spark), outRoot)
    val secs = (System.nanoTime() - t0) / 1e9

    val (routed, rejected) = result.stats
      .map(s => (s.routedRows, s.rejectedRows))
      .getOrElse {
        // resumed run: read the committed stats back from the checkpoint
        val c = graft.plans.Checkpoint.commits(spark, outRoot)
          .filter(org.apache.spark.sql.functions.col("stageId") === "route")
          .collect()(0)
        (c.getAs[Long]("outputRows"), c.getAs[Long]("rejectedRows"))
      }
    val docsPerSec = if (result.ran) (n / secs).round else 0L
    println(s"""{"rows":$n,"routed":$routed,"rejected":$rejected,""" +
      s""""ran":${result.ran},"secs":${f"$secs%.2f"},"docs_per_sec":$docsPerSec,"out":"$outRoot"}""")
    spark.stop()
  }
}
