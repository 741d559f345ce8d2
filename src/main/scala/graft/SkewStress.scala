package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Aggregates

/**
 * Skew stress with RUNTIME evidence (r4 verdict "next round" #5): the
 * PlanSpec gates assert plan SHAPE (salt column present, AQE flags on);
 * this main runs the skewed workload and records what actually happened:
 *
 *  1. the per-partition row histogram of the shuffle BEFORE and AFTER
 *     salting — the hot key's reducer really shrinks ~S×;
 *  2. an AQE skew-join over the skewed key with skew thresholds scaled
 *     to the local data — the final adaptive plan must contain skewed
 *     AQEShuffleRead splits (counted from the executed plan);
 *  3. salted two-phase aggregate == plain aggregate on the SAME skewed
 *     input (the q_salted_agg contract, re-pinned on real skew), with
 *     both wall times.
 *
 * The input is [[Synth.pages]]' planted Zipf domains (u³ power law — the
 * head domain carries ~21% of all rows), the same skew the flagship
 * pipeline routes; `--alpha` sharpens it (u^alpha).
 *
 * Run: sbt "runMain graft.SkewStress [nRows]"  → one markdown block for
 * BENCH.md.
 */
object SkewStress {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toLong else 4000000L
    val spark = GraftSession.local()
    // 32 reducers whatever the core count, so the hot key's partition
    // stands out against the median; local-scale thresholds so AQE's skew
    // split actually fires on MBs (the production defaults are 256 MB / 64 MB)
    Seq("spark.sql.shuffle.partitions" -> "32",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1m",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "512k",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1" // force SMJ
    ).foreach { case (k, v) => spark.conf.set(k, v) }

    val pages = Staging(Synth.pages(spark, n, parts = 32)
      .select(graft.operators.Parse.hostOf(col("url")).as("host"),
        col("url"), length(col("text")).as("len"))
      .filter(col("host").isNotNull))
    val total = pages.count()

    def histo(df: DataFrame, tag: String): (Long, Long) = {
      val parts = df.groupBy(spark_partition_id().as("p"))
        .agg(count(lit(1)).as("rows"))
        .agg(max(col("rows")).as("mx"),
          percentile_approx(col("rows"), lit(0.5), lit(1000)).as("med"))
        .head()
      val (mx, med) = (parts.getLong(0), parts.getLong(1))
      println(f"| $tag%-34s | $mx%,12d | $med%,10d | ${mx.toDouble / med}%6.1fx |")
      (mx, med)
    }

    println(s"\n### Skew stress @ $total rows (Zipf u^3 domains, head ~21%)\n")
    println("| shuffle | max partition rows | median | max/med |")
    println("|---|---|---|---|")
    // 1. partition histograms: hash-partition on the raw key vs salted key
    val plainPart = pages.repartition(32, col("host"))
    val (mxPlain, _) = histo(plainPart, "repartition(host)  — skew victim")
    val salted = pages.withColumn("_salt", pmod(xxhash64(col("url")), lit(16)))
    val saltedPart = salted.repartition(32, col("host"), col("_salt"))
    val (mxSalted, _) = histo(saltedPart, "repartition(host, salt16) — salted")
    println(f"\nsalting shrank the hottest reducer ${mxPlain.toDouble / mxSalted}%.1fx\n")

    // 2. AQE skew-join: per-host join against a host-keyed side big enough
    // to shuffle (forced SMJ), skewed partitions must SPLIT at runtime
    val hostDim = Staging(pages.groupBy(col("host"))
      .agg(count(lit(1)).as("host_docs"), sum(col("len")).as("host_bytes")))
    // max(length(url)) keeps the url PAYLOAD crossing the join shuffle
    // (column pruning otherwise strips the probe side down to `host`
    // alone — a partition of identical strings compresses below any
    // skew threshold and the experiment measures nothing)
    val joined = pages.join(hostDim, Seq("host"))
      .agg(count(lit(1)).as("rows"), sum(col("host_docs")).as("chk"),
        max(length(col("url"))).as("mx_url"))
    val t0 = System.nanoTime()
    // collect(), NOT head(): head wraps the plan in a NEW limit query
    // execution, leaving joined.queryExecution's adaptive plan unexecuted
    // (isFinalPlan=false) — the skew splits would be invisible
    val row = joined.collect()(0)
    val tJoin = (System.nanoTime() - t0) / 1e9
    val finalPlan = joined.queryExecution.executedPlan.toString
    val skewedReads = "skewed".r.findAllIn(finalPlan).size
    println(f"AQE skew-join: ${row.getLong(0)}%,d joined rows in $tJoin%.1fs; " +
      s"final plan AQEShuffleRead skew markers: $skewedReads")
    if (skewedReads == 0) System.err.println(finalPlan)
    require(skewedReads > 0,
      "AQE did not split any skewed partition — thresholds or skew wrong")

    // 3. salted == plain on the skewed input, with wall times
    def time[T](body: => T): (T, Double) = {
      val t = System.nanoTime(); val r = body
      (r, (System.nanoTime() - t) / 1e9)
    }
    val (plainRows, tPlain) = time {
      Aggregates.domainCounts(pages, "host")
        .orderBy("host").collect()
    }
    val (saltedRows, tSalted) = time {
      Aggregates.domainCountsSalted(pages, "host", saltFrom = "url")
        .orderBy("host").collect()
    }
    require(plainRows.toSeq == saltedRows.toSeq,
      "salted two-phase aggregate diverged from the plain aggregate")
    println(f"salted == plain on ${plainRows.length} hosts: EXACT.  " +
      f"plain $tPlain%.2fs, salted $tSalted%.2fs")
    spark.stop()
  }
}
