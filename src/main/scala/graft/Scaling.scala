package graft

import org.apache.spark.sql.functions._

/**
 * Scaling-efficiency evidence (north_rule): the two-cluster-size criterion
 * (N vs 4N executors, throughput efficiency ≥ 0.8) evidenced in this
 * sandbox by running the IDENTICAL job on IDENTICAL parquet input at two
 * `local[N]` parallelism levels, each in its OWN JVM via spark-submit
 * (`scripts/scaling.sh` orchestrates) — BASELINE.md "Target" section.
 *
 * Three mains, each a spark-submit entry:
 *  - [[ScalingGen]]  — materialize the synthetic pages input once;
 *  - [[ScalingStep]] — warmup + timed runs of the full checkpointed
 *    pipeline at the master/parallelism spark-submit passed in;
 *  - [[CpuProbe]]    — pure-compute scaling probe (no I/O): calibrates
 *    what the box itself can scale, to separate engine behavior from
 *    virtualized-CPU limits.
 */
object ScalingGen {
  def main(args: Array[String]): Unit = {
    val Array(nStr, out) = args.take(2)
    val spark = GraftSession.local()
    Synth.pages(spark, nStr.toLong, parts = 128)
      .write.mode("overwrite").parquet(out)
    println(s"""{"generated":$nStr,"out":"$out"}""")
    spark.stop()
  }
}

object ScalingStep {
  def main(args: Array[String]): Unit = {
    val input = args(0)
    val outRoot = args(1)
    val runs = if (args.length > 2) args(2).toInt else 2
    val spark = GraftSession.local()
    val cores = spark.sparkContext.defaultParallelism
    val pages = spark.read.parquet(input)
    val n = pages.count()
    val dims = (Synth.domainReputation(spark), Synth.langMeta(spark))
    // warmup sized to actually reach C2-tier JIT on the hot loops: 50k rows
    // finished before compilation kicked in and the first big run paid ~50%
    // extra (measured 156s vs 105s at 32M); 2M rows closes most of the gap
    Pipeline.run(spark, pages.limit(2000000), dims._1, dims._2, s"$outRoot/warm")
    val times = (1 to runs).map { i =>
      val t0 = System.nanoTime()
      Pipeline.run(spark, pages, dims._1, dims._2, s"$outRoot/run$i")
      (System.nanoTime() - t0) / 1e9
    }
    val best = times.min
    println(f"""{"cores":$cores,"rows":$n,"secs":$best%.2f,""" +
      f""""docs_per_sec":${(n / best).round},"all_runs":[${times.map(t => f"$t%.2f").mkString(",")}]}""")
    spark.stop()
  }
}

/** Pure-compute probe: xxhash64 chain over a range, no I/O, no shuffle. */
object CpuProbe {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toLong else 500000000L
    val spark = GraftSession.local()
    val cores = spark.sparkContext.defaultParallelism
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(0, n, 1, cores * 4)
        .select(bit_xor(xxhash64(xxhash64(xxhash64(col("id"))))).as("s"))
        .collect()
      (System.nanoTime() - t0) / 1e9
    }
    once() // warmup
    val best = (1 to 2).map(_ => once()).min
    println(f"""{"cores":$cores,"n":$n,"secs":$best%.2f,"hashes_per_sec":${(n / best).round}}""")
    spark.stop()
  }
}

/**
 * Memory-BANDWIDTH probe — the ceiling [[CpuProbe]] cannot see: each task
 * streams sequentially over its own heap buffer sized far past L3, so the
 * aggregate GB/s measures the memory subsystem, not the ALUs. The flagship
 * pipeline is bandwidth-bound through parse/route (wide string columns),
 * so when the host hands an 8-thread run ~4× the per-core bandwidth of a
 * 32-thread run, the LOW scaling leg is favored and the raw N→4N ratio
 * compresses with no plan-level scaling loss — this probe quantifies that
 * allocation directly (BENCH.md §1 round 5). A diagnostic main, not a
 * product operator: the imperative per-partition loop is the measurement
 * instrument.
 */
object MemProbe {
  def main(args: Array[String]): Unit = {
    val mbPerTask = if (args.length > 0) args(0).toInt else 512
    val sweeps = if (args.length > 1) args(1).toInt else 6
    val spark = GraftSession.local()
    val sc = spark.sparkContext
    val cores = sc.defaultParallelism
    // Long arithmetic: Int overflows at mbPerTask >= 2048 (negative array
    // size); bound the sweep instead of crashing it
    require(mbPerTask >= 1 && mbPerTask < 16384,
      s"mbPerTask must be in [1, 16384), got $mbPerTask")
    val n = (mbPerTask.toLong * 1024 * 1024 / 8).toInt // longs per task buffer
    def once(): Double = {
      val t0 = System.nanoTime()
      sc.parallelize(0 until cores, cores).map { _ =>
        val a = new Array[Long](n) // 1 write pass (zeroing) + `sweeps` reads
        var s = 0L
        var k = 0
        while (k < sweeps) {
          var i = 0
          while (i < a.length) { s += a(i); i += 1 }
          k += 1
        }
        s
      }.reduce(_ + _)
      (System.nanoTime() - t0) / 1e9
    }
    once() // warmup (JIT + heap growth)
    val best = (1 to 2).map(_ => once()).min
    val gb = cores.toDouble * mbPerTask * (sweeps + 1) / 1024.0
    println(f"""{"cores":$cores,"mb_per_task":$mbPerTask,"sweeps":$sweeps,"secs":$best%.2f,"gb_per_sec":${gb / best}%.1f,"gb_per_sec_per_core":${gb / best / cores}%.2f}""")
    spark.stop()
  }
}
