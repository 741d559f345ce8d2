package graft

import org.apache.spark.sql.functions._
import graft.operators.{Aggregates, Exports, Route}

class AggregatesSpec extends SparkSuite {
  import spark.implicits._

  private lazy val logs = {
    val pages = Synth.pages(spark, 20000, parts = 8)
    val dims = (Synth.domainReputation(spark), Synth.langMeta(spark))
    Pipeline.transform(pages, dims._1, dims._2)
      .filter($"parse_ok")
      .withColumn("service", $"host")
      .cache()
  }

  test("generator plants real skew (head domain carries >10% of rows)") {
    val top = Aggregates.domainCounts(logs)
      .orderBy($"cnt".desc).limit(1).as[(String, Long)].collect()(0)
    val total = logs.count()
    assert(top._2.toDouble / total > 0.10, s"head domain only ${top._2}/$total")
  }

  test("salted two-phase aggregation is exact vs naive") {
    val naive = Aggregates.domainCounts(logs).as[(String, Long)].collect().toMap
    val salted = Aggregates.domainCountsSalted(logs).as[(String, Long)].collect().toMap
    assert(salted == naive)
    val stats = Aggregates.domainStatsSalted(logs, "service", "anomaly_score")
      .orderBy("service").collect()
    val direct = logs.groupBy($"service")
      .agg(count(lit(1)).as("cnt"), round(sum($"anomaly_score"), 4).as("total"),
        min($"anomaly_score").as("min_v"), max($"anomaly_score").as("max_v"))
      .orderBy("service").collect()
    assert(stats.sameElements(direct))
  }

  test("salted plan splits hot keys across buckets before the final combine") {
    val phase1 = logs
      .withColumn("_salt", pmod(xxhash64($"id"), lit(16)))
      .groupBy($"service", $"_salt").agg(count(lit(1)))
    // the head domain's rows really spread over 16 partial groups
    val headDomain = Aggregates.domainCounts(logs)
      .orderBy($"cnt".desc).limit(1).collect()(0).getString(0)
    val spread = phase1.filter($"service" === headDomain).count()
    assert(spread == 16, s"hot key split into $spread partials")
  }

  test("distinct counts: exact two-phase and HLL agree within rsd") {
    val exact = Aggregates.distinctHostsPerSeverity(logs)
      .as[(String, Long)].collect().toMap
    val approx = Aggregates.approxDistinctHostsPerSeverity(logs, 0.02)
      .as[(String, Long)].collect().toMap
    exact.foreach { case (k, v) =>
      assert(math.abs(approx(k) - v).toDouble / v < 0.1, s"$k: $v vs ${approx(k)}")
    }
  }

  test("AQE skew join: hot key's shuffle partition is split (skew=true in final plan)") {
    // SURVEY §4: the skew-JOIN path. The salted aggregation is asserted
    // above; this pins that a shuffle join on a skewed key is re-planned by
    // AQE's OptimizeSkewedJoin — the hot partition splits instead of one
    // task dragging the stage. Thresholds are lowered so test-sized data
    // triggers the same re-plan a 100 TB hot domain would.
    val keys = Seq(
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "256KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "256KB")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      // one hot domain carries half the rows; payload is md5 hex (shuffle
      // bytes are LZ4-compressed — a constant-ish payload would compress
      // below the skew threshold and mask the skew); tail of 64 domains
      val left = spark.range(0, 200000).select(
        when($"id" % 2 === 0, "hot.example.com")
          .otherwise(concat(lit("d"), pmod($"id", lit(64)))).as("domain"),
        concat(md5($"id".cast("string")), md5(($"id" + 1).cast("string")),
          md5(($"id" + 2).cast("string"))).as("payload"))
      // dim side built WITHOUT a trailing aggregate: OptimizeSkewedJoin
      // pattern-matches SMJ(Sort(ShuffleStage), Sort(ShuffleStage)) — an
      // agg between Sort and the stage (e.g. distinct()) disables the rule
      val right = spark.range(0, 65).select(
        when($"id" === 64, "hot.example.com")
          .otherwise(concat(lit("d"), $"id")).as("domain"))
        .withColumn("reputation", length($"domain").cast("double") / 100.0)
      val joined = left.join(right, "domain")
      val n = joined.collect().length
      assert(n == 200000, "every row joins exactly one dim row")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"final adaptive plan must mark the skewed join:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("B2/B5/B6: partitioned table DDL prunes; csv/json exports round-trip") {
    val root = tmpDir("exp")
    Pipeline.run(spark, Synth.pages(spark, 2000, parts = 4),
      Synth.domainReputation(spark), Synth.langMeta(spark), root)
    Exports.createLogsTable(spark, root, "logs_t")
    val pruned = spark.sql("SELECT count(*) FROM logs_t WHERE severity = 'ERROR'")
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(severity"),
      s"severity must prune partitions:\n$scan")
    assert(pruned.as[Long].collect()(0) ==
      Route.logs(spark, root).filter($"severity" === "ERROR").count())

    val sel = Route.logs(spark, root).select($"id", $"ts", $"severity", $"message")
    Exports.exportCsv(sel, s"$root/csv", cap = 500)
    Exports.exportJson(sel, s"$root/json", cap = 500)
    val csvBack = spark.read.option("header", "true").option("multiLine", "true")
      .csv(s"$root/csv")
    val jsonBack = spark.read.json(s"$root/json")
    assert(csvBack.count() == 500 && jsonBack.count() == 500)
    // caps respect the forced sort: newest ts first
    val maxTs = sel.agg(max($"ts")).collect()(0).getTimestamp(0)
    assert(jsonBack.agg(max($"ts")).collect()(0).getString(0).nonEmpty)
    assert(csvBack.agg(max($"ts".cast("timestamp"))).collect()(0)
      .getTimestamp(0) == maxTs)
  }

  test("keyed upsert: batch wins on collision, inserts land, untouched " +
    "partitions survive, replay is idempotent") {
    import graft.operators.Exports
    val dir = tmpDir("upsert") + "/tbl"
    val base = Seq((1L, "v0", "p1"), (2L, "v0", "p1"), (3L, "v0", "p2"),
      (4L, "v0", "p3")).toDF("id", "ver", "part")
    Exports.upsertByKey(spark, dir, base, "id", "part")
    val batch = Seq((2L, "v1", "p1"), (9L, "new", "p2"))
      .toDF("id", "ver", "part")
    Exports.upsertByKey(spark, dir, batch, "id", "part")
    def state() = spark.read.parquet(dir).select($"id", $"ver", $"part")
      .as[(Long, String, String)].collect().toSet
    val expect = Set((1L, "v0", "p1"), (2L, "v1", "p1"), (3L, "v0", "p2"),
      (4L, "v0", "p3"), (9L, "new", "p2"))
    assert(state() == expect, state().toString)
    // at-least-once replay of the same batch converges to the same state
    Exports.upsertByKey(spark, dir, batch, "id", "part")
    assert(state() == expect, "replay must be a no-op")
    // untouched partition p3's file is NOT rewritten by the batch
    val p3Files = new java.io.File(s"$dir/part=p3").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    Exports.upsertByKey(spark, dir,
      Seq((1L, "v2", "p1")).toDF("id", "ver", "part"), "id", "part")
    val p3After = new java.io.File(s"$dir/part=p3").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    assert(p3After == p3Files,
      "dynamic overwrite must leave untouched partitions' files alone")
  }

  test("keyed upsert into a file: URI table: the second upsert merges " +
    "instead of failing on the existing path") {
    val dir = "file:" + tmpDir("upsert_uri") + "/tbl"
    Exports.upsertByKey(spark, dir,
      Seq((1L, "v0", "p1"), (2L, "v0", "p2")).toDF("id", "ver", "part"),
      "id", "part")
    Exports.upsertByKey(spark, dir,
      Seq((2L, "v1", "p2"), (3L, "new", "p1")).toDF("id", "ver", "part"),
      "id", "part")
    val got = spark.read.parquet(dir).select($"id", $"ver", $"part")
      .as[(Long, String, String)].collect().toSet
    assert(got == Set((1L, "v0", "p1"), (2L, "v1", "p2"), (3L, "new", "p1")),
      got.toString)
  }

  test("z-order layout: hand-computed Morton value; point scans on BOTH " +
    "dimensions overlap fewer files than a single-column sort allows") {
    // zValue(5, 3): a=101b at even bit positions (1,0,16), b=011b at odd
    // (2,8) -> 1+2+8+16 = 27
    val z = spark.range(1).select(
      Exports.zValue(lit(5L), lit(3L), bits = 4).as("z"))
      .as[Long].collect().head
    assert(z == 27L, s"zValue(5,3) must be 27, got $z")
    // 64x64 grid: a = id%64, b = id/64 — under an a-only sort every file
    // spans ALL of b; under z-order each file covers a z-contiguous
    // region that is local in both dimensions
    val df = spark.range(4096).select(($"id" % 64).as("a"),
      ($"id" / 64).cast("long").as("b"), $"id".as("payload"))
    val zdir = tmpDir("zorder"); val adir = tmpDir("asort")
    Exports.writeZOrdered(df, "a", "b", zdir, files = 16, bits = 8)
    df.repartitionByRange(16, $"a").sortWithinPartitions($"a")
      .write.mode("overwrite").parquet(adir)
    def fileStats(dir: String, c: String): Seq[(Long, Long)] =
      new java.io.File(dir).listFiles()
        .filter(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet")).toSeq
        .map { f =>
          val r = spark.read.parquet(f.getAbsolutePath)
            .agg(min(col(c)), max(col(c))).head()
          (r.getLong(0), r.getLong(1))
        }
    def overlaps(stats: Seq[(Long, Long)], v: Long): Int =
      stats.count { case (lo, hi) => lo <= v && v <= hi }
    val zFiles = fileStats(zdir, "b")
    assert(zFiles.size > 4, s"want a real multi-file layout: ${zFiles.size}")
    val zOnB = overlaps(zFiles, 32L)
    val aOnB = overlaps(fileStats(adir, "b"), 32L)
    assert(zOnB < aOnB,
      s"z-order must prune on b where the a-sort cannot: z=$zOnB a=$aOnB")
    val zOnA = overlaps(fileStats(zdir, "a"), 7L)
    assert(zOnA < zFiles.size,
      s"z-order must still prune on a: $zOnA of ${zFiles.size} files")
  }
}
