package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Staging

/**
 * Export + DDL surface (SURVEY.md §2 B2, B5, B6).
 *
 *  - B5 CSV export: the reference hand-rolls RFC-4180 quoting
 *    (`controller/LogSearchController.java:188-220`, escape rules
 *    `:212-220`: quote iff the value contains , " \n \r, double inner
 *    quotes) with a 10 000-row cap (`:29`). Spark's CSV writer implements
 *    the identical quoting, so export = orderBy + limit + write.
 *  - B6 JSON export: same flow through the JSON writer (`:110-134`).
 *  - B2 index DDL: the reference creates the ES `logs` index with explicit
 *    mappings (`service/ElasticsearchService.java:127-162`); the Spark
 *    analog declares the routed sink as a partitioned table over the same
 *    parquet layout, making it SQL-addressable with partition pruning.
 */
object Exports {

  val ExportCap = 10000 // LogSearchController.java:29

  /** B5 — CSV export with the reference's forced sort + cap (I3).
    * escape=`"` makes embedded quotes DOUBLED (RFC-4180, exactly the
    * reference's hand-rolled rule at :212-220 — Spark's default escape is
    * backslash, which is not RFC-4180); whitespace is never trimmed. */
  def exportCsv(df: DataFrame, outDir: String, cap: Int = ExportCap,
                tsCol: String = "ts", tiebreak: String = "id"): Unit =
    df.orderBy(col(tsCol).desc, col(tiebreak).desc).limit(cap)
      .coalesce(1) // one file, like the HTTP response body
      .write.mode("overwrite")
      .option("header", "true")
      .option("escape", "\"")
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .csv(outDir)

  /** B6 — JSON export (one object per line; cap + sort as B5). */
  def exportJson(df: DataFrame, outDir: String, cap: Int = ExportCap,
                 tsCol: String = "ts", tiebreak: String = "id"): Unit =
    df.orderBy(col(tsCol).desc, col(tiebreak).desc).limit(cap)
      .coalesce(1)
      .write.mode("overwrite").json(outDir)

  /**
   * B2 — register the routed sink as a partitioned external table:
   * `CREATE TABLE ... USING parquet PARTITIONED BY (severity)` +
   * partition discovery. Dashboard queries on one severity then prune to
   * one partition directory (the ES per-index analog).
   */
  def createLogsTable(spark: SparkSession, root: String,
                      table: String = "logs"): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    // schema + severity partitioning inferred from the directory layout
    // (Spark 4 disallows PARTITIONED BY without an explicit column list)
    spark.sql(s"CREATE TABLE $table USING parquet LOCATION '$root/routed'")
    spark.sql(s"MSCK REPAIR TABLE $table")
  }

  /**
   * Keyed UPSERT into a partitioned parquet table without a table format
   * — MERGE semantics (batch wins on key collision) via dynamic
   * partition overwrite, the standard incremental-ingest shape when
   * Delta/Iceberg isn't on the classpath:
   *
   *   1. the batch's touched partition values are collected (one
   *      aggregate over the BATCH — partition-cardinality-sized, never
   *      table-sized);
   *   2. ONLY those partitions of the existing table are read back
   *      (partition pruning on the stored layout — the table's other
   *      partitions are never opened, which is what makes this O(batch)
   *      not O(table));
   *   3. surviving old rows = existing LEFT ANTI batch on the key;
   *   4. survivors ∪ batch are written with
   *      `partitionOverwriteMode=dynamic`, so exactly the touched
   *      partition directories are replaced atomically-per-partition and
   *      a replayed batch converges to the same state (idempotent).
   *
   * Requires batch and table to share the schema; the key must be unique
   * within the batch (last-writer-wins among equal keys is NOT defined —
   * same contract as SQL MERGE).
   */
  def upsertByKey(spark: SparkSession, tableDir: String, batch: DataFrame,
                  keyCol: String, partitionCol: String): Unit = Staging.scope {
    // asked of the path's own FileSystem, so URI table paths (`file:/…`,
    // `hdfs://…`) are found as well as plain local ones
    val path = new org.apache.hadoop.fs.Path(tableDir)
    val exists = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(path)
    if (!exists) {
      batch.write.partitionBy(partitionCol).parquet(tableDir)
    } else {
      val touched = batch.select(col(partitionCol)).distinct()
        .collect().map(_.get(0)).toSeq // partition-cardinality-sized
      val existing = spark.read.parquet(tableDir)
        .filter(col(partitionCol).isin(touched: _*)) // pruned read
      // staged before the write: Spark (correctly) refuses to overwrite a
      // path that is also being read from; the survivor set is bounded by
      // the touched partitions, not the table, and released with the scope
      val survivors = Staging(existing.join(
        batch.select(col(keyCol)).distinct(), Seq(keyCol), "left_anti"))
      survivors.select(batch.columns.map(col).toIndexedSeq: _*)
        .union(batch)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partitionCol)
        .parquet(tableDir)
    }
  }

  /**
   * Bucketed table registration — the CO-LOCATED JOIN seam for repeated
   * large-to-large joins at cluster scale. Two tables bucketed (and
   * sorted) the same way on the join key join with ZERO exchanges: each
   * task sort-merges bucket i of both sides. At 10¹² docs this converts
   * every recurring fact-to-fact join (events⋈events, events⋈orders-style)
   * from two full shuffles PER QUERY into one shuffle PER TABLE at write
   * time, amortized over every subsequent join/aggregation on that key —
   * the standard warehouse layout decision, and the one a 100 TB pipeline
   * makes on day one. No-Exchange join is asserted in PlanSpec.
   */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
                    nBuckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(nBuckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)

  import org.apache.spark.sql.Column

  /**
   * Z-order (Morton) interleave of the low `bits` bits of two
   * non-negative integer columns — the space-filling-curve clustering
   * key behind Delta/Iceberg Z-ORDER layout: sorting by z keeps rows
   * close in BOTH dimensions, so per-file min/max stats stay tight on
   * both columns and a point/range scan on EITHER column prunes most
   * files (a single-column sort buys pruning on that column only).
   * Unrolled at plan-build time into `bits` codegen'd shift/mask terms —
   * no fold, no UDF; mirrored bit-for-bit by integer arithmetic in the
   * oracle.
   */
  def zValue(a: Column, b: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31, "bits must be in [1, 31]")
    (0 until bits).map { i =>
      shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)
  }

  /**
   * Z-order clustered parquet write: range-partition on [[zValue]] into
   * `files` output files and sort each within itself — the LAYOUT
   * decision for tables queried by more than one selective column at
   * 10¹² rows. Cost: one range exchange + per-partition sort at WRITE
   * time; benefit: footer-stats pruning on both dimensions for every
   * subsequent scan (AggregatesSpec measures the file-overlap reduction
   * against a single-column sort of the same data).
   */
  def writeZOrdered(df: DataFrame, aCol: String, bCol: String,
                    path: String, files: Int, bits: Int = 16): Unit =
    df.withColumn("__z", zValue(col(aCol), col(bCol), bits))
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(path)
}
