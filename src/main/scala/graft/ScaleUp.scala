package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Deterministic sf-multiplier for the scale sweep (r4 verdict "next
 * round" #3): builds an N×-sized copy of a driver testdata dir by
 * unioning N key-shifted copies of each FACT table (dimension tables
 * pass through unchanged), so the same 159-query bench can run at 10×
 * the data and per-query time ratios expose any super-linear plan.
 *
 * Shape-preserving choices (what makes the ratio table meaningful):
 *  - key offsets (`copy * 10^8`) keep every key unique and every
 *    fact↔fact join (lineitem↔orders) structure-preserving: the joined
 *    row count scales exactly N×;
 *  - dimension keys (user_id↔customer, part/supplier/nation/region) are
 *    NOT offset, so dim joins stay dim-sized (broadcast) and hit N× rows;
 *  - document TEXT is salted per copy with a copy-token inserted before
 *    every 2-word group: any 3-token shingle window then contains a salt
 *    token, so NO shingle (and no MinHash band key, no content md5)
 *    collides across copies; candidate volumes scale linearly in N —
 *    src + (N−1)·salted, where "salted" is a constant per-copy count
 *    that runs somewhat ABOVE the source's (a salt-containing shingle
 *    like "copysalt1 merge a" is shared by any two docs with the same
 *    2-word group at a boundary; the count varies per copy with the
 *    salt token's hashes — ScaleUpSpec bounds it at 4× the source's,
 *    measured ~1.9×). Un-salted copies would
 *    collide every doc with its 9 twins and blow candidate pairs up
 *    ~N²×, measuring the data shape, not the plan;
 *  - embeddings keep their vectors (ANN cost is scan/bucket-shaped;
 *    duplicate vectors only create score ties, which every ANN query
 *    tiebreaks by id);
 *  - token IDENTITY across copies is deliberate: a copy-k doc keeps all
 *    its original tokens (plus salts), so token-level similarity ops
 *    (tf-idf pairs, simhash) correctly see cross-copy docs as the
 *    near-duplicates they ARE — a 10×-duplicated corpus honestly has
 *    ~N² near-dup PAIRS; those queries' ratios measure output volume,
 *    annotated as such in BENCH.md §9.
 *
 * Copy 0 is bit-identical to the source tables.
 *
 * Run: sbt "runMain graft.ScaleUp <srcDir> <dstDir> <factor>"
 */
object ScaleUp {

  val KeyStride = 100000000L // 10^8: far above any sf0.1 key

  def main(args: Array[String]): Unit = {
    val Array(srcDir, dstDir, factorS) = args
    val spark = GraftSession.local()
    run(spark, srcDir, dstDir, factorS.toInt)
    spark.stop()
  }

  def run(spark: SparkSession, srcDir: String, dstDir: String,
          factor: Int): Unit = {
    require(factor >= 1, "factor must be >= 1")

    def src(name: String): DataFrame =
      spark.read.parquet(s"$srcDir/$name.parquet")

    def write(df: DataFrame, name: String, parts: Int): Unit =
      df.repartition(parts).write.mode("overwrite")
        .parquet(s"$dstDir/$name.parquet")

    /** N stacked copies with `keyCols` shifted by copy*stride. */
    def stack(df: DataFrame, keyCols: Seq[String],
              extra: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame =
      (0 until factor).map { k =>
        val shifted = keyCols.foldLeft(df) { (d, c) =>
          d.withColumn(c, col(c) + lit(k * KeyStride))
        }
        extra(shifted, k)
      }.reduce(_ unionAll _)

    /** Insert a copy-distinct salt token before every 2-word group so no
      * 3-token window (shingle) survives across copies; copy 0 verbatim. */
    def saltText(text: Column, k: Int): Column = {
      if (k == 0) text
      else {
        val words = split(text, "\\s+")
        val salted = concat_ws(" ", flatten(transform(
          sequence(lit(0), ((size(words) - 1) / 2).cast("int")),
          g => concat(array(lit(s"copysalt$k")),
            slice(words, g * 2 + 1, lit(2))))))
        when(text.isNull, lit(null).cast("string"))
          .when(length(text) === 0 || size(words) === 0, text)
          .otherwise(salted)
      }
    }

    // facts
    write(stack(src("events"), Seq("event_id")), "events", 32)
    write(stack(src("documents"), Seq("doc_id"),
      (d, k) => d.withColumn("text", saltText(col("text"), k))
        .withColumn("n_chars", length(col("text")).cast("long"))),
      "documents", 32)
    write(stack(src("embeddings"), Seq("vec_id")), "embeddings", 32)
    write(stack(src("orders"), Seq("o_orderkey")), "orders", 32)
    write(stack(src("lineitem"), Seq("l_orderkey")), "lineitem", 32)
    // dims pass through
    Seq("customer", "supplier", "part", "nation", "region")
      .foreach(n => write(src(n), n, 1))

    // sanity: every fact scaled exactly factor×
    Seq("events", "documents", "embeddings", "orders", "lineitem").foreach { n =>
      val a = src(n).count(); val b = spark.read.parquet(s"$dstDir/$n.parquet").count()
      println(s"[scaleup] $n: $a -> $b (expect ${a * factor})")
      require(b == a * factor, s"$n scaled wrong")
    }
  }
}
