package perfbench

import scala.util.Random
import org.apache.spark.sql.Observation
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions._
import graft.SparkEntry

/**
 * `surface`: the `SparkEntry.queries` operator set over the tables
 * `run.py` generated from the seed. Each listed query runs once untimed
 * (its first execution pays code generation and JIT), then once in each of
 * `passes` timed passes, each pass in its own seed-permuted order, through
 * the noop sink so every output column is computed. A query's row count
 * comes from an observed count on that write and is checked by `run.py`
 * against the DuckDB count of its `oracleSql`.
 */
object Surface {
  /** graft.Bench's untimed warm-up queries; here they are the set-up. */
  val WarmUp = Seq("q_counts_conditional", "q_tpch_q1", "q_alert_gate")

  def run(c: Ctx): Seq[Double] = {
    val dir = c.args("tables")
    val names = c.args("queries").split(",").toSeq
    val passes = c.args("passes").toInt
    val setup = (1 to 3).map(_ => Main.secondsOf(
      WarmUp.foreach(n => Main.noop(SparkEntry.queries(n)(c.spark, dir)))))
    c.extra("oracle_sql") = names.map(n => n -> SparkEntry.oracleSql.getOrElse(n, null)).toMap
    c.extra("all_queries") = SparkEntry.queries.keys.toSeq.sorted

    def pass(kind: String, order: Seq[String], n: Int = 0): Unit = order.foreach { name =>
      val compile0 = CodeGenerator.compileTime
      val rows = c.op(kind, name, Map("pass" -> n)) {
        val obs = Observation()
        val df = SparkEntry.queries(name)(c.spark, dir)
        Main.noop(df.observe(obs, count(lit(1)).as("rows")))
        obs.get("rows").asInstanceOf[Long]
      }(_ => None)
      c.ops(c.ops.length - 1) = c.ops.last ++ Map("rows" -> rows,
        "codegen_compile_ns" -> (CodeGenerator.compileTime - compile0)) ++
        (if (!c.traced) Map.empty else Map("cached_rdds" -> c.spark.sparkContext.getPersistentRDDs.size))
    }
    val rnd = new Random(c.seed)
    pass("cold", rnd.shuffle(names))
    if (c.traced) c.startRecorder()
    for (n <- 1 to passes) pass("query", rnd.shuffle(names), n)
    if (c.traced) {
      // tracing overhead: the same warm queries, untraced then traced
      val half = names.zipWithIndex.collect { case (q, i) if i % 2 == 0 => q }
      c.recorder.foreach(r => c.spark.listenerManager.unregister(r))
      c.spark.sparkContext.removeSparkListener(c.recorder.get)
      pass("overhead_untraced", half)
      c.spark.sparkContext.addSparkListener(c.recorder.get)
      c.spark.listenerManager.register(c.recorder.get)
      pass("overhead_traced", half)
    }
    setup
  }
}
