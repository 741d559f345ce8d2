package graft

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/**
 * The one way to materialize an intermediate and release it. [[apply]]
 * stages a table with `localCheckpoint` (lineage cut, blocks held by the
 * local block manager) and records the stage with the innermost open
 * [[scope]]. Each stage is released by one of three owners:
 *  - the loop that replaced it: round k−1 is [[release]]d once round k is
 *    staged, so a loop holds a fixed number of live stages;
 *  - the function whose result reads no stage, which runs its body in its
 *    own [[scope]];
 *  - the caller, whose [[scope]] ends after the returned plan is consumed.
 * Scopes nest and are per thread: a thread, even one started inside a
 * scope, begins outside every scope. A stage made outside every scope is
 * left to Spark's ContextCleaner, which frees it once its Dataset is
 * collected.
 * Local mode only: a `localCheckpoint` block dies with its executor.
 */
object Staging {
  // not a DynamicVariable: its inheritable value would follow every pool
  // thread Spark starts inside a scope
  private val open =
    ThreadLocal.withInitial[List[ArrayBuffer[() => Unit]]](() => Nil)

  /** `df.localCheckpoint(eager)`, released with the innermost open scope.
    * The lazy form is filled by the first job that reads it. */
  def apply(df: DataFrame, eager: Boolean = true): DataFrame = {
    val staged = df.localCheckpoint(eager)
    onRelease(release(staged))
    staged
  }

  /** Unpersists the stage that `staged` (a result of [[apply]]) reads;
    * any other plan is left alone. Reading it afterwards fails loudly
    * (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND); tables staged from it still
    * read, their lineage is cut. */
  def release(staged: DataFrame): Unit = staged.queryExecution.logical match {
    case r: LogicalRDD => r.rdd.unpersist(blocking = false)
    case _ =>
  }

  /** Runs `thunk` when the innermost open scope ends; outside every scope
    * it never runs. */
  def onRelease(thunk: => Unit): Unit =
    open.get.headOption.foreach(_ += (() => thunk))

  /** Runs `body`, then every release registered inside it, newest first,
    * on success or on throw. */
  def scope[T](body: => T): T = {
    val releases = ArrayBuffer.empty[() => Unit]
    open.set(releases :: open.get)
    try body
    finally { open.set(open.get.tail); releases.reverseIterator.foreach(_()) }
  }
}
