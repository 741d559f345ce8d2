package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}
import graft.functions.CosineSim

/**
 * SparkSessionExtensions entry point — registers graft's custom Catalyst
 * expressions as SQL functions, so `spark.sql("SELECT cosine_sim(a, b)")`
 * works anywhere the library is on the classpath. [[GraftSession]] wires
 * it in; elsewhere pass `withExtensions(new GraftExtensions)` to the
 * session builder or `--conf spark.sql.extensions=graft.GraftExtensions`.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    ext.injectFunction(GraftExtensions.cosineSimFn)
}

object GraftExtensions {
  val cosineSimFn: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("cosine_sim"),
    new ExpressionInfo(classOf[CosineSim].getName, "cosine_sim"),
    (children: Seq[Expression]) => {
      require(children.length == 2, "cosine_sim(a, b) takes exactly 2 arguments")
      // float arrays are welcome at the SQL surface too (parity with
      // VectorExprs.cosineSim); anything else still fails type-check
      def widen(e: Expression): Expression =
        if (e.resolved && e.dataType.isInstanceOf[ArrayType] &&
          e.dataType.asInstanceOf[ArrayType].elementType == FloatType)
          Cast(e, ArrayType(DoubleType,
            e.dataType.asInstanceOf[ArrayType].containsNull))
        else e
      CosineSim(widen(children.head), widen(children(1)))
    })
}
