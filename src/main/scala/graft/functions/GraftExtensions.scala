package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graftbridge.ColumnBridge

/** SQL-surface registration for the engine's native expressions, so
  * `spark.sql("SELECT graft_dot(a, b) …")` works like any built-in.
  *
  * Two entry points:
  *  - `spark.sql.extensions=graft.functions.GraftExtensions` at session
  *    build (the SparkSessionExtensions injection path);
  *  - `GraftExtensions.register(spark)` on an existing session (registry
  *    injection — what Verify/Bench/tests use).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(f => ext.injectFunction(f))
}

object GraftExtensions {
  type FunctionDescription =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  val functions: Seq[FunctionDescription] = Seq(
    (FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (es: Seq[Expression]) => DotProduct(es(0), es(1))),
    (FunctionIdentifier("graft_simhash32"),
      new ExpressionInfo(classOf[SimHash32].getName, "graft_simhash32"),
      (es: Seq[Expression]) => SimHash32(es.head)),
    (FunctionIdentifier("graft_might_contain"),
      new ExpressionInfo(classOf[MightContainLong].getName, "graft_might_contain"),
      (es: Seq[Expression]) => MightContainLong(es(0), es(1))))

  def register(spark: SparkSession): Unit =
    functions.foreach { case (id, info, builder) =>
      ColumnBridge.registerFunction(spark, id, info, builder)
    }
}
