package graft.plans

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.{Column, SparkSession}

/** The one registry of the `graft_*` session functions: the fused text,
  * similarity and aggregate expressions plus the Bloom-filter shims.
  *
  * Registration is lazy and per session: [[call]] registers on the
  * running session the first time it meets a name that session lacks,
  * then returns an ordinary `call_function` column. A session that
  * already has the functions is left untouched, so repeated calls never
  * replace a registered function (Spark logs a warning per replacement).
  */
object Functions {

  val all: Seq[(String, Seq[Expression] => Expression)] =
    TextExpressions.all ++ SimilarityExpressions.all ++ BloomExpressions.all

  /** Registers on `spark` every function it does not have yet. */
  def register(spark: SparkSession): Unit = synchronized {
    val registry = spark.sessionState.functionRegistry
    all.foreach { case (name, builder) =>
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }

  /** `call_function(name, cols)`, registering the functions on the active
    * session first if it lacks `name`.
    */
  def call(name: String, cols: Column*): Column = {
    val spark = SparkSession.active
    if (!spark.sessionState.functionRegistry.functionExists(FunctionIdentifier(name)))
      register(spark)
    call_function(name, cols: _*)
  }
}
