package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The engine's native Catalyst functions in one list, registered once per
  * session. [[graft.plans.GraftExtensions]] injects every entry when the
  * session is built; each object's `register(spark)` installs only the
  * names the session's registry does not already hold, so sessions built
  * without the extension still work and a repeated call neither replaces
  * a builder nor logs a "replaced a previously registered function"
  * warning.
  */
object NativeFunctions {
  /** What `SparkSessionExtensions.injectFunction` takes. */
  type Description =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  /** One registry entry; `cls` is the expression `DESCRIBE FUNCTION`
    * names.
    */
  def describe(name: String, cls: Class[_ <: Expression])(
      build: Seq[Expression] => Expression): Description =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getCanonicalName, name),
      build)

  // lazy: building each object's `functions` calls `describe`, which
  // initializes this object; a strict `all` would then reach back into
  // an object whose initialization has not finished
  lazy val all: Seq[Description] =
    VectorExpressions.functions ++ SampleAggregates.functions ++
      TextExpressions.functions ++ FrequencyAggregates.functions ++
      PqExpressions.functions ++ MinhashExpressions.functions

  /** Register each of `fns` the session does not hold yet. */
  def registerMissing(spark: SparkSession, fns: Seq[Description]): Unit = {
    val registry = spark.sessionState.functionRegistry
    registry.synchronized {
      fns.foreach { case (id, info, build) =>
        if (!registry.functionExists(id))
          registry.registerFunction(id, info, build)
      }
    }
  }
}
