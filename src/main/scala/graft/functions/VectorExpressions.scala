package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression for cosine similarity over `array<float>` /
  * `array<double>` columns.
  *
  * The composable HOF formulation (`aggregate(zip_with(...))`) is evaluated
  * interpreted — per-element lambda dispatch and boxing on the hottest loop
  * of every ANN scan. This expression generates a tight primitive Java loop
  * (`doGenCode`) inside whole-stage codegen, with a matching interpreted
  * `nullSafeEval` fallback. Accumulation order is the same sequential
  * left-to-right fold as the HOF version and the DuckDB oracle, so results
  * are bit-identical across all three paths.
  *
  * Semantics: null if either side is null; 0.0 if either norm is zero;
  * arrays are traversed up to the shorter length (callers use fixed-dim
  * embeddings). Null elements are treated as 0.
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  private def okType(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (okType(left.dataType) && okType(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float|double> args, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")

  override def dataType: DataType = DoubleType

  override def prettyName: String = "cosine_sim"

  private def elemIsFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    val af = elemIsFloat(left); val bf = elemIsFloat(right)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = if (a.isNullAt(i)) 0.0 else if (af) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (b.isNullAt(i)) 0.0 else if (bf) b.getFloat(i).toDouble else b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val denom = math.sqrt(na * nb)
    if (denom == 0.0) 0.0 else dot / denom
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aGet = if (elemIsFloat(left)) "getFloat" else "getDouble"
    val bGet = if (elemIsFloat(right)) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val denom = ctx.freshName("denom")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = $a.isNullAt($i) ? 0.0 : (double) $a.$aGet($i);
         |  double $y = $b.isNullAt($i) ? 0.0 : (double) $b.$bGet($i);
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |double $denom = java.lang.Math.sqrt($na * $nb);
         |${ev.value} = ($denom == 0.0) ? 0.0 : $dot / $denom;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Registration + Column-layer access for the native vector expressions. */
object VectorExpressions {
  val COSINE_FN = "graft_cosine"

  val functions: Seq[NativeFunctions.Description] = Seq(
    NativeFunctions.describe(COSINE_FN, classOf[CosineSim])(
      exprs => CosineSim(exprs(0), exprs(1))))

  /** Register `graft_cosine` in the session's function registry, unless
    * it is there already, so the expression is reachable from the public
    * Column API (`call_function`) and from SQL text.
    */
  def register(spark: SparkSession): Unit =
    NativeFunctions.registerMissing(spark, functions)
}
