package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native word n-gram shingling: `array<string> tokens → array<string>`
  * of space-joined n-grams.
  *
  * Why an Expression: the composable form
  * (`transform(sequence(...), i => concat_ws(" ", slice(tokens, i, n)))`)
  * runs on Spark's interpreted higher-order-function path — per-shingle
  * ArrayData slicing and lambda dispatch dominate the dedup pipeline's
  * profile. A window/`lead` formulation would be codegen'd but needs a hash
  * shuffle of the whole exploded token stream — unacceptable at corpus
  * scale. This expression is narrow (per-row), allocation-lean, and
  * generates a tight loop; `n` is a literal so the generated `concatWs`
  * call site is fully unrolled.
  *
  * Output order is document order (callers wrap in `array_distinct` for set
  * semantics). Null tokens are treated as empty strings.
  */
case class WordShingles(child: Expression, n: Int)
    extends UnaryExpression {

  require(n >= 1, s"shingle size must be >= 1, got $n")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def prettyName: String = "word_shingles"

  private val SPACE = UTF8String.fromString(" ")

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val total = arr.numElements()
    val out = total - (n - 1)
    if (out <= 0) new GenericArrayData(Array.empty[Any])
    else {
      val res = new Array[Any](out)
      var i = 0
      while (i < out) {
        val parts = new Array[UTF8String](n)
        var j = 0
        while (j < n) {
          parts(j) = if (arr.isNullAt(i + j)) UTF8String.EMPTY_UTF8
            else arr.getUTF8String(i + j)
          j += 1
        }
        res(i) = UTF8String.concatWs(SPACE, parts: _*)
        i += 1
      }
      new GenericArrayData(res)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val sep = ctx.addReferenceObj("sep", SPACE, classOf[UTF8String].getName)
    nullSafeCodeGen(ctx, ev, arr => {
      val total = ctx.freshName("total")
      val out = ctx.freshName("out")
      val res = ctx.freshName("res")
      val i = ctx.freshName("i")
      val args = (0 until n).map(j =>
        s"$arr.isNullAt($i + $j) ? org.apache.spark.unsafe.types.UTF8String.EMPTY_UTF8 " +
          s": $arr.getUTF8String($i + $j)").mkString(", ")
      s"""
         |int $total = $arr.numElements();
         |int $out = $total - ${n - 1};
         |if ($out <= 0) {
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(new Object[0]);
         |} else {
         |  Object[] $res = new Object[$out];
         |  for (int $i = 0; $i < $out; $i++) {
         |    $res[$i] = org.apache.spark.unsafe.types.UTF8String.concatWs($sep, $args);
         |  }
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($res);
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TextExpressions {
  val SHINGLES_FN = "graft_shingles"

  /** The arity-2 form takes (tokens, n) with n a foldable integer
    * literal.
    */
  val functions: Seq[NativeFunctions.Description] = Seq(
    NativeFunctions.describe(SHINGLES_FN, classOf[WordShingles]) { exprs =>
      val n = exprs(1) match {
        case e if e.foldable => e.eval().asInstanceOf[Number].intValue()
        case other => throw new IllegalArgumentException(
          s"shingle size must be a literal, got $other")
      }
      WordShingles(exprs(0), n)
    })

  def register(spark: SparkSession): Unit =
    NativeFunctions.registerMissing(spark, functions)
}
