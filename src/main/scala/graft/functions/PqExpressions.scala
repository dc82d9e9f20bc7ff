package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the product-quantization hot loop.
  *
  * The Column-level formulations are either higher-order-function folds
  * (`aggregate(zip_with(slice(...)))` per codeword × subspace — evaluated
  * INTERPRETED, the encode Project ran outside every whole-stage-codegen
  * span) or an unrolled expression sum (codegen'd but m × codebookSize ×
  * subDim ≈ 8k expression nodes, which costs more in analysis/optimizer
  * passes per query than it saves at sf-bench row counts — measured 1.9 s
  * → 3.3 s, i.e. WORSE). These expressions keep the plan node-count tiny
  * (one node, codebook rides in the references array as a literal) and
  * run the loops as compiled Scala inside the surrounding codegen span.
  *
  * Exact-parity contract (the PQ surface is oracle-checked digit-for-digit
  * and layouts persist codes): every arithmetic step reproduces the HOF
  * form bit-for-bit —
  *  - per-codeword distance: sequential left fold `((0 + t0) + t1)…` of
  *    `(double)x[i] − (double)cw[d]` squares, rounded via the same
  *    `BigDecimal.valueOf(_).setScale(scale, HALF_UP)` Spark's `round`
  *    uses (NaN/Inf pass through, as in RoundBase);
  *  - argmin: lexicographic (distance, codewordId) with Spark's total
  *    double order (`java.lang.Double.compare` — NaN greatest);
  *  - a null or missing element makes every codeword's distance null
  *    (zip_with null-pads, the fold absorbs), and the struct argmin's
  *    null-first ordering then ties down to codeword 0 — so these return
  *    code 0 for that subspace;
  *  - a whole-NULL vector is the same law taken to every subspace:
  *    `slice(NULL)` is null, so the HOF argmin gave code 0 per subspace —
  *    codes `[0,…,0]` and the FINITE adist `Σ_j table(j)(0)`, never a
  *    NULL result (r14 ADVICE: the first native cut used nullSafeEval,
  *    which returned NULL and would have re-ranked a NULL-vector row to
  *    the TOP of an ascending adist sort; [[PqNullVectorSpec]] pins the
  *    HOF form as the executable spec). [[PqMinDist]] alone stays
  *    null-propagating — its HOF fold summed per-subspace nulls into a
  *    null objective;
  *  - ADC: `Σ_j table[j][code_j]` folded left from 0.0 in subspace order.
  */
private[graft] object PqKernel {

  /** Spark's `round(double, scale)` semantics (RoundBase, HALF_UP). */
  def roundN(x: Double, scale: Int): Double =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Sequential-fold squared L2 between vector elements [off, off+sub) and
    * a codeword, rounded to `scale` — callers have checked the elements
    * exist and are non-null.
    */
  private def dist(a: ArrayData, isFloat: Boolean, cw: Array[Float],
                   off: Int, sub: Int, scale: Int): Double = {
    var acc = 0.0
    var d = 0
    while (d < sub) {
      val x = if (isFloat) a.getFloat(off + d).toDouble else a.getDouble(off + d)
      val t = x - cw(d).toDouble
      acc = acc + t * t
      d += 1
    }
    roundN(acc, scale)
  }

  /** Argmin codeword for subspace elements [off, off+sub); code 0 when any
    * element is null/missing (see object scaladoc).
    */
  def encodeSub(a: ArrayData, isFloat: Boolean, cws: Array[Array[Float]],
                off: Int, sub: Int, scale: Int): Int = {
    val n = a.numElements()
    var d = 0
    while (d < sub) {
      if (off + d >= n || a.isNullAt(off + d)) return 0
      d += 1
    }
    var bestC = 0
    var bestD = dist(a, isFloat, cws(0), off, sub, scale)
    var c = 1
    while (c < cws.length) {
      val dc = dist(a, isFloat, cws(c), off, sub, scale)
      if (java.lang.Double.compare(dc, bestD) < 0) { bestD = dc; bestC = c }
      c += 1
    }
    bestC
  }

  /** Minimum rounded distance for one subspace (the Lloyd objective term);
    * null boxed Double when any element is null/missing — the caller sums
    * with null propagation like the Column fold.
    */
  def minDistSub(a: ArrayData, isFloat: Boolean, cws: Array[Array[Float]],
                 off: Int, sub: Int, scale: Int): java.lang.Double = {
    val n = a.numElements()
    var d = 0
    while (d < sub) {
      if (off + d >= n || a.isNullAt(off + d)) return null
      d += 1
    }
    var best = dist(a, isFloat, cws(0), off, sub, scale)
    var c = 1
    while (c < cws.length) {
      val dc = dist(a, isFloat, cws(c), off, sub, scale)
      if (java.lang.Double.compare(dc, best) < 0) best = dc
      c += 1
    }
    best
  }

  /** The empty vector standing in for a whole-NULL input (see the
    * object scaladoc's null law).
    */
  val emptyVec: ArrayData = new GenericArrayData(new Array[Any](0))

  /** Parse a codebook literal (array<array<array<float>>>:
    * subspace → codeword → components) into primitive arrays once.
    */
  def parseCodebook(v: Any): Array[Array[Array[Float]]] = {
    val top = v.asInstanceOf[ArrayData]
    Array.tabulate(top.numElements()) { j =>
      val cws = top.getArray(j)
      Array.tabulate(cws.numElements())(c => cws.getArray(c).toFloatArray())
    }
  }
}

/** Shared shape for the PQ expressions: (vector, codebook literal, scale
  * literal) with the codebook parsed once per expression instance.
  */
private[graft] trait PqExpressionBase extends TernaryExpression {
  def vec: Expression
  def codebook: Expression
  def scaleE: Expression

  override def first: Expression = vec
  override def second: Expression = codebook
  override def third: Expression = scaleE

  @transient protected lazy val cb: Array[Array[Array[Float]]] =
    PqKernel.parseCodebook(codebook.eval(null))
  @transient protected lazy val sub: Int = cb(0)(0).length
  @transient protected lazy val scale: Int =
    scaleE.eval(null).asInstanceOf[Int]
  @transient protected lazy val vecIsFloat: Boolean =
    vec.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def checkInputDataTypes(): TypeCheckResult = {
    val vecOk = vec.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    val cbOk = codebook.foldable && (codebook.dataType match {
      case ArrayType(ArrayType(ArrayType(FloatType, _), _), _) => true
      case _ => false
    })
    if (vecOk && cbOk && scaleE.foldable && scaleE.dataType == IntegerType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<float|double> vec, foldable " +
        s"array<array<array<float>>> codebook, foldable int scale), got " +
        s"(${vec.dataType.simpleString}, ${codebook.dataType.simpleString}, " +
        s"${scaleE.dataType.simpleString})")
  }
}

/** `pq_encode(vec, codebook, scale)` → array<int>: the m per-subspace
  * argmin codes — the body of [[graft.operators.Similarity.pqCodes]].
  */
case class PqEncode(vec: Expression, codebook: Expression, scaleE: Expression)
    extends PqExpressionBase {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "pq_encode"

  def compute(a: ArrayData): ArrayData = {
    val m = cb.length
    val out = new Array[Int](m)
    var j = 0
    while (j < m) {
      out(j) = PqKernel.encodeSub(a, vecIsFloat, cb(j), j * sub, sub, scale)
      j += 1
    }
    new GenericArrayData(out)
  }

  /** NULL vector → the empty-array law: every subspace short → code 0,
    * matching the HOF form's null-first argmin (object scaladoc).
    */
  def computeAny(a: Any): ArrayData =
    compute(if (a == null) PqKernel.emptyVec else a.asInstanceOf[ArrayData])

  override def eval(input: InternalRow): Any = computeAny(vec.eval(input))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqEncode", this, classOf[PqEncode].getName)
    val vecCode = vec.genCode(ctx)
    ev.copy(
      code = vecCode.code + code"""
        |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
        |  $ref.computeAny(${vecCode.isNull} ? null : (Object) ${vecCode.value});
        |""".stripMargin,
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): Expression =
    copy(vec = newFirst, codebook = newSecond, scaleE = newThird)
}

/** `pq_adist(vec, codebook, scale, table)` → double: encode + ADC lookup
  * in one pass — the body of [[graft.operators.Similarity.pqTopK]]'s scan.
  * `table` is the query's m × codebookSize ADC table as a foldable
  * array<array<double>> literal (double, not float — the query-side
  * distances must not lose digits).
  */
case class PqAdist(vec: Expression, codebook: Expression, scaleE: Expression,
                   tableE: Expression)
    extends org.apache.spark.sql.catalyst.expressions.QuaternaryExpression {

  override def first: Expression = vec
  override def second: Expression = codebook
  override def third: Expression = scaleE
  override def fourth: Expression = tableE

  @transient private lazy val cb: Array[Array[Array[Float]]] =
    PqKernel.parseCodebook(codebook.eval(null))
  @transient private lazy val sub: Int = cb(0)(0).length
  @transient private lazy val scale: Int =
    scaleE.eval(null).asInstanceOf[Int]
  @transient private lazy val vecIsFloat: Boolean =
    vec.dataType.asInstanceOf[ArrayType].elementType == FloatType
  @transient private lazy val table: Array[Array[Double]] = {
    val top = tableE.eval(null).asInstanceOf[ArrayData]
    Array.tabulate(top.numElements())(j => top.getArray(j).toDoubleArray())
  }

  override def checkInputDataTypes(): TypeCheckResult = {
    val vecOk = vec.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    val cbOk = codebook.foldable && (codebook.dataType match {
      case ArrayType(ArrayType(ArrayType(FloatType, _), _), _) => true
      case _ => false
    })
    val tblOk = tableE.foldable && (tableE.dataType match {
      case ArrayType(ArrayType(DoubleType, _), _) => true
      case _ => false
    })
    if (vecOk && cbOk && tblOk && scaleE.foldable &&
        scaleE.dataType == IntegerType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<float|double> vec, foldable " +
        s"array<array<array<float>>> codebook, foldable int scale, " +
        s"foldable array<array<double>> table)")
  }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false
  override def prettyName: String = "pq_adist"

  def compute(a: ArrayData): Double = {
    var acc = 0.0
    var j = 0
    while (j < cb.length) {
      val c = PqKernel.encodeSub(a, vecIsFloat, cb(j), j * sub, sub, scale)
      acc = acc + table(j)(c)
      j += 1
    }
    acc
  }

  /** NULL vector → the empty-array law: code 0 per subspace, so the
    * FINITE `Σ_j table(j)(0)` — the HOF form's result (object scaladoc),
    * never a NULL that would sort to the top of an ascending rank.
    */
  def computeAny(a: Any): Double =
    compute(if (a == null) PqKernel.emptyVec else a.asInstanceOf[ArrayData])

  override def eval(input: InternalRow): Any = computeAny(vec.eval(input))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqAdist", this, classOf[PqAdist].getName)
    val vecCode = vec.genCode(ctx)
    ev.copy(
      code = vecCode.code + code"""
        |double ${ev.value} =
        |  $ref.computeAny(${vecCode.isNull} ? null : (Object) ${vecCode.value});
        |""".stripMargin,
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression,
      newFourth: Expression): Expression =
    copy(vec = newFirst, codebook = newSecond, scaleE = newThird,
      tableE = newFourth)
}

/** `pq_min_dist(vec, codebook, scale)` → double: Σ_j min_c rounded
  * subspace distance — the per-row Lloyd objective of
  * [[graft.operators.Similarity.pqQuantizationError]]. Null when any
  * subspace's elements are null/missing (the Column fold's propagation).
  */
case class PqMinDist(vec: Expression, codebook: Expression, scaleE: Expression)
    extends PqExpressionBase {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "pq_min_dist"

  def compute(a: ArrayData): java.lang.Double = {
    var acc = 0.0
    var j = 0
    while (j < cb.length) {
      val d = PqKernel.minDistSub(a, vecIsFloat, cb(j), j * sub, sub, scale)
      if (d == null) return null
      acc = acc + d.doubleValue()
      j += 1
    }
    java.lang.Double.valueOf(acc)
  }

  override def nullSafeEval(a: Any, c: Any, s: Any): Any =
    compute(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqMinDist", this, classOf[PqMinDist].getName)
    nullSafeCodeGen(ctx, ev, (a, _, _) => s"""
       |java.lang.Double ${ev.value}Boxed = $ref.compute($a);
       |if (${ev.value}Boxed == null) { ${ev.isNull} = true; }
       |else { ${ev.value} = ${ev.value}Boxed.doubleValue(); }
     """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): Expression =
    copy(vec = newFirst, codebook = newSecond, scaleE = newThird)
}

/** Registration + literal builders for the PQ expressions. */
object PqExpressions {
  val ENCODE_FN = "graft_pq_encode"
  val ADIST_FN = "graft_pq_adist"
  val MIN_DIST_FN = "graft_pq_min_dist"

  val functions: Seq[NativeFunctions.Description] = Seq(
    NativeFunctions.describe(ENCODE_FN, classOf[PqEncode])(
      exprs => PqEncode(exprs(0), exprs(1), exprs(2))),
    NativeFunctions.describe(ADIST_FN, classOf[PqAdist])(
      exprs => PqAdist(exprs(0), exprs(1), exprs(2), exprs(3))),
    NativeFunctions.describe(MIN_DIST_FN, classOf[PqMinDist])(
      exprs => PqMinDist(exprs(0), exprs(1), exprs(2))))

  def register(spark: SparkSession): Unit =
    NativeFunctions.registerMissing(spark, functions)

  /** The codebook in literal form: subspace → codeword → components. */
  def codebookLit(seeds: Array[scala.collection.Seq[Float]], m: Int)
      : org.apache.spark.sql.Column = {
    val dim = seeds.head.length
    val sub = dim / m
    org.apache.spark.sql.functions.typedLit[Seq[Seq[Seq[Float]]]](
      (0 until m).map(j =>
        seeds.toSeq.map(v => v.slice(j * sub, (j + 1) * sub).toSeq)))
  }

  /** An ADC table in literal form: subspace → codeword → distance. */
  def tableLit(table: Array[Array[Double]]): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.typedLit[Seq[Seq[Double]]](
      table.map(_.toSeq).toSeq)
}
