package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** `graft_minhash_bands(shingles, numHashes, bands)` → array<long>: the
  * banded LSH keys of a document's shingle set, in ONE native codegen
  * expression — the per-row form of what [[graft.operators.Dedup]] used
  * to assemble from `explode → 32 × min(xxhash64(k, s)) aggregates → join
  * signatures back` (one exchange + one join per index build) or from
  * nested higher-order folds (zero shuffles but interpreted — the same
  * HOF penalty the PQ expressions removed in r14).
  *
  * Exact-parity contract (the LSH pair sets are oracle-pinned and stored
  * layouts persist band keys): every hash reproduces Spark's `xxhash64`
  * bit-for-bit via the SAME `XXH64` kernel its codegen calls —
  *  - signature row k: `min_s xxhash64(k, s)` = min over shingles of
  *    `XXH64.hashUTF8String(s, XXH64.hashInt(k, 42))`; a NULL shingle
  *    contributes the seed fold alone (`hashInt(k, 42)`), exactly like
  *    `xxhash64(k, NULL)`; min is the SIGNED long min (Spark's `min` /
  *    `array_min` on LongType);
  *  - band b: the `aggregate(slice(sig, b·r+1, r), xxhash64(b),
  *    (acc, v) => xxhash64(acc, v))` chain =
  *    `acc₀ = hashInt(b, 42)`, `accⱼ₊₁ = hashLong(sigⱼ, hashLong(accⱼ, 42))`;
  *  - an EMPTY shingle array yields NULL (callers filter `n_sh > 0`
  *    upstream; the explode+agg form dropped such docs entirely, so no
  *    caller observes either behavior).
  */
case class MinhashBands(sh: Expression, numHashesE: Expression,
                        bandsE: Expression) extends TernaryExpression {

  override def first: Expression = sh
  override def second: Expression = numHashesE
  override def third: Expression = bandsE

  @transient private lazy val nh: Int =
    numHashesE.eval(null).asInstanceOf[Int]
  @transient private lazy val nb: Int = bandsE.eval(null).asInstanceOf[Int]
  @transient private lazy val r: Int = nh / nb
  /** hashInt(k, 42) per signature row — the constant seed fold of
    * `xxhash64(lit(k), s)`, computed once per expression instance.
    */
  @transient private lazy val seedKs: Array[Long] =
    Array.tabulate(nh)(k => XXH64.hashInt(k, 42L))

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_minhash_bands"

  override def checkInputDataTypes(): TypeCheckResult = {
    val shOk = sh.dataType match {
      case ArrayType(StringType, _) => true
      case _ => false
    }
    val foldOk = numHashesE.foldable && bandsE.foldable &&
      numHashesE.dataType == IntegerType && bandsE.dataType == IntegerType
    if (shOk && foldOk) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<string> shingles, foldable int " +
        s"numHashes, foldable int bands), got (${sh.dataType.simpleString}, " +
        s"${numHashesE.dataType.simpleString}, ${bandsE.dataType.simpleString})")
  }

  def compute(a: ArrayData): Any = {
    val n = a.numElements()
    if (n == 0) return null
    require(nh % nb == 0, "bands must divide numHashes")
    val sig = new Array[Long](nh)
    java.util.Arrays.fill(sig, Long.MaxValue)
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) {
        var k = 0
        while (k < nh) {
          val v = seedKs(k)
          if (v < sig(k)) sig(k) = v
          k += 1
        }
      } else {
        val s = a.getUTF8String(i)
        var k = 0
        while (k < nh) {
          val v = XXH64.hashUTF8String(s, seedKs(k))
          if (v < sig(k)) sig(k) = v
          k += 1
        }
      }
      i += 1
    }
    val out = new Array[Long](nb)
    var b = 0
    while (b < nb) {
      var acc = XXH64.hashInt(b, 42L)
      var j = 0
      while (j < r) {
        acc = XXH64.hashLong(sig(b * r + j), XXH64.hashLong(acc, 42L))
        j += 1
      }
      out(b) = acc
      b += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(a: Any, c: Any, s: Any): Any =
    compute(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("minhashBands", this,
      classOf[MinhashBands].getName)
    nullSafeCodeGen(ctx, ev, (a, _, _) => s"""
       |Object ${ev.value}Tmp = $ref.compute($a);
       |if (${ev.value}Tmp == null) { ${ev.isNull} = true; }
       |else {
       |  ${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) ${ev.value}Tmp;
       |}
     """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): Expression =
    copy(sh = newFirst, numHashesE = newSecond, bandsE = newThird)
}

/** Registration for the minhash expressions. */
object MinhashExpressions {
  val BANDS_FN = "graft_minhash_bands"

  val functions: Seq[NativeFunctions.Description] = Seq(
    NativeFunctions.describe(BANDS_FN, classOf[MinhashBands])(
      exprs => MinhashBands(exprs(0), exprs(1), exprs(2))))

  def register(spark: SparkSession): Unit =
    NativeFunctions.registerMissing(spark, functions)
}
