package graft

import org.apache.spark.sql.catalyst.FunctionIdentifier
import graft.core.Tables
import graft.functions._
import graft.operators.Dedup

/** The native functions are registered once per session: the extension
  * injects all of them, and an operator's `register(spark)` call leaves a
  * name the registry already holds alone.
  */
class NativeFunctionsSpec extends SparkSpec {
  private val names = Seq(VectorExpressions.COSINE_FN,
    SampleAggregates.BOTTOMK_FN, TextExpressions.SHINGLES_FN,
    FrequencyAggregates.SPACESAVING_FN, PqExpressions.ENCODE_FN,
    PqExpressions.ADIST_FN, PqExpressions.MIN_DIST_FN,
    MinhashExpressions.BANDS_FN).map(FunctionIdentifier(_))

  test("an extension session holds every native function before any operator runs") {
    assert(NativeFunctions.all.map(_._1).toSet == names.toSet)
    val s2 = spark.newSession()
    val registry = s2.sessionState.functionRegistry
    names.foreach(id => assert(registry.functionExists(id), s"$id missing"))
    val bands = FunctionIdentifier(MinhashExpressions.BANDS_FN)
    val before = registry.lookupFunctionBuilder(bands).get
    val idx = Dedup.lshIndex(Tables.load(s2, sf, "documents"), "doc_id", "text")
    assert(idx.count() > 0)
    assert(registry.lookupFunctionBuilder(bands).get eq before,
      "lshIndex replaced the injected graft_minhash_bands builder")
  }

  test("register installs a missing function once and then keeps it") {
    val s2 = spark.newSession()
    val registry = s2.sessionState.functionRegistry
    val bands = FunctionIdentifier(MinhashExpressions.BANDS_FN)
    assert(registry.dropFunction(bands))
    MinhashExpressions.register(s2)
    assert(registry.functionExists(bands))
    // a re-registration stores a fresh ExpressionInfo
    val first = registry.lookupFunction(bands).get
    MinhashExpressions.register(s2)
    assert(registry.lookupFunction(bands).get eq first,
      "a second register replaced graft_minhash_bands")
    val idx = Dedup.lshIndex(Tables.load(s2, sf, "documents"), "doc_id", "text")
    assert(idx.count() > 0)
  }
}
