package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.{Positional, Tables}

/** r15: the sampling-free range exchange behind [[Positional.attachPos]]
  * (narrow bounds sample + RangeToken bucket → hash-repartition token).
  * Pins (a) position equality with the classic repartitionByRange path on
  * unique keys — the executable old-vs-new spec, (b) the positional
  * contract (dense, key-monotone, nulls first) on ties/nulls where the
  * classic path's assignment among ties is sampler-dependent, and (c) the
  * token table law against Spark's own hash partitioning expressions.
  */
class FastRangeAttachSpec extends SparkSpec {

  private def classicAttach(df: DataFrame, order: Column*): DataFrame =
    Positional.attachPosCounted(df, order, fastRange = false)._1

  test("fast attach assigns the exact positions of the classic path on unique keys") {
    val li = Tables.load(spark, sf, "lineitem")
    val ord = Seq("l_orderkey", "l_linenumber", "l_extendedprice").map(col)
    val classic = classicAttach(li, ord: _*)
      .select(col("l_orderkey"), col("l_linenumber"), col(Positional.POS))
    val n0 = Positional.fastRangeUses.get()
    val fast = Positional.attachPos(li, ord: _*)
      .select(col("l_orderkey"), col("l_linenumber"), col(Positional.POS))
    assert(Positional.fastRangeUses.get() > n0,
      "the fast path must actually engage — this test is vacuous otherwise")
    assert(classic.except(fast).count() == 0)
    assert(fast.except(classic).count() == 0)
  }

  test("fast attach matches classic on string keys") {
    val n = Tables.load(spark, sf, "nation")
    val classic = classicAttach(n, col("n_name"), col("n_nationkey"))
      .select(col("n_nationkey"), col(Positional.POS))
    val fast = Positional.attachPos(n, col("n_name"), col("n_nationkey"))
      .select(col("n_nationkey"), col(Positional.POS))
    assert(classic.except(fast).count() == 0)
  }

  test("ties and nulls: dense positions, key-monotone, nulls first") {
    val schema = StructType(Seq(
      StructField("k", StringType, nullable = true),
      StructField("v", IntegerType, nullable = false)))
    val rows = (0 until 500).map { i =>
      Row(if (i % 7 == 0) null else s"key_${i % 13}", i)
    }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 5), schema)
    val pos = Positional.attachPos(df, col("k"))
      .select(col("k"), col(Positional.POS)).orderBy(Positional.POS).collect()
    assert(pos.map(_.getLong(1)).toSeq == (0L until 500L))
    val keys = pos.map(r => Option(r.getString(0)))
    // nulls first, then non-decreasing
    val firstNonNull = keys.indexWhere(_.isDefined)
    assert(keys.take(firstNonNull).forall(_.isEmpty))
    assert(keys.drop(firstNonNull).forall(_.isDefined))
    val nonNull = keys.drop(firstNonNull).map(_.get)
    assert(nonNull.zip(nonNull.tail).forall { case (a, b) => a <= b })
  }

  test("descending / expression keys fall back to the classic path and stay correct") {
    val n = Tables.load(spark, sf, "nation")
    val pos = Positional.attachPos(n, col("n_nationkey").desc)
      .select(col("n_nationkey"), col(Positional.POS))
      .orderBy(Positional.POS).collect()
    assert(pos.map(_.getLong(1)).toSeq == (0L until pos.length))
    val keys = pos.map(_.getInt(0))
    assert(keys.zip(keys.tail).forall { case (a, b) => a >= b },
      "desc ordering must survive the fallback")
  }

  test("empty input attaches zero rows without error") {
    val empty = Tables.load(spark, sf, "nation").filter(lit(false))
    val (df, n) = Positional.attachPosCounted(empty, col("n_nationkey"))
    assert(n == 0L)
    assert(df.count() == 0L)
  }

  test("token table: pmod(murmur3(token), n) == slot, per Spark's own expressions") {
    import org.apache.spark.sql.catalyst.expressions.{Literal, Murmur3Hash, Pmod}
    Seq(1, 4, 7, 32, 200).foreach { n =>
      val tokens = Positional.tokensFor(n)
      assert(tokens.length == n)
      tokens.zipWithIndex.foreach { case (t, slot) =>
        val got = Pmod(new Murmur3Hash(Seq(Literal(t))), Literal(n))
          .eval(null).asInstanceOf[Int]
        assert(got == slot, s"token $t of n=$n hashed to $got, want $slot")
      }
    }
  }
}
