package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.operators.{AsOfJoin, Similarity}

class AsOfJoinSpec extends SparkSpec {
  private def ts(min: Int) = new Timestamp(min * 60000L)

  test("backward as-of picks latest at-or-before, max-id on ties") {
    import spark.implicits._
    val left = Seq((1L, ts(10), 100L), (1L, ts(20), 101L), (1L, ts(30), 102L),
      (2L, ts(5), 103L))
      .toDF("k", "ts", "lid")
    val right = Seq((1L, ts(5), 7L), (1L, ts(15), 8L), (1L, ts(15), 9L),
      (1L, ts(25), 10L))
      .toDF("k", "ts", "rid")
    val out = AsOfJoin.asofBackward(left, right, "k", "ts",
      carry = Seq("rid"), tiebreak = Some("rid"))
      .orderBy("lid").select("lid", "asof_rid").collect()
    assert(out.map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toSeq == Seq((100L, 7L), (101L, 9L), (102L, 10L), (103L, -1L)))
  }

  test("equal timestamps on both sides count as at-or-before") {
    import spark.implicits._
    val left = Seq((1L, ts(15), 100L)).toDF("k", "ts", "lid")
    val right = Seq((1L, ts(15), 7L)).toDF("k", "ts", "rid")
    val out = AsOfJoin.asofBackward(left, right, "k", "ts", Seq("rid"))
      .select("asof_rid").head
    assert(out.getLong(0) == 7L)
  }

  test("nearest as-of: smaller gap wins, ties go backward, no-match is null") {
    import spark.implicits._
    val left = Seq(
      (1L, ts(10), 100L), // gap 3 back (ts 7) vs 5 fwd (ts 15) -> backward
      (1L, ts(14), 101L), // gap 7 back vs 1 fwd -> forward
      (1L, ts(11), 102L), // gap 4 back vs 4 fwd -> tie -> backward
      (2L, ts(10), 103L)) // no right rows on key 2 -> null
      .toDF("k", "ts", "lid")
    val right = Seq((1L, ts(7), 7L), (1L, ts(15), 8L)).toDF("k", "ts", "rid")
    val out = AsOfJoin.asofNearest(left, right, "k", "ts", "lid",
        carry = Seq("rid"))
      .orderBy("lid")
      .select("lid", "asof_rid", "asof_direction").collect()
    assert(out.map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1),
        if (r.isNullAt(2)) "none" else r.getString(2))).toSeq ==
      Seq((100L, 7L, "backward"), (101L, 8L, "forward"),
        (102L, 7L, "backward"), (103L, -1L, "none")))
  }

  test("a matched right row with a NULL carry value still wins") {
    import spark.implicits._
    // nearest-before row carries null — ignoreNulls must not skip past the
    // match itself to an older row's value
    val left = Seq((1L, ts(30), 100L)).toDF("k", "ts", "lid")
    val right = Seq((1L, ts(10), Some(7L)), (1L, ts(20), None))
      .toDF("k", "ts", "rid")
    val back = AsOfJoin.asofBackward(left, right, "k", "ts", Seq("rid"))
      .select("asof_rid").head
    assert(back.isNullAt(0), s"expected null carry from ts=20 match, got $back")
    val fwdLeft = Seq((1L, ts(5), 100L)).toDF("k", "ts", "lid")
    val fwd = AsOfJoin.asofForward(fwdLeft, right.filter(col("ts") === ts(20)),
      "k", "ts", Seq("rid")).select("asof_rid").head
    assert(fwd.isNullAt(0))
  }

  test("tolerance voids matches staler than the bound, keeps fresh ones") {
    import spark.implicits._
    // left@30 matches right@20 (10 min stale) and left@60 matches right@20
    // (40 min stale): a 15-minute bound keeps the first, voids the second
    val left = Seq((1L, ts(30), 100L), (1L, ts(60), 101L))
      .toDF("k", "ts", "lid")
    val right = Seq((1L, ts(20), 7L)).toDF("k", "ts", "rid")
    val out = AsOfJoin.asofBackward(left, right, "k", "ts", Seq("rid"),
        toleranceUs = Some(15L * 60 * 1000000))
      .orderBy("lid").select("lid", "asof_rid").collect()
    assert(out.map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toSeq == Seq((100L, 7L), (101L, -1L)))
    // forward: right@20 is 10 min AHEAD of left@10 — same bound keeps it;
    // a 5-minute bound voids it
    val fl = Seq((1L, ts(10), 100L)).toDF("k", "ts", "lid")
    val kept = AsOfJoin.asofForward(fl, right, "k", "ts", Seq("rid"),
      toleranceUs = Some(15L * 60 * 1000000)).select("asof_rid").head
    assert(kept.getLong(0) == 7L)
    val voided = AsOfJoin.asofForward(fl, right, "k", "ts", Seq("rid"),
      toleranceUs = Some(5L * 60 * 1000000)).select("asof_rid").head
    assert(voided.isNullAt(0))
  }

  test("forward as-of picks earliest at-or-after, min-id on ties") {
    import spark.implicits._
    val left = Seq((1L, ts(10), 100L), (1L, ts(26), 101L), (2L, ts(5), 102L))
      .toDF("k", "ts", "lid")
    val right = Seq((1L, ts(10), 7L), (1L, ts(25), 8L), (1L, ts(25), 9L))
      .toDF("k", "ts", "rid")
    val out = AsOfJoin.asofForward(left, right, "k", "ts",
      carry = Seq("rid"), tiebreak = Some("rid"))
      .orderBy("lid").select("lid", "asof_rid").collect()
    assert(out.map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toSeq == Seq((100L, 7L), (101L, -1L), (102L, -1L)))
  }
}

class RangeJoinSpec extends SparkSpec {
  test("binned interval join equals the naive non-equi join") {
    import spark.implicits._
    val ev = Tables.loadEvents(spark, sf)
    val hourUs = 3600000000L
    val iv = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("pid"), col("user_id"),
        (unix_micros(col("ts")) - hourUs).as("lo"), unix_micros(col("ts")).as("hi"))
    val pt = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("cid"), col("user_id"),
        unix_micros(col("ts")).as("pt"))
    val binned = graft.operators.RangeJoin.pointInInterval(
        pt, iv, Seq("user_id"), "pt", "lo", "hi", binWidth = hourUs)
      .select("pid", "cid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val naive = pt.join(iv, pt("user_id") === iv("user_id") &&
        col("lo") <= col("pt") && col("pt") < col("hi"))
      .select("pid", "cid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(naive.nonEmpty, "fixture should produce in-window pairs")
    assert(binned == naive,
      s"missing ${naive -- binned}, extra ${binned -- naive}")
  }

  test("interval spanning many bins still matches each point once") {
    import spark.implicits._
    val iv = Seq((1L, 0L, 100L)).toDF("k", "lo", "hi")
    val pt = Seq((1L, 0L), (1L, 50L), (1L, 99L), (1L, 100L), (1L, -1L))
      .toDF("k", "pt")
    val out = graft.operators.RangeJoin.pointInInterval(
      pt, iv, Seq("k"), "pt", "lo", "hi", binWidth = 7L)
    // hi=100 exclusive, -1 below lo; each in-range point exactly once
    assert(out.count() == 3)
  }

  test("binning is exact above 2^53 (epoch-nanosecond domain)") {
    import spark.implicits._
    // 1.7e18 ns ≈ 2^60.6 — double division would mis-bin boundary values
    val w = 3600L * 1000000000L // 1h in ns
    val t0 = 1700000000L * 1000000000L
    val iv = Seq((1L, t0, t0 + w)).toDF("k", "lo", "hi")
    val pt = Seq((1L, t0), (1L, t0 + w - 1), (1L, t0 + w), (1L, t0 - 1))
      .toDF("k", "pt")
    val got = graft.operators.RangeJoin.pointInInterval(
        pt, iv, Seq("k"), "pt", "lo", "hi", binWidth = w)
      .select("pt").collect().map(_.getLong(0)).toSet
    assert(got == Set(t0, t0 + w - 1), s"got $got")
  }

  test("degenerate intervals (hi <= lo) are dropped, not exploded") {
    import spark.implicits._
    val iv = Seq((1L, 1700000000000000000L, 0L)).toDF("k", "lo", "hi")
    val pt = Seq((1L, 5L)).toDF("k", "pt")
    val out = graft.operators.RangeJoin.pointInInterval(
      pt, iv, Seq("k"), "pt", "lo", "hi", binWidth = 3600000000L)
    assert(out.count() == 0) // and completes instantly — no bin explosion
  }

  test("intervalOverlap equals the naive overlap join, duplicate-free") {
    import spark.implicits._
    // spans crafted to cover: same bin, adjacent bins, many shared bins
    // (0..25 vs 3..22 share bins 0,1,2 at width 7), touching endpoints,
    // and disjoint pairs
    val l = Seq((10L, 0L, 25L), (11L, 5L, 6L), (12L, 30L, 40L))
      .toDF("lid", "s_i", "e_i")
    val r = Seq((20L, 3L, 22L), (21L, 6L, 9L), (22L, 41L, 50L))
      .toDF("rid", "s_j", "e_j")
    val binned = graft.operators.RangeJoin.intervalOverlap(
        l, r, Nil, "s_i", "e_i", "s_j", "e_j", binWidth = 7L)
      .select("lid", "rid").collect()
      .map(x => (x.getLong(0), x.getLong(1)))
    val naive = l.crossJoin(r)
      .filter(col("s_i") <= col("e_j") && col("s_j") <= col("e_i"))
      .select("lid", "rid").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(binned.length == binned.toSet.size,
      s"claim rule must emit each pair once: ${binned.toSeq}")
    assert(binned.toSet == naive,
      s"missing ${naive -- binned.toSet}, extra ${binned.toSet -- naive}")
  }

  test("intervalOverlap on the events fixture equals the non-equi join") {
    val ev = Tables.loadEvents(spark, sf)
    val e = ev.select(col("event_id"), col("event_type"),
      unix_micros(col("ts")).as("s"),
      (unix_micros(col("ts")) +
        floor(col("value") * 10).cast("long") * 1000000L).as("en"))
    val v = e.filter(col("event_type") === "view")
      .select(col("event_id").as("vid"), col("s").as("s_i"), col("en").as("e_i"))
    val c = e.filter(col("event_type") === "click")
      .select(col("event_id").as("cid"), col("s").as("s_j"), col("en").as("e_j"))
    val binned = graft.operators.RangeJoin.intervalOverlap(v, c, Nil,
        "s_i", "e_i", "s_j", "e_j", binWidth = 3600L * 1000000L)
      .select("vid", "cid").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    val naive = v.crossJoin(c)
      .filter(col("s_i") <= col("e_j") && col("s_j") <= col("e_i"))
      .select("vid", "cid").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(naive.nonEmpty, "fixture should produce overlapping pairs")
    assert(binned == naive,
      s"missing ${naive -- binned}, extra ${binned -- naive}")
  }
}

class SketchAccuracySpec extends SparkSpec {
  test("HLL distinct and approx median stay within advertised error") {
    val li = Tables.load(spark, sf, "lineitem")
    val rows = li.groupBy("l_returnflag").agg(
      approx_count_distinct(col("l_partkey")).as("approx_parts"),
      countDistinct(col("l_partkey")).as("exact_parts"),
      percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000)).as("am"),
      expr("percentile(l_extendedprice, 0.5)").as("em")).collect()
    rows.foreach { r =>
      val ap = r.getAs[Long]("approx_parts").toDouble
      val ep = r.getAs[Long]("exact_parts").toDouble
      assert(math.abs(ap - ep) / ep <= 0.10,
        s"HLL rel err ${math.abs(ap - ep) / ep} > 10%")
      val am = r.getAs[Double]("am")
      val em = r.getAs[Double]("em")
      assert(math.abs(am - em) / em <= 0.05,
        s"approx median rel err ${math.abs(am - em) / em} > 5%")
    }
  }

  test("KMV kth-hash is null-safe for groups smaller than k (ANSI mode)") {
    // element_at(arr, k) would throw INVALID_ARRAY_INDEX under ANSI for a
    // group with < k distinct hashes; the a8 query uses try_element_at +
    // a null filter, dropping such groups like the oracle's WHERE rn = k.
    graft.functions.SampleAggregates.register(spark)
    import spark.implicits._
    val df = Seq(("a", 10L), ("a", 20L), ("b", 10L), ("b", 20L), ("b", 30L))
      .toDF("g", "hv")
    val kth = df.groupBy("g")
      .agg(try_element_at(
        org.apache.spark.sql.functions.call_function(
          graft.functions.SampleAggregates.BOTTOMK_FN,
          lpad(col("hv").cast("string"), 19, "0"), col("hv"), lit(3)),
        lit(3)).as("hk"))
      .filter(col("hk").isNotNull)
    val rows = kth.collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("b"),
      "group 'a' (2 < k=3 hashes) must be dropped, 'b' kept")
    assert(rows.head.getLong(1) == 30L, "kth smallest of b must be 30")
  }

  test("KMV sketch rollup: per-shard merge equals the direct single pass") {
    // the lossless-merge property behind a20_sketch_rollup — every global
    // bottom-k hash is in its own shard's bottom-k, so merging stored
    // sketches reproduces the direct estimate exactly (here with shards
    // smaller than k, the boundary where a lossy merge would diverge)
    val out = graft.queries.AnalyticsQueries
      .queries("a20_sketch_rollup")(spark, sf).collect()
    assert(out.nonEmpty, "expected at least one flag group with >= 64 hashes")
    out.foreach { r =>
      assert(r.getDouble(1) == r.getDouble(2),
        s"merged != direct for ${r.getString(0)}: ${r.getDouble(1)} vs ${r.getDouble(2)}")
    }
  }
}

class CollapseCellEditsSpec extends SparkSpec {
  import org.apache.spark.sql.catalyst.expressions.CaseWhen

  private def maxCaseDepth(e: org.apache.spark.sql.catalyst.expressions.Expression): Int =
    e match {
      case cw: CaseWhen =>
        1 + (cw.elseValue.toSeq ++ cw.branches.map(_._2)).map(maxCaseDepth).max
      case other => if (other.children.isEmpty) 0
        else other.children.map(maxCaseDepth).max
    }

  test("stacked setCell towers flatten to one deduped CaseWhen") {
    graft.plans.CollapseCellEdits.install(spark)
    import spark.implicits._
    val base = graft.core.Positional.attachPos(
      Seq(10.0, 20.0, 30.0, 40.0).toDF("v"))
    // 30 stacked edits; position 1 written three times (last must win)
    var df = base
    (0 until 28).foreach { i =>
      df = graft.ops.CellOps.setCell(df, (i % 4).toLong, "v", s"${100 + i}").get
    }
    df = graft.ops.CellOps.setCell(df, 1L, "v", "777").get
    df = graft.ops.CellOps.setCell(df, 1L, "v", "888").get
    val optimized = df.queryExecution.optimizedPlan
    val depths = optimized.expressions.map(maxCaseDepth)
    assert(depths.max <= 1,
      s"edit chain not flattened, nesting depth ${depths.max}")
    val vals = df.orderBy(graft.core.Positional.POS)
      .select("v").collect().map(_.getDouble(0)).toSeq
    // newest writes: pos1=888; pos0/2/3 from the loop's last rounds (i=24..27)
    assert(vals == Seq(124.0, 888.0, 126.0, 127.0), s"got $vals")
  }

  test("a 200-deep edit tower still flattens and stays executable") {
    graft.plans.CollapseCellEdits.install(spark)
    import spark.implicits._
    var df = graft.core.Positional.attachPos(
      (1 to 8).map(_.toDouble).toDF("v"))
    (0 until 200).foreach { i =>
      df = graft.ops.CellOps.setCell(df, (i % 8).toLong, "v", s"${1000 + i}").get
    }
    val depths = df.queryExecution.optimizedPlan.expressions.map(maxCaseDepth)
    assert(depths.max <= 1, s"depth ${depths.max}")
    // only 8 live branches survive dedup; results are the last 8 writes
    val vals = df.orderBy(graft.core.Positional.POS)
      .select("v").collect().map(_.getDouble(0)).toSeq
    assert(vals == (1192 to 1199).map(_.toDouble), s"got $vals")
  }
}

class ZOrderSpec extends SparkSpec {
  test("Morton interleave places bits at even/odd positions") {
    import spark.implicits._
    // x=0b11, y=0 -> 0b0101 = 5; x=0, y=0b11 -> 0b1010 = 10; (3,3) -> 15
    val rows = Seq((3L, 0L), (0L, 3L), (3L, 3L), (5L, 2L)).toDF("x", "y")
      .select(graft.operators.ZOrder.zValue(Seq(col("x"), col("y"))).as("z"))
      .collect().map(_.getLong(0)).toSeq
    // (5,2): x=101 puts bits at even positions 0 and 4 (1+16); y=010 puts
    // its bit 1 at odd position 3 (8) -> z = 25
    assert(rows == Seq(5L, 10L, 15L, 25L), s"got $rows")
  }

  test("sorting by z keeps both dimensions clustered per file-sized chunk") {
    // after a z-sort, each contiguous chunk must span a small sub-rectangle:
    // max per-chunk range in BOTH dims should be far below the full domain.
    // Dimensions are bucketed to comparable domains first — z-order gives a
    // dimension locality proportional to its share of interleaved bits, so
    // a 10-value column next to an 11-bit one contributes only low bits.
    // bucket both dims to a fully-used 8-bit range: a dimension only gets
    // z-locality from bit positions it actually populates
    val li = Tables.load(spark, sf, "lineitem")
      .select(pmod(col("l_partkey"), lit(128L)).as("x"),
        pmod(col("l_orderkey"), lit(128L)).as("y"))
    val z = li.select(col("x"), col("y"),
      graft.operators.ZOrder.zValue(Seq(col("x"), col("y")), bitsPer = 7).as("z"))
    val sorted = z.orderBy("z").collect()
    val chunks = sorted.grouped(math.max(1, sorted.length / 16)).toSeq
    // BOTH dimensions must cluster — a key that only sorted its leading
    // column would pass a one-dimensional check
    Seq(0, 1).foreach { dim =>
      val domain = sorted.map(_.getLong(dim)).max - sorted.map(_.getLong(dim)).min
      val avgRange = chunks.map { c =>
        c.map(_.getLong(dim)).max - c.map(_.getLong(dim)).min }.sum / chunks.size
      assert(avgRange < domain / 2,
        s"z-sort gives no locality in dim $dim: avg chunk range $avgRange of $domain")
    }
  }
}

class BloomPruneSpec extends SparkSpec {
  test("bloom-pruned semi-join is exactly the plain semi-join") {
    val li = Tables.load(spark, sf, "lineitem")
    val hi = Tables.load(spark, sf, "orders")
      .filter(col("o_totalprice") > 400000.0)
    val pruned = graft.operators.BloomPrune
      .bloomSemiJoin(li, hi, "l_orderkey", "o_orderkey")
    val plain = li.join(hi.select(col("o_orderkey").as("l_orderkey")).distinct(),
      Seq("l_orderkey"), "left_semi")
    assert(plain.count() > 0, "fixture should have high-value orders")
    assert(pruned.count() == plain.count())
    assert(pruned.exceptAll(plain).isEmpty && plain.exceptAll(pruned).isEmpty)
  }
}

class ConnectedComponentsSpec extends SparkSpec {
  test("chains, stars, and singletons-via-pairs resolve to min-id clusters") {
    import spark.implicits._
    // components: {1,2,3,4} (a chain), {10,11,12} (a star), {20,21}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (10L, 12L),
      (20L, 21L)).toDF("id_i", "id_j")
    val cc = graft.operators.Dedup.connectedComponents(pairs, "id_i", "id_j")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(cc(_) == 1L))
    assert(Seq(10L, 11L, 12L).forall(cc(_) == 10L))
    assert(Seq(20L, 21L).forall(cc(_) == 20L))
  }
}

class CosineSimSpec extends SparkSpec {
  test("codegen'd CosineSim is bit-identical to the HOF composition") {
    val embs = Tables.load(spark, sf, "embeddings").limit(200)
    graft.functions.VectorExpressions.register(spark)
    val both = embs.select(
      call_function("graft_cosine", col("embedding"), col("embedding")).as("fast"),
      Similarity.cosine(col("embedding"), col("embedding")).as("hof"))
    assert(both.filter(col("fast") =!= col("hof")).count() == 0)
    // cross-vector, not just self-similarity
    val q = embs.head.getAs[scala.collection.Seq[Float]]("embedding").toSeq
    val cross = embs.select(
      call_function("graft_cosine", col("embedding"), Similarity.vectorLit(q)).as("fast"),
      Similarity.cosine(col("embedding"), Similarity.vectorLit(q)).as("hof"))
    assert(cross.filter(col("fast") =!= col("hof")).count() == 0)
  }

  test("zero vectors give 0.0; type mismatch is rejected at analysis") {
    import spark.implicits._
    graft.functions.VectorExpressions.register(spark)
    val df = Seq((Seq(0f, 0f), Seq(1f, 2f))).toDF("a", "b")
    assert(df.select(call_function("graft_cosine", col("a"), col("b")))
      .head.getDouble(0) == 0.0)
    val bad = Seq((Seq("x"), Seq(1f))).toDF("a", "b")
    intercept[Exception](
      bad.select(call_function("graft_cosine", col("a"), col("b"))).head)
  }
}
