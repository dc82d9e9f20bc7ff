package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.{Catalog, Positional}
import graft.core.Catalog.PqCodesLayout
import graft.operators.Similarity

/** Keyed and full-row layout refresh derive vanished ids in two tiers:
  * the bounded change-feed probe over the build-epoch plan
  * ([[graft.core.CatalogRefresh.keyedRows]]), else the exact `served
  * EXCEPT now`. IncrementalRefreshSpec already pins digit-exact answers
  * for every refresh regime (and runs THROUGH the fast tier); this suite
  * pins what that can't: the fast tier actually FIRES on id-edit/delete
  * deltas (no silent EXCEPT fallback), the EXCEPT fires and stays correct
  * when the epoch plan is unrecoverable — with no third tier answering in
  * between — and the duplicate-id law (a candidate id a surviving row
  * still carries has not vanished) matches the EXCEPT's.
  */
class FastVanishedSpec extends SparkSpec {

  private def counters(cat: Catalog): (Long, Long) =
    (cat.fastVanishedHits.get(), cat.exceptFallbacks.get())

  private def queryVec(): Seq[Float] =
    core.Tables.load(spark, sf, "embeddings")
      .filter(col("vec_id") === 0L)
      .head().getAs[scala.collection.Seq[Float]]("embedding").toSeq

  private def seeds(cat: Catalog, name: String) =
    cat.layoutsOf(name).collectFirst { case (_, p: PqCodesLayout) => p }.get
      .seeds

  test("id rename + delete refresh answers via the change-feed probe, not EXCEPT") {
    val cat = new Catalog(spark)
    cat.open("fv1", s"$sf/embeddings.parquet", orderCols = Seq("vec_id"))
    cat.buildPqLayout("fv1", "vec_id", "embedding")
    val sess = cat.get("fv1").get
    assert(sess.setCell(3L, "vec_id", "777001"))
    assert(sess.deleteRow(7L))
    val (h0, e0) = counters(cat)
    assert(cat.refreshStale("fv1") == Seq("ann:embedding"))
    val (h1, e1) = counters(cat)
    assert(h1 > h0, "the fast vanished probe must fire on an id-edit+delete delta")
    assert(e1 == e0, s"no EXCEPT fallback expected, got ${e1 - e0}")
    // digit-exact vs a fresh re-encode of the edited table, same codebook
    val s9 = seeds(cat, "fv1")
    val edited = Positional.strip(sess.current)
    val expect = Similarity.pqTopKFromCodes(
      Similarity.pqCodes(edited, "vec_id", "embedding", s9),
      s9, queryVec(), k = 10).collect().map(_.toSeq).toSeq
    val got = cat.topK("fv1", "vec_id", "embedding", queryVec(), 10)
      .collect().map(_.toSeq).toSeq
    assert(got == expect)
  }

  test("unrecoverable epoch plan falls back to EXCEPT and stays exact (non-vacuous)") {
    val cat = new Catalog(spark)
    cat.open("fv2", s"$sf/embeddings.parquet", orderCols = Seq("vec_id"))
    cat.buildPqLayout("fv2", "vec_id", "embedding")
    val sess = cat.get("fv2").get
    // push the build epoch out of the undo history (maxHistory = 128):
    // 130 value-column edits, then the id rename the probe would need the
    // epoch plan for
    (1 to 130).foreach(i => assert(sess.setCell(0L, "label", i.toString)))
    assert(sess.setCell(5L, "vec_id", "777002"))
    val (h0, e0) = counters(cat)
    assert(cat.refreshStale("fv2") == Seq("ann:embedding"))
    val (h1, e1) = counters(cat)
    assert(e1 > e0, "trimmed history must route through the EXCEPT fallback")
    assert(h1 == h0, "the fast probe must not claim an unrecoverable delta")
    val s9 = seeds(cat, "fv2")
    val expect = Similarity.pqTopKFromCodes(
      Similarity.pqCodes(Positional.strip(sess.current), "vec_id",
        "embedding", s9),
      s9, queryVec(), k = 10).collect().map(_.toSeq).toSeq
    val got = cat.topK("fv2", "vec_id", "embedding", queryVec(), 10)
      .collect().map(_.toSeq).toSeq
    assert(got == expect)

    // an id-keyed full-row layout: value edits push the build epoch out
    // of the history, then a plain delete (no id edit) — the deleted id
    // must come from the EXCEPT, and the patched scan stay exact
    cat.open("fv2r", s"$sf/orders.parquet", orderCols = Seq("o_orderkey"))
    cat.buildRangedLayout("fv2r", "o_totalprice", files = 4,
      idCol = Some("o_orderkey"))
    val rs = cat.get("fv2r").get
    (1 to 130).foreach(i =>
      assert(rs.setCell(0L, "o_orderpriority", s"p$i")))
    assert(rs.deleteRow(7L))
    val (h2, e2) = counters(cat)
    assert(cat.refreshStale("fv2r") == Seq("range:o_totalprice"))
    val (h3, e3) = counters(cat)
    assert(e3 > e2, "a delete past the history must route through the EXCEPT")
    assert(h3 == h2, "the fast probe must not claim an unrecoverable delta")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("o_orderkey").collect().map(_.toSeq).toSeq
    assert(rows(cat.rangeScan("fv2r", "o_totalprice", 0.0, 1e9)) ==
      rows(Positional.strip(rs.current).filter(
        col("o_totalprice") >= 0.0 && col("o_totalprice") <= 1e9)))
  }

  test("duplicate ids: a renamed-away id a surviving row still carries is not shadowed") {
    val schema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = true),
        nullable = false)))
    val rows = (0 until 64).map { i =>
      // ids 0..31 twice: every id has a sibling carrying the same id
      Row((i % 32).toLong, Array.tabulate(8)(d => (i * 8 + d) / 100.0f).toSeq)
    }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    val cat = new Catalog(spark)
    cat.openFrom("fv3", df, orderCols = Seq.empty)
    cat.buildPqLayout("fv3", "vec_id", "embedding")
    val sess = cat.get("fv3").get
    // find a position whose id 5 also lives at another position
    val p = sess.current.filter(col("vec_id") === 5L)
      .select(col(Positional.POS)).head().getLong(0)
    assert(sess.setCell(p, "vec_id", "999"))
    val (h0, e0) = counters(cat)
    assert(cat.refreshStale("fv3") == Seq("ann:embedding"))
    val (h1, e1) = counters(cat)
    assert(h1 > h0 && e1 == e0, "dup-id delta must still take the fast tier")
    val q = Array.tabulate(8)(_ / 10.0f).toSeq
    val got = cat.topK("fv3", "vec_id", "embedding", q, 65)
      .collect().map(_.toSeq).toSeq
    // the law to pin is fast tier == EXCEPT tier: run the IDENTICAL
    // scenario through the fallback (history trimmed past the build
    // epoch) and require the same served rows — including the
    // pre-existing dup-id edge both tiers resolve the same way
    val cat2 = new Catalog(spark)
    cat2.openFrom("fv3x", df, orderCols = Seq.empty)
    cat2.buildPqLayout("fv3x", "vec_id", "embedding")
    val sess2 = cat2.get("fv3x").get
    (1 to 130).foreach(i =>
      assert(sess2.setCell(0L, "vec_id", ((i % 2) * 7).toString)))
    assert(sess2.setCell(0L, "vec_id", "0")) // restore: same end state as fv3
    assert(sess2.setCell(p, "vec_id", "999"))
    val (h2, e2) = counters(cat2)
    assert(cat2.refreshStale("fv3x") == Seq("ann:embedding"))
    val (h3, e3) = counters(cat2)
    assert(e3 > e2 && h3 == h2, "the comparison run must take the EXCEPT tier")
    val expect = cat2.topK("fv3x", "vec_id", "embedding", q, 65)
      .collect().map(_.toSeq).toSeq
    // multiset compare: ties in adist make the in-tie order arbitrary
    def key(r: Seq[Any]) = r.map(String.valueOf).mkString("|")
    assert(got.map(key).sorted == expect.map(key).sorted)
    // id 5 is still served (the sibling row carries it)
    assert(got.count(_.head == 5L) >= 1)
  }
}
