package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.{Catalog, Tables}

/** Z-ordered catalog layout (`Catalog.buildZOrderedLayout` /
  * `rangeScanBox` over two columns): Morton-clustered files + a 2-D
  * skipping index must prune on BOTH dimensions, answers stay
  * byte-identical to the plain conjunctive filter, transposed column
  * order serves from the same layout, edits fall back, a rebuild over
  * an emptied session still builds, and the durable form reloads.
  */
class ZOrderLayoutSpec extends SparkSpec {

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def newCat(wh: Option[String] = None): Catalog = {
    val c = new Catalog(spark, wh)
    c.open("zli", s"$sf/lineitem.parquet",
      orderCols = Seq("l_orderkey", "l_linenumber"))
    c.buildZOrderedLayout("zli", Seq("l_extendedprice", "l_quantity"), files = 16)
    c
  }

  private def expected(loX: Double, hiX: Double, loY: Double,
                       hiY: Double): Seq[Seq[Any]] =
    Tables.load(spark, sf, "lineitem")
      .filter(col("l_extendedprice").between(loX, hiX) &&
        col("l_quantity").between(loY, hiY))
      .select("l_orderkey", "l_linenumber")
      .orderBy("l_orderkey", "l_linenumber")
      .collect().map(_.toSeq).toSeq

  test("rectangle scan prunes files on both dimensions and matches the full filter") {
    val c = newCat()
    val routed = c.rangeScanBox("zli", Seq(("l_extendedprice", 1000.0, 5000.0),
      ("l_quantity", 10.0, 20.0)))
    val p = plan(routed)
    assert(p.contains("catalog_zorder_"),
      s"a covered rectangle must read the clustered layout; plan:\n$p")
    assert(c.recentRoutes.last.reason == "routed")
    assert(routed.select("l_orderkey", "l_linenumber")
      .orderBy("l_orderkey", "l_linenumber").collect().map(_.toSeq).toSeq ==
      expected(1000.0, 5000.0, 10.0, 20.0))

    // the index must actually SKIP: a tight rectangle opens a strict
    // subset of the 16 part files
    val l = c.layoutsOf("zli").collectFirst {
      case (_, z: Catalog.ClusteredLayout) => z
    }.get
    val total = l.stats.count()
    val candX = graft.io.SkippingIndex.candidateFiles(l.stats,
      Seq((Some(1000.0), Some(2000.0)), (Some(1.0), Some(5.0)))).size
    assert(candX < total,
      s"a tight rectangle must skip files ($candX of $total opened)")
    // and pruning on the SECOND dimension alone works too — the point
    // of z-order over single-column clustering
    val candY = graft.io.SkippingIndex.candidateFiles(l.stats,
      Seq((Some(Double.MinValue), Some(Double.MaxValue)),
        (Some(1.0), Some(2.0)))).size
    assert(candY < total,
      s"the non-leading dimension must also prune ($candY of $total)")
  }

  test("transposed column order serves from the same layout") {
    val c = newCat()
    val routed = c.rangeScanBox("zli", Seq(("l_quantity", 10.0, 20.0),
      ("l_extendedprice", 1000.0, 5000.0)))
    assert(plan(routed).contains("catalog_zorder_"),
      "(y, x) must route through the (x, y) layout")
    assert(routed.select("l_orderkey", "l_linenumber")
      .orderBy("l_orderkey", "l_linenumber").collect().map(_.toSeq).toSeq ==
      expected(1000.0, 5000.0, 10.0, 20.0))
  }

  test("an edit invalidates; refreshStale rebuilds; answers track the edit") {
    val c = newCat()
    val s = c.get("zli").get
    assert(s.setCell(0L, "l_quantity", "15.0"))
    val live = c.rangeScanBox("zli", Seq(("l_extendedprice", 1000.0, 5000.0),
      ("l_quantity", 10.0, 20.0)))
    assert(!plan(live).contains("catalog_zorder_"),
      "a stale z-order layout must not serve")
    assert(c.recentRoutes.last.reason == "stale-epoch")
    c.refreshStale("zli")
    val routed = c.rangeScanBox("zli", Seq(("l_extendedprice", 1000.0, 5000.0),
      ("l_quantity", 10.0, 20.0)))
    assert(plan(routed).contains("catalog_zorder_"))
    assert(routed.count() ==
      graft.core.Positional.strip(s.current)
        .filter(col("l_extendedprice").between(1000.0, 5000.0) &&
          col("l_quantity").between(10.0, 20.0)).count())
    // a mass DELETE logs structurally, so REFRESH TABLE rebuilds the
    // layout over zero rows: dimensions without a non-null value
    c.sql("DELETE FROM zli WHERE l_orderkey >= 0")
    assert(s.rowCount == 0L)
    c.sql("REFRESH TABLE zli")
    val emptied = c.rangeScanBox("zli", Seq(("l_extendedprice", 1000.0, 5000.0),
      ("l_quantity", 10.0, 20.0)))
    assert(c.recentRoutes.last.reason == "routed",
      s"the rebuilt layout must route: ${c.recentRoutes.last}")
    assert(emptied.collect().isEmpty)
  }

  test("TYPED z-order (ts × numeric): both dimensions prune in their own types") {
    val c = new Catalog(spark)
    c.openFrom("zev",
      Tables.loadEvents(spark, sf)
        .select("event_id", "user_id", "event_type", "ts", "value"),
      Seq("event_id"))
    c.buildZOrderedLayout("zev", Seq("ts", "user_id"), files = 8)
    val lo = java.time.Instant.parse("2024-01-10T00:00:00Z")
    val hi = java.time.Instant.parse("2024-01-20T00:00:00Z")
    val routed = c.rangeScanBox("zev", Seq(("ts", lo, hi),
      ("user_id", 2L, 9L)))
    assert(plan(routed).contains("catalog_zorder_"),
      s"a typed rectangle must route; plan:\n${plan(routed)}")
    val live = Tables.loadEvents(spark, sf)
      .filter(col("ts") >= lit(lo) && col("ts") <= lit(hi) &&
        col("user_id").between(2L, 9L))
    assert(routed.select("event_id").orderBy("event_id")
      .collect().map(_.toSeq).toSeq ==
      live.select("event_id").orderBy("event_id")
        .collect().map(_.toSeq).toSeq,
      "the typed rectangle answer must equal the plain filter")

    // BOTH-dimension pruning pins: the time window alone skips, the
    // user range alone skips — in each column's own type, never a
    // double cast of the timestamp
    val l = c.layoutsOf("zev").collectFirst {
      case (_, z: Catalog.ClusteredLayout) => z
    }.get
    val total = l.stats.count()
    val tightTs = graft.io.SkippingIndex.candidateFiles(l.stats, Seq(
      (Some(java.time.Instant.parse("2024-01-02T00:00:00Z")),
        Some(java.time.Instant.parse("2024-01-04T00:00:00Z"))), (None, None)))
    assert(tightTs.size < total,
      s"the time dimension must prune (${tightTs.size} of $total opened)")
    val tightUser = graft.io.SkippingIndex.candidateFiles(l.stats,
      Seq((None, None), (Some(0L), Some(1L))))
    assert(tightUser.size < total,
      s"the user dimension must prune (${tightUser.size} of $total opened)")

    // the SQL text of the same rectangle routes through the layout
    val sql = c.sql(
      """SELECT count(*) AS n FROM zev
        |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND ts <= TIMESTAMP '2024-01-20 00:00:00'
        |  AND user_id BETWEEN 2 AND 9""".stripMargin)
    assert(plan(sql).contains("catalog_zorder_"),
      s"the typed SQL rectangle must route; plan:\n${plan(sql)}")
    assert(sql.head().getLong(0) == live.count())
  }

  test("durable z-order layout re-attaches in a fresh Catalog") {
    val wh = java.nio.file.Files.createTempDirectory("graft_wh_").toString
    val a = newCat(Some(wh))
    val fromA = a.rangeScanBox("zli", Seq(("l_extendedprice", 1000.0, 5000.0),
      ("l_quantity", 10.0, 20.0))).count()
    a.close("zli")
    val b = new Catalog(spark, Some(wh))
    b.open("zli", s"$sf/lineitem.parquet",
      orderCols = Seq("l_orderkey", "l_linenumber"))
    assert(b.explainRoute("zli", "zorder:l_extendedprice,l_quantity")
      .reason == "routed")
    val routed = b.rangeScanBox("zli", Seq(("l_extendedprice", 1000.0, 5000.0),
      ("l_quantity", 10.0, 20.0)))
    assert(plan(routed).contains(wh))
    assert(routed.count() == fromA)
  }
}
