package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.{Catalog, Positional, Tables}

/** 3-D typed z-order (r11 verdict task #8): the events (ts × user ×
  * type) box clusters on a 3-way Morton interleave, each dimension
  * bucketized in its own type (timestamps through their epoch image,
  * strings through an order-preserving dictionary), and the 3-D skipping
  * index prunes part files on ALL THREE dimensions — typed entry point
  * and SQL text, any dimension order, byte-identical answers.
  */
class ZOrder3LayoutSpec extends SparkSpec {

  private def events = Tables.loadEvents(spark, sf)
    .select("event_id", "user_id", "event_type", "ts", "value")

  private def live(df: DataFrame, boxes: Seq[(String, Any, Any)]): DataFrame =
    boxes.foldLeft(df) { case (d, (c, lo, hi)) =>
      d.filter(col(c) >= lit(lo) && col(c) <= lit(hi))
    }

  private val tsLo = java.sql.Timestamp.from(
    java.time.Instant.parse("2024-01-10T00:00:00Z"))
  private val tsHi = java.sql.Timestamp.from(
    java.time.Instant.parse("2024-01-20T00:00:00Z"))

  test("numeric 3-D box: routed == live, and EVERY dimension prunes files") {
    val cat = new Catalog(spark)
    cat.openFrom("ev3", events, orderCols = Seq("event_id"))
    cat.buildZOrderedLayout("ev3", Seq("ts", "user_id", "value"),
      files = 64)
    val l = cat.layoutsOf("ev3").collectFirst {
      case (_, z: Catalog.ClusteredLayout) => z
    }.get
    val total = l.stats.count()
    assert(total >= 32, s"fixture needs many files, got $total")

    val uLo = 2L
    val uHi = 9L
    val vLo = 10.0
    val vHi = 60.0
    val boxes = Seq[(String, Any, Any)](
      ("ts", tsLo, tsHi), ("user_id", uLo, uHi), ("value", vLo, vHi))
    val got = cat.rangeScanBox("ev3", boxes)
    assert(cat.recentRoutes.last.decision == "layout" &&
      cat.recentRoutes.last.reason == "routed")
    assert(got.orderBy("event_id").collect().map(_.toSeq).toSeq ==
      live(events, boxes).orderBy("event_id").collect().map(_.toSeq).toSeq)

    // pruning pin: the tight box reads fewer files than the layout
    // holds, and OPENING any one dimension strictly increases the
    // candidate set — i.e. all three dimensions contribute pruning
    import graft.io.SkippingIndex.candidateFiles
    def cand(ts: Boolean, u: Boolean, v: Boolean) =
      candidateFiles(l.stats, Seq(
        (if (ts) Some(tsLo) else None, if (ts) Some(tsHi) else None),
        (if (u) Some(uLo) else None, if (u) Some(uHi) else None),
        (if (v) Some(vLo) else None, if (v) Some(vHi) else None))).size
    val tight = cand(true, true, true)
    assert(tight < total, s"tight box must prune ($tight of $total)")
    assert(cand(false, true, true) > tight, "ts bounds must prune files")
    assert(cand(true, false, true) > tight, "user bounds must prune files")
    assert(cand(true, true, false) > tight, "value bounds must prune files")
  }

  test("dimension order is routing-irrelevant: a permuted box serves the same layout") {
    val cat = new Catalog(spark)
    cat.openFrom("ev3p", events, orderCols = Seq("event_id"))
    cat.buildZOrderedLayout("ev3p", Seq("ts", "user_id", "value"),
      files = 16)
    val boxes = Seq[(String, Any, Any)](
      ("value", 10.0, 60.0), ("ts", tsLo, tsHi), ("user_id", 2L, 9L))
    val got = cat.rangeScanBox("ev3p", boxes)
    assert(cat.recentRoutes.last.reason == "routed",
      s"permuted box must route: ${cat.recentRoutes.last}")
    assert(got.count() == live(events, boxes).count())
  }

  test("a STRING dimension prunes through the order-preserving dictionary") {
    // high-cardinality padded string so lexicographic order == numeric
    val ev = events.withColumn("ukey",
      lpad(col("user_id").cast("string"), 6, "0"))
    val cat = new Catalog(spark)
    cat.openFrom("ev3s", ev, orderCols = Seq("event_id"))
    cat.buildZOrderedLayout("ev3s", Seq("ts", "value", "ukey"),
      files = 64)
    val l = cat.layoutsOf("ev3s").collectFirst {
      case (_, z: Catalog.ClusteredLayout) => z
    }.get
    val boxes = Seq[(String, Any, Any)](
      ("ts", tsLo, tsHi), ("value", 10.0, 60.0), ("ukey", "000002", "000009"))
    val got = cat.rangeScanBox("ev3s", boxes)
    assert(cat.recentRoutes.last.reason == "routed")
    assert(got.orderBy("event_id").collect().map(_.toSeq).toSeq ==
      live(ev, boxes).orderBy("event_id").collect().map(_.toSeq).toSeq)
    import graft.io.SkippingIndex.candidateFiles
    val open = candidateFiles(l.stats, Seq((Some(tsLo), Some(tsHi)),
      (Some(10.0), Some(60.0)), (None, None))).size
    val tight = candidateFiles(l.stats, Seq((Some(tsLo), Some(tsHi)),
      (Some(10.0), Some(60.0)), (Some("000002"), Some("000009")))).size
    assert(tight < open,
      s"string bounds must prune files through the dictionary " +
        s"($tight vs $open)")
  }

  test("low-cardinality type equality is exact; mutation rebuilds on refresh") {
    val cat = new Catalog(spark)
    cat.openFrom("ev3t", events, orderCols = Seq("event_id"))
    cat.buildZOrderedLayout("ev3t", Seq("ts", "user_id", "event_type"),
      files = 16)
    val boxes = Seq[(String, Any, Any)](
      ("ts", tsLo, tsHi), ("user_id", 2L, 9L),
      ("event_type", "click", "click"))
    def check(): Unit = {
      val got = cat.rangeScanBox("ev3t", boxes)
      val s = cat.get("ev3t").get
      assert(got.orderBy("event_id").collect().map(_.toSeq).toSeq ==
        live(Positional.strip(s.current), boxes)
          .orderBy("event_id").collect().map(_.toSeq).toSeq)
    }
    check()
    assert(cat.recentRoutes.last.reason == "routed")
    // mutate: stale layout falls back live, refresh REBUILDS, routes again
    val s = cat.get("ev3t").get
    assert(s.setCell(0L, "user_id", "999"))
    check()
    assert(cat.recentRoutes.last.reason == "stale-epoch")
    assert(cat.refreshStale("ev3t").contains(
      "zorder3:event_type,ts,user_id"))
    check()
    assert(cat.recentRoutes.last.reason == "routed",
      "refresh must rebuild the 3-D layout and route again")
  }

  test("durable: a fresh catalog re-attaches the stored 3-D layout; vacuum keeps it") {
    val wh = java.nio.file.Files.createTempDirectory("graft_wh_z3_").toString
    val cat = new Catalog(spark, Some(wh))
    cat.openFrom("ev3d", events, orderCols = Seq("event_id"))
    cat.buildZOrderedLayout("ev3d", Seq("ts", "user_id", "value"),
      files = 16)
    val boxes = Seq[(String, Any, Any)](
      ("ts", tsLo, tsHi), ("user_id", 2L, 9L), ("value", 10.0, 60.0))
    val want = cat.rangeScanBox("ev3d", boxes).count()

    val cat2 = new Catalog(spark, Some(wh))
    cat2.openFrom("ev3d", events, orderCols = Seq("event_id"))
    assert(cat2.explainRoute("ev3d", "zorder3:ts,user_id,value").reason ==
      "routed", "a reopen must attach the stored 3-D layout")
    assert(cat2.rangeScanBox("ev3d", boxes).count() == want)
    cat2.vacuum(graceMs = 0L)
    assert(cat2.rangeScanBox("ev3d", boxes).count() == want,
      "vacuum must keep the attached layout's dirs")
  }

  test("with an idCol the 3-D layout DML-patches: base files byte-identical, scans exact") {
    val cat = new Catalog(spark)
    cat.openFrom("ev3m", events, orderCols = Seq("event_id"))
    cat.buildZOrderedLayout("ev3m", Seq("ts", "user_id", "value"),
      files = 16, idCol = Some("event_id"))
    def layout = cat.layoutsOf("ev3m").collectFirst {
      case (_, z: Catalog.ClusteredLayout) => z
    }.get
    val built = layout
    def baseFiles = new java.io.File(built.path).listFiles
      .filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.length, f.lastModified)).toSeq.sortBy(_._1)
    val files0 = baseFiles
    val s = cat.get("ev3m").get
    val boxes = Seq[(String, Any, Any)](
      ("ts", tsLo, tsHi), ("user_id", 2L, 9L), ("value", 10.0, 60.0))
    def check(): Unit = {
      val got = cat.rangeScanBox("ev3m", boxes)
      assert(got.orderBy("event_id").collect().map(_.toSeq).toSeq ==
        live(Positional.strip(s.current), boxes)
          .orderBy("event_id").collect().map(_.toSeq).toSeq)
    }
    // cell edit into the box → patch, not re-cluster
    assert(s.setCells("value", Seq(0L -> "42.0", 1L -> "43.0")))
    assert(cat.refreshStale("ev3m").nonEmpty)
    assert(layout.path == built.path && layout.patch.isDefined,
      "a bounded edit must DML-patch the 3-D layout")
    assert(baseFiles == files0, "base files must never rewrite")
    check()
    assert(cat.recentRoutes.last.reason == "routed")
    // row delete → still a patch, deleted id never serves
    val deadId = s.current.filter(col(Positional.POS) === 2L)
      .select("event_id").head().getLong(0)
    assert(s.deleteRow(2L))
    assert(cat.refreshStale("ev3m").nonEmpty)
    assert(layout.path == built.path && baseFiles == files0)
    assert(cat.rangeScanBox("ev3m", Seq[(String, Any, Any)](
        ("ts", tsLo, tsHi), ("user_id", 0L, 99L), ("value", -1e9, 1e9)))
      .filter(col("event_id") === deadId).count() == 0L)
    check()
  }

  test("past the merge bound the 3-D layout folds file-locally, like its 1/2-D siblings") {
    val cat = new Catalog(spark, None, deltaMaxRowsOverride = Some(2))
    cat.openFrom("ev3c", events, orderCols = Seq("event_id"))
    cat.buildZOrderedLayout("ev3c", Seq("ts", "user_id", "value"),
      files = 8, idCol = Some("event_id"))
    def layout = cat.layoutsOf("ev3c").collectFirst {
      case (_, z: Catalog.ClusteredLayout) => z
    }.get
    val built = layout
    val s = cat.get("ev3c").get
    // nine 2-row edit cycles of a NON-dimension column cross the 8x bound
    (0 until 18).grouped(2).foreach { pair =>
      assert(s.setCells("event_type", pair.map(p => p.toLong -> "Q")))
      assert(cat.refreshStale("ev3c").nonEmpty)
    }
    val pc = layout
    assert(pc.patch.isEmpty, "compaction must fold the patch away")
    assert(pc.path != built.path && pc.path.contains("catalog_zorder3_pc_"),
      s"the fold must write a fresh merge dir; path=${pc.path}")
    assert(cat.explainRoute("ev3c",
      "zorder3:ts,user_id,value").reason == "routed")
    val wide = java.sql.Timestamp.from(
      java.time.Instant.parse("2000-01-01T00:00:00Z"))
    val wideHi = java.sql.Timestamp.from(
      java.time.Instant.parse("2100-01-01T00:00:00Z"))
    val box = Seq[(String, Any, Any)](
      ("ts", wide, wideHi), ("user_id", 0L, 999999L), ("value", -1e9, 1e9))
    val all = cat.rangeScanBox("ev3c", box)
    assert(all.orderBy("event_id").collect().map(_.toSeq).toSeq ==
      live(Positional.strip(s.current), box)
        .orderBy("event_id").collect().map(_.toSeq).toSeq)
    assert(all.filter(col("event_type") === "Q").count() == 18L,
      "the folded edits must serve their new values")
  }

  test("SQL text: a three-dimension WHERE routes onto the pruned 3-D file set") {
    val cat = new Catalog(spark)
    cat.openFrom("ev3q", events, orderCols = Seq("event_id"))
    cat.buildZOrderedLayout("ev3q", Seq("ts", "user_id", "event_type"),
      files = 16)
    val got = cat.sql(
      """SELECT event_type, count(*) AS n
        |FROM ev3q
        |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND ts <= TIMESTAMP '2024-01-20 00:00:00'
        |  AND user_id BETWEEN 2 AND 9
        |  AND event_type = 'click'
        |GROUP BY event_type ORDER BY event_type""".stripMargin)
    assert(cat.recentRoutes.exists(r =>
      r.slot.startsWith("zorder3:") && r.reason == "sql-routed"),
      s"the 3-D SQL box must route: ${cat.recentRoutes}")
    val want = live(events, Seq(("ts", tsLo, tsHi), ("user_id", 2L, 9L),
        ("event_type", "click", "click")))
      .groupBy("event_type").agg(count(lit(1)).as("n"))
    assert(got.collect().map(_.toSeq).toSeq ==
      want.orderBy("event_type").collect().map(_.toSeq).toSeq)
    assert(got.queryExecution.executedPlan.toString
      .contains("catalog_zorder3_"),
      "the routed SQL plan must read the layout's files")
  }
}
