package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.{Catalog, Positional, Tables}

/** Catalog-routed as-of join (r11 verdict task #2): when the right side
  * is a session with a ranged layout on the time column, the scan
  * feeding the merge-and-carry is pruned to the left side's time
  * envelope through the layout's skipping stats — byte-identical
  * answers (the envelope is exact, see [[graft.core.CatalogLayouts
  * .asofJoin]]), fewer files read.
  */
class AsofRoutingSpec extends SparkSpec {

  private def events = Tables.loadEvents(spark, sf)

  private def clicks = events.filter(col("event_type") === "click")
    .select("user_id", "ts", "event_id")

  private def purchases = events.filter(col("event_type") === "purchase")
    .select("user_id", "ts", "event_id")

  private def newCat(): Catalog = {
    val c = new Catalog(spark)
    c.openFrom("clk", clicks, orderCols = Seq("event_id"))
    c.buildRangedLayout("clk", "ts", files = 8, idCol = Some("event_id"))
    c
  }

  private def collectAsof(df: DataFrame): Seq[Seq[Any]] =
    df.select("event_id", "asof_event_id").orderBy("event_id")
      .collect().map(_.toSeq).toSeq

  test("routed as-of join equals the live operator — backward, forward, with and without tolerance") {
    val cat = newCat()
    val live = (fwd: Boolean, tol: Option[Long]) =>
      collectAsof(
        if (fwd) graft.operators.AsOfJoin.asofForward(purchases, clicks,
          "user_id", "ts", Seq("event_id"), tiebreak = Some("event_id"),
          toleranceUs = tol)
        else graft.operators.AsOfJoin.asofBackward(purchases, clicks,
          "user_id", "ts", Seq("event_id"), tiebreak = Some("event_id"),
          toleranceUs = tol))
    val routed = (fwd: Boolean, tol: Option[Long]) =>
      collectAsof(cat.asofJoin(purchases, "clk", "user_id", "ts",
        Seq("event_id"), tiebreak = Some("event_id"), toleranceUs = tol,
        forward = fwd))
    for (fwd <- Seq(false, true); tol <- Seq(None, Some(1800000000L))) {
      assert(routed(fwd, tol) == live(fwd, tol),
        s"routed must equal live (forward=$fwd tolerance=$tol)")
      assert(cat.recentRoutes.exists(_.reason == "asof-pruned"),
        "the join must report the pruned route")
    }
  }

  test("a narrow probe window reads FEWER layout files than the layout holds") {
    val cat = newCat()
    val l = cat.layoutsOf("clk").collectFirst {
      case (_, r: Catalog.ClusteredLayout) => r
    }.get
    val allFiles = l.stats.select("file").collect().map(_.getString(0)).toSet
    assert(allFiles.size >= 4, s"fixture needs several files: $allFiles")
    // probes confined to a sliver of the time range, tolerance-bounded so
    // BOTH envelope sides prune
    val mm = clicks.agg(min("ts"), max("ts")).head()
    val t0 = mm.getTimestamp(0).toInstant
    val t1 = mm.getTimestamp(1).toInstant
    val width = java.time.Duration.between(t0, t1)
    val lo = t0.plus(width.dividedBy(2))
    val hi = lo.plus(width.dividedBy(20))
    val probe = purchases.filter(col("ts") >= lit(java.sql.Timestamp.from(lo))
      && col("ts") <= lit(java.sql.Timestamp.from(hi)))
    assert(probe.count() > 0, "fixture needs probes in the sliver")
    val routed = cat.asofJoin(probe, "clk", "user_id", "ts",
      Seq("event_id"), tiebreak = Some("event_id"),
      toleranceUs = Some(60000000L)) // 1 min staleness bound
    def norm(p: String) = new org.apache.hadoop.fs.Path(p).toUri.getPath
    val readLayoutFiles = routed.inputFiles.map(norm)
      .filter(_.startsWith(norm(l.path))).toSet
    assert(readLayoutFiles.nonEmpty &&
      readLayoutFiles.size < allFiles.map(norm).size,
      s"envelope must prune: read ${readLayoutFiles.size} of ${allFiles.size}")
    // and the pruned answer still equals the live one
    assert(collectAsof(routed) ==
      collectAsof(graft.operators.AsOfJoin.asofBackward(probe, clicks,
        "user_id", "ts", Seq("event_id"), tiebreak = Some("event_id"),
        toleranceUs = Some(60000000L))))
  }

  test("the DML patch composes on the pruned base; a stale layout falls back live") {
    val cat = newCat()
    val s = cat.get("clk").get
    // bounded edit: reassign one click to another user, refresh → patch
    val victim = Positional.strip(s.current).orderBy("event_id").limit(1)
      .head()
    assert(s.setCells("user_id",
      Seq(0L -> (victim.getLong(0) + 1).toString)))
    assert(cat.refreshStale("clk").nonEmpty)
    val routed = cat.asofJoin(purchases, "clk", "user_id", "ts",
      Seq("event_id"), tiebreak = Some("event_id"))
    val live = graft.operators.AsOfJoin.asofBackward(purchases,
      Positional.strip(s.current), "user_id", "ts", Seq("event_id"),
      tiebreak = Some("event_id"))
    assert(collectAsof(routed) == collectAsof(live),
      "patched layout must serve the edited rows")
    assert(cat.recentRoutes.exists(_.reason == "asof-pruned"))
    // un-refreshed mutation → stale epoch → live fallback, same answer
    assert(s.deleteRow(0L))
    val fallback = cat.asofJoin(purchases, "clk", "user_id", "ts",
      Seq("event_id"), tiebreak = Some("event_id"))
    assert(cat.recentRoutes.last.reason == "stale-epoch")
    assert(collectAsof(fallback) ==
      collectAsof(graft.operators.AsOfJoin.asofBackward(purchases,
        Positional.strip(s.current), "user_id", "ts", Seq("event_id"),
        tiebreak = Some("event_id"))))
  }
}
