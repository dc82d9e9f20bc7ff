package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.{Catalog, Tables}

/** Materialized aggregate cube (r9): `Catalog.buildCubeLayout` +
  * `Catalog.aggregate`.
  *
  * Laws pinned here:
  *  - a routed aggregate reads the stored cube, never the fact table
  *    (plan pin), and returns exactly the live plan's answer;
  *  - any SUBSET of the cube's group columns rolls up from the stored
  *    partials (sums of decimal sums / sums of counts are exact);
  *  - a request the cube does not cover falls back to the live plan
  *    (param-mismatch), an edit makes it stale (stale-epoch fallback);
  *  - refresh after a measure-only edit is an IVM DELTA: only the dirty
  *    rows' groups recompute, the stored cube files are untouched;
  *  - refresh after a GROUP-column edit rebuilds (the rows' previous
  *    groups are unrecoverable from current state — a delta would lie);
  *  - a durable cube re-attaches in a fresh Catalog over the warehouse.
  */
class CubeLayoutSpec extends SparkSpec {

  private val groupsAll = Seq("l_returnflag", "l_linestatus")
  private val measuresAll = Seq("l_quantity", "l_extendedprice")

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** The routing contract's independent twin: the same grouped
    * count/sum/avg computed directly over `df`, no Catalog involved.
    */
  private def direct(df: DataFrame, g: Seq[String],
                     ms: Seq[String]): Seq[Seq[Any]] = {
    val aggs = count(lit(1)).as("n") +: ms.flatMap(m => Seq(
      sum(round(col(m), 6).cast("decimal(38,6)")).cast("double")
        .as(s"sum_$m"),
      (sum(round(col(m), 6).cast("decimal(38,6)")).cast("double") /
        count(col(m))).as(s"avg_$m"),
      min(col(m)).as(s"min_$m"),
      max(col(m)).as(s"max_$m")))
    df.groupBy(g.map(col): _*).agg(aggs.head, aggs.tail: _*)
      .orderBy(g.map(col): _*)
      .collect().map(_.toSeq).toSeq
  }

  private def got(df: DataFrame, g: Seq[String]): Seq[Seq[Any]] =
    df.orderBy(g.map(col): _*).collect().map(_.toSeq).toSeq

  private def newCubeCatalog(): Catalog = {
    val c = new Catalog(spark)
    c.open("cli", s"$sf/lineitem.parquet",
      orderCols = Seq("l_orderkey", "l_linenumber"))
    c.buildCubeLayout("cli", groupsAll, measuresAll)
    c
  }

  private def cubeFiles(c: Catalog): Seq[String] = {
    val l = c.layoutsOf("cli").collectFirst {
      case (_, cl: Catalog.CubeLayout) => cl
    }.get
    new java.io.File(l.path).listFiles.map(_.getName).toSeq.sorted
  }

  test("routed aggregate reads the stored cube, not the fact table, and matches the live answer") {
    val c = newCubeCatalog()
    val routed = c.aggregate("cli", groupsAll, measuresAll)
    val p = plan(routed)
    assert(p.contains("catalog_cube_"),
      s"a covered aggregate must serve from the stored cube; plan:\n$p")
    assert(!p.contains("l_orderkey"),
      s"the routed plan must never touch fact-table columns; plan:\n$p")
    assert(c.recentRoutes.last.reason == "routed")
    assert(got(routed, groupsAll) ==
      direct(Tables.load(spark, sf, "lineitem"), groupsAll, measuresAll))
  }

  test("rollup to a subset of the group columns re-merges stored partials exactly") {
    val c = newCubeCatalog()
    val routed = c.aggregate("cli", Seq("l_returnflag"), Seq("l_quantity"))
    val p = plan(routed)
    assert(p.contains("catalog_cube_"),
      s"a subset grouping must still serve from the cube; plan:\n$p")
    assert(c.recentRoutes.last ==
      Catalog.RouteReport("cube:l_returnflag,l_linestatus", "layout", "routed"))
    assert(got(routed, Seq("l_returnflag")) ==
      direct(Tables.load(spark, sf, "lineitem"), Seq("l_returnflag"),
        Seq("l_quantity")))
    // global rollup (no grouping at all) merges too
    val total = c.aggregate("cli", Seq.empty, Seq("l_quantity"))
    assert(plan(total).contains("catalog_cube_"))
    assert(got(total, Seq.empty) ==
      direct(Tables.load(spark, sf, "lineitem"), Seq.empty, Seq("l_quantity")))
  }

  test("typed filtered aggregate: group-column equality routes, measure filter falls back") {
    val c = newCubeCatalog()
    val routed = c.aggregate("cli", Seq("l_linestatus"), Seq("l_quantity"),
      where = Seq("l_returnflag" -> "A"))
    assert(plan(routed).contains("catalog_cube_"),
      "a group-column equality filter must still serve from the cube")
    assert(c.recentRoutes.last.reason == "routed")
    assert(got(routed, Seq("l_linestatus")) ==
      direct(Tables.load(spark, sf, "lineitem")
        .filter(col("l_returnflag") === "A"), Seq("l_linestatus"),
        Seq("l_quantity")))
    // a filter on a MEASURE column is not constant within a group
    assert(c.explainAggregate("cli", Seq("l_linestatus"), Seq("l_quantity"),
      where = Seq("l_quantity" -> 10.0)).reason == "param-mismatch")
    val live = c.aggregate("cli", Seq("l_linestatus"), Seq("l_quantity"),
      where = Seq("l_quantity" -> 10.0))
    assert(!plan(live).contains("catalog_cube_"))
    assert(got(live, Seq("l_linestatus")) ==
      direct(Tables.load(spark, sf, "lineitem")
        .filter(col("l_quantity") === 10.0), Seq("l_linestatus"),
        Seq("l_quantity")))
  }

  test("a request the cube does not cover falls back to the live plan") {
    val c = newCubeCatalog()
    // the dry run predicts the decision without running anything
    assert(c.explainAggregate("cli", groupsAll, measuresAll)
      .reason == "routed")
    assert(c.explainAggregate("cli", groupsAll, Seq("l_discount"))
      .reason == "param-mismatch")
    val live = c.aggregate("cli", groupsAll, Seq("l_discount"))
    assert(!plan(live).contains("catalog_cube_"),
      "an uncovered measure must not read the cube")
    assert(c.recentRoutes.last.reason == "param-mismatch")
    assert(got(live, groupsAll) ==
      direct(Tables.load(spark, sf, "lineitem"), groupsAll,
        Seq("l_discount")))
  }

  test("measure edit: stale fallback, then IVM delta refresh touches only the dirty groups") {
    val c = newCubeCatalog()
    val filesBefore = cubeFiles(c)
    val s = c.get("cli").get
    assert(s.setCell(0L, "l_quantity", "99.0"))

    val stale = c.aggregate("cli", groupsAll, measuresAll)
    assert(c.recentRoutes.last.reason == "stale-epoch")
    assert(!plan(stale).contains("catalog_cube_"))
    assert(got(stale, groupsAll) ==
      direct(graft.core.Positional.strip(s.current), groupsAll, measuresAll))

    assert(c.refreshStale("cli") == Seq("cube:l_returnflag,l_linestatus"))
    val l = c.layoutsOf("cli").collectFirst {
      case (_, cl: Catalog.CubeLayout) => cl
    }.get
    assert(l.patch.isDefined, "a 1-cell measure edit must delta-patch")
    assert(cubeFiles(c) == filesBefore,
      "the stored cube files must never rewrite on a delta refresh")
    assert(l.patch.get.add.count() == 1L,
      "one edited row dirties exactly its own group")

    val routed = c.aggregate("cli", groupsAll, measuresAll)
    assert(plan(routed).contains("catalog_cube_"))
    assert(c.recentRoutes.last.reason == "routed")
    assert(got(routed, groupsAll) ==
      direct(graft.core.Positional.strip(s.current), groupsAll, measuresAll))
    // and the rollup still re-merges the patched partials
    assert(got(c.aggregate("cli", Seq("l_linestatus"), Seq("l_extendedprice")),
      Seq("l_linestatus")) ==
      direct(graft.core.Positional.strip(s.current), Seq("l_linestatus"),
        Seq("l_extendedprice")))
  }

  test("group-column edit: refresh rebuilds (no recoverable delta) and answers stay exact") {
    val c = newCubeCatalog()
    val oldPath = c.layoutsOf("cli").collectFirst {
      case (_, cl: Catalog.CubeLayout) => cl.path
    }.get
    val s = c.get("cli").get
    assert(s.setCell(0L, "l_returnflag", "Z"))
    c.refreshStale("cli")
    val l = c.layoutsOf("cli").collectFirst {
      case (_, cl: Catalog.CubeLayout) => cl
    }.get
    assert(l.path != oldPath && l.patch.isEmpty,
      "a group-column edit must rebuild the cube, not patch it")
    val routed = c.aggregate("cli", groupsAll, measuresAll)
    assert(plan(routed).contains("catalog_cube_"))
    assert(got(routed, groupsAll) ==
      direct(graft.core.Positional.strip(s.current), groupsAll, measuresAll))
  }

  test("row delete: retraction IVM patches only the victims' groups, never rebuilds") {
    val c = newCubeCatalog()
    val filesBefore = cubeFiles(c)
    val s = c.get("cli").get
    assert(s.deleteRow(0L))
    assert(c.refreshStale("cli") == Seq("cube:l_returnflag,l_linestatus"))
    val l = c.layoutsOf("cli").collectFirst {
      case (_, cl: Catalog.CubeLayout) => cl
    }.get
    assert(l.patch.isDefined, "a 1-row delete must delta-patch the cube")
    assert(cubeFiles(c) == filesBefore,
      "the stored cube files must never rewrite on a retraction")
    assert(l.patch.get.add.count() == 1L,
      "one deleted row patches exactly its own (pre-delete) group")
    val routed = c.aggregate("cli", groupsAll, measuresAll)
    assert(plan(routed).contains("catalog_cube_"))
    assert(c.recentRoutes.last.reason == "routed")
    assert(got(routed, groupsAll) ==
      direct(graft.core.Positional.strip(s.current), groupsAll, measuresAll))
  }

  test("deleting a group's last row removes the group from the served cube (no rebuild)") {
    import spark.implicits._
    val df = Seq(("a", 1.0), ("a", 2.0), ("b", 5.0), ("b", 7.0), ("c", 9.0))
      .toDF("g", "m")
    val c = new Catalog(spark)
    c.openFrom("tiny", df, orderCols = Seq("g", "m"))
    c.buildCubeLayout("tiny", Seq("g"), Seq("m"))
    val oldPath = c.layoutsOf("tiny").collectFirst {
      case (_, cl: Catalog.CubeLayout) => cl.path
    }.get
    val s = c.get("tiny").get
    assert(s.deleteRow(4L)) // the single row of group "c"
    c.refreshStale("tiny")
    val l = c.layoutsOf("tiny").collectFirst {
      case (_, cl: Catalog.CubeLayout) => cl
    }.get
    assert(l.path == oldPath && l.patch.isDefined,
      "an emptied group is a patch (explicit shadow), not a rebuild")
    val routed = c.aggregate("tiny", Seq("g"), Seq("m"))
    assert(plan(routed).contains("catalog_cube_"))
    val rows = got(routed, Seq("g"))
    assert(rows.map(_.head) == Seq("a", "b"),
      s"the emptied group must vanish from the served cube; got $rows")
    assert(rows ==
      direct(graft.core.Positional.strip(s.current), Seq("g"), Seq("m")))
  }

  test("a delete refreshes a cube and a pairs layout keyed by the same columns in another order exactly") {
    // cube on (l_returnflag, l_linestatus), pairs on group (l_linestatus)
    // counting l_returnflag: one column set, two orders — the shared
    // recompute must group it once, or every group comes back twice
    val wh = java.nio.file.Files.createTempDirectory("graft_wh_").toString
    val c = new Catalog(spark, Some(wh))
    c.open("cli", s"$sf/lineitem.parquet",
      orderCols = Seq("l_orderkey", "l_linenumber"))
    c.buildCubeLayout("cli", groupsAll, measuresAll)
    c.buildPairsLayout("cli", Seq("l_linestatus"), "l_returnflag")
    val s = c.get("cli").get
    assert(s.deleteRow(0L) && s.deleteRow(7L))
    c.refreshStale("cli")
    val patches = c.layoutsOf("cli").map {
      case (slot, l: Catalog.CubeLayout) => slot -> l.patch
      case (slot, l: Catalog.PairsLayout) => slot -> l.patch
      case (slot, l) => fail(s"unexpected layout $slot: $l")
    }
    patches.foreach { case (slot, patch) =>
      assert(patch.isDefined, s"$slot must delta-patch, not rebuild")
      val ids = patch.get.add.select("id").collect().map(_.getString(0))
      assert(ids.distinct.length == ids.length,
        s"$slot holds one add row per key; got ${ids.sorted.toSeq}")
    }
    val live = graft.core.Positional.strip(s.current)
    val routed = c.aggregate("cli", groupsAll, measuresAll)
    assert(c.recentRoutes.last.decision == "layout")
    assert(got(routed, groupsAll) == direct(live, groupsAll, measuresAll))
    val distinct = c.distinctCount("cli", Seq("l_linestatus"), "l_returnflag")
    assert(c.recentRoutes.last.decision == "layout")
    assert(got(distinct, Seq("l_linestatus")) ==
      got(live.groupBy("l_linestatus")
        .agg(countDistinct("l_returnflag").as("cd_l_returnflag")),
        Seq("l_linestatus")))
  }

  test("a cube with no group columns refreshes a delete exactly") {
    val c = new Catalog(spark)
    c.open("cli", s"$sf/lineitem.parquet",
      orderCols = Seq("l_orderkey", "l_linenumber"))
    c.buildCubeLayout("cli", Seq.empty, measuresAll)
    val s = c.get("cli").get
    assert(s.deleteRow(3L))
    c.refreshStale("cli")
    val l = c.layoutsOf("cli").collectFirst {
      case (_, cl: Catalog.CubeLayout) => cl
    }.get
    assert(l.patch.isDefined, "a 1-row delete must delta-patch the cube")
    val routed = c.aggregate("cli", Seq.empty, measuresAll)
    assert(c.recentRoutes.last.decision == "layout")
    assert(got(routed, Seq.empty) ==
      direct(graft.core.Positional.strip(s.current), Seq.empty, measuresAll))
  }

  test("refresh retires a layout whose definition names a vanished column — never wedges (r13)") {
    val c = newCubeCatalog()
    val s = c.get("cli").get
    // a TYPED structural gesture that removes the cube's columns
    // entirely: pivot replaces the table with a new shape. Refresh used
    // to rebuild with the old column names, throw, and then throw again
    // on every later refreshStale (builtAtEpoch never advanced).
    s.pivot("l_returnflag", "l_linestatus", "l_quantity", "sum")
    assert(c.refreshStale("cli").isEmpty,
      "a definition-orphaned layout must retire, not refresh")
    assert(c.layoutsOf("cli").isEmpty, "the orphaned cube must be gone")
    assert(c.recentRoutes.exists(r =>
      r.decision == "retired" && r.reason == "schema-missing-column"),
      s"the retirement must be visible; routes: ${c.recentRoutes}")
    // the refresh loop still works for future layouts on the new shape
    c.buildCubeLayout("cli", Seq("l_returnflag"), Nil)
    assert(s.deleteRow(0L))
    assert(c.refreshStale("cli") == Seq("cube:l_returnflag"))
  }

  test("deletes straddling a column add still retraction-patch (victim schemas differ)") {
    val c = newCubeCatalog()
    val s = c.get("cli").get
    assert(s.deleteRow(0L))
    s.insertColumnAt(1, "flag:boolean") // captured victim plans now differ
    assert(s.deleteRow(0L))
    assert(c.refreshStale("cli") == Seq("cube:l_returnflag,l_linestatus"),
      "a schema-straddling victim union must not crash the refresh")
    val routed = c.aggregate("cli", groupsAll, measuresAll)
    assert(plan(routed).contains("catalog_cube_"))
    assert(got(routed, groupsAll) ==
      direct(graft.core.Positional.strip(s.current), groupsAll, measuresAll))
  }

  test("retraction reads the deleted rows' pre-images from the build-epoch plan") {
    import graft.core.Positional.{POS, strip}
    def cubeOf(c: Catalog) = c.layoutsOf("cli").collectFirst {
      case (_, cl: Catalog.CubeLayout) => cl
    }.get
    // (a) one span: a measure-edited row is deleted (its pre-edit row
    // names the group it retracts from), and an appended row in a group
    // the cube never held is deleted again (it retracts from nothing)
    val c = newCubeCatalog()
    val filesBefore = cubeFiles(c)
    val s = c.get("cli").get
    assert(s.setCell(0L, "l_quantity", "49.0"))
    assert(s.appendRows(strip(s.current.filter(col(POS) === 5L))
      .withColumn("l_returnflag", lit("Z"))) == 1L)
    assert(s.deleteRow(s.rowCount - 1))
    assert(s.deleteRow(0L))
    assert(c.refreshStale("cli") == Seq("cube:l_returnflag,l_linestatus"))
    val l = cubeOf(c)
    assert(l.patch.isDefined, "a bounded delete span must delta-patch")
    assert(cubeFiles(c) == filesBefore,
      "the stored cube files must never rewrite on a retraction")
    val routed = c.aggregate("cli", groupsAll, measuresAll)
    assert(plan(routed).contains("catalog_cube_"))
    assert(got(routed, groupsAll) == direct(strip(s.current), groupsAll,
      measuresAll))

    // (b) the build epoch has left the undo history (maxHistory = 128):
    // the deleted row's pre-image is unrecoverable, so the cube rebuilds
    val c2 = newCubeCatalog()
    val builtPath = cubeOf(c2).path
    val s2 = c2.get("cli").get
    (1 to 130).foreach(i =>
      assert(s2.setCell(0L, "l_quantity", s"${i % 50}.0")))
    assert(s2.deleteRow(1L))
    assert(c2.refreshStale("cli") == Seq("cube:l_returnflag,l_linestatus"))
    val l2 = cubeOf(c2)
    assert(l2.path != builtPath && l2.patch.isEmpty,
      "a delete past the retained history must rebuild the cube")
    val routed2 = c2.aggregate("cli", groupsAll, measuresAll)
    assert(plan(routed2).contains("catalog_cube_"))
    assert(got(routed2, groupsAll) == direct(strip(s2.current), groupsAll,
      measuresAll))
  }

  test("past the bound the cube MERGE-COMPACTS durably: stored-row copy, no fact re-aggregation, reopen routes") {
    val wh = java.nio.file.Files.createTempDirectory("graft_wh_cc_")
      .toString
    // high-cardinality grouping so 9 one-row edits dirty 9 DISTINCT
    // group keys (repeated keys supersede in the merge and never grow it)
    val cat = new Catalog(spark, Some(wh), deltaMaxRowsOverride = Some(1))
    cat.open("ccmp", s"$sf/lineitem.parquet",
      orderCols = Seq("l_orderkey", "l_linenumber"))
    cat.buildCubeLayout("ccmp", Seq("l_partkey"), Seq("l_quantity"))
    def cubeOf() = cat.layoutsOf("ccmp").collectFirst {
      case (_, cl: Catalog.CubeLayout) => cl
    }.get
    val builtPath = cubeOf().path
    val s = cat.get("ccmp").get
    // 9 cycles: each edits ONE row's measure in a fresh partkey group
    val distinctPos = s.current
      .dropDuplicates("l_partkey")
      .select(col(graft.core.Positional.POS)).limit(9)
      .collect().map(_.getLong(0)).toSeq
    assert(distinctPos.length == 9)
    distinctPos.foreach { p =>
      assert(s.setCell(p, "l_quantity", "17.0"))
      assert(cat.refreshStale("ccmp") == Seq("cube:l_partkey"))
    }
    val after = cubeOf()
    assert(after.path != builtPath && after.patch.isEmpty,
      "the 9th refresh must merge-compact into a fresh stored cube")
    assert(after.path.contains("catalog_cube_"))
    assert(got(cat.aggregate("ccmp", Seq("l_partkey"), Seq("l_quantity")),
      Seq("l_partkey")) ==
      direct(graft.core.Positional.strip(s.current), Seq("l_partkey"),
        Seq("l_quantity")),
      "the compacted cube must serve the exact post-edit aggregate")
    // the manifest followed the fold: a fresh catalog re-attaches it
    val b = new Catalog(spark, Some(wh))
    b.openFrom("ccmp", graft.core.Positional.strip(s.current),
      orderCols = Seq("l_orderkey", "l_linenumber"))
    assert(b.explainRoute("ccmp", "cube:l_partkey").reason == "routed",
      "a reopen must attach the compacted cube through the digest gate")
    assert(got(b.aggregate("ccmp", Seq("l_partkey"), Seq("l_quantity")),
      Seq("l_partkey")) ==
      direct(graft.core.Positional.strip(s.current), Seq("l_partkey"),
        Seq("l_quantity")))
  }

  test("durable cube re-attaches in a fresh Catalog over the same warehouse") {
    val wh = java.nio.file.Files.createTempDirectory("graft_wh_").toString
    val a = new Catalog(spark, Some(wh))
    a.open("cli", s"$sf/lineitem.parquet",
      orderCols = Seq("l_orderkey", "l_linenumber"))
    a.buildCubeLayout("cli", groupsAll, measuresAll)
    val fromA = got(a.aggregate("cli", groupsAll, measuresAll), groupsAll)
    a.close("cli")

    val b = new Catalog(spark, Some(wh))
    b.open("cli", s"$sf/lineitem.parquet",
      orderCols = Seq("l_orderkey", "l_linenumber"))
    assert(b.explainRoute("cli", "cube:l_returnflag,l_linestatus")
      .reason == "routed", "the reloaded cube must be valid on reopen")
    val routed = b.aggregate("cli", groupsAll, measuresAll)
    val p = plan(routed)
    assert(p.contains(wh) && p.contains("cube"),
      s"the reopened catalog must serve from warehouse files; plan:\n$p")
    assert(got(routed, groupsAll) == fromA)
  }

  test("typed quantiles serve from a value-histogram cube: routed, filtered, stale, refreshed") {
    val c = new Catalog(spark)
    c.open("qli", s"$sf/lineitem.parquet",
      orderCols = Seq("l_orderkey", "l_linenumber"))
    c.buildCubeLayout("qli", Seq("l_returnflag", "l_quantity"), Nil)
    val probes = Seq("med" -> 0.5, "p90" -> 0.9)
    def live(): Seq[Seq[Any]] = got(
      graft.operators.RankStats.exactPercentiles(
        graft.core.Positional.strip(c.get("qli").get.current),
        col("l_quantity"), Seq("l_returnflag"), probes),
      Seq("l_returnflag"))

    assert(c.explainQuantile("qli", Seq("l_returnflag"), "l_quantity")
      .reason == "routed")
    val served = c.quantiles("qli", Seq("l_returnflag"), "l_quantity", probes)
    assert(plan(served).contains("catalog_cube_") &&
      !plan(served).contains("l_orderkey"),
      s"quantiles must walk stored cells, never the fact table; plan:\n${plan(served)}")
    assert(got(served, Seq("l_returnflag")) == live())

    // a WHERE on a histogram group column selects whole stored cells
    val filt = c.quantiles("qli", Nil, "l_quantity", Seq("q1" -> 0.25),
      where = Seq("l_returnflag" -> "A"))
    assert(plan(filt).contains("catalog_cube_"))
    assert(filt.collect().map(_.toSeq).toSeq == got(
      graft.operators.RankStats.exactPercentiles(
        graft.core.Positional.strip(c.get("qli").get.current)
          .filter(col("l_returnflag") === "A"),
        col("l_quantity"), Nil, Seq("q1" -> 0.25)), Nil))

    // a request no histogram covers falls to the identical live walk
    assert(c.explainQuantile("qli", Seq("l_returnflag"), "l_extendedprice")
      .reason == "param-mismatch")
    assert(!plan(c.quantiles("qli", Seq("l_returnflag"), "l_extendedprice",
      probes)).contains("catalog_cube_"))

    // an edit makes the layout stale → live serving stays exact; the
    // refresh re-validates and the routed answer reflects the edit
    assert(c.get("qli").get.setCell(0L, "l_quantity", "50.0"))
    assert(c.explainQuantile("qli", Seq("l_returnflag"), "l_quantity")
      .reason == "stale-epoch")
    assert(got(c.quantiles("qli", Seq("l_returnflag"), "l_quantity", probes),
      Seq("l_returnflag")) == live())
    c.refreshStale("qli")
    assert(c.explainQuantile("qli", Seq("l_returnflag"), "l_quantity")
      .reason == "routed")
    val refreshed = c.quantiles("qli", Seq("l_returnflag"), "l_quantity",
      probes)
    assert(plan(refreshed).contains("catalog_cube_"))
    assert(got(refreshed, Seq("l_returnflag")) == live())
  }
}
