package graft

import org.apache.spark.sql.functions._
import graft.core.{Catalog, LayoutStore, Tables}

/** Warehouse garbage collection + epoch-pinned snapshot serving (r10
  * verdict tasks #1 and #4): superseded layout/patch dirs must be
  * collectable by manifest diff, everything still referenced — by the
  * manifest, by a live layout, or by a pin — must survive, and a pinned
  * reader must keep getting the pre-maintenance answer while the live
  * route already serves the refreshed state.
  */
class VacuumSpec extends SparkSpec {

  private def newWarehouse(): String =
    java.nio.file.Files.createTempDirectory("graft_whv_").toString

  // dot-files are Hadoop LocalFileSystem checksum siblings (e.g.
  // `._writer.crc` beside the fencing token) — control plane the Hadoop
  // listing itself hides, so the census ignores them too
  private def topDirs(wh: String): Set[String] =
    new java.io.File(wh).listFiles().map(_.getName)
      .filterNot(_.startsWith(".")).toSet

  private def queryVec(): Seq[Float] =
    Tables.load(spark, sf, "embeddings")
      .filter(col("vec_id") === 0L)
      .head().getAs[scala.collection.Seq[Float]]("embedding").toSeq

  test("vacuum: N edit→refresh cycles + a rebuild leave exactly the referenced dirs; reopen still routes") {
    val wh = newWarehouse()
    val cat = new Catalog(spark, Some(wh))
    cat.open("vemb", s"$sf/embeddings.parquet", orderCols = Seq("vec_id"))
    cat.buildPqLayout("vemb", "vec_id", "embedding")
    val sess = cat.get("vemb").get

    // three edit→refresh cycles: each persists a MERGED patch dir that
    // supersedes the previous one — two strands plus the live patch
    (1 to 3).foreach { i =>
      assert(sess.setCell(i.toLong, "vec_id", (800000 + i).toString))
      assert(cat.refreshStale("vemb") == Seq("ann:embedding"))
    }
    // a structural gesture forces the refresh to REBUILD: the previous
    // corpus-scale layout dir is now superseded too
    sess.undo()
    assert(cat.refreshStale("vemb") == Seq("ann:embedding"))
    val before = topDirs(wh)
    assert(before.count(_.startsWith("catalog_patch_")) >= 2,
      s"the cycles must have stranded superseded patch dirs; saw $before")
    assert(before.count(_.startsWith("catalog_pq_")) >= 2,
      s"the rebuild must have stranded the old layout dir; saw $before")

    val answer = cat.topK("vemb", "vec_id", "embedding", queryVec(), 5)
      .collect().map(_.toSeq).toSeq
    val deleted = cat.vacuum(graceMs = 0L)
    assert(deleted.nonEmpty, "vacuum must collect the strands")

    // exactly the referenced dirs remain: the manifest, the current
    // layout dir, and (after the rebuild cleared the patch) nothing else
    val after = topDirs(wh)
    assert(after.count(_.startsWith("catalog_pq_")) == 1,
      s"one live layout dir must remain; saw $after")
    assert(after.count(_.startsWith("catalog_patch_")) == 0,
      s"the rebuild cleared the patch — no patch dir may survive; saw $after")
    assert(after.contains("_manifest"))
    assert(after.filterNot(_.startsWith("_")).size == 1,
      s"exactly the live layout beyond the control plane; saw $after")

    // the surviving storage still serves: same catalog and a REOPENED one
    assert(cat.topK("vemb", "vec_id", "embedding", queryVec(), 5)
      .collect().map(_.toSeq).toSeq == answer)
    val cat2 = new Catalog(spark, Some(wh))
    cat2.openFrom("vemb",
      graft.core.Positional.strip(sess.current), orderCols = Seq("vec_id"))
    assert(cat2.explainRoute("vemb", "ann:embedding").reason == "routed",
      "a reopen over the vacuumed warehouse must still attach")
    assert(cat2.topK("vemb", "vec_id", "embedding", queryVec(), 5)
      .collect().map(_.toSeq).toSeq == answer)
  }

  test("dropLayout and schema-retirement free the manifest entry; vacuum collects the storage (r13)") {
    val wh = newWarehouse()
    val cat = new Catalog(spark, Some(wh))
    cat.open("vdl", s"$sf/lineitem.parquet",
      orderCols = Seq("l_orderkey", "l_linenumber"))
    cat.buildCubeLayout("vdl", Seq("l_returnflag"), Seq("l_quantity"))
    cat.buildRangedLayout("vdl", "l_extendedprice", files = 4)
    assert(topDirs(wh).exists(_.startsWith("catalog_cube_")))

    // explicit drop: route gone immediately, storage after vacuum
    assert(cat.dropLayout("vdl", "range:l_extendedprice"))
    assert(cat.explainRoute("vdl", "range:l_extendedprice").reason ==
      "no-layout")
    cat.vacuum(graceMs = 0L)
    assert(!topDirs(wh).exists(_.startsWith("catalog_ranged_")),
      s"dropLayout + vacuum must collect the ranged dir; ${topDirs(wh)}")
    assert(!cat.dropLayout("vdl", "range:l_extendedprice"),
      "a second drop must report nothing removed")

    // schema retirement: the SQL rename orphans the cube — its manifest
    // entry must go too, or the dir would stay pinned forever
    cat.sql("ALTER TABLE vdl RENAME COLUMN l_quantity TO qty")
    cat.vacuum(graceMs = 0L)
    assert(!topDirs(wh).exists(_.startsWith("catalog_cube_")),
      s"a retired layout's storage must be collectable; ${topDirs(wh)}")
    assert(LayoutStore.load(spark, wh).isEmpty,
      "no manifest entry may survive the drop + retirement")
    // the session still answers (live plans)
    assert(cat.sql("SELECT count(*) AS n FROM vdl").head().getLong(0) > 0)
  }

  test("a durable ingest loop stays storage-bounded: vacuum collects each batch's superseded patch dir") {
    val wh = newWarehouse()
    val cat = new Catalog(spark, Some(wh))
    val li = Tables.load(spark, sf, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
    cat.openFrom("ving", li.filter(col("l_orderkey") % 2 === 0),
      Seq("l_orderkey", "l_linenumber"))
    cat.buildCubeLayout("ving", Seq("l_returnflag"), Seq("l_quantity"))
    val sess = cat.get("ving").get
    val batch = li.filter(col("l_orderkey") % 2 === 1).limit(200)

    // the steady-state CDC loop on a DURABLE catalog: each refresh
    // persists a MERGED patch dir superseding the previous one
    (1 to 3).foreach { _ =>
      assert(sess.appendRows(batch) == 200L)
      assert(cat.refreshStale("ving") == Seq("cube:l_returnflag"))
    }
    assert(topDirs(wh).count(_.startsWith("catalog_patch_")) >= 3,
      "each ingest cycle must persist a fresh merged patch dir")
    val answer = cat.aggregate("ving", Seq("l_returnflag"),
      Seq("l_quantity")).orderBy("l_returnflag")
      .collect().map(_.toSeq).toSeq

    val deleted = cat.vacuum(graceMs = 0L)
    assert(deleted.nonEmpty, "the superseded patch dirs must collect")
    assert(topDirs(wh).count(_.startsWith("catalog_patch_")) == 1,
      s"exactly the live patch survives; saw ${topDirs(wh)}")
    // the surviving storage still serves the full ingested corpus
    assert(cat.aggregate("ving", Seq("l_returnflag"), Seq("l_quantity"))
      .orderBy("l_returnflag").collect().map(_.toSeq).toSeq == answer)
    assert(cat.recentRoutes.last.reason == "routed")
  }

  test("vacuum: the grace window protects young strands") {
    val wh = newWarehouse()
    val cat = new Catalog(spark, Some(wh))
    cat.open("vgrace", s"$sf/embeddings.parquet", orderCols = Seq("vec_id"))
    cat.buildPqLayout("vgrace", "vec_id", "embedding")
    val sess = cat.get("vgrace").get
    assert(sess.setCell(1L, "vec_id", "810001"))
    assert(cat.refreshStale("vgrace").nonEmpty)
    assert(sess.setCell(2L, "vec_id", "810002"))
    assert(cat.refreshStale("vgrace").nonEmpty)
    val strands = topDirs(wh).count(_.startsWith("catalog_patch_"))
    assert(strands >= 2, "two patch epochs must exist")
    // everything here is seconds old: a graceful vacuum removes nothing
    assert(cat.vacuum(graceMs = 3600000L).isEmpty)
    assert(topDirs(wh).count(_.startsWith("catalog_patch_")) == strands)
  }

  test("observation clocks persist: a fresh catalog collects strands another observed") {
    val wh = newWarehouse()
    val a = new Catalog(spark, Some(wh))
    a.open("vobs", s"$sf/embeddings.parquet", orderCols = Seq("vec_id"))
    a.buildPqLayout("vobs", "vec_id", "embedding")
    assert(a.get("vobs").get.setCell(1L, "vec_id", "840001"))
    assert(a.refreshStale("vobs").nonEmpty)
    assert(a.get("vobs").get.setCell(2L, "vec_id", "840002"))
    assert(a.refreshStale("vobs").nonEmpty)
    val strands = topDirs(wh).count(_.startsWith("catalog_patch_"))
    assert(strands >= 2)
    // first graceful pass: observes, deletes nothing, persists the marks
    assert(a.vacuum(graceMs = 200L).isEmpty)
    Thread.sleep(400)
    // a FRESH catalog (process restart stand-in) inherits the clocks
    // from the _vacuum sidecar: the window has elapsed, so it collects
    val b = new Catalog(spark, Some(wh))
    assert(b.vacuum(graceMs = 200L).nonEmpty,
      "persisted observation clocks must let a fresh process collect")
    assert(topDirs(wh).count(_.startsWith("catalog_patch_")) < strands)
  }

  test("pinned cube/pairs/topK routes serve the pre-edit answers too") {
    val cat = new Catalog(spark)
    cat.open("vpin", s"$sf/lineitem.parquet",
      orderCols = Seq("l_orderkey", "l_linenumber"))
    cat.buildCubeLayout("vpin", Seq("l_returnflag"), Seq("l_quantity"))
    cat.buildPairsLayout("vpin", Seq("l_returnflag"), "l_partkey")
    val s = cat.get("vpin").get
    val pinned = cat.pin("vpin")
    val aggBefore = cat.aggregate("vpin", Seq("l_returnflag"),
      Seq("l_quantity")).orderBy("l_returnflag")
      .collect().map(_.toSeq).toSeq
    val cdBefore = cat.distinctCount("vpin", Seq("l_returnflag"),
      "l_partkey").orderBy("l_returnflag").collect().map(_.toSeq).toSeq

    // maintenance: move a measure and a counted key, refresh both layouts
    assert(s.setCell(0L, "l_quantity", "9999.0"))
    assert(s.setCell(1L, "l_partkey", "1"))
    assert(cat.refreshStale("vpin").toSet ==
      Set("cube:l_returnflag", "pairs:l_returnflag:l_partkey"))
    val aggLive = cat.aggregate("vpin", Seq("l_returnflag"),
      Seq("l_quantity")).orderBy("l_returnflag")
      .collect().map(_.toSeq).toSeq
    assert(aggLive != aggBefore, "the live cube must serve the edit")

    // pinned routes: layout-served, pre-edit digits
    val aggPinned = cat.aggregateAsOf("vpin", pinned, Seq("l_returnflag"),
      Seq("l_quantity")).orderBy("l_returnflag")
      .collect().map(_.toSeq).toSeq
    assert(aggPinned == aggBefore,
      "the pinned aggregate must keep the pre-edit digits")
    assert(cat.recentRoutes.contains(
      Catalog.RouteReport("cube:l_returnflag", "layout", "pinned")))
    val cdPinned = cat.distinctCountAsOf("vpin", pinned,
        Seq("l_returnflag"), "l_partkey")
      .orderBy("l_returnflag").collect().map(_.toSeq).toSeq
    assert(cdPinned == cdBefore,
      "the pinned distinct count must keep the pre-edit digits")
    assert(cat.recentRoutes.contains(Catalog.RouteReport(
      "pairs:l_returnflag:l_partkey", "layout", "pinned")))
    assert(cat.unpin("vpin", pinned))
  }

  test("pinned quantiles serve the pre-edit order statistics during maintenance") {
    val cat = new Catalog(spark)
    cat.open("vqt", s"$sf/lineitem.parquet",
      orderCols = Seq("l_orderkey", "l_linenumber"))
    cat.buildCubeLayout("vqt", Seq("l_returnflag", "l_quantity"), Nil)
    val s = cat.get("vqt").get
    val pinned = cat.pin("vqt")
    val probes = Seq("med" -> 0.5, "p90" -> 0.9)
    val before = cat.quantiles("vqt", Seq("l_returnflag"), "l_quantity",
      probes).orderBy("l_returnflag").collect().map(_.toSeq).toSeq

    // maintenance: drag a whole group's worth of medians, refresh
    (0L until 40L).foreach(i => assert(s.setCell(i, "l_quantity", "50.0")))
    assert(cat.refreshStale("vqt").nonEmpty)
    val live = cat.quantiles("vqt", Seq("l_returnflag"), "l_quantity",
      probes).orderBy("l_returnflag").collect().map(_.toSeq).toSeq
    assert(live != before, "the live histogram must serve the edits")

    val asOf = cat.quantilesAsOf("vqt", pinned, Seq("l_returnflag"),
      "l_quantity", probes).orderBy("l_returnflag")
      .collect().map(_.toSeq).toSeq
    assert(asOf == before,
      "the pinned quantiles must keep the pre-edit order statistics")
    assert(cat.recentRoutes.contains(Catalog.RouteReport(
      "cube:l_returnflag,l_quantity", "layout", "pinned")))
    // a probe the snapshot has no covering histogram for still answers —
    // from the pinned PLAN, not the live one
    val asOfLive = cat.quantilesAsOf("vqt", pinned, Seq("l_returnflag"),
      "l_extendedprice", Seq("med" -> 0.5)).orderBy("l_returnflag")
      .collect().map(_.toSeq).toSeq
    assert(cat.recentRoutes.contains(Catalog.RouteReport(
      "cube:l_returnflag,l_extendedprice", "live", "pinned-live")))
    assert(asOfLive == graft.operators.RankStats.exactPercentiles(
        cat.snapshotAsOf("vqt", pinned), col("l_extendedprice"),
        Seq("l_returnflag"), Seq("med" -> 0.5))
      .orderBy("l_returnflag").collect().map(_.toSeq).toSeq)
    assert(cat.unpin("vqt", pinned))
  }

  test("pinned topK serves pre-edit codes during ANN maintenance") {
    val cat = new Catalog(spark)
    cat.open("vpk", s"$sf/embeddings.parquet", orderCols = Seq("vec_id"))
    cat.buildPqLayout("vpk", "vec_id", "embedding")
    val q = queryVec()
    val pinned = cat.pin("vpk")
    val before = cat.topK("vpk", "vec_id", "embedding", q, 5)
      .collect().map(_.toSeq).toSeq
    val s = cat.get("vpk").get
    // rename the top hit's id and refresh: the live route must see the
    // new id, the pinned route the old one
    val topId = before.head.head.asInstanceOf[Long]
    val pos = s.current.filter(col("vec_id") === topId)
      .select(col(graft.core.Positional.POS)).head().getLong(0)
    assert(s.setCell(pos, "vec_id", "888888"))
    assert(cat.refreshStale("vpk") == Seq("ann:embedding"))
    val live = cat.topK("vpk", "vec_id", "embedding", q, 5)
      .collect().map(_.toSeq).toSeq
    assert(live != before && live.exists(_.head == 888888L),
      "the live route must serve the renamed id")
    val pinnedTop = cat.topKAsOf("vpk", pinned, "vec_id", "embedding", q, 5)
      .collect().map(_.toSeq).toSeq
    assert(pinnedTop == before,
      "the pinned route must keep the pre-rename answer")
    assert(cat.recentRoutes.contains(
      Catalog.RouteReport("ann:embedding", "layout", "pinned")))
    assert(cat.unpin("vpk", pinned))
  }

  test("pin leases cross processes: another catalog's vacuum honors a persisted pin") {
    val wh = newWarehouse()
    val a = new Catalog(spark, Some(wh))
    a.open("vlease", s"$sf/orders.parquet", orderCols = Seq("o_orderkey"))
    a.buildRangedLayout("vlease", "o_totalprice", files = 4,
      idCol = Some("o_orderkey"))
    val pinned = a.pin("vlease")
    val preEdit = a.rangeScanAsOf("vlease", pinned, "o_totalprice",
        1000.0, 50000.0)
      .select("o_orderkey").orderBy("o_orderkey")
      .collect().map(_.toSeq).toSeq
    // supersede the pinned dir entirely (structural gesture → rebuild)
    val s = a.get("vlease").get
    assert(s.setCell(0L, "o_totalprice", "7.5") && s.undo())
    assert(a.refreshStale("vlease").nonEmpty)
    assert(topDirs(wh).count(_.startsWith("catalog_ranged_")) >= 2)

    // a DIFFERENT catalog (fresh process stand-in, no in-memory pins)
    // vacuums: the lease must keep the pinned dir alive
    val b = new Catalog(spark, Some(wh))
    b.vacuum(graceMs = 0L)
    assert(topDirs(wh).count(_.startsWith("catalog_ranged_")) >= 2,
      "a persisted pin lease must survive another catalog's vacuum")
    assert(a.rangeScanAsOf("vlease", pinned, "o_totalprice", 1000.0,
        50000.0)
      .select("o_orderkey").orderBy("o_orderkey")
      .collect().map(_.toSeq).toSeq == preEdit,
      "the pinned route must still serve after the foreign vacuum")

    // release: the lease file goes with the pin, the dir collects
    assert(a.unpin("vlease", pinned))
    b.vacuum(graceMs = 0L)
    assert(topDirs(wh).count(_.startsWith("catalog_ranged_")) == 1)
  }

  test("vacuum sees the ON-DISK manifest: another catalog's fresh layout is never garbage") {
    val wh = newWarehouse()
    val a = new Catalog(spark, Some(wh))
    a.open("va", s"$sf/embeddings.parquet", orderCols = Seq("vec_id"))
    a.buildPqLayout("va", "vec_id", "embedding")
    // strand one patch dir under A so its vacuum has something to collect
    assert(a.get("va").get.setCell(1L, "vec_id", "820001"))
    assert(a.refreshStale("va").nonEmpty)
    assert(a.get("va").get.setCell(2L, "vec_id", "820002"))
    assert(a.refreshStale("va").nonEmpty)

    // a SECOND catalog over the same warehouse persists a new layout —
    // A's in-memory manifest (loaded at construction) knows nothing of it
    val b = new Catalog(spark, Some(wh))
    b.open("vb", s"$sf/orders.parquet", orderCols = Seq("o_orderkey"))
    b.buildRangedLayout("vb", "o_totalprice", files = 4)
    val bDirs = topDirs(wh).filter(_.startsWith("catalog_ranged_"))
    assert(bDirs.nonEmpty)

    val deleted = a.vacuum(graceMs = 0L)
    assert(deleted.nonEmpty, "A's own superseded patch dir must collect")
    assert(bDirs.subsetOf(topDirs(wh)),
      "B's manifest-persisted layout must survive A's vacuum")
    // B still serves from it
    assert(b.rangeScan("vb", "o_totalprice", 1000.0, 50000.0).count() ==
      Tables.load(spark, sf, "orders")
        .filter(col("o_totalprice").between(1000.0, 50000.0)).count())
  }

  test("the grace window measures time-since-unreferenced, not file age") {
    val wh = newWarehouse()
    val cat = new Catalog(spark, Some(wh))
    cat.open("vold", s"$sf/embeddings.parquet", orderCols = Seq("vec_id"))
    cat.buildPqLayout("vold", "vec_id", "embedding")
    val dir = topDirs(wh).find(_.startsWith("catalog_pq_")).get
    // age the dir far past the grace window, THEN supersede it: an
    // mtime-based guard would delete it at once, stranding any reader
    // handed a plan seconds ago
    val f = new java.io.File(s"$wh/$dir")
    assert(f.setLastModified(System.currentTimeMillis() - 3600000L))
    val s = cat.get("vold").get
    assert(s.setCell(1L, "vec_id", "830001"))
    assert(s.undo()) // structural gesture → the next refresh REBUILDS
    assert(cat.refreshStale("vold").nonEmpty) // old dir superseded
    assert(topDirs(wh).count(_.startsWith("catalog_pq_")) >= 2)
    assert(!cat.vacuum(graceMs = 600000L).contains(dir),
      "a JUST-superseded dir must survive its first graceful vacuum " +
        "regardless of its modification time")
    assert(topDirs(wh).contains(dir))
    // an explicit grace-0 vacuum collects it
    assert(cat.vacuum(graceMs = 0L).contains(dir))
  }

  test("pinned snapshot serves the pre-edit answer during maintenance; vacuum honors the pin") {
    val wh = newWarehouse()
    val cat = new Catalog(spark, Some(wh))
    cat.open("vord", s"$sf/orders.parquet", orderCols = Seq("o_orderkey"))
    cat.buildRangedLayout("vord", "o_totalprice", files = 4,
      idCol = Some("o_orderkey"))
    val sess = cat.get("vord").get

    val pinned = cat.pin("vord")
    val preEdit = cat.rangeScan("vord", "o_totalprice", 1000.0, 50000.0)
      .select("o_orderkey", "o_totalprice").orderBy("o_orderkey")
      .collect().map(_.toSeq).toSeq

    // maintenance: move one row INTO the window and refresh (delta patch)
    assert(sess.setCell(0L, "o_totalprice", "1500.5"))
    assert(cat.refreshStale("vord") == Seq("range:o_totalprice"))
    val live = cat.rangeScan("vord", "o_totalprice", 1000.0, 50000.0)
      .select("o_orderkey", "o_totalprice").orderBy("o_orderkey")
      .collect().map(_.toSeq).toSeq
    assert(live != preEdit, "the live route must serve the refreshed state")
    val pinnedScan = cat.rangeScanAsOf("vord", pinned, "o_totalprice",
        1000.0, 50000.0)
      .select("o_orderkey", "o_totalprice").orderBy("o_orderkey")
    assert(pinnedScan.collect().map(_.toSeq).toSeq == preEdit,
      "the pinned route must keep the pre-edit answer")
    assert(cat.recentRoutes.contains(
      Catalog.RouteReport("range:o_totalprice", "layout", "pinned")))

    // a REBUILD supersedes the layout dir entirely; the pin must keep it
    sess.undo() // structural: the next refresh rebuilds
    assert(cat.refreshStale("vord") == Seq("range:o_totalprice"))
    assert(topDirs(wh).count(_.startsWith("catalog_ranged_")) >= 2)
    cat.vacuum(graceMs = 0L)
    assert(cat.rangeScanAsOf("vord", pinned, "o_totalprice", 1000.0, 50000.0)
      .select("o_orderkey", "o_totalprice").orderBy("o_orderkey")
      .collect().map(_.toSeq).toSeq == preEdit,
      "vacuum must keep every dir the pin references")

    // released pin → the superseded dir is collectable; live unaffected
    assert(cat.unpin("vord", pinned))
    assert(cat.vacuum(graceMs = 0L).nonEmpty)
    assert(topDirs(wh).count(_.startsWith("catalog_ranged_")) == 1)
    assert(cat.explainRoute("vord", "range:o_totalprice").reason == "routed")
    intercept[NoSuchElementException] {
      cat.rangeScanAsOf("vord", pinned, "o_totalprice", 1000.0, 50000.0)
    }
    ()
  }

  test("an unreadable dormant stats sidecar ABORTS the pass; a transient failure never outlives the grace window") {
    import graft.core.Positional
    def norm(p: String) = new org.apache.hadoop.fs.Path(p).toUri.getPath
    def layoutOf(cat: Catalog, name: String) = cat.layoutsOf(name).collectFirst {
      case (_, l: Catalog.ClusteredLayout) => l
    }.get
    /** Each fixture is a warehouse-backed clustered layout folded past
      * the merge bound: after the fold its stats list files across TWO
      * dirs — the original build dir is only partially referenced, so a
      * vacuum pass must read the stats sidecar to know which of its
      * files are live. `survivors` are the build dir's files the folded
      * stats still list, `replaced` the ones the fold rewrote.
      */
    def check(wh: String, pc: Catalog.ClusteredLayout,
              survivors: Seq[String], replaced: Seq[String],
              servesAll: () => Boolean): Unit = {
      // a FRESH catalog that never opened the session sees the entry as
      // dormant: its file-wise references resolve only through the stats
      // sidecar on disk. Simulate a transient read failure by hiding it.
      val cold = new Catalog(spark, Some(wh))
      // ClusteredLayout.path is the data subdir (<layout>/ranged,
      // <layout>/zordered3); the sidecar lives beside it at <layout>/stats
      val layoutDir = new java.io.File(pc.path).getParentFile
      val statsDir = new java.io.File(layoutDir, "stats")
      val hidden = new java.io.File(layoutDir, "stats_hidden")
      assert(statsDir.renameTo(hidden), "fixture: hide the sidecar")
      try {
        assert(cold.vacuum(graceMs = 0L).isEmpty,
          "an unreadable sidecar must abort the pass, deleting NOTHING")
        survivors.foreach(p => assert(new java.io.File(p).exists,
          s"abort must leave the stats-referenced file alone: $p"))
      } finally {
        assert(hidden.renameTo(statsDir), "fixture: restore the sidecar")
      }
      // the failure was NOT memoized: the restored sidecar reads on the
      // next pass, the still-referenced files survive a grace-0 sweep,
      // the replaced ones collect, and serving stays exact
      cold.vacuum(graceMs = 0L)
      survivors.foreach(p => assert(new java.io.File(p).exists,
        s"a past transient failure must not doom the referenced file $p"))
      replaced.foreach(p => assert(!new java.io.File(p).exists,
        s"the genuinely-unreferenced replaced file still collects: $p"))
      assert(servesAll())
    }

    // 1-D: RangedDmlSpec's recipe — nine localized edit cycles inside
    // one file's key range fold into that file alone
    val wh = newWarehouse()
    val cat = new Catalog(spark, Some(wh), deltaMaxRowsOverride = Some(2))
    cat.open("vsb", s"$sf/orders.parquet", orderCols = Seq("o_orderkey"))
    cat.buildRangedLayout("vsb", "o_totalprice", files = 4,
      idCol = Some("o_orderkey"))
    val s = cat.get("vsb").get
    val built = layoutOf(cat, "vsb")
    val stats0 = built.stats.collect()
    val target = stats0.minBy(_.getAs[Double]("min_v"))
    val survivors = stats0.map(r => norm(r.getAs[String]("file")))
      .filterNot(_ == norm(target.getAs[String]("file"))).toSeq
    val posInFile = s.current
      .filter(col("o_totalprice") > target.getAs[Double]("min_v") &&
        col("o_totalprice") < target.getAs[Double]("max_v"))
      .select(col(Positional.POS)).orderBy(Positional.POS)
      .limit(18).collect().map(_.getLong(0)).toSeq
    posInFile.grouped(2).foreach { pair =>
      assert(s.setCells("o_orderstatus", pair.map(p => p -> "Q")))
      assert(cat.refreshStale("vsb").nonEmpty)
    }
    val pc = layoutOf(cat, "vsb")
    assert(pc.path != built.path, "fixture needs a folded (2-dir) layout")
    check(wh, pc, survivors, Seq(norm(target.getAs[String]("file"))),
      () => cat.rangeScan("vsb", "o_totalprice", 0.0, 1e9).count() ==
        s.rowCount)

    // 3-D: ZOrder3LayoutSpec's fold recipe on orders — eighteen ids
    // drawn from one file's physical contents, edited two per cycle in
    // a non-dimension column
    val wh3 = newWarehouse()
    val cat3 = new Catalog(spark, Some(wh3), deltaMaxRowsOverride = Some(2))
    cat3.open("vsb3", s"$sf/orders.parquet", orderCols = Seq("o_orderkey"))
    cat3.buildZOrderedLayout("vsb3",
      Seq("o_totalprice", "o_custkey", "o_orderdate"), files = 8,
      idCol = Some("o_orderkey"))
    val s3 = cat3.get("vsb3").get
    val built3 = layoutOf(cat3, "vsb3")
    val files0 = built3.stats.collect().map(r => norm(r.getAs[String]("file")))
    val target3 = built3.stats.collect().maxBy(_.getAs[Long]("n_rows"))
    val ids3 = spark.read.parquet(target3.getAs[String]("file"))
      .select("o_orderkey").limit(18).collect().map(_.getLong(0)).toSeq
    val pos3 = s3.current.filter(col("o_orderkey").isInCollection(ids3))
      .select(col(Positional.POS)).orderBy(Positional.POS)
      .collect().map(_.getLong(0)).toSeq
    assert(pos3.length == 18, "fixture needs 18 rows in one file")
    pos3.grouped(2).foreach { pair =>
      assert(s3.setCells("o_orderstatus", pair.map(p => p -> "Q")))
      assert(cat3.refreshStale("vsb3").nonEmpty)
    }
    val pc3 = layoutOf(cat3, "vsb3")
    assert(pc3.patch.isEmpty && pc3.path.contains("catalog_zorder3_pc_"),
      s"fixture needs a folded (2-dir) 3-D layout; path=${pc3.path}")
    val after3 = pc3.stats.collect().map(r => norm(r.getAs[String]("file")))
      .toSet
    val (kept3, replaced3) = files0.toSeq.partition(after3.contains)
    assert(kept3.nonEmpty && replaced3.nonEmpty,
      s"fixture needs a partially referenced build dir; kept $kept3")
    val wide = Seq[(String, Any, Any)](("o_totalprice", -1e12, 1e12),
      ("o_custkey", Long.MinValue, Long.MaxValue),
      ("o_orderdate", java.sql.Timestamp.valueOf("1900-01-01 00:00:00"),
        java.sql.Timestamp.valueOf("2100-01-01 00:00:00")))
    check(wh3, pc3, kept3, replaced3,
      () => cat3.rangeScanBox("vsb3", wide).count() == s3.rowCount)
  }
}
