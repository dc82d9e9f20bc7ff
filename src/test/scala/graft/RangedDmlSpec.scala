package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.{Catalog, Positional, Tables}

/** DML-patchable ranged layout (round 10): with an id column the
  * range-clustered full-row layout refreshes through bounded
  * edits/inserts/deletes as an id-shadow + unclustered add-leg — the
  * Delta-Lake deletion-vector + append-log shape — instead of
  * re-clustering. Laws:
  *  - a bounded gesture delta-patches (base files byte-identical);
  *  - served answers equal the live filter after every gesture, typed
  *    AND through SQL text;
  *  - without an id column any delta still rebuilds (no shadow key);
  *  - a diverged durable reopen patches from the row-sig sidecar.
  */
class RangedDmlSpec extends SparkSpec {

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def rangedOf(c: Catalog, name: String): Catalog.ClusteredLayout =
    c.layoutsOf(name).collectFirst {
      case (_, l: Catalog.ClusteredLayout) => l
    }.get

  private def baseFiles(l: Catalog.ClusteredLayout): Seq[(String, Long)] =
    new java.io.File(l.path).listFiles.filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.lastModified())).toSeq.sorted

  private def liveScan(s: graft.core.EditorSession, lo: Double,
                       hi: Double): Seq[Seq[Any]] =
    Positional.strip(s.current)
      .filter(col("o_totalprice") >= lo && col("o_totalprice") <= hi)
      .orderBy("o_orderkey").collect().map(_.toSeq).toSeq

  test("bounded edits, deletes, and pastes DML-patch the ranged layout; scans stay exact") {
    val cat = new Catalog(spark)
    cat.open("ro", s"$sf/orders.parquet", orderCols = Seq("o_orderkey"))
    cat.buildRangedLayout("ro", "o_totalprice", files = 8,
      idCol = Some("o_orderkey"))
    val built = rangedOf(cat, "ro")
    val files0 = baseFiles(built)
    val s = cat.get("ro").get

    // 1. cell edit: the edited row's NEW value must serve (the add-leg
    //    is never pruned), the old version must not
    assert(s.setCell(0L, "o_totalprice", "123456.78"))
    assert(cat.refreshStale("ro") == Seq("range:o_totalprice"))
    val p1 = rangedOf(cat, "ro")
    assert(p1.path == built.path && p1.patch.isDefined,
      "a 1-cell edit must DML-patch, not re-cluster")
    assert(baseFiles(p1) == files0, "base files must never rewrite")
    val hit = cat.rangeScan("ro", "o_totalprice", 123000.0, 124000.0)
    assert(plan(hit).contains("catalog_ranged_"))
    assert(hit.orderBy("o_orderkey").collect().map(_.toSeq).toSeq ==
      liveScan(s, 123000.0, 124000.0))
    assert(hit.filter(col("o_totalprice") === 123456.78).count() == 1L)

    // 2. row delete: the deleted id must vanish from every range
    val deletedId = s.current.filter(col(Positional.POS) === 1L)
      .select("o_orderkey").head().getLong(0)
    assert(s.deleteRow(1L))
    assert(cat.refreshStale("ro") == Seq("range:o_totalprice"))
    val p2 = rangedOf(cat, "ro")
    assert(p2.path == built.path && baseFiles(p2) == files0)
    val all = cat.rangeScan("ro", "o_totalprice", 0.0, 1e9)
    assert(all.filter(col("o_orderkey") === deletedId).count() == 0L,
      "a deleted row must never serve from the patched layout")
    assert(all.count() == s.rowCount)

    // 3. cut + paste (row motion): still a patch, still exact
    assert(s.cut(Seq(2L)) && s.paste(0L))
    assert(cat.refreshStale("ro") == Seq("range:o_totalprice"))
    val p3 = rangedOf(cat, "ro")
    assert(p3.path == built.path && baseFiles(p3) == files0,
      "row motion must not re-cluster")
    assert(cat.rangeScan("ro", "o_totalprice", 1000.0, 50000.0)
      .orderBy("o_orderkey").collect().map(_.toSeq).toSeq ==
      liveScan(s, 1000.0, 50000.0))

    // 4. SQL text serves the patched layout with identical digits
    val sqlScan = cat.sql(
      """SELECT o_orderkey, o_totalprice FROM ro
        |WHERE o_totalprice BETWEEN 1000.0 AND 50000.0
        |ORDER BY o_orderkey""".stripMargin)
    assert(plan(sqlScan).contains("catalog_ranged_"),
      s"SQL must route through the patched layout; plan:\n${plan(sqlScan)}")
    assert(sqlScan.collect().map(_.toSeq).toSeq ==
      Positional.strip(s.current)
        .filter(col("o_totalprice").between(1000.0, 50000.0))
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey").collect().map(_.toSeq).toSeq)
  }

  test("without an id column any delta still rebuilds; column add rebuilds even with one") {
    val cat = new Catalog(spark)
    cat.open("ro2", s"$sf/orders.parquet", orderCols = Seq("o_orderkey"))
    cat.buildRangedLayout("ro2", "o_totalprice", files = 4)
    val noId = rangedOf(cat, "ro2")
    assert(cat.get("ro2").get.setCell(0L, "o_totalprice", "1.0"))
    cat.refreshStale("ro2")
    assert(rangedOf(cat, "ro2").path != noId.path,
      "no shadow key: a delta must rebuild")
    // with an id, a schema-changing gesture still rebuilds
    cat.buildRangedLayout("ro2", "o_totalprice", files = 4,
      idCol = Some("o_orderkey"))
    val withId = rangedOf(cat, "ro2")
    cat.get("ro2").get.insertColumnAt(1, "flag:boolean")
    cat.refreshStale("ro2")
    val after = rangedOf(cat, "ro2")
    assert(after.path != withId.path && after.patch.isEmpty,
      "a column add changes the stored schema: rebuild, not patch")
  }

  test("the z-ordered layout DML-patches the same way: rectangle scans stay exact") {
    val cat = new Catalog(spark)
    cat.open("zo", s"$sf/orders.parquet", orderCols = Seq("o_orderkey"))
    cat.buildZOrderedLayout("zo", Seq("o_totalprice", "o_custkey"), files = 8,
      idCol = Some("o_orderkey"))
    val built = cat.layoutsOf("zo").collectFirst {
      case (_, l: Catalog.ClusteredLayout) => l
    }.get
    val s = cat.get("zo").get
    assert(s.setCell(0L, "o_totalprice", "77777.25"))
    assert(s.deleteRow(1L))
    assert(cat.refreshStale("zo") == Seq("zorder:o_totalprice,o_custkey"))
    val p = cat.layoutsOf("zo").collectFirst {
      case (_, l: Catalog.ClusteredLayout) => l
    }.get
    assert(p.path == built.path && p.patch.isDefined,
      "bounded DML must patch the z-ordered base, not re-cluster")
    val scan = cat.rangeScanBox("zo", Seq(("o_totalprice", 70000.0, 80000.0),
      ("o_custkey", 0.0, 1e9)))
    assert(plan(scan).contains("catalog_zorder_"))
    val live = Positional.strip(s.current)
      .filter(col("o_totalprice").between(70000.0, 80000.0) &&
        col("o_custkey").between(0.0, 1e9))
      .orderBy("o_orderkey").collect().map(_.toSeq).toSeq
    assert(scan.orderBy("o_orderkey").collect().map(_.toSeq).toSeq == live)
    assert(scan.filter(col("o_totalprice") === 77777.25).count() == 1L,
      "the edited row must serve its new value from the add-leg")
  }

  test("past the merge bound, localized DML folds into ONLY the intersecting files (partial compaction)") {
    // tiny bounds: deltaMaxRows=2 → compactionRows=16, so nine 2-row
    // edit cycles cross the bound without building giant literal plans
    val wh = java.nio.file.Files.createTempDirectory("graft_wh_pc_")
      .toString
    val cat = new Catalog(spark, Some(wh), deltaMaxRowsOverride = Some(2))
    cat.open("ropc", s"$sf/orders.parquet", orderCols = Seq("o_orderkey"))
    cat.buildRangedLayout("ropc", "o_totalprice", files = 4,
      idCol = Some("o_orderkey"))
    val built = rangedOf(cat, "ropc")
    val s = cat.get("ropc").get

    def norm(p: String) = new org.apache.hadoop.fs.Path(p).toUri.getPath
    val stats0 = built.stats.collect()
    val target = stats0.minBy(_.getAs[Double]("min_v"))
    val targetFile = norm(target.getAs[String]("file"))
    val others = stats0.map(r => norm(r.getAs[String]("file")))
      .filterNot(_ == targetFile).toSeq
    def sig(p: String) = {
      val f = new java.io.File(p); (f.length(), f.lastModified())
    }
    val otherSigs = others.map(p => p -> sig(p)).toMap

    // 18 edits of a NON-cluster column, every edited row strictly inside
    // the target file's value range: all add rows land in — and all
    // shadowed ids live in — that ONE file
    val posInFile = s.current
      .filter(col("o_totalprice") > target.getAs[Double]("min_v") &&
        col("o_totalprice") < target.getAs[Double]("max_v"))
      .select(col(Positional.POS)).orderBy(Positional.POS)
      .limit(18).collect().map(_.getLong(0)).toSeq
    assert(posInFile.length == 18, "fixture needs 18 rows in one file")
    posInFile.grouped(2).foreach { pair =>
      assert(s.setCells("o_orderstatus", pair.map(p => p -> "Q")))
      assert(cat.refreshStale("ropc") == Seq("range:o_totalprice"))
    }

    // the 9th refresh crossed the bound: folded, patch-free, routed
    val pc = rangedOf(cat, "ropc")
    assert(pc.patch.isEmpty, "compaction must fold the patch away")
    assert(pc.path != built.path && pc.path.contains("catalog_ranged_pc_"),
      s"the fold must write a fresh merge dir; path=${pc.path}")
    assert(cat.explainRoute("ropc", "range:o_totalprice").reason == "routed")
    val afterFiles = pc.stats.collect()
      .map(r => norm(r.getAs[String]("file"))).toSeq
    assert(!afterFiles.contains(targetFile),
      "the intersecting file must be replaced in the stats")
    others.foreach { p =>
      assert(afterFiles.contains(p), s"untouched file must stay listed: $p")
      assert(sig(p) == otherSigs(p), s"untouched file must stay byte-identical: $p")
    }
    assert(afterFiles.exists(_.contains("catalog_ranged_pc_")))

    // answers exact, and the folded edits serve their new values
    val all = cat.rangeScan("ropc", "o_totalprice", 0.0, 1e9)
    assert(plan(all).contains("catalog_ranged_"))
    assert(all.orderBy("o_orderkey").collect().map(_.toSeq).toSeq ==
      liveScan(s, 0.0, 1e9))
    assert(all.filter(col("o_orderstatus") === "Q").count() == 18L)

    // durable: a fresh catalog reconstructs the compacted layout whose
    // base spans the original dir AND the merge dir
    val cat2 = new Catalog(spark, Some(wh))
    cat2.openFrom("ropc", Positional.strip(s.current),
      orderCols = Seq("o_orderkey"))
    assert(cat2.explainRoute("ropc", "range:o_totalprice").reason ==
      "routed", "a reopen must attach the compacted layout")
    assert(cat2.rangeScan("ropc", "o_totalprice", 0.0, 1e9).count() ==
      s.rowCount)

    // vacuum composes: the original dir is PARTIALLY referenced — the
    // replaced file sweeps away, the untouched files stay, serving holds
    cat.vacuum(graceMs = 0L)
    assert(!new java.io.File(targetFile).exists,
      "the replaced base file is garbage after the fold")
    others.foreach(p => assert(new java.io.File(p).exists,
      s"vacuum must keep the still-referenced file $p"))
    assert(cat.rangeScan("ropc", "o_totalprice", 0.0, 1e9).count() ==
      s.rowCount)
  }

  test("the z-ordered layout folds file-locally past the bound too") {
    val cat = new Catalog(spark, None, deltaMaxRowsOverride = Some(2))
    cat.open("zpc", s"$sf/orders.parquet", orderCols = Seq("o_orderkey"))
    cat.buildZOrderedLayout("zpc", Seq("o_totalprice", "o_custkey"), files = 4,
      idCol = Some("o_orderkey"))
    def zOf() = cat.layoutsOf("zpc").collectFirst {
      case (_, l: Catalog.ClusteredLayout) => l
    }.get
    val built = zOf()
    val s = cat.get("zpc").get

    def norm(p: String) = new org.apache.hadoop.fs.Path(p).toUri.getPath
    val stats0 = built.stats.collect()
    def sig(p: String) = {
      val f = new java.io.File(p); (f.length(), f.lastModified())
    }
    val sigs0 = stats0.map(r => norm(r.getAs[String]("file")))
      .map(p => p -> sig(p)).toMap
    // edit rows drawn from ONE file's physical contents: the shadowed
    // ids live there; add rows may ASSIGN to any file whose (overlapping)
    // rectangle contains them, so the invariant is a STRICT SUBSET of
    // files rewritten, with byte pins on every survivor
    val target = stats0.maxBy(_.getAs[Long]("n_rows"))
    val targetIds = spark.read.parquet(target.getAs[String]("file"))
      .select("o_orderkey").limit(18).collect().map(_.getLong(0)).toSeq
    val posInFile = s.current
      .filter(col("o_orderkey").isInCollection(targetIds))
      .select(col(Positional.POS))
      .orderBy(Positional.POS).limit(18).collect().map(_.getLong(0)).toSeq
    assert(posInFile.length == 18, "fixture needs 18 rows in one file")
    posInFile.grouped(2).foreach { pair =>
      assert(s.setCells("o_orderstatus", pair.map(p => p -> "Q")))
      assert(cat.refreshStale("zpc") ==
        Seq("zorder:o_totalprice,o_custkey"))
    }
    val pc = zOf()
    assert(pc.patch.isEmpty && pc.path.contains("catalog_zorder_pc_"),
      s"the z-order fold must write a merge dir; path=${pc.path}")
    val afterFiles = pc.stats.collect()
      .map(r => norm(r.getAs[String]("file"))).toSet
    val survivors = sigs0.keySet.intersect(afterFiles)
    assert(survivors.nonEmpty && survivors.size < stats0.length,
      s"the fold must rewrite a STRICT SUBSET; kept $survivors")
    survivors.foreach { p =>
      assert(sig(p) == sigs0(p),
        s"surviving file must stay byte-identical: $p")
    }
    assert(afterFiles.exists(_.contains("catalog_zorder_pc_")),
      s"the merge dir's files must be listed; stats: $afterFiles")
    val scan = cat.rangeScanBox("zpc", Seq(("o_totalprice", 0.0, 1e9),
      ("o_custkey", 0.0, 1e9)))
    // (the executed plan's InMemoryFileIndex display truncates the path
    // list, so the routing pin is the stats assertion above plus the
    // layout-dir prefix here)
    assert(plan(scan).contains("catalog_zorder_"))
    assert(scan.orderBy("o_orderkey").collect().map(_.toSeq).toSeq ==
      Positional.strip(s.current)
        .filter(col("o_totalprice").between(0.0, 1e9) &&
          col("o_custkey").between(0.0, 1e9))
        .orderBy("o_orderkey").collect().map(_.toSeq).toSeq)
    assert(scan.filter(col("o_orderstatus") === "Q").count() == 18L)
  }

  test("a touched row with a NULL id rebuilds instead of serving stale (no shadow key for null)") {
    val cat = new Catalog(spark)
    val base = Tables.load(spark, sf, "orders")
      .withColumn("o_orderkey",
        when(col("o_orderkey") === 5L, lit(null)).otherwise(col("o_orderkey")))
    cat.openFrom("ronull", base, orderCols = Seq("o_totalprice"))
    cat.buildRangedLayout("ronull", "o_totalprice", files = 4,
      idCol = Some("o_orderkey"))
    val built = rangedOf(cat, "ronull")
    val s = cat.get("ronull").get
    val nullPos = s.current.filter(col("o_orderkey").isNull)
      .select(col(Positional.POS)).head().getLong(0)
    assert(s.setCell(nullPos, "o_totalprice", "424242.42"))
    assert(cat.refreshStale("ronull") == Seq("range:o_totalprice"))
    val after = rangedOf(cat, "ronull")
    assert(after.path != built.path && after.patch.isEmpty,
      "a null-id touched row has no shadow key: the refresh must REBUILD")
    val hit = cat.rangeScan("ronull", "o_totalprice", 424000.0, 425000.0)
    assert(hit.filter(col("o_totalprice") === 424242.42).count() == 1L,
      "the rebuilt layout must serve the null-id row's NEW value")
  }

  test("deleting a NULL-id row rebuilds keyed layouts: a null shadow key can never apply") {
    val cat = new Catalog(spark)
    val base = Tables.load(spark, sf, "embeddings")
      .withColumn("vec_id",
        when(col("vec_id") === 5L, lit(null)).otherwise(col("vec_id")))
    cat.openFrom("pqnull", base, orderCols = Seq("vec_id"))
    cat.buildPqLayout("pqnull", "vec_id", "embedding")
    def pq() = cat.layoutsOf("pqnull").collectFirst {
      case (_, l: Catalog.PqCodesLayout) => l
    }.get
    val built = pq()
    val s = cat.get("pqnull").get
    val nullPos = s.current.filter(col("vec_id").isNull)
      .select(col(Positional.POS)).head().getLong(0)
    assert(s.deleteRow(nullPos))
    assert(cat.refreshStale("pqnull") == Seq("ann:embedding"))
    val after = pq()
    assert(after.path != built.path && after.patch.isEmpty,
      "a vanished NULL id cannot be shadowed: the refresh must REBUILD")
    assert(spark.read.parquet(after.path).count() == s.rowCount,
      "the rebuilt codes must not contain the deleted null-id row")
  }

  test("a pure-delete burst that empties whole files folds end-to-end (empty merge region)") {
    def norm(p: String) = new org.apache.hadoop.fs.Path(p).toUri.getPath
    // probe the deterministic file split, then pick the delta bound n
    // with 8n < T <= 9n for a file-prefix of T rows: deleting exactly
    // that prefix in batches of <= n crosses the merge bound ON the
    // prefix's last row, so the fold's merge region is EMPTY
    val probe = new Catalog(spark)
    probe.open("zdel0", s"$sf/orders.parquet", orderCols = Seq("o_orderkey"))
    probe.buildRangedLayout("zdel0", "o_totalprice", files = 6,
      idCol = Some("o_orderkey"))
    val sizes = rangedOf(probe, "zdel0").stats.collect()
      .sortBy(_.getAs[Double]("min_v")).map(_.getAs[Long]("n_rows"))
    val choice = (1 to 3).view.flatMap { k =>
      val t = sizes.take(k).sum
      (((t + 8) / 9) to ((t - 1) / 8)).headOption.map(n => (k, t, n.toInt))
    }.headOption
    assert(choice.isDefined,
      s"no (prefix, bound) alignment for file sizes ${sizes.toSeq}")
    val (k, total, n) = choice.get

    val cat = new Catalog(spark, None, deltaMaxRowsOverride = Some(n))
    cat.open("zdel", s"$sf/orders.parquet", orderCols = Seq("o_orderkey"))
    cat.buildRangedLayout("zdel", "o_totalprice", files = 6,
      idCol = Some("o_orderkey"))
    val built = rangedOf(cat, "zdel")
    val bstats = built.stats.collect().sortBy(_.getAs[Double]("min_v"))
    val prefixFiles = bstats.take(k).map(_.getAs[String]("file")).toSeq
    val prefixIds = spark.read.parquet(prefixFiles: _*)
      .select("o_orderkey").collect().map(_.getLong(0)).toSeq
    assert(prefixIds.length == total,
      "the probe and the layout must split files identically")
    val s = cat.get("zdel").get
    prefixIds.grouped(n).foreach { ids =>
      val pos = s.current
        .filter(col("o_orderkey").isInCollection(ids))
        .select(col(Positional.POS)).collect().map(_.getLong(0)).toSeq
      assert(pos.length == ids.length)
      assert(s.deleteRows(pos))
      assert(cat.refreshStale("zdel") == Seq("range:o_totalprice"))
    }
    val pc = rangedOf(cat, "zdel")
    assert(pc.patch.isEmpty && pc.path.contains("catalog_ranged_pc_"),
      "the bound-crossing delete must fold, patch-free")
    val afterFiles = pc.stats.collect()
      .map(r => norm(r.getAs[String]("file"))).toSet
    prefixFiles.foreach(p => assert(!afterFiles.contains(norm(p)),
      s"the emptied file must leave the stats: $p"))
    assert(pc.stats.count() == (sizes.length - k).toLong,
      "an EMPTY merge region contributes zero stats rows")
    // serving exact: no deleted row, every surviving row
    val all = cat.rangeScan("zdel", "o_totalprice", 0.0, 1e9)
    assert(all.count() == s.rowCount)
    assert(all.orderBy("o_orderkey").collect().map(_.toSeq).toSeq ==
      liveScan(s, 0.0, 1e9))
  }

  test("an emptied merge region writes schema-only parquet the stats path can read") {
    // the building blocks of partialCompactFullRow's pure-delete edge
    // (every row of the rewrite files shadowed): an empty write must
    // stay readable and contribute zero stats rows to the union
    val out = java.nio.file.Files.createTempDirectory("graft_empty_pc_")
      .toString + "/ranged"
    val empty = Tables.load(spark, sf, "orders").limit(0)
    empty.coalesce(1).write.parquet(out)
    val back = spark.read.parquet(out)
    assert(back.count() == 0L &&
      back.columns.toSeq == empty.columns.toSeq,
      "the schema-only write must read back with the full schema")
    val stats = graft.io.SkippingIndex.build(spark, out, Seq("o_totalprice"))
    assert(stats.count() == 0L, "zero rows contribute zero stats entries")
    assert(graft.io.SkippingIndex.candidateFiles(stats,
      Seq((Some(0.0), Some(1e9)))).isEmpty)
  }

  test("a diverged durable reopen patches the ranged layout from its row-sig sidecar") {
    val wh = java.nio.file.Files.createTempDirectory("graft_wh_rd_")
      .toString
    val a = new Catalog(spark, Some(wh))
    a.open("rod", s"$sf/orders.parquet", orderCols = Seq("o_orderkey"))
    a.buildRangedLayout("rod", "o_totalprice", files = 8,
      idCol = Some("o_orderkey"))
    val built = rangedOf(a, "rod")

    val edited = Tables.load(spark, sf, "orders")
      .withColumn("o_totalprice",
        when(col("o_orderkey") === 7L, lit(99999.5))
          .otherwise(col("o_totalprice")))
      .localCheckpoint(true)
    val b = new Catalog(spark, Some(wh))
    b.openFrom("rod", edited, orderCols = Seq("o_orderkey"))
    assert(b.explainRoute("rod", "range:o_totalprice").reason == "routed",
      "a bounded divergence must attach PATCHED")
    val l = rangedOf(b, "rod")
    assert(l.path == built.path && l.patch.isDefined,
      "the diverged attach must reuse the clustered base")
    val scan = b.rangeScan("rod", "o_totalprice", 99000.0, 100000.0)
    assert(plan(scan).contains("catalog_ranged_"))
    assert(scan.filter(col("o_orderkey") === 7L).count() == 1L,
      "the edited row must serve its NEW value from the add-leg")
    assert(scan.orderBy("o_orderkey").collect().map(_.toSeq).toSeq ==
      edited.filter(col("o_totalprice").between(99000.0, 100000.0))
        .orderBy("o_orderkey").collect().map(_.toSeq).toSeq)
  }
}
