package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.{EditorSession, Positional, Tables}
import graft.ops._

class PositionalSpec extends SparkSpec {
  test("load gives external NTZ-inferring sessions instants WITHOUT mutating their conf") {
    // newSession shares the context but owns its SQLConf — the shape of a
    // caller who built their session without the NTZ flag
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    val df = Tables.load(s2, sf, "orders")
    assert(df.schema("o_orderdate").dataType == TimestampType,
      "NTZ column must surface as an instant")
    assert(s2.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled") == "true",
      "load must not flip the caller's session conf")
    assert(df.count() > 0)
  }

  test("attachPos assigns dense 0..n-1 in key order") {
    val n = Tables.load(spark, sf, "nation")
    val pos = Positional.attachPos(n, col("n_nationkey"))
    val rows = pos.select("__pos", "n_nationkey").orderBy("__pos").collect()
    assert(rows.map(_.getLong(0)).toSeq == (0L until rows.length))
    assert(rows.map(_.getInt(1)).toSeq == rows.map(_.getInt(1)).sorted.toSeq)
    // a multi-partition input: every position equals the row's rank in
    // a global window over the same (unique) keys
    val li = Tables.load(spark, sf, "lineitem")
    val (attached, map) = Positional.attachPosMapped(li,
      Seq(col("l_orderkey"), col("l_linenumber")))
    assert(map.intervals.count { case (a, b) => b > a } > 1,
      s"lineitem must span several partitions: $map")
    val ranked = li.select(col("l_orderkey"), col("l_linenumber"),
      (row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("l_orderkey"), col("l_linenumber"))) - 1).as("rank"))
    val got = attached.select(col("l_orderkey"), col("l_linenumber"),
      col(Positional.POS).as("rank"))
    assert(got.count() == ranked.count())
    assert(got.except(ranked).count() == 0)
    assert(ranked.except(got).count() == 0)
  }

  test("ties and nulls: dense positions, key-monotone, nulls first") {
    val schema = StructType(Seq(
      StructField("k", StringType, nullable = true),
      StructField("v", IntegerType, nullable = false)))
    val rows = (0 until 500).map { i =>
      org.apache.spark.sql.Row(if (i % 7 == 0) null else s"key_${i % 13}", i)
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

  test("descending keys stay correct") {
    val n = Tables.load(spark, sf, "nation")
    val pos = Positional.attachPos(n, col("n_nationkey").desc)
      .select(col("n_nationkey"), col(Positional.POS))
      .orderBy(Positional.POS).collect()
    assert(pos.map(_.getLong(1)).toSeq == (0L until pos.length))
    val keys = pos.map(_.getInt(0))
    assert(keys.zip(keys.tail).forall { case (a, b) => a >= b },
      "desc ordering must survive the attach")
  }

  test("empty input attaches zero rows without error") {
    val empty = Tables.load(spark, sf, "nation").filter(lit(false))
    val (df, n) = Positional.attachPosCounted(empty, col("n_nationkey"))
    assert(n == 0L)
    assert(df.count() == 0L)
  }

  test("page serves a half-open positional window in order") {
    val li = Positional.attachPos(Tables.load(spark, sf, "lineitem"),
      col("l_orderkey"), col("l_linenumber"))
    val page = Positional.page(li, 10, 15).collect()
    assert(page.length == 5)
    assert(page.map(_.getAs[Long]("__pos")).toSeq == Seq(10L, 11L, 12L, 13L, 14L))
  }

  test("renumber re-packs holes densely preserving order") {
    val n = Positional.attachPos(Tables.load(spark, sf, "nation"), col("n_nationkey"))
    val holey = n.filter(col("__pos") % 2 === 0)
    val packed = Positional.renumber(holey)
    val keys = packed.orderBy("__pos").select("n_nationkey").collect().map(_.getInt(0))
    assert(packed.count() == holey.count())
    assert(keys.toSeq == keys.sorted.toSeq)
  }
}

class EditorSessionSpec extends SparkSpec {
  private def freshSession() = EditorSession.fromDataFrame(
    Tables.load(spark, sf, "nation"), Seq("n_nationkey"))

  test("R1: typed edit applies; bad cast rejected with state unchanged") {
    val s = freshSession()
    assert(s.setCell(0L, "n_regionkey", "7"))
    assert(!s.setCell(1L, "n_regionkey", "xyz"))
    val rows = s.current.filter(col("__pos") < 2).orderBy("__pos")
      .select("n_regionkey").collect()
    assert(rows(0).getInt(0) == 7)
    assert(rows(1).getInt(0) != 7)
  }

  test("setNestedField: struct leaf edit, siblings intact, bad cast/path rejected, undoable") {
    val nested = Tables.load(spark, sf, "nation").select(
      col("n_nationkey"),
      struct(col("n_name").as("name"), col("n_regionkey").as("region"))
        .as("st"))
    val s = EditorSession.fromDataFrame(nested, Seq("n_nationkey"))
    assert(s.setNestedField(3L, "st", "name", "RENAMED"))
    val r = s.current.filter(col("__pos") === 3)
      .select(col("st.name"), col("st.region"), col("n_nationkey")).head()
    assert(r.getString(0) == "RENAMED")
    // sibling leaf and other columns untouched
    assert(r.getInt(1) == nested.filter(col("n_nationkey") === r.getInt(2))
      .select(col("st.region")).head().getInt(0))
    // other rows untouched
    assert(s.current.filter(col("st.name") === "RENAMED").count() == 1)
    // leaf cast failure rejects, state unchanged
    assert(!s.setNestedField(3L, "st", "region", "not-an-int"))
    // unknown path / non-struct column reject
    assert(!s.setNestedField(3L, "st", "nope", "x"))
    assert(!s.setNestedField(3L, "n_nationkey", "name", "x"))
    assert(s.current.filter(col("st.name") === "RENAMED").count() == 1)
    // the gesture is one undo entry
    assert(s.undo())
    assert(s.current.filter(col("st.name") === "RENAMED").count() == 0)
  }

  test("edit log compacts many edits into one projection and checkpoints") {
    val s = EditorSession.fromDataFrame(
      Tables.load(spark, sf, "lineitem"), Seq("l_orderkey", "l_linenumber"),
      compactEvery = 64)
    (0 until 100).foreach(i => assert(s.setCell(i.toLong, "l_quantity", "111")))
    // compactEvery=64 → at least one checkpoint happened; remaining pending < 64
    assert(s.pendingEdits < 64)
    val got = s.current.filter(col("__pos") < 100)
      .agg(sum(when(col("l_quantity") === 111.0, 1).otherwise(0))).head.getLong(0)
    assert(got == 100L)
  }

  test("setCells: one gesture, one undo entry; undo restores the pre-burst table") {
    val s = EditorSession.fromDataFrame(
      Tables.load(spark, sf, "lineitem"), Seq("l_orderkey", "l_linenumber"))
    val before = s.current.filter(col("__pos") < 200)
      .agg(sum(when(col("l_quantity") === 77.0, 1).otherwise(0))).head.getLong(0)
    assert(s.setCells("l_quantity", (0L until 200L).map(_ -> "77")))
    val after = s.current.filter(col("__pos") < 200)
      .agg(sum(when(col("l_quantity") === 77.0, 1).otherwise(0))).head.getLong(0)
    assert(after == 200L)
    // ONE undo reverts the whole burst, not one cell
    assert(s.undo())
    val reverted = s.current.filter(col("__pos") < 200)
      .agg(sum(when(col("l_quantity") === 77.0, 1).otherwise(0))).head.getLong(0)
    assert(reverted == before)
  }

  test("setCells is atomic: one bad value rejects the whole batch") {
    val s = freshSession()
    assert(!s.setCells("n_regionkey", Seq(0L -> "5", 1L -> "xyz")))
    // nothing applied, nothing remembered: undo has no burst to revert
    assert(s.current.filter(col("__pos") === 0 && col("n_regionkey") === 5)
      .count() == 0)
    assert(s.pendingEdits == 0)
  }

  test("undo/redo walk the gesture history (readme parity the reference lacks)") {
    val s = freshSession()
    def regionOf(pos: Long): Int = s.current.filter(col("__pos") === pos)
      .select("n_regionkey").head.getInt(0)
    val original = regionOf(0L)
    assert(s.setCell(0L, "n_regionkey", "7"))
    assert(regionOf(0L) == 7)
    assert(s.undo() && regionOf(0L) == original)
    assert(s.redo() && regionOf(0L) == 7)
    // a row mutation is also one undoable gesture
    val n0 = s.rowCount
    s.deleteRows(Seq(0L, 1L))
    assert(s.rowCount == n0 - 2)
    assert(s.undo() && s.rowCount == n0)
    // a fresh edit clears the redo branch
    assert(s.setCell(2L, "n_regionkey", "9"))
    assert(!s.redo())
    assert(s.undo() && s.undo() && regionOf(0L) == original)
  }

  test("MetricsListener reports scan rows and shuffle bytes per action") {
    val l = graft.core.Metrics.install(spark)
    try {
      Tables.load(spark, sf, "lineitem")
        .groupBy("l_returnflag").count().collect()
      // The listener bus is async AND may still be draining events from
      // queries run by earlier suites on the shared session — those land
      // in this fresh listener too. Poll for the event that matches THIS
      // query's signature instead of trusting whatever arrives last.
      def mine = l.recent.find(s => s.scanRows >= 6000 && s.shuffleBytes > 0)
      val deadline = System.currentTimeMillis() + 10000
      while (mine.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      val stats = mine.getOrElse(
        fail(s"no matching metrics captured; saw: ${l.recent}"))
      assert(stats.scanRows >= 6000, s"scan rows ${stats.scanRows}")
      assert(stats.shuffleBytes > 0, s"no shuffle bytes in $stats")
      assert(stats.durationMs >= 0)
    } finally spark.listenerManager.unregister(l)
  }

  test("Catalog.sql runs cross-session SQL reflecting pending edits") {
    val cat = new graft.core.Catalog(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft_cat_").toString
    Tables.load(spark, sf, "nation").write.parquet(s"$dir/nation.parquet")
    Tables.load(spark, sf, "region").write.parquet(s"$dir/region.parquet")
    val n = cat.open("nation_t", s"$dir/nation.parquet", Seq("n_nationkey"))
    cat.open("region_t", s"$dir/region.parquet", Seq("r_regionkey"))
    val joined = cat.sql(
      """SELECT r_name, count(*) AS n FROM nation_t
        |JOIN region_t ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin)
    assert(joined.count() == 5)
    // views see pending (uncommitted) edits
    assert(n.setCell(0L, "n_name", "XYZZY"))
    val hit = cat.sql("SELECT count(*) AS c FROM nation_t WHERE n_name = 'XYZZY'")
    assert(hit.head.getLong(0) == 1L)
    // the per-call views are dropped on return — no frozen snapshots linger
    assert(!spark.catalog.tableExists("nation_t"))
    assert(!spark.catalog.tableExists("region_t"))
  }

  test("cut ignores out-of-range positions and keeps __pos dense") {
    val s = freshSession()
    val n0 = s.rowCount
    s.cut(Seq(5L, 9999L)) // 9999 doesn't exist — must not count
    assert(s.rowCount == n0 - 1)
    assert(s.paste(0L))
    assert(s.rowCount == n0)
    // positions must be dense 0..n-1 after the splice
    val poss = s.current.select("__pos").orderBy("__pos")
      .collect().map(_.getLong(0)).toSeq
    assert(poss == (0L until n0).toSeq, s"holes in positions: $poss")
  }

  test("undo restores clipboard state: paste after an undone cut cannot duplicate") {
    val s = freshSession()
    val n0 = s.rowCount
    // no clipboard yet: undoing a cut must restore the empty clipboard
    assert(s.cut(Seq(0L)) && s.undo() && s.rowCount == n0)
    assert(!s.paste(0L), "clipboard must be empty again after the undo")
    // two cuts: undoing the second restores the FIRST cut's clipboard
    def keyAt(p: Long): Int = s.current.filter(col("__pos") === p)
      .select("n_nationkey").head.getInt(0)
    val k3 = keyAt(3L)
    assert(s.cut(Seq(3L)) && s.cut(Seq(5L)) && s.undo())
    assert(s.paste(0L) && keyAt(0L) == k3, "paste must re-insert the first cut's row")
    assert(s.rowCount == n0)
  }

  test("R4: delete closes the gap") {
    val s = freshSession()
    val before = s.current.orderBy("__pos").select("n_nationkey")
      .collect().map(_.getInt(0)).toSeq
    s.deleteRow(2L)
    val after = s.current.orderBy("__pos").collect()
    assert(after.length == before.length - 1)
    assert(after.map(_.getAs[Long]("__pos")).toSeq == (0L until after.length))
    assert(after.map(_.getAs[Int]("n_nationkey")).toSeq ==
      (before.take(2) ++ before.drop(3)))
  }

  test("R5/R6: cut then paste at same position is identity on content") {
    val s = freshSession()
    val before = s.current.orderBy("__pos").select("n_name")
      .collect().map(_.getString(0)).toSeq
    s.cut(Seq(3L, 4L))
    assert(s.paste(3L))
    val after = s.current.orderBy("__pos").select("n_name")
      .collect().map(_.getString(0)).toSeq
    assert(after == before)
  }

  test("R6: paste at 0 moves the block to the front") {
    val s = freshSession()
    val before = s.current.orderBy("__pos").select("n_nationkey")
      .collect().map(_.getInt(0)).toSeq
    s.cut(Seq(10L, 11L))
    assert(s.paste(0L))
    val after = s.current.orderBy("__pos").select("n_nationkey")
      .collect().map(_.getInt(0)).toSeq
    assert(after == Seq(before(10), before(11)) ++ before.patch(10, Nil, 2))
  }

  test("A1: pivot replaces the table (R7) with aggregated shape") {
    val s = EditorSession.fromDataFrame(
      Tables.load(spark, sf, "lineitem"), Seq("l_orderkey", "l_linenumber"))
    s.pivot("l_returnflag", "l_linestatus", "l_extendedprice", "sum")
    val cols = s.current.columns.toSet
    assert(cols.contains("l_returnflag") && cols.contains("__pos"))
    assert(s.rowCount == 3) // A, N, R
  }

  test("P1/P2: insert column with typed default, then drop it") {
    val s = freshSession()
    s.insertColumnAt(1, "active bool")
    val schema = s.current.schema
    assert(schema.fieldNames.toSeq.take(2) == Seq("n_nationkey", "active"))
    assert(schema("active").dataType == BooleanType)
    assert(s.current.filter(col("active") === false).count() == s.rowCount)
    s.dropColumnAt(1)
    assert(!s.current.columns.contains("active"))
  }
}

class CellOpsSpec extends SparkSpec {
  test("castStrict parity with pandas dtype.type(value)") {
    assert(CellOps.castStrict("42", IntegerType).get == 42)
    assert(CellOps.castStrict("4.5", DoubleType).get == 4.5)
    assert(CellOps.castStrict("true", BooleanType).get == true)
    assert(CellOps.castStrict("abc", IntegerType).isFailure)
    assert(CellOps.castStrict("4.5", IntegerType).isFailure)
    assert(CellOps.castStrict("2024-01-02", DateType).get ==
      java.sql.Date.valueOf("2024-01-02"))
  }

  test("parseNameDtype implements the intended 'name dtype' split") {
    assert(CellOps.parseNameDtype("score double") == (("score", DoubleType)))
    assert(CellOps.parseNameDtype("tag") == (("tag", StringType)))
    assert(CellOps.parseNameDtype("ok bool") == (("ok", BooleanType)))
    intercept[IllegalArgumentException](CellOps.parseNameDtype("x nosuch"))
  }
}

class StatsOpsSpec extends SparkSpec {
  test("V3: histogram buckets cover all rows") {
    val li = Tables.load(spark, sf, "lineitem")
    val h = StatsOps.histogramFixed(li, "l_extendedprice", 0.0, 120000.0, 12)
    assert(h.agg(sum("n")).head.getLong(0) == li.count())
    assert(h.select(max("bucket")).head.getLong(0) <= 11)
  }

  test("V2/V4: scatter guard and numeric check") {
    val li = Tables.load(spark, sf, "lineitem")
    assert(StatsOps.hasNumericData(li))
    assert(StatsOps.scatterSource(li).columns.length == 2)
    val strOnly = Tables.load(spark, sf, "region").select("r_name")
    assert(!StatsOps.hasNumericData(strOnly))
    intercept[IllegalArgumentException](StatsOps.scatterSource(strOnly))
  }
}

class TypedSpec extends SparkSpec {
  import graft.core.Typed

  test("typed pricing Aggregator equals the untyped decimal aggregate") {
    val typed = Typed.pricingSummary(spark, sf)
      .collect().map { case (k, s) => k -> (s.n, s.sum_qty) }.toMap
    val untyped = Tables.load(spark, sf, "lineitem")
      .groupBy("l_returnflag")
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.col("l_quantity")
            .cast("decimal(18,2)")).cast("double").as("q"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    assert(typed.keySet == untyped.keySet)
    typed.foreach { case (k, (n, q)) =>
      assert(n == untyped(k)._1)
      assert(math.abs(q - untyped(k)._2) < 1e-6, s"$k: $q vs ${untyped(k)._2}")
    }
  }

  test("typed Aggregator is partitioning-invariant (exact integer state)") {
    val a = Typed.pricingSummary(spark, sf).collect().toMap
    import spark.implicits._
    val repart = Tables.load(spark, sf, "lineitem")
      .repartition(13)
      .select(org.apache.spark.sql.functions.col("l_returnflag"),
        org.apache.spark.sql.functions.col("l_quantity"),
        org.apache.spark.sql.functions.col("l_extendedprice"))
      .as[Typed.LineSlim]
      .groupByKey(_.l_returnflag)
      .agg(Typed.pricingAgg.toColumn)
      .collect().toMap
    assert(a == repart)
  }
}
