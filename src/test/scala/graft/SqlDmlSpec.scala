package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.{Catalog, Positional}

/** SQL DML text surface (r11 verdict task #1): INSERT INTO / UPDATE /
  * DELETE FROM / MERGE INTO against an open session route through the
  * typed gestures, so
  *  - answers equal the same mutation done through the typed API;
  *  - the mutation LOG is the same, so layouts DELTA-PATCH (base files
  *    byte-identical) after a SQL mutation exactly as after a typed one;
  *  - a corpus-sized UPDATE/DELETE goes structural (one distributed
  *    pass, no driver-sized collect).
  */
class SqlDmlSpec extends SparkSpec {

  private def openOrders(cat: Catalog, name: String): Unit = {
    cat.open(name, s"$sf/orders.parquet", orderCols = Seq("o_orderkey"))
    ()
  }

  private def strip(df: DataFrame): DataFrame = Positional.strip(df)

  test("INSERT INTO ... VALUES appends typed rows through appendRows") {
    val cat = new Catalog(spark)
    cat.open("ri", s"$sf/region.parquet", orderCols = Seq("r_regionkey"))
    val s = cat.get("ri").get
    val before = s.rowCount
    val rep = cat.sql(
      "INSERT INTO ri VALUES (97, 'ATLANTIS'), (98, 'LEMURIA')")
    assert(rep.collect().map(_.toSeq).toSeq ==
      Seq(Seq("insert", 2L)), "report row (operation, rows_affected)")
    assert(s.rowCount == before + 2)
    val got = strip(s.current).filter(col("r_regionkey") >= 97)
      .orderBy("r_regionkey").collect().map(_.toSeq).toSeq
    assert(got == Seq(Seq(97, "ATLANTIS"), Seq(98, "LEMURIA")),
      s"typed values must store-assign onto the session schema: $got")
    // the rows landed at the TAIL with dense positions
    assert(s.page(before, before + 2).select("r_name")
      .collect().map(_.getString(0)).toSeq == Seq("ATLANTIS", "LEMURIA"))
  }

  test("INSERT INTO with a column list null-fills the unlisted columns") {
    val cat = new Catalog(spark)
    cat.open("ri2", s"$sf/region.parquet", orderCols = Seq("r_regionkey"))
    cat.open("rc", s"$sf/customer.parquet", orderCols = Seq("c_custkey"))
    cat.sql("INSERT INTO rc (c_name, c_custkey) VALUES ('Atlantis Trading', 999001)")
    val s2 = cat.get("rc").get
    val got = strip(s2.current).filter(col("c_custkey") === 999001)
      .collect().map(_.toSeq).toSeq
    assert(got == Seq(Seq(999001L, "Atlantis Trading", null, null, null)))
  }

  test("INSERT INTO ... SELECT reads other sessions through the routed view window") {
    val cat = new Catalog(spark)
    cat.open("dst", s"$sf/region.parquet", orderCols = Seq("r_regionkey"))
    cat.open("src_n", s"$sf/nation.parquet", orderCols = Seq("n_nationkey"))
    val s = cat.get("dst").get
    val before = s.rowCount
    val rep = cat.sql(
      """INSERT INTO dst
        |SELECT n_nationkey + 100, upper(n_name)
        |FROM src_n WHERE n_nationkey < 3""".stripMargin)
    assert(rep.head().getLong(1) == 3L)
    assert(s.rowCount == before + 3)
    assert(strip(s.current).filter(col("r_regionkey") === 101)
      .select("r_name").head().getString(0) ==
      spark.read.parquet(s"$sf/nation.parquet")
        .filter(col("n_nationkey") === 1).select(upper(col("n_name")))
        .head().getString(0))
  }

  test("bounded UPDATE applies as typed cell edits; RHS sees the OLD row") {
    val cat = new Catalog(spark)
    openOrders(cat, "uo")
    val s = cat.get("uo").get
    val keys = strip(s.current).filter(col("o_orderkey") % 1000 === 7)
      .select("o_orderkey", "o_totalprice")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(keys.nonEmpty)
    val rep = cat.sql(
      """UPDATE uo SET o_totalprice = o_totalprice + 1000,
        |  o_orderpriority = concat('bumped:', o_orderpriority)
        |WHERE o_orderkey % 1000 = 7""".stripMargin)
    assert(rep.head().getLong(1) == keys.size.toLong)
    // applied through the EDIT LOG (no structural replace): pendingEdits
    // carries both columns' edits
    assert(s.pendingEdits == 2 * keys.size)
    val after = strip(s.current).filter(col("o_orderkey") % 1000 === 7)
      .select("o_orderkey", "o_totalprice", "o_orderpriority")
      .collect()
    after.foreach { r =>
      assert(r.getDouble(1) == keys(r.getLong(0)) + 1000,
        "RHS must evaluate against the pre-update value")
      assert(r.getString(2).startsWith("bumped:"))
    }
  }

  test("corpus-sized UPDATE goes structural: one distributed projection, same answer") {
    val cat = new Catalog(spark, None, deltaMaxRowsOverride = Some(8))
    openOrders(cat, "ub")
    val s = cat.get("ub").get
    val n = strip(s.current).filter(col("o_orderkey") % 2 === 0).count()
    assert(n > 8)
    val rep = cat.sql(
      "UPDATE ub SET o_orderstatus = 'Z' WHERE o_orderkey % 2 = 0")
    assert(rep.head().getLong(1) == n)
    assert(s.pendingEdits == 0, "oversized UPDATE must not ride the edit log")
    assert(strip(s.current).filter(col("o_orderstatus") === "Z").count() == n)
    assert(strip(s.current)
      .filter(col("o_orderkey") % 2 =!= 0 && col("o_orderstatus") === "Z")
      .count() == 0, "untouched rows keep their value")
    assert(s.rowCount > 0 && strip(s.current).columns.sameElements(
      spark.read.parquet(s"$sf/orders.parquet").columns))
  }

  test("DELETE FROM with a subquery condition; bounded → positional gesture") {
    val cat = new Catalog(spark)
    openOrders(cat, "dd")
    cat.open("dc", s"$sf/customer.parquet", orderCols = Seq("c_custkey"))
    val s = cat.get("dd").get
    val before = s.rowCount
    val victims = strip(s.current).join(
      spark.read.parquet(s"$sf/customer.parquet")
        .filter(col("c_acctbal") < -800).select(col("c_custkey")),
      col("o_custkey") === col("c_custkey"), "left_semi").count()
    assert(victims > 0, "fixture needs victims")
    val rep = cat.sql(
      """DELETE FROM dd
        |WHERE o_custkey IN (SELECT c_custkey FROM dc WHERE c_acctbal < -800)""".stripMargin)
    assert(rep.head().getLong(1) == victims)
    assert(s.rowCount == before - victims)
    // dense positions survive the gesture
    assert(s.page(0, 5).count() == 5)
  }

  test("corpus-sized DELETE goes structural with dense renumbering") {
    val cat = new Catalog(spark, None, deltaMaxRowsOverride = Some(8))
    openOrders(cat, "db")
    val s = cat.get("db").get
    val keep = strip(s.current).filter(!(col("o_orderkey") % 3 === 0)).count()
    cat.sql("DELETE FROM db WHERE o_orderkey % 3 = 0")
    assert(s.rowCount == keep)
    val pos = s.current.select(Positional.POS)
    assert(pos.agg(min(Positional.POS), max(Positional.POS)).head().toSeq ==
      Seq(0L, keep - 1), "positions must renumber densely")
  }

  test("MERGE INTO: conditional update, delete, and insert from a source session") {
    val cat = new Catalog(spark)
    cat.open("mt", s"$sf/region.parquet", orderCols = Seq("r_regionkey"))
    val delta = spark.createDataFrame(Seq(
      (0, "AFRICA2", "renamed"),        // matched → update
      (1, "AMERICA", "drop-me"),        // matched + op='drop-me' → delete
      (97, "ATLANTIS", "new")           // not matched → insert
    )).toDF("k", "name", "op")
    cat.openFrom("md", delta, orderCols = Seq("k"))
    val s = cat.get("mt").get
    val rep = cat.sql(
      """MERGE INTO mt t USING md d ON t.r_regionkey = d.k
        |WHEN MATCHED AND d.op = 'drop-me' THEN DELETE
        |WHEN MATCHED THEN UPDATE SET r_name = d.name
        |WHEN NOT MATCHED THEN INSERT (r_regionkey, r_name)
        |  VALUES (d.k, d.name)""".stripMargin)
    assert(rep.head().getLong(1) == 3L)
    val rows = strip(s.current).orderBy("r_regionkey")
      .collect().map(_.toSeq).toSeq
    assert(rows.exists(_ == Seq(0, "AFRICA2")), "update applied")
    assert(!rows.exists(_.head == 1), "conditional delete applied first")
    assert(rows.exists(_ == Seq(97, "ATLANTIS")), "insert applied")
    assert(rows.size == 5L - 1 + 1)
  }

  test("statement atomicity: a MERGE failing between its edit and delete gestures rolls back whole (r12 task #4)") {
    val cat = new Catalog(spark)
    cat.open("at", s"$sf/region.parquet", orderCols = Seq("r_regionkey"))
    val s = cat.get("at").get
    val delta = spark.createDataFrame(Seq(
      (0, "AFRICA2", "rename"),         // matched → update (applies first)
      (1, "AMERICA", "drop-me"),        // matched → delete (never reached)
      (97, "ATLANTIS", "new")           // not matched → insert (never reached)
    )).toDF("k", "name", "op")
    cat.openFrom("atd", delta, orderCols = Seq("k"))
    val preRows = strip(s.current).orderBy("r_regionkey")
      .collect().map(_.toSeq).toSeq
    val preEpoch = s.epoch
    val stmt =
      """MERGE INTO at t USING atd d ON t.r_regionkey = d.k
        |WHEN MATCHED AND d.op = 'drop-me' THEN DELETE
        |WHEN MATCHED THEN UPDATE SET r_name = d.name
        |WHEN NOT MATCHED THEN INSERT (r_regionkey, r_name)
        |  VALUES (d.k, d.name)""".stripMargin
    cat.dmlFailpoint = Some("merge-after-edits")
    try {
      val e = intercept[IllegalStateException](cat.sql(stmt))
      assert(e.getMessage.contains("failpoint"))
    } finally cat.dmlFailpoint = None
    // the session equals its pre-statement state: the applied update
    // gesture was rolled back with everything else
    val postRows = strip(s.current).orderBy("r_regionkey")
      .collect().map(_.toSeq).toSeq
    assert(postRows == preRows,
      s"half-applied MERGE must roll back; got $postRows")
    assert(s.epoch != preEpoch,
      "the rollback is a structural gesture — epoch moves, layouts " +
        "rebuild on next refresh")
    // the statement, re-run unarmed, applies completely
    assert(cat.sql(stmt).head().getLong(1) == 3L)
    val rows = strip(s.current).collect().map(_.toSeq).toSeq
    assert(rows.exists(_ == Seq(0, "AFRICA2")) &&
      !rows.exists(_.head == 1) && rows.exists(_ == Seq(97, "ATLANTIS")))
    // and a statement failing BEFORE any gesture leaves the epoch alone
    val e2 = s.epoch
    intercept[Exception] {
      cat.sql("UPDATE at SET nonexistent_column = 1")
    }
    assert(s.epoch == e2, "a pre-validation failure must not replace")
  }

  test("MERGE cardinality violation fails fast") {
    val cat = new Catalog(spark)
    cat.open("mc", s"$sf/region.parquet", orderCols = Seq("r_regionkey"))
    val dup = spark.createDataFrame(Seq((0, "A"), (0, "B"))).toDF("k", "name")
    cat.openFrom("mdup", dup, orderCols = Seq("k"))
    val e = intercept[Exception] {
      cat.sql("""MERGE INTO mc USING mdup ON mc.r_regionkey = mdup.k
                |WHEN MATCHED THEN UPDATE SET r_name = mdup.name""".stripMargin)
    }
    assert(e.getMessage.toLowerCase.contains("cardinality"))
  }

  test("SQL mutations keep the delta-patch law: base files byte-identical after refresh") {
    val cat = new Catalog(spark)
    openOrders(cat, "sq")
    cat.buildRangedLayout("sq", "o_totalprice", files = 8,
      idCol = Some("o_orderkey"))
    def ranged = cat.layoutsOf("sq").collectFirst {
      case (_, l: Catalog.ClusteredLayout) => l
    }.get
    val built = ranged
    def baseFiles = new java.io.File(built.path).listFiles
      .filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.length, f.lastModified)).toSeq.sortBy(_._1)
    val files0 = baseFiles
    val s = cat.get("sq").get

    // INSERT → RowInserts → delta patch
    cat.sql("""INSERT INTO sq SELECT * FROM sq WHERE o_orderkey = 1""")
    assert(cat.refreshStale("sq") == Seq("range:o_totalprice"))
    assert(ranged.path == built.path && ranged.patch.isDefined,
      "SQL INSERT must delta-patch, not re-cluster")
    assert(baseFiles == files0)

    // UPDATE → CellEdits → delta patch
    cat.sql("UPDATE sq SET o_totalprice = o_totalprice + 1 WHERE o_orderkey = 2")
    assert(cat.refreshStale("sq") == Seq("range:o_totalprice"))
    assert(ranged.path == built.path && baseFiles == files0,
      "SQL UPDATE must delta-patch, not re-cluster")

    // DELETE → RowDeletes → delta patch
    cat.sql("DELETE FROM sq WHERE o_orderkey = 3")
    assert(cat.refreshStale("sq") == Seq("range:o_totalprice"))
    assert(ranged.path == built.path && baseFiles == files0,
      "SQL DELETE must delta-patch, not re-cluster")

    // served answers equal the live plan after all three
    val got = cat.rangeScan("sq", "o_totalprice", 1000.0, 100000.0)
      .orderBy("o_orderkey", "o_totalprice").collect().map(_.toSeq).toSeq
    val want = strip(s.current)
      .filter(col("o_totalprice") >= 1000.0 && col("o_totalprice") <= 100000.0)
      .orderBy("o_orderkey", "o_totalprice").collect().map(_.toSeq).toSeq
    assert(got == want, "routed scan must equal live after SQL DML cycle")
  }

  test("INSERT OVERWRITE replaces the whole table (structural)") {
    val cat = new Catalog(spark)
    cat.open("ow", s"$sf/region.parquet", orderCols = Seq("r_regionkey"))
    val s = cat.get("ow").get
    val rep = cat.sql(
      "INSERT OVERWRITE ow SELECT r_regionkey + 10, upper(r_name) FROM ow")
    assert(rep.head().getString(0) == "insert_overwrite")
    assert(s.rowCount == 5L)
    val got = strip(s.current).orderBy("r_regionkey")
      .collect().map(_.toSeq).toSeq
    assert(got.forall(r => r.head.asInstanceOf[Int] >= 10),
      s"overwrite must replace every row: $got")
    // positions re-attach densely on the replaced table
    assert(s.page(0, 5).count() == 5)
  }

  test("MERGE with a SUBQUERY source re-plans the source text through the view window") {
    val cat = new Catalog(spark)
    cat.open("ms", s"$sf/region.parquet", orderCols = Seq("r_regionkey"))
    cat.open("msn", s"$sf/nation.parquet", orderCols = Seq("n_nationkey"))
    val s = cat.get("ms").get
    val rep = cat.sql(
      """MERGE INTO ms USING (
        |  SELECT n_nationkey AS k, upper(n_name) AS nm
        |  FROM msn WHERE n_nationkey < 2) d
        |ON ms.r_regionkey = d.k
        |WHEN MATCHED THEN UPDATE SET r_name = d.nm
        |WHEN NOT MATCHED THEN INSERT (r_regionkey, r_name)
        |  VALUES (d.k + 50, d.nm)""".stripMargin)
    assert(rep.head().getLong(1) == 2L)
    val nations = spark.read.parquet(s"$sf/nation.parquet")
      .filter(col("n_nationkey") < 2)
      .select(col("n_nationkey"), upper(col("n_name")))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    val rows = strip(s.current).collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(rows(0) == nations(0) && rows(1) == nations(1),
      "matched rows must take the subquery's computed values")
  }

  test("corpus-sized DELETE keeps rows whose predicate is NULL (SQL semantics, both paths)") {
    val cat = new Catalog(spark, None, deltaMaxRowsOverride = Some(8))
    val base = spark.read.parquet(s"$sf/orders.parquet")
      .withColumn("flag",
        when(col("o_orderkey") % 5 === 0, lit(null).cast("int"))
          .otherwise((col("o_orderkey") % 3).cast("int")))
    cat.openFrom("dn", base, orderCols = Seq("o_orderkey"))
    val s = cat.get("dn").get
    val nullRows = base.filter(col("flag").isNull).count()
    val hits = base.filter(col("flag") > 0).count()
    assert(nullRows > 0 && hits > 8, "fixture needs NULLs and an oversized hit set")
    cat.sql("DELETE FROM dn WHERE flag > 0")
    assert(s.rowCount == base.count() - hits,
      "only TRUE-predicate rows delete; NULL-predicate rows stay")
    assert(strip(s.current).filter(col("flag").isNull).count() == nullRows)
  }

  test("structural MERGE with only NOT-MATCHED-BY-SOURCE actions never duplicates a multi-matched row") {
    val cat = new Catalog(spark, None, deltaMaxRowsOverride = Some(8))
    cat.open("mm", s"$sf/region.parquet", orderCols = Seq("r_regionkey"))
    val s = cat.get("mm").get
    val before = strip(s.current).orderBy("r_regionkey")
      .collect().map(_.toSeq).toSeq
    // source matches region 0 TWICE and regions 1..3 once; forcing the
    // structural path via the tiny delta bound needs >8 touched rows, so
    // delete-by-source hits nothing here — use a big bySource set instead
    val src = spark.createDataFrame(Seq(
      (0, "a"), (0, "b"), (1, "c"), (2, "d"), (3, "e"))).toDF("k", "x")
    cat.openFrom("mmsrc", src, orderCols = Seq("k", "x"))
    // bounded path sanity first (bySource touches only region 4)
    cat.sql("""MERGE INTO mm USING mmsrc ON mm.r_regionkey = mmsrc.k
              |WHEN NOT MATCHED BY SOURCE THEN UPDATE
              |  SET r_name = concat(r_name, '!')""".stripMargin)
    val after = strip(s.current).orderBy("r_regionkey")
      .collect().map(_.toSeq).toSeq
    assert(after.size == before.size,
      s"multi-matched rows must never duplicate: $after")
    assert(after.count(_.apply(1).asInstanceOf[String].endsWith("!")) == 1)

    // now FORCE the structural path: a fresh catalog with bound 0 is not
    // possible (clamped >= ?), so grow the bySource set instead — every
    // orders row is not-matched-by-source against a tiny source
    val cat2 = new Catalog(spark, None, deltaMaxRowsOverride = Some(8))
    cat2.open("mo", s"$sf/orders.parquet", orderCols = Seq("o_orderkey"))
    val s2 = cat2.get("mo").get
    val n0 = s2.rowCount
    val dupSrc = spark.createDataFrame(Seq(
      (1L, "x"), (1L, "y"))).toDF("k", "x") // o_orderkey 1 matched TWICE
    cat2.openFrom("mosrc", dupSrc, orderCols = Seq("k", "x"))
    val rep = cat2.sql(
      """MERGE INTO mo USING mosrc ON mo.o_orderkey = mosrc.k
        |WHEN NOT MATCHED BY SOURCE AND o_orderkey % 2 = 0 THEN UPDATE
        |  SET o_orderstatus = 'M'""".stripMargin)
    assert(s2.rowCount == n0,
      "the structural semi/anti split must not duplicate the twice-matched row")
    assert(strip(s2.current).filter(col("o_orderkey") === 1L).count() == 1L)
    val expectUpd = strip(s2.current)
      .filter(col("o_orderkey") =!= 1L && col("o_orderkey") % 2 === 0).count()
    assert(strip(s2.current).filter(col("o_orderstatus") === "M").count() ==
      expectUpd)
    assert(rep.head().getLong(1) == expectUpd,
      "structural rows_affected must count the updates")
  }

  test("bounded MERGE multi-match is legal while at most one pair's guard applies") {
    val cat = new Catalog(spark)
    cat.open("mg", s"$sf/region.parquet", orderCols = Seq("r_regionkey"))
    val src = spark.createDataFrame(Seq(
      (0, "U", "zero-new"), (0, "skip", "ignored"),
      (1, "skip", "ignored"), (1, "skip2", "ignored2")))
      .toDF("k", "op", "nm")
    cat.openFrom("mgsrc", src, orderCols = Seq("k", "op"))
    // region 0: two matches, ONE applicable → deterministic update;
    // region 1: two matches, NONE applicable → untouched, no violation
    val rep = cat.sql(
      """MERGE INTO mg USING mgsrc ON mg.r_regionkey = mgsrc.k
        |WHEN MATCHED AND mgsrc.op = 'U' THEN UPDATE SET r_name = mgsrc.nm""".stripMargin)
    assert(rep.head().getLong(1) == 1L)
    val s = cat.get("mg").get
    assert(strip(s.current).filter(col("r_regionkey") === 0)
      .head().getString(1) == "zero-new")
    // ... but two APPLICABLE pairs on one row still violate
    val dup = spark.createDataFrame(Seq((2, "U", "a"), (2, "U", "b")))
      .toDF("k", "op", "nm")
    cat.openFrom("mgdup", dup, orderCols = Seq("k", "nm"))
    val e = intercept[Exception] {
      cat.sql("""MERGE INTO mg USING mgdup ON mg.r_regionkey = mgdup.k
                |WHEN MATCHED AND mgdup.op = 'U' THEN UPDATE SET r_name = mgdup.nm""".stripMargin)
    }
    assert(e.getMessage.toLowerCase.contains("cardinality"))
  }

  test("a zero-hit complex-typed UPDATE is a no-op: no structural replace, layouts stay valid") {
    val cat = new Catalog(spark)
    val base = spark.read.parquet(s"$sf/region.parquet")
      .withColumn("tags", array(col("r_name")))
    cat.openFrom("zh", base, orderCols = Seq("r_regionkey"))
    cat.buildRangedLayout("zh", "r_regionkey", files = 2,
      idCol = Some("r_regionkey"))
    val s = cat.get("zh").get
    val epoch0 = s.epoch
    val rep = cat.sql(
      "UPDATE zh SET tags = array('x') WHERE r_regionkey = -42")
    assert(rep.head().getLong(1) == 0L)
    assert(s.epoch == epoch0,
      "a zero-hit UPDATE must not mutate the session or invalidate layouts")
    assert(cat.explainRoute("zh", "range:r_regionkey").reason == "routed")
  }

  test("INSERT column lists and BY NAME resolve case-insensitively, like any Spark table") {
    val cat = new Catalog(spark)
    cat.open("ci", s"$sf/region.parquet", orderCols = Seq("r_regionkey"))
    cat.sql("INSERT INTO ci (R_NAME, R_REGIONKEY) VALUES ('MU', 77)")
    cat.sql("INSERT INTO ci BY NAME SELECT 'YS' AS R_Name, 78 AS r_RegionKey")
    val s = cat.get("ci").get
    val got = strip(s.current).filter(col("r_regionkey") >= 77)
      .orderBy("r_regionkey").collect().map(_.toSeq).toSeq
    assert(got == Seq(Seq(77, "MU"), Seq(78, "YS")),
      s"mixed-case names must hit the session's columns: $got")
  }

  test("UPDATE with a scalar-subquery assignment resolves through the view window") {
    val cat = new Catalog(spark)
    cat.open("us", s"$sf/region.parquet", orderCols = Seq("r_regionkey"))
    cat.open("usn", s"$sf/nation.parquet", orderCols = Seq("n_nationkey"))
    val want = spark.read.parquet(s"$sf/nation.parquet")
      .agg(max("n_name")).head().getString(0)
    val rep = cat.sql(
      """UPDATE us SET r_name = (SELECT max(n_name) FROM usn)
        |WHERE r_regionkey = 0""".stripMargin)
    assert(rep.head().getLong(1) == 1L)
    val s = cat.get("us").get
    assert(strip(s.current).filter(col("r_regionkey") === 0)
      .head().getString(1) == want)
  }

  test("INSERT from a MATERIALIZED VIEW source binds live plans: the target survives layout rebuild + vacuum (r14 ADVICE #1)") {
    val wh = java.nio.file.Files.createTempDirectory("graft_mvdml_").toString
    val cat = new Catalog(spark, Some(wh))
    cat.open("mdsrc", s"$sf/orders.parquet", orderCols = Seq("o_orderkey"))
    cat.sql(
      """CREATE MATERIALIZED VIEW mdmv AS
        |SELECT o_orderstatus, count(*) AS n
        |FROM mdsrc GROUP BY o_orderstatus""".stripMargin)
    // the mv's own read routes through the cube — that is exactly the
    // plan the INSERT source must NOT embed
    assert(cat.sql("SELECT * FROM mdmv").queryExecution.executedPlan
      .toString.contains("catalog_cube_"))
    val want = cat.sql("SELECT * FROM mdmv ORDER BY o_orderstatus")
      .collect().map(_.toSeq).toSeq
    cat.sql("CREATE TABLE mdtgt (o_orderstatus STRING, n BIGINT)")
    cat.sql("INSERT INTO mdtgt SELECT * FROM mdmv")
    val tgt = cat.get("mdtgt").get
    assert(!tgt.current.inputFiles.exists(_.contains("catalog_")),
      "an mv-sourced INSERT must bind the live aggregate, never the " +
        "mv's layout storage")
    // now REBUILD the cube (structural gesture forces it) and vacuum
    // with zero grace: the old cube dir is collected — a layout-bound
    // target lineage would dangle here
    val s = cat.get("mdsrc").get
    s.replace(s.current.filter(col("o_orderkey") % 2 === 0))
    assert(cat.refreshStale("mdsrc").nonEmpty)
    cat.vacuum(0)
    val got = cat.sql("SELECT * FROM mdtgt ORDER BY o_orderstatus")
      .collect().map(_.toSeq).toSeq
    assert(got == want,
      s"the target must keep serving the inserted rows; got $got")
  }

  test("multi-statement transaction: ROLLBACK restores every touched session; COMMIT applies deferred retirements (r13 verdict task #6)") {
    val cat = new Catalog(spark)
    cat.open("txa", s"$sf/region.parquet", orderCols = Seq("r_regionkey"))
    cat.open("txb", s"$sf/nation.parquet", orderCols = Seq("n_nationkey"))
    val (sa, sb) = (cat.get("txa").get, cat.get("txb").get)
    val (na0, nb0) = (sa.rowCount, sb.rowCount)
    cat.sql("BEGIN")
    assert(cat.sql("DELETE FROM txa WHERE r_regionkey >= 3")
      .head().getLong(1) == 2)
    // the second statement fails MID-GESTURE (armed failpoint between
    // MERGE's edit and delete): its own bracket restores txb, and the
    // explicit ROLLBACK must restore txa too — BOTH roll back
    cat.dmlFailpoint = Some("merge-after-edits")
    try intercept[IllegalStateException] {
      cat.sql(
        """MERGE INTO txb t USING txa s ON t.n_regionkey = s.r_regionkey
          |WHEN MATCHED AND t.n_nationkey % 2 = 0
          |  THEN UPDATE SET n_name = 'touched'
          |WHEN MATCHED THEN DELETE""".stripMargin)
    } finally cat.dmlFailpoint = None
    assert(sb.rowCount == nb0, "statement bracket must restore txb")
    assert(cat.sql("ROLLBACK").head().getString(0) == "rollback")
    assert(sa.rowCount == na0 && sb.rowCount == nb0,
      "ROLLBACK must restore every session the transaction touched")
    assert(graft.core.Positional.strip(sa.current).count() == na0)

    // COMMIT path: DML over two sessions applies; a DROP COLUMN's layout
    // retirement is DEFERRED to COMMIT (a rollback must be able to keep
    // the layout)
    cat.buildCubeLayout("txb", Seq("n_regionkey"), Seq("n_nationkey"))
    cat.sql("BEGIN")
    cat.sql("DELETE FROM txa WHERE r_regionkey = 0")
    cat.sql("ALTER TABLE txb DROP COLUMN n_nationkey")
    assert(cat.layoutsOf("txb").exists(_._1.startsWith("cube:")),
      "a retirement inside an open transaction must be deferred")
    assert(cat.sql("COMMIT").head().getLong(1) == 2L,
      "COMMIT reports the touched-session count")
    assert(!cat.layoutsOf("txb").exists(_._1.startsWith("cube:")),
      "COMMIT must apply the deferred retirement")
    assert(sa.rowCount == na0 - 1)
    assert(!strip(sb.current).columns.contains("n_nationkey"))

    // a rolled-back transaction keeps the deferred layout: rebuildable
    cat.sql("BEGIN")
    cat.sql("ALTER TABLE txa ADD COLUMN note STRING")
    cat.sql("ROLLBACK")
    assert(!strip(sa.current).columns.contains("note"))

    // lifecycle gestures refuse inside an open transaction; errors name
    // the law, and the refusal leaves the transaction usable
    cat.sql("BEGIN")
    val ex = intercept[Exception] {
      cat.sql("CREATE TABLE t2 AS SELECT * FROM txa")
    }
    assert(ex.getMessage.contains("not transactional"))
    intercept[Exception] { cat.sql("DROP TABLE txa") }
    intercept[Exception] { cat.sql("VACUUM txa") }
    cat.sql("ROLLBACK")
    // nesting and dangling COMMIT/ROLLBACK fail fast
    intercept[IllegalStateException] { cat.sql("COMMIT") }
    cat.sql("BEGIN")
    intercept[Exception] { cat.sql("BEGIN") }
    cat.sql("ROLLBACK")

    // script-style terminators reach the txn path too (r14 review #2):
    // "COMMIT;" must never fall through to the parser and strand the
    // transaction open
    cat.sql("BEGIN;")
    val na1 = sa.rowCount
    cat.sql("DELETE FROM txa WHERE r_regionkey = 1")
    cat.sql("ROLLBACK;")
    assert(sa.rowCount == na1)
    cat.sql("START TRANSACTION")
    cat.sql("COMMIT;")

    // a mid-transaction refreshStale must not retire a layout whose
    // column a still-open transaction dropped (r14 review #6): rollback
    // restores the column and the layout stays rebuildable
    cat.buildCubeLayout("txa", Seq("r_name"), Seq("r_regionkey"))
    cat.sql("BEGIN")
    cat.sql("ALTER TABLE txa DROP COLUMN r_regionkey")
    assert(cat.refreshStale("txa").isEmpty, "refresh must skip, not retire")
    assert(cat.layoutsOf("txa").exists(_._1 == "cube:r_name"),
      "the layout must survive a mid-transaction refresh")
    cat.sql("ROLLBACK")
    assert(strip(sa.current).columns.contains("r_regionkey"))
    assert(cat.refreshStale("txa") == Seq("cube:r_name"),
      "after rollback the layout rebuilds instead of having been retired")
  }

  test("SAVEPOINT / ROLLBACK TO SAVEPOINT / RELEASE inside a transaction (r14)") {
    val cat = new Catalog(spark)
    cat.open("spa", s"$sf/region.parquet", orderCols = Seq("r_regionkey"))
    val s = cat.get("spa").get
    val n0 = s.rowCount
    cat.sql("BEGIN")
    cat.sql("DELETE FROM spa WHERE r_regionkey = 4")
    cat.sql("SAVEPOINT s1")
    cat.sql("DELETE FROM spa WHERE r_regionkey = 3")
    cat.sql("SAVEPOINT s2")
    cat.sql("DELETE FROM spa WHERE r_regionkey = 2")
    assert(s.rowCount == n0 - 3)
    // back to s1: the pre-mark delete stays, both later ones undo, and
    // s2 (defined after the mark) dies with the rolled-back work
    assert(cat.sql("ROLLBACK TO SAVEPOINT s1")
      .head().getString(0) == "rollback_to_savepoint")
    assert(s.rowCount == n0 - 1)
    intercept[Exception] { cat.sql("ROLLBACK TO SAVEPOINT s2") }
    // COMMIT keeps the surviving state
    cat.sql("COMMIT")
    assert(s.rowCount == n0 - 1)
    assert(strip(s.current).filter(col("r_regionkey") === 3).count() == 1)
    // full ROLLBACK still restores to BEGIN even past a savepoint
    cat.sql("BEGIN")
    cat.sql("DELETE FROM spa WHERE r_regionkey = 0")
    cat.sql("SAVEPOINT p")
    cat.sql("DELETE FROM spa WHERE r_regionkey = 1")
    cat.sql("ROLLBACK")
    assert(s.rowCount == n0 - 1)
    // RELEASE forgets the mark AND every later one (the span is final,
    // SQL semantics); names fold case like every other identifier
    cat.sql("BEGIN")
    cat.sql("SAVEPOINT q")
    cat.sql("SAVEPOINT later")
    cat.sql("RELEASE SAVEPOINT Q")
    intercept[Exception] { cat.sql("ROLLBACK TO q") }
    intercept[Exception] { cat.sql("ROLLBACK TO later") }
    cat.sql("ROLLBACK")
    intercept[Exception] { cat.sql("SAVEPOINT outside") }

    // a REDEFINED name re-establishes at the tail: rolling back to an
    // intermediate mark must kill the redefinition, never let a later
    // rollback replay the work the intermediate rollback undid
    // (r14 review, 3rd pass)
    cat.sql("BEGIN")
    cat.sql("SAVEPOINT a")
    cat.sql("DELETE FROM spa WHERE r_regionkey = 3")
    cat.sql("SAVEPOINT b")
    cat.sql("DELETE FROM spa WHERE r_regionkey = 2")
    cat.sql("SAVEPOINT a") // redefinition AFTER b
    cat.sql("ROLLBACK TO SAVEPOINT b")
    intercept[Exception] { cat.sql("ROLLBACK TO a") }
    assert(strip(s.current).filter(col("r_regionkey") === 2).count() == 1,
      "rollback to b must restore the second delete")
    cat.sql("ROLLBACK")
  }

  test("DML text against a non-session name falls through to the ordinary path") {
    val cat = new Catalog(spark)
    cat.open("ft", s"$sf/region.parquet", orderCols = Seq("r_regionkey"))
    intercept[Exception] {
      cat.sql("DELETE FROM not_a_session WHERE x = 1")
    }
    // and a SELECT still works after the failed DML (views cleaned up)
    assert(cat.sql("SELECT count(*) AS n FROM ft").head().getLong(0) == 5L)
  }

  test("COPY INTO appends a file by name with session-type casts; junk fails atomically") {
    val cat = new Catalog(spark)
    cat.open("cpy", s"$sf/region.parquet", orderCols = Seq("r_regionkey"))
    val s = cat.get("cpy").get
    val n0 = s.rowCount
    val dir = java.nio.file.Files.createTempDirectory("graft_copy_").toString
    // columns REORDERED vs the session schema: by-name mapping must fix it
    strip(s.current).select(col("r_name"),
        (col("r_regionkey") + 100L).as("r_regionkey"))
      .write.mode("overwrite").option("header", "true").csv(s"$dir/more.csv")
    val rep = cat.sql(s"COPY INTO cpy FROM '$dir/more.csv'")
    assert(rep.head().getString(0) == "copy" && rep.head().getLong(1) == n0)
    assert(s.rowCount == 2 * n0)
    // casts applied: the CSV's inferred ints landed as the session's type
    assert(strip(s.current).filter(col("r_regionkey") >= 100L).count() == n0)

    // a file with an unknown column and mismatched arity fails atomically
    strip(s.current).limit(1)
      .select(col("r_name").as("wat"))
      .write.mode("overwrite").option("header", "true").csv(s"$dir/bad.csv")
    intercept[Exception] { cat.sql(s"COPY INTO cpy FROM '$dir/bad.csv'") }
    assert(s.rowCount == 2 * n0, "failed COPY must append nothing")

    // COPY participates in the transaction bracket like any DML
    cat.sql("BEGIN")
    cat.sql(s"COPY INTO cpy FROM '$dir/more.csv'")
    assert(s.rowCount == 3 * n0)
    cat.sql("ROLLBACK")
    assert(s.rowCount == 2 * n0, "ROLLBACK must undo the COPY")
  }
}
