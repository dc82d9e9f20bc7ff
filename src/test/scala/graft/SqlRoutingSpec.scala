package graft

import org.apache.spark.sql.functions._
import graft.core.{Catalog, Positional, Tables}

/** SQL-text routing through catalog layouts (r8 verdict task #4): a
  * range predicate in `catalog.sql` text must read the pruned file set
  * of a valid ranged layout, and an equi-join of two bucketed sessions
  * must plan exchange-free — rewritten by
  * [[graft.plans.SqlLayoutRouting]] at analysis time, with the answers
  * byte-identical to the unrouted plans. Edits invalidate: stale
  * layouts are never published, so SQL falls back to the live views.
  */
class SqlRoutingSpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def withoutAutoBroadcast[A](f: => A): A = {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try f finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("range predicate in SQL text routes through the ranged layout; edit falls back") {
    val cat = new Catalog(spark)
    cat.open("li_sql", s"$sf/lineitem.parquet",
      orderCols = Seq("l_orderkey", "l_linenumber"))
    cat.buildRangedLayout("li_sql", "l_extendedprice", files = 8)
    val q = """SELECT l_returnflag, count(*) AS n
              |FROM li_sql
              |WHERE l_extendedprice BETWEEN 1000.0 AND 5000.0
              |GROUP BY l_returnflag""".stripMargin
    val routed = cat.sql(q)
    val p = plan(routed)
    assert(p.contains("catalog_ranged"),
      s"SQL range predicate must read the clustered layout; plan:\n$p")
    assert(cat.recentRoutes.exists(r =>
      r.slot == "range:l_extendedprice" && r.reason == "sql-routed"))
    // byte-identical to the live-view plan of the same text
    val live = Tables.load(spark, sf, "lineitem")
      .filter(col("l_extendedprice").between(1000.0, 5000.0))
      .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
    assert(routed.collect().map(_.toSeq).toSet ==
      live.collect().map(_.toSeq).toSet)
    // an edit invalidates the layout: same SQL plans against the live view
    assert(cat.get("li_sql").get.setCell(0L, "l_quantity", "42"))
    val p2 = plan(cat.sql(q))
    assert(!p2.contains("catalog_ranged"),
      s"stale ranged layout must not serve SQL; plan:\n$p2")
  }

  test("one-sided and reversed comparisons still prune; non-matching shapes don't route") {
    val cat = new Catalog(spark)
    cat.open("li_sql1", s"$sf/lineitem.parquet",
      orderCols = Seq("l_orderkey", "l_linenumber"))
    cat.buildRangedLayout("li_sql1", "l_extendedprice", files = 8)
    val oneSided = cat.sql(
      "SELECT count(*) AS n FROM li_sql1 WHERE 9000.0 <= l_extendedprice")
    assert(plan(oneSided).contains("catalog_ranged"))
    assert(oneSided.head().getLong(0) ==
      Tables.load(spark, sf, "lineitem")
        .filter(col("l_extendedprice") >= 9000.0).count())
    // a bound on an expression of the column is NOT a bound on the
    // stored values — the conservative matcher must not route it
    val noRoute = cat.sql(
      "SELECT count(*) AS n FROM li_sql1 WHERE l_extendedprice * 2 >= 4000.0")
    assert(!plan(noRoute).contains("catalog_ranged"))
  }

  test("timestamp range predicates route and PRUNE through a ts-ranged layout") {
    val cat = new Catalog(spark)
    cat.openFrom("ev_sql",
      Tables.loadEvents(spark, sf)
        .select("event_id", "event_type", "ts", "value"),
      orderCols = Seq("event_id"))
    cat.buildRangedLayout("ev_sql", "ts", files = 8)
    // typed entry point with Instant endpoints
    val typed = cat.rangeScan("ev_sql", "ts",
      java.time.Instant.parse("2024-01-10T00:00:00Z"),
      java.time.Instant.parse("2024-01-12T00:00:00Z"))
    assert(plan(typed).contains("catalog_ranged"))
    val live = Tables.loadEvents(spark, sf)
      .filter(col("ts") >= lit(java.time.Instant.parse("2024-01-10T00:00:00Z")) &&
        col("ts") <= lit(java.time.Instant.parse("2024-01-12T00:00:00Z")))
    assert(typed.count() == live.count())
    // a 2-of-30-days window over 8 range-clustered files must open
    // strictly fewer than all of them — the pin that pruning PRUNES in
    // the column's own type (a double-space comparison would keep or
    // drop everything)
    val opened = typed.inputFiles.count(_.contains("catalog_ranged"))
    assert(opened > 0 && opened < 8,
      s"a narrow time window must open a strict subset of files: $opened")
    // SQL text: two-sided and one-sided timestamp windows route
    val q = """SELECT event_type, count(*) AS n FROM ev_sql
              |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
              |  AND ts < TIMESTAMP '2024-01-12 00:00:00'
              |GROUP BY event_type""".stripMargin
    val routed = cat.sql(q)
    assert(plan(routed).contains("catalog_ranged"),
      s"SQL timestamp bounds must route; plan:\n${plan(routed)}")
    val liveAgg = Tables.loadEvents(spark, sf)
      .filter(col("ts") >= lit(java.time.Instant.parse("2024-01-10T00:00:00Z")) &&
        col("ts") < lit(java.time.Instant.parse("2024-01-12T00:00:00Z")))
      .groupBy("event_type").agg(count(lit(1)).as("n"))
    assert(routed.collect().map(_.toSeq).toSet ==
      liveAgg.collect().map(_.toSeq).toSet)
    val oneSided = cat.sql(
      "SELECT count(*) AS n FROM ev_sql WHERE ts >= TIMESTAMP '2024-01-25 00:00:00'")
    assert(plan(oneSided).contains("catalog_ranged"))
    assert(oneSided.head().getLong(0) ==
      Tables.loadEvents(spark, sf)
        .filter(col("ts") >= lit(java.time.Instant.parse("2024-01-25T00:00:00Z")))
        .count())
    // a bound whose literal is a DIFFERENT type than the column (after
    // analysis) or an expression over the column must not route
    val noRoute = cat.sql(
      "SELECT count(*) AS n FROM ev_sql WHERE date_add(CAST(ts AS DATE), 1) >= DATE '2024-01-25'")
    assert(!plan(noRoute).contains("catalog_ranged"))
  }

  test("routing fires INSIDE subquery plans — EXISTS / IN / scalar (r12 task #1)") {
    // the decision, pinned: SqlLayoutRouting descends into subquery
    // expressions (transformUpWithSubqueries), so a range predicate on a
    // ranged session routes from inside an EXISTS / IN / scalar subquery
    // exactly as it does at top level. The correlated equality conjunct
    // is simply unmatched by the bound extractor — it loosens nothing
    // the exact Filter on top doesn't re-apply.
    val cat = new Catalog(spark)
    cat.open("ord_subq", s"$sf/orders.parquet", orderCols = Seq("o_orderkey"))
    cat.open("li_subq", s"$sf/lineitem.parquet",
      orderCols = Seq("l_orderkey", "l_linenumber"))
    cat.buildRangedLayout("li_subq", "l_extendedprice", files = 8)
    val q = """SELECT o_orderpriority, count(*) AS n FROM ord_subq
              |WHERE EXISTS (SELECT 1 FROM li_subq
              |  WHERE l_orderkey = o_orderkey
              |    AND l_extendedprice BETWEEN 9000.0 AND 9500.0)
              |GROUP BY o_orderpriority""".stripMargin
    val routed = cat.sql(q)
    assert(plan(routed).contains("catalog_ranged"),
      s"a range predicate inside EXISTS must prune through the ranged " +
        s"layout; plan:\n${plan(routed)}")
    assert(cat.recentRoutes.exists(r =>
      r.slot == "range:l_extendedprice" && r.reason == "sql-routed"))
    val liHit = Tables.load(spark, sf, "lineitem")
      .filter(col("l_extendedprice").between(9000.0, 9500.0))
    val live = Tables.load(spark, sf, "orders")
      .join(liHit, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
    assert(routed.collect().map(_.toSeq).toSet ==
      live.collect().map(_.toSeq).toSet)
    // IN-subquery body routes too
    val inQ = cat.sql(
      """SELECT count(*) AS n FROM ord_subq WHERE o_orderkey IN
        |  (SELECT l_orderkey FROM li_subq
        |   WHERE l_extendedprice BETWEEN 9000.0 AND 9500.0)""".stripMargin)
    assert(plan(inQ).contains("catalog_ranged"),
      s"IN-subquery range predicate must route; plan:\n${plan(inQ)}")
    assert(inQ.head().getLong(0) ==
      Tables.load(spark, sf, "orders")
        .join(liHit, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .count())
    // scalar subquery routes
    val sc = cat.sql(
      """SELECT (SELECT count(*) FROM li_subq
        |  WHERE l_extendedprice BETWEEN 9000.0 AND 9500.0) AS n"""
        .stripMargin)
    assert(plan(sc).contains("catalog_ranged"),
      s"scalar-subquery range predicate must route; plan:\n${plan(sc)}")
    assert(sc.head().getLong(0) == liHit.count())
    // a cube aggregate inside a scalar subquery routes too
    cat.buildCubeLayout("li_subq", Seq("l_returnflag"), Seq("l_quantity"))
    val cubeSub = cat.sql(
      """SELECT (SELECT count(*) FROM li_subq GROUP BY l_returnflag
        |  ORDER BY l_returnflag LIMIT 1) AS n""".stripMargin)
    assert(plan(cubeSub).contains("catalog_cube_"),
      s"a cube-served aggregate inside a subquery must route; " +
        s"plan:\n${plan(cubeSub)}")
    assert(cubeSub.head().getLong(0) ==
      Tables.load(spark, sf, "lineitem").groupBy("l_returnflag")
        .agg(count(lit(1)).as("n")).orderBy("l_returnflag")
        .head().getLong(1))
    // an edit invalidates inside subqueries exactly as at top level
    assert(cat.get("li_subq").get.setCell(0L, "l_quantity", "42"))
    assert(!plan(cat.sql(q)).contains("catalog_ranged"),
      "a stale layout must not serve from inside a subquery")
  }

  test("SQL equi-join of two bucketed sessions plans with no exchange") {
    val cat = new Catalog(spark)
    cat.open("ord_sql", s"$sf/orders.parquet", orderCols = Seq("o_orderkey"))
    cat.open("lit_sql", s"$sf/lineitem.parquet",
      orderCols = Seq("l_orderkey", "l_linenumber"))
    cat.buildBucketedLayout("ord_sql", "o_orderkey", 8)
    cat.buildBucketedLayout("lit_sql", "l_orderkey", 8)
    withoutAutoBroadcast {
      // plain join projection: the ONLY possible exchange is the join's,
      // so zero Exchange pins storage co-location (an aggregation above
      // would legitimately shuffle on its own grouping key)
      val q = """SELECT l_orderkey, o_orderpriority
                |FROM lit_sql JOIN ord_sql ON l_orderkey = o_orderkey""".stripMargin
      val routed = cat.sql(q)
      val p = plan(routed)
      assert(!p.contains("Exchange"),
        s"bucket-co-located SQL join must not shuffle; plan:\n$p")
      assert(cat.recentRoutes.exists(r =>
        r.slot == "bucket:l_orderkey" && r.reason == "sql-routed"))
      val live = Tables.load(spark, sf, "lineitem")
        .join(Tables.load(spark, sf, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select("l_orderkey", "o_orderpriority")
      assert(routed.count() == live.count())
      // mismatched join key: no route, and the answer is still correct
      val cross = cat.sql(
        """SELECT count(*) AS n
          |FROM lit_sql JOIN ord_sql ON l_linenumber = o_orderkey""".stripMargin)
      assert(plan(cross).contains("Exchange"))
    }
  }

  test("SQL aggregate routes through the materialized cube; non-canonical shapes don't") {
    val cat = new Catalog(spark)
    cat.open("li_mv", s"$sf/lineitem.parquet",
      orderCols = Seq("l_orderkey", "l_linenumber"))
    cat.buildCubeLayout("li_mv", Seq("l_returnflag", "l_linestatus"),
      Seq("l_quantity"))
    val q = """SELECT l_returnflag, count(*) AS n, count(l_quantity) AS nq,
              |  CAST(sum(CAST(round(l_quantity, 6) AS DECIMAL(38,6)))
              |    AS DOUBLE) AS sum_qty,
              |  min(l_quantity) AS mn, max(l_quantity) AS mx
              |FROM li_mv GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
    val routed = cat.sql(q)
    val p = plan(routed)
    assert(p.contains("catalog_cube_"),
      s"a canonical SQL aggregate must re-merge the stored cube; plan:\n$p")
    assert(!p.contains("l_orderkey"),
      s"the routed SQL plan must never scan the fact table; plan:\n$p")
    assert(cat.recentRoutes.exists(r =>
      r.slot == "cube:l_returnflag,l_linestatus" && r.reason == "sql-routed"))
    // answer identical to the same aggregate over the raw table
    val live = Tables.load(spark, sf, "lineitem")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), count(col("l_quantity")).as("nq"),
        sum(round(col("l_quantity"), 6).cast("decimal(38,6)"))
          .cast("double").as("sum_qty"),
        min(col("l_quantity")).as("mn"), max(col("l_quantity")).as("mx"))
      .orderBy("l_returnflag")
    assert(routed.collect().map(_.toSeq).toSeq ==
      live.collect().map(_.toSeq).toSeq)
    // a sum the cube did not store (no decimal canon) must NOT route —
    // re-merging a double sum would change the fold order, so the
    // conservative matcher refuses and the live view answers
    val noRoute = cat.sql(
      "SELECT l_returnflag, sum(l_quantity) AS s FROM li_mv GROUP BY 1")
    assert(!plan(noRoute).contains("catalog_cube_"),
      "a non-canonical aggregate must fall back to the live view")
    // DISTINCT can never re-merge from counts — no route
    val distinct = cat.sql(
      "SELECT count(DISTINCT l_quantity) AS d FROM li_mv")
    assert(!plan(distinct).contains("catalog_cube_"))
    // filtered MV rewrite: a WHERE on a GROUP column filters the stored
    // cube rows (constant within each group) and still never scans facts
    val filtered = cat.sql(
      """SELECT l_linestatus, count(*) AS n FROM li_mv
        |WHERE l_returnflag = 'A' GROUP BY l_linestatus""".stripMargin)
    assert(plan(filtered).contains("catalog_cube_"),
      s"a group-column WHERE must route; plan:\n${plan(filtered)}")
    assert(filtered.collect().map(_.toSeq).toSet ==
      Tables.load(spark, sf, "lineitem").filter(col("l_returnflag") === "A")
        .groupBy("l_linestatus").agg(count(lit(1)).as("n"))
        .collect().map(_.toSeq).toSet)
    // a WHERE touching a MEASURE column is NOT constant within a group:
    // refuse, answer from the live view
    val measureWhere = cat.sql(
      """SELECT l_linestatus, count(*) AS n FROM li_mv
        |WHERE l_quantity > 10 GROUP BY l_linestatus""".stripMargin)
    assert(!plan(measureWhere).contains("catalog_cube_"),
      "a measure-column WHERE must not route")
    assert(measureWhere.collect().map(_.toSeq).toSet ==
      Tables.load(spark, sf, "lineitem").filter(col("l_quantity") > 10)
        .groupBy("l_linestatus").agg(count(lit(1)).as("n"))
        .collect().map(_.toSeq).toSet)
    // HAVING sits ABOVE the aggregate in the analyzed plan — the cube
    // rewrite underneath is untouched by it
    val having = cat.sql(
      """SELECT l_returnflag, count(*) AS n FROM li_mv
        |GROUP BY l_returnflag HAVING count(*) > 1""".stripMargin)
    assert(plan(having).contains("catalog_cube_"),
      s"HAVING must not defeat the rewrite; plan:\n${plan(having)}")
    assert(having.collect().map(_.toSeq).toSet ==
      Tables.load(spark, sf, "lineitem").groupBy("l_returnflag")
        .agg(count(lit(1)).as("n")).filter(col("n") > 1)
        .collect().map(_.toSeq).toSet)
    // an edit invalidates: the canonical text falls back to the live view
    assert(cat.get("li_mv").get.setCell(0L, "l_quantity", "42"))
    assert(!plan(cat.sql(q)).contains("catalog_cube_"),
      "a stale cube must not serve SQL")
  }

  test("SQL count(DISTINCT) routes through the pairs layout; other shapes don't") {
    val cat = new Catalog(spark)
    cat.open("li_pr", s"$sf/lineitem.parquet",
      orderCols = Seq("l_orderkey", "l_linenumber"))
    cat.buildPairsLayout("li_pr", Seq("l_returnflag", "l_linestatus"),
      "l_partkey")
    val q = """SELECT l_returnflag, count(DISTINCT l_partkey) AS cd
              |FROM li_pr GROUP BY l_returnflag ORDER BY l_returnflag"""
      .stripMargin
    val routed = cat.sql(q)
    val p = plan(routed)
    assert(p.contains("catalog_pairs_"),
      s"a distinct count must re-distinct the stored pairs; plan:\n$p")
    assert(!p.contains("l_orderkey"),
      s"the routed SQL plan must never scan the fact table; plan:\n$p")
    assert(cat.recentRoutes.exists(r =>
      r.slot == "pairs:l_returnflag,l_linestatus:l_partkey" &&
        r.reason == "sql-routed"))
    val live = Tables.load(spark, sf, "lineitem")
      .groupBy("l_returnflag")
      .agg(count_distinct(col("l_partkey")).as("cd"))
      .orderBy("l_returnflag")
    assert(routed.collect().map(_.toSeq).toSeq ==
      live.collect().map(_.toSeq).toSeq)
    // subset rollup: the GLOBAL distinct count routes too
    val global = cat.sql(
      "SELECT count(DISTINCT l_partkey) AS cd FROM li_pr")
    assert(plan(global).contains("catalog_pairs_"),
      s"a global distinct must route; plan:\n${plan(global)}")
    assert(global.head().getLong(0) ==
      Tables.load(spark, sf, "lineitem")
        .agg(count_distinct(col("l_partkey"))).head().getLong(0))
    // a DISTINCT over a column the layout did not store must not route
    val other = cat.sql(
      "SELECT count(DISTINCT l_suppkey) AS cd FROM li_pr")
    assert(!plan(other).contains("catalog_pairs_"))
    // a MIXED aggregate (count(*) + distinct) can't be served by pairs
    // (row multiplicity is gone) — refuse, live view answers
    val mixed = cat.sql(
      """SELECT l_returnflag, count(*) AS n,
        |  count(DISTINCT l_partkey) AS cd
        |FROM li_pr GROUP BY l_returnflag""".stripMargin)
    assert(!plan(mixed).contains("catalog_pairs_"),
      "pairs must not serve an aggregate that needs row multiplicity")
    // filtered form: WHERE on a group column selects whole tuples
    val filtered = cat.sql(
      """SELECT l_linestatus, count(DISTINCT l_partkey) AS cd FROM li_pr
        |WHERE l_returnflag = 'A' GROUP BY l_linestatus""".stripMargin)
    assert(plan(filtered).contains("catalog_pairs_"),
      s"a group-column WHERE must route; plan:\n${plan(filtered)}")
    assert(filtered.collect().map(_.toSeq).toSet ==
      Tables.load(spark, sf, "lineitem")
        .filter(col("l_returnflag") === "A").groupBy("l_linestatus")
        .agg(count_distinct(col("l_partkey")).as("cd"))
        .collect().map(_.toSeq).toSet)
    // a WHERE on the COUNTED column filters inside tuples — refuse
    val pairWhere = cat.sql(
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS cd FROM li_pr
        |WHERE l_partkey > 100 GROUP BY l_returnflag""".stripMargin)
    assert(!plan(pairWhere).contains("catalog_pairs_"))
    // an edit invalidates: the text falls back to the live view
    assert(cat.get("li_pr").get.setCell(0L, "l_partkey", "1"))
    assert(!plan(cat.sql(q)).contains("catalog_pairs_"),
      "stale pairs must not serve SQL")
  }

  test("MIXED aggregate routes through cube ⋈ pairs when both layouts cover") {
    val cat = new Catalog(spark)
    cat.open("li_mx", s"$sf/lineitem.parquet",
      orderCols = Seq("l_orderkey", "l_linenumber"))
    cat.buildCubeLayout("li_mx", Seq("l_returnflag", "l_linestatus"),
      Seq("l_quantity"))
    cat.buildPairsLayout("li_mx", Seq("l_returnflag", "l_linestatus"),
      "l_partkey")
    val q = """SELECT l_returnflag, count(DISTINCT l_partkey) AS cd,
              |  count(*) AS n,
              |  CAST(sum(CAST(round(l_quantity, 6) AS DECIMAL(38,6)))
              |    AS DOUBLE) AS sum_qty
              |FROM li_mx GROUP BY l_returnflag ORDER BY l_returnflag"""
      .stripMargin
    val routed = cat.sql(q)
    val p = plan(routed)
    assert(p.contains("catalog_cube_") && p.contains("catalog_pairs_"),
      s"a mixed aggregate must scan BOTH layouts; plan:\n$p")
    assert(!p.contains("l_orderkey"),
      s"the mixed rewrite must never scan the fact table; plan:\n$p")
    assert(cat.recentRoutes.exists(r =>
      r.slot == "cube:l_returnflag,l_linestatus" && r.reason == "sql-routed"))
    assert(cat.recentRoutes.exists(r =>
      r.slot == "pairs:l_returnflag,l_linestatus:l_partkey" &&
        r.reason == "sql-routed"))
    val live = Tables.load(spark, sf, "lineitem")
      .groupBy("l_returnflag")
      .agg(count_distinct(col("l_partkey")).as("cd"),
        count(lit(1)).as("n"),
        sum(round(col("l_quantity"), 6).cast("decimal(38,6)"))
          .cast("double").as("sum_qty"))
      .orderBy("l_returnflag")
    assert(routed.collect().map(_.toSeq).toSeq ==
      live.collect().map(_.toSeq).toSeq)
    // GLOBAL mixed aggregate: both sides single-row, 1×1 join
    val global = cat.sql(
      """SELECT count(DISTINCT l_partkey) AS cd, count(*) AS n
        |FROM li_mx""".stripMargin)
    assert(plan(global).contains("catalog_cube_") &&
      plan(global).contains("catalog_pairs_"),
      s"a global mixed aggregate must route; plan:\n${plan(global)}")
    assert(global.collect().map(_.toSeq).toSeq ==
      Tables.load(spark, sf, "lineitem")
        .agg(count_distinct(col("l_partkey")).as("cd"),
          count(lit(1)).as("n")).collect().map(_.toSeq).toSeq)
    // filtered mixed: the group-column WHERE filters BOTH stored sides
    val filtered = cat.sql(
      """SELECT l_linestatus, count(DISTINCT l_partkey) AS cd,
        |  count(*) AS n FROM li_mx
        |WHERE l_returnflag = 'A' GROUP BY l_linestatus""".stripMargin)
    assert(plan(filtered).contains("catalog_cube_") &&
      plan(filtered).contains("catalog_pairs_"),
      s"the filtered mixed form must route; plan:\n${plan(filtered)}")
    assert(filtered.collect().map(_.toSeq).toSet ==
      Tables.load(spark, sf, "lineitem")
        .filter(col("l_returnflag") === "A").groupBy("l_linestatus")
        .agg(count_distinct(col("l_partkey")).as("cd"),
          count(lit(1)).as("n")).collect().map(_.toSeq).toSet)
    // HAVING sits above the aggregate — the mixed rewrite's final
    // project re-emits the original exprIds, so it must stay routed
    val having = cat.sql(
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS cd,
        |  count(*) AS n
        |FROM li_mx GROUP BY l_returnflag HAVING count(*) > 1""".stripMargin)
    assert(plan(having).contains("catalog_cube_") &&
      plan(having).contains("catalog_pairs_"),
      s"HAVING must not defeat the mixed rewrite; plan:\n${plan(having)}")
    assert(having.collect().map(_.toSeq).toSet ==
      Tables.load(spark, sf, "lineitem").groupBy("l_returnflag")
        .agg(count_distinct(col("l_partkey")).as("cd"),
          count(lit(1)).as("n")).filter(col("n") > 1)
        .collect().map(_.toSeq).toSet)
    // the join of the two group-count-sized sides must never sort-merge:
    // both inputs are aggregate outputs measured in groups, so the
    // physical join is a broadcast
    assert(plan(routed).contains("BroadcastHashJoin") ||
      plan(routed).contains("BroadcastNestedLoopJoin"),
      s"the group-sized join must broadcast; plan:\n${plan(routed)}")
    // a non-canonical sum poisons the cube side: the WHOLE mixed
    // aggregate falls back to the live view (never a half-rewrite)
    val nonCanon = cat.sql(
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS cd,
        |  sum(l_quantity) AS s
        |FROM li_mx GROUP BY l_returnflag""".stripMargin)
    assert(!plan(nonCanon).contains("catalog_cube_") &&
      !plan(nonCanon).contains("catalog_pairs_"),
      "a non-canonical leaf must refuse the mixed rewrite entirely")
    // an edit invalidates both layouts: the text plans against the live view
    assert(cat.get("li_mx").get.setCell(0L, "l_quantity", "42"))
    assert(!plan(cat.sql(q)).contains("catalog_cube_"),
      "stale layouts must not serve the mixed rewrite")
  }

  test("rectangle predicate in SQL text routes through the z-ordered layout") {
    val cat = new Catalog(spark)
    cat.open("li_z_sql", s"$sf/lineitem.parquet",
      orderCols = Seq("l_orderkey", "l_linenumber"))
    cat.buildZOrderedLayout("li_z_sql", Seq("l_extendedprice", "l_quantity"),
      files = 16)
    val q = """SELECT count(*) AS n FROM li_z_sql
              |WHERE l_extendedprice BETWEEN 1000.0 AND 5000.0
              |  AND l_quantity BETWEEN 10.0 AND 20.0""".stripMargin
    val routed = cat.sql(q)
    val p = plan(routed)
    assert(p.contains("catalog_zorder_"),
      s"a two-sided rectangle must read the z-ordered layout; plan:\n$p")
    assert(cat.recentRoutes.exists(r =>
      r.slot == "zorder:l_extendedprice,l_quantity" && r.reason == "sql-routed"))
    assert(routed.head().getLong(0) ==
      Tables.load(spark, sf, "lineitem")
        .filter(col("l_extendedprice").between(1000.0, 5000.0) &&
          col("l_quantity").between(10.0, 20.0)).count())
    // a predicate bounding only ONE of the two columns still answers
    // correctly (the 2-D route requires both; no ranged layout here, so
    // it planned live — routing never changes the answer)
    val oneSide = cat.sql(
      "SELECT count(*) AS n FROM li_z_sql WHERE l_quantity <= 20.0")
    assert(oneSide.head().getLong(0) ==
      Tables.load(spark, sf, "lineitem")
        .filter(col("l_quantity") <= 20.0).count())
  }

  test("percentile + group-column distinct/extrema route through a value-histogram cube") {
    val cat = new Catalog(spark)
    cat.open("li_vh", s"$sf/lineitem.parquet",
      orderCols = Seq("l_orderkey", "l_linenumber"))
    // a cube whose GROUP columns include the value column is a value-
    // level histogram: __cnt per (flag, quantity) cell
    cat.buildCubeLayout("li_vh", Seq("l_returnflag", "l_quantity"), Nil)
    val q = """SELECT l_returnflag,
              |  round(percentile(l_quantity, 0.5), 6) AS med,
              |  round(percentile(l_quantity, 0.9), 6) AS p90,
              |  count(DISTINCT l_quantity) AS cd,
              |  max(l_quantity) AS mx,
              |  count(l_quantity) AS nq
              |FROM li_vh GROUP BY l_returnflag ORDER BY l_returnflag"""
      .stripMargin
    val routed = cat.sql(q)
    val p = plan(routed)
    assert(p.contains("catalog_cube_"),
      s"percentile must read the stored histogram cells; plan:\n$p")
    assert(!p.contains("l_orderkey"),
      s"the histogram rewrite must never scan the fact table; plan:\n$p")
    // the rewritten percentile replays in the FREQUENCY form over the
    // stored cell counts — the counted multiset is identical to the
    // fact rows, so the order statistics are bit-equal
    assert("percentile\\(l_quantity#\\d+, 0\\.5, __cnt#".r
      .findFirstIn(p).isDefined,
      s"the routed percentile must carry __cnt as frequency; plan:\n$p")
    assert(cat.recentRoutes.exists(r =>
      r.slot == "cube:l_returnflag,l_quantity" && r.reason == "sql-routed"))
    val live = Tables.load(spark, sf, "lineitem")
      .groupBy("l_returnflag")
      .agg(round(expr("percentile(l_quantity, 0.5)"), 6).as("med"),
        round(expr("percentile(l_quantity, 0.9)"), 6).as("p90"),
        count_distinct(col("l_quantity")).as("cd"),
        max(col("l_quantity")).as("mx"),
        count(col("l_quantity")).as("nq"))
      .orderBy("l_returnflag")
    assert(routed.collect().map(_.toSeq).toSeq ==
      live.collect().map(_.toSeq).toSeq)
    // percentile of a MEASURE-only cube cannot route (order statistics
    // need the value-level cells, not partial sums)
    val cat2 = new Catalog(spark)
    cat2.open("li_vh2", s"$sf/lineitem.parquet",
      orderCols = Seq("l_orderkey", "l_linenumber"))
    cat2.buildCubeLayout("li_vh2", Seq("l_returnflag"), Seq("l_quantity"))
    assert(!plan(cat2.sql(
      """SELECT l_returnflag, round(percentile(l_quantity, 0.5), 6) AS med
        |FROM li_vh2 GROUP BY l_returnflag""".stripMargin))
      .contains("catalog_cube_"))
    // an edit invalidates: the text falls back to the live view
    assert(cat.get("li_vh").get.setCell(0L, "l_quantity", "1.0"))
    assert(!plan(cat.sql(q)).contains("catalog_cube_"),
      "a stale histogram cube must not serve SQL")
  }

  test("median sugar, ORDER BY/LIMIT heavy hitters, and HAVING compose over the routed aggregate") {
    val cat = new Catalog(spark)
    cat.open("li_cp", s"$sf/lineitem.parquet",
      orderCols = Seq("l_orderkey", "l_linenumber"))
    cat.buildCubeLayout("li_cp", Seq("l_returnflag", "l_quantity"), Nil)

    // median() is RuntimeReplaceable sugar — substituted in the
    // optimizer AFTER the routing rule, so the rewrite matches it raw
    val med = cat.sql(
      """SELECT l_returnflag, round(median(l_quantity), 6) AS med
        |FROM li_cp GROUP BY l_returnflag ORDER BY l_returnflag"""
        .stripMargin)
    val pm = plan(med)
    assert(pm.contains("catalog_cube_") && !pm.contains("l_orderkey"),
      s"median must replay over stored cells; plan:\n$pm")
    assert("percentile\\(l_quantity#\\d+, 0\\.5, __cnt#".r
      .findFirstIn(pm).isDefined, s"frequency-form expansion; plan:\n$pm")
    assert(med.collect().map(_.toSeq).toSeq ==
      Tables.load(spark, sf, "lineitem").groupBy("l_returnflag")
        .agg(round(expr("median(l_quantity)"), 6).as("med"))
        .orderBy("l_returnflag").collect().map(_.toSeq).toSeq)

    // heavy hitters: the sort ranks value-domain-sized stored cells
    val hh = cat.sql(
      """SELECT l_quantity, count(*) AS n FROM li_cp
        |GROUP BY l_quantity ORDER BY n DESC, l_quantity LIMIT 3"""
        .stripMargin)
    val ph = plan(hh)
    assert(ph.contains("catalog_cube_") && !ph.contains("l_orderkey"),
      s"heavy hitters must rank stored cells; plan:\n$ph")
    assert(ph.contains("TakeOrderedAndProject"),
      s"LIMIT over the rewrite must stay a top-k, never a global sort; plan:\n$ph")
    assert(hh.collect().map(_.toSeq).toSeq ==
      Tables.load(spark, sf, "lineitem").groupBy("l_quantity")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("l_quantity")).limit(3)
        .collect().map(_.toSeq).toSeq)

    // HAVING plants a Filter above the Aggregate; preserved exprIds keep
    // it resolved over the rewritten (group-count-sized) child
    val hv = cat.sql(
      """SELECT l_quantity, count(*) AS n FROM li_cp
        |GROUP BY l_quantity HAVING l_quantity <= 10.0
        |ORDER BY l_quantity""".stripMargin)
    assert(plan(hv).contains("catalog_cube_") &&
      !plan(hv).contains("l_orderkey"))
    assert(hv.collect().map(_.toSeq).toSeq ==
      Tables.load(spark, sf, "lineitem").groupBy("l_quantity")
        .agg(count(lit(1)).as("n"))
        .filter(col("l_quantity") <= 10.0)
        .orderBy("l_quantity").collect().map(_.toSeq).toSeq)

    // HAVING on an aggregate NOT in the SELECT list: the analyzer
    // appends the hidden leaf to the Aggregate and projects it away —
    // the hidden leaf must translate like any visible one
    val hvAgg = cat.sql(
      """SELECT l_returnflag, count(*) AS n FROM li_cp
        |GROUP BY l_returnflag
        |HAVING count(DISTINCT l_quantity) > 10
        |ORDER BY l_returnflag""".stripMargin)
    assert(plan(hvAgg).contains("catalog_cube_") &&
      !plan(hvAgg).contains("l_orderkey"),
      s"a hidden HAVING aggregate must route too; plan:\n${plan(hvAgg)}")
    assert(hvAgg.collect().map(_.toSeq).toSeq ==
      Tables.load(spark, sf, "lineitem").groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          count_distinct(col("l_quantity")).as("__cd"))
        .filter(col("__cd") > 10).drop("__cd")
        .orderBy("l_returnflag").collect().map(_.toSeq).toSeq)

    // the ARRAY percentage form routes too (foldable array literal)
    val arr = cat.sql(
      """SELECT l_returnflag,
        |  percentile(l_quantity, array(0.25, 0.5, 0.75)) AS qs
        |FROM li_cp GROUP BY l_returnflag ORDER BY l_returnflag"""
        .stripMargin)
    assert(plan(arr).contains("catalog_cube_") &&
      !plan(arr).contains("l_orderkey"),
      s"array-percentage percentile must route; plan:\n${plan(arr)}")
    assert(arr.collect().map(_.toSeq).toSeq ==
      Tables.load(spark, sf, "lineitem").groupBy("l_returnflag")
        .agg(expr("percentile(l_quantity, array(0.25, 0.5, 0.75))").as("qs"))
        .orderBy("l_returnflag").collect().map(_.toSeq).toSeq)
  }

  test("GROUPING SETS / ROLLUP / CUBE re-merge from the stored cube — no fact scan (r13)") {
    val cat = new Catalog(spark)
    cat.open("li_gs", s"$sf/lineitem.parquet",
      orderCols = Seq("l_orderkey", "l_linenumber"))
    cat.buildCubeLayout("li_gs", Seq("l_returnflag", "l_linestatus"),
      Seq("l_quantity"))
    Tables.load(spark, sf, "lineitem").createOrReplaceTempView("li_gs_raw")
    def bothWays(body: String): Unit = {
      val routed = cat.sql(body.replace("__T__", "li_gs"))
      val p = plan(routed)
      assert(p.contains("catalog_cube_"),
        s"the multi-set aggregate must re-merge stored partials; plan:\n$p")
      assert(!p.contains("l_orderkey"),
        s"the rewrite must never scan the fact table; plan:\n$p")
      val live = spark.sql(body.replace("__T__", "li_gs_raw"))
      assert(routed.collect().map(_.toSeq).toSeq ==
        live.collect().map(_.toSeq).toSeq,
        s"routed grouping-sets answer must equal live for:\n$body")
    }
    // explicit GROUPING SETS with grouping() indicators and a subset set
    bothWays(
      """SELECT coalesce(l_returnflag, '(all)') AS flag,
        |  coalesce(l_linestatus, '(all)') AS status,
        |  CAST(grouping(l_returnflag) AS INT) AS gf,
        |  CAST(grouping_id() AS INT) AS gid,
        |  count(*) AS n, count(l_quantity) AS nq,
        |  CAST(sum(CAST(round(l_quantity, 6) AS DECIMAL(38,6)))
        |    AS DOUBLE) AS qty,
        |  min(l_quantity) AS mn, max(l_quantity) AS mx
        |FROM __T__
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
        |  (l_returnflag), (l_linestatus), ())
        |ORDER BY gid, flag, status""".stripMargin)
    // ROLLUP and CUBE sugar take the same Expand shape
    bothWays(
      """SELECT l_returnflag, l_linestatus, count(*) AS n
        |FROM __T__ GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""
        .stripMargin)
    bothWays(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(round(l_quantity, 6) AS DECIMAL(38,6)))
        |    AS DOUBLE) AS qty
        |FROM __T__ GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""
        .stripMargin)
    // a WHERE on a group column filters the stored rows (constant within
    // each group), still no fact scan
    bothWays(
      """SELECT l_linestatus, CAST(grouping(l_linestatus) AS INT) AS gs,
        |  count(*) AS n
        |FROM __T__ WHERE l_returnflag = 'A'
        |GROUP BY ROLLUP (l_linestatus)
        |ORDER BY gs, l_linestatus""".stripMargin)
    // a leaf the cube can't serve (DISTINCT over a measure) declines the
    // WHOLE rewrite — live plan answers
    val decline = cat.sql(
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS cd
        |FROM li_gs GROUP BY ROLLUP (l_returnflag)""".stripMargin)
    assert(!plan(decline).contains("catalog_cube_"),
      "an untranslatable leaf must refuse the grouping-sets rewrite")
    assert(decline.collect().map(_.toSeq).toSet ==
      spark.sql(
        """SELECT l_returnflag, count(DISTINCT l_partkey) AS cd
          |FROM li_gs_raw GROUP BY ROLLUP (l_returnflag)""".stripMargin)
        .collect().map(_.toSeq).toSet)
    // an edit invalidates: the same text falls back to the live view
    assert(cat.get("li_gs").get.setCell(0L, "l_quantity", "42"))
    val stale = cat.sql(
      """SELECT l_returnflag, count(*) AS n
        |FROM li_gs GROUP BY ROLLUP (l_returnflag)""".stripMargin)
    assert(!plan(stale).contains("catalog_cube_"),
      "a stale cube must not serve grouping sets")
  }

  test("rewrite priority: the cube wins over a ranged route on the SAME filtered rollup; pruning stays the floor") {
    // the rule transforms top-DOWN so the aggregate rewrites are offered
    // before tryRanged can rewrite the Filter inside their subtree — a
    // bottom-up pass would prune fact FILES (MBs) where the cube serves
    // group-count-sized partials (KBs), silently losing the better plan
    val cat = new Catalog(spark)
    cat.open("li_pri", s"$sf/lineitem.parquet",
      orderCols = Seq("l_orderkey", "l_linenumber"))
    cat.buildCubeLayout("li_pri", Seq("l_returnflag", "l_linestatus"),
      Seq("l_quantity"))
    cat.buildRangedLayout("li_pri", "l_returnflag", files = 4)
    val q = """SELECT l_linestatus, count(*) AS n FROM li_pri
              |WHERE l_returnflag = 'A'
              |GROUP BY ROLLUP (l_linestatus)
              |ORDER BY l_linestatus NULLS FIRST""".stripMargin
    val routed = cat.sql(q)
    val p = plan(routed)
    assert(p.contains("catalog_cube_") && !p.contains("catalog_ranged") &&
      !p.contains("l_orderkey"),
      s"the cube must win the filtered rollup; plan:\n$p")
    assert(routed.collect().map(_.toSeq).toSeq ==
      Tables.load(spark, sf, "lineitem").filter(col("l_returnflag") === "A")
        .rollup("l_linestatus").agg(count(lit(1)).as("n"))
        .orderBy(col("l_linestatus").asc_nulls_first)
        .collect().map(_.toSeq).toSeq)
    // pruning is the FLOOR: a rollup the cube cannot serve (distinct
    // over a measure) falls through to the ranged route for the filter
    val floor = cat.sql(
      """SELECT l_linestatus, count(DISTINCT l_partkey) AS cd FROM li_pri
        |WHERE l_returnflag = 'A' GROUP BY ROLLUP (l_linestatus)"""
        .stripMargin)
    val pf = plan(floor)
    assert(!pf.contains("catalog_cube_") && pf.contains("catalog_ranged"),
      s"the declined rollup must still prune through the ranged " +
        s"layout; plan:\n$pf")
    assert(floor.collect().map(_.toSeq).toSet ==
      Tables.load(spark, sf, "lineitem").filter(col("l_returnflag") === "A")
        .rollup("l_linestatus")
        .agg(count_distinct(col("l_partkey")).as("cd"))
        .collect().map(_.toSeq).toSet)
  }

  test("the canonical avg quotient re-merges from cube partials (both leaves route)") {
    val cat = new Catalog(spark)
    cat.open("li_av", s"$sf/lineitem.parquet",
      orderCols = Seq("l_orderkey", "l_linenumber"))
    cat.buildCubeLayout("li_av", Seq("l_returnflag"), Seq("l_quantity"))
    val routed = cat.sql(
      """SELECT l_returnflag,
        |  round(CAST(sum(CAST(round(l_quantity, 6) AS DECIMAL(38,6)))
        |    AS DOUBLE) / count(l_quantity), 6) AS avg_qty
        |FROM li_av GROUP BY l_returnflag ORDER BY l_returnflag"""
        .stripMargin)
    val p = plan(routed)
    assert(p.contains("catalog_cube_") && !p.contains("l_orderkey"),
      s"both quotient leaves must re-merge from stored partials; plan:\n$p")
    val live = Tables.load(spark, sf, "lineitem")
      .groupBy("l_returnflag")
      .agg(round(sum(round(col("l_quantity"), 6).cast("decimal(38,6)"))
        .cast("double") / count(col("l_quantity")), 6).as("avg_qty"))
      .orderBy("l_returnflag")
    assert(routed.collect().map(_.toSeq).toSeq ==
      live.collect().map(_.toSeq).toSeq)
  }

  test("multi-distinct aggregate splits across cube and TWO pairs layouts (N-way join)") {
    val cat = new Catalog(spark)
    cat.open("li_md", s"$sf/lineitem.parquet",
      orderCols = Seq("l_orderkey", "l_linenumber"))
    cat.buildCubeLayout("li_md", Seq("l_returnflag", "l_linestatus"),
      Seq("l_extendedprice"))
    cat.buildPairsLayout("li_md", Seq("l_returnflag", "l_linestatus"),
      "l_partkey")
    cat.buildPairsLayout("li_md", Seq("l_returnflag", "l_linestatus"),
      "l_suppkey")
    val q = """SELECT l_returnflag,
              |  count(DISTINCT l_partkey) AS cdp,
              |  count(DISTINCT l_suppkey) AS cds,
              |  count(*) AS n,
              |  CAST(sum(CAST(round(l_extendedprice, 6) AS DECIMAL(38,6)))
              |    AS DOUBLE) AS sp
              |FROM li_md GROUP BY l_returnflag ORDER BY l_returnflag"""
      .stripMargin
    val routed = cat.sql(q)
    val p = plan(routed)
    assert(p.contains("catalog_cube_") && p.contains("catalog_pairs_"),
      s"the split must scan the cube and the pairs layouts; plan:\n$p")
    assert(!p.contains("l_orderkey"),
      s"the N-way split must never scan the fact table; plan:\n$p")
    // each distinct column re-distincts its OWN pairs layout
    assert(cat.recentRoutes.exists(r =>
      r.slot == "pairs:l_returnflag,l_linestatus:l_partkey" &&
        r.reason == "sql-routed"))
    assert(cat.recentRoutes.exists(r =>
      r.slot == "pairs:l_returnflag,l_linestatus:l_suppkey" &&
        r.reason == "sql-routed"))
    assert(cat.recentRoutes.exists(r =>
      r.slot == "cube:l_returnflag,l_linestatus" && r.reason == "sql-routed"))
    val live = Tables.load(spark, sf, "lineitem")
      .groupBy("l_returnflag")
      .agg(count_distinct(col("l_partkey")).as("cdp"),
        count_distinct(col("l_suppkey")).as("cds"),
        count(lit(1)).as("n"),
        sum(round(col("l_extendedprice"), 6).cast("decimal(38,6)"))
          .cast("double").as("sp"))
      .orderBy("l_returnflag")
    assert(routed.collect().map(_.toSeq).toSeq ==
      live.collect().map(_.toSeq).toSeq)
    // THREE KINDS in one split: percentile from a value-histogram cube,
    // the canonical sum from the measure cube, the DISTINCT from pairs
    cat.buildCubeLayout("li_md", Seq("l_returnflag", "l_quantity"), Nil)
    val threeKinds = cat.sql(
      """SELECT l_returnflag,
        |  round(percentile(l_quantity, 0.5), 6) AS med,
        |  count(DISTINCT l_partkey) AS cdp,
        |  CAST(sum(CAST(round(l_extendedprice, 6) AS DECIMAL(38,6)))
        |    AS DOUBLE) AS sp
        |FROM li_md GROUP BY l_returnflag ORDER BY l_returnflag"""
        .stripMargin)
    val p3 = plan(threeKinds)
    assert(!p3.contains("l_orderkey"),
      s"the three-kind split must never scan the fact table; plan:\n$p3")
    assert("percentile\\(l_quantity#\\d+, 0\\.5, __cnt#".r
      .findFirstIn(p3).isDefined, s"frequency-form percentile; plan:\n$p3")
    assert(cat.recentRoutes.exists(r =>
      r.slot == "cube:l_returnflag,l_quantity" && r.reason == "sql-routed"))
    assert(threeKinds.collect().map(_.toSeq).toSeq ==
      Tables.load(spark, sf, "lineitem")
        .groupBy("l_returnflag")
        .agg(round(expr("percentile(l_quantity, 0.5)"), 6).as("med"),
          count_distinct(col("l_partkey")).as("cdp"),
          sum(round(col("l_extendedprice"), 6).cast("decimal(38,6)"))
            .cast("double").as("sp"))
        .orderBy("l_returnflag").collect().map(_.toSeq).toSeq)

    // with one pairs layout missing, the unanswerable leaf refuses the
    // whole rewrite — the live plan serves (never a partial answer)
    val cat2 = new Catalog(spark)
    cat2.open("li_md2", s"$sf/lineitem.parquet",
      orderCols = Seq("l_orderkey", "l_linenumber"))
    cat2.buildCubeLayout("li_md2", Seq("l_returnflag"), Seq("l_extendedprice"))
    cat2.buildPairsLayout("li_md2", Seq("l_returnflag"), "l_partkey")
    val p2 = plan(cat2.sql(q.replace("li_md", "li_md2")))
    assert(!p2.contains("catalog_cube_") && !p2.contains("catalog_pairs_"),
      s"a leaf no layout serves must refuse the whole split; plan:\n$p2")
  }

  test("aggregate over a JOIN routes via eager aggregation onto the fact cube (r14)") {
    val cat = new Catalog(spark)
    cat.open("li_j", s"$sf/lineitem.parquet",
      orderCols = Seq("l_orderkey", "l_linenumber"))
    cat.open("sup_j", s"$sf/supplier.parquet", orderCols = Seq("s_suppkey"))
    cat.buildCubeLayout("li_j", Seq("l_suppkey", "l_returnflag"),
      Seq("l_quantity"))
    val q =
      """SELECT s_name, count(*) AS n,
        |  CAST(sum(CAST(round(l_quantity, 6) AS DECIMAL(38,6)))
        |    AS DOUBLE) AS qty
        |FROM li_j JOIN sup_j ON l_suppkey = s_suppkey
        |GROUP BY s_name ORDER BY s_name""".stripMargin
    val routed = cat.sql(q)
    val p = plan(routed)
    assert(p.contains("catalog_cube_"),
      s"the fact side of the join must collapse onto the cube; plan:\n$p")
    assert(!p.contains("l_orderkey"),
      s"the routed join plan must never scan the fact table; plan:\n$p")
    assert(cat.recentRoutes.exists(r =>
      r.slot == "cube:l_suppkey,l_returnflag" && r.reason == "sql-routed"))
    def live(dim: org.apache.spark.sql.DataFrame) =
      Tables.load(spark, sf, "lineitem")
        .join(dim, col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_name")
        .agg(count(lit(1)).as("n"),
          sum(round(col("l_quantity"), 6).cast("decimal(38,6)"))
            .cast("double").as("qty"))
        .orderBy("s_name")
    assert(routed.collect().map(_.toSeq).toSeq ==
      live(Tables.load(spark, sf, "supplier")).collect().map(_.toSeq).toSeq)

    // grouping by BOTH a dim attribute and a covered fact column routes;
    // a dim-side WHERE above the join transfers untouched
    val mixed = cat.sql(
      """SELECT s_name, l_returnflag, count(*) AS n
        |FROM li_j JOIN sup_j ON l_suppkey = s_suppkey
        |WHERE s_acctbal > 0 GROUP BY s_name, l_returnflag""".stripMargin)
    assert(plan(mixed).contains("catalog_cube_"),
      s"dim WHERE + mixed grouping must still route; plan:\n${plan(mixed)}")
    assert(mixed.collect().map(_.toSeq).toSet ==
      Tables.load(spark, sf, "lineitem")
        .join(Tables.load(spark, sf, "supplier")
          .filter(col("s_acctbal") > 0),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_name", "l_returnflag").agg(count(lit(1)).as("n"))
        .collect().map(_.toSeq).toSet)

    // EXACT under dim-side key duplication (no FK assumption): a dim
    // with every key twice must double counts on both paths identically
    val dup = Tables.load(spark, sf, "supplier")
    cat.openFrom("sup_dup", dup.unionByName(dup), orderCols = Seq("s_suppkey"))
    val dupRouted = cat.sql(q.replace("sup_j", "sup_dup"))
    assert(plan(dupRouted).contains("catalog_cube_"))
    assert(dupRouted.collect().map(_.toSeq).toSeq ==
      live(dup.unionByName(dup)).collect().map(_.toSeq).toSeq,
      "replicated partials must replay replicated fact rows verbatim")

    // a WHERE on a fact MEASURE cannot re-filter partials: no route
    val measureWhere = cat.sql(
      """SELECT s_name, count(*) AS n
        |FROM li_j JOIN sup_j ON l_suppkey = s_suppkey
        |WHERE l_quantity > 10 GROUP BY s_name""".stripMargin)
    assert(!plan(measureWhere).contains("catalog_cube_"),
      "a fact-measure WHERE must fall back to the live join")
    // an aggregate leaf on the DIM side has no stored partial: no route
    val dimAgg = cat.sql(
      """SELECT l_returnflag, CAST(sum(CAST(round(s_acctbal, 6)
        |  AS DECIMAL(38,6))) AS DOUBLE) AS bal
        |FROM li_j JOIN sup_j ON l_suppkey = s_suppkey
        |GROUP BY l_returnflag""".stripMargin)
    assert(!plan(dimAgg).contains("catalog_cube_"),
      "a dim-side measure must fall back to the live join")
    // a dim that carries its OWN unrelated cube must not block the
    // rewrite — the side owning the aggregate leaves wins (r14 join-mv
    // review finding #3)
    cat.buildCubeLayout("sup_j", Seq("s_nationkey"), Seq("s_acctbal"))
    val bothCubes = cat.sql(q)
    assert(plan(bothCubes).contains("catalog_cube_") &&
      !plan(bothCubes).contains("l_orderkey"),
      s"a dim-side cube must not block the fact rewrite; " +
        s"plan:\n${plan(bothCubes)}")
    assert(bothCubes.collect().map(_.toSeq).toSeq ==
      live(Tables.load(spark, sf, "supplier")).collect().map(_.toSeq).toSeq)

    // a WHERE subquery whose outer reference reaches the fact side
    // must DECLINE (the rewrite cannot remap OuterReference nodes
    // inside the subquery plan — r14 join-mv review finding #2) and
    // still answer correctly from the live join
    val subq = cat.sql(
      """SELECT s_name, count(*) AS n
        |FROM li_j JOIN sup_j ON l_suppkey = s_suppkey
        |WHERE EXISTS (SELECT 1 FROM sup_j s2
        |              WHERE s2.s_suppkey = l_suppkey)
        |GROUP BY s_name""".stripMargin)
    assert(!plan(subq).contains("catalog_cube_"),
      "a fact-correlated subquery must fall back to the live join")
    assert(subq.collect().map(_.toSeq).toSet ==
      Tables.load(spark, sf, "lineitem")
        .join(Tables.load(spark, sf, "supplier"),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_name").agg(count(lit(1)).as("n"))
        .collect().map(_.toSeq).toSet)

    // a fact edit invalidates: the same text falls back to the live join
    assert(cat.get("li_j").get.setCell(0L, "l_quantity", "42"))
    assert(!plan(cat.sql(q)).contains("catalog_cube_"),
      "a stale cube must not serve the join rewrite")
  }

  test("a derived-table alias SHADOWING a session name never routes — the subquery's own filter must survive (r14 star review finding #2, latent since r9)") {
    val cat = new Catalog(spark)
    cat.open("li_sh", s"$sf/lineitem.parquet",
      orderCols = Seq("l_orderkey", "l_linenumber"))
    cat.buildCubeLayout("li_sh", Seq("l_returnflag"), Seq("l_quantity"))
    // the outer alias shadows the session name but wraps a FILTERED
    // subquery — swapping it for the cube would drop the filter
    val q =
      """SELECT l_returnflag, count(*) AS n
        |FROM (SELECT * FROM li_sh WHERE l_quantity > 30) li_sh
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
    val got = cat.sql(q)
    assert(!plan(got).contains("catalog_cube_"),
      s"a shadowing alias must not route; plan:\n${plan(got)}")
    assert(got.collect().map(_.toSeq).toSeq ==
      Tables.load(spark, sf, "lineitem").filter(col("l_quantity") > 30)
        .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
        .orderBy("l_returnflag").collect().map(_.toSeq).toSeq)
    // while the bare name (a real view read) still routes
    val bare = cat.sql(
      """SELECT l_returnflag, count(*) AS n FROM li_sh
        |GROUP BY l_returnflag""".stripMargin)
    assert(plan(bare).contains("catalog_cube_"),
      s"an aliased genuine view read must still route; plan:\n${plan(bare)}")
  }

  test("a STAR join (fact x two dims) routes via the multi-key fact cube; outer joins decline") {
    val cat = new Catalog(spark)
    cat.open("li_s", s"$sf/lineitem.parquet",
      orderCols = Seq("l_orderkey", "l_linenumber"))
    cat.open("sup_s", s"$sf/supplier.parquet", orderCols = Seq("s_suppkey"))
    cat.open("part_s", s"$sf/part.parquet", orderCols = Seq("p_partkey"))
    cat.buildCubeLayout("li_s", Seq("l_suppkey", "l_partkey"),
      Seq("l_extendedprice"))
    val q =
      """SELECT s_name, p_brand, count(*) AS n,
        |  CAST(sum(CAST(round(l_extendedprice, 6) AS DECIMAL(38,6)))
        |    AS DOUBLE) AS rev
        |FROM li_s
        |JOIN sup_s ON l_suppkey = s_suppkey
        |JOIN part_s ON l_partkey = p_partkey
        |WHERE p_size <= 25
        |GROUP BY s_name, p_brand""".stripMargin
    val routed = cat.sql(q)
    val p = plan(routed)
    assert(p.contains("catalog_cube_") && !p.contains("l_orderkey"),
      s"the star spine must serve from the fact cube; plan:\n$p")
    val want = Tables.load(spark, sf, "lineitem")
      .join(Tables.load(spark, sf, "supplier"),
        col("l_suppkey") === col("s_suppkey"))
      .join(Tables.load(spark, sf, "part"),
        col("l_partkey") === col("p_partkey"))
      .filter(col("p_size") <= 25)
      .groupBy("s_name", "p_brand")
      .agg(count(lit(1)).as("n"),
        sum(round(col("l_extendedprice"), 6).cast("decimal(38,6)"))
          .cast("double").as("rev"))
      .collect().map(_.toSeq).toSet
    assert(routed.collect().map(_.toSeq).toSet == want)
    // an OUTER join on the SPINE path to the fact declines — replicated
    // partials do not replay null-extension of the fact
    val outer = cat.sql(
      """SELECT s_name, count(*) AS n
        |FROM li_s
        |LEFT JOIN sup_s ON l_suppkey = s_suppkey
        |GROUP BY s_name""".stripMargin)
    assert(!plan(outer).contains("catalog_cube_"),
      "an outer join must fall back to the live plan")

    // … but an outer join strictly BETWEEN DIMENSIONS (below the swap)
    // is an opaque leaf and routes fine (r14 star review finding #3)
    val dimOuter = cat.sql(
      """SELECT s_name, count(*) AS n,
        |  CAST(sum(CAST(round(l_extendedprice, 6) AS DECIMAL(38,6)))
        |    AS DOUBLE) AS rev
        |FROM sup_s LEFT JOIN part_s ON s_suppkey = p_partkey
        |JOIN li_s ON l_suppkey = s_suppkey
        |GROUP BY s_name""".stripMargin)
    assert(plan(dimOuter).contains("catalog_cube_") &&
      !plan(dimOuter).contains("l_orderkey"),
      s"a dim-side outer join must not block the fact swap; " +
        s"plan:\n${plan(dimOuter)}")
    assert(dimOuter.collect().map(_.toSeq).toSet ==
      Tables.load(spark, sf, "supplier")
        .join(Tables.load(spark, sf, "part"),
          col("s_suppkey") === col("p_partkey"), "left_outer")
        .join(Tables.load(spark, sf, "lineitem"),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_name")
        .agg(count(lit(1)).as("n"),
          sum(round(col("l_extendedprice"), 6).cast("decimal(38,6)"))
            .cast("double").as("rev"))
        .collect().map(_.toSeq).toSet)
  }

  test("the canonical avg quotient re-merges THROUGH a join; per-dim averages exact under replication") {
    val cat = new Catalog(spark)
    cat.open("li_ja", s"$sf/lineitem.parquet",
      orderCols = Seq("l_orderkey", "l_linenumber"))
    cat.open("sup_ja", s"$sf/supplier.parquet", orderCols = Seq("s_suppkey"))
    cat.buildCubeLayout("li_ja", Seq("l_suppkey"), Seq("l_quantity"))
    val routed = cat.sql(
      """SELECT s_name,
        |  round(CAST(sum(CAST(round(l_quantity, 6) AS DECIMAL(38,6)))
        |    AS DOUBLE) / count(l_quantity), 6) AS avg_qty
        |FROM li_ja JOIN sup_ja ON l_suppkey = s_suppkey
        |GROUP BY s_name ORDER BY s_name""".stripMargin)
    val p = plan(routed)
    assert(p.contains("catalog_cube_") && !p.contains("l_orderkey"),
      s"both quotient leaves must re-merge through the join; plan:\n$p")
    val live = Tables.load(spark, sf, "lineitem")
      .join(Tables.load(spark, sf, "supplier"),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy("s_name")
      .agg(round(sum(round(col("l_quantity"), 6).cast("decimal(38,6)"))
        .cast("double") / count(col("l_quantity")), 6).as("avg_qty"))
      .orderBy("s_name")
    assert(routed.collect().map(_.toSeq).toSeq ==
      live.collect().map(_.toSeq).toSeq)
  }

  test("count(DISTINCT) re-distincts stored pairs THROUGH a join — exact under replication") {
    val cat = new Catalog(spark)
    cat.open("li_jp", s"$sf/lineitem.parquet",
      orderCols = Seq("l_orderkey", "l_linenumber"))
    cat.open("sup_jp", s"$sf/supplier.parquet", orderCols = Seq("s_suppkey"))
    cat.buildPairsLayout("li_jp", Seq("l_suppkey"), "l_partkey")
    val q =
      """SELECT s_name, count(DISTINCT l_partkey) AS parts
        |FROM li_jp JOIN sup_jp ON l_suppkey = s_suppkey
        |GROUP BY s_name ORDER BY s_name""".stripMargin
    val routed = cat.sql(q)
    val p = plan(routed)
    assert(p.contains("catalog_pairs_") && !p.contains("l_orderkey"),
      s"the distinct must re-distinct the stored pairs through the " +
        s"join; plan:\n$p")
    def live(dim: org.apache.spark.sql.DataFrame) =
      Tables.load(spark, sf, "lineitem")
        .join(dim, col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_name")
        .agg(countDistinct(col("l_partkey")).as("parts"))
        .orderBy("s_name").collect().map(_.toSeq).toSeq
    assert(routed.collect().map(_.toSeq).toSeq ==
      live(Tables.load(spark, sf, "supplier")))
    // duplicated dim keys never change a group's distinct set
    val dup = Tables.load(spark, sf, "supplier")
    cat.openFrom("sup_jpd", dup.unionByName(dup),
      orderCols = Seq("s_suppkey"))
    val dupRouted = cat.sql(q.replace("sup_jp", "sup_jpd"))
    assert(plan(dupRouted).contains("catalog_pairs_"))
    assert(dupRouted.collect().map(_.toSeq).toSeq ==
      live(dup.unionByName(dup)))
    // a mixed count(*) + distinct through the join has no single-layout
    // translation: falls back to the live join
    val mixed = cat.sql(
      """SELECT s_name, count(*) AS n, count(DISTINCT l_partkey) AS parts
        |FROM li_jp JOIN sup_jp ON l_suppkey = s_suppkey
        |GROUP BY s_name""".stripMargin)
    assert(!plan(mixed).contains("catalog_pairs_") &&
      !plan(mixed).contains("catalog_cube_"),
      "a mixed distinct+count join aggregate must serve live")
  }

  test("a fact session whose OWN plan holds an internal join still swaps for the cube (r14 star review finding #1)") {
    val cat = new Catalog(spark)
    cat.open("li_ij", s"$sf/lineitem.parquet",
      orderCols = Seq("l_orderkey", "l_linenumber"))
    cat.open("sup_ij", s"$sf/supplier.parquet", orderCols = Seq("s_suppkey"))
    val s = cat.get("li_ij").get
    // push the edit log past literalEditMax: the session plan now folds
    // through a broadcast JOIN whose condition the old blanket
    // transformUp would remap, rebuilding the alias and missing the
    // identity-keyed leaf swap
    assert(s.setCells("l_quantity", (0L until 40L).map(p => p -> "7.0")))
    cat.buildCubeLayout("li_ij", Seq("l_suppkey"), Seq("l_quantity"))
    val q =
      """SELECT s_name, count(*) AS n,
        |  CAST(sum(CAST(round(l_quantity, 6) AS DECIMAL(38,6)))
        |    AS DOUBLE) AS qty
        |FROM li_ij JOIN sup_ij ON l_suppkey = s_suppkey
        |GROUP BY s_name""".stripMargin
    val routed = cat.sql(q)
    assert(plan(routed).contains("catalog_cube_") &&
      !plan(routed).contains("l_orderkey"),
      s"the internal-join fact must still serve from its cube; " +
        s"plan:\n${plan(routed)}")
    assert(routed.collect().map(_.toSeq).toSet ==
      Positional.strip(s.current)
        .join(Tables.load(spark, sf, "supplier"),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_name")
        .agg(count(lit(1)).as("n"),
          sum(round(col("l_quantity"), 6).cast("decimal(38,6)"))
            .cast("double").as("qty"))
        .collect().map(_.toSeq).toSet)
  }
}
