package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Analytical query surface beyond the reference's parity set: joins,
  * multi-way star joins, window functions — the OLAP shapes a user of a
  * general engine expects (readme.md:9's "group-based operations" taken
  * seriously at scale).
  *
  * Scale commitments visible in each plan:
  *  - dimension tables (region/nation/customer at TPC-H ratios) are
  *    broadcast — no shuffle of the fact table for the join;
  *  - fact-fact joins shuffle on the join key once and reuse it for the
  *    following aggregation where possible;
  *  - window functions partition by their group key (never a global
  *    unpartitioned window).
  */
object AnalyticsQueries {

  /** a26's measure set and its upper-triangle pairs — one definition
    * drives both the Spark aggregate and the generated oracle SQL, so the
    * two sides cannot drift on which moments exist.
    */
  private val corrMatrixCols =
    Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
  private val corrMatrixPairs: Seq[(String, String)] =
    for {
      (a, i) <- corrMatrixCols.zipWithIndex
      b <- corrMatrixCols.drop(i + 1)
    } yield (a, b)

  /** Oracle twin of a26_corr_matrix: the same single moment aggregate and
    * closed form, unrolled per pair (generated, like the LR CTEs).
    */
  private def corrMatrixSql: String = {
    val ms = corrMatrixCols
    val moments =
      (ms.map(c => s"sum(CAST($c AS DECIMAL(18,4))) AS s_$c") ++
        ms.map(c => s"sum(CAST($c * $c AS DECIMAL(28,4))) AS q_$c") ++
        corrMatrixPairs.map { case (a, b) =>
          s"sum(CAST($a * $b AS DECIMAL(28,4))) AS p_${a}_$b" })
        .mkString(",\n|    ")
    def d(c: String) = s"CAST($c AS DOUBLE)"
    val rows = corrMatrixPairs.map { case (a, b) =>
      s"""SELECT '$a' AS var_x, '$b' AS var_y,
         |  round((${d("n")} * ${d(s"p_${a}_$b")} - ${d(s"s_$a")} * ${d(s"s_$b")}) /
         |    sqrt((${d("n")} * ${d(s"q_$a")} - ${d(s"s_$a")} * ${d(s"s_$a")}) *
         |      (${d("n")} * ${d(s"q_$b")} - ${d(s"s_$b")} * ${d(s"s_$b")})), 6)
         |    AS corr FROM m"""
    }.mkString("\n|UNION ALL\n|")
    s"""WITH m AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |    $moments
       |  FROM lineitem)
       |$rows
       |ORDER BY var_x, var_y""".stripMargin
  }

  /** Shared catalog of the three cube-routed queries (r9): one session
    * over lineitem's cube columns plus ONE materialized aggregate cube
    * on (l_returnflag, l_linestatus) × (l_quantity, l_extendedprice).
    * Memoized per (SparkSession, sfDir) via [[SessionScoped]] — the
    * build runs once, every routed query reads group-count-sized stored
    * partials.
    */
  /** The as-of scale pair's probe batch: the 1000 earliest purchases,
    * MATERIALIZED once per (session, dir) — a feature-store probe batch
    * arrives materialized (it IS the incoming request batch), so neither
    * twin should re-pay the purchases sort per measurement, and the
    * routed twin's envelope aggregate must cost a 1000-row scan, not a
    * corpus sort. Copy 0 of a ScaleGen inflation keeps the original ids,
    * so this batch is identical across scales.
    */
  private def asofProbe(s: SparkSession, dir: String): DataFrame =
    SessionScoped.memo(s, s"asofProbe:$dir") {
      Tables.loadEvents(s, dir)
        .filter(col("event_type") === "purchase")
        .select("user_id", "ts", "event_id")
        .orderBy("event_id").limit(1000)
        .localCheckpoint(true)
    }

  private def cubeCatalog(s: SparkSession, dir: String): graft.core.Catalog =
    SessionScoped.memo(s, s"cubeCatalog:$dir") {
      val c = new graft.core.Catalog(s)
      c.openFrom("li_cube",
        Tables.load(s, dir, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
            "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice"),
        Seq("l_orderkey", "l_linenumber"))
      c.buildCubeLayout("li_cube", Seq("l_returnflag", "l_linestatus"),
        Seq("l_quantity", "l_extendedprice"))
      c.buildPairsLayout("li_cube", Seq("l_returnflag", "l_linestatus"),
        "l_partkey")
      // a cube whose GROUP columns include the value column is a value-
      // level histogram: it serves ORDER statistics (percentile/median),
      // count(DISTINCT value) and extrema exactly, not just sums —
      // l_quantity's domain is bounded (integral 1..50), the shape this
      // layout kind is for
      c.buildCubeLayout("li_cube", Seq("l_returnflag", "l_quantity"), Nil)
      // a second pairs column makes multi-distinct aggregates split
      // across THREE layouts (cube ⋈ pairs ⋈ pairs)
      c.buildPairsLayout("li_cube", Seq("l_returnflag", "l_linestatus"),
        "l_suppkey")
      c
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    /** Broadcast dim join: revenue per market segment. */
    "j_broadcast" -> ((s, dir) => {
      val orders = Tables.load(s, dir, "orders")
      val cust = Tables.load(s, dir, "customer")
      orders.join(broadcast(cust), orders("o_custkey") === cust("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("revenue"), count(lit(1)).as("n_orders"))
        .orderBy("c_mktsegment")
    }),

    /** 3-way star join: fact lineitem ⋈ orders (shuffle on orderkey) with
      * customer+nation broadcast; revenue per nation.
      */
    "j_star" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val orders = Tables.load(s, dir, "orders")
      val cust = Tables.load(s, dir, "customer")
      val nation = Tables.load(s, dir, "nation")
      li.join(orders, li("l_orderkey") === orders("o_orderkey"))
        .join(broadcast(cust), orders("o_custkey") === cust("c_custkey"))
        .join(broadcast(nation), cust("c_nationkey") === nation("n_nationkey"))
        .groupBy("n_name")
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)")).cast("double").as("revenue"))
        .orderBy("n_name")
    }),

    /** Winsorized robust stats per group: clip at the exact p05/p95
      * percentiles (a4's cross-engine percentile idiom, 4dp), then count
      * the clipped tails and average the clipped values. The clip and the
      * mean run in decimal so the aggregate is order-independent; the
      * 3-row bounds relation broadcasts into a second fact pass — same
      * two-pass shape as the MAD query.
      */
    "a14_winsorize" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      // bounds via the RankStats crossing walk (no Percentile aggregate —
      // prices are a continuous domain; see a4_percentile)
      val bounds = graft.operators.RankStats.exactPercentiles(li,
          col("l_extendedprice"), Seq("l_returnflag"),
          Seq("p05" -> 0.05, "p95" -> 0.95))
        .select(col("l_returnflag"),
          round(col("p05"), 4).cast("decimal(18,4)").as("p05"),
          round(col("p95"), 4).cast("decimal(18,4)").as("p95"))
      li.join(broadcast(bounds), "l_returnflag")
        .select(col("l_returnflag"),
          col("l_extendedprice").cast("decimal(18,4)").as("x"),
          col("p05"), col("p95"))
        .groupBy("l_returnflag", "p05", "p95")
        .agg(count(lit(1)).as("n"),
          sum(when(col("x") < col("p05"), 1).otherwise(0)).as("n_clip_low"),
          sum(when(col("x") > col("p95"), 1).otherwise(0)).as("n_clip_high"),
          round(sum(least(greatest(col("x"), col("p05")), col("p95")))
            .cast("double") / count(lit(1)), 6).as("wins_mean"))
        .select(col("l_returnflag"), col("n"),
          col("n_clip_low"), col("n_clip_high"),
          col("p05").cast("double").as("p05"),
          col("p95").cast("double").as("p95"), col("wins_mean"))
        .orderBy("l_returnflag")
    }),

    /** Grouped OLS regression (y = l_extendedprice on x = l_quantity) from
      * closed-form decimal moment sums: one partial+final hash aggregate
      * collects (n, Σx, Σy, Σxy, Σxx) exactly, then slope/intercept are a
      * per-group scalar projection. Exact sums → the double arithmetic is
      * one deterministic expression tree, same on any engine or
      * partitioning — the distributed-regression shape that needs no
      * second pass over the data.
      */
    "a15_regression" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val m = li.select(col("l_returnflag"),
          col("l_quantity").cast("decimal(18,4)").as("x"),
          col("l_extendedprice").cast("decimal(18,4)").as("y"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
      val nD = col("n").cast("double"); val sx = col("sx").cast("double")
      val sy = col("sy").cast("double"); val sxy = col("sxy").cast("double")
      val sxx = col("sxx").cast("double")
      val slope = (nD * sxy - sx * sy) / (nD * sxx - sx * sx)
      m.select(col("l_returnflag"), col("n"),
          round(slope, 6).as("slope"),
          round((sy - slope * sx) / nD, 6).as("intercept"))
        .orderBy("l_returnflag")
    }),

    /** Welch's two-sample t-test (unequal variances): does mean price
      * differ between returned ('R') and accepted ('A') lineitems? Two
      * decimal-moment aggregates cross-attach as 1-row scalars; t and the
      * Welch–Satterthwaite df evaluate in closed form, operation order
      * mirrored by the oracle so every intermediate double is identical.
      */
    "a24_ttest" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
        .filter(col("l_returnflag").isin("A", "R"))
      val x = col("l_extendedprice")
      val m = li.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(x.cast("decimal(18,2)")).as("sx"),
          sum((x * x).cast("decimal(28,4)")).as("sxx"))
      def side(f: String, tag: String) =
        m.filter(col("l_returnflag") === f).select(
          col("n").as(s"n_$tag"), col("sx").cast("double").as(s"sx_$tag"),
          col("sxx").cast("double").as(s"sxx_$tag"))
      def mean(t: String) = col(s"sx_$t") / col(s"n_$t")
      // sample variance over n-1 from the raw moments
      def v(t: String) = (col(s"sxx_$t") -
        col(s"sx_$t") * col(s"sx_$t") / col(s"n_$t")) / (col(s"n_$t") - 1)
      def vn(t: String) = v(t) / col(s"n_$t")
      side("A", "a").crossJoin(broadcast(side("R", "r"))).select(
        col("n_a"), col("n_r"),
        round(mean("a"), 4).as("mean_a"), round(mean("r"), 4).as("mean_r"),
        round((mean("a") - mean("r")) / sqrt(vn("a") + vn("r")), 6).as("t"),
        round((vn("a") + vn("r")) * (vn("a") + vn("r")) /
          (vn("a") * vn("a") / (col("n_a") - 1) +
           vn("r") * vn("r") / (col("n_r") - 1)), 4).as("df"))
    }),

    /** Two-sample Kolmogorov–Smirnov drift statistic (a24's nonparametric
      * sibling): D = max over bin edges of |F_A − F_R| between returned
      * and accepted price distributions, computed on the same 256-bin
      * dyadic histogram sketch as a21 — ONE fixed-width hash aggregate
      * (≤256 cells however large the fact table) and a bounded cumulative
      * walk, so the distribution-drift check that guards a daily ingest
      * never sorts or shuffles data-sized state. Binned D is exact for the
      * binned distributions and within one bin's mass of the raw-sample D
      * (the distribution-free sketch bound, as with a21's quantiles).
      * Output: group sizes, D (6dp), and the first bin edge achieving it.
      */
    "a25_ks_drift" -> ((s, dir) =>
      graft.operators.RankStats.ksBinned(Tables.load(s, dir, "lineitem"),
          "l_extendedprice", isA = col("l_returnflag") === "A",
          isB = col("l_returnflag") === "R", w = 131072.0 / 256, bins = 256)
        .withColumnRenamed("n_b", "n_r")),

    /** Full correlation matrix of the lineitem measures in ONE aggregate
      * pass: every pairwise Pearson correlation needs only the shared
      * moment sums (n, Σx, Σx², Σxy), so all 4 + 4 + 6 sums ride one
      * map-side-combined aggregate — at 100 TB that is one scan and one
      * 1-row exchange, where calling corr() per pair would scan the fact
      * table 6 times. Moments go through decimal (the measures carry ≤2dp,
      * so products are ≤4dp-exact — a24's convention); the closed form
      * evaluates per pair on the 1-row result, fanned out to 6 rows by an
      * explode of literal structs.
      */
    "a26_corr_matrix" -> ((s, dir) => {
      val ms = corrMatrixCols
      val pairs = corrMatrixPairs
      val li = Tables.load(s, dir, "lineitem")
      val aggs =
        ms.map(c => sum(col(c).cast("decimal(18,4)")).as(s"s_$c")) ++
        ms.map(c => sum((col(c) * col(c)).cast("decimal(28,4)")).as(s"q_$c")) ++
        pairs.map { case (a, b) =>
          sum((col(a) * col(b)).cast("decimal(28,4)")).as(s"p_${a}_$b") }
      val m = li.agg(count(lit(1)).as("n"), aggs: _*)
      def d(c: String) = col(c).cast("double")
      val rows = pairs.map { case (a, b) =>
        struct(lit(a).as("var_x"), lit(b).as("var_y"),
          round((d("n") * d(s"p_${a}_$b") - d(s"s_$a") * d(s"s_$b")) /
            sqrt((d("n") * d(s"q_$a") - d(s"s_$a") * d(s"s_$a")) *
              (d("n") * d(s"q_$b") - d(s"s_$b") * d(s"s_$b"))), 6)
            .as("corr"))
      }
      m.select(explode(array(rows: _*)).as("r"))
        .select(col("r.var_x").as("var_x"), col("r.var_y").as("var_y"),
          col("r.corr").as("corr"))
        .orderBy("var_x", "var_y")
    }),

    /** TPC-H Q7 shape (volume shipping): revenue between every (supplier
      * nation, customer nation) pair over the 1995–1996 window. The
      * supply and demand nations arrive through DIFFERENT dimension
      * chains (lineitem→supplier vs lineitem→orders→customer), so the
      * plan is the canonical two-branch star: one fact-fact exchange on
      * the orderkey, every dimension broadcast, decimal revenue sums.
      */
    "q7_nations_volume" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      val sup = Tables.load(s, dir, "supplier")
      val orders = Tables.load(s, dir, "orders")
      val cust = Tables.load(s, dir, "customer")
      val nation = Tables.load(s, dir, "nation")
      val n1 = nation.select(col("n_nationkey").as("sk"),
        col("n_name").as("supp_nation"))
      val n2 = nation.select(col("n_nationkey").as("ck"),
        col("n_name").as("cust_nation"))
      li.join(broadcast(sup), li("l_suppkey") === sup("s_suppkey"))
        .join(orders, li("l_orderkey") === orders("o_orderkey"))
        .join(broadcast(cust), orders("o_custkey") === cust("c_custkey"))
        .join(broadcast(n1), col("s_nationkey") === col("sk"))
        .join(broadcast(n2), col("c_nationkey") === col("ck"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)")).cast("double").as("revenue"))
        .withColumn("revenue", round(col("revenue"), 4))
        .orderBy("supp_nation", "cust_nation", "l_year")
    }),

    /** TPC-H Q14 shape (promotion effect): the ECONOMY-type share of
      * revenue for one ship month — CASE'd conditional revenue over ONE
      * fact pass with the part dimension broadcast; both sums decimal.
      */
    "q14_promo" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1995-09-01").cast("timestamp") &&
          col("l_shipdate") < lit("1995-10-01").cast("timestamp"))
      val part = Tables.load(s, dir, "part")
      val rev = (col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(18,4)")
      li.join(broadcast(part), li("l_partkey") === part("p_partkey"))
        .groupBy()
        .agg(sum(when(col("p_type") === "ECONOMY", rev)
            .otherwise(lit(0).cast("decimal(18,4)"))).as("promo"),
          sum(rev).as("total"))
        .select(round(lit(100.0) * col("promo").cast("double") /
          col("total").cast("double"), 6).as("promo_revenue_pct"))
    }),

    /** TPC-H Q8 shape (national market share): one supplier nation's
      * share of STANDARD-part revenue delivered into one region, by
      * order year. The deepest dimension chain in the suite — SEVEN
      * tables, but only ONE fact-fact exchange (lineitem⋈orders on the
      * orderkey): part/supplier/customer/nation×2/region all broadcast,
      * and the part filter lands map-side BEFORE the exchange, so the
      * shuffled volume is the STANDARD slice, not the fact table. The
      * share is a conditional/total decimal sum pair in the same
      * aggregate — never two passes.
      */
    "q8_market_share" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val part = Tables.load(s, dir, "part")
        .filter(col("p_type") === "STANDARD")
      val orders = Tables.load(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      val cust = Tables.load(s, dir, "customer")
      val sup = Tables.load(s, dir, "supplier")
      val nation = Tables.load(s, dir, "nation")
      val region = Tables.load(s, dir, "region")
      val n1 = nation.select(col("n_nationkey").as("ck"),
        col("n_regionkey").as("crk"))
      val n2 = nation.select(col("n_nationkey").as("sk"),
        col("n_name").as("supp_nation"))
      val rev = (col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(18,4)")
      li.join(broadcast(part), li("l_partkey") === part("p_partkey"))
        .join(orders, li("l_orderkey") === orders("o_orderkey"))
        .join(broadcast(cust), orders("o_custkey") === cust("c_custkey"))
        .join(broadcast(n1), col("c_nationkey") === col("ck"))
        .join(broadcast(region.filter(col("r_name") === "EUROPE")),
          col("crk") === col("r_regionkey"))
        .join(broadcast(sup), li("l_suppkey") === sup("s_suppkey"))
        .join(broadcast(n2), col("s_nationkey") === col("sk"))
        .groupBy(year(col("o_orderdate")).cast("int").as("o_year"))
        .agg(
          sum(when(col("supp_nation") === "NATION_18", rev)
            .otherwise(lit(0).cast("decimal(18,4)"))).as("nat"),
          sum(rev).as("tot"))
        .select(col("o_year"),
          round(col("nat").cast("double") / col("tot").cast("double"), 6)
            .as("mkt_share"))
        .orderBy("o_year")
    }),

    /** TPC-H Q12 shape, adapted: the driver's lineitem carries no
      * shipmode/commitdate/receiptdate columns, so the Q12 lateness
      * predicate becomes ship-lag (l_shipdate − o_orderdate > 60 days)
      * and the grouping key the order priority — same plan skeleton as
      * the real Q12: one fact-fact join on the orderkey, conditional
      * counts folded into a single aggregate (never a
      * count-filter-count double pass).
      */
    "q12_ship_delay" -> ((s, dir) => {
      val orders = Tables.load(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      val li = Tables.load(s, dir, "lineitem")
      val late = col("l_shipdate") >
        col("o_orderdate") + expr("INTERVAL 60 DAYS")
      orders.join(li, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(sum(when(late, 1L).otherwise(0L)).as("late_count"),
          sum(when(late, 0L).otherwise(1L)).as("ontime_count"))
        .orderBy("o_orderpriority")
    }),

    /** TPC-H Q13 shape (customer order-count distribution), adapted:
      * the driver's orders has no o_comment, so the excluded slice is
      * keyed on o_orderstatus instead — the structural point survives
      * intact: a LEFT OUTER join whose filter lives in the JOIN
      * CONDITION (a WHERE would silently turn it inner and drop the
      * zero-order customers the query exists to count), then two
      * stacked aggregates. Both group keys are customer-cardinality,
      * so at 100 TB each exchange carries keys, never order rows.
      */
    "q13_cust_distribution" -> ((s, dir) => {
      val cust = Tables.load(s, dir, "customer")
      val orders = Tables.load(s, dir, "orders")
      cust.join(orders,
          cust("c_custkey") === orders("o_custkey") &&
            orders("o_orderstatus") =!= "F",
          "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }),

    /** TPC-H Q15 shape (top supplier): quarterly revenue per supplier,
      * then the argmax via a scalar subquery over the same derived
      * relation. The revenue CTE is supplier-cardinality (tiny), so the
      * max is a 1-row broadcast back onto it — Catalyst plans the
      * scalar subquery as an independent subplan, NOT a per-row
      * re-execution; the fact table is scanned once per occurrence of
      * the CTE. Revenue stays decimal through BOTH the per-supplier sum
      * and the max-equality test (exact tie semantics, engine-portable
      * — a double round-trip here could drop or duplicate the winner),
      * and casts to double only for display.
      */
    "q15_top_supplier" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      val sup = Tables.load(s, dir, "supplier")
      val revenue = li.groupBy(col("l_suppkey").as("supplier_no"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)")).as("total_revenue"))
      val top = revenue.agg(max(col("total_revenue")).as("m"))
      sup.join(revenue, col("s_suppkey") === col("supplier_no"))
        .join(broadcast(top), col("total_revenue") === col("m"))
        .select(col("s_suppkey"), col("s_name"),
          round(col("total_revenue").cast("double"), 4).as("total_revenue"))
        .orderBy("s_suppkey")
    }),

    /** Lag-k autocorrelation of the weekly revenue series (ACF at lags
      * 1, 2, 4, 13, 52) — the is-there-structure screen read before any
      * forecast: r_k = Σ(x_t−x̄)(x_{t+k}−x̄) / Σ(x_t−x̄)². The fact table
      * collapses to weekly decimal sums once; each lag is a self-join of
      * the bounded weekly relation on week arithmetic (Monday weeks make
      * the 7-day stride exact), and the centered products fold in week
      * order (the chisq discipline — double addition is order-sensitive).
      */
    "e_autocorr" -> ((s, dir) => {
      val wk = Tables.load(s, dir, "orders")
        .groupBy(date_trunc("week", col("o_orderdate")).as("week"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)"))
          .cast("double").as("x"))
      val tot = wk.groupBy().agg(count(lit(1)).as("n"),
        sum(col("x").cast("decimal(18,2)")).cast("double").as("sx"))
      val lags = Seq(1, 2, 4, 13, 52)
      val a = wk.crossJoin(broadcast(tot))
        .select(col("week"), col("x"),
          (col("sx") / col("n").cast("double")).as("xbar"))
      def fold(cs: org.apache.spark.sql.Column) =
        aggregate(sort_array(cs), lit(0.0), (acc, x) => acc + x.getField("c"))
      val denom = a.groupBy()
        .agg(fold(collect_list(struct(col("week"),
          ((col("x") - col("xbar")) * (col("x") - col("xbar"))).as("c"))))
          .as("ss"))
      val b = a.select(col("week").as("wk2"), col("x").as("x2"))
      val nums = lags.map { k =>
        a.join(b, col("wk2") === col("week") + expr(s"INTERVAL ${7 * k} DAYS"))
          .groupBy()
          .agg(fold(collect_list(struct(col("week"),
            ((col("x") - col("xbar")) * (col("x2") - col("xbar"))).as("c"))))
            .as("num"), count(lit(1)).as("n_pairs"))
          .select(lit(k).as("lag"), col("n_pairs"), col("num"))
      }.reduce(_ unionByName _)
      nums.crossJoin(broadcast(denom))
        .select(col("lag"), col("n_pairs"),
          round(col("num") / col("ss"), 6).as("acf"))
        .orderBy("lag")
    }),

    /** Moving MEDIAN — the robust smoother a mean-based moving average
      * can't be (one outlier day drags a mean for a week; the median
      * shrugs): per returnflag, the 7-row trailing median of daily
      * revenue. No median-over-frame builtin exists, so the frame's
      * values collect into a ≤7-element array and the median is explicit
      * order-statistics arithmetic (odd → middle, even → mean of the two
      * middles — exactly quantile_cont(0.5) semantics, which is the
      * oracle's form). The daily relation is calendar-bounded, so frames
      * and arrays never scale with the fact table.
      */
    "w_moving_median" -> ((s, dir) => {
      val daily = Tables.load(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), to_date(col("l_shipdate")).as("day"))
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)"))
          .cast("double").as("rev"))
      val fr = Window.partitionBy("l_returnflag").orderBy(col("day"))
        .rowsBetween(-6, Window.currentRow)
      val arr = sort_array(collect_list(col("rev")).over(fr))
      val n = size(arr)
      val med = when(n % 2 === 1,
          element_at(arr, ((n + 1) / 2).cast("int")))
        .otherwise((element_at(arr, (n / 2).cast("int")) +
          element_at(arr, (n / 2).cast("int") + 1)) / 2.0)
      daily.select(col("l_returnflag"),
          date_format(col("day"), "yyyy-MM-dd").as("day"),
          round(col("rev"), 2).as("rev"), n.as("win_n"),
          round(med, 6).as("moving_median"))
        .filter(col("l_returnflag") === "A")
        .orderBy("day")
    }),

    /** Window frame-navigation surface: first_value / nth_value over the
      * growing frame and first_value over a bounded sliding frame, all on
      * one per-group (ROWS-framed, totally-ordered) window sort — the
      * navigation family w_lag_ma/w_topn don't cover. Explicit ROWS
      * frames pin the semantics engines could otherwise default
      * differently; the (shipdate, orderkey, linenumber) order is total,
      * so every navigated value is unique.
      */
    "w_frame_nav" -> ((s, dir) => {
      val w = Window.partitionBy("l_returnflag")
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      val grow = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val slide = w.rowsBetween(-2, Window.currentRow)
      Tables.load(s, dir, "lineitem")
        .filter(col("l_orderkey") < 1000)
        .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice"),
          first("l_extendedprice").over(grow).as("first_price"),
          nth_value(col("l_extendedprice"), 3).over(grow).as("third_price"),
          first("l_extendedprice").over(slide).as("slide_first"))
        .orderBy("l_returnflag", "l_orderkey", "l_linenumber")
    }),

    /** Cramér's V — the EFFECT SIZE the a16 chi-square test omits (with
      * 60k rows even a trivial association is "significant"; V says
      * whether it matters): V = sqrt(χ²/(n·min(r−1, c−1))) over the same
      * lang × source contingency machinery, same marginal-sized
      * relations, same ordered contribution fold.
      */
    "a35_cramers_v" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val cells = d.groupBy("lang", "source").agg(count(lit(1)).as("obs"))
      val rt = cells.groupBy("lang").agg(sum("obs").as("rt"))
      val ct = cells.groupBy("source").agg(sum("obs").as("ctot"))
      val tot = cells.agg(sum("obs").as("n"),
        countDistinct("lang").as("nl"), countDistinct("source").as("ns"))
      val exp = col("rt").cast("double") * col("ctot").cast("double") /
        col("n").cast("double")
      val dev = col("obs").cast("double") - exp
      cells.join(broadcast(rt), "lang").join(broadcast(ct), "source")
        .crossJoin(broadcast(tot))
        .select(col("lang"), col("source"), col("n"), col("nl"), col("ns"),
          (dev * dev / exp).as("contrib"))
        .groupBy("n", "nl", "ns")
        .agg(sort_array(collect_list(struct(col("lang"), col("source"),
          col("contrib")))).as("cs"))
        .select(col("n"),
          round(sqrt(aggregate(col("cs"), lit(0.0),
            (acc, x) => acc + x.getField("contrib")) /
            (col("n").cast("double") *
              least(col("nl") - 1, col("ns") - 1).cast("double"))), 6)
            .as("cramers_v"))
    }),

    /** Mann–Whitney U: did returned ('R') line items ship different
      * quantities than accepted ('A') ones? Exact doubled-U + tie-corrected
      * z from the per-value histogram — see
      * [[graft.operators.RankStats.mannWhitney]] for the no-global-rank
      * design.
      */
    "a36_mannwhitney" -> ((s, dir) =>
      graft.operators.RankStats.mannWhitney(
        Tables.load(s, dir, "lineitem"), "l_quantity",
        col("l_returnflag") === "R", col("l_returnflag") === "A")),

    /** Kruskal–Wallis H across all three return flags — the k-sample
      * rank test over the same bounded quantity domain; see
      * [[graft.operators.RankStats.kruskalWallis]].
      */
    "a37_kruskal" -> ((s, dir) =>
      graft.operators.RankStats.kruskalWallis(
        Tables.load(s, dir, "lineitem"), "l_quantity", "l_returnflag")),

    /** G-test (log-likelihood-ratio independence) over the (lang, source)
      * contingency table — χ²'s likelihood sibling, preferred when cell
      * counts are small or effects multiplicative: G = 2·Σ O·ln(O/E).
      * Same bounded-cell machinery as a16/a35; the per-cell ln terms fold
      * in (lang, source) order so the float sum is order-pinned.
      */
    "a39_gtest" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val cells = d.groupBy("lang", "source").agg(count(lit(1)).as("obs"))
      val rt = cells.groupBy("lang").agg(sum("obs").as("rt"))
      val ct = cells.groupBy("source").agg(sum("obs").as("ctot"))
      val tot = cells.agg(sum("obs").as("n"),
        countDistinct("lang").as("nl"), countDistinct("source").as("ns"))
      val expd = col("rt").cast("double") * col("ctot").cast("double") /
        col("n").cast("double")
      val term = when(col("obs") > 0,
        col("obs").cast("double") * log(col("obs").cast("double") / expd))
        .otherwise(lit(0.0))
      cells.join(broadcast(rt), "lang").join(broadcast(ct), "source")
        .crossJoin(broadcast(tot))
        .select(col("lang"), col("source"), col("n"), col("nl"), col("ns"),
          term.as("contrib"))
        .groupBy("n", "nl", "ns")
        .agg(sort_array(collect_list(struct(col("lang"), col("source"),
          col("contrib")))).as("cs"))
        .select(col("n"),
          ((col("nl") - 1) * (col("ns") - 1)).as("df"),
          round(lit(2.0) * aggregate(col("cs"), lit(0.0),
            (acc, x) => acc + x.getField("contrib")), 6).as("g"))
    }),

    /** Brown–Forsythe equal-variance test across the return flags — the
      * robust (median-centered) Levene, the precondition check before
      * a24's pooled-variance t is trusted; see
      * [[graft.operators.RankStats.brownForsythe]].
      */
    "a38_levene" -> ((s, dir) =>
      graft.operators.RankStats.brownForsythe(
        Tables.load(s, dir, "lineitem"), "l_quantity", "l_returnflag")),

    /** Spearman rank correlation, EXACT and distributed — no global rank
      * anywhere: with discrete measures the tie-corrected Spearman is
      * Pearson over per-value MID-RANKS, and mid-ranks come from the
      * counts-of-counts walk (cumBelow + (m+1)/2). Doubling every
      * mid-rank clears the ½ fractions, so the whole moment computation
      * is INTEGER arithmetic over the (|X-domain| × |Y-domain|) cell
      * relation (≤ 550 cells here however many rows) in DECIMAL(38,0)
      * sums — Pearson is affine-invariant, so the doubling cancels.
      * One data-sized aggregate; everything after runs on cells.
      */
    "a33_spearman" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val cells = li.groupBy(col("l_quantity").as("x"),
          col("l_discount").as("y"))
        .agg(count(lit(1)).as("c"))
      def ranks(vc: String, rn: String) = {
        val per = cells.groupBy(col(vc)).agg(sum("c").as("m"))
        val below = org.apache.spark.sql.expressions.Window
          .partitionBy(lit(1)).orderBy(col(vc))
          .rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, -1)
        // doubled mid-rank 2r = 2·cumBelow + m + 1 — integer
        per.select(col(vc),
          (lit(2L) * coalesce(sum("m").over(below), lit(0L)) +
            col("m") + 1L).as(rn))
      }
      val j = cells
        .join(broadcast(ranks("x", "rx")), Seq("x"))
        .join(broadcast(ranks("y", "ry")), Seq("y"))
      // each factor is decimal BEFORE the multiply: doubled mid-ranks are
      // ~2n, so a Long rx*ry product would silently wrap around n ≈ 1.5e9
      // rows — decimal factors keep the products exact at any row count
      // (the e_burstiness gap-squares idiom)
      def dec(c: Column) = c.cast("decimal(19,0)")
      val m = j.groupBy().agg(sum("c").as("n"),
        sum(dec(col("rx")) * col("c")).cast("decimal(38,0)").as("sx"),
        sum(dec(col("ry")) * col("c")).cast("decimal(38,0)").as("sy"),
        sum(dec(col("rx")) * dec(col("ry")) * col("c"))
          .cast("decimal(38,0)").as("sxy"),
        sum(dec(col("rx")) * dec(col("rx")) * col("c"))
          .cast("decimal(38,0)").as("sxx"),
        sum(dec(col("ry")) * dec(col("ry")) * col("c"))
          .cast("decimal(38,0)").as("syy"))
      def d(c: String) = col(c).cast("double")
      m.select(col("n"),
        round((d("n") * d("sxy") - d("sx") * d("sy")) /
          sqrt((d("n") * d("sxx") - d("sx") * d("sx")) *
            (d("n") * d("syy") - d("sy") * d("sy"))), 6).as("spearman"))
    }),

    /** Kendall's τ-b, exact and distributed — a33's pair-counting
      * sibling, same discipline one step further: concordant and
      * discordant PAIR counts come from a self-join of the bounded
      * (X-domain × Y-domain) cell relation (dominance products
      * c(x,y)·c(x',y') over x'>x, y'>y — ~550² cell pairs regardless of
      * row count), and the tie corrections n1/n2 from per-axis marginals.
      * All integer (DECIMAL sums — pair counts are O(n²) ≈ 1.8e9 here and
      * grow quadratically) until the final closed form.
      */
    "a34_kendall" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val cells = li.groupBy(col("l_quantity").as("x"),
          col("l_discount").as("y"))
        .agg(count(lit(1)).as("c"))
      val a = cells.select(col("x"), col("y"), col("c"))
      val b = cells.select(col("x").as("x2"), col("y").as("y2"),
        col("c").as("c2"))
      // decimal factors before every multiply: cell counts are O(n), so
      // Long c*c2 (and m*(m-1)) products wrap around n ≈ 3e9 rows
      def decF(c: Column) = c.cast("decimal(19,0)")
      val conc = a.join(b, col("x2") > col("x") && col("y2") > col("y"))
        .groupBy().agg(coalesce(sum(decF(col("c")) * decF(col("c2")))
          .cast("decimal(38,0)"), lit(0).cast("decimal(38,0)")).as("cc"))
      val disc = a.join(b, col("x2") > col("x") && col("y2") < col("y"))
        .groupBy().agg(coalesce(sum(decF(col("c")) * decF(col("c2")))
          .cast("decimal(38,0)"), lit(0).cast("decimal(38,0)")).as("dd"))
      // m*(m-1) is even, so the decimal /2 is an exact integer
      def tiePairs(vc: String) = cells.groupBy(col(vc))
        .agg(sum("c").as("m"))
        .groupBy().agg(sum(
          expr("CAST(CAST(m AS DECIMAL(19,0)) * (m - 1) / 2 AS DECIMAL(38,0))"))
          .cast("decimal(38,0)").as(s"t_$vc"))
      val n0 = cells.groupBy().agg(sum("c").as("n"))
        .select(col("n"),
          expr("CAST(CAST(n AS DECIMAL(19,0)) * (n - 1) / 2 AS DECIMAL(38,0))")
            .as("n0"))
      n0.crossJoin(broadcast(conc)).crossJoin(broadcast(disc))
        .crossJoin(broadcast(tiePairs("x")))
        .crossJoin(broadcast(tiePairs("y")))
        .select(col("n"),
          round((col("cc").cast("double") - col("dd").cast("double")) /
            sqrt((col("n0").cast("double") - col("t_x").cast("double")) *
              (col("n0").cast("double") - col("t_y").cast("double"))), 6)
            .as("kendall_tau_b"))
    }),

    /** Benford first-digit audit — the forensic data-quality screen for a
      * value column (fabricated or truncated monetary data drifts from
      * log10(1+1/d)): observed first-digit frequencies of order totals
      * beside the Benford expectation and the absolute deviation. The
      * digit comes from the FLOOR'd integer via a DIV ladder (no
      * double→string formatting, no log10 of data — both engine traps);
      * digits 1–9 scaffold in so a missing digit reports 0, not nothing.
      * One conditional-count aggregate is the only data-sized work.
      */
    "a32_benford" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
        .select(floor(col("o_totalprice")).cast("long").as("dd"))
      val fd = expr("""CASE WHEN dd >= 100000000 THEN dd DIV 100000000
        WHEN dd >= 10000000 THEN dd DIV 10000000
        WHEN dd >= 1000000 THEN dd DIV 1000000
        WHEN dd >= 100000 THEN dd DIV 100000
        WHEN dd >= 10000 THEN dd DIV 10000
        WHEN dd >= 1000 THEN dd DIV 1000
        WHEN dd >= 100 THEN dd DIV 100
        WHEN dd >= 10 THEN dd DIV 10
        ELSE dd END""")
      val counts = o.select(fd.cast("int").as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n"))
      val scaffold = o.groupBy().agg(count(lit(1)).as("total"))
        .select(col("total"), explode(sequence(lit(1), lit(9))).as("digit"))
      val benford = Seq(0.301029995663981, 0.176091259055681,
        0.1249387366083, 0.096910013008056, 0.079181246047625,
        0.066946789630613, 0.057991946977687, 0.051152522447381,
        0.045757490560675)
      val bf = benford.zipWithIndex.foldLeft(lit(0.0)) {
        case (acc, (f, i)) => when(col("digit") === i + 1, f).otherwise(acc)
      }
      scaffold.join(counts, Seq("digit"), "left")
        .select(col("digit"), coalesce(col("n"), lit(0L)).as("n"),
          round(coalesce(col("n"), lit(0L)).cast("double") /
            col("total").cast("double"), 6).as("obs_freq"),
          round(bf, 6).as("benford_freq"),
          round(abs(coalesce(col("n"), lit(0L)).cast("double") /
            col("total").cast("double") - bf), 6).as("abs_dev"))
        .orderBy("digit")
    }),

    /** Multi-aggregate pivot — a1's wide sibling: one pivot carrying TWO
      * measures per spread value (Spark names the columns
      * `{value}_{aggAlias}`), so the crosstab a spreadsheet user exports
      * comes from one shuffle instead of per-measure passes. Explicit
      * pivot values keep the plan single-pass (no distinct-values
      * pre-query) — the form that matters when the spread column's
      * cardinality is known.
      */
    "a31_pivot_multi" -> ((s, dir) =>
      Tables.load(s, dir, "lineitem")
        .groupBy("l_linestatus")
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(round(sum(col("l_quantity").cast("decimal(18,2)"))
            .cast("double"), 2).as("sum_qty"),
          round(sum(col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double") / count(col("l_extendedprice")), 4)
            .as("avg_price"))
        .orderBy("l_linestatus")),

    /** Poisson-bootstrap confidence interval for the mean (the streaming/
      * distributed bootstrap of Chamandy et al.: resampling-with-
      * replacement ≈ independent Poisson(1) multiplicities, so B replicate
      * means come from ONE pass with per-(row, replicate) deterministic
      * hash weights — no data movement per replicate, no resampled
      * copies). Weights are the md5-uniform pushed through the Poisson(1)
      * inverse CDF as literal thresholds (identical decimal strings both
      * engines, capped at 6); replicate sums go through decimal; the CI is
      * the exact 2.5/97.5 percentile of the 32-row replicate-mean
      * relation. BOUNDED-DOMAIN EXEMPTION: this is one of the two
      * remaining `percentile()` aggregates in the engine — its value→count
      * buffer holds at most B=32 entries (one per replicate) regardless of
      * corpus size, so the single-task merge the continuous-domain sites
      * migrated away from (see a4_percentile) is a non-issue here.
      */
    "a30_bootstrap_ci" -> ((s, dir) => {
      val b = 32
      val li = Tables.load(s, dir, "lineitem").select(
        concat_ws("-", col("l_orderkey"), col("l_linenumber")).as("rid"),
        col("l_extendedprice").as("x"))
      val u = conv(substring(md5(concat(col("rid"), lit("#"),
          col("bb").cast("string"))), 1, 15), 16, 10).cast("long")
        .cast("double") / lit(1152921504606846976.0)
      val w = when(u < 0.367879441171442, 0)
        .when(u < 0.735758882342885, 1)
        .when(u < 0.919698602928606, 2)
        .when(u < 0.981011843123846, 3)
        .when(u < 0.996340153246891, 4)
        .when(u < 0.999405815182418, 5)
        .otherwise(6)
      val reps = li
        .select(col("rid"), col("x"),
          explode(sequence(lit(0), lit(b - 1))).as("bb"))
        .select(col("bb"), (w * col("x").cast("decimal(18,2)")).as("wx"),
          w.as("w"))
        .groupBy("bb")
        .agg((sum("wx").cast("double") / sum("w").cast("double"))
          .as("mean_b"))
      val full = li.groupBy().agg(
        round(sum(col("x").cast("decimal(18,2)")).cast("double") /
          count(lit(1)).cast("double"), 4).as("mean_full"))
      val ci = reps.groupBy().agg(count(lit(1)).as("n_replicates"),
        round(expr("percentile(mean_b, 0.025)"), 4).as("ci_lo"),
        round(expr("percentile(mean_b, 0.975)"), 4).as("ci_hi"))
      full.crossJoin(broadcast(ci))
        .select(col("mean_full"), col("ci_lo"), col("ci_hi"),
          col("n_replicates"))
    }),

    /** Set-operation estimates from two KMV sketches (the theta-sketch
      * discipline, Dasgupta et al.: union = merged bottom-k's (k-1)/θ;
      * intersection = common hashes below the union θ, scaled by 1/θ —
      * valid because θ_union ≤ each side's θ, so every union-surviving
      * hash is necessarily present in its own side's bottom-k). This is
      * the cross-partition overlap question ("how many orders do the
      * returned and accepted streams touch in common?") answered from two 64-long
      * sketches instead of a distinct-join — the exact answers ride along
      * for the error in view. Same md5-hash space and BottomKSample
      * aggregate as a8/a20; everything integer until the two θ divisions.
      */
    "a29_kmv_setops" -> ((s, dir) => {
      graft.functions.SampleAggregates.register(s)
      val kk = 64
      val fn = graft.functions.SampleAggregates.BOTTOMK_FN
      val key = lpad(col("hv").cast("string"), 19, "0")
      val li = Tables.load(s, dir, "lineitem")
        .filter(col("l_returnflag").isin("A", "R"))
      val h = li.select(col("l_returnflag").as("side"),
        conv(substring(md5(col("l_orderkey").cast("string")), 1, 15), 16, 10)
          .cast("long").as("hv")).distinct()
      val sk = h.groupBy("side")
        .agg(call_function(fn, key, col("hv"), lit(kk)).as("sketch"))
      val sa = sk.filter(col("side") === "A").select(col("sketch").as("sa"))
      val sb = sk.filter(col("side") === "R").select(col("sketch").as("sb"))
      val merged = sk.select(explode(col("sketch")).as("hv")).distinct()
        .groupBy().agg(try_element_at(
          call_function(fn, key, col("hv"), lit(kk)), lit(kk)).as("hk"))
        .filter(col("hk").isNotNull)
      val ex = li.groupBy("l_orderkey")
        .agg(max(when(col("l_returnflag") === "A", 1).otherwise(0)).as("ia"),
          max(when(col("l_returnflag") === "R", 1).otherwise(0)).as("ir"))
        .groupBy().agg(sum("ia").as("exact_a"), sum("ir").as("exact_r"),
          count(lit(1)).as("exact_union"),
          sum(when(col("ia") === 1 && col("ir") === 1, 1L).otherwise(0L))
            .as("exact_inter"))
      val thetaFrac = col("hk").cast("double") / lit(1152921504606846976.0)
      ex.crossJoin(broadcast(sa)).crossJoin(broadcast(sb))
        .crossJoin(broadcast(merged))
        .select(col("exact_a"), col("exact_r"), col("exact_union"),
          col("exact_inter"),
          round(lit((kk - 1).toDouble) / thetaFrac, 4).as("kmv_union"),
          round(size(filter(array_intersect(col("sa"), col("sb")),
              x => x < col("hk"))).cast("double") / thetaFrac, 4)
            .as("kmv_inter"))
    }),

    /** Join-size estimation from two count-min sketches (the CM inner-
      * product estimator, Cormode & Muthukrishnan 2005 §4.2): |A ⋈_k B| =
      * Σ_k cA(k)·cB(k) is estimated by min over hash rows of the cellwise
      * inner product of the two sketches — the cardinality the optimizer
      * wants BEFORE running the join, from two fixed-size (depth×width)
      * summaries that were built scan-side and never shuffle data-sized
      * state. The width must track key cardinality (expected colliding
      * mass is |A|·|B|/width) — 32768 cells here for ~15k keys; at 100 TB
      * the sketch is still measured in megabytes where the exact per-key
      * histogram join is measured in the key domain. Colliding mass only ever ADDS products, so like the point
      * estimate the join-size estimate never underestimates; the output
      * carries the exact answer and the relative overestimate beside it.
      * Everything is BIGINT (md5-derived cells, integer products) except
      * the final error ratio.
      */
    "a27_cms_join_size" -> ((s, dir) => {
      val depth = 4; val width = 32768
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey").cast("string").as("k"))
      val ord = Tables.load(s, dir, "orders")
        .select(col("o_orderkey").cast("string").as("k"))
      val ca = graft.operators.Sketches.countMinCells(li, "k", depth, width)
        .withColumnRenamed("c", "cA")
      val cb = graft.operators.Sketches.countMinCells(ord, "k", depth, width)
        .withColumnRenamed("c", "cB")
      val est = ca.join(cb, Seq("row", "cell"))
        .groupBy("row").agg(sum(col("cA") * col("cB")).as("ip"))
        .groupBy().agg(min("ip").as("cms_est"))
      val exact = li.groupBy("k").agg(count(lit(1)).as("na"))
        .join(ord.groupBy("k").agg(count(lit(1)).as("nb")), Seq("k"))
        .groupBy().agg(sum(col("na") * col("nb")).as("exact_rows"))
      exact.crossJoin(broadcast(est))
        .select(col("exact_rows"), col("cms_est"),
          round((col("cms_est") - col("exact_rows")).cast("double") /
            col("exact_rows").cast("double"), 6).as("rel_overest"))
    }),

    /** Population stability index — the standard production drift metric
      * between a baseline and a current window (here: order prices before
      * vs from 1996). PSI = Σ_bins (p−q)·ln(p/q) over 16 dyadic price
      * bins with add-one smoothing (an empty bin must move the index, not
      * blow it up), so the data-sized work is ONE conditional-count hash
      * aggregate into ≤16 cells; the scaffold explode materializes absent
      * bins and the ln-sum runs as the chisq-style ordered fold (float
      * addition is order-sensitive; the fold is one canonical order).
      */
    "a28_psi" -> ((s, dir) => {
      val bins = 16
      val w = 524288.0 / bins // 32768, dyadic
      val o = Tables.load(s, dir, "orders")
      val cells = o.select(
          least(lit(bins - 1), greatest(lit(0),
            floor(col("o_totalprice") / w).cast("int"))).as("bin"),
          (col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
            .as("base"))
        .groupBy("bin")
        .agg(sum(when(col("base"), 1L).otherwise(0L)).as("cb"),
          sum(when(!col("base"), 1L).otherwise(0L)).as("cc"))
      val scaffold = o.groupBy()
        .agg(sum(when(col("o_orderdate") <
            lit("1996-01-01").cast("timestamp"), 1L).otherwise(0L)).as("nb"),
          sum(when(col("o_orderdate") >=
            lit("1996-01-01").cast("timestamp"), 1L).otherwise(0L)).as("nc"))
        .select(col("nb"), col("nc"),
          explode(sequence(lit(0), lit(bins - 1))).as("bin"))
      val p = col("cb1").cast("double") / (col("nb") + bins).cast("double")
      val q = col("cc1").cast("double") / (col("nc") + bins).cast("double")
      scaffold.join(cells, Seq("bin"), "left")
        .select(col("bin"), col("nb"), col("nc"),
          (coalesce(col("cb"), lit(0L)) + 1).as("cb1"),
          (coalesce(col("cc"), lit(0L)) + 1).as("cc1"))
        .select(col("nb"), col("nc"),
          struct(col("bin"), ((p - q) * log(p / q)).as("contrib")).as("s"))
        .groupBy("nb", "nc")
        .agg(sort_array(collect_list(col("s"))).as("cs"))
        .select(col("nb").as("n_base"), col("nc").as("n_current"),
          round(aggregate(col("cs"), lit(0.0),
            (acc, x) => acc + x.getField("contrib")), 6).as("psi"))
    }),

    /** Inverse percentile (percentile *rank*): for fixed probe values,
      * the fraction of each group's rows at or below the probe — exact
      * integer counts, one pass, no sort (contrast a4, which inverts the
      * question and needs the exact-percentile machinery).
      */
    "a17_inv_percentile" -> ((s, dir) => {
      val probes = Seq(10000.0, 50000.0, 90000.0)
      Tables.load(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_extendedprice"),
          explode(array(probes.map(lit): _*)).as("probe"))
        .groupBy("l_returnflag", "probe")
        .agg(round(sum(when(col("l_extendedprice") <= col("probe"), 1)
            .otherwise(0)).cast("double") / count(lit(1)).cast("double"), 6)
          .as("frac_at_or_below"))
        .orderBy("l_returnflag", "probe")
    }),

    /** Chi-square independence test on the lang × source contingency
      * table: cell counts and marginals are exact longs; the per-cell
      * (obs−exp)²/exp contributions are summed by an *ordered* fold over
      * the (lang, source)-sorted cell list — float addition is not
      * commutative-associative, so a plain double `sum` would be
      * partitioning-dependent, while the fold is one canonical order on
      * any engine (same trick as the entropy query). The contingency
      * relation is marginal-sized, so collecting it into one fold row is
      * by construction small.
      */
    "a16_chisq" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val cells = d.groupBy("lang", "source").agg(count(lit(1)).as("obs"))
      val rt = cells.groupBy("lang").agg(sum("obs").as("rt"))
      val ct = cells.groupBy("source").agg(sum("obs").as("ctot"))
      val tot = cells.agg(sum("obs").as("n"),
        countDistinct("lang").as("nl"), countDistinct("source").as("ns"))
      val exp = col("rt").cast("double") * col("ctot").cast("double") /
        col("n").cast("double")
      // (obs−exp)² by plain multiplication, not pow(x, 2): IEEE `*` is
      // bit-identical everywhere, libm pow need not be
      val dev = col("obs").cast("double") - exp
      cells.join(broadcast(rt), "lang").join(broadcast(ct), "source")
        .crossJoin(broadcast(tot))
        .select(col("lang"), col("source"), col("nl"), col("ns"),
          (dev * dev / exp).as("contrib"))
        .groupBy("nl", "ns")
        .agg(count(lit(1)).as("n_cells"),
          sort_array(collect_list(struct(col("lang"), col("source"),
            col("contrib")))).as("cs"))
        .select(col("n_cells"),
          ((col("nl") - 1) * (col("ns") - 1)).as("dof"),
          round(aggregate(col("cs"), lit(0.0),
            (acc, x) => acc + x.getField("contrib")), 6).as("chi2"))
    }),

    /** Unpivot (melt) — the inverse of the reference's pivot surface: wide
      * numeric columns to long (metric, value) rows, a narrow Expand with
      * no shuffle.
      */
    "a9_unpivot" -> ((s, dir) =>
      Tables.load(s, dir, "lineitem")
        .filter(col("l_orderkey") < 100)
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_discount"), col("l_tax")),
          "metric", "value")
        .orderBy("l_orderkey", "l_linenumber", "metric")),

    /** Set-operation surface: INTERSECT and EXCEPT over key sets (Spark
      * plans both as hash semi/anti joins — partial aggregation and one
      * shuffle per side).
      */
    "s11_setops" -> ((s, dir) => {
      val c = Tables.load(s, dir, "customer").select(col("c_custkey").as("k"))
      val o = Tables.load(s, dir, "orders").select(col("o_custkey").as("k"))
      val inter = c.intersect(o).agg(count(lit(1)).as("n"))
        .select(lit("intersect").as("op"), col("n"))
      val exc = c.except(o).agg(count(lit(1)).as("n"))
        .select(lit("except").as("op"), col("n"))
      inter.unionByName(exc).orderBy("op")
    }),

    /** Full outer join: every customer and every order, matched where
      * possible — the null-completing join family member.
      */
    "j_full" -> ((s, dir) => {
      val c = Tables.load(s, dir, "customer").select("c_custkey", "c_mktsegment")
      val o = Tables.load(s, dir, "orders")
        .filter(col("o_totalprice") > 450000.0)
        .select("o_custkey", "o_orderkey")
      c.join(o, c("c_custkey") === o("o_custkey"), "full_outer")
        .select(col("c_custkey"), col("o_orderkey"))
        .orderBy(col("c_custkey").asc_nulls_first, col("o_orderkey").asc_nulls_first)
    }),

    /** Anti-join surface: customers with no order above 400k (NOT EXISTS). */
    "j_anti" -> ((s, dir) => {
      val orders = Tables.load(s, dir, "orders")
        .filter(col("o_totalprice") > 400000.0)
      val cust = Tables.load(s, dir, "customer")
      cust.join(orders, cust("c_custkey") === orders("o_custkey"), "left_anti")
        .select("c_custkey", "c_name").orderBy("c_custkey")
    }),

    /** Window function: top-2 orders per customer by (totalprice, orderkey).
      * Partitioned window — state per customer, no global sort.
      */
    "w_topn_per_group" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.load(s, dir, "orders")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 2)
        .select("o_custkey", "o_orderkey", "rk")
        .orderBy("o_custkey", "rk")
    }),

    /** The same top-2-per-customer via a bounded-state AGGREGATE instead
      * of a window: per-group heap of k entries ([[graft.functions
      * .SampleAggregates]] BottomK) with map-side partial aggregation, so
      * the exchange carries ≤ k rows per (partition, group) — the window
      * form shuffles and sorts EVERY order of every customer. Same oracle
      * as w_topn_per_group: the two forms must agree row-for-row. The
      * inverted zero-padded sort key makes lexicographic ascending equal
      * (totalprice DESC, orderkey ASC).
      */
    "w_topn_agg" -> ((s, dir) => {
      graft.functions.SampleAggregates.register(s)
      val cents = (col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
      val key = concat(
        lpad((lit(10000000000L) - cents).cast("string"), 11, "0"),
        lit("|"), lpad(col("o_orderkey").cast("string"), 12, "0"))
      Tables.load(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(call_function(graft.functions.SampleAggregates.BOTTOMK_FN,
          key, col("o_orderkey"), lit(2)).as("__top"))
        .select(col("o_custkey"),
          posexplode(col("__top")).as(Seq("__pos", "o_orderkey")))
        .select(col("o_custkey"), col("o_orderkey"),
          (col("__pos") + 1).cast("int").as("rk"))
        .orderBy("o_custkey", "rk")
    }),

    /** As-of join: for every purchase event, the latest at-or-before click
      * by the same user — merge-and-carry-forward algorithm (one shuffle,
      * no range-join explosion). See [[graft.operators.AsOfJoin]].
      */
    "j_asof" -> ((s, dir) => {
      val ev = Tables.loadEvents(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select("user_id", "ts", "event_id")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("user_id", "ts", "event_id")
      graft.operators.AsOfJoin.asofBackward(
          purchases, clicks, "user_id", "ts",
          carry = Seq("event_id"), tiebreak = Some("event_id"))
        .select(col("event_id"), col("asof_event_id").as("click_id"))
        .orderBy("event_id")
    }),

    /** Nearest-direction as-of join (merge_asof `direction='nearest'`):
      * each purchase pairs with its temporally CLOSEST click either side,
      * ties to the backward match — composed from the two directional
      * passes (see [[graft.operators.AsOfJoin.asofNearest]]). Output
      * carries the gap and which direction won, so the join is auditable.
      */
    "j_asof_near" -> ((s, dir) => {
      val ev = Tables.loadEvents(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select("user_id", "ts", "event_id")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("user_id", "ts", "event_id")
      graft.operators.AsOfJoin.asofNearest(
          purchases, clicks, "user_id", "ts", "event_id",
          carry = Seq("event_id"), tiebreak = Some("event_id"))
        .select(col("event_id"), col("asof_event_id").as("click_id"),
          col("asof_gap_us").as("gap_us"),
          col("asof_direction").as("direction"))
        .orderBy("event_id")
    }),

    /** Tolerance-bounded as-of join (pandas merge_asof `tolerance`): same
      * merge-and-carry pass as j_asof, but a click more than 30 minutes
      * stale is voided to a null carry — the matched right timestamp rides
      * inside the carried struct, so the bound costs zero extra shuffles.
      */
    "j_asof_tol" -> ((s, dir) => {
      val ev = Tables.loadEvents(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select("user_id", "ts", "event_id")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("user_id", "ts", "event_id")
      graft.operators.AsOfJoin.asofBackward(
          purchases, clicks, "user_id", "ts",
          carry = Seq("event_id"), tiebreak = Some("event_id"),
          toleranceUs = Some(1800000000L))
        .select(col("event_id"), col("asof_event_id").as("click_id"))
        .orderBy("event_id")
    }),

    /** Catalog-ROUTED as-of join (r11 verdict task #2): the right side is
      * a session whose time column carries a ranged layout, so the scan
      * feeding the merge-and-carry is pruned to the probe batch's time
      * envelope through the layout's skipping stats
      * ([[graft.core.CatalogLayouts.asofJoin]]). Same tolerance-bounded
      * backward join as `j_asof_tol` — the oracle is reused verbatim,
      * because routing changes the plan, never the answer.
      */
    "j_catalog_asof" -> ((s, dir) => {
      val cat = SessionScoped.memo(s, s"asofCatalog:$dir") {
        val c = new graft.core.Catalog(s)
        val clicks = Tables.loadEvents(s, dir)
          .filter(col("event_type") === "click")
          .select("user_id", "ts", "event_id")
        c.openFrom("clk", clicks, orderCols = Seq("event_id"))
        c.buildRangedLayout("clk", "ts", files = 8,
          idCol = Some("event_id"))
        c
      }
      val purchases = Tables.loadEvents(s, dir)
        .filter(col("event_type") === "purchase")
        .select("user_id", "ts", "event_id")
      cat.asofJoin(purchases, "clk", "user_id", "ts",
          carry = Seq("event_id"), tiebreak = Some("event_id"),
          toleranceUs = Some(1800000000L))
        .select(col("event_id"), col("asof_event_id").as("click_id"))
        .orderBy("event_id")
    }),

    /** The routed as-of join's SCALE pair, fixed-probe-batch form: 1000
      * earliest purchases (copy 0 of a ScaleGen inflation keeps the
      * original ids, so the probe set is IDENTICAL across scales) as-of
      * join a clicks session whose ranged layout holds ROWS PER FILE
      * constant — the real-cluster invariant (file size fixed, file
      * count grows with data). The probe envelope then reads a
      * near-constant row volume no matter how big the corpus is, while
      * the live twin (`j_live_asof_batch`) scans every click.
      */
    "j_catalog_asof_batch" -> ((s, dir) => {
      val cat = SessionScoped.memo(s, s"asofScaleCatalog:$dir") {
        val c = new graft.core.Catalog(s)
        val clicks = Tables.loadEvents(s, dir)
          .filter(col("event_type") === "click")
          .select("user_id", "ts", "event_id")
        val n = clicks.count()
        c.openFrom("clk_sc", clicks, orderCols = Seq("event_id"))
        c.buildRangedLayout("clk_sc", "ts",
          files = math.max(8, (n / 4096L).toInt), idCol = Some("event_id"))
        c
      }
      cat.asofJoin(asofProbe(s, dir), "clk_sc", "user_id", "ts",
          carry = Seq("event_id"), tiebreak = Some("event_id"),
          toleranceUs = Some(1800000000L))
        .select(col("event_id"), col("asof_event_id").as("click_id"))
        .orderBy("event_id")
    }),

    /** The live twin: same probe batch, same operator, right side scans
      * the whole clicks stream — what the as-of family cost before the
      * catalog route existed. The gap between this and
      * `j_catalog_asof_batch` at 10× the events IS the routing story.
      */
    "j_live_asof_batch" -> ((s, dir) => {
      val clicks = Tables.loadEvents(s, dir)
        .filter(col("event_type") === "click")
        .select("user_id", "ts", "event_id")
      graft.operators.AsOfJoin.asofBackward(asofProbe(s, dir), clicks,
          "user_id", "ts", carry = Seq("event_id"),
          tiebreak = Some("event_id"), toleranceUs = Some(1800000000L))
        .select(col("event_id"), col("asof_event_id").as("click_id"))
        .orderBy("event_id")
    }),

    /** Equi-depth histogram: quartile boundaries (exact percentile, one
      * pass) broadcast into a bucketing pass — the two-job shape every
      * "smart" chart axis needs; boundaries are rounded so the bucket
      * edges are engine-identical.
      */
    "v4_equidepth" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      // global quartiles via the RankStats crossing walk (no Percentile
      // aggregate; see a4_percentile)
      val b = graft.operators.RankStats.exactPercentiles(li,
          col("l_extendedprice"), Nil,
          Seq("q1" -> 0.25, "q2" -> 0.5, "q3" -> 0.75))
        .select(round(col("q1"), 4).as("q1"), round(col("q2"), 4).as("q2"),
          round(col("q3"), 4).as("q3"))
      li.crossJoin(broadcast(b))
        .select(when(col("l_extendedprice") < col("q1"), 0)
          .when(col("l_extendedprice") < col("q2"), 1)
          .when(col("l_extendedprice") < col("q3"), 2)
          .otherwise(3).as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n"))
        .orderBy("bucket")
    }),

    /** Correlation without float-order nondeterminism: decimal moment sums
      * (order-independent) feeding one double evaluation of the closed
      * form — unlike built-in `corr`, whose streaming-merge accumulation
      * order varies with partitioning and can't hash-match another engine.
      */
    "a7_corr" -> ((s, dir) => {
      val x = col("l_extendedprice"); val y = col("l_quantity")
      val li = Tables.load(s, dir, "lineitem")
      val agged = li.groupBy("l_returnflag").agg(
        count(lit(1)).cast("double").as("cnt"),
        sum(x.cast("decimal(18,2)")).cast("double").as("sx"),
        sum(y.cast("decimal(18,2)")).cast("double").as("sy"),
        sum((x * y).cast("decimal(28,4)")).cast("double").as("sxy"),
        sum((x * x).cast("decimal(28,4)")).cast("double").as("sxx"),
        sum((y * y).cast("decimal(28,4)")).cast("double").as("syy"))
      agged.select(col("l_returnflag"),
        round((col("cnt") * col("sxy") - col("sx") * col("sy")) /
          (sqrt(col("cnt") * col("sxx") - col("sx") * col("sx")) *
           sqrt(col("cnt") * col("syy") - col("sy") * col("sy"))), 6).as("corr_xy"))
        .orderBy("l_returnflag")
    }),

    /** Partial correlation r(x,y|z): does quantity still track price once
      * discount is held fixed — the confounder-controlled read a raw a7
      * correlation can't give. All nine moment sums ride ONE decimal
      * aggregate (the a26 discipline); the three Pearsons and the
      * closed-form partial are driver-free arithmetic on the 1-row result.
      */
    "a40_partial_corr" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val x = col("l_quantity"); val y = col("l_extendedprice")
      val z = col("l_discount")
      val m = li.agg(count(lit(1)).cast("double").as("cnt"),
        sum(x.cast("decimal(18,2)")).cast("double").as("sx"),
        sum(y.cast("decimal(18,2)")).cast("double").as("sy"),
        sum(z.cast("decimal(18,2)")).cast("double").as("sz"),
        sum((x * y).cast("decimal(28,4)")).cast("double").as("sxy"),
        sum((x * z).cast("decimal(28,4)")).cast("double").as("sxz"),
        sum((y * z).cast("decimal(28,4)")).cast("double").as("syz"),
        sum((x * x).cast("decimal(28,4)")).cast("double").as("sxx"),
        sum((y * y).cast("decimal(28,4)")).cast("double").as("syy"),
        sum((z * z).cast("decimal(28,4)")).cast("double").as("szz"))
      def r(sab: Column, sa: Column, sb: Column,
            saa: Column, sbb: Column): Column =
        (col("cnt") * sab - sa * sb) /
          (sqrt(col("cnt") * saa - sa * sa) *
            sqrt(col("cnt") * sbb - sb * sb))
      val rxy = r(col("sxy"), col("sx"), col("sy"), col("sxx"), col("syy"))
      val rxz = r(col("sxz"), col("sx"), col("sz"), col("sxx"), col("szz"))
      val ryz = r(col("syz"), col("sy"), col("sz"), col("syy"), col("szz"))
      m.select(col("cnt").cast("long").as("n"),
        round(rxy, 6).as("r_xy"),
        round((rxy - rxz * ryz) /
          sqrt((lit(1.0) - rxz * rxz) * (lit(1.0) - ryz * ryz)), 6)
          .as("r_xy_given_z"))
    }),

    /** Z-order clustering key: Morton-interleave (partkey, suppkey) — the
      * multi-dimensional layout key ([[graft.operators.ZOrder]]); here the
      * smallest 20 z-values demonstrate the locality ordering.
      */
    "p5_zorder" -> ((s, dir) =>
      Tables.load(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"),
          graft.operators.ZOrder.zValue(Seq(col("l_partkey"), col("l_suppkey")))
            .as("z"))
        .orderBy("z", "l_partkey", "l_suppkey")
        .limit(20)),

    /** KMV (k-minimum-values) distinct sketch: estimate = (k-1)/frac(kth
      * smallest hash). Unlike HLL (a5) the sketch state is exactly
      * determined by the data — md5-derived hashes, one bounded aggregate
      * per group via BottomKSample — so the *sketch itself* hash-matches a
      * SQL oracle; output also carries the exact count for error in view.
      */
    "a8_kmv_distinct" -> ((s, dir) => {
      graft.functions.SampleAggregates.register(s)
      val k = 64
      val li = Tables.load(s, dir, "lineitem")
      val h = li.select(col("l_returnflag"),
        conv(substring(md5(col("l_partkey").cast("string")), 1, 15), 16, 10)
          .cast("long").as("hv")).distinct()
      // try_element_at, not element_at: under ANSI mode element_at throws
      // INVALID_ARRAY_INDEX for groups with < k distinct hashes; the null +
      // filter below drops those groups, mirroring the oracle's WHERE rn = k.
      val kth = h.groupBy("l_returnflag")
        .agg(try_element_at(call_function(graft.functions.SampleAggregates.BOTTOMK_FN,
          lpad(col("hv").cast("string"), 19, "0"), col("hv"), lit(k)), lit(k)).as("hk"))
        .filter(col("hk").isNotNull)
      val exact = li.groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("exact_nd"))
      exact.join(kth, Seq("l_returnflag"))
        .select(col("l_returnflag"),
          round(lit((k - 1).toDouble) /
            (col("hk").cast("double") / 1152921504606846976.0), 4).as("kmv_est"),
          col("exact_nd"))
        .orderBy("l_returnflag")
    }),

    /** Mergeable-sketch rollup — the two-level distinct-count shape a
      * 100 TB warehouse actually runs: each shard (here pmod(l_orderkey, 8),
      * standing in for a day's partition) aggregates its own bottom-64 KMV
      * sketch once; a later pass merges the stored sketches (union →
      * distinct → re-bottom-k) without re-reading the data. KMV bottom-k
      * merge is lossless — every hash in the global bottom-64 is
      * necessarily in its own shard's bottom-64 — so the merged estimate
      * equals the direct single-pass estimate EXACTLY, which the output
      * exposes side by side (kmv_merged, kmv_direct) and the oracle
      * re-derives. The re-aggregation moves 64 longs per shard where the
      * raw data moved everything: that is why sketch columns, not exact
      * distinct counts, are what gets stored at scale.
      */
    "a20_sketch_rollup" -> ((s, dir) => {
      graft.functions.SampleAggregates.register(s)
      val k = 64
      val fn = graft.functions.SampleAggregates.BOTTOMK_FN
      val key = lpad(col("hv").cast("string"), 19, "0")
      val li = Tables.load(s, dir, "lineitem")
      val h = li.select(col("l_returnflag"),
        pmod(col("l_orderkey"), lit(8)).as("shard"),
        conv(substring(md5(col("l_partkey").cast("string")), 1, 15), 16, 10)
          .cast("long").as("hv")).distinct()
      val perShard = h.groupBy("l_returnflag", "shard")
        .agg(call_function(fn, key, col("hv"), lit(k)).as("sketch"))
      def kth(grouped: org.apache.spark.sql.DataFrame) = grouped
        .groupBy("l_returnflag")
        .agg(try_element_at(
          call_function(fn, key, col("hv"), lit(k)), lit(k)).as("hk"))
        .filter(col("hk").isNotNull)
      val merged = kth(perShard
        .select(col("l_returnflag"), explode(col("sketch")).as("hv"))
        .distinct())
      val direct = kth(h.select("l_returnflag", "hv").distinct())
      val est = (hk: org.apache.spark.sql.Column) => round(lit((k - 1).toDouble) /
        (hk.cast("double") / 1152921504606846976.0), 4)
      val exact = li.groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("exact_nd"))
      exact
        .join(merged.select(col("l_returnflag"), est(col("hk")).as("kmv_merged")),
          Seq("l_returnflag"))
        .join(direct.select(col("l_returnflag"), est(col("hk")).as("kmv_direct")),
          Seq("l_returnflag"))
        .select(col("l_returnflag"), col("kmv_merged"), col("kmv_direct"),
          col("exact_nd"))
        .orderBy("l_returnflag")
    }),

    /** Histogram-sketch quantiles beside the exact answer — the at-scale
      * twin of a4_percentile. The exact leg runs the same RankStats
      * crossing walk as a4 (no Percentile aggregate anywhere in this
      * plan); the sketch is one hash aggregate into 256 fixed bins
      * (width 512, a dyadic rational — every float op below is exact) and
      * a bounded cumulative walk, mergeable across shards by adding bin
      * counts. Output shows estimate and exact side by side per quantile;
      * the estimate is the first bin-edge at or above the true quantile
      * (≤ one bin width high, never low). See
      * [[graft.operators.Sketches.histogramQuantiles]].
      */
    "a21_hist_quantile" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val sk = graft.operators.Sketches.histogramQuantiles(li,
        "l_extendedprice", lo = 0.0, hi = 131072.0, bins = 256,
        qs = Seq(0.5, 0.9), groupCols = Seq("l_returnflag"))
      val exact = graft.operators.RankStats.exactPercentiles(li,
          col("l_extendedprice"), Seq("l_returnflag"),
          Seq("__r5" -> 0.5, "__r9" -> 0.9))
        .select(col("l_returnflag"), round(col("__r5"), 4).as("__e5"),
          round(col("__r9"), 4).as("__e9"))
        .select(col("l_returnflag"), explode(map(
          lit(0.5), col("__e5"), lit(0.9), col("__e9"))).as(Seq("q", "exact")))
      sk.join(exact, Seq("l_returnflag", "q"))
        .select(col("l_returnflag"), col("q"), col("est"), col("exact"),
          col("n"))
        .orderBy("l_returnflag", "q")
    }),

    /** SQL-text surface: the same engine through `spark.sql` — text is
      * parsed by Catalyst into the identical plan the DataFrame API builds.
      */
    "q2_sql" -> ((s, dir) => {
      Tables.load(s, dir, "lineitem").createOrReplaceTempView("lineitem_v")
      s.sql(
        """SELECT l_linestatus, count(*) AS n,
          |  cast(sum(cast(l_discount as decimal(18,4))) as double) AS sum_disc
          |FROM lineitem_v GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin)
    }),

    /** Bloom-pruned selective semi-join: lineitems of high-value orders.
      * The bloom prefilter cuts the fact side before its exchange; the
      * exact semi join removes false positives, so the oracle is the plain
      * IN-subquery. See [[graft.operators.BloomPrune]].
      */
    "j_bloom" -> ((s, dir) => {
      val hi = Tables.load(s, dir, "orders")
        .filter(col("o_totalprice") > 400000.0)
      graft.operators.BloomPrune.bloomSemiJoin(
          Tables.load(s, dir, "lineitem"), hi, "l_orderkey", "o_orderkey")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
        .orderBy("l_returnflag")
    }),

    /** Range (interval) join via bin bucketing: clicks within the hour
      * before each purchase, as an equi-join on (user_id, time-bin) rather
      * than a nested-loop non-equi join. See [[graft.operators.RangeJoin]].
      */
    "j_range" -> ((s, dir) => {
      val ev = Tables.loadEvents(s, dir)
      val hourUs = 3600000000L
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          (unix_micros(col("ts")) - hourUs).as("lo_us"),
          unix_micros(col("ts")).as("hi_us"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), unix_micros(col("ts")).as("pt_us"))
      val matched = graft.operators.RangeJoin.pointInInterval(
          clicks, purchases, Seq("user_id"), "pt_us", "lo_us", "hi_us",
          binWidth = hourUs)
        .groupBy("event_id").agg(count(lit(1)).as("n_clicks"))
      purchases.select("event_id")
        .join(matched, Seq("event_id"), "left")
        .select(col("event_id"), coalesce(col("n_clicks"), lit(0L)).as("n_clicks"))
        .orderBy("event_id")
    }),

    /** Cube (grouping sets): per-(returnflag, linestatus) totals plus all
      * roll-up margins in one pass — Spark expands to grouping sets and
      * keeps partial aggregation per set.
      */
    "a6_cube" -> ((s, dir) =>
      Tables.load(s, dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg((grouping(col("l_returnflag")) * 2 + grouping(col("l_linestatus")))
          .as("gid"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          count(lit(1)).as("n"))
        .select("gid", "l_returnflag", "l_linestatus", "sum_qty", "n")
        .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)),

    /** Grouped count/sum/avg routed through the catalog's MATERIALIZED
      * AGGREGATE CUBE ([[graft.core.Catalog.buildCubeLayout]] /
      * `aggregate`): the full group set answers from stored partials —
      * at 100 TB a group-count-sized read where the live plan scans the
      * fact table. The stored sums are the engine's order-free decimal
      * fixed-point partials, so the oracle is the PLAIN aggregate over
      * lineitem — routing changes the plan, never the answer (plan pin
      * + staleness/IVM laws in CubeLayoutSpec).
      */
    "a_catalog_cube" -> ((s, dir) =>
      cubeCatalog(s, dir)
        .aggregate("li_cube", Seq("l_returnflag", "l_linestatus"),
          Seq("l_quantity", "l_extendedprice"))
        .orderBy("l_returnflag", "l_linestatus")),

    /** Rollup to a SUBSET of the cube's group columns: count and sums
      * re-merge exactly from the stored commutative partials (sums of
      * decimal sums, sums of counts), so a coarser grouping never
      * touches the fact table either — the property that makes ONE
      * stored cube serve a whole dashboard of groupings.
      */
    "a_catalog_cube_rollup" -> ((s, dir) =>
      cubeCatalog(s, dir)
        .aggregate("li_cube", Seq("l_returnflag"), Seq("l_quantity"))
        .orderBy("l_returnflag")),

    /** The cube consumed from SQL TEXT: [[graft.plans.SqlLayoutRouting]]
      * recognizes Aggregate-over-session-view whose grouping is a subset
      * of a valid cube's group columns and whose aggregates are
      * count(*) / count(m) / the canonical decimal sum, and re-aggregates
      * the stored partials instead of the view — the classic
      * materialized-view rewrite, at analysis time (plan pin in
      * SqlRoutingSpec). The oracle is the same text over raw lineitem.
      */
    "a_sql_cube" -> ((s, dir) =>
      cubeCatalog(s, dir).sql(
        """SELECT l_returnflag, count(*) AS n, count(l_quantity) AS n_qty,
          |  CAST(sum(CAST(round(l_quantity, 6) AS DECIMAL(38,6))) AS DOUBLE)
          |    AS sum_qty,
          |  min(l_quantity) AS min_qty, max(l_quantity) AS max_qty
          |FROM li_cube
          |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    /** The typed twin of the filtered-MV rewrite: equality filters on
      * group columns route through the cube (filter the stored rows,
      * merge the survivors) — the fact table untouched under a
      * predicate.
      */
    "a_catalog_cube_where" -> ((s, dir) =>
      cubeCatalog(s, dir)
        .aggregate("li_cube", Seq("l_linestatus"), Seq("l_quantity"),
          where = Seq("l_returnflag" -> "A"))
        .orderBy("l_linestatus")),

    /** The FILTERED materialized-view rewrite: a WHERE constraining only
      * cube GROUP columns is constant within each group, so the rewrite
      * filters the stored cube rows and re-merges the survivors — the
      * fact table stays untouched even under a predicate (plan pin in
      * SqlRoutingSpec; a predicate on a measure column refuses to
      * route). Oracle: same text over raw lineitem.
      */
    "a_sql_cube_filtered" -> ((s, dir) =>
      cubeCatalog(s, dir).sql(
        """SELECT l_linestatus, count(*) AS n,
          |  CAST(sum(CAST(round(l_extendedprice, 6) AS DECIMAL(38,6)))
          |    AS DOUBLE) AS sum_price
          |FROM li_cube
          |WHERE l_returnflag = 'A'
          |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin)),

    /** EXACT grouped distinct count routed through the catalog's
      * DISTINCT-PAIRS layout ([[graft.core.Catalog.buildPairsLayout]] /
      * `distinctCount`): the stored `SELECT DISTINCT (groups, col)`
      * projection re-distincts to any subset grouping — at 100 TB a
      * pairs-count-sized shuffle where the live plan shuffles every
      * fact row's key. Unlike the HLL sketch layout this is digit-exact,
      * so it gets a full SQL oracle twin.
      */
    "a_catalog_distinct" -> ((s, dir) =>
      cubeCatalog(s, dir)
        .distinctCount("li_cube", Seq("l_returnflag"), "l_partkey")
        .orderBy("l_returnflag")),

    /** The live fact-scan leg of the same distinct count — the
      * comparison baseline [[graft.core.Catalog.distinctCount]]'s routed
      * path replaces: every fact row's (group, key) shuffles to the
      * distinct. Kept registered so the serving-vs-scan gap is measured
      * at scale (`graft.Probe scale paths:a_distinct_scan`), not asserted.
      */
    "a_distinct_scan" -> ((s, dir) =>
      Tables.load(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(count_distinct(col("l_partkey")).as("cd_l_partkey"))
        .orderBy("l_returnflag")),

    /** The pairs layout consumed from SQL TEXT: [[graft.plans
      * .SqlLayoutRouting]] recognizes `count(DISTINCT col)` over a
      * session view whose grouping is a subset of a valid pairs
      * layout's group columns and re-distincts the stored pairs instead
      * of scanning the view — the routed alternative to the cube
      * rewrite's conservative DISTINCT refusal (plan pin in
      * SqlRoutingSpec). Oracle: the same text over raw lineitem.
      */
    "a_sql_distinct" -> ((s, dir) =>
      cubeCatalog(s, dir).sql(
        """SELECT l_returnflag, count(DISTINCT l_partkey) AS cd_partkey
          |FROM li_cube
          |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    /** The filtered form: a WHERE on a pairs GROUP column selects whole
      * stored tuples, so the filtered distinct count still never touches
      * the fact table.
      */
    "a_sql_distinct_filtered" -> ((s, dir) =>
      cubeCatalog(s, dir).sql(
        """SELECT l_linestatus, count(DISTINCT l_partkey) AS cd_partkey
          |FROM li_cube
          |WHERE l_returnflag = 'A'
          |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin)),

    /** count(DISTINCT) THROUGH A JOIN (r14): the stored pairs tuples
      * re-distinct against the dimension — replication per dim match
      * never changes a group's distinct set, so per-dim-attribute
      * distinct counts are exact for any dim multiplicity while the
      * fact table is never scanned (fixture-required plan). Oracle: the
      * same join over the raw tables.
      */
    "a_sql_join_distinct" -> ((s, dir) => {
      val cat = SessionScoped.memo(s, s"joinDistinctCatalog:$dir") {
        val c = new graft.core.Catalog(s)
        c.openFrom("li_jq", Tables.load(s, dir, "lineitem"),
          Seq("l_orderkey", "l_linenumber"))
        c.openFrom("sup_jq", Tables.load(s, dir, "supplier"),
          Seq("s_suppkey"))
        c.buildPairsLayout("li_jq", Seq("l_suppkey"), "l_partkey")
        c
      }
      val df = cat.sql(
        """SELECT s_name, count(DISTINCT l_partkey) AS parts
          |FROM li_jq JOIN sup_jq ON l_suppkey = s_suppkey
          |GROUP BY s_name ORDER BY s_name""".stripMargin)
      val p = df.queryExecution.executedPlan.toString
      require(p.contains("catalog_pairs_") && !p.contains("l_orderkey"),
        s"the join distinct must re-distinct stored pairs; plan: $p")
      df
    }),

    /** The MIXED aggregate (r10 verdict task #5): `count(DISTINCT)` next
      * to `count(*)`/`sum` in one GROUP BY, which NO single layout can
      * serve — [[graft.plans.SqlLayoutRouting]] splits it, re-merging
      * the cube partials and re-distincting the stored pairs, then joins
      * the two group-count-sized sides back on the group columns
      * (null-safe). The fact table is never scanned (plan pin in
      * SqlRoutingSpec); the oracle is the same text over raw lineitem.
      */
    "a_sql_mixed" -> ((s, dir) =>
      cubeCatalog(s, dir).sql(
        """SELECT l_returnflag, count(DISTINCT l_partkey) AS cd_partkey,
          |  count(*) AS n,
          |  CAST(sum(CAST(round(l_quantity, 6) AS DECIMAL(38,6))) AS DOUBLE)
          |    AS sum_qty
          |FROM li_cube
          |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    /** The live fact-scan leg of the mixed aggregate — the comparison
      * baseline the cube ⋈ pairs rewrite replaces (every fact row
      * shuffles for the distinct AND feeds the sums). Registered so the
      * serving-vs-scan gap is measured at scale, not asserted.
      */
    "a_mixed_scan" -> ((s, dir) =>
      Tables.load(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(count_distinct(col("l_partkey")).as("cd_partkey"),
          count(lit(1)).as("n"),
          sum(round(col("l_quantity"), 6).cast("decimal(38,6)"))
            .cast("double").as("sum_qty"))
        .orderBy("l_returnflag")),

    /** The filtered mixed form: a WHERE on a group column BOTH layouts
      * store filters each side's stored rows before the join — still no
      * fact scan.
      */
    "a_sql_mixed_filtered" -> ((s, dir) =>
      cubeCatalog(s, dir).sql(
        """SELECT l_linestatus, count(DISTINCT l_partkey) AS cd_partkey,
          |  CAST(sum(CAST(round(l_extendedprice, 6) AS DECIMAL(38,6)))
          |    AS DOUBLE) AS sum_price
          |FROM li_cube
          |WHERE l_returnflag = 'A'
          |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin)),

    /** SQL `percentile` (median + p90) served from the value-histogram
      * cube: a cube whose GROUP columns include the value column stores
      * `__cnt` per distinct (flag, quantity) cell, and the rewrite
      * replays `percentile(q, p)` as `percentile(q, p, __cnt)` over the
      * stored cells — the built-in's frequency parameter reconstructs
      * the IDENTICAL counted multiset, so the order statistics are
      * bit-equal to a fact-table sort that never happens (plan pin in
      * SqlRoutingSpec). At 100 TB this is the difference between a
      * value-domain-sized read and sorting the fact table per query.
      */
    "a_sql_quantile" -> ((s, dir) =>
      cubeCatalog(s, dir).sql(
        """SELECT l_returnflag,
          |  round(percentile(l_quantity, 0.5), 6) AS med_qty,
          |  round(percentile(l_quantity, 0.9), 6) AS p90_qty,
          |  count(*) AS n
          |FROM li_cube
          |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    /** The filtered global form: WHERE on one histogram group column,
      * quartiles of the other — stored (flag, quantity) cells survive a
      * flag filter wholesale, so the filtered order statistics are exact.
      */
    "a_sql_quantile_filtered" -> ((s, dir) =>
      cubeCatalog(s, dir).sql(
        """SELECT round(percentile(l_quantity, 0.25), 6) AS q1_qty,
          |  round(percentile(l_quantity, 0.75), 6) AS q3_qty
          |FROM li_cube WHERE l_returnflag = 'A'""".stripMargin)),

    /** Truncated order statistics: a WHERE on the VALUE column itself
      * drops whole (flag, quantity) cells, so the filtered percentile
      * (here the median of the ≤ 10 tail) is exact from the same stored
      * histogram — no extra layout, no fact scan.
      */
    "a_sql_quantile_trunc" -> ((s, dir) =>
      cubeCatalog(s, dir).sql(
        """SELECT l_returnflag,
          |  round(percentile(l_quantity, 0.5), 6) AS med_tail
          |FROM li_cube WHERE l_quantity <= 10.0
          |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    /** The CONTINUOUS-domain discipline: a raw double column would make
      * the histogram fact-sized, so the session carries the 2dp-binned
      * value and the cube stores one cell per (event_type, bin) — the
      * engine's standard fixed-point idiom applied to order statistics.
      * Quantiles of the binned column are exact (and the bin width is
      * the caller's stated resolution); the oracle mirrors the binning.
      */
    "a_catalog_quantile_binned" -> ((s, dir) => {
      val cat = SessionScoped.memo(s, s"evQuantCatalog:$dir") {
        val c = new graft.core.Catalog(s)
        c.openFrom("ev_q",
          Tables.loadEvents(s, dir)
            .select(col("event_id"), col("event_type"),
              round(col("value"), 2).as("vbin")),
          Seq("event_id"))
        c.buildCubeLayout("ev_q", Seq("event_type", "vbin"), Nil)
        c
      }
      cat.quantiles("ev_q", Seq("event_type"), "vbin",
          Seq("med_value" -> 0.5, "p95_value" -> 0.95))
        .select(col("event_type"),
          round(col("med_value"), 6).as("med_value"),
          round(col("p95_value"), 6).as("p95_value"))
        .orderBy("event_type")
    }),

    /** The typed twin: [[graft.core.Catalog.quantiles]] routes to the
      * covering value-histogram cube and walks its counted cells with
      * the RankStats prefix-sum interpolation (never a fact sort).
      */
    "a_catalog_quantile" -> ((s, dir) =>
      cubeCatalog(s, dir)
        .quantiles("li_cube", Seq("l_returnflag"), "l_quantity",
          Seq("med_qty" -> 0.5, "p90_qty" -> 0.9))
        .select(col("l_returnflag"), round(col("med_qty"), 6).as("med_qty"),
          round(col("p90_qty"), 6).as("p90_qty"))
        .orderBy("l_returnflag")),

    /** The live fact-scan leg of the quantile probes — the comparison
      * baseline the histogram serving replaces (the identical RankStats
      * walk, but the data-sized histogram build runs per query instead
      * of once at layout-build time).
      */
    "a_quantile_scan" -> ((s, dir) =>
      graft.operators.RankStats.exactPercentiles(
          Tables.load(s, dir, "lineitem"), col("l_quantity"),
          Seq("l_returnflag"), Seq("med_qty" -> 0.5, "p90_qty" -> 0.9))
        .select(col("l_returnflag"), round(col("med_qty"), 6).as("med_qty"),
          round(col("p90_qty"), 6).as("p90_qty"))
        .orderBy("l_returnflag")),

    /** AVG through the cube route, stated as the engine's canonical
      * exact quotient (decimal partial sum ÷ non-null count — one double
      * division at the end): BOTH aggregate leaves re-merge from stored
      * partials, so the most common analytics aggregate serves from
      * group-count-sized rows with no dedicated machinery.
      */
    "a_sql_avg" -> ((s, dir) =>
      cubeCatalog(s, dir).sql(
        """SELECT l_returnflag,
          |  round(CAST(sum(CAST(round(l_quantity, 6) AS DECIMAL(38,6)))
          |    AS DOUBLE) / count(l_quantity), 6) AS avg_qty
          |FROM li_cube
          |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    /** DISTINCT-count of a cube GROUP column, served by the cube alone:
      * the stored rows are one per distinct group tuple, so
      * `count(DISTINCT quantity)`, `max(quantity)` and `count(quantity)`
      * all fold off the (flag, quantity) cells — no pairs layout needed
      * when the distinct column is part of the cube's grouping.
      */
    "a_sql_groupdistinct" -> ((s, dir) =>
      cubeCatalog(s, dir).sql(
        """SELECT l_returnflag,
          |  count(DISTINCT l_quantity) AS cd_qty,
          |  max(l_quantity) AS max_qty,
          |  count(l_quantity) AS n_qty
          |FROM li_cube
          |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    /** TWO distinct columns next to count/sum in one GROUP BY — the
      * N-way split (r10 task #5 generalized): each count(DISTINCT)
      * re-distincts its OWN pairs layout, the rest re-merges the cube,
      * and the THREE group-count-sized sides join back on the group key
      * (plan pin in SqlRoutingSpec: no fact scan, three layout scans).
      */
    "a_sql_multi_distinct" -> ((s, dir) =>
      cubeCatalog(s, dir).sql(
        """SELECT l_returnflag,
          |  count(DISTINCT l_partkey) AS cd_partkey,
          |  count(DISTINCT l_suppkey) AS cd_suppkey,
          |  count(*) AS n,
          |  CAST(sum(CAST(round(l_extendedprice, 6) AS DECIMAL(38,6)))
          |    AS DOUBLE) AS sum_price
          |FROM li_cube
          |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    /** `median()` sugar routes like its percentile expansion: the
      * RuntimeReplaceable substitution happens in the optimizer, AFTER
      * the routing rule, so the rewrite matches the sugar form directly
      * and replays it as percentile(v, 0.5, __cnt) over stored cells.
      */
    "a_sql_median" -> ((s, dir) =>
      cubeCatalog(s, dir).sql(
        """SELECT l_returnflag, round(median(l_quantity), 6) AS med_qty
          |FROM li_cube
          |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    /** Heavy hitters from stored cells: the most frequent values of a
      * histogram-cube group column are `ORDER BY count DESC LIMIT k`
      * over the rewritten aggregate — the sort ranks value-domain-sized
      * stored cells (TakeOrdered over ~50 rows here), never fact rows.
      * The composition is free: the rewrite preserves output exprIds, so
      * ORDER BY / LIMIT / HAVING above it stay resolved.
      */
    "a_sql_heavy_hitters" -> ((s, dir) =>
      cubeCatalog(s, dir).sql(
        """SELECT l_quantity, count(*) AS n
          |FROM li_cube
          |GROUP BY l_quantity
          |ORDER BY n DESC, l_quantity LIMIT 3""".stripMargin)),

    /** HAVING over a routed aggregate: the analyzer plants the predicate
      * as a Filter above the Aggregate, the rewrite swaps the child, and
      * the filter runs over group-count-sized merged rows.
      */
    "a_sql_cube_having" -> ((s, dir) =>
      cubeCatalog(s, dir).sql(
        """SELECT l_quantity, count(*) AS n
          |FROM li_cube
          |GROUP BY l_quantity
          |HAVING l_quantity <= 10.0
          |ORDER BY l_quantity""".stripMargin)),

    /** Order statistics NEXT TO sums and distincts in one GROUP BY — the
      * N-way split across three layouts of three different kinds: the
      * percentile leaf replays over the value-histogram cube's cells,
      * the canonical sum re-merges the measure cube's partials, and the
      * DISTINCT re-distincts the pairs — joined back group-count-sized,
      * fact table untouched. No single materialized view answers this
      * query; the split makes the layout set composable.
      */
    "a_sql_mixed_quantile" -> ((s, dir) =>
      cubeCatalog(s, dir).sql(
        """SELECT l_returnflag,
          |  round(percentile(l_quantity, 0.5), 6) AS med_qty,
          |  count(DISTINCT l_partkey) AS cd_partkey,
          |  CAST(sum(CAST(round(l_extendedprice, 6) AS DECIMAL(38,6)))
          |    AS DOUBLE) AS sum_price
          |FROM li_cube
          |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    /** The TYPED twin of the multi-distinct split: each column serves
      * from its own covering pairs layout and the group-count-sized
      * results join back null-safely — no SQL text involved.
      */
    "a_catalog_multi_distinct" -> ((s, dir) =>
      cubeCatalog(s, dir)
        .distinctCounts("li_cube", Seq("l_returnflag"),
          Seq("l_partkey", "l_suppkey"))
        .orderBy("l_returnflag")),

    /** The live fact-scan leg of the multi-distinct aggregate — the
      * baseline the 3-way layout split replaces (each DISTINCT shuffles
      * every fact row's key here).
      */
    "a_multi_distinct_scan" -> ((s, dir) =>
      Tables.load(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(count_distinct(col("l_partkey")).as("cd_partkey"),
          count_distinct(col("l_suppkey")).as("cd_suppkey"),
          count(lit(1)).as("n"),
          sum(round(col("l_extendedprice"), 6).cast("decimal(38,6)"))
            .cast("double").as("sum_price"))
        .orderBy("l_returnflag")),

    /** Lag + moving average: previous order price and 3-order trailing mean
      * per customer — partitioned window, decimal sum then one double
      * division for cross-engine determinism.
      */
    "w_lag_ma" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val w3 = w.rowsBetween(-2, Window.currentRow)
      Tables.load(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          lag(col("o_totalprice"), 1).over(w).as("prev_price"),
          (sum(col("o_totalprice").cast("decimal(18,2)")).over(w3).cast("double")
            / count(lit(1)).over(w3)).as("ma3"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    /** Forward as-of join: for every click, the earliest at-or-after
      * purchase by the same user — the mirrored carry direction.
      */
    "j_asof_fwd" -> ((s, dir) => {
      val ev = Tables.loadEvents(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select("user_id", "ts", "event_id")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("user_id", "ts", "event_id")
      graft.operators.AsOfJoin.asofForward(
          clicks, purchases, "user_id", "ts",
          carry = Seq("event_id"), tiebreak = Some("event_id"))
        .select(col("event_id"), col("asof_event_id").as("purchase_id"))
        .orderBy("event_id")
    }),

    /** Ranking-window family: quartile bucket, percent rank and cumulative
      * distribution per order-priority partition — partitioned windows,
      * no global sort.
      */
    "w_ntile" -> ((s, dir) => {
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      Tables.load(s, dir, "orders")
        .select(col("o_orderpriority"), col("o_orderkey"),
          ntile(4).over(w).as("quartile"),
          round(percent_rank().over(w), 6).as("pct_rank"),
          round(cume_dist().over(w), 6).as("cd"))
        .orderBy("o_orderpriority", "o_orderkey")
    }),

    /** Running aggregate window: cumulative quantity per supplier by ship
      * date (rows-between running frame). l_extendedprice completes the
      * frame ordering into a total order — the synthetic data duplicates
      * (l_orderkey, l_linenumber), and a tied frame order let the two
      * engines accumulate tied rows in different sequence (caught at
      * sf0.1).
      */
    "w_running_sum" -> ((s, dir) => {
      val w = Window.partitionBy("l_suppkey")
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.load(s, dir, "lineitem")
        .withColumn("run_qty",
          sum(col("l_quantity").cast("decimal(18,2)")).over(w).cast("double"))
        .select("l_suppkey", "l_orderkey", "l_linenumber", "run_qty")
        .orderBy("l_suppkey", "l_orderkey", "l_linenumber")
    }),

    /** Weighted percentiles (median, p90) of price weighted by quantity —
      * the "what price does the median *unit* ship at" question plain
      * percentile can't answer. r8: the walk now runs over the COLLAPSED
      * per-(group, price) weight histogram (one distributed hash
      * aggregate — the exactPercentiles counts-of-counts discipline with
      * weights for counts), so the cumulative window's input is the
      * distinct-price relation, not the fact table. Same answer by
      * construction: the crossing test compares the total weight
      * at-or-below each price (2·cw ≥ tw as exact decimals), which tie
      * collapsing cannot change — a distinct price qualifies iff its last
      * tied row did, and min-over-qualifying picks that same price.
      */
    "a12_weighted_percentile" -> ((s, dir) => {
      val cells = Tables.load(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_extendedprice")
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("__mw"))
      val grp = Window.partitionBy("l_returnflag")
      val cum = grp.orderBy("l_extendedprice")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      cells.withColumn("__cw", sum("__mw").over(cum))
        .withColumn("__tw",
          sum("__mw").over(grp.rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)))
        .groupBy("l_returnflag")
        .agg(
          min(when(col("__cw") * 2 >= col("__tw"), col("l_extendedprice")))
            .as("w_median"),
          min(when(col("__cw") * 10 >= col("__tw") * 9, col("l_extendedprice")))
            .as("w_p90"))
        .orderBy("l_returnflag")
    }),

    /** Per-group mode (most frequent quantity, lowest-value tiebreak):
      * count per (group, value) — one hash aggregate — then a row_number
      * over the tiny per-group count relation; the raw table is touched
      * once.
      */
    "a13_mode" -> ((s, dir) => {
      val counts = Tables.load(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus", "l_quantity")
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("l_returnflag", "l_linestatus")
        .orderBy(col("n").desc, col("l_quantity").asc)
      counts.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("l_returnflag"), col("l_linestatus"),
          col("l_quantity").as("mode_qty"), col("n"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    /** TPC-H Q3 (shipping priority), adapted to this schema: revenue of
      * orders placed before / not yet shipped by a date, for one market
      * segment, top 10. The classic fact-fact shape: customer is a
      * broadcast dim filter, lineitem ⋈ orders shuffles once on the order
      * key with both date filters pushed to the scans, and the top-10 is a
      * partial TakeOrdered — no global sort of the aggregate.
      */
    "q3_shipping" -> ((s, dir) => {
      val cut = lit("1998-06-01").cast("timestamp")
      val cust = Tables.load(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
      val orders = Tables.load(s, dir, "orders")
        .filter(col("o_orderdate") < cut)
      val li = Tables.load(s, dir, "lineitem")
        .filter(col("l_shipdate") > cut)
      li.join(orders, li("l_orderkey") === orders("o_orderkey"))
        .join(broadcast(cust), orders("o_custkey") === cust("c_custkey"))
        .groupBy(col("l_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
          col("o_orderpriority"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)")).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),

    /** TPC-H Q5 (local-supplier volume), adapted: revenue per nation for
      * orders in one region and year where the customer's and supplier's
      * nations coincide. The deepest join in the suite — the only
      * fact-sized exchange is lineitem ⋈ orders on the order key; the
      * supplier equi-join (plus the same-nation residual condition),
      * nation and region are all broadcast, and the year filter is pushed
      * to the orders scan.
      */
    "q5_local" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val ord = Tables.load(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      val cust = Tables.load(s, dir, "customer")
      val supp = Tables.load(s, dir, "supplier")
      val nat = Tables.load(s, dir, "nation")
      val reg = Tables.load(s, dir, "region").filter(col("r_name") === "ASIA")
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
        .join(broadcast(supp), li("l_suppkey") === supp("s_suppkey") &&
          cust("c_nationkey") === supp("s_nationkey"))
        .join(broadcast(nat), supp("s_nationkey") === nat("n_nationkey"))
        .join(broadcast(reg), nat("n_regionkey") === reg("r_regionkey"))
        .groupBy("n_name")
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)")).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),

    /** IQR outlier fences per group: Tukey's 1.5×IQR rule on exact
      * quartiles (a4's cross-engine percentile idiom). Quartiles round to
      * 4dp once, then the fence arithmetic runs entirely in DECIMAL —
      * 1.5×(q3−q1) over 4dp decimals is *exact* at scale 5, so there is no
      * second rounding step for the engines to disagree on (a double-based
      * round here flaked on a .00005 tie at sf0.001); same two-pass
      * broadcast-bounds shape as winsorize.
      */
    "a19_outlier_iqr" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      // quartiles via the RankStats crossing walk (no Percentile
      // aggregate; see a4_percentile)
      val q = graft.operators.RankStats.exactPercentiles(li,
          col("l_extendedprice"), Seq("l_returnflag"),
          Seq("q1" -> 0.25, "q3" -> 0.75))
        .select(col("l_returnflag"),
          round(col("q1"), 4).cast("decimal(18,4)").as("q1"),
          round(col("q3"), 4).cast("decimal(18,4)").as("q3"))
      val fences = q.select(col("l_returnflag"),
        expr("cast(q1 - 1.5 * (q3 - q1) as decimal(19,5))").as("lo"),
        expr("cast(q3 + 1.5 * (q3 - q1) as decimal(19,5))").as("hi"))
      li.join(broadcast(fences), "l_returnflag")
        .select(col("l_returnflag"),
          col("l_extendedprice").cast("decimal(18,4)").as("x"),
          col("lo"), col("hi"))
        .groupBy("l_returnflag", "lo", "hi")
        .agg(count(lit(1)).as("n"),
          sum(when(col("x") < col("lo") || col("x") > col("hi"), 1)
            .otherwise(0)).cast("long").as("n_outliers"))
        .select(col("l_returnflag"), col("n"), col("n_outliers"),
          col("lo").cast("double").as("lo"), col("hi").cast("double").as("hi"))
        .orderBy("l_returnflag")
    }),

    /** TPC-H Q18 (large-volume orders): the wide-group aggregate — one
      * group per order (~150k at sf0.1, vs the headline set's handful-of-
      * rows outputs), so the partial/final hash aggregate actually grows
      * its table and the HAVING filter runs post-shuffle. The order join
      * probes only the surviving groups.
      */
    "q18_large_orders" -> ((s, dir) => {
      val big = Tables.load(s, dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("qty"))
        .filter(col("qty") > 210)
      Tables.load(s, dir, "orders")
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
          col("o_totalprice"),
          col("qty").cast("double").as("sum_qty"))
        .orderBy(col("sum_qty").desc, col("o_orderkey"))
    }),

    /** TPC-H Q6 (forecast revenue change): pure scan-side predicates — the
      * canonical pushdown showcase, one map-side partial sum, no join.
      */
    "q6_forecast" -> ((s, dir) =>
      Tables.load(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) &&
          col("l_quantity") < 24)
        .agg(sum((col("l_extendedprice") * col("l_discount"))
          .cast("decimal(18,4)")).cast("double").as("revenue"))),

    /** TPC-H Q10 (returned-item top customers): fact filtered on the
      * return flag, one fact-fact shuffle, broadcast customer+nation,
      * exact top-20 via TakeOrdered.
      */
    "q10_returns" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R")
      val ord = Tables.load(s, dir, "orders")
      val cust = Tables.load(s, dir, "customer")
      val nat = Tables.load(s, dir, "nation")
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
        .join(broadcast(nat), cust("c_nationkey") === nat("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)")).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }),

    /** TPC-H Q4 shape (r12 verdict task #1): correlated EXISTS — orders
      * whose any lineitem shipped >60 days after the order date. Catalyst
      * decorrelates the EXISTS into a left-semi join on l_orderkey =
      * o_orderkey with the correlated inequality as the join condition —
      * one shuffle pair, no per-row subquery execution. The date window
      * is a scan-side pushed filter on orders.
      */
    "q4_order_priority" -> ((s, dir) => {
      Tables.load(s, dir, "orders").createOrReplaceTempView("orders_sq")
      Tables.load(s, dir, "lineitem").createOrReplaceTempView("lineitem_sq")
      s.sql(
        """SELECT o_orderpriority, count(*) AS n_orders
          |FROM orders_sq
          |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          |  AND o_orderdate < TIMESTAMP '1996-07-01'
          |  AND EXISTS (SELECT 1 FROM lineitem_sq
          |              WHERE l_orderkey = o_orderkey
          |                AND l_shipdate > o_orderdate + INTERVAL 60 DAYS)
          |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
    }),

    /** TPC-H Q17 shape: correlated SCALAR subquery with an aggregate —
      * lineitems below 20% of their part's average quantity. Catalyst
      * decorrelates the per-part avg into ONE grouped aggregate over
      * lineitem joined back on l_partkey (never a per-row re-scan); the
      * avg is exact in double (integral quantities sum exactly), so the
      * boundary comparison is deterministic across engines.
      */
    "q17_small_qty" -> ((s, dir) => {
      Tables.load(s, dir, "lineitem").createOrReplaceTempView("lineitem_sq")
      Tables.load(s, dir, "part").createOrReplaceTempView("part_sq")
      s.sql(
        """SELECT round(CAST(sum(CAST(l1.l_extendedprice AS DECIMAL(18,2)))
          |    AS DOUBLE) / 7.0, 4) AS avg_yearly
          |FROM lineitem_sq l1 JOIN part_sq ON p_partkey = l1.l_partkey
          |WHERE p_brand = 'Brand#23'
          |  AND l1.l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
          |                       FROM lineitem_sq l2
          |                       WHERE l2.l_partkey = l1.l_partkey)""".stripMargin)
    }),

    /** TPC-H Q19 shape: disjunctive join-side predicate — three
      * (brand, quantity-band, size-band) arms OR'd together. The common
      * join key stays an equi-join; each arm's part predicates push to
      * the broadcast side and the disjunction filters post-join.
      */
    "q19_disjunctive" -> ((s, dir) => {
      Tables.load(s, dir, "lineitem").createOrReplaceTempView("lineitem_sq")
      Tables.load(s, dir, "part").createOrReplaceTempView("part_sq")
      s.sql(
        """SELECT CAST(sum(CAST(l_extendedprice * (1 - l_discount)
          |    AS DECIMAL(18,4))) AS DOUBLE) AS revenue
          |FROM lineitem_sq JOIN part_sq ON p_partkey = l_partkey
          |WHERE (p_brand = 'Brand#12' AND l_quantity BETWEEN 1 AND 11
          |       AND p_size BETWEEN 1 AND 5)
          |   OR (p_brand = 'Brand#23' AND l_quantity BETWEEN 10 AND 20
          |       AND p_size BETWEEN 1 AND 10)
          |   OR (p_brand = 'Brand#34' AND l_quantity BETWEEN 20 AND 30
          |       AND p_size BETWEEN 1 AND 15)""".stripMargin)
    }),

    /** TPC-H Q20 shape: nested IN with an aggregate subquery — suppliers
      * whose shipped quantity of red parts exceeds a threshold. The inner
      * IN (broadcast semi on p_partkey) feeds a grouped HAVING, whose
      * supplier keys semi-join back — three joins, all key-sized or
      * broadcast, no correlated re-execution.
      */
    "q20_part_promo" -> ((s, dir) => {
      Tables.load(s, dir, "lineitem").createOrReplaceTempView("lineitem_sq")
      Tables.load(s, dir, "part").createOrReplaceTempView("part_sq")
      Tables.load(s, dir, "supplier").createOrReplaceTempView("supplier_sq")
      s.sql(
        """SELECT s_suppkey, s_name FROM supplier_sq
          |WHERE s_suppkey IN (
          |  SELECT l_suppkey FROM lineitem_sq
          |  WHERE l_partkey IN (SELECT p_partkey FROM part_sq
          |                      WHERE p_name LIKE 'red%')
          |  GROUP BY l_suppkey HAVING sum(l_quantity) > 1800.0)
          |ORDER BY s_suppkey""".stripMargin)
    }),

    /** TPC-H Q21 shape: the multi-anti — per returned lineitem of a
      * finalized order, ANOTHER supplier also shipped on the order
      * (correlated EXISTS with an inequality) but NO other supplier's
      * line was returned (correlated NOT EXISTS). Decorrelates into one
      * semi and one anti join on l_orderkey, both against the same
      * lineitem scan.
      */
    "q21_suppliers_waiting" -> ((s, dir) => {
      Tables.load(s, dir, "lineitem").createOrReplaceTempView("lineitem_sq")
      Tables.load(s, dir, "orders").createOrReplaceTempView("orders_sq")
      Tables.load(s, dir, "supplier").createOrReplaceTempView("supplier_sq")
      s.sql(
        """SELECT s_name, count(*) AS numwait
          |FROM supplier_sq
          |JOIN lineitem_sq l1 ON s_suppkey = l1.l_suppkey
          |JOIN orders_sq ON o_orderkey = l1.l_orderkey
          |WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
          |  AND EXISTS (SELECT 1 FROM lineitem_sq l2
          |              WHERE l2.l_orderkey = l1.l_orderkey
          |                AND l2.l_suppkey <> l1.l_suppkey)
          |  AND NOT EXISTS (SELECT 1 FROM lineitem_sq l3
          |                  WHERE l3.l_orderkey = l1.l_orderkey
          |                    AND l3.l_suppkey <> l1.l_suppkey
          |                    AND l3.l_returnflag = 'R')
          |GROUP BY s_name ORDER BY numwait DESC, s_name""".stripMargin)
    }),

    /** TPC-H Q22 shape: NOT EXISTS anti-join gated by an UNCORRELATED
      * scalar subquery — above-average-balance customers with no recent
      * order, grouped by nation. The average is computed as
      * exact-decimal-sum / count (deterministic double both engines —
      * a double-summed avg could flip a boundary customer); the scalar
      * broadcasts, the NOT EXISTS decorrelates to one anti join.
      */
    "q22_global_sales" -> ((s, dir) => {
      Tables.load(s, dir, "customer").createOrReplaceTempView("customer_sq")
      Tables.load(s, dir, "orders").createOrReplaceTempView("orders_sq")
      s.sql(
        """SELECT c_nationkey AS nation, count(*) AS numcust,
          |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
          |    AS totacctbal
          |FROM customer_sq
          |WHERE c_acctbal > (SELECT CAST(sum(CAST(c_acctbal AS
          |    DECIMAL(18,2))) AS DOUBLE) / count(*)
          |  FROM customer_sq WHERE c_acctbal > 0.0)
          |  AND NOT EXISTS (SELECT 1 FROM orders_sq
          |                  WHERE o_custkey = c_custkey
          |                    AND o_orderdate >= TIMESTAMP '1999-01-01')
          |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin)
    }),

    /** LATERAL correlated subquery in the FROM clause (r13): per nation,
      * the top-2 customers by balance — Catalyst decorrelates the
      * lateral into a ranked window join, never a per-outer-row
      * re-execution. The other face of subquery support: Q4/Q17/Q21
      * cover WHERE-clause subqueries, this covers FROM-clause ones.
      */
    "q_lateral_topn" -> ((s, dir) => {
      Tables.load(s, dir, "nation").createOrReplaceTempView("nation_sq")
      Tables.load(s, dir, "customer").createOrReplaceTempView("customer_sq")
      s.sql(
        """SELECT n_name, c.c_name, c.c_acctbal
          |FROM nation_sq, LATERAL (
          |  SELECT c_name, c_acctbal FROM customer_sq
          |  WHERE c_nationkey = n_nationkey
          |  ORDER BY c_acctbal DESC, c_name LIMIT 2) c
          |ORDER BY n_name, c.c_acctbal DESC, c.c_name""".stripMargin)
    }),

    /** The grouping-sets rewrite over the STORED cube (r13): the same
      * ROLLUP text against a cube-covered session re-merges stored
      * partials under the analyzer's Expand — every set reads
      * group-count-sized data instead of the fact table (plan pinned in
      * SqlRoutingSpec; at 100 TB a 4-set rollup becomes 4× a
      * kilobyte-scale stored read). Oracle: the same text over raw
      * lineitem.
      */
    "a_sql_rollup_routed" -> ((s, dir) =>
      cubeCatalog(s, dir).sql(
        """SELECT coalesce(l_returnflag, '(all)') AS flag,
          |  coalesce(l_linestatus, '(all)') AS status,
          |  CAST(grouping_id() AS INT) AS gid, count(*) AS n,
          |  CAST(sum(CAST(round(l_extendedprice, 6) AS DECIMAL(38,6)))
          |    AS DOUBLE) AS rev
          |FROM li_cube GROUP BY ROLLUP (l_returnflag, l_linestatus)
          |ORDER BY gid, flag, status""".stripMargin)),

    /** GROUPING SETS with grouping() indicators (r13): four groupings in
      * one pass — Spark expands the sets into one aggregate over a
      * grouping-id column (one shuffle, not four), the same partial-
      * merge shape the rollup row pins.
      */
    "a_grouping_sets" -> ((s, dir) => {
      Tables.load(s, dir, "lineitem").createOrReplaceTempView("lineitem_sq")
      s.sql(
        """SELECT coalesce(l_returnflag, '(all)') AS flag,
          |  coalesce(l_linestatus, '(all)') AS status,
          |  CAST(grouping(l_returnflag) AS INT) AS g_flag,
          |  CAST(grouping(l_linestatus) AS INT) AS g_status,
          |  count(*) AS n,
          |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
          |FROM lineitem_sq
          |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
          |  (l_returnflag), (l_linestatus), ())
          |ORDER BY g_flag, g_status, flag, status""".stripMargin)
    }),

    /** SQL-text PIVOT clause (r13): the reference's core gesture (A1) in
      * its SQL spelling — Spark plans the relational PIVOT as one
      * conditional aggregate (no per-column scans). Oracle replays it as
      * explicit CASE-WHEN sums, DuckDB's PIVOT statement syntax being a
      * different (non-clause) construct.
      */
    "a_sql_pivot" -> ((s, dir) => {
      Tables.load(s, dir, "lineitem").createOrReplaceTempView("lineitem_sq")
      s.sql(
        """SELECT * FROM (
          |  SELECT l_returnflag, l_linestatus,
          |    CAST(l_quantity AS DECIMAL(18,2)) AS qty
          |  FROM lineitem_sq)
          |PIVOT (CAST(sum(qty) AS DOUBLE)
          |       FOR l_linestatus IN ('F' AS f, 'O' AS o))
          |ORDER BY l_returnflag""".stripMargin)
    }),

    /** SQL-text UNPIVOT clause (r13): columns → rows, the inverse
      * gesture (a9_unpivot's DataFrame twin in SQL spelling). Oracle is
      * the canonical UNION ALL expansion.
      */
    "a_sql_unpivot" -> ((s, dir) => {
      Tables.load(s, dir, "part").createOrReplaceTempView("part_sq")
      s.sql(
        """SELECT p_partkey, metric, val FROM (
          |  SELECT p_partkey, CAST(p_size AS DOUBLE) AS size,
          |    CAST(p_retailprice AS DOUBLE) AS price
          |  FROM part_sq)
          |UNPIVOT INCLUDE NULLS (val FOR metric IN (size, price))
          |WHERE p_partkey % 20 = 0
          |ORDER BY p_partkey, metric""".stripMargin)
    }),

    /** Week-over-week revenue growth per market segment: weekly decimal
      * sums (tiny — segments × weeks), then one lag window over the
      * aggregate, never the fact table.
      */
    "w_growth" -> ((s, dir) => {
      val cust = Tables.load(s, dir, "customer")
      val orders = Tables.load(s, dir, "orders")
      val weekly = orders
        .join(broadcast(cust), orders("o_custkey") === cust("c_custkey"))
        .groupBy(col("c_mktsegment"),
          date_trunc("week", col("o_orderdate")).as("__wk"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("revenue"), count(lit(1)).as("n_orders"))
      val w = Window.partitionBy("c_mktsegment").orderBy("__wk")
      weekly.withColumn("__prev", lag("revenue", 1).over(w))
        .select(col("c_mktsegment"),
          date_format(col("__wk"), "yyyy-MM-dd").as("week"),
          col("revenue"), col("n_orders"),
          round((col("revenue") - col("__prev")) / col("__prev"), 6)
            .as("wow_growth"))
        .orderBy("c_mktsegment", "week")
    }),

    /** Time-travel SQL (r11 verdict task #6): ONE statement reads the
      * pinned epoch (`VERSION AS OF`) and the live session side by
      * side — the pinned branch returns the pre-mutation aggregate while
      * the live branch serves the post-refresh one (the VacuumSpec law,
      * stated from SQL text). The pinned clause rewrites onto the
      * snapshot's plan and the pin's layouts route its predicates
      * ([[graft.core.CatalogSnapshots.runTimeTravel]]).
      */
    /** Time-travel SQL, TIMESTAMP form (r12 verdict task #3): the same
      * pinned-vs-live law as [[a_sql_asof]], but the travel clause names
      * a WALL-CLOCK instant — the form an operator types during an
      * incident — resolved to the newest pin taken at-or-before it
      * ([[graft.core.CatalogSnapshots]] resolvePinAt). The fixture pins
      * under an injected clock so the probe instant is deterministic.
      */
    "a_sql_asof_ts" -> ((s, dir) => {
      val cat = SessionScoped.memo(s, s"sqlAsofTsCatalog:$dir") {
        val c = new graft.core.Catalog(s)
        c.open("asfts", s"$dir/orders.parquet",
          orderCols = Seq("o_orderkey"))
        c.pinClock = () =>
          java.time.Instant.parse("2026-01-01T00:00:00Z")
            .toEpochMilli * 1000L
        c.pin("asfts")
        val rep = c.sql("DELETE FROM asfts WHERE o_orderkey % 10 = 1")
        require(rep.head().getLong(1) > 0, "fixture: delete must hit")
        c
      }
      cat.sql(
        """SELECT 'pinned' AS src, o_orderstatus, count(*) AS n,
          |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS tot
          |FROM asfts TIMESTAMP AS OF '2026-03-15 00:00:00+00:00'
          |GROUP BY o_orderstatus
          |UNION ALL
          |SELECT 'live', o_orderstatus, count(*),
          |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
          |FROM asfts GROUP BY o_orderstatus
          |ORDER BY src, o_orderstatus""".stripMargin)
    }),

    /** Time travel over RETAINED epochs (r13 verdict task #3): `VERSION
      * AS OF` an epoch that was NEVER pinned serves the exact past plan
      * from the session's in-process undo history — the incident read
      * that used to require a pre-existing pin. The fixture applies two
      * deletes and reads the state between them side by side with the
      * live state; the oracle replays the bands in SQL. (Durable,
      * cross-process time travel remains pinned — history dies with the
      * process by design.)
      */
    "a_sql_asof_retained" -> ((s, dir) => {
      val (cat, e1) = SessionScoped.memo(s, s"sqlAsofRetCatalog:$dir") {
        val c = new graft.core.Catalog(s)
        c.open("asfr", s"$dir/orders.parquet",
          orderCols = Seq("o_orderkey"))
        val rep = c.sql("DELETE FROM asfr WHERE o_orderkey % 10 = 1")
        require(rep.head().getLong(1) > 0, "fixture: delete must hit")
        val e = c.get("asfr").get.epoch // retained only — never pinned
        val rep2 = c.sql("DELETE FROM asfr WHERE o_orderkey % 10 = 2")
        require(rep2.head().getLong(1) > 0, "fixture: delete must hit")
        (c, e)
      }
      cat.sql(
        s"""SELECT 'asof' AS src, o_orderstatus, count(*) AS n,
           |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS tot
           |FROM asfr VERSION AS OF $e1 GROUP BY o_orderstatus
           |UNION ALL
           |SELECT 'live', o_orderstatus, count(*),
           |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
           |FROM asfr GROUP BY o_orderstatus
           |ORDER BY src, o_orderstatus""".stripMargin)
    }),

    "a_sql_asof" -> ((s, dir) => {
      val (cat, epoch) = SessionScoped.memo(s, s"sqlAsofCatalog:$dir") {
        val c = new graft.core.Catalog(s)
        c.open("asf", s"$dir/orders.parquet", orderCols = Seq("o_orderkey"))
        c.buildRangedLayout("asf", "o_totalprice", files = 8,
          idCol = Some("o_orderkey"))
        val e = c.pin("asf")
        val rep = c.sql("DELETE FROM asf WHERE o_orderkey % 10 = 1")
        require(rep.head().getLong(1) > 0, "fixture: delete must hit")
        require(c.refreshStale("asf").nonEmpty)
        (c, e)
      }
      cat.sql(
        s"""SELECT 'pinned' AS src, o_orderstatus, count(*) AS n,
           |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS tot
           |FROM asf VERSION AS OF $epoch GROUP BY o_orderstatus
           |UNION ALL
           |SELECT 'live', o_orderstatus, count(*),
           |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
           |FROM asf GROUP BY o_orderstatus
           |ORDER BY src, o_orderstatus""".stripMargin)
    }))

  val oracleSql: Map[String, String] = Map(
    "a_sql_asof_retained" ->
      """SELECT 'asof' AS src, o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS tot
        |FROM orders WHERE o_orderkey % 10 != 1 GROUP BY o_orderstatus
        |UNION ALL
        |SELECT 'live', o_orderstatus, count(*),
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |FROM orders WHERE o_orderkey % 10 != 1 AND o_orderkey % 10 != 2
        |GROUP BY o_orderstatus
        |ORDER BY src, o_orderstatus""".stripMargin,

    "a_sql_asof_ts" ->
      """SELECT 'pinned' AS src, o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS tot
        |FROM orders GROUP BY o_orderstatus
        |UNION ALL
        |SELECT 'live', o_orderstatus, count(*),
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |FROM orders WHERE o_orderkey % 10 != 1 GROUP BY o_orderstatus
        |ORDER BY src, o_orderstatus""".stripMargin,

    "q4_order_priority" ->
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-07-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 60 DAYS)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q17_small_qty" ->
      """SELECT round(CAST(sum(CAST(l1.l_extendedprice AS DECIMAL(18,2)))
        |    AS DOUBLE) / 7.0, 4) AS avg_yearly
        |FROM lineitem l1 JOIN part ON p_partkey = l1.l_partkey
        |WHERE p_brand = 'Brand#23'
        |  AND l1.l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
        |                       FROM lineitem l2
        |                       WHERE l2.l_partkey = l1.l_partkey)""".stripMargin,

    "q19_disjunctive" ->
      """SELECT CAST(sum(CAST(l_extendedprice * (1 - l_discount)
        |    AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#12' AND l_quantity BETWEEN 1 AND 11
        |       AND p_size BETWEEN 1 AND 5)
        |   OR (p_brand = 'Brand#23' AND l_quantity BETWEEN 10 AND 20
        |       AND p_size BETWEEN 1 AND 10)
        |   OR (p_brand = 'Brand#34' AND l_quantity BETWEEN 20 AND 30
        |       AND p_size BETWEEN 1 AND 15)""".stripMargin,

    "q20_part_promo" ->
      """SELECT s_suppkey, s_name FROM supplier
        |WHERE s_suppkey IN (
        |  SELECT l_suppkey FROM lineitem
        |  WHERE l_partkey IN (SELECT p_partkey FROM part
        |                      WHERE p_name LIKE 'red%')
        |  GROUP BY l_suppkey HAVING sum(l_quantity) > 1800.0)
        |ORDER BY s_suppkey""".stripMargin,

    "q21_suppliers_waiting" ->
      """SELECT s_name, count(*) AS numwait
        |FROM supplier
        |JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        |JOIN orders ON o_orderkey = l1.l_orderkey
        |WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_returnflag = 'R')
        |GROUP BY s_name ORDER BY numwait DESC, s_name""".stripMargin,

    "a_sql_pivot" ->
      """SELECT l_returnflag,
        |  CAST(sum(CASE WHEN l_linestatus = 'F'
        |    THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS f,
        |  CAST(sum(CASE WHEN l_linestatus = 'O'
        |    THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS o
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""
        .stripMargin,

    "a_sql_unpivot" ->
      """SELECT p_partkey, metric, val FROM (
        |  SELECT p_partkey, 'size' AS metric, CAST(p_size AS DOUBLE) AS val
        |  FROM part
        |  UNION ALL
        |  SELECT p_partkey, 'price', CAST(p_retailprice AS DOUBLE)
        |  FROM part)
        |WHERE p_partkey % 20 = 0
        |ORDER BY p_partkey, metric""".stripMargin,

    "q_lateral_topn" ->
      """SELECT n_name, c.c_name, c.c_acctbal
        |FROM nation, LATERAL (
        |  SELECT c_name, c_acctbal FROM customer
        |  WHERE c_nationkey = n_nationkey
        |  ORDER BY c_acctbal DESC, c_name LIMIT 2) c
        |ORDER BY n_name, c.c_acctbal DESC, c.c_name""".stripMargin,

    "a_sql_rollup_routed" ->
      """SELECT coalesce(l_returnflag, '(all)') AS flag,
        |  coalesce(l_linestatus, '(all)') AS status,
        |  CAST(grouping_id(l_returnflag, l_linestatus) AS INT) AS gid,
        |  count(*) AS n,
        |  CAST(sum(CAST(round(l_extendedprice, 6) AS DECIMAL(38,6)))
        |    AS DOUBLE) AS rev
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY gid, flag, status""".stripMargin,

    "a_grouping_sets" ->
      """SELECT coalesce(l_returnflag, '(all)') AS flag,
        |  coalesce(l_linestatus, '(all)') AS status,
        |  CAST(grouping(l_returnflag) AS INT) AS g_flag,
        |  CAST(grouping(l_linestatus) AS INT) AS g_status,
        |  count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
        |  (l_returnflag), (l_linestatus), ())
        |ORDER BY g_flag, g_status, flag, status""".stripMargin,

    "q22_global_sales" ->
      """SELECT c_nationkey AS nation, count(*) AS numcust,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |    AS totacctbal
        |FROM customer
        |WHERE c_acctbal > (SELECT CAST(sum(CAST(c_acctbal AS
        |    DECIMAL(18,2))) AS DOUBLE) / count(*)
        |  FROM customer WHERE c_acctbal > 0.0)
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderdate >= TIMESTAMP '1999-01-01')
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    "a_sql_asof" ->
      """SELECT 'pinned' AS src, o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS tot
        |FROM orders GROUP BY o_orderstatus
        |UNION ALL
        |SELECT 'live', o_orderstatus, count(*),
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |FROM orders WHERE o_orderkey % 10 != 1 GROUP BY o_orderstatus
        |ORDER BY src, o_orderstatus""".stripMargin,

    "j_broadcast" ->
      """SELECT c_mktsegment,
        |  cast(sum(cast(o_totalprice as decimal(18,2))) as double) AS revenue,
        |  count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "j_star" ->
      """SELECT n_name,
        |  cast(sum(cast(l_extendedprice * (1 - l_discount) as decimal(18,4))) as double) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "a14_winsorize" ->
      """WITH b AS (SELECT l_returnflag,
        |    CAST(round(quantile_cont(l_extendedprice, 0.05), 4)
        |      AS DECIMAL(18,4)) AS p05,
        |    CAST(round(quantile_cont(l_extendedprice, 0.95), 4)
        |      AS DECIMAL(18,4)) AS p95
        |  FROM lineitem GROUP BY l_returnflag),
        |j AS (SELECT l.l_returnflag,
        |        CAST(l.l_extendedprice AS DECIMAL(18,4)) AS x, b.p05, b.p95
        |      FROM lineitem l JOIN b USING (l_returnflag))
        |SELECT l_returnflag, count(*) AS n,
        |  CAST(sum(CASE WHEN x < p05 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clip_low,
        |  CAST(sum(CASE WHEN x > p95 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clip_high,
        |  CAST(p05 AS DOUBLE) AS p05, CAST(p95 AS DOUBLE) AS p95,
        |  round(CAST(sum(least(greatest(x, p05), p95)) AS DOUBLE)
        |    / count(*), 6) AS wins_mean
        |FROM j GROUP BY l_returnflag, p05, p95
        |ORDER BY l_returnflag""".stripMargin,

    // slope appears twice (rounded output + unrounded inside intercept) —
    // the repeated SQL expression mirrors the Spark plan reusing the
    // unrounded column, keeping the double expression trees identical
    // same moments, same operation order; t/df in closed form
    "a24_ttest" ->
      """WITH m AS (SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |    cast(sum(cast(l_extendedprice as decimal(18,2))) as double)
        |      AS sx,
        |    cast(sum(cast(l_extendedprice * l_extendedprice
        |      as decimal(28,4))) as double) AS sxx
        |  FROM lineitem WHERE l_returnflag IN ('A', 'R')
        |  GROUP BY l_returnflag),
        |a AS (SELECT n AS n_a, sx AS sx_a, sxx AS sxx_a FROM m
        |      WHERE l_returnflag = 'A'),
        |r AS (SELECT n AS n_r, sx AS sx_r, sxx AS sxx_r FROM m
        |      WHERE l_returnflag = 'R')
        |SELECT n_a, n_r,
        |  round(sx_a / n_a, 4) AS mean_a, round(sx_r / n_r, 4) AS mean_r,
        |  round((sx_a / n_a - sx_r / n_r) /
        |    sqrt((sxx_a - sx_a * sx_a / n_a) / (n_a - 1) / n_a +
        |         (sxx_r - sx_r * sx_r / n_r) / (n_r - 1) / n_r), 6) AS t,
        |  round(((sxx_a - sx_a * sx_a / n_a) / (n_a - 1) / n_a +
        |         (sxx_r - sx_r * sx_r / n_r) / (n_r - 1) / n_r) *
        |        ((sxx_a - sx_a * sx_a / n_a) / (n_a - 1) / n_a +
        |         (sxx_r - sx_r * sx_r / n_r) / (n_r - 1) / n_r) /
        |    ((sxx_a - sx_a * sx_a / n_a) / (n_a - 1) / n_a *
        |     ((sxx_a - sx_a * sx_a / n_a) / (n_a - 1) / n_a) / (n_a - 1) +
        |     (sxx_r - sx_r * sx_r / n_r) / (n_r - 1) / n_r *
        |     ((sxx_r - sx_r * sx_r / n_r) / (n_r - 1) / n_r) / (n_r - 1)),
        |    4) AS df
        |FROM a, r""".stripMargin,

    // same 256×512-dyadic binning as a21; cumulative walk over the ≤256
    // present cells, D and its first achieving edge from the rounded gaps
    "a25_ks_drift" ->
      """WITH cells AS (
        |  SELECT least(255, greatest(0,
        |      CAST(floor(l_extendedprice / 512.0) AS INT))) AS bin,
        |    CAST(sum(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS ca,
        |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS cr
        |  FROM lineitem WHERE l_returnflag IN ('A', 'R') GROUP BY 1),
        |walked AS (
        |  SELECT bin,
        |    CAST(sum(ca) OVER () AS BIGINT) AS na,
        |    CAST(sum(cr) OVER () AS BIGINT) AS nr,
        |    round(abs(
        |      CAST(sum(ca) OVER (ORDER BY bin) AS DOUBLE)
        |        / CAST(sum(ca) OVER () AS DOUBLE) -
        |      CAST(sum(cr) OVER (ORDER BY bin) AS DOUBLE)
        |        / CAST(sum(cr) OVER () AS DOUBLE)), 9) AS gap
        |  FROM cells),
        |top AS (SELECT max(gap) AS d9 FROM walked)
        |SELECT na AS n_a, nr AS n_r, round(d9, 6) AS d_stat,
        |  min(CAST(bin + 1 AS DOUBLE) * 512.0) AS at_edge
        |FROM walked, top WHERE gap = d9
        |GROUP BY na, nr, d9""".stripMargin,

    "a26_corr_matrix" -> corrMatrixSql,

    // two-branch star mirrored with plain joins; decimal revenue
    "q7_nations_volume" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS INT) AS l_year,
        |  round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
        |    AS DECIMAL(18,4))) AS DOUBLE), 4) AS revenue
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND n1.n_name != n2.n_name
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "q14_promo" ->
      """SELECT round(100.0 *
        |  CAST(sum(CASE WHEN p_type = 'ECONOMY'
        |    THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
        |    ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) /
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount)
        |    AS DECIMAL(18,4))) AS DOUBLE), 6) AS promo_revenue_pct
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1995-09-01'
        |  AND l_shipdate < TIMESTAMP '1995-10-01'""".stripMargin,

    // seven-table star mirrored with plain joins; conditional/total
    // decimal sums in one aggregate
    "q8_market_share" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS o_year,
        |  round(CAST(sum(CASE WHEN n2.n_name = 'NATION_18'
        |      THEN CAST(l_extendedprice * (1 - l_discount)
        |        AS DECIMAL(18,4))
        |      ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) /
        |    CAST(sum(CAST(l_extendedprice * (1 - l_discount)
        |      AS DECIMAL(18,4))) AS DOUBLE), 6) AS mkt_share
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey AND p_type = 'STANDARD'
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |JOIN region ON n1.n_regionkey = r_regionkey AND r_name = 'EUROPE'
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q12_ship_delay" ->
      """SELECT o_orderpriority,
        |  CAST(sum(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
        |    THEN 1 ELSE 0 END) AS BIGINT) AS late_count,
        |  CAST(sum(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
        |    THEN 0 ELSE 1 END) AS BIGINT) AS ontime_count
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // the excluded slice lives in the JOIN condition — a WHERE would
    // drop the zero-order customers
    "q13_cust_distribution" ->
      """SELECT c_count, CAST(count(*) AS BIGINT) AS custdist FROM (
        |  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
        |  FROM customer LEFT OUTER JOIN orders
        |    ON c_custkey = o_custkey AND o_orderstatus <> 'F'
        |  GROUP BY c_custkey) cc
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin,

    // decimal revenue through the max-equality test; double only at
    // display
    "q15_top_supplier" ->
      """WITH revenue AS (
        |  SELECT l_suppkey AS supplier_no,
        |    sum(CAST(l_extendedprice * (1 - l_discount)
        |      AS DECIMAL(18,4))) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name,
        |  round(CAST(total_revenue AS DOUBLE), 4) AS total_revenue
        |FROM supplier JOIN revenue ON s_suppkey = supplier_no
        |WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
        |ORDER BY s_suppkey""".stripMargin,

    // weekly decimal sums; per-lag self-join on exact 7k-day strides;
    // centered products folded in week order
    "e_autocorr" ->
      """WITH wk AS (SELECT date_trunc('week', o_orderdate) AS week,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS x
        |  FROM orders GROUP BY 1),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(x AS DECIMAL(18,2))) AS DOUBLE) AS sx FROM wk),
        |a AS (SELECT week, x, sx / CAST(n AS DOUBLE) AS xbar
        |  FROM wk CROSS JOIN t),
        |d AS (SELECT list_reduce(list_prepend(0.0,
        |    list((x - xbar) * (x - xbar) ORDER BY week)), (p, q) -> p + q)
        |    AS ss FROM a),
        |lagk AS (SELECT unnest([1, 2, 4, 13, 52]) AS lag),
        |pairs AS (SELECT l.lag, a.week, a.x, a.xbar, b.x AS x2
        |  FROM lagk l
        |  JOIN a ON true
        |  JOIN wk b ON b.week = a.week + to_days(7 * l.lag)),
        |nums AS (SELECT lag, CAST(count(*) AS BIGINT) AS n_pairs,
        |    list_reduce(list_prepend(0.0,
        |      list((x - xbar) * (x2 - xbar) ORDER BY week)),
        |      (p, q) -> p + q) AS num
        |  FROM pairs GROUP BY lag)
        |SELECT lag, n_pairs, round(num / ss, 6) AS acf
        |FROM nums CROSS JOIN d ORDER BY lag""".stripMargin,

    // list over the 7-row frame + explicit order statistics (odd middle,
    // even mean-of-middles == quantile_cont(0.5))
    "w_moving_median" ->
      """WITH daily AS (SELECT l_returnflag, CAST(l_shipdate AS DATE)
        |    AS day,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |      AS rev
        |  FROM lineitem GROUP BY 1, 2),
        |w AS (SELECT l_returnflag, day, rev,
        |    list_sort(list(rev) OVER (PARTITION BY l_returnflag
        |      ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
        |      AS arr
        |  FROM daily)
        |SELECT l_returnflag, strftime(day, '%Y-%m-%d') AS day,
        |  round(rev, 2) AS rev,
        |  CAST(len(arr) AS INT) AS win_n,
        |  round(CASE WHEN len(arr) % 2 = 1
        |    THEN arr[(len(arr) + 1) // 2]
        |    ELSE (arr[len(arr) // 2] + arr[len(arr) // 2 + 1]) / 2.0
        |  END, 6) AS moving_median
        |FROM w WHERE l_returnflag = 'A'
        |ORDER BY day""".stripMargin,

    // explicit ROWS frames; total (shipdate, orderkey, linenumber) order
    "w_frame_nav" ->
      """SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
        |  first_value(l_extendedprice) OVER g AS first_price,
        |  nth_value(l_extendedprice, 3) OVER g AS third_price,
        |  first_value(l_extendedprice) OVER s AS slide_first
        |FROM lineitem WHERE l_orderkey < 1000
        |WINDOW g AS (PARTITION BY l_returnflag
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |  s AS (PARTITION BY l_returnflag
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |ORDER BY l_returnflag, l_orderkey, l_linenumber""".stripMargin,

    // dominance cell-pair products over the bounded grid; integer tie
    // corrections; closed form at the end
    "a34_kendall" ->
      """WITH cells AS (SELECT l_quantity AS x, l_discount AS y,
        |    CAST(count(*) AS BIGINT) AS c FROM lineitem GROUP BY 1, 2),
        |conc AS (SELECT CAST(coalesce(sum(
        |    CAST(a.c * b.c AS DECIMAL(38,0))), 0) AS DECIMAL(38,0)) AS cc
        |  FROM cells a JOIN cells b ON b.x > a.x AND b.y > a.y),
        |disc AS (SELECT CAST(coalesce(sum(
        |    CAST(a.c * b.c AS DECIMAL(38,0))), 0) AS DECIMAL(38,0)) AS dd
        |  FROM cells a JOIN cells b ON b.x > a.x AND b.y < a.y),
        |tx AS (SELECT CAST(sum(CAST((m * (m - 1)) // 2
        |      AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS t_x
        |  FROM (SELECT x, CAST(sum(c) AS BIGINT) AS m FROM cells
        |        GROUP BY x)),
        |ty AS (SELECT CAST(sum(CAST((m * (m - 1)) // 2
        |      AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS t_y
        |  FROM (SELECT y, CAST(sum(c) AS BIGINT) AS m FROM cells
        |        GROUP BY y)),
        |n0 AS (SELECT CAST(sum(c) AS BIGINT) AS n,
        |    CAST((CAST(sum(c) AS BIGINT) * (CAST(sum(c) AS BIGINT) - 1))
        |      // 2 AS DECIMAL(38,0)) AS n0
        |  FROM cells)
        |SELECT n, round(
        |  (CAST(cc AS DOUBLE) - CAST(dd AS DOUBLE)) /
        |  sqrt((CAST(n0 AS DOUBLE) - CAST(t_x AS DOUBLE)) *
        |    (CAST(n0 AS DOUBLE) - CAST(t_y AS DOUBLE))), 6)
        |    AS kendall_tau_b
        |FROM n0 CROSS JOIN conc CROSS JOIN disc
        |CROSS JOIN tx CROSS JOIN ty""".stripMargin,

    // a16's contingency machinery + the V normalization
    "a35_cramers_v" ->
      """WITH cells AS (SELECT lang, source, count(*) AS obs
        |  FROM documents GROUP BY lang, source),
        |rt AS (SELECT lang, sum(obs) AS rt FROM cells GROUP BY lang),
        |ct AS (SELECT source, sum(obs) AS ctot FROM cells GROUP BY source),
        |tot AS (SELECT sum(obs) AS n, count(DISTINCT lang) AS nl,
        |          count(DISTINCT source) AS ns FROM cells),
        |c AS (SELECT cells.lang, cells.source,
        |        CAST(n AS BIGINT) AS n, nl, ns,
        |        (CAST(obs AS DOUBLE) -
        |            CAST(rt AS DOUBLE) * CAST(ctot AS DOUBLE)
        |              / CAST(n AS DOUBLE)) *
        |        (CAST(obs AS DOUBLE) -
        |            CAST(rt AS DOUBLE) * CAST(ctot AS DOUBLE)
        |              / CAST(n AS DOUBLE))
        |          / (CAST(rt AS DOUBLE) * CAST(ctot AS DOUBLE)
        |              / CAST(n AS DOUBLE)) AS contrib
        |      FROM cells JOIN rt USING (lang) JOIN ct USING (source)
        |      CROSS JOIN tot),
        |f AS (SELECT n, nl, ns,
        |        list(contrib ORDER BY lang, source) AS cs
        |      FROM c GROUP BY n, nl, ns)
        |SELECT n,
        |  round(sqrt(list_reduce(list_prepend(0.0, cs), (a, b) -> a + b)
        |    / (CAST(n AS DOUBLE) *
        |       CAST(least(nl - 1, ns - 1) AS DOUBLE))), 6) AS cramers_v
        |FROM f""".stripMargin,

    // doubled U and tie sums as DECIMAL over the per-value histogram;
    // one double z at the end
    "a36_mannwhitney" ->
      """WITH cells AS (SELECT l_quantity AS v,
        |    CAST(sum(CASE WHEN l_returnflag='R' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS a,
        |    CAST(sum(CASE WHEN l_returnflag='A' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS b
        |  FROM lineitem WHERE l_returnflag IN ('R','A') GROUP BY 1),
        |w AS (SELECT a, b,
        |    coalesce(CAST(sum(b) OVER (ORDER BY v
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS BIGINT), 0) AS bb
        |  FROM cells),
        |m AS (SELECT CAST(sum(a) AS BIGINT) AS na,
        |    CAST(sum(b) AS BIGINT) AS nb,
        |    CAST(sum(CAST(a AS DECIMAL(19,0)) * (2*bb + b))
        |      AS DECIMAL(38,0)) AS u2,
        |    CAST(sum(CAST(a+b AS DECIMAL(19,0)) * (a+b) * (a+b) - (a+b))
        |      AS DECIMAL(38,0)) AS st
        |  FROM w),
        |mv AS (SELECT na, nb, u2,
        |    (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 12) *
        |      (CAST(na + nb + 1 AS DOUBLE) - CAST(st AS DOUBLE) /
        |        (CAST(na + nb AS DOUBLE) * CAST(na + nb - 1 AS DOUBLE)))
        |      AS var FROM m)
        |SELECT na AS n_a, nb AS n_b,
        |  round(CAST(u2 AS DOUBLE) / 2, 4) AS u_a,
        |  CASE WHEN var > 0 THEN
        |    round((CAST(u2 AS DOUBLE) -
        |      CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) / (2 * sqrt(var)), 6)
        |  ELSE NULL END AS z
        |FROM mv""".stripMargin,

    // pooled doubled mid-ranks -> decimal per-group rank sums; the <=3
    // double group terms fold in group-key order both engines
    "a37_kruskal" ->
      """WITH cells AS (SELECT l_quantity AS v, l_returnflag AS g,
        |    CAST(count(*) AS BIGINT) AS c FROM lineitem GROUP BY 1, 2),
        |pooled AS (SELECT v, CAST(sum(c) AS BIGINT) AS m
        |  FROM cells GROUP BY v),
        |r2 AS (SELECT v,
        |    2 * coalesce(CAST(sum(m) OVER (ORDER BY v
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS BIGINT), 0) + m + 1 AS r2
        |  FROM pooled),
        |pg AS (SELECT g, CAST(sum(c) AS BIGINT) AS ng,
        |    CAST(sum(CAST(c AS DECIMAL(19,0)) * CAST(r2 AS DECIMAL(19,0)))
        |      AS DECIMAL(38,0)) AS rg2
        |  FROM cells JOIN r2 USING (v) GROUP BY g),
        |terms AS (SELECT g,
        |    CAST(rg2 AS DOUBLE) * CAST(rg2 AS DOUBLE) / CAST(ng AS DOUBLE)
        |      AS term
        |  FROM pg),
        |ties AS (SELECT CAST(sum(m) AS BIGINT) AS n,
        |    CAST(sum(CAST(m AS DECIMAL(19,0)) * m * m - m)
        |      AS DECIMAL(38,0)) AS st
        |  FROM pooled),
        |f AS (SELECT CAST(count(*) AS BIGINT) AS n_groups,
        |    list(term ORDER BY g) AS ts
        |  FROM terms)
        |SELECT n, n_groups,
        |  CASE WHEN (1.0 - CAST(st AS DOUBLE) /
        |      (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE) -
        |        CAST(n AS DOUBLE))) > 0 THEN
        |    round((3.0 / (CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE)) *
        |      list_reduce(list_prepend(0.0, ts), (acc, x) -> acc + x) -
        |      3.0 * CAST(n + 1 AS DOUBLE)) /
        |      (1.0 - CAST(st AS DOUBLE) /
        |        (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE) -
        |          CAST(n AS DOUBLE))), 6)
        |  ELSE NULL END AS h
        |FROM f CROSS JOIN ties""".stripMargin,

    // same contingency CTEs as a35; ordered O*ln(O/E) fold, doubled
    "a39_gtest" ->
      """WITH cells AS (SELECT lang, source, count(*) AS obs
        |  FROM documents GROUP BY lang, source),
        |rt AS (SELECT lang, sum(obs) AS rt FROM cells GROUP BY lang),
        |ct AS (SELECT source, sum(obs) AS ctot FROM cells GROUP BY source),
        |tot AS (SELECT CAST(sum(obs) AS BIGINT) AS n,
        |    count(DISTINCT lang) AS nl, count(DISTINCT source) AS ns
        |  FROM cells),
        |c AS (SELECT cells.lang, cells.source, n, nl, ns,
        |    CASE WHEN obs > 0 THEN CAST(obs AS DOUBLE) *
        |      ln(CAST(obs AS DOUBLE) /
        |        (CAST(rt AS DOUBLE) * CAST(ctot AS DOUBLE)
        |          / CAST(n AS DOUBLE)))
        |      ELSE 0.0 END AS contrib
        |  FROM cells JOIN rt USING (lang) JOIN ct USING (source)
        |  CROSS JOIN tot),
        |f AS (SELECT n, nl, ns, list(contrib ORDER BY lang, source) AS cs
        |  FROM c GROUP BY n, nl, ns)
        |SELECT n, CAST((nl - 1) * (ns - 1) AS BIGINT) AS df,
        |  round(2.0 * list_reduce(list_prepend(0.0, cs), (a, b) -> a + b),
        |    6) AS g
        |FROM f""".stripMargin,

    // per-group exact medians from a histogram walk; decimal deviation
    // moments; ordered fold of the <=3 per-group double terms
    "a38_levene" ->
      """WITH cells AS (SELECT l_returnflag AS g, l_quantity AS x,
        |    CAST(count(*) AS BIGINT) AS c FROM lineitem GROUP BY 1, 2),
        |w AS (SELECT g, x, c,
        |    CAST(sum(c) OVER (PARTITION BY g ORDER BY x
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c
        |      AS BIGINT) AS cumBelow,
        |    CAST(sum(c) OVER (PARTITION BY g ORDER BY x
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum,
        |    CAST(sum(c) OVER (PARTITION BY g) AS BIGINT) AS ng
        |  FROM cells),
        |med AS (SELECT g, sum(
        |    CASE WHEN cumBelow <= (ng - 1) // 2
        |      AND (ng - 1) // 2 < cum THEN x ELSE 0.0 END +
        |    CASE WHEN cumBelow <= ng // 2
        |      AND ng // 2 < cum THEN x ELSE 0.0 END)
        |    AS med2 FROM w GROUP BY g),
        |pg AS (SELECT cells.g, CAST(sum(c) AS BIGINT) AS ng,
        |    CAST(sum(CAST(c AS DECIMAL(19,0)) *
        |      CAST(round(abs(2.0 * x - med2), 6) AS DECIMAL(28,6)))
        |      AS DECIMAL(38,6)) AS s1,
        |    CAST(sum(CAST(c AS DECIMAL(19,0)) *
        |      CAST(round(abs(2.0 * x - med2) * abs(2.0 * x - med2), 6)
        |        AS DECIMAL(28,6))) AS DECIMAL(38,6)) AS s2
        |  FROM cells JOIN med USING (g) GROUP BY cells.g),
        |t AS (SELECT g, ng, s1, s2,
        |    CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(ng AS DOUBLE)
        |      AS t1 FROM pg),
        |f AS (SELECT CAST(count(*) AS BIGINT) AS n_groups,
        |    CAST(sum(ng) AS BIGINT) AS n,
        |    CAST(sum(s1) AS DOUBLE) AS s1t, CAST(sum(s2) AS DOUBLE) AS s2t,
        |    list(t1 ORDER BY g) AS ts FROM t)
        |SELECT n, n_groups,
        |  CASE WHEN n_groups > 1 AND
        |      s2t - list_reduce(list_prepend(0.0, ts), (a, b) -> a + b) > 0
        |    THEN round(
        |      ((CAST(n AS DOUBLE) - CAST(n_groups AS DOUBLE)) /
        |        (CAST(n_groups AS DOUBLE) - 1)) *
        |      (list_reduce(list_prepend(0.0, ts), (a, b) -> a + b) -
        |        s1t * s1t / CAST(n AS DOUBLE)) /
        |      (s2t - list_reduce(list_prepend(0.0, ts), (a, b) -> a + b)),
        |      6)
        |    ELSE NULL END AS f
        |FROM f""".stripMargin,

    // doubled integer mid-ranks from counts-of-counts; DECIMAL moments;
    // Pearson closed form at the end
    "a33_spearman" ->
      """WITH cells AS (SELECT l_quantity AS x, l_discount AS y,
        |    CAST(count(*) AS BIGINT) AS c FROM lineitem GROUP BY 1, 2),
        |rx AS (SELECT x,
        |    2 * coalesce(CAST(sum(m) OVER (ORDER BY x
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS BIGINT), 0) + m + 1 AS rx
        |  FROM (SELECT x, CAST(sum(c) AS BIGINT) AS m FROM cells
        |        GROUP BY x)),
        |ry AS (SELECT y,
        |    2 * coalesce(CAST(sum(m) OVER (ORDER BY y
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS BIGINT), 0) + m + 1 AS ry
        |  FROM (SELECT y, CAST(sum(c) AS BIGINT) AS m FROM cells
        |        GROUP BY y)),
        |m AS (SELECT CAST(sum(c) AS BIGINT) AS n,
        |    CAST(sum(CAST(rx * c AS DECIMAL(38,0))) AS DECIMAL(38,0))
        |      AS sx,
        |    CAST(sum(CAST(ry * c AS DECIMAL(38,0))) AS DECIMAL(38,0))
        |      AS sy,
        |    CAST(sum(CAST(rx * ry AS DECIMAL(28,0)) * c) AS DECIMAL(38,0))
        |      AS sxy,
        |    CAST(sum(CAST(rx * rx AS DECIMAL(28,0)) * c) AS DECIMAL(38,0))
        |      AS sxx,
        |    CAST(sum(CAST(ry * ry AS DECIMAL(28,0)) * c) AS DECIMAL(38,0))
        |      AS syy
        |  FROM cells JOIN rx USING (x) JOIN ry USING (y))
        |SELECT n, round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
        |    CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |  sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
        |      CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
        |    (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) -
        |      CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS spearman
        |FROM m""".stripMargin,

    // FLOOR'd integer DIV ladder; identical Benford literals; scaffolded
    // digits; deviation computed on the unrounded frequency
    "a32_benford" ->
      """WITH o AS (SELECT CAST(floor(o_totalprice) AS BIGINT) AS dd
        |  FROM orders),
        |c AS (SELECT CAST(CASE WHEN dd >= 100000000 THEN dd // 100000000
        |    WHEN dd >= 10000000 THEN dd // 10000000
        |    WHEN dd >= 1000000 THEN dd // 1000000
        |    WHEN dd >= 100000 THEN dd // 100000
        |    WHEN dd >= 10000 THEN dd // 10000
        |    WHEN dd >= 1000 THEN dd // 1000
        |    WHEN dd >= 100 THEN dd // 100
        |    WHEN dd >= 10 THEN dd // 10
        |    ELSE dd END AS INT) AS digit,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM o GROUP BY 1),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM o),
        |s AS (SELECT total, unnest(generate_series(1, 9)) AS digit FROM t),
        |b AS (SELECT s.digit, s.total, coalesce(c.n, 0) AS n,
        |    CASE s.digit WHEN 1 THEN 0.301029995663981
        |      WHEN 2 THEN 0.176091259055681 WHEN 3 THEN 0.1249387366083
        |      WHEN 4 THEN 0.096910013008056 WHEN 5 THEN 0.079181246047625
        |      WHEN 6 THEN 0.066946789630613 WHEN 7 THEN 0.057991946977687
        |      WHEN 8 THEN 0.051152522447381 ELSE 0.045757490560675
        |    END AS bf
        |  FROM s LEFT JOIN c ON s.digit = c.digit)
        |SELECT digit, CAST(n AS BIGINT) AS n,
        |  round(CAST(n AS DOUBLE) / CAST(total AS DOUBLE), 6) AS obs_freq,
        |  round(bf, 6) AS benford_freq,
        |  round(abs(CAST(n AS DOUBLE) / CAST(total AS DOUBLE) - bf), 6)
        |    AS abs_dev
        |FROM b ORDER BY digit""".stripMargin,

    // conditional aggregation mirrors the explicit-values pivot
    "a31_pivot_multi" ->
      """SELECT l_linestatus,
        |  round(CAST(sum(CASE WHEN l_returnflag = 'A'
        |    THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE), 2)
        |    AS "A_sum_qty",
        |  round(CAST(sum(CASE WHEN l_returnflag = 'A'
        |    THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) AS DOUBLE)
        |    / count(CASE WHEN l_returnflag = 'A'
        |      THEN l_extendedprice END), 4) AS "A_avg_price",
        |  round(CAST(sum(CASE WHEN l_returnflag = 'N'
        |    THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE), 2)
        |    AS "N_sum_qty",
        |  round(CAST(sum(CASE WHEN l_returnflag = 'N'
        |    THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) AS DOUBLE)
        |    / count(CASE WHEN l_returnflag = 'N'
        |      THEN l_extendedprice END), 4) AS "N_avg_price",
        |  round(CAST(sum(CASE WHEN l_returnflag = 'R'
        |    THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE), 2)
        |    AS "R_sum_qty",
        |  round(CAST(sum(CASE WHEN l_returnflag = 'R'
        |    THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) AS DOUBLE)
        |    / count(CASE WHEN l_returnflag = 'R'
        |      THEN l_extendedprice END), 4) AS "R_avg_price"
        |FROM lineitem GROUP BY l_linestatus
        |ORDER BY l_linestatus""".stripMargin,

    // identical Poisson(1) CDF threshold literals; decimal replicate
    // sums; quantile_cont ≡ percentile (a4 idiom) over the 32-row relation
    "a30_bootstrap_ci" ->
      """WITH li AS (SELECT CAST(l_orderkey AS VARCHAR) || '-' ||
        |    CAST(l_linenumber AS VARCHAR) AS rid, l_extendedprice AS x
        |  FROM lineitem),
        |r AS (SELECT rid, x, unnest(generate_series(0, 31)) AS bb FROM li),
        |wts AS (SELECT bb, x,
        |    CASE WHEN u < 0.367879441171442 THEN 0
        |         WHEN u < 0.735758882342885 THEN 1
        |         WHEN u < 0.919698602928606 THEN 2
        |         WHEN u < 0.981011843123846 THEN 3
        |         WHEN u < 0.996340153246891 THEN 4
        |         WHEN u < 0.999405815182418 THEN 5
        |         ELSE 6 END AS w
        |  FROM (SELECT bb, x,
        |      ('0x' || substr(md5(rid || '#' || CAST(bb AS VARCHAR)),
        |        1, 15))::BIGINT / 1152921504606846976.0 AS u
        |    FROM r)),
        |reps AS (SELECT bb,
        |    CAST(sum(w * CAST(x AS DECIMAL(18,2))) AS DOUBLE)
        |      / CAST(sum(w) AS DOUBLE) AS mean_b
        |  FROM wts GROUP BY bb),
        |f AS (SELECT round(CAST(sum(CAST(x AS DECIMAL(18,2))) AS DOUBLE)
        |    / count(*), 4) AS mean_full FROM li),
        |ci AS (SELECT CAST(count(*) AS BIGINT) AS n_replicates,
        |    round(quantile_cont(mean_b, 0.025), 4) AS ci_lo,
        |    round(quantile_cont(mean_b, 0.975), 4) AS ci_hi
        |  FROM reps)
        |SELECT mean_full, ci_lo, ci_hi, n_replicates
        |FROM f CROSS JOIN ci""".stripMargin,

    // per-side bottom-64 via row_number (numeric order == the aggregate's
    // zero-padded string order for these <2^60 hashes), union θ from the
    // merged bottom-64, common-below-θ intersection count
    "a29_kmv_setops" ->
      s"""WITH h AS (SELECT DISTINCT l_returnflag AS side,
         |    ${OracleIdioms.md5Long("CAST(l_orderkey AS VARCHAR)")} AS hv
         |  FROM lineitem WHERE l_returnflag IN ('A', 'R')),
         |r AS (SELECT side, hv, row_number() OVER (
         |    PARTITION BY side ORDER BY hv) AS rn FROM h),
         |ska AS (SELECT hv FROM r WHERE side = 'A' AND rn <= 64),
         |skb AS (SELECT hv FROM r WHERE side = 'R' AND rn <= 64),
         |um AS (SELECT DISTINCT hv FROM
         |  (SELECT hv FROM ska UNION ALL SELECT hv FROM skb)),
         |mr AS (SELECT hv, row_number() OVER (ORDER BY hv) AS rn FROM um),
         |theta AS (SELECT hv AS hk FROM mr WHERE rn = 64),
         |inter AS (SELECT CAST(count(*) AS BIGINT) AS ninter
         |  FROM ska JOIN skb USING (hv) CROSS JOIN theta WHERE hv < hk),
         |flags AS (SELECT l_orderkey,
         |    max(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS ia,
         |    max(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS ir
         |  FROM lineitem WHERE l_returnflag IN ('A', 'R') GROUP BY 1),
         |ex AS (SELECT CAST(sum(ia) AS BIGINT) AS exact_a,
         |    CAST(sum(ir) AS BIGINT) AS exact_r,
         |    CAST(count(*) AS BIGINT) AS exact_union,
         |    CAST(sum(CASE WHEN ia = 1 AND ir = 1 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS exact_inter
         |  FROM flags)
         |SELECT exact_a, exact_r, exact_union, exact_inter,
         |  round(63.0 / (CAST(hk AS DOUBLE) / 1152921504606846976.0), 4)
         |    AS kmv_union,
         |  round(CAST(ninter AS DOUBLE)
         |    / (CAST(hk AS DOUBLE) / 1152921504606846976.0), 4)
         |    AS kmv_inter
         |FROM ex CROSS JOIN theta CROSS JOIN inter""".stripMargin,

    // md5-derived cells replayed exactly (the t_cms_freq idiom); BIGINT
    // inner products, min over the 4 hash rows
    "a27_cms_join_size" ->
      s"""WITH rows4 AS (SELECT unnest(generate_series(0, 3)) AS row),
         |a AS (SELECT row,
         |    ${OracleIdioms.md5Long(
                "CAST(l_orderkey AS VARCHAR) || '#' || CAST(row AS VARCHAR)")}
         |      % 32768 AS cell,
         |    CAST(count(*) AS BIGINT) AS ca
         |  FROM lineitem CROSS JOIN rows4 GROUP BY 1, 2),
         |b AS (SELECT row,
         |    ${OracleIdioms.md5Long(
                "CAST(o_orderkey AS VARCHAR) || '#' || CAST(row AS VARCHAR)")}
         |      % 32768 AS cell,
         |    CAST(count(*) AS BIGINT) AS cb
         |  FROM orders CROSS JOIN rows4 GROUP BY 1, 2),
         |ip AS (SELECT a.row, CAST(sum(ca * cb) AS BIGINT) AS ip
         |  FROM a JOIN b ON a.row = b.row AND a.cell = b.cell
         |  GROUP BY a.row),
         |est AS (SELECT min(ip) AS cms_est FROM ip),
         |ka AS (SELECT CAST(l_orderkey AS VARCHAR) AS k,
         |    CAST(count(*) AS BIGINT) AS na FROM lineitem GROUP BY 1),
         |kb AS (SELECT CAST(o_orderkey AS VARCHAR) AS k,
         |    CAST(count(*) AS BIGINT) AS nb FROM orders GROUP BY 1),
         |ex AS (SELECT CAST(sum(na * nb) AS BIGINT) AS exact_rows
         |  FROM ka JOIN kb USING (k))
         |SELECT exact_rows, cms_est,
         |  round(CAST(cms_est - exact_rows AS DOUBLE)
         |    / CAST(exact_rows AS DOUBLE), 6) AS rel_overest
         |FROM ex CROSS JOIN est""".stripMargin,

    // 16 dyadic cells + scaffold for absent bins; add-one smoothing and
    // the chisq-style ordered ln fold
    "a28_psi" ->
      """WITH cells AS (
        |  SELECT least(15, greatest(0,
        |      CAST(floor(o_totalprice / 32768.0) AS INT))) AS bin,
        |    CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '1996-01-01'
        |      THEN 1 ELSE 0 END) AS BIGINT) AS cb,
        |    CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '1996-01-01'
        |      THEN 0 ELSE 1 END) AS BIGINT) AS cc
        |  FROM orders GROUP BY 1),
        |tot AS (SELECT
        |    CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '1996-01-01'
        |      THEN 1 ELSE 0 END) AS BIGINT) AS nb,
        |    CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '1996-01-01'
        |      THEN 0 ELSE 1 END) AS BIGINT) AS nc
        |  FROM orders),
        |scaffold AS (SELECT nb, nc, unnest(generate_series(0, 15)) AS bin
        |  FROM tot),
        |sm AS (SELECT s.bin, s.nb, s.nc,
        |    coalesce(c.cb, 0) + 1 AS cb1, coalesce(c.cc, 0) + 1 AS cc1
        |  FROM scaffold s LEFT JOIN cells c ON s.bin = c.bin),
        |contribs AS (SELECT nb, nc,
        |    (CAST(cb1 AS DOUBLE) / CAST(nb + 16 AS DOUBLE) -
        |     CAST(cc1 AS DOUBLE) / CAST(nc + 16 AS DOUBLE)) *
        |    ln((CAST(cb1 AS DOUBLE) / CAST(nb + 16 AS DOUBLE)) /
        |       (CAST(cc1 AS DOUBLE) / CAST(nc + 16 AS DOUBLE))) AS contrib,
        |    bin
        |  FROM sm),
        |f AS (SELECT nb, nc, list(contrib ORDER BY bin) AS cs
        |  FROM contribs GROUP BY nb, nc)
        |SELECT nb AS n_base, nc AS n_current,
        |  round(list_reduce(list_prepend(0.0, cs), (a, b) -> a + b), 6)
        |    AS psi
        |FROM f""".stripMargin,

    "a15_regression" ->
      """WITH m AS (SELECT l_returnflag, count(*) AS n,
        |    sum(CAST(l_quantity AS DECIMAL(18,4))) AS sx,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS sy,
        |    sum(CAST(l_quantity AS DECIMAL(18,4)) *
        |        CAST(l_extendedprice AS DECIMAL(18,4))) AS sxy,
        |    sum(CAST(l_quantity AS DECIMAL(18,4)) *
        |        CAST(l_quantity AS DECIMAL(18,4))) AS sxx
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS slope,
        |  round((CAST(sy AS DOUBLE)
        |    - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |      / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |      * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6) AS intercept
        |FROM m ORDER BY l_returnflag""".stripMargin,

    "a17_inv_percentile" ->
      """SELECT l_returnflag, probe,
        |  round(CAST(sum(CASE WHEN l_extendedprice <= probe
        |      THEN 1 ELSE 0 END) AS DOUBLE) /
        |    CAST(count(*) AS DOUBLE), 6) AS frac_at_or_below
        |FROM lineitem,
        |  (SELECT unnest([10000.0, 50000.0, 90000.0]) AS probe)
        |GROUP BY l_returnflag, probe
        |ORDER BY l_returnflag, probe""".stripMargin,

    "a16_chisq" ->
      """WITH cells AS (SELECT lang, source, count(*) AS obs
        |  FROM documents GROUP BY lang, source),
        |rt AS (SELECT lang, sum(obs) AS rt FROM cells GROUP BY lang),
        |ct AS (SELECT source, sum(obs) AS ctot FROM cells GROUP BY source),
        |tot AS (SELECT sum(obs) AS n, count(DISTINCT lang) AS nl,
        |          count(DISTINCT source) AS ns FROM cells),
        |c AS (SELECT cells.lang, cells.source, nl, ns,
        |        (CAST(obs AS DOUBLE) -
        |            CAST(rt AS DOUBLE) * CAST(ctot AS DOUBLE)
        |              / CAST(n AS DOUBLE)) *
        |        (CAST(obs AS DOUBLE) -
        |            CAST(rt AS DOUBLE) * CAST(ctot AS DOUBLE)
        |              / CAST(n AS DOUBLE))
        |          / (CAST(rt AS DOUBLE) * CAST(ctot AS DOUBLE)
        |              / CAST(n AS DOUBLE)) AS contrib
        |      FROM cells JOIN rt USING (lang) JOIN ct USING (source)
        |      CROSS JOIN tot),
        |f AS (SELECT nl, ns, count(*) AS n_cells,
        |        list(contrib ORDER BY lang, source) AS cs
        |      FROM c GROUP BY nl, ns)
        |SELECT n_cells, (nl - 1) * (ns - 1) AS dof,
        |  round(list_reduce(list_prepend(0.0, cs), (a, b) -> a + b), 6)
        |    AS chi2
        |FROM f""".stripMargin,

    "a9_unpivot" ->
      """SELECT l_orderkey, l_linenumber, metric, value FROM (
        |  SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_tax
        |  FROM lineitem WHERE l_orderkey < 100)
        |UNPIVOT (value FOR metric IN (l_quantity, l_discount, l_tax))
        |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin,

    "s11_setops" ->
      """SELECT 'intersect' AS op, count(*) AS n FROM (
        |  SELECT c_custkey FROM customer INTERSECT SELECT o_custkey FROM orders)
        |UNION ALL
        |SELECT 'except', count(*) FROM (
        |  SELECT c_custkey FROM customer EXCEPT SELECT o_custkey FROM orders)
        |ORDER BY op""".stripMargin,

    "j_full" ->
      """SELECT c_custkey, o_orderkey
        |FROM customer FULL OUTER JOIN
        |  (SELECT o_custkey, o_orderkey FROM orders WHERE o_totalprice > 450000.0) o
        |  ON c_custkey = o.o_custkey
        |ORDER BY c_custkey ASC NULLS FIRST, o_orderkey ASC NULLS FIRST""".stripMargin,

    "j_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)
        |ORDER BY c_custkey""".stripMargin,

    "w_topn_per_group" -> topnOracle,
    // the bounded-heap aggregate must reproduce the window's rows exactly
    "w_topn_agg" -> topnOracle,

    "j_asof" ->
      """WITH e AS (SELECT event_id, user_id, date_trunc('microseconds', ts) AS uts, event_type FROM events),
        |u AS (
        |  SELECT user_id, uts, 0 AS side, event_id AS cid, NULL::BIGINT AS pid
        |  FROM e WHERE event_type = 'click'
        |  UNION ALL
        |  SELECT user_id, uts, 1, NULL, event_id FROM e WHERE event_type = 'purchase'),
        |w AS (SELECT *, last_value(cid IGNORE NULLS) OVER (
        |        PARTITION BY user_id ORDER BY uts, side, cid ASC NULLS FIRST
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_cid
        |      FROM u)
        |SELECT pid AS event_id, asof_cid AS click_id
        |FROM w WHERE side = 1 ORDER BY event_id""".stripMargin,

    // candidate ranking replays the nearest rule: min |gap|, backward on
    // ties, per-direction event_id tiebreak (backward max, forward min)
    "j_asof_near" ->
      """WITH e AS (SELECT user_id, event_id,
        |    date_trunc('microseconds', ts) AS ts, event_type FROM events),
        |p AS (SELECT user_id, event_id, ts FROM e
        |  WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, event_id, ts FROM e
        |  WHERE event_type = 'click'),
        |cand AS (SELECT p.event_id, c.event_id AS click_id,
        |    CASE WHEN c.ts <= p.ts
        |      THEN epoch_us(p.ts) - epoch_us(c.ts)
        |      ELSE epoch_us(c.ts) - epoch_us(p.ts) END AS gap,
        |    CASE WHEN c.ts <= p.ts THEN 0 ELSE 1 END AS dir,
        |    row_number() OVER (PARTITION BY p.event_id ORDER BY
        |      CASE WHEN c.ts <= p.ts
        |        THEN epoch_us(p.ts) - epoch_us(c.ts)
        |        ELSE epoch_us(c.ts) - epoch_us(p.ts) END,
        |      CASE WHEN c.ts <= p.ts THEN 0 ELSE 1 END,
        |      CASE WHEN c.ts <= p.ts THEN -c.event_id
        |        ELSE c.event_id END) AS rn
        |  FROM p JOIN c USING (user_id)),
        |best AS (SELECT * FROM cand WHERE rn = 1)
        |SELECT p.event_id, best.click_id,
        |  CAST(best.gap AS BIGINT) AS gap_us,
        |  CASE WHEN best.dir IS NULL THEN NULL
        |       WHEN best.dir = 0 THEN 'backward'
        |       ELSE 'forward' END AS direction
        |FROM p LEFT JOIN best USING (event_id)
        |ORDER BY event_id""".stripMargin,

    // same carry replay as j_asof plus the matched click's timestamp; a
    // carry staler than 30 min renders as no-match
    "j_asof_tol" ->
      """WITH e AS (SELECT event_id, user_id, date_trunc('microseconds', ts) AS uts, event_type FROM events),
        |u AS (
        |  SELECT user_id, uts, 0 AS side, event_id AS cid, NULL::BIGINT AS pid
        |  FROM e WHERE event_type = 'click'
        |  UNION ALL
        |  SELECT user_id, uts, 1, NULL, event_id FROM e WHERE event_type = 'purchase'),
        |w AS (SELECT *,
        |    last_value(cid IGNORE NULLS) OVER (
        |      PARTITION BY user_id ORDER BY uts, side, cid ASC NULLS FIRST
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_cid,
        |    last_value(CASE WHEN side = 0 THEN uts END IGNORE NULLS) OVER (
        |      PARTITION BY user_id ORDER BY uts, side, cid ASC NULLS FIRST
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_uts
        |  FROM u)
        |SELECT pid AS event_id,
        |  CASE WHEN epoch_us(uts) - epoch_us(asof_uts) <= 1800000000
        |       THEN asof_cid ELSE NULL END AS click_id
        |FROM w WHERE side = 1 ORDER BY event_id""".stripMargin,

    // the catalog-routed twin prunes the right-side scan through the
    // ranged layout's stats; the answer is j_asof_tol's, verbatim
    "j_catalog_asof" ->
      """WITH e AS (SELECT event_id, user_id, date_trunc('microseconds', ts) AS uts, event_type FROM events),
        |u AS (
        |  SELECT user_id, uts, 0 AS side, event_id AS cid, NULL::BIGINT AS pid
        |  FROM e WHERE event_type = 'click'
        |  UNION ALL
        |  SELECT user_id, uts, 1, NULL, event_id FROM e WHERE event_type = 'purchase'),
        |w AS (SELECT *,
        |    last_value(cid IGNORE NULLS) OVER (
        |      PARTITION BY user_id ORDER BY uts, side, cid ASC NULLS FIRST
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_cid,
        |    last_value(CASE WHEN side = 0 THEN uts END IGNORE NULLS) OVER (
        |      PARTITION BY user_id ORDER BY uts, side, cid ASC NULLS FIRST
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_uts
        |  FROM u)
        |SELECT pid AS event_id,
        |  CASE WHEN epoch_us(uts) - epoch_us(asof_uts) <= 1800000000
        |       THEN asof_cid ELSE NULL END AS click_id
        |FROM w WHERE side = 1 ORDER BY event_id""".stripMargin,

    // the fixed-batch scale pair: identical answers, probe limited to
    // the 1000 earliest purchases (post-join limit is equivalent since
    // the carry for each purchase never depends on other purchases)
    "j_catalog_asof_batch" -> asofBatchOracle,
    "j_live_asof_batch" -> asofBatchOracle,

    "v4_equidepth" ->
      """WITH b AS (SELECT round(quantile_cont(l_extendedprice, 0.25), 4) AS q1,
        |                  round(quantile_cont(l_extendedprice, 0.5), 4) AS q2,
        |                  round(quantile_cont(l_extendedprice, 0.75), 4) AS q3
        |           FROM lineitem)
        |SELECT CASE WHEN l_extendedprice < q1 THEN 0
        |            WHEN l_extendedprice < q2 THEN 1
        |            WHEN l_extendedprice < q3 THEN 2 ELSE 3 END AS bucket,
        |  count(*) AS n
        |FROM lineitem, b GROUP BY 1 ORDER BY 1""".stripMargin,

    // nine decimal moment sums in one aggregate; three Pearsons + the
    // closed-form partial on the 1-row result
    "a40_partial_corr" ->
      """WITH m AS (SELECT count(*)::DOUBLE AS cnt,
        |  cast(sum(cast(l_quantity as decimal(18,2))) as double) AS sx,
        |  cast(sum(cast(l_extendedprice as decimal(18,2))) as double) AS sy,
        |  cast(sum(cast(l_discount as decimal(18,2))) as double) AS sz,
        |  cast(sum(cast(l_quantity * l_extendedprice as decimal(28,4)))
        |    as double) AS sxy,
        |  cast(sum(cast(l_quantity * l_discount as decimal(28,4)))
        |    as double) AS sxz,
        |  cast(sum(cast(l_extendedprice * l_discount as decimal(28,4)))
        |    as double) AS syz,
        |  cast(sum(cast(l_quantity * l_quantity as decimal(28,4)))
        |    as double) AS sxx,
        |  cast(sum(cast(l_extendedprice * l_extendedprice as decimal(28,4)))
        |    as double) AS syy,
        |  cast(sum(cast(l_discount * l_discount as decimal(28,4)))
        |    as double) AS szz
        |  FROM lineitem),
        |r AS (SELECT cnt,
        |  (cnt * sxy - sx * sy) / (sqrt(cnt * sxx - sx * sx) *
        |    sqrt(cnt * syy - sy * sy)) AS rxy,
        |  (cnt * sxz - sx * sz) / (sqrt(cnt * sxx - sx * sx) *
        |    sqrt(cnt * szz - sz * sz)) AS rxz,
        |  (cnt * syz - sy * sz) / (sqrt(cnt * syy - sy * sy) *
        |    sqrt(cnt * szz - sz * sz)) AS ryz
        |  FROM m)
        |SELECT CAST(cnt AS BIGINT) AS n, round(rxy, 6) AS r_xy,
        |  round((rxy - rxz * ryz) /
        |    sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz)), 6)
        |    AS r_xy_given_z
        |FROM r""".stripMargin,

    "a7_corr" ->
      """WITH m AS (
        |  SELECT l_returnflag,
        |    count(*)::DOUBLE AS cnt,
        |    cast(sum(cast(l_extendedprice as decimal(18,2))) as double) AS sx,
        |    cast(sum(cast(l_quantity as decimal(18,2))) as double) AS sy,
        |    cast(sum(cast(l_extendedprice * l_quantity as decimal(28,4))) as double) AS sxy,
        |    cast(sum(cast(l_extendedprice * l_extendedprice as decimal(28,4))) as double) AS sxx,
        |    cast(sum(cast(l_quantity * l_quantity as decimal(28,4))) as double) AS syy
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag,
        |  round((cnt * sxy - sx * sy) /
        |    (sqrt(cnt * sxx - sx * sx) * sqrt(cnt * syy - sy * sy)), 6) AS corr_xy
        |FROM m ORDER BY l_returnflag""".stripMargin,

    "q2_sql" ->
      """SELECT l_linestatus, count(*) AS n,
        |  cast(sum(cast(l_discount as decimal(18,4))) as double) AS sum_disc
        |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,

    "p5_zorder" ->
      s"""SELECT l_partkey, l_suppkey,
         |  ${graft.operators.ZOrder.zValueSql(Seq("l_partkey", "l_suppkey"))} AS z
         |FROM lineitem ORDER BY z, l_partkey, l_suppkey LIMIT 20""".stripMargin,

    "a8_kmv_distinct" ->
      """WITH h AS (SELECT DISTINCT l_returnflag,
        |    ('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15))::BIGINT AS hv
        |  FROM lineitem),
        |r AS (SELECT l_returnflag, hv,
        |        row_number() OVER (PARTITION BY l_returnflag ORDER BY hv) AS rn
        |      FROM h),
        |kth AS (SELECT l_returnflag, hv FROM r WHERE rn = 64),
        |ex AS (SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_nd
        |       FROM lineitem GROUP BY l_returnflag)
        |SELECT ex.l_returnflag,
        |  round(63.0 / (kth.hv::DOUBLE / 1152921504606846976.0), 4) AS kmv_est,
        |  ex.exact_nd
        |FROM ex JOIN kth USING (l_returnflag) ORDER BY l_returnflag""".stripMargin,

    // two-level KMV: per-shard bottom-64 sketches merged vs the direct
    // single-pass bottom-64 — identical by the lossless-merge property,
    // both derived independently here
    "a20_sketch_rollup" ->
      """WITH h AS MATERIALIZED (SELECT DISTINCT l_returnflag, l_orderkey % 8 AS shard,
        |    ('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15))::BIGINT AS hv
        |  FROM lineitem),
        |ps AS (SELECT l_returnflag, shard, hv,
        |    row_number() OVER (PARTITION BY l_returnflag, shard ORDER BY hv) AS rn
        |  FROM h),
        |m AS (SELECT DISTINCT l_returnflag, hv FROM ps WHERE rn <= 64),
        |mr AS (SELECT l_returnflag, hv,
        |    row_number() OVER (PARTITION BY l_returnflag ORDER BY hv) AS rn FROM m),
        |mk AS (SELECT l_returnflag, hv FROM mr WHERE rn = 64),
        |d AS (SELECT DISTINCT l_returnflag, hv FROM h),
        |dr AS (SELECT l_returnflag, hv,
        |    row_number() OVER (PARTITION BY l_returnflag ORDER BY hv) AS rn FROM d),
        |dk AS (SELECT l_returnflag, hv FROM dr WHERE rn = 64),
        |ex AS (SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_nd
        |       FROM lineitem GROUP BY l_returnflag)
        |SELECT ex.l_returnflag,
        |  round(63.0 / (mk.hv::DOUBLE / 1152921504606846976.0), 4) AS kmv_merged,
        |  round(63.0 / (dk.hv::DOUBLE / 1152921504606846976.0), 4) AS kmv_direct,
        |  ex.exact_nd
        |FROM ex JOIN mk USING (l_returnflag) JOIN dk USING (l_returnflag)
        |ORDER BY ex.l_returnflag""".stripMargin,

    // fixed-bin sketch quantile (upper bin edge at the ceil(q*n)-th rank)
    // beside DuckDB's exact quantile_cont ≡ Spark percentile
    "a21_hist_quantile" ->
      """WITH b AS (SELECT l_returnflag,
        |    LEAST(255, GREATEST(0,
        |      CAST(floor(l_extendedprice / 512.0::DOUBLE) AS INT))) AS bin
        |  FROM lineitem),
        |c AS (SELECT l_returnflag, bin, count(*) AS c FROM b GROUP BY 1, 2),
        |cum AS (SELECT l_returnflag, bin,
        |    CAST(sum(c) OVER (PARTITION BY l_returnflag ORDER BY bin)
        |      AS BIGINT) AS cum,
        |    CAST(sum(c) OVER (PARTITION BY l_returnflag) AS BIGINT) AS n
        |  FROM c),
        |qq AS (SELECT unnest([0.5::DOUBLE, 0.9::DOUBLE]) AS q),
        |hit AS (SELECT l_returnflag, q, min(bin) AS qb, max(n) AS n
        |  FROM cum, qq WHERE cum >= ceil(q * n) GROUP BY 1, 2),
        |ex AS (SELECT l_returnflag,
        |    unnest([0.5::DOUBLE, 0.9::DOUBLE]) AS q,
        |    unnest([round(quantile_cont(l_extendedprice, 0.5), 4),
        |            round(quantile_cont(l_extendedprice, 0.9), 4)]) AS exact
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT h.l_returnflag, h.q, (h.qb + 1) * 512.0::DOUBLE AS est,
        |  ex.exact, h.n
        |FROM hit h JOIN ex USING (l_returnflag, q)
        |ORDER BY l_returnflag, q""".stripMargin,

    "j_bloom" ->
      """SELECT l_returnflag, count(*) AS n,
        |  cast(sum(cast(l_quantity as decimal(18,2))) as double) AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 400000.0)
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "j_range" ->
      """WITH e AS (SELECT event_id, user_id, date_trunc('microseconds', ts) AS uts, event_type FROM events),
        |p AS (SELECT event_id, user_id, uts FROM e WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, uts FROM e WHERE event_type = 'click')
        |SELECT p.event_id, count(c.uts) AS n_clicks
        |FROM p LEFT JOIN c ON c.user_id = p.user_id
        |  AND c.uts >= p.uts - INTERVAL 1 HOUR AND c.uts < p.uts
        |GROUP BY p.event_id ORDER BY p.event_id""".stripMargin,

    "a6_cube" ->
      """SELECT grouping(l_returnflag) * 2 + grouping(l_linestatus) AS gid,
        |  l_returnflag, l_linestatus,
        |  cast(sum(cast(l_quantity as decimal(18,2))) as double) AS sum_qty,
        |  count(*) AS n
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,

    "a_catalog_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(sum(CAST(round(l_quantity, 6) AS DECIMAL(38,6))) AS DOUBLE)
        |    AS sum_l_quantity,
        |  CAST(sum(CAST(round(l_quantity, 6) AS DECIMAL(38,6))) AS DOUBLE)
        |    / count(l_quantity) AS avg_l_quantity,
        |  min(l_quantity) AS min_l_quantity,
        |  max(l_quantity) AS max_l_quantity,
        |  CAST(sum(CAST(round(l_extendedprice, 6) AS DECIMAL(38,6))) AS DOUBLE)
        |    AS sum_l_extendedprice,
        |  CAST(sum(CAST(round(l_extendedprice, 6) AS DECIMAL(38,6))) AS DOUBLE)
        |    / count(l_extendedprice) AS avg_l_extendedprice,
        |  min(l_extendedprice) AS min_l_extendedprice,
        |  max(l_extendedprice) AS max_l_extendedprice
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "a_catalog_cube_rollup" ->
      """SELECT l_returnflag, count(*) AS n,
        |  CAST(sum(CAST(round(l_quantity, 6) AS DECIMAL(38,6))) AS DOUBLE)
        |    AS sum_l_quantity,
        |  CAST(sum(CAST(round(l_quantity, 6) AS DECIMAL(38,6))) AS DOUBLE)
        |    / count(l_quantity) AS avg_l_quantity,
        |  min(l_quantity) AS min_l_quantity,
        |  max(l_quantity) AS max_l_quantity
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "a_sql_cube" ->
      """SELECT l_returnflag, count(*) AS n, count(l_quantity) AS n_qty,
        |  CAST(sum(CAST(round(l_quantity, 6) AS DECIMAL(38,6))) AS DOUBLE)
        |    AS sum_qty,
        |  min(l_quantity) AS min_qty, max(l_quantity) AS max_qty
        |FROM lineitem
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "a_catalog_cube_where" ->
      """SELECT l_linestatus, count(*) AS n,
        |  CAST(sum(CAST(round(l_quantity, 6) AS DECIMAL(38,6))) AS DOUBLE)
        |    AS sum_l_quantity,
        |  CAST(sum(CAST(round(l_quantity, 6) AS DECIMAL(38,6))) AS DOUBLE)
        |    / count(l_quantity) AS avg_l_quantity,
        |  min(l_quantity) AS min_l_quantity,
        |  max(l_quantity) AS max_l_quantity
        |FROM lineitem WHERE l_returnflag = 'A'
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,

    "a_sql_cube_filtered" ->
      """SELECT l_linestatus, count(*) AS n,
        |  CAST(sum(CAST(round(l_extendedprice, 6) AS DECIMAL(38,6)))
        |    AS DOUBLE) AS sum_price
        |FROM lineitem
        |WHERE l_returnflag = 'A'
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,

    "a_catalog_distinct" ->
      """SELECT l_returnflag,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS cd_l_partkey
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "a_distinct_scan" ->
      """SELECT l_returnflag,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS cd_l_partkey
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "a_sql_distinct" ->
      """SELECT l_returnflag,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS cd_partkey
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "a_sql_distinct_filtered" ->
      """SELECT l_linestatus,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS cd_partkey
        |FROM lineitem WHERE l_returnflag = 'A'
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,

    "a_sql_join_distinct" ->
      """SELECT s_name,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS parts
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_name ORDER BY s_name""".stripMargin,

    /** The mixed rewrite must land on exactly the single-scan answer:
      * the distinct side re-distincts pairs, the rest re-merges cube
      * partials, and the join on the group key loses nothing.
      */
    "a_sql_mixed" ->
      """SELECT l_returnflag,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS cd_partkey,
        |  count(*) AS n,
        |  CAST(sum(CAST(round(l_quantity, 6) AS DECIMAL(38,6))) AS DOUBLE)
        |    AS sum_qty
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "a_mixed_scan" ->
      """SELECT l_returnflag,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS cd_partkey,
        |  count(*) AS n,
        |  CAST(sum(CAST(round(l_quantity, 6) AS DECIMAL(38,6))) AS DOUBLE)
        |    AS sum_qty
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "a_sql_mixed_filtered" ->
      """SELECT l_linestatus,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS cd_partkey,
        |  CAST(sum(CAST(round(l_extendedprice, 6) AS DECIMAL(38,6)))
        |    AS DOUBLE) AS sum_price
        |FROM lineitem WHERE l_returnflag = 'A'
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,

    /** DuckDB's `quantile_cont` is the same (n−1)·p linear interpolation
      * as Spark's `percentile`; rounding to 6dp both sides is the
      * engine's standard cross-engine idiom.
      */
    "a_sql_quantile" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.5), 6) AS med_qty,
        |  round(quantile_cont(l_quantity, 0.9), 6) AS p90_qty,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "a_sql_quantile_filtered" ->
      """SELECT round(quantile_cont(l_quantity, 0.25), 6) AS q1_qty,
        |  round(quantile_cont(l_quantity, 0.75), 6) AS q3_qty
        |FROM lineitem WHERE l_returnflag = 'A'""".stripMargin,

    "a_sql_quantile_trunc" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.5), 6) AS med_tail
        |FROM lineitem WHERE l_quantity <= 10.0
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "a_catalog_quantile_binned" ->
      """SELECT event_type,
        |  round(quantile_cont(round(value, 2), 0.5), 6) AS med_value,
        |  round(quantile_cont(round(value, 2), 0.95), 6) AS p95_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "a_catalog_quantile" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.5), 6) AS med_qty,
        |  round(quantile_cont(l_quantity, 0.9), 6) AS p90_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "a_quantile_scan" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.5), 6) AS med_qty,
        |  round(quantile_cont(l_quantity, 0.9), 6) AS p90_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "a_sql_avg" ->
      """SELECT l_returnflag,
        |  round(CAST(sum(CAST(round(l_quantity, 6) AS DECIMAL(38,6)))
        |    AS DOUBLE) / count(l_quantity), 6) AS avg_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "a_sql_groupdistinct" ->
      """SELECT l_returnflag,
        |  CAST(count(DISTINCT l_quantity) AS BIGINT) AS cd_qty,
        |  max(l_quantity) AS max_qty,
        |  count(l_quantity) AS n_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "a_sql_multi_distinct" ->
      """SELECT l_returnflag,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS cd_partkey,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS cd_suppkey,
        |  count(*) AS n,
        |  CAST(sum(CAST(round(l_extendedprice, 6) AS DECIMAL(38,6)))
        |    AS DOUBLE) AS sum_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "a_sql_median" ->
      """SELECT l_returnflag, round(median(l_quantity), 6) AS med_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "a_sql_heavy_hitters" ->
      """SELECT l_quantity, count(*) AS n
        |FROM lineitem GROUP BY l_quantity
        |ORDER BY n DESC, l_quantity LIMIT 3""".stripMargin,

    "a_sql_cube_having" ->
      """SELECT l_quantity, count(*) AS n
        |FROM lineitem GROUP BY l_quantity
        |HAVING l_quantity <= 10.0
        |ORDER BY l_quantity""".stripMargin,

    "a_sql_mixed_quantile" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.5), 6) AS med_qty,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS cd_partkey,
        |  CAST(sum(CAST(round(l_extendedprice, 6) AS DECIMAL(38,6)))
        |    AS DOUBLE) AS sum_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "a_catalog_multi_distinct" ->
      """SELECT l_returnflag,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS cd_l_partkey,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS cd_l_suppkey
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "a_multi_distinct_scan" ->
      """SELECT l_returnflag,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS cd_partkey,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS cd_suppkey,
        |  count(*) AS n,
        |  CAST(sum(CAST(round(l_extendedprice, 6) AS DECIMAL(38,6)))
        |    AS DOUBLE) AS sum_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "w_lag_ma" ->
      """SELECT o_custkey, o_orderkey,
        |  lag(o_totalprice, 1) OVER w AS prev_price,
        |  cast(sum(cast(o_totalprice as decimal(18,2)))
        |    OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) as double)
        |  / count(*) OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS ma3
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "j_asof_fwd" ->
      """WITH e AS (SELECT event_id, user_id, date_trunc('microseconds', ts) AS uts, event_type FROM events),
        |u AS (
        |  SELECT user_id, uts, 0 AS side, event_id AS cid, NULL::BIGINT AS pid
        |  FROM e WHERE event_type = 'click'
        |  UNION ALL
        |  SELECT user_id, uts, 1, NULL, event_id FROM e WHERE event_type = 'purchase'),
        |w AS (SELECT *, first_value(pid IGNORE NULLS) OVER (
        |        PARTITION BY user_id ORDER BY uts, side, pid ASC NULLS LAST
        |        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_pid
        |      FROM u)
        |SELECT cid AS event_id, next_pid AS purchase_id
        |FROM w WHERE side = 0 ORDER BY event_id""".stripMargin,

    "w_ntile" ->
      """SELECT o_orderpriority, o_orderkey,
        |  ntile(4) OVER w AS quartile,
        |  round(percent_rank() OVER w, 6) AS pct_rank,
        |  round(cume_dist() OVER w, 6) AS cd
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderpriority, o_orderkey""".stripMargin,

    "w_running_sum" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  cast(sum(cast(l_quantity as decimal(18,2)))
        |    OVER (PARTITION BY l_suppkey
        |          ORDER BY l_shipdate, l_orderkey, l_linenumber, l_extendedprice
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) as double) AS run_qty
        |FROM lineitem ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin,

    "a12_weighted_percentile" ->
      """WITH w AS (SELECT l_returnflag, l_extendedprice,
        |  sum(CAST(l_quantity AS DECIMAL(18,2))) OVER (
        |    PARTITION BY l_returnflag ORDER BY l_extendedprice
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
        |  sum(CAST(l_quantity AS DECIMAL(18,2))) OVER (
        |    PARTITION BY l_returnflag) AS tw
        |  FROM lineitem)
        |SELECT l_returnflag,
        |  min(CASE WHEN cw * 2 >= tw THEN l_extendedprice END) AS w_median,
        |  min(CASE WHEN cw * 10 >= tw * 9 THEN l_extendedprice END) AS w_p90
        |FROM w GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "a13_mode" ->
      """SELECT l_returnflag, l_linestatus, l_quantity AS mode_qty,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag, l_linestatus, l_quantity
        |QUALIFY row_number() OVER (PARTITION BY l_returnflag, l_linestatus
        |                           ORDER BY count(*) DESC, l_quantity ASC) = 1
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q3_shipping" ->
      """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
        |  o_orderpriority,
        |  cast(sum(cast(l_extendedprice * (1 - l_discount) as decimal(18,4)))
        |    as double) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-06-01'
        |  AND l_shipdate > TIMESTAMP '1998-06-01'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,

    "q18_large_orders" ->
      """WITH g AS (SELECT l_orderkey,
        |    sum(CAST(l_quantity AS DECIMAL(18,2))) AS qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 210)
        |SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
        |  o_totalprice, CAST(qty AS DOUBLE) AS sum_qty
        |FROM orders JOIN g ON o_orderkey = l_orderkey
        |ORDER BY sum_qty DESC, o_orderkey""".stripMargin,

    "a19_outlier_iqr" ->
      """WITH q AS (SELECT l_returnflag,
        |    CAST(round(quantile_cont(l_extendedprice, 0.25), 4)
        |      AS DECIMAL(18,4)) AS q1,
        |    CAST(round(quantile_cont(l_extendedprice, 0.75), 4)
        |      AS DECIMAL(18,4)) AS q3
        |  FROM lineitem GROUP BY l_returnflag),
        |f AS (SELECT l_returnflag,
        |    CAST(q1 - 1.5 * (q3 - q1) AS DECIMAL(19,5)) AS lo,
        |    CAST(q3 + 1.5 * (q3 - q1) AS DECIMAL(19,5)) AS hi
        |  FROM q),
        |j AS (SELECT l.l_returnflag,
        |        CAST(l.l_extendedprice AS DECIMAL(18,4)) AS x, f.lo, f.hi
        |      FROM lineitem l JOIN f USING (l_returnflag))
        |SELECT l_returnflag, count(*) AS n,
        |  CAST(sum(CASE WHEN x < lo OR x > hi THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_outliers,
        |  CAST(lo AS DOUBLE) AS lo, CAST(hi AS DOUBLE) AS hi
        |FROM j GROUP BY l_returnflag, lo, hi
        |ORDER BY l_returnflag""".stripMargin,

    "q6_forecast" ->
      """SELECT cast(sum(cast(l_extendedprice * l_discount as decimal(18,4)))
        |    as double) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin,

    "q10_returns" ->
      """SELECT c_custkey, c_name, n_name,
        |  cast(sum(cast(l_extendedprice * (1 - l_discount) as decimal(18,4)))
        |    as double) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,

    "q5_local" ->
      """SELECT n_name,
        |  cast(sum(cast(l_extendedprice * (1 - l_discount) as decimal(18,4)))
        |    as double) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,

    "w_growth" ->
      """WITH wk AS (SELECT c_mktsegment, date_trunc('week', o_orderdate) AS wk,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |    count(*) AS n_orders
        |  FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1, 2)
        |SELECT c_mktsegment, strftime(wk, '%Y-%m-%d') AS week, revenue,
        |  n_orders,
        |  round((revenue - lag(revenue) OVER w) / lag(revenue) OVER w, 6)
        |    AS wow_growth
        |FROM wk
        |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY wk)
        |ORDER BY c_mktsegment, week""".stripMargin)

  /** Shared oracle of the as-of scale pair: j_asof_tol's merge-and-carry
    * replay, output restricted to the 1000 earliest purchase ids (the
    * probe batch both twins use).
    */
  private lazy val asofBatchOracle: String =
    """WITH e AS (SELECT event_id, user_id, date_trunc('microseconds', ts) AS uts, event_type FROM events),
      |u AS (
      |  SELECT user_id, uts, 0 AS side, event_id AS cid, NULL::BIGINT AS pid
      |  FROM e WHERE event_type = 'click'
      |  UNION ALL
      |  SELECT user_id, uts, 1, NULL, event_id FROM e WHERE event_type = 'purchase'),
      |w AS (SELECT *,
      |    last_value(cid IGNORE NULLS) OVER (
      |      PARTITION BY user_id ORDER BY uts, side, cid ASC NULLS FIRST
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_cid,
      |    last_value(CASE WHEN side = 0 THEN uts END IGNORE NULLS) OVER (
      |      PARTITION BY user_id ORDER BY uts, side, cid ASC NULLS FIRST
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_uts
      |  FROM u)
      |SELECT pid AS event_id,
      |  CASE WHEN epoch_us(uts) - epoch_us(asof_uts) <= 1800000000
      |       THEN asof_cid ELSE NULL END AS click_id
      |FROM w WHERE side = 1 ORDER BY event_id LIMIT 1000""".stripMargin

  /** Single copy of the top-2-per-customer contract: the window form
    * (w_topn_per_group) and the bounded-heap aggregate form (w_topn_agg)
    * both hash-match it.
    */
  private lazy val topnOracle: String =
    """SELECT o_custkey, o_orderkey, rk FROM (
      |  SELECT o_custkey, o_orderkey,
      |    row_number() OVER (PARTITION BY o_custkey
      |                       ORDER BY o_totalprice DESC, o_orderkey) AS rk
      |  FROM orders) WHERE rk <= 2 ORDER BY o_custkey, rk""".stripMargin
}
