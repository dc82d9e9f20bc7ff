package graft

import scala.collection.mutable
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.operators.{Behavior, CorpusSignals}

/** Physical-plan shape assertions for the scale-critical operators: these
  * pin the *design claims* (broadcast the small side, reuse the exchange,
  * push filters to the scan, stay map-only) so a refactor that silently
  * degrades the plan — not just the answer — fails the build.
  */
class PlanShapeSpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def countOf(hay: String, needle: String): Int =
    needle.r.findAllMatchIn(hay).size

  /** Evaluate with stats-based auto-broadcast off, so what the plan shows
    * is the *explicit* broadcast hints — the design commitment that holds
    * at 100 TB, not an artifact of the tiny test fixture's sizes.
    */
  private def withoutAutoBroadcast[A](f: => A): A = {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try f finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("j_star: both dims broadcast by hint, one shuffled fact-fact join") {
    withoutAutoBroadcast {
      val p = plan(SparkEntry.queries("j_star")(spark, sf))
      assert(countOf(p, "BroadcastHashJoin") == 2,
        s"customer+nation must broadcast; plan:\n$p")
      assert(countOf(p, "SortMergeJoin") + countOf(p, "ShuffledHashJoin") == 1,
        s"lineitem-orders is the only data-sized join; plan:\n$p")
    }
  }

  test("quality gate is map-only: no exchange anywhere in the plan") {
    val p = plan(CorpusSignals.qualityGate(
      Tables.load(spark, sf, "documents"), "doc_id", "text"))
    assert(!p.contains("Exchange"), s"gate must not shuffle; plan:\n$p")
  }

  test("winsorize bounds relation joins as broadcast, never shuffled") {
    withoutAutoBroadcast {
      val p = plan(SparkEntry.queries("a14_winsorize")(spark, sf))
      assert(p.contains("BroadcastHashJoin"),
        s"3-row bounds must broadcast; plan:\n$p")
      assert(countOf(p, "SortMergeJoin") == 0,
        s"no data-sized join exists in this query; plan:\n$p")
    }
  }

  test("attribution reuses the user exchange between window and aggregate") {
    val df = Behavior.firstTouchAttribution(Tables.loadEvents(spark, sf),
      "user_id", "ts", "event_id", "event_type", "purchase")
    val p = plan(df)
    // one exchange keyed on the user feeds both the window sort and the
    // per-user aggregate; the only other hash exchange keys on the channel
    assert(countOf(p, "Exchange hashpartitioning\\(user_id") == 1,
      s"window + per-user agg must share one user exchange; plan:\n$p")
    assert(countOf(p, "Exchange hashpartitioning") == 2,
      s"expected exactly user + channel exchanges; plan:\n$p")
  }

  test("rolling actives uses the explode-cover equi-join, not a nested loop") {
    withoutAutoBroadcast {
      val df = Behavior.rollingDistinctUsers(Tables.loadEvents(spark, sf),
        "user_id", "ts", days = 7)
      val p = plan(df)
      assert(p.contains("BroadcastHashJoin"),
        s"observed-days trim must broadcast; plan:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"the range join must have been rewritten away; plan:\n$p")
    }
  }

  test("projection+filter reach the parquet scan (pushdown + pruning)") {
    val q = Tables.load(spark, sf, "lineitem")
      .filter(col("l_orderkey") === 1L)
      .select("l_orderkey", "l_quantity")
    val leaves = q.queryExecution.executedPlan.collectLeaves().mkString
    assert(leaves.contains("PushedFilters") &&
      leaves.contains("EqualTo(l_orderkey,1)"),
      s"filter must push into the scan: $leaves")
    assert(leaves.contains("ReadSchema") &&
      !leaves.contains("l_extendedprice"),
      s"scan must read only the projected columns: $leaves")
  }

  test("q1 aggregate is partial+final around a single exchange") {
    val p = plan(SparkEntry.queries("q1_agg")(spark, sf))
    assert(countOf(p, "HashAggregate") >= 2,
      s"map-side partial aggregation missing; plan:\n$p")
    assert(countOf(p, "Exchange hashpartitioning") == 1,
      s"one shuffle on the group key; plan:\n$p")
  }

  test("greedy packing shuffles once on the group key, then streams") {
    val p = plan(SparkEntry.queries("t_pack_greedy")(spark, sf))
    // one hash exchange (the group repartition) feeds the sorted streaming
    // pass; the only other exchange is the output ORDER BY's range part.
    assert(countOf(p, "Exchange hashpartitioning") == 1,
      s"exactly one group-key shuffle; plan:\n$p")
    assert(p.contains("MapPartitions"), s"streaming pass missing; plan:\n$p")
  }

  test("props extraction aggregates partial+final over a two-column scan") {
    val p = plan(SparkEntry.queries("e_props_extract")(spark, sf))
    assert(countOf(p, "HashAggregate") >= 2,
      s"map-side partial aggregation missing; plan:\n$p")
    assert(p.contains("event_type:string,props:string"),
      s"scan must prune to (event_type, props); plan:\n$p")
  }

  test("q18 wide-group aggregate: partial+final, orders joins the filtered groups") {
    val p = plan(SparkEntry.queries("q18_large_orders")(spark, sf))
    // one group per order: partial aggregation must halve the shuffle even
    // though the group count is data-sized
    assert(countOf(p, "HashAggregate") >= 2,
      s"map-side partial aggregation missing; plan:\n$p")
    assert(countOf(p, "Exchange hashpartitioning") >= 1,
      s"aggregate must shuffle on l_orderkey; plan:\n$p")
    // the HAVING filter runs on the aggregate output, before the join with
    // orders — never on the joined result
    assert(p.contains("Filter") && p.contains("Join"),
      s"plan lost its post-agg filter or join; plan:\n$p")
    val filterIdx = p.indexOf("(qty")
    assert(filterIdx >= 0, s"qty filter not found; plan:\n$p")
  }

  test("DSIR score: the B-row ratio relation broadcasts, never shuffles the token stream against it") {
    withoutAutoBroadcast {
      val p = plan(graft.operators.ImportanceWeights.score(
        Tables.load(spark, sf, "documents"), "doc_id", "text",
        targetPred = col("lang") === "en"))
      assert(countOf(p, "BroadcastHashJoin") >= 1,
        s"ratio table must broadcast by hint; plan:\n$p")
      assert(countOf(p, "BroadcastNestedLoopJoin") >= 1,
        s"one-row totals must attach via broadcast; plan:\n$p")
      assert(countOf(p, "HashAggregate") >= 2,
        s"token aggregates must have a partial stage; plan:\n$p")
    }
  }

  test("random projection is scan-local: projecting adds no exchange") {
    val embs = Tables.load(spark, sf, "embeddings")
    val p = plan(embs.select(col("vec_id"),
      graft.operators.Similarity.randomProject(col("embedding"), 8)))
    assert(!p.contains("Exchange"),
      s"projection must stay a map stage; plan:\n$p")
  }

  test("quality-model gradient round is one partial+final aggregate over a map-only feature stage") {
    val p = plan(graft.operators.QualityModel.features(
      Tables.load(spark, sf, "documents"), "doc_id", "text")
      .agg(sum(col("y"))))
    assert(countOf(p, "HashAggregate") >= 2,
      s"gradient pass needs map-side partials; plan:\n$p")
    assert(countOf(p, "Exchange") == 1,
      s"features are scan-local, only the final agg exchanges; plan:\n$p")
  }

  test("semanticDedup blocks on centroid_id: equi-joins only, no all-pairs scan") {
    withoutAutoBroadcast {
      val embs = Tables.load(spark, sf, "embeddings")
      val p = plan(graft.operators.Dedup.semanticDedup(
        embs, "vec_id", "embedding",
        graft.operators.Clustering.seedCentroids(
          embs, "vec_id", "embedding", 8), threshold = 0.43))
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"pair generation must stay blocked by cluster; plan:\n$p")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"within-cluster pairs come from an equi-join on centroid_id; plan:\n$p")
    }
  }

  test("per-component PageRank iterates on equi-joins over pinned inputs") {
    withoutAutoBroadcast {
      import spark.implicits._
      val edges = Seq((1L, 2L, 1L), (2L, 1L, 1L), (3L, 4L, 2L), (4L, 3L, 1L))
        .toDF("src", "dst", "w")
      val comps = graft.operators.Graph.starConnectedComponents(
        edges.select($"src".as("i"), $"dst".as("j")), "i", "j")
      val p = plan(graft.operators.Graph.pageRankScaledPerComponent(
        edges, "src", "dst", "w", comps, iterations = 3))
      // every join in the final plan (last round + label attach) is an
      // equi-join; a nested-loop anywhere means the rank update degraded
      // to an all-pairs scan
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"rank iteration must stay equi-joined; plan:\n$p")
      // the iteration consumes the localCheckpoint-pinned previous round,
      // never the re-derived lineage: the plan reads checkpointed blocks
      assert(p.contains("Scan ExistingRDD") || p.contains("LocalTableScan"),
        s"rounds must iterate on pinned inputs; plan:\n$p")
    }
  }

  test("PQ search is compressed-domain: map-only scan into a top-k, no shuffle") {
    val embs = Tables.load(spark, sf, "embeddings")
    val q = embs.filter(col("vec_id") === 0L).head
      .getAs[scala.collection.Seq[Float]]("embedding").toSeq
    val p = plan(graft.operators.Similarity.pqTopK(
      embs.filter(col("vec_id") =!= 0L), "vec_id", "embedding", q, k = 10))
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must be TakeOrdered, not a global sort; plan:\n$p")
    assert(!p.contains("Exchange"),
      s"encode + ADC lookups are one projection over the scan; plan:\n$p")
  }

  test("epoch shuffle partitions its windows by shard, never a global sort") {
    val p = plan(graft.operators.Sharding.shuffleOrder(
      Tables.load(spark, sf, "documents"), "doc_id", seed = 7L, nShards = 8))
    assert(p.contains("hashpartitioning"),
      s"the one exchange must key on the shard; plan:\n$p")
    assert(!p.contains("SinglePartition") && !p.contains("rangepartitioning"),
      s"no global funnel: per-shard windows only; plan:\n$p")
  }

  test("incremental LSH probe: equi-joins only against the stored index") {
    withoutAutoBroadcast {
      val d = Tables.load(spark, sf, "documents")
      val idx = graft.operators.Dedup.lshIndex(
        d.filter(col("doc_id") % 5 =!= 0), "doc_id", "text", 3, 32, 16)
      val p = plan(graft.operators.Dedup.incrementalLshMatches(
        idx, d.filter(col("doc_id") % 5 === 0), "doc_id", "text", 3, 0.4, 32, 16))
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"candidates must come from the (band, key) equi-join; plan:\n$p")
      assert(countOf(p, "SortMergeJoin") + countOf(p, "ShuffledHashJoin") >= 1,
        s"band probe is a shuffled equi-join; plan:\n$p")
    }
  }

  /** Physical operators that `hit`: (operators above any cache,
    * operators inside the distinct cached plans, nested caches included —
    * a plan cached earlier in the session can stand in for a fragment of
    * a newly cached one). A cached plan runs once per doc however often
    * it is scanned.
    */
  private def sites(df: org.apache.spark.sql.DataFrame)(
      hit: org.apache.spark.sql.execution.SparkPlan => Boolean): (Int, Int) = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    def ops(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => ops(a.executedPlan)
      case other => other +: other.children.flatMap(ops)
    }
    // (cache builder, its cached plan) of every cache the plan scans
    def caches(plan: Seq[SparkPlan]): Seq[(AnyRef, SparkPlan)] =
      plan.collect { case s: InMemoryTableScanExec =>
        val b = s.relation.cacheBuilder
        (b, b.cachedPlan) }
    val top = ops(df.queryExecution.executedPlan)
    val seen = mutable.Set.empty[AnyRef]
    val cached = mutable.ArrayBuffer.empty[SparkPlan]
    var next = caches(top)
    while (next.nonEmpty) {
      val fresh = next.filter(c => seen.add(c._1))
      cached ++= fresh.map(_._2)
      next = fresh.flatMap(c => caches(ops(c._2)))
    }
    (top.count(hit), cached.map(c => ops(c).count(hit)).sum)
  }

  /** Whether an operator evaluates an expression of class `cls`. */
  private def evaluates(cls: Class[_])(
      p: org.apache.spark.sql.execution.SparkPlan): Boolean =
    p.expressions.exists(_.find(cls.isInstance).isDefined)

  /** Operators that evaluate the native band-key expression. */
  private def bandKeySites(df: org.apache.spark.sql.DataFrame): (Int, Int) =
    sites(df)(evaluates(classOf[graft.functions.MinhashBands]))

  test("LSH band keys: one evaluation per signing side, none re-run by the Generate filter") {
    // an inner posexplode over the keys column makes Spark infer
    // isnotnull/size > 0 and push it below the projection computing the
    // keys, which evaluates the expression a second time per row
    val d = Tables.load(spark, sf, "documents")
    val idx = graft.operators.Dedup.lshIndex(
      d.filter(col("doc_id") % 5 =!= 0), "doc_id", "text", 3, 32, 16)
    val incr = graft.operators.Dedup.incrementalLshMatches(
      idx, d.filter(col("doc_id") % 5 === 0), "doc_id", "text", 3, 0.4, 32, 16)
    assert(bandKeySites(incr) == ((2, 0)),
      s"batch side + unpinned corpus side, one site each; plan:\n${plan(incr)}")
    // the self-join's two sides explode keys computed once in the cache
    val pairs = graft.operators.Dedup.minhashLshPairs(
      d, "doc_id", "text", 3, 0.4, 32, 16)
    assert(bandKeySites(pairs) == ((0, 1)),
      s"keys belong in the cached sets, not in each join side; plan:\n${plan(pairs)}")
  }

  test("shingle pipeline: one evaluation site per documents scan in the LSH plans") {
    // a filter on size(sh) would be pushed below the projection computing
    // sh, re-running tokenize + shingle + distinct in the Filter
    import org.apache.spark.sql.execution.FileSourceScanExec
    val shingles = evaluates(classOf[graft.functions.WordShingles]) _
    val scans = (p: org.apache.spark.sql.execution.SparkPlan) =>
      p.isInstanceOf[FileSourceScanExec]
    val d = Tables.load(spark, sf, "documents")
    val idx = graft.operators.Dedup.lshIndex(
      d.filter(col("doc_id") % 5 =!= 0), "doc_id", "text", 3, 32, 16)
    val incr = graft.operators.Dedup.incrementalLshMatches(
      idx, d.filter(col("doc_id") % 5 === 0), "doc_id", "text", 3, 0.4, 32, 16)
    val incrScans = sites(incr)(scans)
    assert(incrScans._1 > 0 && sites(incr)(shingles) == incrScans,
      s"one shingle site per scan ($incrScans); plan:\n${plan(incr)}")
    val pairs = graft.operators.Dedup.minhashLshPairs(
      d, "doc_id", "text", 3, 0.4, 32, 16)
    assert(sites(pairs)(scans) == ((0, 1)) && sites(pairs)(shingles) == ((0, 1)),
      s"the cached sets shingle their one scan once; plan:\n${plan(pairs)}")
  }

  test("count-min cells: one partial+final aggregate, nothing else moves") {
    val toks = Tables.load(spark, sf, "documents")
      .select(explode(graft.functions.TextFunctions.tokens(col("text")))
        .as("token"))
    val p = plan(graft.operators.Sketches.countMinCells(toks, "token", 4, 512))
    assert(countOf(p, "Exchange hashpartitioning") == 1,
      s"the sketch is ONE hash aggregate over (row, cell); plan:\n$p")
    assert(countOf(p, "HashAggregate") == 2,
      s"partial+final combine around the single exchange; plan:\n$p")
  }

  test("corr matrix: one scan, one partial+final aggregate for all 15 moments") {
    val p = plan(SparkEntry.queries("a26_corr_matrix")(spark, sf))
    assert(countOf(p, "Scan parquet|FileScan") == 1,
      s"all pairwise moments must ride one scan; plan:\n$p")
    assert(countOf(p, "HashAggregate") == 2,
      s"one partial+final moment aggregate; plan:\n$p")
  }

  test("prefix-filter join: equi-joins only, no nested-loop or cartesian") {
    val p = plan(graft.operators.Dedup.prefixFilterJaccardPairs(
      Tables.load(spark, sf, "documents"), "doc_id", "text", 3, 2, 5))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"candidate generation and verify are equi-joins; plan:\n$p")
  }

  test("star-CC round: 3 exchanges, 0 joins (window minima + explode legs)") {
    import spark.implicits._
    val e = Seq((5L, 1L), (4L, 2L), (3L, 1L), (9L, 3L))
      .toDF("a", "b")
    val p = plan(graft.operators.Graph.starRound(e))
    assert(countOf(p, "Join") == 0,
      s"neighborhood minima must be windows, not join probes; plan:\n$p")
    assert(countOf(p, "Exchange hashpartitioning") == 3,
      s"one exchange per window + one for the distinct; plan:\n$p")
    assert(!p.contains("SinglePartition") && !p.contains("rangepartitioning"),
      s"no global funnel in a contraction round; plan:\n$p")
  }

  test("fk audit: one scan per (child, edge), broadcast parents, all in one lazy plan") {
    withoutAutoBroadcast {
      val df = SparkEntry.queries("o_fk_audit")(spark, sf)
      val p = plan(df)
      // every parent key set broadcasts; nothing falls back to a shuffle
      assert(countOf(p, "BroadcastHashJoin") == 4,
        s"4 FK edges, each a broadcast left join; plan:\n$p")
      assert(countOf(p, "SortMergeJoin") + countOf(p, "ShuffledHashJoin") == 0,
        s"no data-sized join belongs in the audit; plan:\n$p")
      // single-scan-per-edge shape: the whole 4-edge report is ONE lazy
      // plan with exactly one file scan per (table, edge-role) —
      // lineitem×2 + orders×2 + customer×2 + part + nation = 8 scans,
      // not the 12 eager jobs of a per-edge count() loop (counted in the
      // plan string: AQE's wrapper hides children from collectLeaves)
      val scans = countOf(p, "Scan parquet")
      assert(scans == 8,
        s"expected 8 parquet scans (one per table-edge role), got $scans; " +
          s"plan:\n$p")
    }
  }

  test("mann-whitney / kruskal-wallis: one data-sized aggregate, windows on cells only") {
    val mw = plan(SparkEntry.queries("a36_mannwhitney")(spark, sf))
    val kw = plan(SparkEntry.queries("a37_kruskal")(spark, sf))
    for ((name, p) <- Seq(("a36", mw), ("a37", kw))) {
      // the per-value histogram is the only aggregate that sees data rows;
      // everything after runs on the bounded cell relation, so a global
      // sort of the sample must never appear
      assert(!p.contains("rangepartitioning"),
        s"$name must not globally sort the sample; plan:\n$p")
      assert(p.contains("HashAggregate"),
        s"$name collapses to a histogram first; plan:\n$p")
    }
  }

  test("no Percentile aggregate in any continuous-domain percentile query") {
    // Spark's Percentile is a TypedImperativeAggregate whose final merge
    // holds a distinct-value-sized value->count map on ONE task — OOM at
    // 100 TB on continuous domains. These 13 queries migrated to the
    // RankStats.exactPercentiles crossing walk (r8); this pin fails the
    // build if any of them regresses to the built-in. (a30_bootstrap_ci
    // and e_theil_sen keep percentile() by documented bounded-domain
    // exemption: 32 replicates / calendar-bounded slopes.)
    val migrated = Seq("a4_percentile", "a11_mad", "a14_winsorize",
      "a19_outlier_iqr", "a21_hist_quantile", "v4_equidepth",
      "t_ppl_filter", "v_embed_outliers", "e_session_stats", "e_gap_stats",
      "e_conversion_time", "e_pareto", "e_rfm")
    for (name <- migrated) {
      val p = plan(SparkEntry.queries(name)(spark, sf))
      assert(!p.contains("percentile"),
        s"$name must use the crossing walk, not Percentile; plan:\n$p")
    }
  }

  test("no data-sized ordered-fold aggregation buffers in the vector means") {
    // sort_array(collect_list(...)) inside an aggregate holds one struct
    // per group member in a SINGLE aggregation buffer — O(n) executor
    // state for powerIteration's dim-only groups, O(n/k) for step's
    // (centroid, dim) groups. All three migrated to order-free decimal
    // partial sums (r9, the successor of the r8 percentile migration);
    // this pin fails the build if any regresses to a row-sized buffer.
    import graft.operators.{Clustering, Similarity}
    val embs = Tables.load(spark, sf, "embeddings")
    val stepP = plan(SparkEntry.queries("v_kmeans_step")(spark, sf))
    // powerIteration and pqCodebookRefined collect per round inside the
    // call, so their returned frames carry no aggregate — pin the
    // factored per-round relations instead
    val powerP = plan(Clustering.powerRound(embs, "embedding",
      Array.fill(64)(0.125)))
    val seeds = Similarity.pqCodebook(embs, "vec_id", "embedding")
    val refineP = plan(Similarity.pqRefineMeans(embs, "vec_id", "embedding",
      seeds, m = 8, sub = 8, roundTo = 6))
    for ((name, p) <- Seq(("v_kmeans_step", stepP),
        ("powerRound", powerP), ("pqRefineMeans", refineP))) {
      assert(!p.contains("sort_array(collect_list"),
        s"$name must not buffer a row-sized ordered fold; plan:\n$p")
      assert(!p.contains("collect_list"),
        s"$name must aggregate with bounded state; plan:\n$p")
      assert(p.contains("HashAggregate"),
        s"$name should be a hash aggregate over decimal partials; plan:\n$p")
    }
  }
}
