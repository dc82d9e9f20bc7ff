package graft.core

import scala.collection.mutable
import scala.util.{Failure, Success, Try}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Catalog._

/** Materialized aggregate serving: cube / sketch / pairs layouts, their covering decisions, routed aggregate / distinct / quantile serving, and their delta patches.
  *
  * An internal implementation seam of [[Catalog]] (split out of the
  * single-file class, r11 verdict task #7): every member here is
  * Catalog implementation detail with zero behavior change — the trait
  * exists so the file stays navigable, not as user API.
  */
trait CatalogCubes { self: Catalog =>
  // ---- materialized aggregate cube ----------------------------------------

  /** The cube's stored rows for `base`: one row per distinct group tuple
    * with `__cnt` = count(*), and per measure the order-free decimal
    * partial sum `__sum_<m>` (round-to-6dp fixed point — the engine's
    * standard exact-and-mergeable idiom) plus the non-null count
    * `__cntm_<m>`. `id` renders the group tuple as JSON: injective per
    * tuple (null fields are omitted, which cannot collide across
    * distinct tuples over a fixed field set), so the delta patch shadows
    * by one key like every other keyed layout.
    */
  private[core] def cubeRows(base: DataFrame, groupCols: Seq[String],
                       measures: Seq[String]): DataFrame =
    Catalog.cubePartials(base, groupCols, measures)
      .withColumn("id", to_json(struct(groupCols.map(col): _*)))

  /** Serving view of a (possibly patched) cube — group-count-sized. */
  private[core] def patchedCube(c: CubeLayout): DataFrame =
    patchedCodes(spark.read.parquet(c.path), c.patch)

  /** Materialize the session's aggregate cube on `groupCols` ×
    * `measures` and register it; [[aggregate]] over these (or any SUBSET
    * of them — partial sums re-merge exactly) then reads group-count-
    * sized stored rows instead of scanning the fact table.
    */
  def buildCubeLayout(name: String, groupCols: Seq[String],
                      measures: Seq[String]): String = {
    val s = sessionOf(name)
    val base = Positional.strip(s.current)
    val (dir, rel) = layoutRoot("catalog_cube_")
    val path = dir + "/cube"
    cubeRows(base, groupCols, measures).write.parquet(path)
    val slot = s"cube:${groupCols.mkString(",")}"
    layouts((name, slot)) = CubeLayout(groupCols, measures, path, s.epoch)
    rel.foreach { r =>
      writeRowSig(base, dir, to_json(struct(groupCols.map(col): _*)),
        groupCols ++ measures)
      persistEntry(LayoutManifestEntry(
        session = name, slot = slot, kind = "cube",
        digest = contentDigest(base, groupCols ++ measures), path = Some(r),
        groupCols = Some(groupCols), measures = Some(measures)))
    }
    path
  }

  /** Grouped count/sum/avg, layout-routed: a valid cube layout COVERING
    * the request (caller's groupCols ⊆ the cube's, measures ⊆ the
    * cube's) answers from stored partials — `count(*)` is a sum of
    * `__cnt`, each sum a sum of decimal partial sums, each avg their
    * quotient — so a rollup re-aggregates group-count-sized data and
    * never touches the fact table. Without a covering valid layout the
    * same aggregate runs over the live session plan; the output
    * (groupCols…, `n`, `sum_<m>` double, `avg_<m>` double) is identical
    * either way because the decimal partials are exact and order-free.
    */
  /** The covering-layout decision shared by the cube and sketch entry
    * points (and their [[explainAggregate]]/[[explainDistinct]] dry
    * runs): pick the first VALID candidate that `covers` the request;
    * report param-mismatch when candidates of the kind exist but none
    * covers, stale-epoch when one covers but the session has moved on.
    */
  private[core] def decideCovering[L <: TableLayout](
      name: String, fallbackSlot: String, cands: Seq[(String, L)],
      covers: L => Boolean): (Option[L], RouteReport) = {
    val covering = cands.filter { case (_, l) => covers(l) }
    val valid = sessions.get(name).flatMap(s =>
      covering.find(_._2.builtAtEpoch == s.epoch))
    val slotName = valid.orElse(covering.headOption)
      .orElse(cands.headOption).map(_._1).getOrElse(fallbackSlot)
    val reason =
      if (!sessions.contains(name)) "no-session"
      else if (valid.isDefined) "routed"
      else if (covering.nonEmpty) "stale-epoch"
      else if (cands.nonEmpty) "param-mismatch"
      else "no-layout"
    (valid.map(_._2), RouteReport(slotName,
      if (valid.isDefined) "layout" else "live", reason))
  }

  /** Group-column equality filters, shared by every routed aggregate. */
  private[core] def whereFilter(where: Seq[(String, Any)])(
      df: DataFrame): DataFrame =
    where.foldLeft(df) { case (d, (c, v)) => d.filter(col(c) === v) }

  /** ONE covering rule for cube requests, used by the live routing
    * decision AND the pinned twin — the two must never drift.
    */
  private[core] def cubeCovers(c: CubeLayout, groupCols: Seq[String],
                         measures: Seq[String],
                         whereCols: Set[String]): Boolean =
    (groupCols.toSet ++ whereCols).subsetOf(c.groupCols.toSet) &&
      measures.toSet.subsetOf(c.measures.toSet)

  /** The routed cube-serving plan, shared by [[aggregate]] and
    * [[aggregateAsOf]]: filter the stored rows, re-merge, finish.
    */
  private[core] def serveCubeAggregate(c: CubeLayout, groupCols: Seq[String],
                                 measures: Seq[String],
                                 where: Seq[(String, Any)]): DataFrame =
    Catalog.cubeFinish(
      Catalog.cubeMergePartials(whereFilter(where)(patchedCube(c)),
        groupCols, measures),
      groupCols, measures)

  private[core] def liveCubeAggregate(plan: DataFrame, groupCols: Seq[String],
                                measures: Seq[String],
                                where: Seq[(String, Any)]): DataFrame =
    Catalog.cubeFinish(
      Catalog.cubePartials(whereFilter(where)(plan), groupCols, measures),
      groupCols, measures)

  private[core] def decideCube(name: String, groupCols: Seq[String],
                         measures: Seq[String],
                         whereCols: Set[String] = Set.empty)
      : (Option[CubeLayout], RouteReport) =
    decideCovering[CubeLayout](name, s"cube:${groupCols.mkString(",")}",
      layoutsOf(name).collect { case (slot, c: CubeLayout) => (slot, c) },
      c => cubeCovers(c, groupCols, measures, whereCols))

  /** Dry-run of [[aggregate]]'s routing decision — which cube would
    * serve this grouping/measure/filter set, or why none would. Nothing
    * runs.
    */
  def explainAggregate(name: String, groupCols: Seq[String],
                       measures: Seq[String],
                       where: Seq[(String, Any)] = Nil): RouteReport =
    decideCube(name, groupCols, measures, where.map(_._1).toSet)._2

  /** Grouped count/sum/avg/min/max, optionally under group-column
    * EQUALITY filters (`where`): a predicate on group columns is
    * constant within each group, so a covering cube serves the filtered
    * aggregate by filtering its stored rows — the typed twin of the SQL
    * rewrite's filtered-MV form. A filter on any non-group column makes
    * the cube non-covering (param-mismatch) and the live plan answers.
    */
  def aggregate(name: String, groupCols: Seq[String],
                measures: Seq[String],
                where: Seq[(String, Any)] = Nil): DataFrame = {
    val s = sessionOf(name)
    val (valid, rep) =
      decideCube(name, groupCols, measures, where.map(_._1).toSet)
    recordRoute(rep)
    valid match {
      // every stored statistic is a commutative merge: sums of sums,
      // sums of counts, min of mins, max of maxes — rollup is exact
      case Some(c) => serveCubeAggregate(c, groupCols, measures, where)
      case None =>
        liveCubeAggregate(Positional.strip(s.current), groupCols,
          measures, where)
    }
  }

  /** A cube whose GROUP columns include the value column is a value-level
    * histogram of that column — `__cnt` per distinct (keys…, value) cell —
    * which serves ORDER STATISTICS exactly, not just re-mergeable sums.
    */
  private[core] def quantileCovers(c: CubeLayout, keys: Seq[String],
                             valueCol: String,
                             whereCols: Set[String]): Boolean =
    (keys.toSet ++ whereCols + valueCol).subsetOf(c.groupCols.toSet)

  private[core] def decideQuantile(name: String, keys: Seq[String],
                             valueCol: String,
                             whereCols: Set[String] = Set.empty)
      : (Option[CubeLayout], RouteReport) =
    decideCovering[CubeLayout](name,
      s"cube:${(keys :+ valueCol).mkString(",")}",
      layoutsOf(name).collect { case (slot, c: CubeLayout) => (slot, c) },
      c => quantileCovers(c, keys, valueCol, whereCols))

  /** Dry-run of [[quantiles]]'s routing decision — which cube (as a
    * value histogram) would serve these probes, or why none would.
    */
  def explainQuantile(name: String, keys: Seq[String], valueCol: String,
                      where: Seq[(String, Any)] = Nil): RouteReport =
    decideQuantile(name, keys, valueCol, where.map(_._1).toSet)._2

  /** Exact per-key percentiles of `valueCol` (linear interpolation at
    * rank p·(n−1) — the built-in `percentile` semantics), served from a
    * covering cube layout when one is epoch-valid: the stored rows
    * re-aggregate to a (keys…, value, count) histogram — value-domain-
    * sized, never fact-sized — and [[graft.operators.RankStats
    * .percentilesOfHist]] walks it. The data-sized pass happened once at
    * build time; at 100 TB a median probe reads kilobytes of stored
    * cells instead of sorting the fact table. Without a covering valid
    * layout the identical walk runs over the live rows (the histogram is
    * just built first), so routing changes the plan, never the answer.
    * `where` accepts equality filters on the cube's group columns — a
    * stored (keys, value) cell survives such a filter wholesale, so the
    * filtered order statistics stay exact.
    */
  def quantiles(name: String, keys: Seq[String], valueCol: String,
                probes: Seq[(String, Double)],
                where: Seq[(String, Any)] = Nil): DataFrame = {
    val s = sessionOf(name)
    val (valid, rep) =
      decideQuantile(name, keys, valueCol, where.map(_._1).toSet)
    recordRoute(rep)
    valid match {
      case Some(c) => serveHistQuantiles(c, keys, valueCol, probes, where)
      case None =>
        liveQuantiles(Positional.strip(s.current), keys, valueCol, probes,
          where)
    }
  }

  /** The routed quantile-serving plan, shared by [[quantiles]] and
    * [[quantilesAsOf]]: re-aggregate the stored cells to the requested
    * (keys, value) histogram and walk it. Rollup of counted cells is
    * exact — finer tuples sum into the requested cell, and the walk
    * never needs the dropped dimensions.
    */
  private[core] def serveHistQuantiles(c: CubeLayout, keys: Seq[String],
                                 valueCol: String,
                                 probes: Seq[(String, Double)],
                                 where: Seq[(String, Any)]): DataFrame = {
    val hist = whereFilter(where)(patchedCube(c))
      .groupBy(keys.map(col) :+ col(valueCol).as("__v"): _*)
      .agg(sum(col("__cnt")).as("__m"))
    graft.operators.RankStats.percentilesOfHist(hist, keys, probes)
  }

  private[core] def liveQuantiles(plan: DataFrame, keys: Seq[String],
                            valueCol: String,
                            probes: Seq[(String, Double)],
                            where: Seq[(String, Any)]): DataFrame =
    graft.operators.RankStats.exactPercentiles(
      whereFilter(where)(plan), col(valueCol), keys, probes)

  /** The sketch layout's stored rows: one HLL sketch of `sketchCol` per
    * group tuple, plus the JSON group key the delta patch shadows by.
    */
  private[core] def sketchRows(base: DataFrame, groupCols: Seq[String],
                         sketchCol: String, lgK: Int): DataFrame =
    base.groupBy(groupCols.map(col): _*)
      .agg(hll_sketch_agg(col(sketchCol), lit(lgK)).as("__hll"))
      .withColumn("id", to_json(struct(groupCols.map(col): _*)))

  /** Sketch `sketchCol`'s distinct count per `groupCols` tuple ONCE into
    * an at-rest layout; [[approxDistinct]] over these (or any SUBSET —
    * HLL register unions are exact merges of register state) then reads
    * group-count-sized sketches instead of shuffling distinct keys.
    */
  def buildSketchLayout(name: String, groupCols: Seq[String],
                        sketchCol: String, lgK: Int = 12): String = {
    val s = sessionOf(name)
    val base = Positional.strip(s.current)
    val (dir, rel) = layoutRoot("catalog_sketch_")
    val path = dir + "/sketches"
    sketchRows(base, groupCols, sketchCol, lgK).write.parquet(path)
    val slot = s"sketch:${groupCols.mkString(",")}:$sketchCol"
    layouts((name, slot)) =
      SketchLayout(groupCols, sketchCol, lgK, path, s.epoch)
    rel.foreach { r =>
      writeRowSig(base, dir, to_json(struct(groupCols.map(col): _*)),
        groupCols :+ sketchCol)
      persistEntry(LayoutManifestEntry(
        session = name, slot = slot, kind = "sketch",
        digest = contentDigest(base, groupCols :+ sketchCol), path = Some(r),
        valueCol = Some(sketchCol), n = Some(lgK),
        groupCols = Some(groupCols)))
    }
    path
  }

  /** Approximate distinct count of `sketchCol` per `groupCols` tuple,
    * layout-routed: a valid sketch layout COVERING the request (caller's
    * groupCols ⊆ the layout's, same column, same lgK) answers by
    * unioning stored sketches; otherwise a live `hll_sketch_agg` runs.
    * Output: (groupCols…, `nd_<col>` long).
    *
    * The routing contract here is the SKETCH's contract, stated
    * precisely: routed and live answers agree within the configured
    * relative standard error, not digit-for-digit. Digit equality is
    * unattainable for ANY HLL implementation across merge topologies —
    * Datasketches estimates a directly-updated sketch with the HIP
    * accumulator but a union of sketches with the composite estimator,
    * and Spark's own live aggregation goes through per-partition
    * partials, so even two live runs can differ in the last digits when
    * the partitioning differs. The routed estimate is the BETTER-
    * behaved of the two: it derives from at-rest register state, so it
    * is bit-stable across partitioning, arrival order, and rollup
    * grouping (register max is associative) — SketchLayoutSpec pins the
    * error bound against exact counts, the determinism of the routed
    * path, and that untouched groups' estimates never move under IVM.
    */
  private[core] def decideSketch(name: String, groupCols: Seq[String],
                           sketchCol: String, lgK: Int,
                           whereCols: Set[String])
      : (Option[SketchLayout], RouteReport) =
    // same-lgK guard: a different register width is a different sketch —
    // routing it would change the estimate, not just the plan
    decideCovering[SketchLayout](name,
      s"sketch:${groupCols.mkString(",")}:$sketchCol",
      layoutsOf(name).collect { case (slot, l: SketchLayout) => (slot, l) },
      l => (groupCols.toSet ++ whereCols).subsetOf(l.groupCols.toSet) &&
        l.col == sketchCol && l.lgK == lgK)

  /** Dry-run of [[approxDistinct]]'s routing decision. Nothing runs. */
  def explainDistinct(name: String, groupCols: Seq[String],
                      sketchCol: String, lgK: Int = 12,
                      where: Seq[(String, Any)] = Nil): RouteReport =
    decideSketch(name, groupCols, sketchCol, lgK,
      where.map(_._1).toSet)._2

  /** See the class-level routing contract; `where` takes group-column
    * equality filters, which (being constant within each group) select
    * whole stored sketches — the filtered rollup unions exactly the
    * surviving groups' register state.
    */
  def approxDistinct(name: String, groupCols: Seq[String],
                     sketchCol: String, lgK: Int = 12,
                     where: Seq[(String, Any)] = Nil): DataFrame = {
    val s = sessionOf(name)
    val (valid, rep) =
      decideSketch(name, groupCols, sketchCol, lgK, where.map(_._1).toSet)
    recordRoute(rep)
    val out = s"nd_$sketchCol"
    valid match {
      case Some(l) =>
        whereFilter(where)(patchedCodes(spark.read.parquet(l.path),
            l.patch))
          .groupBy(groupCols.map(col): _*)
          .agg(hll_sketch_estimate(
            hll_union_agg(col("__hll"), lit(false))).as(out))
      case None =>
        whereFilter(where)(Positional.strip(s.current))
          .groupBy(groupCols.map(col): _*)
          .agg(hll_sketch_estimate(
            hll_sketch_agg(col(sketchCol), lit(lgK))).as(out))
    }
  }

  /** The distinct group keys a delta touches: the touched (edited +
    * inserted) rows' CURRENT groups plus the deleted rows' PRE-DELETE
    * groups (`retracted`). Both are the delta's local images
    * ([[CatalogRefresh.DeltaImages]]), so the keys evaluate on the
    * driver: no job, no pass over the session.
    */
  private[core] def affectedGroupKeys(groupCols: Seq[String],
                                      touched: DataFrame,
                                      retracted: Option[DataFrame])
      : Seq[String] = {
    def keys(df: DataFrame) =
      df.select(to_json(struct(groupCols.map(col): _*))).collect()
        .map(_.getString(0))
    (keys(touched) ++ retracted.fold(Array.empty[String])(keys))
      .distinct.toSeq
  }

  /** ONE pass recomputing the affected keys of every cube and pairs slot
    * of `stale` (the layouts built at the epoch `img` spans) that takes
    * the recompute step ([[groupedStep]]) — by slot, its affected keys
    * and the rows its stored relation holds for them ([[cubeRows]] /
    * [[pairsRows]] over the rows of those keys). One grouping-sets
    * aggregate over the rows matching ANY slot's affected keys computes
    * every slot's grouping (one slot's is a plain group-by): a group
    * whose key a slot lists holds all its rows (the slot's predicate
    * alone admits them), so its cube statistics and its pairs tuple are
    * exact; groups another slot's predicate admitted in part are dropped
    * by key before the collect, so the driver holds one row per affected
    * key — edit-sized, the add leg [[mergeLegs]] collects anyway. A
    * deleted row retracts from the same cube group and pairs tuple on
    * both slots, so a delete refreshing a cube and a pairs layout pays
    * one pass over the session, not one per slot.
    *
    * The grouping sets are distinct as column SETS: a cube on (a, b) and
    * a pairs layout on group (b) counting `a` group by one set. Spark
    * keeps duplicate grouping sets apart, so listing both orders would
    * return every such group twice under the same grouping id.
    */
  private[core] def sharedRecompute(s: EditorSession,
                                    img: DeltaImages,
                                    stale: Seq[(String, TableLayout)])
      : Map[String, (Seq[String], DataFrame)] = {
    // per slot: its key columns, measures, stored statistic columns and
    // affected keys
    case class Req(slot: String, ks: Seq[String], ms: Seq[String],
                   stats: Seq[String], keys: Seq[String])
    val reqs = stale.flatMap { case (slot, l) =>
      val shape = l match {
        case c: CubeLayout => Some((c.groupCols, c.measures,
          "__cnt" +: c.measures.flatMap(m =>
            Seq(s"__sum_$m", s"__cntm_$m", s"__min_$m", s"__max_$m"))))
        case p: PairsLayout =>
          Some((p.groupCols :+ p.col, Seq.empty[String], Seq.empty[String]))
        case _ => None
      }
      shape.flatMap { case (ks, ms, stats) =>
        val (gc, vc) = groupedCols(l).get
        groupedStep(img, gc, vc, canMerge = true) match {
          case GroupedStep.Recompute(touched, retracted) =>
            Some(Req(slot, ks, ms, stats,
              affectedGroupKeys(ks, touched, retracted)))
          case _ => None
        }
      }
    }
    if (reqs.isEmpty) return Map.empty
    def keyOf(cols: Seq[String]) = to_json(struct(cols.map(col): _*))
    val all = reqs.flatMap(_.ks).distinct
    val sets = reqs.map(_.ks).distinctBy(_.toSet)
    // grouping_id(): bit (n-1-i) is set when all(i) is NOT in the set
    def gid(set: Seq[String]): Long = all.indices.foldLeft(0L) { (g, i) =>
      if (set.contains(all(i))) g else g | (1L << (all.length - 1 - i))
    }
    def mine(r: Req) =
      col("__gid") === gid(r.ks) && keyOf(r.ks).isin(r.keys: _*)
    val aggs = grouping_id().as("__gid") +:
      Catalog.cubeAggs(reqs.flatMap(_.ms).distinct)
    val grouped = Positional.strip(s.current)
      .filter(reqs.map(r => keyOf(r.ks).isin(r.keys: _*)).reduce(_ || _))
      .groupingSets(sets.map(_.map(col)), all.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
    val local = collectLocal(grouped.filter(reqs.map(mine).reduce(_ || _)))
    reqs.map(r => r.slot -> ((r.keys, local.filter(mine(r))
      .select((r.ks ++ r.stats).map(col): _*)
      .withColumn("id", keyOf(r.ks))))).toMap
  }

  // ---- exact distinct-pairs layout -----------------------------------------

  /** The pairs layout's stored rows: the distinct (groupCols…, col)
    * tuples plus the JSON tuple key the delta patch shadows by.
    */
  private[core] def pairsRows(base: DataFrame, groupCols: Seq[String],
                        pairCol: String): DataFrame = {
    val cols = groupCols :+ pairCol
    base.select(cols.map(col): _*).distinct()
      .withColumn("id", to_json(struct(cols.map(col): _*)))
  }

  /** Materialize the distinct (groupCols…, col) projection ONCE;
    * [[distinctCount]] over these group columns (or any SUBSET) then
    * answers `COUNT(DISTINCT col)` EXACTLY from pairs-count-sized
    * stored rows — and SQL text routes too ([[graft.plans
    * .SqlLayoutRouting]] rewrites a distinct-count aggregate over the
    * session view onto the stored pairs; r9 verdict task #5, the routed
    * alternative to the rewrite's conservative DISTINCT refusal).
    */
  def buildPairsLayout(name: String, groupCols: Seq[String],
                       pairCol: String): String = {
    val s = sessionOf(name)
    val base = Positional.strip(s.current)
    val (dir, rel) = layoutRoot("catalog_pairs_")
    val path = dir + "/pairs"
    pairsRows(base, groupCols, pairCol).write.parquet(path)
    val slot = s"pairs:${groupCols.mkString(",")}:$pairCol"
    layouts((name, slot)) = PairsLayout(groupCols, pairCol, path, s.epoch)
    rel.foreach { r =>
      writeRowSig(base, dir,
        to_json(struct((groupCols :+ pairCol).map(col): _*)),
        groupCols :+ pairCol)
      persistEntry(LayoutManifestEntry(
        session = name, slot = slot, kind = "pairs",
        digest = contentDigest(base, groupCols :+ pairCol), path = Some(r),
        valueCol = Some(pairCol), groupCols = Some(groupCols)))
    }
    path
  }

  /** ONE covering rule for pairs requests, shared live/pinned. */
  private[core] def pairsCovers(l: PairsLayout, groupCols: Seq[String],
                          pairCol: String,
                          whereCols: Set[String]): Boolean =
    (groupCols.toSet ++ whereCols).subsetOf(l.groupCols.toSet) &&
      l.col == pairCol

  /** The exact distinct over either source — the shared serving tail. */
  private[core] def pairsDistinctOver(src: DataFrame, groupCols: Seq[String],
                                pairCol: String): DataFrame =
    src.groupBy(groupCols.map(col): _*)
      .agg(count_distinct(col(pairCol)).as(s"cd_$pairCol"))

  private[core] def decidePairs(name: String, groupCols: Seq[String],
                          pairCol: String, whereCols: Set[String])
      : (Option[PairsLayout], RouteReport) =
    decideCovering[PairsLayout](name,
      s"pairs:${groupCols.mkString(",")}:$pairCol",
      layoutsOf(name).collect { case (slot, l: PairsLayout) => (slot, l) },
      l => pairsCovers(l, groupCols, pairCol, whereCols))

  /** The exact-distinct routing decision: a covering pairs layout is the
    * purpose-built source, but a CUBE whose group columns include the
    * counted column serves the same answer (its stored rows are one per
    * distinct tuple — the SQL rewrite already exploits this), so when no
    * valid pairs layout covers, a covering histogram cube routes instead
    * of falling to the fact scan. When neither serves, the report is the
    * pairs decision — the primary layout kind for this request.
    */
  private[core] def decideDistinct(name: String, groupCols: Seq[String],
                             pairCol: String, whereCols: Set[String])
      : (Option[Either[PairsLayout, CubeLayout]], RouteReport) =
    decidePairs(name, groupCols, pairCol, whereCols) match {
      case (Some(l), rep) => (Some(Left(l)), rep)
      case (None, prep) =>
        decideCovering[CubeLayout](name, prep.slot,
          layoutsOf(name).collect { case (slot, c: CubeLayout) =>
            (slot, c) },
          (c: CubeLayout) =>
            quantileCovers(c, groupCols, pairCol, whereCols)) match {
          case (Some(c), crep) => (Some(Right(c)), crep)
          case (None, _) => (None, prep)
        }
    }

  /** Dry-run of [[distinctCount]]'s routing decision — which pairs
    * layout (or fallback histogram cube) would serve this
    * grouping/column/filter set, or why none would. Nothing runs.
    */
  def explainDistinctExact(name: String, groupCols: Seq[String],
                           pairCol: String,
                           where: Seq[(String, Any)] = Nil): RouteReport =
    decideDistinct(name, groupCols, pairCol, where.map(_._1).toSet)._2

  /** EXACT distinct count of `pairCol` per `groupCols` tuple,
    * layout-routed: a valid pairs layout COVERING the request (caller's
    * groupCols ⊆ the layout's, same counted column, filters on layout
    * group columns only) re-distincts pairs-count-sized stored rows; a
    * cube whose group columns include `pairCol` serves the same exact
    * answer when no pairs layout covers ([[decideDistinct]]); otherwise
    * the live distinct aggregate runs over the session plan. Output
    * (groupCols…, `cd_<col>` long) — digit-equal every way, this is the
    * exact sibling of [[approxDistinct]].
    */
  def distinctCount(name: String, groupCols: Seq[String], pairCol: String,
                    where: Seq[(String, Any)] = Nil): DataFrame = {
    val s = sessionOf(name)
    val (valid, rep) =
      decideDistinct(name, groupCols, pairCol, where.map(_._1).toSet)
    recordRoute(rep)
    val src = valid match {
      case Some(Left(l)) =>
        whereFilter(where)(patchedCodes(spark.read.parquet(l.path),
          l.patch))
      case Some(Right(c)) => whereFilter(where)(patchedCube(c))
      case None => whereFilter(where)(Positional.strip(s.current))
    }
    pairsDistinctOver(src, groupCols, pairCol)
  }

  /** EXACT distinct counts of SEVERAL columns per `groupCols` tuple in
    * one call — the typed twin of the SQL N-way split: each column
    * serves from its own covering source (pairs layout preferred,
    * histogram-cube fallback, live otherwise — [[decideDistinct]] per
    * column) and the per-column group-count-sized results join back on
    * the group key, null-safe (null is a group). Every side derives
    * from the same table, so the group sets are identical and the inner
    * join loses nothing. Output (groupCols…, `cd_<col>`… longs).
    */
  def distinctCounts(name: String, groupCols: Seq[String],
                     pairCols: Seq[String],
                     where: Seq[(String, Any)] = Nil): DataFrame = {
    require(pairCols.nonEmpty, "distinctCounts needs at least one column")
    require(pairCols.distinct == pairCols,
      s"distinctCounts columns must be distinct: $pairCols")
    pairCols.map(c => distinctCount(name, groupCols, c, where))
      .reduce { (a, b) =>
        if (groupCols.isEmpty) a.crossJoin(b)
        else {
          val cond = groupCols.map(g => a(g) <=> b(g)).reduce(_ && _)
          groupCols.foldLeft(a.join(b, cond))((df, g) => df.drop(b(g)))
        }
      }
  }

  /** Pairs delta: every touched or retracted tuple's EXISTENCE
    * recomputes from the live plan in the delta's shared pass
    * ([[sharedRecompute]]; a tuple stays iff any current row still
    * carries it) and shadows by tuple key — same recompute-the-affected-
    * keys shape as [[patchCube]], with the full tuple as the key. A cell
    * edit to any stored column rebuilds instead (the pre-edit tuple is
    * unrecoverable), handled by [[refreshSlot]].
    */
  private[core] def patchPairs(name: String, s: EditorSession, slot: String,
                         l: PairsLayout, img: DeltaImages): Unit = {
    val cols = l.groupCols :+ l.col
    val (dirtyKeys, add0) = img.recomputed(slot)
    val legs = mergeLegs(dirtyKeys.toArray[Any], l.patch, add0)
    applyLegs(name, slot, s, img, legs) { lg =>
      // merge-compact: pairs-count-sized copy, no fact scan
      val (_, path) = compactKeyed(name, slot, s, img,
        spark.read.parquet(l.path), lg, "id", "catalog_pairs_",
        "pairs",
        Some((to_json(struct(cols.map(col): _*)), cols)))
      l.copy(builtAtEpoch = s.epoch, path = path, patch = None)
    }(patch => l.copy(builtAtEpoch = s.epoch, patch = Some(patch)))
  }

  /** Sketch delta for gestures that spare the group columns (cell edits
    * of the sketched column, inserts, deletes with recoverable
    * pre-images): HLL supports no deletion, so the affected groups
    * RE-SKETCH wholesale from the live plan (one group-key-filtered
    * pass) and shadow the stored rows by key — a group emptied by
    * deletes shadows with no replacement row (retraction).
    */
  private[core] def patchSketch(name: String, s: EditorSession, slot: String,
                          l: SketchLayout, img: DeltaImages,
                          touched: DataFrame,
                          retracted: Option[DataFrame]): Unit = {
    val keyExpr = to_json(struct(l.groupCols.map(col): _*))
    val dirtyKeys = affectedGroupKeys(l.groupCols, touched, retracted)
    val affected = Positional.strip(s.current)
      .filter(keyExpr.isin(dirtyKeys: _*))
    val add0 = sketchRows(affected, l.groupCols, l.col, l.lgK)
    val legs = mergeLegs(dirtyKeys.toArray[Any], l.patch, add0)
    applyLegs(name, slot, s, img, legs) { lg =>
      // merge-compact: sketch-row copy, no fact re-sketch
      val (_, path) = compactKeyed(name, slot, s, img,
        spark.read.parquet(l.path), lg, "id", "catalog_sketch_",
        "sketches",
        Some((to_json(struct(l.groupCols.map(col): _*)),
          l.groupCols :+ l.col)))
      l.copy(builtAtEpoch = s.epoch, path = path, patch = None)
    }(patch => l.copy(builtAtEpoch = s.epoch, patch = Some(patch)))
  }

  /** PURE-INSERT cube delta (the ingest hot path): the affected groups'
    * new cells are the MERGE of their stored partials with the batch's
    * partials — `__cnt`/`__cntm` sums of sums, `__sum` decimal sums,
    * `__min`/`__max` of mins/maxes, all exact because inserts only add
    * rows — so the refresh reads the batch plan (batch-sized pinned
    * blocks) plus the group-count-sized stored cube and NEVER scans the
    * base table. [[patchCube]]'s recompute path (a full pass over the
    * affected groups' rows) remains for deletes and relevant cell edits,
    * where merging is impossible.
    * Identical stored state by the very law the cube serves with:
    * [[serveCubeAggregate]] re-merges stored rows the same way.
    */
  private[core] def patchCubeInsert(name: String, s: EditorSession,
                              slot: String, c: CubeLayout,
                              img: DeltaImages, rows: DataFrame): Unit = {
    // ONE pass over the batch (r15): the partial cells collect once
    // (group-count-sized), the shadow keys read off them driver-side,
    // and the merge job unions the collected cells back as a local
    // relation — the old form aggregated the batch twice (a keys-only
    // job, then again inside the merge job's plan), which is two passes
    // over the delta at 100 TB too. Bit-equal: the merge sees the
    // identical partial cells, just materialized.
    val batch = cubeRows(rows, c.groupCols, c.measures)
    val batchCells = batch.collect()
    val idIdx = batch.schema.fieldIndex("id")
    val keys: Array[Any] = batchCells.map(_.get(idIdx))
    if (keys.contains(null)) { rebuildSlot(name, c); return } // no shadow key
    val batchLocal = spark.createDataFrame(
      java.util.Arrays.asList(batchCells: _*), batch.schema)
    val storedAffected = patchedCube(c)
      .filter(col("id").isInCollection(keys.toIndexedSeq)).drop("id")
    val add0 = Catalog.cubeMergePartials(
        storedAffected.unionByName(batchLocal.drop("id")),
        c.groupCols, c.measures)
      .withColumn("id", to_json(struct(c.groupCols.map(col): _*)))
    val legs = mergeLegs(keys, c.patch, add0)
    applyLegs(name, slot, s, img, legs) { lg =>
      val (_, path) = compactKeyed(name, slot, s, img,
        spark.read.parquet(c.path), lg, "id", "catalog_cube_",
        "cube",
        Some((to_json(struct(c.groupCols.map(col): _*)),
          c.groupCols ++ c.measures)))
      c.copy(builtAtEpoch = s.epoch, path = path, patch = None)
    }(patch => c.copy(builtAtEpoch = s.epoch, patch = Some(patch)))
  }

  /** PURE-INSERT pairs delta: inserts only ADD tuples, so the add-leg is
    * simply the batch's distinct tuples (an already-stored tuple shadows
    * and re-adds the identical row) — batch-sized work, no base scan.
    */
  private[core] def patchPairsInsert(name: String, s: EditorSession,
                               slot: String, l: PairsLayout,
                               img: DeltaImages, rows: DataFrame): Unit = {
    // ONE pass over the batch (r15): distinct tuples collect once; keys
    // read off them driver-side and the legs merge consumes the local
    // relation — the old form ran the distinct twice (keys job + the
    // add-leg collect inside mergeLegs).
    val cols = l.groupCols :+ l.col
    val add0p = pairsRows(rows, l.groupCols, l.col)
    val addCells = add0p.collect()
    val idIdx = add0p.schema.fieldIndex("id")
    val keys: Array[Any] = addCells.map(_.get(idIdx))
    if (keys.contains(null)) { rebuildSlot(name, l); return } // no shadow key
    val add0 = spark.createDataFrame(
      java.util.Arrays.asList(addCells: _*), add0p.schema)
    val legs = mergeLegs(keys, l.patch, add0)
    applyLegs(name, slot, s, img, legs) { lg =>
      val (_, path) = compactKeyed(name, slot, s, img,
        spark.read.parquet(l.path), lg, "id", "catalog_pairs_",
        "pairs",
        Some((to_json(struct(cols.map(col): _*)), cols)))
      l.copy(builtAtEpoch = s.epoch, path = path, patch = None)
    }(patch => l.copy(builtAtEpoch = s.epoch, patch = Some(patch)))
  }

  /** Cube delta for gestures that spare the group columns: the affected
    * groups are the touched rows' CURRENT group tuples plus (for
    * deletes) the deleted rows' pre-delete tuples — those groups' rows
    * recompute in the delta's shared group-key-filtered pass over the
    * live plan ([[sharedRecompute]]) and shadow the stored rows by key.
    * Every affected key shadows EXPLICITLY (not just the keys the add
    * rows mention), so a group whose last row was deleted vanishes from
    * the served cube without a rebuild. A group-column CELL edit still
    * cannot delta-patch (the rows' previous groups are unrecoverable
    * from current state) and falls to rebuild in [[refreshSlot]].
    */
  private[core] def patchCube(name: String, s: EditorSession, slot: String,
                        c: CubeLayout, img: DeltaImages): Unit = {
    val (dirtyKeys, add0) = img.recomputed(slot)
    val legs = mergeLegs(dirtyKeys.toArray[Any], c.patch, add0)
    applyLegs(name, slot, s, img, legs) { lg =>
      // merge-compact: group-count-sized copy, no fact scan
      val (_, path) = compactKeyed(name, slot, s, img,
        spark.read.parquet(c.path), lg, "id", "catalog_cube_",
        "cube",
        Some((to_json(struct(c.groupCols.map(col): _*)),
          c.groupCols ++ c.measures)))
      c.copy(builtAtEpoch = s.epoch, path = path, patch = None)
    }(patch => c.copy(builtAtEpoch = s.epoch, patch = Some(patch)))
  }
}
