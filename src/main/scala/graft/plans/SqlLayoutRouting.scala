package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types
import org.apache.spark.sql.types.Decimal

/** SQL-text routing through catalog-owned at-rest layouts (r8 verdict
  * task #4).
  *
  * The typed entry points (`Catalog.rangeScan` / `Catalog.join`) route
  * through stored layouts because the CALLER names the predicate and the
  * catalog picks the plan. SQL text planned by `Catalog.sql` used to
  * bypass all of that: the views resolve to the live session plans, so a
  * range predicate re-read every part file and an equi-join of two
  * bucketed sessions shuffled both sides. This rule closes the gap at
  * ANALYSIS time, where a session view is still identifiable as
  * `SubqueryAlias(viewName, …)` (after optimization the alias is gone
  * and column pruning has rewritten the subtree — too late to match
  * safely):
  *
  *  - `Filter(cond, view)` where `cond` bounds every column of an
  *    epoch-valid CLUSTERED layout → the child scan is replaced by a
  *    read of only the part files whose min/max box intersects the
  *    bounds (the same [[graft.io.SkippingIndex]] pruning `rangeScan`
  *    and `rangeScanBox` use).
  *    The ORIGINAL filter stays on top, so the answer is byte-identical
  *    no matter how coarse the index is — skipping is a performance
  *    contract, never a correctness one.
  *  - `Join(viewL, viewR, …, cond)` whose equi-condition links the keys
  *    of two epoch-valid BUCKETED layouts with equal bucket counts →
  *    both children read the bucketed tables and the join plans with no
  *    Exchange (co-located by storage).
  *
  * Each replacement is wrapped in a Project aliasing the new scan's
  * columns back to the view's attribute ids, so every reference above
  * the rewrite site stays resolved.
  *
  * Routing changes the plan, never the answer: only epoch-valid layouts
  * are ever published to [[SqlRouting]] (an edited session's SQL falls
  * back to the live view untouched), and a predicate shape the
  * conservative matcher doesn't recognize simply doesn't route.
  *
  * Activation: `Catalog.sql` publishes routes for the duration of the
  * call and the rule is injected by [[GraftExtensions]]
  * (`injectPostHocResolutionRule` — it needs the analyzed-but-unoptimized
  * plan). On a session built without the extensions the rule never runs
  * and SQL plans exactly as before.
  */
case class SqlLayoutRouting(spark: SparkSession) extends Rule[LogicalPlan] {
  import SqlRouting._

  // WithSubqueries: at analysis time a subquery (EXISTS / IN / scalar)
  // is still a SubqueryExpression whose INNER plan a plain transform
  // never visits, so a range predicate inside `EXISTS (SELECT … WHERE
  // l_price BETWEEN …)` used to re-read every file of a ranged session
  // (r12 verdict task #1 — the decision is "routing fires inside
  // subqueries", pinned by SqlRoutingSpec). The rewrite is purely local
  // (remap aliases the pruned scan back to the view's attribute ids),
  // so outer references and decorrelation are unaffected; a correlated
  // conjunct is just an unmatched conjunct to the bound extractors,
  // which only loosens pruning.
  //
  // transformDOWN, not up (r13 review finding #3): the aggregate
  // rewrites (cube / pairs / mixed / grouping-sets) match Filter(cond,
  // view) INSIDE their subtree — a bottom-up pass would let tryRanged
  // rewrite that Filter first (fact-file pruning, MBs), destroying the
  // shape the group-count-sized rewrite (KBs) needs. Top-down the
  // Aggregate is offered first; only when every aggregate rewrite
  // declines does the descent reach the Filter and apply the pruning
  // fallback — best rewrite wins, pruning remains the floor.
  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!SqlRouting.hasRoutes(spark)) plan
    else plan.transformDownWithSubqueries {
      case j: Join =>
        tryBucketedJoin(j).getOrElse(j)
      case a: Aggregate =>
        tryCube(a).orElse(tryDistinctPairs(a)).orElse(tryMixed(a))
          .orElse(tryGroupingSets(a))
          .orElse(tryJoinAgg(a))
          .getOrElse(a)
      case f @ Filter(cond, SessionView(name, sa)) =>
        tryRanged(f, cond, name, sa).getOrElse(f)
    }

  // ---- ranged -------------------------------------------------------------

  private def tryRanged(f: Filter, cond: Expression, name: String,
                        sa: SubqueryAlias): Option[Filter] = {
    // most-dimensions-first: a 3-D layout wins when the predicate bounds
    // all THREE of its columns, a 2-D when it bounds both of its two —
    // more bounded dimensions = more pruning. Each dimension's bounds
    // resolve in its OWN type (numeric through the double fold,
    // timestamp/date/string through boundsTyped), so a time × numeric ×
    // type box routes too.
    routesFor(spark, name).collect {
      case r: ClusteredSqlRoute => (r, r.cols.map(rangeBounds(cond, sa, _)))
    }.collect { case (r, bs) if bs.forall(_.isDefined) => (r, bs.flatten) }
      .sortBy(-_._1.cols.length).iterator
      .flatMap { case (r, bs) =>
        remap(sa.output, r.pruned(bs).queryExecution.analyzed).map {
          child => r.onRoute(); f.copy(child = child)
        }
      }.nextOption()
  }

  /** The ranged route's endpoints: the numeric bounds when the column
    * is numeric, otherwise the typed bounds (timestamp / date /
    * string). Infinite numeric sides become open sides.
    */
  private def rangeBounds(cond: Expression, sa: SubqueryAlias,
                          column: String)
      : Option[(Option[Any], Option[Any])] =
    boundsOn(cond, sa, column).map { case (lo, hi) =>
      (if (lo.isNegInfinity) None else Some(lo: Any),
        if (hi.isPosInfinity) None else Some(hi: Any))
    }.orElse(boundsTyped(cond, sa, column))

  /** Conjunctive bounds on `column` for the NON-numeric ordered types
    * (timestamp / timestamp_ntz / date / string): the analyzer has
    * already coerced each comparison's literal side to the attribute's
    * exact type, so a foldable same-type side is a bound; tightening
    * uses the type's interpreted ordering and the result converts to
    * EXTERNAL Scala values (Instant / LocalDate / String) for `lit`.
    * Requires at least one finite side. A conjunct whose literal side is
    * NOT a foldable same-type value is skipped, which only LOOSENS the
    * derived bounds — safe, because the caller keeps the original Filter
    * on top (pruning stays conservative); `bad` refuses outright only
    * when two SUPPORTED bounds on the column disagree about its type
    * (ADVICE r10: the doc used to overstate this as refusing any
    * differently-typed conjunct).
    */
  private def boundsTyped(cond: Expression, sa: SubqueryAlias,
                          column: String)
      : Option[(Option[Any], Option[Any])] = {
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    import org.apache.spark.sql.catalyst.util.TypeUtils
    def attrOf(e: Expression): Option[AttributeReference] = e match {
      case a: AttributeReference
          if a.name == column && sa.outputSet.contains(a) => Some(a)
      case _ => None
    }
    def supported(dt: types.DataType): Boolean = dt match {
      case types.TimestampType | types.TimestampNTZType |
           types.DateType | types.StringType => true
      case _ => false
    }
    var dt: Option[types.DataType] = None
    var lo: Option[Any] = None // internal values
    var hi: Option[Any] = None
    var bad = false
    def put(isLo: Boolean, a: AttributeReference, l: Expression): Unit = {
      if (l.foldable && l.dataType == a.dataType && supported(a.dataType))
        Option(l.eval()).foreach { v =>
          if (dt.exists(_ != a.dataType)) bad = true
          else {
            dt = Some(a.dataType)
            val ord = TypeUtils.getInterpretedOrdering(a.dataType)
            if (isLo)
              lo = Some(lo.fold(v)(c => if (ord.compare(v, c) > 0) v else c))
            else
              hi = Some(hi.fold(v)(c => if (ord.compare(v, c) < 0) v else c))
          }
        }
    }
    // guards (not bare binds) keep the attr-on-the-RIGHT cases reachable:
    // an unguarded `GreaterThanOrEqual(a, l)` matches every operand order,
    // so `TIMESTAMP '…' <= ts` used to fall through boundless
    splitConjuncts(cond).foreach {
      case GreaterThanOrEqual(a, l) if attrOf(a).isDefined =>
        put(true, attrOf(a).get, l)
      case GreaterThan(a, l) if attrOf(a).isDefined =>
        put(true, attrOf(a).get, l)
      case LessThanOrEqual(a, l) if attrOf(a).isDefined =>
        put(false, attrOf(a).get, l)
      case LessThan(a, l) if attrOf(a).isDefined =>
        put(false, attrOf(a).get, l)
      case GreaterThanOrEqual(l, a) if attrOf(a).isDefined =>
        put(false, attrOf(a).get, l)
      case GreaterThan(l, a) if attrOf(a).isDefined =>
        put(false, attrOf(a).get, l)
      case LessThanOrEqual(l, a) if attrOf(a).isDefined =>
        put(true, attrOf(a).get, l)
      case LessThan(l, a) if attrOf(a).isDefined =>
        put(true, attrOf(a).get, l)
      case EqualTo(a, l) if attrOf(a).isDefined =>
        val at = attrOf(a).get; put(true, at, l); put(false, at, l)
      case EqualTo(l, a) if attrOf(a).isDefined =>
        val at = attrOf(a).get; put(true, at, l); put(false, at, l)
      case _ => ()
    }
    if (bad || dt.isEmpty || (lo.isEmpty && hi.isEmpty)) None
    else {
      val toScala = CatalystTypeConverters.createToScalaConverter(dt.get)
      Some((lo.map(toScala), hi.map(toScala)))
    }
  }

  /** Conjunctive bounds on `column` of this view: the tightest
    * `[lo, hi]` the predicate implies, requiring at least one finite
    * side. Strict bounds are used inclusively — pruning may keep one
    * extra file; the exact filter on top re-applies the strictness.
    * Only bare `attr {<,<=,>,>=,=} literal` conjuncts count (a cast or
    * arithmetic around the attribute means the bound is not on the
    * stored column's values — don't route).
    */
  private def boundsOn(cond: Expression, sa: SubqueryAlias,
                       column: String): Option[(Double, Double)] = {
    // NUMERIC attributes only: a timestamp literal also evals to a
    // java.lang.Number (its micros), but double-space pruning against a
    // timestamp stats column would compare in the wrong unit — those
    // columns route through boundsTyped instead
    def isCol(e: Expression): Boolean = e match {
      case a: AttributeReference =>
        a.name == column && sa.outputSet.contains(a) &&
          a.dataType.isInstanceOf[types.NumericType]
      case _ => false
    }
    def num(e: Expression): Option[Double] =
      if (!e.foldable) None
      else e.eval() match {
        case null => None
        case d: Decimal => Some(d.toDouble)
        case n: java.lang.Number => Some(n.doubleValue())
        case _ => None
      }
    var lo = Double.NegativeInfinity
    var hi = Double.PositiveInfinity
    var found = false
    def bound(isLo: Boolean, v: Double): Unit = {
      if (isLo) lo = math.max(lo, v) else hi = math.min(hi, v)
      found = true
    }
    splitConjuncts(cond).foreach {
      case GreaterThanOrEqual(a, l) if isCol(a) => num(l).foreach(bound(true, _))
      case GreaterThan(a, l) if isCol(a) => num(l).foreach(bound(true, _))
      case LessThanOrEqual(a, l) if isCol(a) => num(l).foreach(bound(false, _))
      case LessThan(a, l) if isCol(a) => num(l).foreach(bound(false, _))
      case GreaterThanOrEqual(l, a) if isCol(a) => num(l).foreach(bound(false, _))
      case GreaterThan(l, a) if isCol(a) => num(l).foreach(bound(false, _))
      case LessThanOrEqual(l, a) if isCol(a) => num(l).foreach(bound(true, _))
      case LessThan(l, a) if isCol(a) => num(l).foreach(bound(true, _))
      case EqualTo(a, l) if isCol(a) =>
        num(l).foreach { v => bound(true, v); bound(false, v) }
      case EqualTo(l, a) if isCol(a) =>
        num(l).foreach { v => bound(true, v); bound(false, v) }
      case _ => ()
    }
    // widen each finite side by one ulp: a >2^53 integral (or wide
    // decimal) literal rounds to the NEAREST double, which can land
    // past the exact value and TIGHTEN the bound — pruning must only
    // ever loosen (the exact Filter stays on top; it cannot resurrect
    // a wrongly pruned file). One ulp brackets nearest-rounding.
    if (found && lo <= hi)
      Some((Math.nextDown(lo), Math.nextUp(hi)))
    else None
  }

  /** Conjuncts of `e`, seeing through analysis-time sugar: `BETWEEN`
    * (and friends) sit in the analyzed plan as RuntimeReplaceable nodes
    * whose `replacement` is the real predicate — the optimizer unwraps
    * them later, but this rule runs first. The replacement may factor
    * the shared operand through `With`/CommonExpressionRef (Spark's
    * common-subexpression form); inline the defs so the attribute is
    * visible to the bound matcher.
    */
  // splitConjuncts lives in [[SqlRouting]] (shared with the catalog's
  // join-mv inference, which must split the SAME conjunct shapes the
  // router will later match)

  // ---- materialized cube --------------------------------------------------

  /** Aggregate-over-view → re-aggregation of a stored cube's partials
    * (the classic materialized-view rewrite). Matches conservatively:
    * every grouping expression must be a bare view attribute contained
    * in some published cube's group columns (any SUBSET rolls up — the
    * stored partials are commutative merges), and every output must be
    * an expression whose aggregate leaves are `count(*)` / `count(m)` /
    * `sum(CAST(round(m, 6) AS DECIMAL(38,6)))` over cube measures — the
    * engine's canonical exact-and-mergeable sum, which re-merges from
    * the stored `__sum_<m>` without changing a digit. Anything else
    * (DISTINCT, FILTER, another function, an expression under the sum
    * the cube didn't store) simply doesn't route.
    */
  private def tryCube(a: Aggregate): Option[LogicalPlan] = {
    // a WHERE below the aggregate routes too, when it constrains ONLY
    // group columns: such a predicate is constant within each group, so
    // filtering the stored cube rows keeps exactly the surviving groups'
    // partials — the filtered-MV rewrite
    val (view, cond) = a.child match {
      case SessionView(name, sa) => (Some((name, sa)), None)
      case Filter(c, SessionView(name, sa)) => (Some((name, sa)), Some(c))
      case _ => (None, None)
    }
    view.flatMap { case (name, sa) =>
      val groupAttrs: Seq[AttributeReference] =
        a.groupingExpressions.map {
          case at: AttributeReference if sa.outputSet.contains(at) => at
          case _ => return None
        }
      routesFor(spark, name).collect { case c: CubeSqlRoute => c }
        .filter { r =>
          groupAttrs.forall(g => r.groupCols.contains(g.name)) &&
            cond.forall(_.references.forall {
              case at: AttributeReference =>
                sa.outputSet.contains(at) && r.groupCols.contains(at.name)
              case _ => false
            })
        }
        .view.flatMap(r => rewriteOnCube(a, sa, groupAttrs, cond, r))
        .headOption
    }
  }

  /** The re-merge expression over a stored cube's partials that equals
    * `ae` exactly, or None when no stored partial can: `count(*)` →
    * coalesced sum of `__cnt`, `count(m)` → coalesced sum of
    * `__cntm_m`, the canonical decimal sum → sum of `__sum_m`, min/max
    * → min-of-mins / max-of-maxes. Shared by the pure-cube rewrite and
    * the mixed cube ⋈ pairs rewrite.
    *
    * A cube is ALSO a value-level histogram of each of its GROUP
    * columns (`__cnt` per distinct tuple), which serves shapes no
    * partial-sum can: for `g` in `groupCols`, `count(DISTINCT g)`
    * re-distincts the stored tuples, `count(g)` / `min(g)` / `max(g)`
    * fold the cells, and `percentile(g, p)` replays EXACTLY as
    * `percentile(g, p, __cnt)` — the built-in's frequency parameter
    * makes the counted multiset identical to the fact rows, so order
    * statistics (median included) serve from value-domain-sized stored
    * cells instead of a fact-table sort.
    */
  private def cubeAggExpr(sa: SubqueryAlias, groupCols: Seq[String],
                          measures: Seq[String],
                          byName: Map[String, Attribute])(
      ae: AggregateExpression): Option[Expression] = {
    import org.apache.spark.sql.catalyst.expressions.aggregate._
    def sumOf(attr: Expression): Expression =
      AggregateExpression(Sum(attr), Complete, isDistinct = false, None,
        NamedExpression.newExprId)

    /** The measure whose stored partial sum re-merges to exactly this
      * expression, if it is the canonical decimal sum over a cube
      * measure.
      */
    def canonicalMeasure(e: Expression): Option[String] = e match {
      case c: Cast => (c.dataType, c.child) match {
        case (dt: types.DecimalType, rb: RoundBase)
            if dt.precision == 38 && dt.scale == 6 =>
          (rb.left, rb.right) match {
            case (at: AttributeReference, sc: Literal)
                if sa.outputSet.contains(at) &&
                  measures.contains(at.name) && sc.value == 6 =>
              Some(at.name)
            case _ => None
          }
        case _ => None
      }
      case _ => None
    }

    def isGroupAttr(at: AttributeReference): Boolean =
      sa.outputSet.contains(at) && groupCols.contains(at.name) &&
        byName.contains(at.name)

    if (ae.filter.isDefined) None
    else if (ae.isDistinct) ae.aggregateFunction match {
      // count(DISTINCT g) for a GROUP column g: the stored rows are one
      // per distinct group tuple, so the distinct g values over them are
      // exactly the distinct g values over the fact rows (patches shadow
      // whole tuples and an emptied group sheds its row, so no phantom
      // cells survive)
      case c: Count => c.children match {
        case Seq(at: AttributeReference) if isGroupAttr(at) =>
          Some(AggregateExpression(Count(Seq(byName(at.name))), Complete,
            isDistinct = true, None, NamedExpression.newExprId))
        case _ => None
      }
      case _ => None
    }
    else ae.aggregateFunction match {
      case c: Count => c.children match {
        // count(*)/count(1): never null, so the merged sum coalesces
        // to 0 to preserve the empty-relation answer
        case Seq(l: Literal) if l.value != null =>
          Some(Coalesce(Seq(sumOf(byName("__cnt")), Literal(0L))))
        case Seq(at: AttributeReference)
            if sa.outputSet.contains(at) &&
              measures.contains(at.name) &&
              byName.contains(s"__cntm_${at.name}") =>
          Some(Coalesce(Seq(sumOf(byName(s"__cntm_${at.name}")),
            Literal(0L))))
        // count(g) for a group column: the non-null cells' row counts
        case Seq(at: AttributeReference) if isGroupAttr(at) =>
          Some(Coalesce(Seq(sumOf(If(IsNotNull(byName(at.name)),
            byName("__cnt"),
            Literal.create(null, types.LongType))), Literal(0L))))
        case _ => None
      }
      // percentile(g, p) for a group column g: the frequency form over
      // the stored cells builds the IDENTICAL counted multiset the live
      // aggregate builds from fact rows — bit-equal order statistics
      case p: Percentile if !p.reverse =>
        (p.children(0), p.frequencyExpression) match {
          case (at: AttributeReference, Literal(1L, _))
              if isGroupAttr(at) && p.percentageExpression.foldable =>
            Some(AggregateExpression(
              Percentile(byName(at.name), p.percentageExpression,
                byName("__cnt"), 0, 0, reverse = false),
              Complete, isDistinct = false, None, NamedExpression.newExprId))
          case _ => None
        }
      // median(g) is RuntimeReplaceableAggregate sugar for
      // percentile(g, 0.5) — the optimizer substitutes AFTER this rule
      // runs at analysis time, so match the sugar form directly
      case m: Median => m.children match {
        case Seq(at: AttributeReference) if isGroupAttr(at) =>
          Some(AggregateExpression(
            Percentile(byName(at.name),
              Literal(0.5, types.DoubleType),
              byName("__cnt"), 0, 0, reverse = false),
            Complete, isDistinct = false, None, NamedExpression.newExprId))
        case _ => None
      }
      case s: Sum =>
        canonicalMeasure(s.child).flatMap(m =>
          byName.get(s"__sum_$m").map(sumOf))
      // min-of-mins / max-of-maxes: comparisons re-merge exactly; a
      // GROUP column's extrema fold directly off the stored cells
      case mn: Min => mn.child match {
        case at: AttributeReference
            if sa.outputSet.contains(at) && measures.contains(at.name) &&
              byName.contains(s"__min_${at.name}") =>
          Some(AggregateExpression(Min(byName(s"__min_${at.name}")),
            Complete, isDistinct = false, None, NamedExpression.newExprId))
        case at: AttributeReference if isGroupAttr(at) =>
          Some(AggregateExpression(Min(byName(at.name)),
            Complete, isDistinct = false, None, NamedExpression.newExprId))
        case _ => None
      }
      case mx: Max => mx.child match {
        case at: AttributeReference
            if sa.outputSet.contains(at) && measures.contains(at.name) &&
              byName.contains(s"__max_${at.name}") =>
          Some(AggregateExpression(Max(byName(s"__max_${at.name}")),
            Complete, isDistinct = false, None, NamedExpression.newExprId))
        case at: AttributeReference if isGroupAttr(at) =>
          Some(AggregateExpression(Max(byName(at.name)),
            Complete, isDistinct = false, None, NamedExpression.newExprId))
        case _ => None
      }
      case _ => None
    }
  }

  /** GROUPING SETS / ROLLUP / CUBE over a cube-covered view → the same
    * multi-set aggregation over the STORED partials (r13). The analyzer
    * plans grouping sets as `Aggregate(groupAttrs :+ gid, aggs,
    * Expand(projections, childOut ++ groupAttrs :+ gid, Project(childOut
    * ++ groupAliases, [Filter] view)))` — each projection replicates the
    * input with one set's group columns kept/nulled plus a grouping-id
    * literal. Every aggregate leaf that [[cubeAggExpr]] can re-merge
    * from partials stays EXACT under replication: replicating stored
    * cube rows per set and re-merging `__cnt` / `__sum_m` / `__cntm_m`
    * per (nulled-groups, gid) is the same arithmetic as replicating
    * fact rows and folding them — so the rewrite swaps the fact table
    * under the Expand for the group-count-sized cube, preserving the
    * Aggregate's grouping attributes and grouping-id semantics
    * verbatim (grouping()/grouping_id() read gid, untouched). At 100 TB
    * a 4-set rollup stops being four fact scans' worth of input and
    * becomes 4× a kilobyte-scale stored read. Conservative like every
    * rewrite here: any set column outside the cube's group columns, any
    * untranslatable leaf (a DISTINCT over a measure, a raw double sum),
    * or a WHERE touching a measure declines the whole rewrite.
    */
  private def tryGroupingSets(a: Aggregate): Option[LogicalPlan] = {
    val ex = a.child match {
      case e: Expand => e
      case _ => return None
    }
    // Project(childOut ++ groupAliases, [Filter] SessionView)
    val (plist, cond, name, sa) = ex.child match {
      case Project(pl, SessionView(n, s)) => (pl, None, n, s)
      case Project(pl, Filter(c, SessionView(n, s))) => (pl, Some(c), n, s)
      case _ => return None
    }
    // Expand output = [pass-through prefix (child attrs, MINUS the
    // group aliases the analyzer appended)] ++ groupAttrs ++ gid. The
    // prefix length is where the first NON-child attribute appears —
    // ex.child.output.size over-counts by the alias columns, which ride
    // in projections' value slots but never in the output prefix.
    val nOut = ex.output.size
    val passN = ex.output.indexWhere(a => !ex.child.outputSet.contains(a))
    if (passN < 0 || nOut < passN + 2) return None
    val gidAttr = ex.output.last
    if (gidAttr.name != "spark_grouping_id") return None
    val groupAttrs = ex.output.slice(passN, nOut - 1)
    val k = groupAttrs.size
    if (ex.projections.exists(_.size != nOut)) return None
    // alias attr id → underlying view column name
    val aliasSrc: Map[ExprId, String] = plist.collect {
      case al @ Alias(src: AttributeReference, _)
          if sa.outputSet.contains(src) => al.exprId -> src.name
    }.toMap
    // per group position, the source view column (from any non-null slot)
    val srcName: Seq[Option[String]] = (0 until k).map { j =>
      ex.projections.iterator.map(_(passN + j)).collectFirst {
        case at: AttributeReference if aliasSrc.contains(at.exprId) =>
          aliasSrc(at.exprId)
        case at: AttributeReference if sa.outputSet.contains(at) => at.name
      }
    }
    if (srcName.exists(_.isEmpty)) return None
    val sources = srcName.map(_.get)
    routesFor(spark, name).collect { case c: CubeSqlRoute => c }
      .filter { r =>
        sources.forall(r.groupCols.contains) &&
          cond.forall(_.references.forall {
            case at: AttributeReference =>
              sa.outputSet.contains(at) && r.groupCols.contains(at.name)
            case _ => false
          })
      }
      .view.flatMap { r =>
        val cubePlan = r.served().queryExecution.analyzed
        val byName = cubePlan.output.map(o => o.name -> o).toMap
        if (!sources.forall(byName.contains)) None
        else {
          val keepIds = (groupAttrs :+ gidAttr).map(_.exprId).toSet
          def translate(e: Expression): Option[Expression] = e match {
            case ae: AggregateExpression =>
              cubeAggExpr(sa, r.groupCols, r.measures, byName)(ae)
            case at: AttributeReference if keepIds.contains(at.exprId) =>
              Some(at)
            case _: AttributeReference => None
            case other =>
              val kids = other.children.map(translate)
              if (kids.forall(_.isDefined))
                Some(other.withNewChildren(kids.map(_.get)))
              else None
          }
          val newAggExprs: Seq[Option[NamedExpression]] =
            a.aggregateExpressions.map {
              case al @ Alias(child, nm) =>
                translate(child).map(t => Alias(t, nm)(exprId = al.exprId))
              case at: AttributeReference if keepIds.contains(at.exprId) =>
                Some(at)
              case _ => None
            }
          val newCond: Option[Option[Expression]] = cond.map { c =>
            val remapped = c.transformUp {
              case at: AttributeReference if byName.contains(at.name) =>
                byName(at.name)
            }
            if (remapped.references.forall(at => byName.get(at.name)
                .exists(_.exprId == at.exprId))) Some(remapped) else None
          }
          if (newAggExprs.forall(_.isDefined) && newCond.forall(_.isDefined)) {
            r.onRoute()
            val base = newCond.flatten
              .map(c => Filter(c, cubePlan): LogicalPlan).getOrElse(cubePlan)
            val newProjections = ex.projections.map { p =>
              val groupSlots: Seq[Expression] = (0 until k).map { j =>
                p(passN + j) match {
                  case l @ Literal(null, _) => l: Expression
                  case _ => byName(sources(j)): Expression
                }
              }
              (groupSlots :+ p.last) ++ cubePlan.output
            }
            val newOutput = (groupAttrs :+ gidAttr) ++ cubePlan.output
            Some(Aggregate(a.groupingExpressions,
              newAggExprs.map(_.get),
              Expand(newProjections, newOutput, base), None))
          } else None
        }
      }.headOption
  }

  private def rewriteOnCube(a: Aggregate, sa: SubqueryAlias,
                            groupAttrs: Seq[AttributeReference],
                            cond: Option[Expression],
                            r: CubeSqlRoute): Option[LogicalPlan] = {
    val cubePlan = r.served().queryExecution.analyzed
    val byName = cubePlan.output.map(o => o.name -> o).toMap
    if (!groupAttrs.forall(g => byName.contains(g.name))) return None

    def translate(e: Expression): Option[Expression] = e match {
      case ae: AggregateExpression =>
        cubeAggExpr(sa, r.groupCols, r.measures, byName)(ae)
      case at: AttributeReference if groupAttrs.exists(_.exprId == at.exprId) =>
        Some(byName(at.name))
      case _: AttributeReference => None
      case other =>
        val kids = other.children.map(translate)
        if (kids.forall(_.isDefined))
          Some(other.withNewChildren(kids.map(_.get)))
        else None
    }

    val newAggExprs: Seq[Option[NamedExpression]] =
      a.aggregateExpressions.map {
        case al @ Alias(child, nm) =>
          translate(child).map(t => Alias(t, nm)(exprId = al.exprId))
        case at: AttributeReference =>
          translate(at).map(t => Alias(t, at.name)(exprId = at.exprId))
        case _ => None
      }
    // the WHERE's group-column attributes remap onto the cube's columns;
    // the predicate expression itself transfers verbatim
    val newCond: Option[Option[Expression]] = cond.map { c =>
      val remapped = c.transformUp {
        case at: AttributeReference if byName.contains(at.name) =>
          byName(at.name)
      }
      if (remapped.references.forall(at => byName.get(at.name)
          .exists(_.exprId == at.exprId))) Some(remapped) else None
    }
    if (newAggExprs.forall(_.isDefined) && newCond.forall(_.isDefined)) {
      r.onRoute()
      val child = newCond.flatten
        .map(c => Filter(c, cubePlan): LogicalPlan).getOrElse(cubePlan)
      Some(Aggregate(groupAttrs.map(g => byName(g.name)),
        newAggExprs.map(_.get), child, None))
    } else None
  }

  // ---- exact distinct-pairs ------------------------------------------------

  /** `COUNT(DISTINCT col)`-over-view → re-distinct of a stored pairs
    * layout (r9 verdict task #5 — the routed alternative to the cube
    * rewrite's conservative DISTINCT refusal). Matches conservatively:
    * every grouping expression a bare view attribute inside some
    * published pairs route's group columns; every output either a group
    * attribute or an expression whose aggregate leaves are exactly
    * `count(DISTINCT <the layout's column>)` (no FILTER); any WHERE
    * below constrains group columns only (a group-column predicate
    * selects whole stored tuples — the filtered-MV form). count(*) /
    * sums do NOT route here: the pairs projection can't answer them, so
    * mixed aggregates fall through to the live plan.
    */
  private def tryDistinctPairs(a: Aggregate): Option[LogicalPlan] = {
    val (view, cond) = a.child match {
      case SessionView(name, sa) => (Some((name, sa)), None)
      case Filter(c, SessionView(name, sa)) => (Some((name, sa)), Some(c))
      case _ => (None, None)
    }
    view.flatMap { case (name, sa) =>
      val groupAttrs: Seq[AttributeReference] =
        a.groupingExpressions.map {
          case at: AttributeReference if sa.outputSet.contains(at) => at
          case _ => return None
        }
      routesFor(spark, name).collect { case p: PairsSqlRoute => p }
        .filter { r =>
          groupAttrs.forall(g => r.groupCols.contains(g.name)) &&
            cond.forall(_.references.forall {
              case at: AttributeReference =>
                sa.outputSet.contains(at) && r.groupCols.contains(at.name)
              case _ => false
            })
        }
        .view.flatMap(r => rewriteOnPairs(a, sa, groupAttrs, cond, r))
        .headOption
    }
  }

  /** `count(DISTINCT col)` re-stated over the stored pairs, or None for
    * any other aggregate shape: distinctness of (group, col) tuples
    * survives any subset rollup, so the re-distinct is exact — and never
    * null (count returns 0). Shared by the pure-pairs rewrite and the
    * mixed cube ⋈ pairs rewrite.
    */
  private def pairsAggExpr(sa: SubqueryAlias, pairCol: String,
                           byName: Map[String, Attribute])(
      ae: AggregateExpression): Option[Expression] = {
    import org.apache.spark.sql.catalyst.expressions.aggregate._
    if (!ae.isDistinct || ae.filter.isDefined) None
    else ae.aggregateFunction match {
      case c: Count => c.children match {
        case Seq(at: AttributeReference)
            if sa.outputSet.contains(at) && at.name == pairCol =>
          Some(AggregateExpression(Count(Seq(byName(pairCol))), Complete,
            isDistinct = true, None, NamedExpression.newExprId))
        case _ => None
      }
      case _ => None
    }
  }

  private def rewriteOnPairs(a: Aggregate, sa: SubqueryAlias,
                             groupAttrs: Seq[AttributeReference],
                             cond: Option[Expression],
                             r: PairsSqlRoute): Option[LogicalPlan] = {
    val pairsPlan = r.served().queryExecution.analyzed
    val byName = pairsPlan.output.map(o => o.name -> o).toMap
    if (!groupAttrs.forall(g => byName.contains(g.name)) ||
        !byName.contains(r.col)) return None

    def translate(e: Expression): Option[Expression] = e match {
      case ae: AggregateExpression => pairsAggExpr(sa, r.col, byName)(ae)
      case at: AttributeReference if groupAttrs.exists(_.exprId == at.exprId) =>
        Some(byName(at.name))
      case _: AttributeReference => None
      case other =>
        val kids = other.children.map(translate)
        if (kids.forall(_.isDefined))
          Some(other.withNewChildren(kids.map(_.get)))
        else None
    }

    val newAggExprs: Seq[Option[NamedExpression]] =
      a.aggregateExpressions.map {
        case al @ Alias(child, nm) =>
          translate(child).map(t => Alias(t, nm)(exprId = al.exprId))
        case at: AttributeReference =>
          translate(at).map(t => Alias(t, at.name)(exprId = at.exprId))
        case _ => None
      }
    val newCond: Option[Option[Expression]] = cond.map { c =>
      val remapped = c.transformUp {
        case at: AttributeReference if byName.contains(at.name) =>
          byName(at.name)
      }
      if (remapped.references.forall(at => byName.get(at.name)
          .exists(_.exprId == at.exprId))) Some(remapped) else None
    }
    if (newAggExprs.forall(_.isDefined) && newCond.forall(_.isDefined)) {
      r.onRoute()
      val child = newCond.flatten
        .map(c => Filter(c, pairsPlan): LogicalPlan).getOrElse(pairsPlan)
      Some(Aggregate(groupAttrs.map(g => byName(g.name)),
        newAggExprs.map(_.get), child, None))
    } else None
  }

  // ---- mixed cube ⋈ pairs --------------------------------------------------

  /** MIXED aggregate rewrite (r10 verdict task #5, generalized to N
    * sides): `SELECT g, COUNT(DISTINCT x), COUNT(DISTINCT y), SUM(m) …
    * GROUP BY g` can be served by NO single layout — the cube rewrite
    * refuses DISTINCT on non-group columns, each pairs layout knows only
    * its own column — but when covering layouts jointly answer every
    * aggregate leaf, the aggregate SPLITS: each leaf lands on the first
    * covering side that can serve it exactly (cube partials for
    * sums/counts/extrema/percentiles, a pairs re-distinct per distinct
    * column), and the group-count-sized per-side aggregates JOIN back on
    * the group columns (null-safe — null is a group). Every side derives
    * from the same table, so the group sets are identical and the inner
    * joins lose nothing; with no group columns each side is single-row
    * and the joins are 1×1 crosses. The fact table is never scanned.
    *
    * Runs only after [[tryCube]] and [[tryDistinctPairs]] both declined,
    * and only rewrites when at least TWO sides contribute — a
    * single-layout aggregate either routed already or fails here too
    * (the per-leaf translators are the exact ones the pure rewrites
    * use, so acceptance never drifts between the paths).
    */
  // ---- aggregate over a JOIN: eager aggregation onto the fact cube --------

  /** `Aggregate`-over-`Join` → eager aggregation below the join onto a
    * stored FACT cube (Yan & Larson's groupby-pushdown, served from the
    * materialized partials): `SELECT d.attr, sum(m) FROM fact JOIN dim
    * ON fact.k = d.k GROUP BY d.attr` re-merges a cube on `fact`
    * grouped by (k, …) — the fact side collapses from fact-cardinality
    * to distinct-key-cardinality BEFORE the join, so at 100 TB the join
    * carries kilobyte-sized cells against the dimension instead of the
    * fact table, and the fact is never rescanned at all.
    *
    * Exactness under dim-side key duplication: replacing the fact
    * subtree with the cube and re-merging partials ABOVE the join is
    * exact for any dim multiplicity — each stored cell joins to exactly
    * the dim rows its fact rows would have joined to, so replicated
    * partials replay the replicated fact rows verbatim (`count(*)` →
    * sum of replicated `__cnt` = count of replicated fact rows, etc.).
    * No FK/uniqueness assumption is needed or made.
    *
    * Matches conservatively: INNER equi-join whose fact-referencing
    * conjuncts are `bare-fact-attr = dim-expression` with the fact attr
    * a cube group column; every grouping expression a bare attribute
    * (fact-side ones cube-covered, dim-side ones pass through); every
    * aggregate leaf translatable against the fact cube ([[cubeAggExpr]]
    * — a leaf referencing the dim side declines); an optional Filter
    * between the Aggregate and the Join remaps onto cube group columns
    * or dim attributes (a fact-measure predicate declines — partials
    * cannot be re-filtered). Dim-side subtree (filters included) is
    * untouched.
    */
  private def tryJoinAgg(a: Aggregate): Option[LogicalPlan] = {
    val (join, topCond) = a.child match {
      case j: Join => (j, None)
      case Filter(c, j: Join) => (j, Some(c))
      case _ => return None
    }
    // flatten the INNER-join spine: a star/snowflake FROM clause
    // analyzes left-deep (`fact JOIN d1 ON … JOIN d2 ON …` =
    // Join(Join(fact,d1),d2)), and the rewrite serves the whole spine —
    // the fact leaf swaps for the cube, every dimension stays live. A
    // non-inner join is an opaque leaf (a fact inside it can't swap —
    // its null-extension is not replayed by replicated partials — but a
    // dim-side outer join below the swap routes fine).
    val (leaves, joins) = flattenInnerJoins(join)
    if (joins.isEmpty) return None
    val groupAttrs: Seq[AttributeReference] = a.groupingExpressions.map {
      case at: AttributeReference => at
      case _ => return None
    }
    // candidate fact sides: a cube- or pairs-backed session-view LEAF
    // of the join tree. When several qualify structurally each is tried
    // in turn — measure ownership is decided by the rewrite itself
    // (the leaf translators decline a leaf referencing another side),
    // so the side that owns the aggregate leaves wins and a dim that
    // happens to carry an unrelated layout never blocks the rewrite.
    val candidates = leaves.collect {
      case SessionView(n, sa)
          if routesFor(spark, n).exists(r =>
            r.isInstanceOf[CubeSqlRoute] || r.isInstanceOf[PairsSqlRoute]) =>
        (n, sa)
    }
    candidates.view.flatMap { case (name, sa) =>
        // fact-referencing conjuncts of EVERY join in the tree must be
        // bare-attr equi-links onto stored group columns
        val perConjunct = joins
          .flatMap(jn => splitConjuncts(jn.condition.get)).map { c =>
          if (!c.references.exists(sa.outputSet.contains))
            Some(Nil) // dim-only conjunct: transfers untouched
          else c match {
            case EqualTo(at: AttributeReference, other)
                if sa.outputSet.contains(at) &&
                  !other.references.exists(sa.outputSet.contains) =>
              Some(Seq(at.name))
            case EqualTo(other, at: AttributeReference)
                if sa.outputSet.contains(at) &&
                  !other.references.exists(sa.outputSet.contains) =>
              Some(Seq(at.name))
            case _ => None // non-equi fact conjunct: this side declines
          }
        }
        if (perConjunct.exists(_.isEmpty)) Nil
        else {
          val factKeys = perConjunct.flatMap(_.get)
          if (factKeys.isEmpty) Nil
          else {
            val factNeeds = (factKeys ++
              groupAttrs.filter(sa.outputSet.contains).map(_.name) ++
              topCond.toSeq.flatMap(_.references.toSeq
                .filter(sa.outputSet.contains).map(_.name))).distinct
            // .view: rewriteOnJoinLayout fires served()/onRoute() side
            // effects, so a strict flatMap over several covering routes
            // would record 'sql-routed' reports for rewrites the
            // headOption then discards (r14 review, 3rd pass)
            val cubeHits = routesFor(spark, name)
              .collect { case c: CubeSqlRoute => c }
              .filter(r => factNeeds.forall(r.groupCols.contains))
              .view.flatMap(r => rewriteOnJoinLayout(a, join, joins,
                topCond, sa, groupAttrs, r.served,
                cubeAggExpr(sa, r.groupCols, r.measures, _), r.onRoute))
            // a pure count(DISTINCT col) through the join re-distincts
            // the stored pairs tuples — replication per dim match never
            // changes a group's distinct set, so the answer is exact
            // for any dim multiplicity, same as the cube argument
            lazy val pairsHits = routesFor(spark, name)
              .collect { case p: PairsSqlRoute => p }
              .filter(r => factNeeds.forall(r.groupCols.contains))
              .view.flatMap(r => rewriteOnJoinLayout(a, join, joins,
                topCond, sa, groupAttrs, r.served,
                pairsAggExpr(sa, r.col, _), r.onRoute))
            if (cubeHits.nonEmpty) cubeHits else pairsHits
          }
        }
      }
      .headOption
  }

  private def rewriteOnJoinLayout(a: Aggregate, j: Join, spine: Seq[Join],
                                  topCond: Option[Expression],
                                  sa: SubqueryAlias,
                                  groupAttrs: Seq[AttributeReference],
                                  served: () => DataFrame,
                                  aggTranslate: Map[String, Attribute] =>
                                    AggregateExpression =>
                                      Option[Expression],
                                  onRoute: () => Unit)
      : Option[LogicalPlan] = {
    val cubePlan = served().queryExecution.analyzed
    val byName = cubePlan.output.map(o => o.name -> o).toMap
    // One translator, two modes: fact attrs remap onto the layout's
    // columns (group cols only — a measure reference has no stored
    // column and declines); dim attrs pass untouched; aggregate leaves
    // re-merge through `aggTranslate` ([[cubeAggExpr]] or
    // [[pairsAggExpr]]) only where aggregates are legal (the aggregate
    // list — a join/WHERE condition never holds one). A subquery
    // expression whose outer references reach the fact side declines:
    // the generic rewrite would remap the outerAttrs children but not
    // the OuterReference nodes INSIDE the subquery plan, and
    // decorrelation would then join on an attribute the replaced fact
    // subtree no longer produces.
    def trans(aggCase: Boolean)(e: Expression): Option[Expression] =
      e match {
        case se: SubqueryExpression =>
          if (se.references.exists(sa.outputSet.contains)) None
          else Some(se)
        case ae: AggregateExpression if aggCase =>
          aggTranslate(byName)(ae)
        case at: AttributeReference if sa.outputSet.contains(at) =>
          byName.get(at.name)
        case at: AttributeReference => Some(at)
        case other =>
          val kids = other.children.map(trans(aggCase))
          if (kids.forall(_.isDefined))
            Some(other.withNewChildren(kids.map(_.get)))
          else None
      }
    val remap = trans(aggCase = false) _
    val translate = trans(aggCase = true) _
    val newTop = topCond.map(c => remap(c).getOrElse(return None))
    val newGroup = groupAttrs.map {
      case g if sa.outputSet.contains(g) =>
        byName.getOrElse(g.name, return None)
      case g => g
    }
    val newAggExprs: Seq[Option[NamedExpression]] =
      a.aggregateExpressions.map {
        case al @ Alias(child, nm) =>
          translate(child).map(t => Alias(t, nm)(exprId = al.exprId))
        case at: AttributeReference if sa.outputSet.contains(at) =>
          translate(at).map(t => Alias(t, at.name)(exprId = at.exprId))
        case at: AttributeReference => Some(at) // dim side keeps its id
        case _ => None
      }
    if (!newAggExprs.forall(_.isDefined)) return None
    // rebuild the SPINE only: swap the fact leaf for the cube, remap
    // each spine join's condition, and treat everything else as an
    // opaque leaf whose subtree is never descended — a blanket
    // transformUp would walk INTO the fact session's own lazy plan (an
    // edit-join / CTAS-from-join session holds internal joins), rebuild
    // the alias, and break the identity the leaf swap keys on
    // (r14 star review finding #1)
    def rebuild(p: LogicalPlan): Option[LogicalPlan] = p match {
      case x if x eq sa => Some(cubePlan)
      case jn: Join if spine.exists(_ eq jn) =>
        for {
          l <- rebuild(jn.left)
          rr <- rebuild(jn.right)
          c <- remap(jn.condition.get)
        } yield jn.copy(left = l, right = rr, condition = Some(c))
      case leaf => Some(leaf)
    }
    val newJoin = rebuild(j).getOrElse(return None)
    onRoute()
    val child = newTop.map(c => Filter(c, newJoin): LogicalPlan)
      .getOrElse(newJoin)
    Some(Aggregate(newGroup, newAggExprs.map(_.get), child, None))
  }

  private def tryMixed(a: Aggregate): Option[LogicalPlan] = {
    val (view, cond) = a.child match {
      case SessionView(name, sa) => (Some((name, sa)), None)
      case Filter(c, SessionView(name, sa)) => (Some((name, sa)), Some(c))
      case _ => (None, None)
    }
    view.flatMap { case (name, sa) =>
      val groupAttrs: Seq[AttributeReference] =
        a.groupingExpressions.map {
          case at: AttributeReference if sa.outputSet.contains(at) => at
          case _ => return None
        }
      def covers(groupCols: Seq[String]): Boolean =
        groupAttrs.forall(g => groupCols.contains(g.name)) &&
          cond.forall(_.references.forall {
            case at: AttributeReference =>
              sa.outputSet.contains(at) && groupCols.contains(at.name)
            case _ => false
          })
      val cubes = routesFor(spark, name)
        .collect { case c: CubeSqlRoute if covers(c.groupCols) => c }
      val pairs = routesFor(spark, name)
        .collect { case p: PairsSqlRoute if covers(p.groupCols) => p }
      rewriteSplit(a, sa, groupAttrs, cond, cubes, pairs)
    }
  }

  /** One joinable side of the split: a served layout plan, the leaf
    * translator it offers, and the leaves assigned to it so far.
    */
  private final class MixedSide(
      val plan: LogicalPlan, val byName: Map[String, Attribute],
      val translateAgg: AggregateExpression => Option[Expression],
      val onRoute: () => Unit) {
    val aggs = scala.collection.mutable.ArrayBuffer.empty[Alias]
  }

  private def rewriteSplit(a: Aggregate, sa: SubqueryAlias,
                           groupAttrs: Seq[AttributeReference],
                           cond: Option[Expression],
                           cubes: Seq[CubeSqlRoute],
                           pairs: Seq[PairsSqlRoute]): Option[LogicalPlan] = {
    import org.apache.spark.sql.catalyst.plans.Inner
    def mkCube(r: CubeSqlRoute): Option[MixedSide] = {
      val plan = r.served().queryExecution.analyzed
      val byName = plan.output.map(o => o.name -> o).toMap
      if (groupAttrs.forall(g => byName.contains(g.name)))
        Some(new MixedSide(plan, byName,
          cubeAggExpr(sa, r.groupCols, r.measures, byName), r.onRoute))
      else None
    }
    def mkPairs(r: PairsSqlRoute): Option[MixedSide] = {
      val plan = r.served().queryExecution.analyzed
      val byName = plan.output.map(o => o.name -> o).toMap
      if (groupAttrs.forall(g => byName.contains(g.name)) &&
          byName.contains(r.col))
        Some(new MixedSide(plan, byName,
          pairsAggExpr(sa, r.col, byName), r.onRoute))
      else None
    }
    val sides: Seq[MixedSide] = cubes.flatMap(mkCube) ++ pairs.flatMap(mkPairs)
    if (sides.size < 2) return None

    // each aggregate leaf lands on the FIRST side that serves it exactly;
    // the leaf is replaced by a reference to that side's alias, joined
    // back below (translators are pure — probing a side costs nothing)
    def leaf(ae: AggregateExpression): Option[Attribute] =
      sides.view.zipWithIndex.flatMap { case (side, i) =>
        side.translateAgg(ae).map { e =>
          val al = Alias(e, s"__mx${i}_${side.aggs.size}")()
          side.aggs += al
          al.toAttribute
        }
      }.headOption

    def translate(e: Expression): Option[Expression] = e match {
      case ae: AggregateExpression => leaf(ae)
      case at: AttributeReference
          if groupAttrs.exists(_.exprId == at.exprId) =>
        Some(at) // the left side re-emits the group under the same id
      case _: AttributeReference => None
      case other =>
        val kids = other.children.map(translate)
        if (kids.forall(_.isDefined))
          Some(other.withNewChildren(kids.map(_.get)))
        else None
    }

    val newAggExprs: Seq[Option[NamedExpression]] =
      a.aggregateExpressions.map {
        case at: AttributeReference
            if groupAttrs.exists(_.exprId == at.exprId) =>
          Some(at)
        case al @ Alias(child, nm) =>
          translate(child).map(t => Alias(t, nm)(exprId = al.exprId))
        case _ => None
      }
    def remapCond(byName: Map[String, Attribute])
        : Option[Option[Expression]] = cond match {
      case None => Some(None)
      case Some(cx) =>
        val remapped = cx.transformUp {
          case at: AttributeReference if byName.contains(at.name) =>
            byName(at.name)
        }
        if (remapped.references.forall(at => byName.get(at.name)
            .exists(_.exprId == at.exprId))) Some(Some(remapped))
        else None
    }
    val used = sides.filter(_.aggs.nonEmpty)
    val conds = used.map(s => remapCond(s.byName))
    if (!newAggExprs.forall(_.isDefined) || used.size < 2 ||
        conds.exists(_.isEmpty)) return None
    used.foreach(_.onRoute())
    // the first (left) aggregate re-emits the group columns under the
    // ORIGINAL exprIds, so everything above the rewrite (the final
    // project, HAVING, ORDER BY) stays resolved; every further side's
    // groups get fresh ids and join null-safely
    def sideAgg(s: MixedSide, c: Option[Expression],
                groups: Seq[Alias]): LogicalPlan =
      Aggregate(groupAttrs.map(g => s.byName(g.name)),
        groups ++ s.aggs,
        c.map(Filter(_, s.plan): LogicalPlan).getOrElse(s.plan), None)
    val leftGroups = groupAttrs.map(g =>
      Alias(used.head.byName(g.name), g.name)(exprId = g.exprId))
    val left = sideAgg(used.head, conds.head.get, leftGroups)
    val joined = used.tail.zip(conds.tail).zipWithIndex
      .foldLeft(left: LogicalPlan) { case (acc, ((s, c), i)) =>
        val rightGroups = groupAttrs.map(g =>
          Alias(s.byName(g.name), s"__mxg${i}_${g.name}")())
        val right = sideAgg(s, c.get, rightGroups)
        val joinCond = leftGroups.zip(rightGroups).map { case (l, r) =>
          EqualNullSafe(l.toAttribute, r.toAttribute): Expression
        }.reduceOption(And)
        Join(acc, right, Inner, joinCond, JoinHint.NONE)
      }
    Some(Project(newAggExprs.map(_.get), joined))
  }

  // ---- bucketed join ------------------------------------------------------

  private def tryBucketedJoin(j: Join): Option[Join] = (j.left, j.right) match {
    case (SessionView(ln, lsa), SessionView(rn, rsa)) =>
      val cond = j.condition.getOrElse(return None)
      val pairs = for {
        lr <- routesFor(spark, ln).collect { case b: BucketSqlRoute => b }
        rr <- routesFor(spark, rn).collect { case b: BucketSqlRoute => b }
        if lr.buckets == rr.buckets && keysLinked(cond, lsa, lr.key, rsa, rr.key)
      } yield (lr, rr)
      pairs.headOption.flatMap { case (lr, rr) =>
        for {
          nl <- remap(lsa.output, lr.table().queryExecution.analyzed)
          nr <- remap(rsa.output, rr.table().queryExecution.analyzed)
        } yield {
          lr.onRoute(); rr.onRoute()
          j.copy(left = nl, right = nr)
        }
      }
    case _ => None
  }

  /** Does some equi-conjunct equate the left view's `lk` with the right
    * view's `rk` (either operand order)?
    */
  private def keysLinked(cond: Expression, lsa: SubqueryAlias, lk: String,
                         rsa: SubqueryAlias, rk: String): Boolean = {
    def of(e: Expression, sa: SubqueryAlias, k: String): Boolean = e match {
      case a: AttributeReference => a.name == k && sa.outputSet.contains(a)
      case _ => false
    }
    splitConjuncts(cond).exists {
      case EqualTo(a, b) =>
        (of(a, lsa, lk) && of(b, rsa, rk)) || (of(b, lsa, lk) && of(a, rsa, rk))
      case _ => false
    }
  }

  // ---- shared -------------------------------------------------------------

  /** Alias the replacement scan's columns back to the view's attribute
    * ids so everything above the rewrite stays resolved. None when the
    * scan is missing a view column (schema drift — don't route).
    */
  private def remap(oldOut: Seq[Attribute],
                    newPlan: LogicalPlan): Option[LogicalPlan] = {
    val byName = newPlan.output.map(a => a.name -> a).toMap
    if (!oldOut.forall(o => byName.contains(o.name))) None
    else Some(Project(oldOut.map { o =>
      Alias(byName(o.name), o.name)(exprId = o.exprId)
    }, newPlan))
  }
}

/** Per-SparkSession registry of routable session views, published by
  * `Catalog.sql` for the duration of one call (the same scoping its temp
  * views get). Keyed weakly so entries die with the session; name-keyed
  * set/remove so two catalogs with disjoint session names can plan
  * concurrently.
  */
object SqlRouting {

  /** Conjunct splitter shared by the routing matchers and the catalog's
    * join-mv inference (which must split the SAME shapes the router
    * will later match). Flattens `AND`, unwraps RuntimeReplaceable
    * sugar (`between` plans as an Alias whose `replacement` is the real
    * predicate), and inlines `With`/CommonExpressionRef factoring so
    * the bound attribute stays visible to the matchers.
    */
  private[graft] def splitConjuncts(e: Expression): Seq[Expression] =
    e match {
      case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
      case w: With =>
        val defs = w.defs.map(d => d.id -> d.child).toMap
        splitConjuncts(w.child.transformUp {
          case r: CommonExpressionRef => defs.getOrElse(r.id, r)
        })
      case r: RuntimeReplaceable => splitConjuncts(r.replacement)
      case other => Seq(other)
    }

  /** Flatten an INNER-join tree into (leaves, spine joins) — shared by
    * the join-agg rewrite and the catalog's join-mv inference, which
    * must agree on the servable shape. A non-inner or condition-less
    * join becomes an OPAQUE LEAF: it cannot host the fact swap, but a
    * dim-side outer join sitting BELOW the swap is harmless (per-cell
    * replication is unaffected), so it must not decline the whole tree.
    * Only inner conditioned joins form the rewritable spine.
    */
  private[graft] def flattenInnerJoins(
      p: LogicalPlan): (Seq[LogicalPlan], Seq[Join]) = {
    import org.apache.spark.sql.catalyst.plans.Inner
    p match {
      case j: Join if j.joinType == Inner && j.condition.isDefined =>
        val (ll, lj) = flattenInnerJoins(j.left)
        val (rl, rj) = flattenInnerJoins(j.right)
        (ll ++ rl, lj ++ rj :+ j)
      case leaf => (Seq(leaf), Nil)
    }
  }

  sealed trait SqlRoute { def onRoute: () => Unit }

  /** A clustered layout on `cols` (one to three, build order) with a
    * skipping index: `pruned` takes one (lo, hi) pair PER COL, in `cols`
    * order, and reads only the part files whose per-file box intersects
    * them — the exact predicate is NOT applied (the caller keeps the
    * original Filter on top). Endpoints are EXTERNAL Scala values of
    * each column's own type (Double for numerics; Instant / LocalDate /
    * String for the ordered non-numeric types — a string equality is
    * the degenerate `lo == hi` box), each side optional so one-sided
    * windows still prune on the remaining bounds.
    */
  final case class ClusteredSqlRoute(cols: Seq[String],
      pruned: Seq[(Option[Any], Option[Any])] => DataFrame,
      onRoute: () => Unit) extends SqlRoute

  /** A bucketed+sorted managed table on `key`. */
  final case class BucketSqlRoute(key: String, buckets: Int,
      table: () => DataFrame,
      onRoute: () => Unit) extends SqlRoute

  /** A materialized aggregate cube on `groupCols` × `measures`:
    * `served()` is the (possibly patched) stored cube — one row per
    * group tuple with `__cnt` and per-measure `__sum_<m>` /
    * `__cntm_<m>` partials. Count/sum aggregates grouped by any SUBSET
    * of `groupCols` re-merge exactly from those partials.
    */
  final case class CubeSqlRoute(groupCols: Seq[String],
      measures: Seq[String], served: () => DataFrame,
      onRoute: () => Unit) extends SqlRoute

  /** An exact distinct-pairs layout on `groupCols` × `col`: `served()`
    * is the (possibly patched) stored `SELECT DISTINCT groupCols…, col`
    * projection. `COUNT(DISTINCT col)` grouped by any SUBSET of
    * `groupCols` re-distincts pairs-count-sized stored rows EXACTLY —
    * the routed alternative to the cube rewrite's conservative DISTINCT
    * refusal.
    */
  final case class PairsSqlRoute(groupCols: Seq[String], col: String,
      served: () => DataFrame,
      onRoute: () => Unit) extends SqlRoute

  private val routes =
    new java.util.WeakHashMap[SparkSession,
      scala.collection.mutable.HashMap[String, Seq[SqlRoute]]]()

  private[plans] def hasRoutes(spark: SparkSession): Boolean =
    routes.synchronized {
      Option(routes.get(spark)).exists(_.nonEmpty)
    }

  private[plans] def routesFor(spark: SparkSession,
                               view: String): Seq[SqlRoute] =
    routes.synchronized {
      Option(routes.get(spark)).flatMap(_.get(view)).getOrElse(Nil)
    }

  /** Publish `byView` while `body` plans, then retract exactly those
    * names (a concurrent catalog's names are untouched).
    */
  def withRoutes[A](spark: SparkSession,
                    byView: Map[String, Seq[SqlRoute]])(body: => A): A = {
    routes.synchronized {
      val m = Option(routes.get(spark)).getOrElse {
        val m0 = scala.collection.mutable.HashMap.empty[String, Seq[SqlRoute]]
        routes.put(spark, m0)
        m0
      }
      byView.foreach { case (k, v) => m(k) = v }
    }
    try body
    finally routes.synchronized {
      Option(routes.get(spark)).foreach(m => byView.keys.foreach(m.remove))
    }
  }

  /** A temp-view reference in an analyzed plan: the outer alias IS the
    * view name (`EliminateSubqueryAliases` has not run yet at post-hoc
    * resolution time).
    */
  /** A GENUINE session temp-view read: `SubqueryAlias(name, View(name,
    * isTempView, …))` — exactly what the view window's
    * `createOrReplaceTempView` resolves to. Matching any bare alias by
    * name let a user's derived-table alias that SHADOWS a session name
    * (`FROM (SELECT … FROM s WHERE p) s`) be swapped wholesale for the
    * session's layout, silently dropping the subquery's own filter —
    * found by the r14 star-join review, latent since the r9 cube
    * rewrite. The View child is the discriminator: a derived table
    * aliases a Project/Filter, never a View.
    */
  private[plans] object SessionView {
    def unapply(p: LogicalPlan): Option[(String, SubqueryAlias)] = p match {
      case sa: SubqueryAlias => sa.child match {
        case v: View if v.isTempView &&
            v.desc.identifier.table.equalsIgnoreCase(sa.alias) =>
          Some((sa.alias, sa))
        case _ => None
      }
      case _ => None
    }
  }
}
