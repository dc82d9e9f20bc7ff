package graft.core

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}

/** v1 MDI parity: multiple named tables in one process (`main.py:126-135`),
  * plus the SQL-text surface over them — every open session is queryable as
  * a temp view, so `catalog.sql("SELECT ... FROM a JOIN b ...")` runs
  * cross-table SQL the reference never could.
  *
  * With a `warehouse` root the catalog is DURABLE: file-backed layouts
  * (PQ / IVF-PQ codes, range-clustered files + skipping stats, LSH
  * index) write under the warehouse instead of JVM-temp dirs, every
  * build records a [[LayoutManifestEntry]] in `<warehouse>/_manifest`,
  * and a NEW catalog over the same warehouse re-attaches the stored
  * layouts when a session reopens — the "build once, serve many"
  * economics survive a restart, which tempdir-backed layouts never
  * could (r8 verdict task #2). Re-attachment is digest-gated, not
  * name-gated: see [[LayoutManifestEntry]]. Bucketed layouts persist
  * only as far as the metastore does (in-memory catalog = one JVM;
  * Hive metastore in production). One writer per warehouse.
  */
class Catalog(private[core] val spark: SparkSession,
              private[core] val warehouse: Option[String] = None,
              private[core] val deltaMaxRowsOverride: Option[Int] = None)
    extends CatalogDurability with CatalogRefresh with CatalogLayouts
    with CatalogSnapshots with CatalogVacuum with CatalogCubes
    with CatalogDml with CatalogDdl {
  private[core] val sessions = mutable.LinkedHashMap.empty[String, EditorSession]

  /** The file path each session was opened from (absent for openFrom /
    * CTAS sessions) — what `OPTIMIZE <session>` compacts. The open
    * session itself never re-reads these files ([[Positional.attachPos]]
    * pinned the base); the path is remembered for maintenance gestures
    * and future opens.
    */
  private[core] val sourcePaths = mutable.HashMap.empty[String, String]

  def open(name: String, path: String, orderCols: Seq[String] = Nil): EditorSession = {
    val s = EditorSession.open(spark, path, orderCols)
    val reg = register(name, s)
    sourcePaths(name) = path
    reg
  }
  def get(name: String): Option[EditorSession] = sessions.get(name)

  /** Open a session over an existing DataFrame (a filtered view, a query
    * result) rather than a file path — same positional pinning.
    */
  def openFrom(name: String, df: DataFrame,
               orderCols: Seq[String] = Nil): EditorSession = {
    sourcePaths.remove(name) // a rebound name must not keep a stale path
    register(name, EditorSession.fromDataFrame(df, orderCols))
  }

  /** (Re)bind a name: any LIVE layouts registered under it describe the
    * OLD table and must not survive — a fresh session starts at epoch 0,
    * which a stale layout's builtAtEpoch could otherwise match. Durable
    * layouts then re-attach from the manifest if (and only if) the new
    * table's content digest matches what they were built from.
    */
  private[core] def register(name: String, s: EditorSession): EditorSession = {
    layouts.filterInPlace { case ((n, _), _) => n != name }
    sessions(name) = s
    attachFromManifest(name, s)
    s
  }

  /** Closes the session AND drops its temp view — otherwise a later
    * `sql()` would silently serve the closed session's frozen snapshot.
    * Live layouts go too: they describe a session that no longer exists
    * (re-opening the name would start at epoch 0 and must never inherit
    * stale storage). Durable layouts keep their manifest entries — a
    * reopen re-attaches them through the digest gate.
    */
  def close(name: String): Unit = {
    sessions.remove(name)
    sourcePaths.remove(name)
    layouts.filterInPlace { case ((n, _), _) => n != name }
    spark.catalog.dropTempView(name)
  }

  def names: Seq[String] = sessions.keys.toSeq

  /** The file path backing a session, when it has one: the path it was
    * opened from, or the hive-partitioned directory a `PARTITIONED BY`
    * CTAS wrote — the handle a downstream pruned reader or export takes.
    * The files reflect the state at open/CTAS time: session DML mutates
    * the session PLAN, never these files — re-export (saveAs / a fresh
    * partitioned CTAS) to publish post-DML state to path readers.
    */
  def sourcePathOf(name: String): Option[String] = sourcePaths.get(name)

  /** Run SQL text over the current state of every open session (views
    * reflect pending edits — they are rebuilt from `current` per call).
    *
    * Session names own the temp-view namespace for the duration of the
    * call: a pre-existing temp view with a session's name is replaced (and
    * not restored — don't share names between ad-hoc views and sessions,
    * or between two Catalogs on one SparkSession). The views are dropped
    * before returning — safe because `spark.sql` analyzes eagerly, so the
    * returned DataFrame holds the resolved plan, not the view names.
    */
  def sql(query: String): DataFrame = Catalog.sqlLockFor(spark).synchronized {
    // serialized per SPARKSESSION, not per catalog: temp views are
    // session-global, so two Catalog instances on one session with an
    // overlapping name could otherwise have one call's finally-drop
    // remove a view the other is mid-analysis on (the exact race a
    // per-instance lock reopens — ADVICE r9). Analysis is fast; the
    // returned DataFrame holds the resolved plan and executes unlocked.
    sessions.foreach { case (n, s) =>
      Positional.strip(s.current).createOrReplaceTempView(n)
    }
    val mvViews = scala.collection.mutable.ArrayBuffer.empty[String]
    try {
      // materialized views referenced by this statement re-plan their
      // body through the routed read path — each read serves the CURRENT
      // layout state (delta-patched by refresh), so the mv is maintained
      // by the ordinary refresh law. Only referenced mvs pay analysis
      // (mvsReferenced is a word-boundary text scan), and a body that no
      // longer analyzes (its source session was dropped) skips its view
      // instead of failing every statement that mentions the word — the
      // statement then gets the ordinary table-not-found if it really
      // reads the mv. Inside the try: a half-built window must still
      // drop its views.
      mvsReferenced(query).foreach { n =>
        scala.util.Try(mvPlan(n)).foreach { df =>
          df.createOrReplaceTempView(n); mvViews += n
        }
      }
      // DML aimed at an open session routes through the typed gestures
      // ([[CatalogDml]]), DDL through the lifecycle/schema gestures
      // ([[CatalogDdl]]); anything else — SELECTs, DML/DDL on real
      // catalog tables, malformed text — takes the ordinary Spark path
      // below, which produces the right behavior or the right error.
      val txn = if (looksLikeTxn(query)) runTxn(query) else None
      val dml =
        if (txn.isEmpty && looksLikeDml(query)) runDml(query) else None
      val ddl =
        if (txn.isEmpty && dml.isEmpty && looksLikeDdl(query)) runDdl(query)
        else None
      val travel =
        if (txn.isEmpty && dml.isEmpty && ddl.isEmpty &&
            looksLikeTimeTravel(query))
          runTimeTravel(query)
        else None
      txn.orElse(dml).orElse(ddl).orElse(travel)
        .getOrElse(graft.plans.SqlRouting.withRoutes(spark, sqlRoutes()) {
          spark.sql(query)
        })
    }
    finally (sessions.keys ++ mvViews).foreach(spark.catalog.dropTempView(_))
  }

  /** The layout routes SQL text may use, published to
    * [[graft.plans.SqlRouting]] for the duration of one [[sql]] call:
    * every EPOCH-VALID clustered, bucketed, cube or pairs layout of every
    * open session (a stale layout is simply absent, so edited sessions'
    * SQL plans against the live view — routing changes the plan, never
    * the answer). The rewrite itself is [[graft.plans.SqlLayoutRouting]],
    * injected by [[graft.plans.GraftExtensions]]; without the extensions
    * the routes are published and never read.
    */
  private[core] def sqlRoutes(): Map[String, Seq[graft.plans.SqlRouting.SqlRoute]] =
    sessions.map { case (name, s) =>
      name -> layoutSqlRoutes(layoutsOf(name), s.epoch, "sql-routed")
    }.filter(_._2.nonEmpty).toMap

  /** The SQL routes of one layout set at one epoch — shared by the live
    * per-session publication above and the time-travel path
    * ([[CatalogSnapshots.runTimeTravel]]), which publishes a PIN's
    * layouts under its snapshot view name with tag "sql-pinned".
    */
  private[core] def layoutSqlRoutes(slots: Iterable[(String, Catalog.TableLayout)],
                                    epoch: Long, tag: String)
      : Seq[graft.plans.SqlRouting.SqlRoute] = {
    import graft.plans.SqlRouting.{BucketSqlRoute, ClusteredSqlRoute, SqlRoute}
    def sqlRouted(slot: String): Unit = {
      recordRoute(Catalog.RouteReport(slot, "layout", tag)); ()
    }
    slots.collect[SqlRoute] {
        // the rule keeps the original Filter on top, so the DML patch
        // composed into the pruned base keeps SQL answers byte-identical
        case (slot, l: Catalog.ClusteredLayout) if l.builtAtEpoch == epoch =>
          ClusteredSqlRoute(l.dims, bounds => prunedClustered(l, bounds),
            () => sqlRouted(slot))
        case (slot, b: Catalog.BucketedLayout) if b.builtAtEpoch == epoch =>
          BucketSqlRoute(b.key, b.buckets, () => spark.table(b.table),
            () => sqlRouted(slot))
        case (slot, c: Catalog.CubeLayout) if c.builtAtEpoch == epoch =>
          graft.plans.SqlRouting.CubeSqlRoute(c.groupCols, c.measures,
            () => patchedCube(c), () => sqlRouted(slot))
        case (slot, p: Catalog.PairsLayout) if p.builtAtEpoch == epoch =>
          graft.plans.SqlRouting.PairsSqlRoute(p.groupCols, p.col,
            () => patchedCodes(spark.read.parquet(p.path), p.patch),
            () => sqlRouted(slot))
    }.toSeq
  }

  // ---- at-rest layouts + routing -----------------------------------------
  // The step that turns a query library into an engine: the catalog OWNS
  // the stored layouts (PQ codes, IVF-PQ cell partitions, bucketed
  // tables) and the high-level entry points below route through one
  // automatically when a VALID one exists — the caller asks for a top-k
  // or a join, never for a layout. Validity is epoch-based: a layout
  // remembers the session epoch it was built at and is bypassed the
  // moment the session mutates (edits, splices, undo), so routing can
  // never serve stale stored data — the edited session transparently
  // falls back to its live plan until the layout is rebuilt.

  import Catalog._
  private[core] val layouts = mutable.LinkedHashMap.empty[(String, String), TableLayout]
  private[core] val catalogId = Catalog.nextId.getAndIncrement()

  // ---- durable warehouse -------------------------------------------------
  // The manifest is this catalog's persisted truth about stored layouts,
  // loaded once at construction; every warehouse build upserts its entry
  // and rewrites the file (layout-count-sized — control-plane IO).
  private[core] val manifest =
    mutable.LinkedHashMap.empty[(String, String), LayoutManifestEntry]
  warehouse.foreach { wh =>
    LayoutStore.load(spark, wh)
      .foreach(e => manifest((e.session, e.slot)) = e)
    // the materialized-view registry reopens with the manifest (r13
    // verdict task #1): the MV's layouts already re-attach through the
    // digest gate when their source session reopens — restoring the
    // name+body here is what keeps `SELECT ... FROM mv` serving (routed)
    // across processes instead of orphaning that storage
    LayoutStore.loadMvs(spark, wh).foreach(e => mvs(e.name) = e.body)
  }
  private[core] val layoutSeq = new java.util.concurrent.atomic.AtomicLong(0L)


  /** The routing decision for (session, slot): the layout to serve from,
    * if any, plus the report saying why / why not. `ok` is the entry
    * point's parameter guard — a registered, epoch-valid layout built
    * with DIFFERENT parameters than the caller's (another idCol, another
    * banding) must fall back to the live plan, because routing changes
    * the plan, never the answer.
    */
  private[core] def decide(name: String, slot: String,
                     ok: TableLayout => Boolean):
      (Option[TableLayout], RouteReport) = {
    val (l, reason) = (sessions.get(name), layouts.get((name, slot))) match {
      case (None, _) => (None, "no-session")
      case (_, None) => (None, "no-layout")
      case (Some(s), Some(l0)) =>
        if (l0.builtAtEpoch != s.epoch) (None, "stale-epoch")
        else if (!ok(l0)) (None, "param-mismatch")
        else (Some(l0), "routed")
    }
    (l, RouteReport(slot, if (l.isDefined) "layout" else "live", reason))
  }

  // Routing decisions were silent through r8 — a caller could not tell
  // whether a query served from a layout or fell back, nor why. Every
  // routed entry point now records its report here (bounded ring,
  // oldest first), and explainRoute answers the question without
  // running anything.
  // synchronized: one catalog can serve typed and SQL entry points from
  // concurrent caller threads (the Verify pool does), and ArrayBuffer
  // mutation is not atomic
  private[core] val routeLog = mutable.ArrayBuffer.empty[RouteReport]
  private[core] def recordRoute(r: RouteReport): RouteReport =
    routeLog.synchronized {
      routeLog += r
      if (routeLog.size > 256) routeLog.remove(0, routeLog.size - 256)
      r
    }

  /** The most recent routing decisions of this catalog's entry points
    * (bounded to the last 256, oldest first).
    */
  def recentRoutes: Seq[RouteReport] =
    routeLog.synchronized(routeLog.toSeq)

  /** How many of this catalog's refreshes derived their vanished ids
    * through the bounded pre-image probe ([[CatalogRefresh.keyedRows]])
    * vs the full `served EXCEPT now`. Specs read these to prove the fast
    * tier actually fired (a semantics-equal test would otherwise pass
    * vacuously through the fallback). Per catalog, so concurrent specs'
    * refreshes never move another catalog's counts.
    */
  private[graft] val fastVanishedHits =
    new java.util.concurrent.atomic.AtomicLong(0L)
  private[graft] val exceptFallbacks =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** How many manifest digests this catalog's refreshes moved by the
    * delta's row hashes ([[CatalogRefresh.digestAfter]]) vs recomputed
    * with a full pass — the engagement count of the incremental digest.
    */
  private[graft] val incrementalDigests =
    new java.util.concurrent.atomic.AtomicLong(0L)
  private[graft] val fullDigests =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Dry-run of the routing decision for (session, slot): would a query
    * route through the registered layout, and if not, why — no-session /
    * no-layout / stale-epoch / param-mismatch. `paramsOk` is the same
    * guard the entry point would apply (e.g. [[topK]] requires the
    * layout's idCol to equal the caller's); omit it to check only
    * registration + epoch validity. Nothing is built, read, or recorded.
    */
  def explainRoute(name: String, slot: String,
                   paramsOk: TableLayout => Boolean = _ => true): RouteReport =
    decide(name, slot, paramsOk)._2

  /** Registered layouts (valid or stale) — the session's storage census. */
  def layoutsOf(name: String): Seq[(String, TableLayout)] =
    layouts.collect { case ((n, slot), l) if n == name => (slot, l) }.toSeq


}

object Catalog {
  private val nextId = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Control signal: a vacuum pass that cannot read a referenced-file
    * sidecar aborts (deleting nothing) rather than guess. Stackless —
    * it only ever unwinds from the sweep to vacuumIn's catch.
    */
  private[core] object VacuumAbort
      extends RuntimeException("vacuum pass aborted", null, false, false)

  // One SQL-planning lock per SparkSession (weakly held, dies with it):
  // temp views live in the session, so the serialization scope must too.
  private val sqlLocks = new java.util.WeakHashMap[SparkSession, Object]()
  private[graft] def sqlLockFor(spark: SparkSession): Object =
    sqlLocks.synchronized {
      Option(sqlLocks.get(spark)).getOrElse {
        val o = new Object
        sqlLocks.put(spark, o)
        o
      }
    }

  // One JVM-wide shutdown hook draining a queue of temp layout roots.
  // Registering a fresh hook per layout build leaked one thread object
  // per rebuild for the life of the JVM (ADVICE r8).
  private val tempDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()
  private lazy val tempDirHook: Unit = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      var f = tempDirs.poll()
      while (f != null) { rm(f); f = tempDirs.poll() }
    }))
  }
  private[graft] def registerTempDir(d: java.nio.file.Path): Unit = {
    tempDirHook
    tempDirs.add(d.toFile)
    ()
  }

  /** One routing decision: which slot was consulted, whether the query
    * serves from the stored layout (`decision` = "layout") or the live
    * session plan ("live"), and why — `reason` ∈ routed / no-session /
    * no-layout / stale-epoch / param-mismatch. Returned by
    * [[Catalog.explainRoute]] and recorded by every routed entry point
    * in [[Catalog.recentRoutes]], so a caller can always tell whether a
    * query hit storage and, if not, what to fix (rebuild vs re-state
    * parameters).
    */
  final case class RouteReport(slot: String, decision: String,
                               reason: String)

  /** An epoch-pinned serving snapshot ([[Catalog.pin]]): the session
    * plan at `epoch` (an immutable lineage reference — capturing it
    * copies nothing) plus the layouts that were epoch-valid then.
    * [[Catalog.vacuum]] keeps every dir the snapshot references until
    * the pin is released.
    */
  final case class Snapshot(epoch: Long, plan: DataFrame,
                            layouts: Map[String, TableLayout],
                            pinnedAtMicros: Long = Long.MinValue)

  /** Default in-flight-reader guard for [[Catalog.vacuum]]: nothing
    * younger than this is deleted, so a plan handed out just before the
    * superseding refresh can still run its scan.
    */
  val vacuumGraceMs: Long = 20 * 60 * 1000L

  /** Manifest writes between automatic [[Catalog.vacuum]] passes. */
  val autoVacuumEvery: Int = 16

  /** Delta state of a keyed at-rest layout: `add` rows supersede the
    * base (re-encoded edits, renamed ids), `removed` is the id relation
    * to shadow OUT of the base (every superseded id — including ids
    * renamed away, which no add row mentions). Both are edit-count-sized
    * local relations after a refresh (parquet-backed after a reopen),
    * served as `base ⟕̸ removed ∪ add` — a broadcast anti-join, not a
    * rewrite of the base files. `path` is the warehouse-relative patch
    * dir when durable, which holds the same legs as `add/` and
    * `removed/`.
    */
  final case class LayoutPatch(add: DataFrame, removed: DataFrame,
                               path: Option[String])

  /** An at-rest layout registered in a [[Catalog]]: what is stored, where,
    * and the session epoch it reflects (stale layouts are never routed).
    */
  sealed trait TableLayout { def builtAtEpoch: Long }
  final case class PqCodesLayout(idCol: String, vecCol: String, path: String,
      seeds: Array[scala.collection.Seq[Float]], m: Int,
      builtAtEpoch: Long,
      patch: Option[LayoutPatch] = None) extends TableLayout
  final case class IvfPqCellLayout(idCol: String, vecCol: String,
      path: String, cents: Seq[(Int, Seq[Float])],
      seeds: Array[scala.collection.Seq[Float]], m: Int, nProbe: Int,
      builtAtEpoch: Long,
      patch: Option[LayoutPatch] = None) extends TableLayout
  final case class BucketedLayout(key: String, table: String, buckets: Int,
      builtAtEpoch: Long) extends TableLayout

  /** A CLUSTERED full-row layout: the session's rows written clustered
    * on `dims` (one to three columns, build order) with a per-file
    * min/max skipping index over every dimension, so a box predicate
    * opens only the part files whose per-file box intersects it. The
    * dimension count picks the clustering key: one dimension
    * range-partitions on the raw column; two or three range-partition on
    * the Morton interleave of per-dimension buckets (the Delta/Iceberg
    * `OPTIMIZE ZORDER BY` shape), so a predicate on ANY dimension
    * prunes, where a single-column clustering only serves its own.
    *
    * With an `idCol` it is also DML-PATCHABLE — the Delta-Lake shape
    * (deletion vectors + an append log over clustered files): bounded
    * edits/inserts/deletes refresh as an id-shadow plus an UNCLUSTERED
    * add-leg that every serve unions in unpruned, so the stats stay
    * truthful about the base files and the exact predicate on top keeps
    * answers byte-identical; past the merge bound the legs fold into
    * only the base files they intersect. Without an id the layout has no
    * key a patch could shadow by and any delta rebuilds.
    *
    * `cols` are the stored columns, fixed when the files are written:
    * a refresh checks the delta's edited columns against them without
    * reading a schema.
    */
  final case class ClusteredLayout(dims: Seq[String], path: String,
      stats: DataFrame, files: Int, cols: Seq[String], builtAtEpoch: Long,
      idCol: Option[String] = None,
      patch: Option[LayoutPatch] = None) extends TableLayout

  /** The on-disk names of a clustered layout, all fixed by the
    * warehouses already written and all decided by the dimension count
    * n: manifest kind `range` / `zorder` / `zorder3`, build dir
    * `catalog_ranged_` / `catalog_zorder_` / `catalog_zorder3_` + id,
    * data subdir `ranged` / `zordered` / `zordered3`, and the stats
    * column names of [[graft.io.SkippingIndex.statsCols]].
    */
  object ClusteredLayout {
    private val names = Seq(("range", "catalog_ranged_", "ranged"),
      ("zorder", "catalog_zorder_", "zordered"),
      ("zorder3", "catalog_zorder3_", "zordered3"))
    private[core] def kind(n: Int): String = names(n - 1)._1
    private[core] def dirPrefix(n: Int): String = names(n - 1)._2
    private[core] def subdir(n: Int): String = names(n - 1)._3

    /** `range:<c>`, `zorder:<x>,<y>` in build order, or `zorder3:` plus
      * the SORTED names — any permutation of a 3-D box finds its layout.
      */
    private[core] def slot(dims: Seq[String]): String = dims.length match {
      case 1 => s"range:${dims.head}"
      case 2 => s"zorder:${dims.mkString(",")}"
      case _ => "zorder3:" + dims.sorted.mkString(",")
    }

    /** The slots a box on `cols` can serve from: a 2-D box tries both
      * build orders.
      */
    private[core] def slotsFor(cols: Seq[String]): Seq[String] =
      if (cols.length == 2) Seq(slot(cols), slot(cols.reverse))
      else Seq(slot(cols))

    /** Record `dims` and the shadow key in a manifest entry (see the
      * per-kind mapping on [[LayoutManifestEntry]]).
      */
    private[core] def encode(e: LayoutManifestEntry, dims: Seq[String],
                             idCol: Option[String]): LayoutManifestEntry =
      dims match {
        case Seq(c) => e.copy(valueCol = Some(c), idCol = idCol)
        case Seq(x, y) =>
          e.copy(valueCol = Some(x), idCol = Some(y), keyCol = idCol)
        case _ => e.copy(groupCols = Some(dims), keyCol = idCol)
      }
  }

  /** (dims, shadow key) of a clustered manifest entry — the inverse of
    * [[ClusteredLayout.encode]]; matches no other kind.
    */
  private[core] object ClusteredEntry {
    def unapply(e: LayoutManifestEntry): Option[(Seq[String], Option[String])] =
      e.kind match {
        case "range" => Some((Seq(e.valueCol.get), e.idCol))
        case "zorder" => Some((Seq(e.valueCol.get, e.idCol.get), e.keyCol))
        case "zorder3" => Some((e.groupCols.get, e.keyCol))
        case _ => None
      }
  }

  final case class LshIndexLayout(idCol: String, textCol: String, n: Int,
      numHashes: Int, bands: Int, index: DataFrame,
      builtAtEpoch: Long,
      patch: Option[LayoutPatch] = None) extends TableLayout
  /** `nDocs`/`avgdl` are the two corpus scalars a routed BM25 needs —
    * captured at build time and kept exact across delta refreshes (a
    * text edit re-measures them in one projection-agg pass; the index
    * files still never rewrite).
    */
  final case class PostingsLayout(idCol: String, textCol: String,
      buckets: Int, path: String, builtAtEpoch: Long,
      patch: Option[LayoutPatch] = None,
      nDocs: Long = 0L, avgdl: Double = 0.0) extends TableLayout

  /** One row per distinct `groupCols` tuple of `base` with `__cnt` =
    * count(*), and per measure the order-free decimal partial sum
    * `__sum_<m>` (round-to-6dp fixed point — the engine's standard
    * exact-and-mergeable idiom), non-null count `__cntm_<m>`, and
    * `__min_<m>` / `__max_<m>`. Every statistic is a commutative merge,
    * so partials from any partitioning of the data — batches of a
    * stream, partitions of a table — re-merge via [[cubeMergePartials]]
    * without changing a digit.
    */
  private[graft] def cubePartials(base: DataFrame, groupCols: Seq[String],
                                  measures: Seq[String]): DataFrame = {
    val aggs = cubeAggs(measures)
    base.groupBy(groupCols.map(org.apache.spark.sql.functions.col): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** The aggregates of [[cubePartials]]: `__cnt`, then per measure its
    * `__sum_`, `__cntm_`, `__min_` and `__max_` columns, in that order.
    */
  private[graft] def cubeAggs(measures: Seq[String]): Seq[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions._
    count(lit(1)).as("__cnt") +: measures.flatMap(m => Seq(
      sum(round(col(m), 6).cast("decimal(38,6)")).as(s"__sum_$m"),
      count(col(m)).as(s"__cntm_$m"),
      min(col(m)).as(s"__min_$m"),
      max(col(m)).as(s"__max_$m")))
  }

  /** Merge a union of cube partials back to one row per group: sums of
    * sums, sums of counts, min of mins, max of maxes — exact. The count
    * merges coalesce to 0: with no group columns (a global aggregate)
    * over an empty partial set, a live `count(*)` answers 0, and the
    * routed merge must too (ADVICE r9 — the SQL rewrite already did;
    * per-group rows always exist, so grouped results are unaffected).
    */
  private[graft] def cubeMergePartials(partials: DataFrame,
                                       groupCols: Seq[String],
                                       measures: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    val aggs = coalesce(sum(col("__cnt")), lit(0L)).as("__cnt") +:
      measures.flatMap(m => Seq(
        sum(col(s"__sum_$m")).as(s"__sum_$m"),
        coalesce(sum(col(s"__cntm_$m")), lit(0L)).as(s"__cntm_$m"),
        min(col(s"__min_$m")).as(s"__min_$m"),
        max(col(s"__max_$m")).as(s"__max_$m")))
    partials.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Project cube partials to the user-facing aggregate shape:
    * (groupCols…, n, per measure sum/avg/min/max) — the same output
    * [[Catalog.aggregate]] serves.
    */
  private[graft] def cubeFinish(partials: DataFrame, groupCols: Seq[String],
                                measures: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    partials.select(groupCols.map(col) ++
      (col("__cnt").as("n") +: measures.flatMap(m =>
        Seq(col(s"__sum_$m").cast("double").as(s"sum_$m"),
          (col(s"__sum_$m").cast("double") / col(s"__cntm_$m"))
            .as(s"avg_$m"),
          col(s"__min_$m").as(s"min_$m"),
          col(s"__max_$m").as(s"max_$m")))): _*)
  }

  /** A per-group DISTINCT-COUNT SKETCH layout: one stored row per
    * `groupCols` tuple carrying a Datasketches HLL sketch of `col`
    * (`hll_sketch_agg`). HLL register state is a max over hashed
    * values — order-free and associative — so a union of finer-group
    * sketches has EXACTLY the registers a direct build over the merged
    * rows would, and a rollup to any subset of the group columns
    * estimates from kilobytes of stored sketch instead of a fact scan.
    * At 100 TB this is the only affordable shape for interactive
    * distinct-count dashboards: the exact answer needs a full shuffle
    * of the distinct keys; the sketch needs a group-count-sized read.
    */
  final case class SketchLayout(groupCols: Seq[String], col: String,
      lgK: Int, path: String, builtAtEpoch: Long,
      patch: Option[LayoutPatch] = None) extends TableLayout

  /** An exact DISTINCT-PAIRS layout: the stored rows are `SELECT
    * DISTINCT groupCols…, col` — the minimal projection that answers
    * `COUNT(DISTINCT col) GROUP BY any-subset-of-groupCols` EXACTLY
    * (unlike the HLL [[SketchLayout]], which trades digits for size).
    * Distinctness survives rollup: a subset grouping re-distincts the
    * stored pairs, which is pairs-count-sized work — at 100 TB the
    * difference between shuffling every fact row's key and shuffling
    * one row per distinct (group, value) combination. `id` is the JSON
    * rendering of the FULL tuple, giving the delta patch its shadow key.
    */
  final case class PairsLayout(groupCols: Seq[String], col: String,
      path: String, builtAtEpoch: Long,
      patch: Option[LayoutPatch] = None) extends TableLayout

  /** A materialized aggregate cube: one stored row per distinct
    * `groupCols` tuple carrying `__cnt` (row count) and, per measure,
    * an order-free decimal partial sum `__sum_<m>` plus non-null count
    * `__cntm_<m>`. Because the stored statistics are all COMMUTATIVE
    * MERGEABLE partials, any rollup to a SUBSET of the group columns is
    * exact re-aggregation of group-count-sized data — the classic
    * materialized-view rewrite, at 100 TB the difference between a
    * full fact scan and a read measured in kilobytes. `id` is the JSON
    * rendering of the group tuple (injective per tuple), giving the
    * delta patch a single shadow key like every other keyed layout.
    */
  final case class CubeLayout(groupCols: Seq[String], measures: Seq[String],
      path: String, builtAtEpoch: Long,
      patch: Option[LayoutPatch] = None) extends TableLayout

  /** The session columns a layout's DEFINITION names — the set that must
    * still exist for the layout to be refreshable or rebuildable. Used
    * by the refresh loop's retire-don't-wedge guard and the SQL DDL
    * surface's drop/rename retirement.
    */
  private[core] def layoutRefs(l: TableLayout): Set[String] = l match {
    case l: PqCodesLayout => Set(l.idCol, l.vecCol)
    case l: IvfPqCellLayout => Set(l.idCol, l.vecCol)
    case l: BucketedLayout => Set(l.key)
    case l: ClusteredLayout => l.dims.toSet ++ l.idCol
    case l: LshIndexLayout => Set(l.idCol, l.textCol)
    case l: PostingsLayout => Set(l.idCol, l.textCol)
    case l: SketchLayout => l.groupCols.toSet + l.col
    case l: PairsLayout => l.groupCols.toSet + l.col
    case l: CubeLayout => l.groupCols.toSet ++ l.measures
  }
}
