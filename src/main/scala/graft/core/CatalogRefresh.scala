package graft.core

import scala.collection.mutable
import scala.util.{Failure, Success, Try}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Catalog._

/** Incremental layout maintenance (IVM): refreshStale and the per-kind delta-patch / partial-compaction / rebuild machinery for keyed and clustered layouts.
  *
  * An internal implementation seam of [[Catalog]] (split out of the
  * single-file class, r11 verdict task #7): every member here is
  * Catalog implementation detail with zero behavior change — the trait
  * exists so the file stays navigable, not as user API.
  */
trait CatalogRefresh { self: Catalog =>
  /** Refresh every STALE layout of a session at its current epoch — the
    * "after an edit burst" maintenance gesture: routing resumes on all
    * slots without the caller re-stating any build parameters. Returns
    * the refreshed slot names (valid layouts are left untouched).
    *
    * Refresh is INCREMENTAL where the session's mutation log allows it
    * ([[EditorSession.deltaSince]], folded once per distinct build epoch
    * and shared by every stale layout built at it): a keyed layout
    * (PQ / IVF-PQ / LSH) whose relevant columns were untouched simply
    * revalidates at the new epoch (zero IO); one touched by
    * position-bounded cell edits gets a DELTA PATCH — only the dirty
    * rows re-encode/re-sign, the corpus-sized base files are never
    * rewritten, and renamed-away ids are shadowed via
    * [[Catalog.LayoutPatch]]. Full rebuild remains for structural
    * gestures (splice/replace/pivot/undo — no recoverable delta), dirty
    * sets past [[deltaMaxRows]] (a patch that big loses to a rebuild),
    * and the full-row layouts without a key a patch could shadow by
    * (bucketed, and clustered ones built without an `idCol`).
    */
  def refreshStale(name: String): Seq[String] = {
    val s = sessionOf(name)
    // retire-don't-wedge (r13): a structural gesture can remove or
    // rename a column a layout's DEFINITION names (pivot, typed column
    // drop, SQL DDL already retires eagerly) — refreshing such a layout
    // would reference a nonexistent column, throw, and then throw again
    // on EVERY later refreshStale since builtAtEpoch never advances.
    // A layout whose definition can no longer be satisfied retires
    // (queries fall back to live; the decision is visible in
    // recentRoutes); everything else refreshes as before.
    val schema = Positional.strip(s.current).columns.toSet
    val deltas = mutable.HashMap.empty[Long, Option[EditorSession.SessionDelta]]
    layoutsOf(name).collect {
      case (slot, l) if l.builtAtEpoch != s.epoch => (slot, l)
    }.flatMap { case (slot, l) =>
      if (!Catalog.layoutRefs(l).subsetOf(schema)) {
        // inside an open TRANSACTION the retirement must wait: a
        // rollback restores the dropped/renamed column and the layout
        // becomes satisfiable again — retiring here would bypass the
        // txn deferral the DDL path honors (r14 review finding #6). The
        // layout just skips this pass (epoch-stale, queries serve live);
        // COMMIT's deferred retirement or the next refresh settles it.
        if (txnPre.exists(_.contains(name))) None
        else {
        layouts.remove((name, slot))
        // drop the manifest entry too (only if this catalog already
        // holds the writer token — an implicit retirement must never
        // SEIZE writership): a definition-orphaned entry would
        // otherwise pin its storage against vacuum forever
        removeManifestEntries(Seq((name, slot)), seize = false)
        recordRoute(Catalog.RouteReport(slot, "retired",
          "schema-missing-column"))
        None
        }
      } else {
        refreshSlot(name, s, slot, l, deltas.getOrElseUpdate(l.builtAtEpoch,
          s.deltaSince(l.builtAtEpoch)))
        Some(slot)
      }
    }
  }

  /** Above this many delta rows a patch loses to a rebuild (and the
    * serving-side anti-join stops being broadcast-trivial). Shared with
    * the session's mutation log, which logs a larger delete as
    * structural. The override exists for specs that pin the rebuild
    * fallback without building a 4096-literal delete plan; it is
    * CLAMPED to [[EditorSession.deltaMaxRows]] because the session
    * mutation log drops positions, and pre-image reads stop, at that
    * fixed bound — a larger override would promise a patch path the log
    * can no longer feed.
    */
  private[core] val deltaMaxRows =
    deltaMaxRowsOverride.map(math.min(_, EditorSession.deltaMaxRows))
      .getOrElse(EditorSession.deltaMaxRows)

  /** A patch's vanished-id derivation ([[vanished]]), applied to the
    * layout's served ids — by name, so the EXCEPT fallback's scan is
    * planned only when the bounded probe can't answer.
    */
  private[core] type Vanished = (=> DataFrame) => Array[Any]

  /** Refresh one stale layout from the session's net mutation delta
    * since its build epoch (`delta`, [[EditorSession.deltaSince]]; None =
    * unrecoverable). Three regimes per layout family:
    *
    *  - ID-KEYED (PQ / IVF-PQ / LSH / postings): untouched relevant
    *    columns with no row motion → revalidate (zero IO); bounded cell
    *    edits, INSERTS (new rows encode into the add-leg, nothing
    *    existing changes), and DELETES (≤ [[deltaMaxRows]] — the bound
    *    keeps the vanished-id collect edit-sized) → delta patch;
    *    anything larger or unrecoverable → rebuild.
    *  - GROUP-KEYED (cube / sketch / pairs): edits sparing the group
    *    columns, inserts, and deletes whose pre-images are recoverable
    *    ([[preImages]]: the delta's deleted positions in the build-epoch
    *    plan name the vanished rows' groups — retraction IVM)
    *    → recompute exactly the affected groups and shadow them by key (a
    *    group emptied by deletes shadows with no add row); a group-column
    *    CELL edit, or a delete past the pre-image bound or the undo
    *    history, rebuilds.
    *  - FULL-ROW (clustered): with an id column, the id-keyed
    *    regime over every stored column (each cell edit touches a stored
    *    row); a column the layout does not store, or no id column,
    *    rebuilds (there is no key a patch could shadow by). Bucketed
    *    layouts always rebuild.
    */
  private[core] def refreshSlot(name: String, s: EditorSession, slot: String,
                          l: TableLayout,
                          delta: Option[EditorSession.SessionDelta]): Unit = {
    // the rows a patch re-reads: updated rows when the edits name a
    // relevant column, plus every inserted row (the lists are disjoint)
    def touchedOf(d: EditorSession.SessionDelta, editsRelevant: Boolean) =
      (if (editsRelevant) d.updatedPos.map(_._1) else Seq.empty) ++
        d.insertedPos

    // a patch derives its vanished ids only once it has cleared its
    // null-key check (a null touched id rebuilds, which would throw the
    // probe's work away)
    def keyed(idCol: String, relevant: Set[String], revalidate: () => Unit,
              patch: (Seq[Long], Vanished) => Unit): Unit = delta match {
      case None => rebuildSlot(name, l)
      case Some(d) =>
        val editsRelevant = d.dirtyCols.intersect(relevant).nonEmpty
        val touched = touchedOf(d, editsRelevant)
        if (!editsRelevant && d.insertedPos.isEmpty && !d.hasDeletes)
          revalidate()
        else if (touched.size <= deltaMaxRows &&
            d.deleteCount <= deltaMaxRows) {
          val idsTouched = d.dirtyCols.contains(idCol) || d.hasDeletes
          patch(touched,
            served => vanished(s, d, l.builtAtEpoch, idCol, idsTouched)(served))
        }
        else rebuildSlot(name, l)
    }

    def grouped(groupCols: Set[String], valueCols: Set[String],
                revalidate: () => Unit,
                patch: (Seq[Long], Option[DataFrame]) => Unit,
                insertMerge: Option[DataFrame => Unit] = None): Unit =
      delta match {
        case None => rebuildSlot(name, l)
        case Some(d) =>
          val editsRelevant =
            d.dirtyCols.intersect(groupCols ++ valueCols).nonEmpty
          val touched = touchedOf(d, editsRelevant)
          if (!editsRelevant && d.insertedPos.isEmpty && !d.hasDeletes)
            revalidate()
          else if (!editsRelevant && !d.hasDeletes &&
              touched.size <= deltaMaxRows && d.insertedRows.isDefined &&
              insertMerge.isDefined)
            // PURE-INSERT delta with retained batch plans: the stored
            // partials merge with batch-sized partials directly — no
            // pass over the base table at all (the recompute path below
            // costs two full scans: touched-row group keys + affected-
            // group recompute). Exact by the same commutative-merge law
            // the layout serves with; deletes/relevant edits keep the
            // recompute path.
            insertMerge.get(d.insertedRows.get)
          else if (d.dirtyCols.intersect(groupCols).nonEmpty ||
              touched.size > deltaMaxRows || d.deleteCount > deltaMaxRows)
            rebuildSlot(name, l)
          else if (!d.hasDeletes) patch(touched, None)
          else preImages(s, d, l.builtAtEpoch) match {
            // the deleted rows as the layout was built over them: their
            // groups are the ones the deletes retract from (a row born
            // and deleted inside the span is in no stored group)
            case Some(built) => patch(touched,
              if (d.deletedPos.isEmpty) None
              else Some(built.filter(
                col(Positional.POS).isInCollection(d.deletedPos))))
            case None => rebuildSlot(name, l)
          }
      }

    def fullRow(idCol: Option[String], path: String,
                revalidate: () => Unit,
                patch: (Seq[Long], Vanished) => Unit): Unit = {
      // every column is stored, so every cell edit touches a stored row;
      // a column the files lack (added or renamed since the build) makes
      // the stored schema stale
      lazy val stored = Try(spark.read.parquet(path).columns.toSet)
        .getOrElse(Set.empty[String])
      (idCol, delta) match {
        case (Some(id), Some(d)) if d.dirtyCols.subsetOf(stored) =>
          keyed(id, stored, revalidate, patch)
        case _ => rebuildSlot(name, l)
      }
    }

    l match {
      case p: PqCodesLayout =>
        keyed(p.idCol, Set(p.idCol, p.vecCol),
          () => layouts((name, slot)) = p.copy(builtAtEpoch = s.epoch),
          (pos, van) => patchPq(name, s, slot, p, pos, van))
      case p: IvfPqCellLayout =>
        keyed(p.idCol, Set(p.idCol, p.vecCol),
          () => layouts((name, slot)) = p.copy(builtAtEpoch = s.epoch),
          (pos, van) => patchIvfPq(name, s, slot, p, pos, van))
      case p: LshIndexLayout =>
        keyed(p.idCol, Set(p.idCol, p.textCol),
          () => layouts((name, slot)) = p.copy(builtAtEpoch = s.epoch),
          (pos, van) => patchLsh(name, s, slot, p, pos, van))
      case p: PostingsLayout =>
        keyed(p.idCol, Set(p.idCol, p.textCol),
          () => layouts((name, slot)) = p.copy(builtAtEpoch = s.epoch),
          (pos, van) => patchPostings(name, s, slot, p, pos, van,
            // a text edit, an inserted doc, or a row delete moves the
            // corpus scalars a routed BM25 reads; an id-only rename
            // (no row motion) keeps both — decided from the delta this
            // refresh already computed
            remeasure = delta.forall(d =>
              d.dirtyCols.contains(p.textCol) ||
                d.insertedPos.nonEmpty || d.hasDeletes)))
      case p: CubeLayout =>
        grouped(p.groupCols.toSet, p.measures.toSet,
          () => layouts((name, slot)) = p.copy(builtAtEpoch = s.epoch),
          (pos, retracted) => patchCube(name, s, slot, p, pos, retracted),
          Some(rows => patchCubeInsert(name, s, slot, p, rows)))
      case p: SketchLayout =>
        grouped(p.groupCols.toSet, Set(p.col),
          () => layouts((name, slot)) = p.copy(builtAtEpoch = s.epoch),
          (pos, retracted) => patchSketch(name, s, slot, p, pos, retracted))
      case p: PairsLayout =>
        // every stored column is a key column: cell edits rebuild (the
        // pre-edit tuple is unrecoverable), row motion delta-patches
        grouped((p.groupCols :+ p.col).toSet, Set.empty,
          () => layouts((name, slot)) = p.copy(builtAtEpoch = s.epoch),
          (pos, retracted) => patchPairs(name, s, slot, p, pos, retracted),
          Some(rows => patchPairsInsert(name, s, slot, p, rows)))
      case p: ClusteredLayout =>
        fullRow(p.idCol, p.path,
          () => layouts((name, slot)) = p.copy(builtAtEpoch = s.epoch),
          (pos, van) => patchFullRow(name, s, slot, p, pos, van))
      case _ => rebuildSlot(name, l)
    }
  }

  /** Full-row DML patch for an id-keyed clustered layout: the touched
    * ids' CURRENT full rows become the unclustered add-leg, their (and
    * any vanished) ids shadow out of the base — the clustered files and
    * their skipping stats never change, so pruning stays truthful and
    * the serve-side union is edit-count-sized. Past the merge bound the
    * accumulated legs fold into only the base files they intersect
    * ([[partialCompactFullRow]]); a full rebuild remains only when the
    * fold has no locality to exploit.
    */
  private[core] def patchFullRow(name: String, s: EditorSession, slot: String,
                           l: ClusteredLayout, pos: Seq[Long],
                           van: Vanished): Unit = {
    val id = l.idCol.get
    val changed = touchedRows(s, pos, id, Seq.empty).getOrElse {
      rebuildSlot(name, layouts((name, slot))); return // null key
    }
    val legs = mergeLegs(
      van(patchedFullRows(fullRowBase(l.stats), Some(id), l.patch)
        .select(col(id).as("id"))),
      l.patch, changed, keyName = id)
    if (legs.removed.exists(_ == null)) {
      rebuildSlot(name, layouts((name, slot))) // null shadow key
      return
    }
    legsPatch(legs) match {
      case Some(patch) =>
        layouts((name, slot)) =
          l.copy(builtAtEpoch = s.epoch, patch = Some(patch))
        persistPatch(name, slot, patch, Seq.empty, s)
      case None =>
        if (!partialCompactFullRow(name, s, slot, l, id, legs))
          rebuildSlot(name, layouts((name, slot)))
    }
  }

  /** The full (unpatched) base of a clustered layout: the union of every
    * file its skipping stats list. After a [[partialCompactFullRow]] the
    * base spans the original dir plus merge dirs, so a path-based read
    * would miss rows — the stats ARE the file manifest.
    */
  private[core] def fullRowBase(stats: DataFrame): DataFrame =
    spark.read.parquet(
      stats.select("file").collect().map(_.getString(0)).toIndexedSeq: _*)

  /** Total order over the driver-side stats/key values partial
    * compaction compares (numbers across widths, timestamps, dates,
    * strings); nulls first.
    */
  private[core] def anyCmp(a: Any, b: Any): Int = (a, b) match {
    case (null, null) => 0
    case (null, _) => -1
    case (_, null) => 1
    case (x: java.lang.Number, y: java.lang.Number) =>
      java.lang.Double.compare(x.doubleValue(), y.doubleValue())
    case (x: Comparable[_], y: Any) =>
      x.asInstanceOf[Comparable[Any]].compareTo(y)
    case _ => 0
  }

  /** FILE-LOCAL compaction of a DML-patched clustered layout (r10
    * verdict task #3): when the accumulated patch outgrows the merge
    * bound, fold it into ONLY the base files it intersects — the files
    * holding a shadowed id (one id-column-pruned scan finds them) plus
    * the files whose key range each add row lands in (the skipping
    * stats know without IO). Those files rewrite re-clustered into a
    * fresh merge dir; EVERY OTHER base file stays byte-identical at its
    * original path, and the new stats are the untouched entries plus
    * freshly measured ones — pruning stays truthful and the layout
    * serves patch-free. At 100 TB this is a Delta/Iceberg-style minor
    * compaction: a localized edit burst rewrites the handful of files
    * it touched, never the corpus. Returns false (caller rebuilds) when
    * the fold would touch every file anyway.
    */
  private[core] def partialCompactFullRow(name: String, s: EditorSession,
                                    slot: String, l: ClusteredLayout,
                                    id: String,
                                    legs: MergedLegs): Boolean = {
    // stable driver-side census of the base files (manifest-sized)
    val statsRows = l.stats.collect().sortBy(_.getAs[String]("file"))
    val allFiles = statsRows.map(_.getAs[String]("file"))
    implicit val ord: Ordering[Any] = (a, b) => anyCmp(a, b)

    // target file per add row: the file whose key range the row's
    // cluster value lands in. One dimension: a gap value goes to its
    // predecessor file, a value below every range to the first. Two or
    // three: the first file whose box holds the row, else the first.
    // Quality-only choice — the fresh stats keep pruning truthful.
    val idxs = l.dims.map(legs.schema.fieldIndex)
    val bounds = graft.io.SkippingIndex.statsCols(l.dims.length)
    val assign: org.apache.spark.sql.Row => String =
      if (l.dims.length == 1) {
        val minV = bounds.head._1
        val byMin = statsRows.sortBy(_.getAs[Any](minV))
        row => {
          val v = row.get(idxs.head)
          if (v == null) byMin.head.getAs[String]("file")
          else byMin.reverseIterator
            .find(sr => anyCmp(sr.getAs[Any](minV), v) <= 0)
            .getOrElse(byMin.head).getAs[String]("file")
        }
      } else row => {
        val vs = idxs.map(row.get)
        statsRows.find(sr => vs.indices.forall { d =>
          vs(d) != null &&
            anyCmp(sr.getAs[Any](bounds(d)._1), vs(d)) <= 0 &&
            anyCmp(vs(d), sr.getAs[Any](bounds(d)._2)) <= 0
        }).getOrElse(statsRows.head).getAs[String]("file")
      }
    require(!legs.removed.contains(null),
      "null shadow key reached partialCompactFullRow: caller must rebuild")
    val targets: Set[String] = legs.add.map(assign).toSet
    val removedVals = legs.removed.toIndexedSeq
    val withRemoved: Set[String] =
      if (removedVals.isEmpty) Set.empty
      else fullRowBase(l.stats)
        .select(col(id), input_file_name().as("__f"))
        .filter(col(id).isInCollection(removedVals))
        .select("__f").distinct().collect().map(_.getString(0)).toSet
    val rewrite = targets ++ withRemoved
    if (rewrite.isEmpty) {
      // degenerate: the legs shadow nothing present and add nothing —
      // the layout is already base-exact, just drop the patch
      layouts((name, slot)) = l.copy(builtAtEpoch = s.epoch, patch = None)
      manifest.get((name, slot)).foreach(e =>
        persistEntry(e.copy(patch = None, digest =
          contentDigest(Positional.strip(s.current), Seq.empty))))
      return true
    }
    if (rewrite.size >= allFiles.length) return false // no locality

    // the fold job: shadowed rows out, add rows in, re-clustered into a
    // fresh merge dir sized like the region it replaces
    val keep = spark.read.parquet(rewrite.toIndexedSeq: _*)
      .filter(col(id).isNull || !col(id).isInCollection(removedVals))
    val addDf = spark.createDataFrame(
      java.util.Arrays.asList(legs.add: _*), legs.schema)
    val merged = keep.unionByName(addDf)
    val n = l.dims.length
    val (dir, rel) = layoutRoot(ClusteredLayout.dirPrefix(n) + "pc_")
    val dataDir = s"$dir/${ClusteredLayout.subdir(n)}"
    // a pure-delete fold can empty the merged region (every row of the
    // rewrite files shadowed, nothing added): write the schema-only
    // empty parquet plainly — its stats are zero rows, pruning exact
    if (legs.add.isEmpty && merged.isEmpty)
      merged.coalesce(1).write.parquet(dataDir)
    else writeClustered(merged, l.dims, math.max(1, rewrite.size), dataDir)
    val newStats = l.stats
      .filter(!col("file").isInCollection(rewrite.toIndexedSeq))
      .unionByName(graft.io.SkippingIndex.build(spark, dataDir, l.dims))
      .localCheckpoint(true)
    layouts((name, slot)) = l.copy(builtAtEpoch = s.epoch, path = dataDir,
      stats = newStats, patch = None)
    rel.foreach { r =>
      newStats.write.parquet(dir + "/stats")
      val base = Positional.strip(s.current)
      // the base CHANGED, so the build-time signature sidecar must too —
      // a later diverged reopen diffs against what the files now hold
      writeRowSig(base, dir, col(id), Seq.empty)
      manifest.get((name, slot)).foreach(e => persistEntry(e.copy(
        path = Some(r), patch = None,
        digest = contentDigest(base, Seq.empty))))
    }
    true
  }

  private[core] def rebuildSlot(name: String, l: TableLayout): Unit = l match {
    case l: PqCodesLayout =>
      buildPqLayout(name, l.idCol, l.vecCol, l.m); ()
    case l: IvfPqCellLayout =>
      buildIvfPqLayout(name, l.idCol, l.vecCol, l.cents.size, l.m,
        l.nProbe); ()
    case l: BucketedLayout =>
      buildBucketedLayout(name, l.key, l.buckets); ()
    case l: ClusteredLayout =>
      buildClustered(name, l.dims, l.files, l.idCol); ()
    case l: LshIndexLayout =>
      buildLshLayout(name, l.idCol, l.textCol, l.n, l.numHashes, l.bands)
    case l: PostingsLayout =>
      buildPostingsLayout(name, l.idCol, l.textCol, l.buckets); ()
    case l: CubeLayout =>
      buildCubeLayout(name, l.groupCols, l.measures); ()
    case l: SketchLayout =>
      buildSketchLayout(name, l.groupCols, l.col, l.lgK); ()
    case l: PairsLayout =>
      buildPairsLayout(name, l.groupCols, l.col); ()
  }

  /** Every current row sharing an id with a touched position, as the
    * layout's column projection — the only data-sized input a delta
    * refresh touches. Two bounded jobs: the touched positions' ids
    * collect (≤ [[deltaMaxRows]], column-pruned, read from only the
    * partitions that hold those positions — [[EditorSession.rowsAt]]),
    * then an id-filtered scan. Filtering by ID rather than by position
    * keeps the patch rebuild-equivalent even when an id repeats (every
    * sibling row of a touched id lands in the add-leg, so the by-id
    * shadow can't drop one) — and it's what lets INSERTED rows and
    * edited rows share one path.
    *
    * None when a touched row's id is NULL: a null key can't be shadowed
    * (the serve-side anti-join and the id filter here both skip nulls —
    * the same reason [[divergedAttach]] declines null keys), so the
    * caller must REBUILD rather than silently serve the stale row.
    */
  private[core] def touchedRows(s: EditorSession, pos: Seq[Long], idCol: String,
                          cols: Seq[String]): Option[DataFrame] = {
    val base = Positional.strip(s.current)
    def proj(df: DataFrame) =
      if (cols.isEmpty) df else df.select(cols.map(col): _*) // empty = all
    if (pos.isEmpty) Some(proj(base).limit(0))
    else {
      val ids = s.rowsAt(pos)
        .select(col(idCol)).distinct().collect().map(_.get(0)).toSeq
      if (ids.contains(null)) None
      else Some(proj(base.filter(col(idCol).isInCollection(ids))))
    }
  }

  /** The session plan as it was at `builtAt` — the one pre-image source
    * of layout refresh: the since-epoch positions of `d`, the delta since
    * `builtAt` (`deletedPos`, each update's second coordinate), index
    * that plan, which still serves the rows as the layout was built over
    * them. None when `d` is not [[EditorSession.SessionDelta.bounded]]
    * or the undo history trimmed the plan.
    */
  private def preImages(s: EditorSession, d: EditorSession.SessionDelta,
                        builtAt: Long): Option[DataFrame] =
    if (d.bounded) s.planAt(builtAt) else None

  /** The EXACT vanished-id set computed WITHOUT the `served EXCEPT now`
    * set difference (two full id scans + two exchanges + an aggregate):
    * the only ids that can have left the table since the layout's epoch
    * belong to rows the delta `d` lists as updated or deleted, and
    * [[preImages]] serves their PRE-gesture contents — so the candidates
    * are one bounded position-filtered read of the build-epoch plan,
    * probed for continued membership with one bounded id-filtered read
    * of the current plan (duplicate ids: a candidate id any surviving
    * row still carries has NOT vanished — exactly the EXCEPT's law).
    * This covers id EDITS too: the since-coordinates recover the
    * pre-edit row, which current state cannot.
    *
    * None (the caller falls back to the EXCEPT) when [[preImages]] is
    * None or when a candidate id is NULL — a null id can't probe through
    * `isInCollection`, and the EXCEPT path's null handling (which routes
    * to a rebuild downstream) must stay exactly as it was.
    */
  private[core] def fastVanished(s: EditorSession,
                                 d: EditorSession.SessionDelta,
                                 builtAtEpoch: Long, idCol: String,
                                 idsTouched: Boolean): Option[Array[Any]] = {
    if (!idsTouched) return Some(Array.empty[Any])
    val out = preImages(s, d, builtAtEpoch).flatMap { oldPlan =>
      val sincePos = (d.updatedPos.map(_._2) ++ d.deletedPos).distinct
      if (sincePos.isEmpty) Some(Array.empty[Any])
      else {
        val cands = oldPlan
          .filter(col(Positional.POS).isInCollection(sincePos))
          .select(col(idCol)).distinct().collect().map(_.get(0))
        if (cands.contains(null)) None
        else if (cands.isEmpty) Some(Array.empty[Any])
        else {
          val still = Positional.strip(s.current)
            .filter(col(idCol).isInCollection(cands.toIndexedSeq))
            .select(col(idCol)).distinct().collect().map(_.get(0)).toSet
          Some(cands.filterNot(still.contains))
        }
      }
    }
    if (out.isDefined) fastVanishedHits.incrementAndGet()
    out
  }

  /** The ids a patch must shadow because they vanished from the session
    * (deleted rows, renamed-away ids): [[fastVanished]]'s bounded probe,
    * else `served EXCEPT now` collected — `served` is the layout's
    * served ids as column `id`, and the difference is an id-only
    * column-pruned pass whose result is bounded by the caller's
    * delete/edit counts (≤ 2×[[deltaMaxRows]]), which [[refreshSlot]]
    * guarantees before taking a patch path (an unbounded delete would
    * collect every removed id here).
    */
  private[core] def vanished(s: EditorSession, d: EditorSession.SessionDelta,
                             builtAtEpoch: Long, idCol: String,
                             idsTouched: Boolean)(
      served: => DataFrame): Array[Any] =
    fastVanished(s, d, builtAtEpoch, idCol, idsTouched).getOrElse {
      exceptFallbacks.incrementAndGet()
      served.except(Positional.strip(s.current).select(col(idCol).as("id")))
        .collect().map(_.get(0))
    }

  /** Merge the previous patch (if any) with this refresh's delta.
    * `add0` = freshly encoded rows of the touched ids; `removedNew0` =
    * extra keys to shadow beyond the add rows' own (vanished ids,
    * emptied groups) — evaluated once, only here.
    *
    * The merge itself happens DRIVER-side: both patch legs are
    * edit-count-sized (the caller's [[deltaMaxRows]] guard), so they
    * collect once and become LocalRelations — no job ever re-derives
    * them, serving broadcasts them for free, and the old patch folds in
    * as a hash-set filter, not a join.
    */
  /** Accumulated patch legs above this many rows lose to a compaction:
    * each refresh is delta-bounded, but the MERGE accumulates across
    * refresh cycles, and an ever-growing leg would eventually dominate
    * the serve-side broadcast. Callers treat a None from [[mergedPatch]]
    * as "compact now": keyed layouts MERGE-COMPACT ([[compactKeyed]] —
    * an IO-bound stored-size rewrite, never a corpus re-encode),
    * clustered layouts fold file-locally ([[partialCompactFullRow]]);
    * a full rebuild remains only where no cheaper fold exists.
    */
  private[core] val compactionRows = 8 * deltaMaxRows

  /** MERGE-COMPACT a keyed layout past the patch bound (r11): fold the
    * accumulated legs into a rewritten copy of the STORED relation —
    * shadowed keys filtered out, the already-encoded add rows appended —
    * so compaction costs an IO-bound rewrite of the stored-size data.
    * The corpus is never re-read: a PQ compaction copies codes instead
    * of re-running the encoder, an LSH compaction copies signatures
    * instead of re-shingling, a cube/pairs compaction copies
    * group-count-sized rows instead of re-aggregating the fact table.
    * Build parameters (codebook seeds, banding, lgK) are preserved, so
    * the folded relation equals base-plus-patch serving exactly.
    *
    * @return the folded relation read back at rest, and its storage path
    */
  private[core] def compactKeyed(name: String, slot: String, s: EditorSession,
      base: DataFrame, legs: MergedLegs, keyName: String,
      prefix: String, subdir: String, digestCols: Seq[String],
      sig: Option[(org.apache.spark.sql.Column, Seq[String])],
      write: (DataFrame, String) => Unit = (df, p) => df.write.parquet(p),
      entry: LayoutManifestEntry => LayoutManifestEntry = identity)
      : (DataFrame, String) = {
    require(!legs.removed.contains(null),
      "null shadow key reached compactKeyed: the caller must rebuild")
    val removed = legs.removed.toIndexedSeq
    val addDf = spark.createDataFrame(
        java.util.Arrays.asList(legs.add: _*), legs.schema)
      .withColumnRenamed(legs.schema(legs.idIdx).name, keyName)
    val folded =
      (if (removed.isEmpty) base
       else base.filter(col(keyName).isNull ||
         !col(keyName).isInCollection(removed)))
        .unionByName(addDf)
    val (dir, rel) = layoutRoot(prefix)
    val path = s"$dir/$subdir"
    write(folded, path)
    rel.foreach { r =>
      val cur = Positional.strip(s.current)
      // the stored base changed: re-sign and re-digest the folded state
      // so diverged reopens diff against what the files now hold. The
      // caller's `entry` transform folds its kind-specific fields
      // (postings scalars) into the SAME persist — one manifest write.
      sig.foreach { case (k, cols) => writeRowSig(cur, dir, k, cols) }
      manifest.get((name, slot)).foreach(e => persistEntry(entry(e.copy(
        path = Some(r), patch = None,
        digest = contentDigest(cur, digestCols)))))
    }
    (spark.read.parquet(path), path)
  }

  /** The shared patch-or-compact dispatch of the keyed layouts: a NULL
    * shadow key (a vanished null-id row — the anti-join could never
    * apply it, and a fold would bake the stale row in permanently)
    * REBUILDS; bounded legs persist as a patch; past the bound the
    * layout merge-compacts via `compact`.
    */
  private[core] def applyLegs(name: String, slot: String, s: EditorSession,
                        legs: MergedLegs, digestCols: Seq[String])(
      compact: MergedLegs => TableLayout)(
      patched: LayoutPatch => TableLayout): Unit =
    if (legs.removed.exists(_ == null))
      rebuildSlot(name, layouts((name, slot)))
    else legsPatch(legs) match {
      case Some(p) =>
        layouts((name, slot)) = patched(p)
        persistPatch(name, slot, p, digestCols, s)
      case None =>
        layouts((name, slot)) = compact(legs)
    }

  /** The driver-side merged patch state: every add row (old legs minus
    * superseded keys, plus this refresh's), every key to shadow, and the
    * add rows' schema + key index — enough for [[legsPatch]] to persist
    * OR for [[partialCompactFullRow]] to fold into base files.
    */
  private[core] case class MergedLegs(add: Array[org.apache.spark.sql.Row],
                                removed: Array[Any],
                                schema: org.apache.spark.sql.types.StructType,
                                idIdx: Int)

  private[core] def mergeLegs(removedNew0: => Array[Any],
                        oldPatch: Option[LayoutPatch],
                        add0: DataFrame,
                        keyName: String = "id"): MergedLegs = {
    import org.apache.spark.sql.Row
    val addSchema = add0.schema
    val idIdx = addSchema.fieldIndex(keyName)
    val addNew = add0.collect()
    val removedNew: Array[Any] = removedNew0
    val newKeys: Set[Any] =
      (addNew.map(_.get(idIdx)) ++ removedNew).toSet
    val oldAdd = oldPatch.map(_.add.collect()).getOrElse(Array.empty[Row])
      .filterNot(r => newKeys.contains(r.get(idIdx)))
    val oldRemoved = oldPatch
      .map(_.removed.collect().map(_.get(0))).getOrElse(Array.empty[Any])
    MergedLegs(oldAdd ++ addNew,
      (oldRemoved ++ removedNew ++ addNew.map(_.get(idIdx))).distinct,
      addSchema, idIdx)
  }

  /** Persist merged legs as a patch, or None past the compaction bound.
    * A null shadow key is a PROGRAMMING error here — no anti-join can
    * apply it — so it fails loudly; callers must route null-key deltas
    * to a rebuild first (the [[applyLegs]] / call-site guards).
    */
  private[core] def legsPatch(legs: MergedLegs): Option[LayoutPatch] = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.StructType
    require(!legs.removed.contains(null),
      "null shadow key reached legsPatch: the caller must rebuild")
    if (legs.add.length > compactionRows ||
        legs.removed.length > compactionRows) return None
    val idSchema = StructType(Seq(legs.schema(legs.idIdx).copy(name = "id")))
    val addDf = spark.createDataFrame(
      java.util.Arrays.asList(legs.add: _*), legs.schema)
    val removedDf = spark.createDataFrame(
      java.util.Arrays.asList(legs.removed.map(Row(_)): _*), idSchema)
    Some(warehouse match {
      case Some(_) =>
        val (dir, rel) = layoutRoot("catalog_patch_")
        addDf.write.parquet(dir + "/add")
        removedDf.write.parquet(dir + "/removed")
        LayoutPatch(spark.read.parquet(dir + "/add"),
          spark.read.parquet(dir + "/removed"), rel)
      case None => LayoutPatch(addDf, removedDf, None)
    })
  }

  private[core] def mergedPatch(removedNew0: => Array[Any],
                          oldPatch: Option[LayoutPatch],
                          add0: DataFrame,
                          keyName: String = "id"): Option[LayoutPatch] =
    legsPatch(mergeLegs(removedNew0, oldPatch, add0, keyName))

  private[core] def patchPq(name: String, s: EditorSession, slot: String,
                      p: PqCodesLayout, pos: Seq[Long],
                      van: Vanished): Unit = {
    val changed = touchedRows(s, pos, p.idCol, Seq(p.idCol, p.vecCol))
      .getOrElse { rebuildSlot(name, p); return } // null key: no shadow
    val add0 = graft.operators.Similarity.pqCodes(changed, p.idCol,
      p.vecCol, p.seeds, p.m)
    val legs = mergeLegs(
      van(patchedCodes(spark.read.parquet(p.path), p.patch).select("id")),
      p.patch, add0)
    applyLegs(name, slot, s, legs, Seq(p.idCol, p.vecCol)) { lg =>
      // merge-compact: codes copy, no re-encode
      val (_, path) = compactKeyed(name, slot, s,
        spark.read.parquet(p.path), lg, "id", "catalog_pq_", "codes",
        Seq(p.idCol, p.vecCol),
        Some((col(p.idCol), Seq(p.idCol, p.vecCol))))
      p.copy(builtAtEpoch = s.epoch, path = path, patch = None)
    }(patch => p.copy(builtAtEpoch = s.epoch, patch = Some(patch)))
  }

  private[core] def patchIvfPq(name: String, s: EditorSession, slot: String,
                         p: IvfPqCellLayout, pos: Seq[Long],
                         van: Vanished): Unit = {
    val changed = touchedRows(s, pos, p.idCol, Seq(p.idCol, p.vecCol))
      .getOrElse { rebuildSlot(name, p); return } // null key: no shadow
    val add0 = graft.operators.Similarity.ivfPqEncodeWith(changed, p.idCol,
      p.vecCol, p.cents, p.seeds, p.m)
    val legs = mergeLegs(
      van(patchedCodes(spark.read.parquet(p.path), p.patch).select("id")),
      p.patch, add0)
    applyLegs(name, slot, s, legs, Seq(p.idCol, p.vecCol)) { lg =>
      // merge-compact: cell-partitioned codes copy
      val (_, path) = compactKeyed(name, slot, s,
        spark.read.parquet(p.path), lg, "id", "catalog_ivfpq_",
        "codes", Seq(p.idCol, p.vecCol),
        Some((col(p.idCol), Seq(p.idCol, p.vecCol))),
        write = (df, out) =>
          graft.io.Formats.writePartitioned(df, out, Seq("__ivf_cid")))
      p.copy(builtAtEpoch = s.epoch, path = path, patch = None)
    }(patch => p.copy(builtAtEpoch = s.epoch, patch = Some(patch)))
  }

  /** LSH delta: re-sign only the dirty docs and shadow their (and any
    * renamed-away) ids out of the stored index — the corpus is never
    * re-shingled. `index` stays the immutable BASE; probes serve the
    * [[patchedCodes]] composition, same as the codes layouts.
    */
  private[core] def patchLsh(name: String, s: EditorSession, slot: String,
                       p: LshIndexLayout, pos: Seq[Long],
                       van: Vanished): Unit = {
    val changed = touchedRows(s, pos, p.idCol, Seq(p.idCol, p.textCol))
      .getOrElse { rebuildSlot(name, p); return } // null key: no shadow
    val add0 = graft.operators.Dedup.lshIndex(changed, p.idCol, p.textCol,
      p.n, p.numHashes, p.bands)
    val legs = mergeLegs(
      van(patchedCodes(p.index, p.patch).select("id")), p.patch, add0)
    applyLegs(name, slot, s, legs, Seq(p.idCol, p.textCol)) { lg =>
      // merge-compact: index copy, corpus never re-shingled
      val (folded, _) = compactKeyed(name, slot, s, p.index, lg, "id",
        "catalog_lsh_", "index", Seq(p.idCol, p.textCol),
        Some((col(p.idCol), Seq(p.idCol, p.textCol))))
      p.copy(builtAtEpoch = s.epoch, index = folded, patch = None)
    }(patch => p.copy(builtAtEpoch = s.epoch, patch = Some(patch)))
  }

  /** Postings delta: re-tokenize only the dirty docs; their (and any
    * renamed-away) doc ids are shadowed out of the stored (term, doc)
    * base — doc-keyed where the codes patches are id-keyed one-row-per-
    * id, but [[mergedPatch]]'s key set handles the multi-row-per-doc
    * shape unchanged (every row of a re-edited doc is in `add`, the doc
    * id is in `removed`). The bucketed base files are never rewritten.
    */
  private[core] def patchPostings(name: String, s: EditorSession, slot: String,
                            p: PostingsLayout, pos: Seq[Long],
                            van: Vanished,
                            remeasure: Boolean): Unit = {
    val changed = touchedRows(s, pos, p.idCol, Seq(p.idCol, p.textCol))
      .getOrElse { rebuildSlot(name, p); return } // null key: no shadow
    val add0 = graft.operators.Retrieval.postingsRowsFor(changed, p.idCol,
      p.textCol, p.buckets)
    val legs = mergeLegs(
      van(patchedPostings(p).select(col("doc").as("id"))), p.patch, add0)
    // the re-measure is one projection-agg pass, no explode, no
    // index rewrite — the exact-stats cost of the delta
    def scalars(): (Long, Double) =
      if (remeasure)
        graft.operators.Retrieval.postingsStats(
          Positional.strip(s.current), p.textCol)
      else (p.nDocs, p.avgdl)
    if (legs.removed.exists(_ == null)) {
      rebuildSlot(name, p) // null shadow key: see [[applyLegs]]
      return
    }
    legsPatch(legs) match {
      case None => // merge-compact: bucketed copy, never re-tokenized
        val (nDocs, avgdl) = scalars()
        val (_, path) = compactKeyed(name, slot, s,
          spark.read.parquet(p.path), legs, "doc", "catalog_postings_",
          "postings", Seq(p.idCol, p.textCol),
          Some((col(p.idCol), Seq(p.idCol, p.textCol))),
          write = (df, out) => df.repartition(p.buckets, col("__tb"))
            .write.partitionBy("__tb").parquet(out),
          // the scalars ride the compaction's own manifest write
          entry = e => e.copy(nDocs = Some(nDocs), avgdl = Some(avgdl)))
        layouts((name, slot)) = p.copy(builtAtEpoch = s.epoch,
          path = path, patch = None, nDocs = nDocs, avgdl = avgdl)
      case Some(patch) =>
        val (nDocs, avgdl) = scalars()
        layouts((name, slot)) = p.copy(builtAtEpoch = s.epoch,
          patch = Some(patch), nDocs = nDocs, avgdl = avgdl)
        persistPatch(name, slot, patch, Seq(p.idCol, p.textCol), s)
        // the manifest must carry the re-measured scalars too, or a
        // reopened catalog would score BM25 with the pre-edit avgdl
        patch.path.foreach { _ =>
          manifest.get((name, slot)).foreach(e =>
            persistEntry(e.copy(nDocs = Some(nDocs), avgdl = Some(avgdl))))
        }
    }
  }

  /** Serving view of a (possibly patched) postings layout: the patch is
    * doc-keyed while the stored rows are (term, doc), so the shadow is
    * an anti-join on `doc` and the add rows rename their patch key back.
    */
  private[core] def patchedPostings(p: PostingsLayout): DataFrame = {
    val base = spark.read.parquet(p.path)
    p.patch.fold(base) { pt =>
      base.join(broadcast(pt.removed), base("doc") === pt.removed("id"),
          "left_anti")
        .unionByName(pt.add.withColumnRenamed("id", "doc"))
    }
  }

  /** Serving view of a (possibly patched) codes layout: base minus
    * shadowed ids, plus the patch rows — a broadcast anti-join over an
    * edit-count-sized relation, never a base rewrite.
    */
  private[core] def patchedCodes(base: DataFrame,
                           patch: Option[LayoutPatch]): DataFrame =
    patch.fold(base) { pt =>
      base.join(broadcast(pt.removed), Seq("id"), "left_anti")
        .unionByName(pt.add)
    }

  /** Update the manifest after a delta refresh: the entry keeps its
    * build parameters but points at the merged patch dir, and its digest
    * re-records the EDITED table so a reopen re-attaches the patched
    * layout (one column-pruned scan — still no corpus re-encode).
    */
  private[core] def persistPatch(name: String, slot: String, patch: LayoutPatch,
                           digestCols: Seq[String],
                           s: EditorSession): Unit =
    patch.path.foreach { rel =>
      manifest.get((name, slot)).foreach { e =>
        persistEntry(e.copy(patch = Some(rel),
          digest = contentDigest(Positional.strip(s.current), digestCols)))
      }
    }

}
