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
    val deltas = mutable.HashMap.empty[Long, Option[DeltaImages]]
    persistBatched(layoutsOf(name).collect {
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
          s.deltaSince(l.builtAtEpoch).map(new DeltaImages(s, _,
            l.builtAtEpoch, layoutsOf(name).filter { case (_, x) =>
              x.builtAtEpoch == l.builtAtEpoch &&
                Catalog.layoutRefs(x).subsetOf(schema) }))))
        Some(slot)
      }
    })
  }

  /** The rows one session delta moved, read once per (session, build
    * epoch) and shared by every stale slot built at that epoch. Each side
    * is one pruned, edit-sized collect held as a local relation (with
    * `__pos`), so slots filter and project it on the driver, with no job:
    *
    *  - `pre`: the rows as the layouts were built over them, at the
    *    since-epoch positions of the delta's updated and deleted rows,
    *    read from the plan retained at the build epoch
    *    ([[EditorSession.rowsAtEpoch]]). None when the delta is not
    *    [[EditorSession.SessionDelta.bounded]] or history trimmed that
    *    plan.
    *  - `post`: the rows as they are now, at the to-epoch positions of the
    *    updated and inserted rows ([[EditorSession.rowsAt]]). None when
    *    the delta is not bounded; [[postAt]] then reads one slot's rows.
    *
    * Slots derive their group keys ([[affectedGroupKeys]]), touched ids
    * and vanished-id candidates ([[keyedRows]]) from them, and the
    * manifest digest moves by their hashes ([[digestAfter]]).
    */
  private[core] final class DeltaImages(s: EditorSession,
      val d: EditorSession.SessionDelta, builtAt: Long,
      stale: Seq[(String, TableLayout)]) {
    private def at(rows: DataFrame, pos: Seq[Long]): DataFrame =
      rows.filter(col(Positional.POS).isInCollection(pos))
    private lazy val sincePos = (d.updatedPos.map(_._2) ++ d.deletedPos).distinct

    lazy val pre: Option[DataFrame] =
      if (!d.bounded) None
      else if (sincePos.isEmpty) Some(s.current.limit(0))
      else s.rowsAtEpoch(builtAt, sincePos).map(collectLocal)

    lazy val post: Option[DataFrame] =
      if (!d.bounded) None
      else Some(collectLocal(s.rowsAt(d.updatedPos.map(_._1) ++ d.insertedPos)))

    /** The pre-images of the deleted rows; None when unrecoverable. */
    def deleted: Option[DataFrame] = pre.map(at(_, d.deletedPos))

    /** The current rows at `pos`, to-epoch positions the delta lists. */
    def postAt(pos: Seq[Long]): DataFrame =
      post.fold(collectLocal(s.rowsAt(pos)))(at(_, pos))

    /** The affected keys and recomputed stored rows of every cube and
      * pairs slot built at this epoch that recomputes, by slot, from one
      * shared pass ([[sharedRecompute]]).
      */
    lazy val recomputed: Map[String, (Seq[String], DataFrame)] =
      sharedRecompute(s, this, stale)
  }

  /** `df` collected into a local relation: later filters and projections
    * of it evaluate on the driver, with no job. For edit-sized frames.
    */
  private[core] def collectLocal(df: DataFrame): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)

  /** What a grouped layout's refresh does with one delta. */
  private[core] sealed trait GroupedStep
  private[core] object GroupedStep {
    case object Revalidate extends GroupedStep
    case object InsertMerge extends GroupedStep
    case object Rebuild extends GroupedStep
    /** Recompute the groups of the `touched` rows (current images) and
      * of the `retracted` rows (the deleted rows as built).
      */
    final case class Recompute(touched: DataFrame,
                               retracted: Option[DataFrame]) extends GroupedStep
  }

  /** The rows a patch re-reads: updated rows when the edits name a
    * relevant column, plus every inserted row (the lists are disjoint).
    */
  private def touchedOf(d: EditorSession.SessionDelta, editsRelevant: Boolean) =
    (if (editsRelevant) d.updatedPos.map(_._1) else Seq.empty) ++ d.insertedPos

  /** The group and value columns of a grouped layout (cube / sketch /
    * pairs). Every stored column of a pairs layout is a key column, so a
    * cell edit of any of them rebuilds (the pre-edit tuple is
    * unrecoverable) while row motion patches.
    */
  private[core] def groupedCols(l: TableLayout): Option[(Set[String], Set[String])] =
    l match {
      case p: CubeLayout => Some((p.groupCols.toSet, p.measures.toSet))
      case p: SketchLayout => Some((p.groupCols.toSet, Set(p.col)))
      case p: PairsLayout => Some(((p.groupCols :+ p.col).toSet, Set.empty))
      case _ => None
    }

  /** The grouped regime of [[refreshSlot]]: edits sparing the group
    * columns, inserts, and deletes whose pre-images are recoverable
    * (the deleted rows as built name the groups they retract from)
    * recompute exactly the affected groups; a pure-insert delta with
    * retained batch plans merges when the layout can (`canMerge`); a
    * group-column CELL edit, or a delta past the bounds or the undo
    * history, rebuilds.
    */
  private[core] def groupedStep(img: DeltaImages, groupCols: Set[String],
                                valueCols: Set[String],
                                canMerge: Boolean): GroupedStep = {
    import GroupedStep._
    val d = img.d
    val editsRelevant = d.dirtyCols.intersect(groupCols ++ valueCols).nonEmpty
    val touched = touchedOf(d, editsRelevant)
    if (!editsRelevant && d.insertedPos.isEmpty && !d.hasDeletes) Revalidate
    else if (!editsRelevant && !d.hasDeletes && touched.size <= deltaMaxRows &&
        d.insertedRows.isDefined && canMerge)
      // PURE-INSERT delta with retained batch plans: the stored partials
      // merge with batch-sized partials directly — no pass over the base
      // table at all (the recompute path costs the affected-group pass).
      // Exact by the same commutative-merge law the layout serves with.
      InsertMerge
    else if (d.dirtyCols.intersect(groupCols).nonEmpty ||
        touched.size > deltaMaxRows || d.deleteCount > deltaMaxRows)
      Rebuild
    else if (!d.hasDeletes) Recompute(img.postAt(touched), None)
    // a row born and deleted inside the span is in no stored group
    else img.deleted.fold[GroupedStep](Rebuild)(gone => Recompute(
      img.postAt(touched), if (d.deletedPos.isEmpty) None else Some(gone)))
  }

  /** The digest `e` records once the session is at its current state:
    * [[incrementalDigest]] over the refreshing delta's images `img` when
    * both sides were recoverable, else the full [[contentDigest]] pass
    * (an unbounded delta, a trimmed history). Counted per catalog in
    * [[incrementalDigests]] / [[fullDigests]].
    */
  private[core] def digestAfter(e: LayoutManifestEntry, s: EditorSession,
                                img: DeltaImages): String = {
    val cols = digestColsOf(e)
    val now = Positional.strip(s.current)
    // an all-column digest needs both sides in the current column order
    def sameCols(df: DataFrame) =
      cols.nonEmpty || Positional.strip(df).columns.sameElements(now.columns)
    val inc = for {
      pre <- img.pre if sameCols(pre)
      post <- img.post if sameCols(post)
      dg <- incrementalDigest(e.digest, cols, pre, post,
        img.d.insertedPos.size.toLong - img.d.deletedPos.size)
    } yield dg
    inc match {
      case Some(dg) => incrementalDigests.incrementAndGet(); dg
      case None => fullDigests.incrementAndGet(); contentDigest(now, cols)
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
    * since its build epoch (`img`, that delta's [[DeltaImages]]; None =
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
    *    (the deleted rows as built name the vanished rows' groups —
    *    retraction IVM; [[groupedStep]])
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
                          img: Option[DeltaImages]): Unit = img match {
    case None => rebuildSlot(name, l)
    case Some(im) =>
      val d = im.d

      // `cols` = the columns the patch reads (empty = every column); a
      // null touched id rebuilds
      def keyed(idCol: String, cols: Seq[String], relevant: Set[String],
                revalidate: () => Unit,
                patch: (DataFrame, Vanished) => Unit): Unit = {
        val editsRelevant = d.dirtyCols.intersect(relevant).nonEmpty
        val touched = touchedOf(d, editsRelevant)
        if (!editsRelevant && d.insertedPos.isEmpty && !d.hasDeletes)
          revalidate()
        else if (touched.size <= deltaMaxRows &&
            d.deleteCount <= deltaMaxRows) {
          val idsTouched = d.dirtyCols.contains(idCol) || d.hasDeletes
          keyedRows(s, im, touched, idCol, cols, idsTouched) match {
            case Some((changed, fast)) =>
              patch(changed, served => vanished(s, idCol, fast)(served))
            case None => rebuildSlot(name, l)
          }
        }
        else rebuildSlot(name, l)
      }

      def grouped(revalidate: () => Unit,
                  patch: (DataFrame, Option[DataFrame]) => Unit,
                  insertMerge: Option[DataFrame => Unit] = None): Unit = {
        import GroupedStep._
        val (groupCols, valueCols) = groupedCols(l).get
        groupedStep(im, groupCols, valueCols, insertMerge.isDefined) match {
          case Revalidate => revalidate()
          case InsertMerge => insertMerge.get(d.insertedRows.get)
          case Recompute(touched, retracted) => patch(touched, retracted)
          case Rebuild => rebuildSlot(name, l)
        }
      }

      // every column is stored, so every cell edit touches a stored row; a
      // column the files lack (added or renamed since the build) makes the
      // stored schema stale
      def fullRow(p: ClusteredLayout, revalidate: () => Unit,
                  patch: (DataFrame, Vanished) => Unit): Unit =
        p.idCol match {
          case Some(id) if d.dirtyCols.subsetOf(p.cols.toSet) =>
            keyed(id, Seq.empty, p.cols.toSet, revalidate, patch)
          case _ => rebuildSlot(name, l)
        }

      l match {
        case p: PqCodesLayout =>
          keyed(p.idCol, Seq(p.idCol, p.vecCol), Set(p.idCol, p.vecCol),
            () => layouts((name, slot)) = p.copy(builtAtEpoch = s.epoch),
            (rows, van) => patchPq(name, s, slot, p, im, rows, van))
        case p: IvfPqCellLayout =>
          keyed(p.idCol, Seq(p.idCol, p.vecCol), Set(p.idCol, p.vecCol),
            () => layouts((name, slot)) = p.copy(builtAtEpoch = s.epoch),
            (rows, van) => patchIvfPq(name, s, slot, p, im, rows, van))
        case p: LshIndexLayout =>
          keyed(p.idCol, Seq(p.idCol, p.textCol), Set(p.idCol, p.textCol),
            () => layouts((name, slot)) = p.copy(builtAtEpoch = s.epoch),
            (rows, van) => patchLsh(name, s, slot, p, im, rows, van))
        case p: PostingsLayout =>
          keyed(p.idCol, Seq(p.idCol, p.textCol), Set(p.idCol, p.textCol),
            () => layouts((name, slot)) = p.copy(builtAtEpoch = s.epoch),
            (rows, van) => patchPostings(name, s, slot, p, im, rows, van,
              // a text edit, an inserted doc, or a row delete moves the
              // corpus scalars a routed BM25 reads; an id-only rename
              // (no row motion) keeps both — decided from the delta this
              // refresh already computed
              remeasure = d.dirtyCols.contains(p.textCol) ||
                d.insertedPos.nonEmpty || d.hasDeletes))
        case p: CubeLayout =>
          grouped(() => layouts((name, slot)) = p.copy(builtAtEpoch = s.epoch),
            (_, _) => patchCube(name, s, slot, p, im),
            Some(rows => patchCubeInsert(name, s, slot, p, im, rows)))
        case p: SketchLayout =>
          grouped(() => layouts((name, slot)) = p.copy(builtAtEpoch = s.epoch),
            (rows, retracted) =>
              patchSketch(name, s, slot, p, im, rows, retracted))
        case p: PairsLayout =>
          grouped(() => layouts((name, slot)) = p.copy(builtAtEpoch = s.epoch),
            (_, _) => patchPairs(name, s, slot, p, im),
            Some(rows => patchPairsInsert(name, s, slot, p, im, rows)))
        case p: ClusteredLayout =>
          fullRow(p,
            () => layouts((name, slot)) = p.copy(builtAtEpoch = s.epoch),
            (rows, van) => patchFullRow(name, s, slot, p, im, rows, van))
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
                           l: ClusteredLayout, img: DeltaImages,
                           changed: DataFrame, van: Vanished): Unit = {
    val id = l.idCol.get
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
        persistPatch(name, slot, patch, s, img)
      case None =>
        if (!partialCompactFullRow(name, s, img, slot, l, id, legs))
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
                                    img: DeltaImages,
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
      manifestEntry(name, slot).foreach(e =>
        persistEntry(e.copy(patch = None, digest = digestAfter(e, s, img))))
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
      // the base CHANGED, so the build-time signature sidecar must too —
      // a later diverged reopen diffs against what the files now hold
      writeRowSig(Positional.strip(s.current), dir, col(id), Seq.empty)
      manifestEntry(name, slot).foreach(e => persistEntry(e.copy(
        path = Some(r), patch = None, digest = digestAfter(e, s, img))))
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
    * layout's column projection `cols` (empty = every column), and the
    * vanished ids the bounded probe proves — from ONE id-filtered pass,
    * the only data-sized input a delta refresh of an id-keyed layout
    * reads. The touched ids come from the delta's post-images, the
    * candidate vanished ids from its pre-images ([[DeltaImages]]).
    * Filtering by ID rather than by position keeps the patch
    * rebuild-equivalent even when an id repeats (every sibling row of a
    * touched id lands in the add-leg, so the by-id shadow can't drop
    * one) — and it's what lets INSERTED rows and edited rows share one
    * path.
    *
    * The probe: the only ids that can have left the table since the
    * layout's epoch belong to rows the delta lists as updated or deleted,
    * and their pre-images name them — this covers id EDITS too, whose
    * pre-edit row current state cannot recover. A candidate any current
    * row still carries has NOT vanished (duplicate ids — exactly the
    * `served EXCEPT now` law). The probe answers None (the caller's
    * [[vanished]] falls back to the EXCEPT) when the pre-images are
    * unrecoverable or a candidate id is NULL (a null id can't probe
    * through `isInCollection`); it is `Some(empty)` when the delta
    * touched no id.
    *
    * None when a touched row's id is NULL: a null key can't be shadowed
    * (the serve-side anti-join and the id filter here both skip nulls —
    * the same reason [[divergedAttach]] declines null keys), so the
    * caller must REBUILD rather than silently serve the stale row.
    */
  private[core] def keyedRows(s: EditorSession, img: DeltaImages,
                              pos: Seq[Long], idCol: String,
                              cols: Seq[String], idsTouched: Boolean)
      : Option[(DataFrame, Option[Array[Any]])] = {
    def idsOf(df: DataFrame) =
      df.select(col(idCol)).collect().map(_.get(0)).distinct
    val ids = idsOf(img.postAt(pos))
    if (ids.contains(null)) return None
    val cands =
      if (!idsTouched) Some(Array.empty[Any])
      else img.pre.map(idsOf).filterNot(_.contains(null))
    val base = Positional.strip(s.current)
    val proj = if (cols.isEmpty) base else base.select(cols.map(col): _*)
    val probe = (ids ++ cands.getOrElse(Array.empty[Any])).distinct
    val hits = collectLocal(
      if (probe.isEmpty) proj.limit(0)
      else proj.filter(col(idCol).isInCollection(probe)))
    val fast = cands.map { cs =>
      if (idsTouched) fastVanishedHits.incrementAndGet()
      val still = idsOf(hits).toSet
      cs.filterNot(still.contains)
    }
    Some((hits.filter(col(idCol).isInCollection(ids)), fast))
  }

  /** The ids a patch must shadow because they vanished from the session
    * (deleted rows, renamed-away ids): the bounded probe's answer `fast`
    * ([[keyedRows]]), else `served EXCEPT now` collected — `served` is
    * the layout's served ids as column `id`, and the difference is an
    * id-only column-pruned pass whose result is bounded by the caller's
    * delete/edit counts (≤ 2×[[deltaMaxRows]]), which [[refreshSlot]]
    * guarantees before taking a patch path (an unbounded delete would
    * collect every removed id here).
    */
  private[core] def vanished(s: EditorSession, idCol: String,
                             fast: Option[Array[Any]])(
      served: => DataFrame): Array[Any] = fast match {
    case Some(ids) => ids
    case None =>
      exceptFallbacks.incrementAndGet()
      served.except(Positional.strip(s.current).select(col(idCol).as("id")))
        .collect().map(_.get(0))
  }

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
      img: DeltaImages, base: DataFrame, legs: MergedLegs, keyName: String,
      prefix: String, subdir: String,
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
      manifestEntry(name, slot).foreach(e => persistEntry(entry(e.copy(
        path = Some(r), patch = None, digest = digestAfter(e, s, img)))))
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
                        img: DeltaImages, legs: MergedLegs)(
      compact: MergedLegs => TableLayout)(
      patched: LayoutPatch => TableLayout): Unit =
    if (legs.removed.exists(_ == null))
      rebuildSlot(name, layouts((name, slot)))
    else legsPatch(legs) match {
      case Some(p) =>
        layouts((name, slot)) = patched(p)
        persistPatch(name, slot, p, s, img)
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
    * The returned patch serves its legs as the local relations they were
    * merged into — edit-sized, so serving broadcasts them for free and
    * the next refresh's [[mergeLegs]] reads them with no job; a durable
    * catalog also writes them as `add/` and `removed/` under the patch
    * dir, which a reopen reads back ([[reconstruct]]).
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
    val rel = warehouse.flatMap { _ =>
      val (dir, rel) = layoutRoot("catalog_patch_")
      addDf.write.parquet(dir + "/add")
      removedDf.write.parquet(dir + "/removed")
      rel
    }
    Some(LayoutPatch(addDf, removedDf, rel))
  }

  private[core] def mergedPatch(removedNew0: => Array[Any],
                          oldPatch: Option[LayoutPatch],
                          add0: DataFrame,
                          keyName: String = "id"): Option[LayoutPatch] =
    legsPatch(mergeLegs(removedNew0, oldPatch, add0, keyName))

  private[core] def patchPq(name: String, s: EditorSession, slot: String,
                      p: PqCodesLayout, img: DeltaImages,
                      changed: DataFrame,
                      van: Vanished): Unit = {
    val add0 = graft.operators.Similarity.pqCodes(changed, p.idCol,
      p.vecCol, p.seeds, p.m)
    val legs = mergeLegs(
      van(patchedCodes(spark.read.parquet(p.path), p.patch).select("id")),
      p.patch, add0)
    applyLegs(name, slot, s, img, legs) { lg =>
      // merge-compact: codes copy, no re-encode
      val (_, path) = compactKeyed(name, slot, s, img,
        spark.read.parquet(p.path), lg, "id", "catalog_pq_", "codes",
        Some((col(p.idCol), Seq(p.idCol, p.vecCol))))
      p.copy(builtAtEpoch = s.epoch, path = path, patch = None)
    }(patch => p.copy(builtAtEpoch = s.epoch, patch = Some(patch)))
  }

  private[core] def patchIvfPq(name: String, s: EditorSession, slot: String,
                         p: IvfPqCellLayout, img: DeltaImages,
                         changed: DataFrame,
                         van: Vanished): Unit = {
    val add0 = graft.operators.Similarity.ivfPqEncodeWith(changed, p.idCol,
      p.vecCol, p.cents, p.seeds, p.m)
    val legs = mergeLegs(
      van(patchedCodes(spark.read.parquet(p.path), p.patch).select("id")),
      p.patch, add0)
    applyLegs(name, slot, s, img, legs) { lg =>
      // merge-compact: cell-partitioned codes copy
      val (_, path) = compactKeyed(name, slot, s, img,
        spark.read.parquet(p.path), lg, "id", "catalog_ivfpq_", "codes",
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
                       p: LshIndexLayout, img: DeltaImages,
                       changed: DataFrame,
                       van: Vanished): Unit = {
    val add0 = graft.operators.Dedup.lshIndex(changed, p.idCol, p.textCol,
      p.n, p.numHashes, p.bands)
    val legs = mergeLegs(
      van(patchedCodes(p.index, p.patch).select("id")), p.patch, add0)
    applyLegs(name, slot, s, img, legs) { lg =>
      // merge-compact: index copy, corpus never re-shingled
      val (folded, _) = compactKeyed(name, slot, s, img, p.index, lg, "id",
        "catalog_lsh_", "index",
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
                            p: PostingsLayout, img: DeltaImages,
                            changed: DataFrame, van: Vanished,
                            remeasure: Boolean): Unit = {
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
        val (_, path) = compactKeyed(name, slot, s, img,
          spark.read.parquet(p.path), legs, "doc", "catalog_postings_",
          "postings",
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
        persistPatch(name, slot, patch, s, img)
        // the manifest must carry the re-measured scalars too, or a
        // reopened catalog would score BM25 with the pre-edit avgdl
        patch.path.foreach { _ =>
          manifestEntry(name, slot).foreach(e =>
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
    * layout. The digest moves by the delta's row hashes
    * ([[digestAfter]]), so a bounded refresh pays no table pass for it.
    */
  private[core] def persistPatch(name: String, slot: String, patch: LayoutPatch,
                           s: EditorSession, img: DeltaImages): Unit =
    patch.path.foreach { rel =>
      manifestEntry(name, slot).foreach { e =>
        persistEntry(e.copy(patch = Some(rel), digest = digestAfter(e, s, img)))
      }
    }

}
