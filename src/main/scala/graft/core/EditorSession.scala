package graft.core

import scala.collection.mutable
import scala.util.{Failure, Success, Try}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType
import org.apache.spark.storage.StorageLevel
import graft.core.Positional.POS
import graft.io.Formats
import graft.ops.{CellOps, PivotOps, RowOps, SchemaOps}

/** The engine's session object: a mutable reference to an immutable
  * DataFrame + the `__pos` ordering convention + an edit log.
  *
  * Replaces the reference's single in-memory `PandasModel._data`
  * (`/root/reference/main.py:15-17`; v2 pyc@46-48) and its in-place
  * mutation. Multi-table sessions (v1's MDI windows, `main.py:126-135`)
  * are a name → session map ([[EditorSession.open]] + [[Catalog]]).
  *
  * Interactive-mutation-vs-lazy-plans (SURVEY.md §7.3.2): repeated cell
  * edits are buffered in an edit log and materialized as ONE projection per
  * edited column (`CASE WHEN __pos IN (...) THEN map[__pos] ELSE col`),
  * not a tower of per-edit projections; every `compactEvery` flushes the
  * plan with `localCheckpoint` so analysis cost stays bounded no matter how
  * many edits the session has absorbed.
  */
class EditorSession private (val spark: SparkSession, table0: DataFrame,
                             compactEvery: Int, rows0: Long,
                             map0: Option[PosMap]) {

  /** The session table: [[Positional.attachPos]] has already pinned the
    * sorted snapshot with a localCheckpoint, materialized by its
    * position-assignment pass (the reference's E1 also loads eagerly,
    * `main.py:195-202`), so the session view is a single cheap projection
    * over materialized blocks — re-checkpointing here would just copy the
    * table a second time. Interactive sessions are
    * human-scale by definition; the 100 TB paths (queries/, operators/)
    * never go through EditorSession.
    */
  private var table: DataFrame = table0

  /** Pending cell edits: colName -> (pos -> casted value). Inner maps are
    * *immutable* so undo snapshots share them structurally — a snapshot is
    * O(edited columns), never a deep copy of the edit log.
    */
  private val editLog = mutable.LinkedHashMap.empty[String, Map[Long, Any]]
  private var editsSinceCheckpoint = 0

  /** Row count, maintained arithmetically through gestures (-1 = unknown,
    * recomputed lazily). Knowing the size on the driver lets gestures
    * validate positions and paste avoid a count job.
    */
  private var nRows: Long = rows0

  /** Which `__pos` interval each partition of [[current]]'s RDD can hold,
    * or None when unknown. [[page]] reads only the partitions whose
    * interval meets the page; a wider interval costs a partition read, a
    * narrower one would lose rows, so every rule below keeps it a
    * superset. Each gesture moves it on the driver, with no Spark job:
    *  - open, append and pivot build it from the attach's per-partition
    *    counts ([[Positional.attachPosMapped]]); append adds the batch's
    *    partitions after the old ones, shifted to the tail;
    *  - cell edits (the literal map and the broadcast [[editJoin]]),
    *    column insert/drop/rename, [[setNestedField]] and [[checkpoint]]
    *    keep every partition where it was, so the map stays;
    *  - delete and cut shift each interval down by the removed positions
    *    below it ([[PosMap.afterDelete]], the shift
    *    [[graft.ops.RowOps.deleteRows]] applies to `__pos`);
    *  - paste plans `upper ++ clip ++ lower`: upper partitions are clamped
    *    below the paste point, lower ones clamped above it and shifted by
    *    the clipboard size, and each clipboard partition holds the ranks
    *    of the cut positions the map placed in it at cut time
    *    ([[clipMap]]), plus the paste point;
    *  - [[replace]] makes it unknown.
    * Part of every undo snapshot, so undo and redo restore it.
    */
  private var posMap: Option[PosMap] = map0

  /** [[posMap]] of the clipboard plan (rank intervals), set by [[cut]]. */
  private var clipMap: Option[PosMap] = None

  /** The last page or position read's decision. */
  private var lastRead: Option[EditorSession.PageRead] = None

  /** The current table with all pending edits applied (lazy plan). */
  def current: DataFrame = foldPlan(table, editLog.toSeq)

  /** A (base plan, edit log) pair folded into one lazy plan — the shape
    * of both the live view and every history snapshot.
    */
  private def foldPlan(t: DataFrame,
                       edits: Seq[(String, Map[Long, Any])]): DataFrame =
    edits.foldLeft(t) { case (df, (colName, em)) =>
      val dt = t.schema(colName).dataType
      if (em.size <= EditorSession.literalEditMax)
        df.withColumn(colName, compactedEditExpr(colName, dt, em))
      else editJoin(df, colName, dt, em)
    }

  /** One projection per column for the whole edit map: membership test on
    * the edited positions + map lookup. Null values are representable
    * (membership decides, not the lookup result). Literal-map lookup is a
    * linear scan per row, so this form is for small edit sets only.
    */
  private def compactedEditExpr(colName: String, dt: DataType,
                                edits: Map[Long, Any]) = {
    val positions = edits.keys.toSeq
    if (edits.size == 1) {
      val (p, v) = edits.head
      when(col(POS) === p, lit(v).cast(dt)).otherwise(col(colName))
    } else {
      val nonNull = edits.filter(_._2 != null)
      val lookup =
        if (nonNull.isEmpty) lit(null).cast(dt)
        else element_at(
          map(nonNull.toSeq.flatMap { case (p, v) => Seq(lit(p), lit(v).cast(dt)) }: _*),
          col(POS))
      when(col(POS).isInCollection(positions), lookup).otherwise(col(colName))
    }
  }

  /** Large edit sets apply as a broadcast hash join on `__pos` instead of a
    * literal map: O(1) hash probe per row inside whole-stage codegen, versus
    * the map literal's O(edits) linear scan — the difference between an
    * edit burst costing one narrow pass and costing rows×edits comparisons.
    * This is also the 100 TB shape: an edit log is data, not plan.
    */
  private def editJoin(df: DataFrame, colName: String, dt: DataType,
                       edits: Map[Long, Any]): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{BooleanType, StructField, StructType}
    val schema = StructType(Seq(
      StructField(POS, org.apache.spark.sql.types.LongType, nullable = false),
      StructField("__edit_v", dt, nullable = true),
      StructField("__edit_set", BooleanType, nullable = false)))
    val rows = edits.toSeq.map { case (p, v) => Row(p, v, true) }
    val editDf = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
    df.join(broadcast(editDf), Seq(POS), "left")
      .withColumn(colName,
        when(col("__edit_set"), col("__edit_v")).otherwise(col(colName)))
      .drop("__edit_v", "__edit_set")
  }

  // ---- undo/redo ----------------------------------------------------------
  // The reference *advertises* undo/redo (`readme.md:12`) but implements
  // neither (SURVEY.md §0: declared-but-absent). With immutable DataFrames
  // it is nearly free: a history entry is a (plan reference, edit-log copy)
  // pair — no data is copied, lineage chains to the pinned base.

  private case class Snap(epoch: Long, table: DataFrame,
                          edits: Seq[(String, Map[Long, Any])],
                          rows: Long, clip: Option[DataFrame], clipRows: Long,
                          map: Option[PosMap], clipMap: Option[PosMap])
  private val undoStack = mutable.ArrayBuffer.empty[Snap]
  private val redoStack = mutable.ArrayBuffer.empty[Snap]
  private val maxHistory = 128

  /** O(edited columns): the immutable inner maps are shared, not copied.
    * Clipboard state is part of the snapshot: cut → undo must restore the
    * pre-cut clipboard, or a later paste would re-insert rows the undo
    * already put back (duplicating them). `epoch` records which session
    * epoch this state WAS — the handle [[planAt]] (time travel over
    * retained epochs) resolves by.
    */
  private def snap(): Snap =
    Snap(epochCounter, table, editLog.toSeq, nRows, clipboard, clipboardSize,
      posMap, clipMap)

  private def restore(s: Snap): Unit = {
    epochCounter += 1
    stampEpoch()
    logMutation(Structural) // undo/redo can change anything
    table = s.table
    editLog.clear()
    s.edits.foreach { case (c, m) => editLog(c) = m }
    nRows = s.rows
    clipboard = s.clip
    clipboardSize = s.clipRows
    posMap = s.map
    clipMap = s.clipMap
  }

  /** Monotonic state-change counter: bumps on every mutation gesture AND
    * on undo/redo (those change visible state too). At-rest layouts
    * ([[Catalog]]) record the epoch they were built at and are routed to
    * only while the session still sits at that epoch — an edited session
    * falls back to its live plan rather than serving stale stored data.
    */
  private var epochCounter = 0L
  def epoch: Long = epochCounter

  // ---- epoch wall-clock stamps (r13 verdict task #3) -----------------------
  // `TIMESTAMP AS OF` used to resolve only against PINNED epochs — but
  // within a process the undo history retains up to `maxHistory` past
  // states as exact plan references, so an incident operator who knows
  // the wall-clock of a bad gesture (not its epoch) can be answered
  // truthfully without a pre-existing pin. Each epoch is stamped when it
  // is created; resolution serves only epochs whose plan is actually
  // RECOVERABLE (pinned in the catalog, current, or still in the
  // undo/redo history) — a trimmed epoch fails fast, exactly like a
  // vacuumed version in a lakehouse. Cross-process time travel remains
  // the pins' job: stamps and history die with the process by design
  // (plans are not serializable state), and the durable floor is the pin
  // lease.

  /** Wall-clock seam for epoch stamps (micros); specs pin it. */
  private[graft] var epochClock: () => Long =
    () => System.currentTimeMillis() * 1000L

  private val epochStamps = mutable.LinkedHashMap.empty[Long, Long]
  private def stampEpoch(): Unit = {
    epochStamps(epochCounter) = epochClock()
    // stamps for epochs no history snapshot can recover are dead weight;
    // a generous bound keeps the map O(history), trimmed oldest-first
    if (epochStamps.size > 4 * maxHistory)
      epochStamps.remove(epochStamps.head._1)
    ()
  }
  stampEpoch() // epoch 0 = the opened table

  /** The epochs whose exact plan this session can still produce. */
  private def recoverableEpochs: Set[Long] =
    (undoStack.iterator ++ redoStack.iterator).map(_.epoch).toSet +
      epochCounter

  /** The session plan AS OF `epoch`, when that epoch is the current one
    * or still held by an undo/redo snapshot — an exact lineage reference
    * (folded edit log included), never a reconstruction. None once
    * history has trimmed it.
    */
  private[graft] def planAt(epoch: Long): Option[DataFrame] =
    if (epoch == epochCounter) Some(current)
    else (undoStack.iterator ++ redoStack.iterator)
      .find(_.epoch == epoch)
      .map(s => foldPlan(s.table, s.edits))

  /** The newest retained epoch stamped at-or-before `tsMicros`, with its
    * stamp — [[graft.core.CatalogSnapshots]] merges this with the pinned
    * candidates when resolving `TIMESTAMP AS OF`.
    */
  private[graft] def retainedEpochAt(tsMicros: Long): Option[(Long, Long)] = {
    val alive = recoverableEpochs
    epochStamps.collect {
      case (e, ts) if ts <= tsMicros && alive.contains(e) => (ts, e)
    }.maxOption
  }

  /** Every (epoch, stamp-micros) this session can still time-travel to,
    * oldest first — the `DESCRIBE HISTORY` feed.
    */
  private[graft] def retainedHistory: Seq[(Long, Long)] = {
    val alive = recoverableEpochs
    epochStamps.collect {
      case (e, ts) if alive.contains(e) => (e, ts)
    }.toSeq.sorted
  }

  // ---- mutation log (delta-maintenance feed) ------------------------------
  // One entry per epoch bump: which positions a cell gesture touched, a
  // counted DELETE marker (with the deleted positions while the gesture
  // is delta-sized), an INSERT marker (paste/splice — brand-new rows at a
  // known position block), or a structural marker (replace/pivot/undo —
  // no delta is recoverable). Catalog layout maintenance reads this to
  // patch stored layouts instead of rebuilding them from the whole
  // corpus. The log holds positions, never a deleted row's contents: a
  // refresh reads those pre-images from the session plan retained at
  // the layout's build epoch ([[planAt]]), indexed by the since-epoch
  // positions of [[changeFeedSince]].
  private sealed trait MutKind
  private case class CellEdits(pos: Seq[Long], cols: Set[String])
      extends MutKind
  /** `pos` = deleted positions in PRE-delete coordinates, dropped when
    * the gesture exceeds [[EditorSession.deltaMaxRows]] so a mass delete
    * can't pin an unbounded position list in the log; `n` is always the
    * exact count, which is what bounds the refresh path (an uncounted
    * delete marker would let a mass delete bypass the delta guard and
    * collect every removed id to the driver).
    */
  private case class RowDeletes(pos: Seq[Long], n: Long) extends MutKind
  /** `n` rows inserted at positions `[at, at+n)` (post-gesture
    * coordinates); pre-existing rows at ≥ `at` shifted up by `n`.
    * `rows` = the inserted rows' POSITION-FREE contents as a lazy plan
    * over pinned blocks (append pins its batch, paste's clipboard chains
    * to the checkpointed base — capturing either costs nothing at
    * gesture time). It feeds the grouped layouts' INSERT-MERGE refresh
    * (stored partials + batch partials, no base scan); dropped when the
    * gesture exceeds [[EditorSession.deltaMaxRows]] (such a delta
    * rebuilds anyway) or when the retention window trims it — positions
    * and count always survive, so the recompute path still works.
    */
  private case class RowInserts(at: Long, n: Long,
                                rows: Option[DataFrame]) extends MutKind
  private case object Structural extends MutKind

  private val mutLog = mutable.ArrayBuffer.empty[(Long, MutKind)]
  private var mutLogFloor = 0L // epochs <= floor predate the retained log
  private val mutLogMax = 4096

  /** Only the newest this-many insert entries keep their rows plan: each
    * plan pins the blocks its lineage chains to, and 4096 of them could
    * pin many table-sized copies on a long paste-heavy session. Entries
    * trimmed past the window keep their positions and count; only the
    * insert-merge feed degrades, and [[deltaSince]] reports that by
    * withholding `insertedRows` (grouped layouts recompute instead).
    */
  private val insertPlanMax = 256

  /** Sequence numbers of the insert entries still holding their plan,
    * oldest first. `mutLog(seq - mutSeqBase)` is the entry, so appending
    * trims AT MOST ONE plan past the retention window — O(1) amortized
    * per gesture instead of rescanning the whole log.
    */
  private val insertSeqs = new java.util.ArrayDeque[Long]()
  private var mutSeqNext = 0L // seq the next appended entry gets
  private var mutSeqBase = 0L // seq of mutLog(0)

  private def logMutation(kind: MutKind): Unit = {
    mutLog += ((epochCounter, kind))
    kind match {
      case ri: RowInserts if ri.rows.isDefined =>
        insertSeqs.addLast(mutSeqNext)
        if (insertSeqs.size > insertPlanMax) {
          // past the window: the plan field is dropped, positions stay
          val i = (insertSeqs.pollFirst() - mutSeqBase).toInt
          mutLog(i) match {
            case (e, old: RowInserts) => mutLog(i) = (e, old.copy(rows = None))
            case _ => ()
          }
        }
      case _ => ()
    }
    mutSeqNext += 1
    if (mutLog.size > mutLogMax) {
      mutLogFloor = mutLog.head._1
      mutLog.remove(0)
      mutSeqBase += 1
      // the departed entry may still be the deque's oldest (fewer than
      // insertPlanMax inserts since): its plan left the log with it
      if (!insertSeqs.isEmpty && insertSeqs.peekFirst() < mutSeqBase)
        insertSeqs.pollFirst()
      ()
    }
  }

  private def mutationsSince(sinceEpoch: Long): Option[Seq[MutKind]] =
    if (sinceEpoch < mutLogFloor) None
    else Some(mutLog.collect { case (e, k) if e > sinceEpoch => k }.toSeq)

  /** The recoverable delta between `sinceEpoch` and now, with every
    * position expressed in CURRENT coordinates (the fold composes the
    * position shifts each insert/delete gesture applied to rows tracked
    * before it). None when a structural gesture (replace, pivot,
    * undo/redo, column drop), a position-unrecoverable mass delete
    * followed by positional gestures, or log truncation makes the delta
    * unrecoverable — callers must treat None as "anything may have
    * changed". Rows edited and later deleted leave [[SessionDelta
    * .dirtyPos]] (they're gone — the delete accounting owns them); rows
    * inserted and later deleted likewise cancel out of `insertedPos`
    * while still counting as a delete.
    */
  def deltaSince(sinceEpoch: Long): Option[EditorSession.SessionDelta] =
    mutationsSince(sinceEpoch).flatMap { entries =>
      val dirty = mutable.Set.empty[Long]
      val inserted = mutable.Set.empty[Long]
      var cols = Set.empty[String]
      var deletes = 0L
      var insertPlans = List.empty[DataFrame]
      var insertPlansOk = true
      var valid = true
      entries.foreach {
        case _ if !valid => ()
        case CellEdits(pos, cs) =>
          dirty ++= pos; cols ++= cs
        case RowInserts(at, n, rows) =>
          def shiftUp(s: mutable.Set[Long]): Unit = {
            val moved = s.filter(_ >= at).toSeq
            s --= moved; s ++= moved.map(_ + n)
          }
          shiftUp(dirty); shiftUp(inserted)
          inserted ++= (at until at + n)
          rows match {
            case Some(df) => insertPlans ::= df
            case None => insertPlansOk = false
          }
        case RowDeletes(dpos, n) =>
          deletes += n
          if (dpos.isEmpty && n > 0) {
            // positions not retained (mass delete): the coordinate shift
            // of EARLIER-tracked positions is lost. With nothing tracked
            // yet the delta survives (later gestures' positions are
            // post-delete coordinates anyway); otherwise nothing
            // positional is recoverable.
            if (dirty.nonEmpty || inserted.nonEmpty) valid = false
          } else {
            val dset = dpos.toSet
            dirty --= dset; inserted --= dset
            val sorted = dpos.sorted
            def shiftDown(s: mutable.Set[Long]): Unit = {
              val moved = s.toSeq
              s.clear(); s ++= moved.map(p => p - sorted.count(_ < p))
            }
            shiftDown(dirty); shiftDown(inserted)
          }
        case Structural => valid = false
      }
      if (!valid) None
      else Some(EditorSession.SessionDelta(
        dirty.toSeq.sorted, cols, inserted.toSeq.sorted, deletes,
        // the inserted rows' contents, batch plans unioned — only when
        // every insert retained its plan AND nothing was deleted since
        // (a deleted inserted row would make the retained plans
        // overcount; consumers additionally guard on their own relevant
        // columns being unedited). A column ADD between two inserts
        // leaves the plans with different schemas: the union fills the
        // missing columns (never layout-relevant — the layout predates
        // them) and falls back to None if it still can't analyze.
        if (inserted.nonEmpty && insertPlansOk && deletes == 0 &&
            insertPlans.nonEmpty)
          Try(insertPlans.reduce(
            _.unionByName(_, allowMissingColumns = true))).toOption
        else None))
    }

  /** The row-level change feed across the epoch span `(sinceEpoch,
    * toEpoch]`, classified as inserts / updates / deletes with every
    * update carrying BOTH coordinate systems — the to-epoch position of
    * the post-image and the since-epoch position of the pre-image — so
    * every pre-image (a CDC reader's, a layout refresh's) is a bounded
    * `__pos` read of the retained since-plan. The fold mirrors [[deltaSince]]
    * 's shift composition, plus an INVERSE walk (`originalOf`) that
    * expresses a position first touched mid-span in since-epoch
    * coordinates. None when any gesture in the span is structural
    * (replace, pivot, undo/redo, column DDL), a mass delete dropped its
    * positions, the log was trimmed below `sinceEpoch`, or the touched-
    * row count exceeds [[EditorSession.deltaMaxRows]] — callers fall
    * back to the content diff, exactly like layout refresh falls back to
    * a rebuild.
    */
  private[graft] def changeFeedSince(
      sinceEpoch: Long, toEpoch: Long): Option[EditorSession.ChangeFeed] = {
    if (sinceEpoch < mutLogFloor) return None
    val entries = mutLog.collect {
      case (e, k) if e > sinceEpoch && e <= toEpoch => k }
    // position-shifting gestures already folded, oldest first; walked in
    // REVERSE to map a current coordinate back to since-epoch coordinates
    val shifts = mutable.ArrayBuffer.empty[Either[(Long, Long), Seq[Long]]]
    def originalOf(p: Long): Option[Long] = {
      var cur = p
      var ok = true
      shifts.reverseIterator.foreach {
        case _ if !ok => ()
        case Left((at, n)) => // n rows inserted at `at`
          if (cur >= at + n) cur -= n
          // a coordinate inside the inserted block belongs to an in-span
          // row, which the tracked `inserted` set should own — reaching
          // here means the invariant broke; degrade, never misclassify
          else if (cur >= at) ok = false
        case Right(sorted) => // rows deleted at `sorted` pre-delete coords
          var q = cur
          sorted.foreach(d => if (d <= q) q += 1)
          cur = q
      }
      if (ok) Some(cur) else None
    }
    val dirty = mutable.LinkedHashMap.empty[Long, Long] // to-pos -> since-pos
    val inserted = mutable.LinkedHashSet.empty[Long]    // to-coords
    val deleted = mutable.LinkedHashSet.empty[Long]     // since-coords
    var valid = true
    entries.foreach {
      case _ if !valid => ()
      case CellEdits(pos, _) =>
        pos.foreach { p =>
          // an in-span insert later edited stays an insert (the net
          // change is the final content); a re-edited row keeps its
          // FIRST original — the since-coordinate is gesture-invariant
          if (valid && !inserted.contains(p) && !dirty.contains(p))
            originalOf(p) match {
              case Some(o) => dirty(p) = o
              case None    => valid = false
            }
        }
      case RowInserts(at, n, _) =>
        val movedD = dirty.filter(_._1 >= at).toSeq
        movedD.foreach { case (k, _) => dirty.remove(k) }
        movedD.foreach { case (k, v) => dirty(k + n) = v }
        val movedI = inserted.filter(_ >= at).toSeq
        inserted --= movedI; inserted ++= movedI.map(_ + n)
        inserted ++= (at until at + n)
        shifts += Left((at, n))
      case RowDeletes(dpos, n) =>
        if (dpos.isEmpty && n > 0) valid = false // mass delete: positions lost
        else {
          dpos.foreach { d =>
            if (!valid || inserted.remove(d)) () // born and died in-span
            else dirty.remove(d) match {
              case Some(o) => deleted += o       // edited then deleted
              case None => originalOf(d) match {
                case Some(o) => deleted += o
                case None    => valid = false
              }
            }
          }
          if (valid) {
            val sorted = dpos.sorted
            val movedD = dirty.toSeq
            dirty.clear()
            movedD.foreach { case (k, v) =>
              dirty(k - sorted.count(_ < k)) = v }
            val movedI = inserted.toSeq
            inserted.clear()
            inserted ++= movedI.map(p => p - sorted.count(_ < p))
            shifts += Right(sorted)
          }
        }
      case Structural => valid = false
    }
    if (!valid ||
        dirty.size + inserted.size + deleted.size >
          EditorSession.deltaMaxRows) None
    else Some(EditorSession.ChangeFeed(
      inserted.toSeq.sorted, dirty.toSeq.sortBy(_._1), deleted.toSeq.sorted))
  }

  /** Record state before a mutation gesture; clears the redo branch.
    * `kind` feeds the mutation log: position-bounded cell gestures pass
    * what they touch, row deletes the delete-only marker, everything
    * else the structural default.
    */
  private def remember(kind: MutKind = Structural): Unit = {
    undoStack += snap() // BEFORE the bump: the snapshot IS the old epoch
    epochCounter += 1
    stampEpoch()
    logMutation(kind)
    if (undoStack.size > maxHistory) undoStack.remove(0)
    redoStack.clear()
  }

  def undo(): Boolean =
    if (undoStack.isEmpty) false
    else { redoStack += snap(); restore(undoStack.remove(undoStack.size - 1)); true }

  def redo(): Boolean =
    if (redoStack.isEmpty) false
    else { undoStack += snap(); restore(redoStack.remove(redoStack.size - 1)); true }

  /** R7: full table replace (`update_data`, v2 pyc@96-100). Discards the
    * edit log — matches the reference resetting the model. `rows` is the
    * new table's row count when the caller already knows it (-1 =
    * unknown, counted by the next [[rowCount]]). The position map becomes
    * unknown, so pages read every partition until the next open.
    */
  def replace(df: DataFrame, rows: Long = -1L): Unit = {
    remember(); editLog.clear(); table = df; nRows = rows; posMap = None
  }

  /** Rebind through a transformation of the *current* view (edits folded
    * in first so the log never refers to stale positions). Every
    * `compactEvery/64` rebinds the plan is flushed with a checkpoint: each
    * gesture stacks only narrow projections over the pinned base, so a
    * handful are free, but an unbounded session would grow analysis cost.
    */
  private var rebindsSinceCheckpoint = 0
  private def rebind(f: DataFrame => DataFrame,
                     kind: MutKind = Structural): Unit = {
    remember(kind)
    val folded = current
    editLog.clear()
    table = f(folded)
    rebindsSinceCheckpoint += 1
    if (rebindsSinceCheckpoint >= math.max(1, compactEvery / 64)) checkpoint()
  }

  // ---- R1-R3: cell edits --------------------------------------------------

  /** R1: typed cell edit. Cast failure rejects the edit, state unchanged
    * (pandas `ValueError` parity, v2 pyc@72-77). O(1) driver work.
    */
  def setCell(pos: Long, colName: String, raw: String): Boolean =
    table.schema.fields.find(_.name == colName) match {
      case None => false
      case Some(f) => CellOps.castStrict(raw, f.dataType) match {
        case Failure(_) => false
        case Success(v) => recordEdit(colName, pos, v); true
      }
    }

  /** Batch cell edit — one gesture, one undo entry. A programmatic burst
    * (paste-of-values, fill-down) through [[setCell]] costs one history
    * snapshot per call and undoes one cell at a time; a batch is the
    * gesture the user actually made. Values cast-validate up front and any
    * uncastable value rejects the WHOLE batch (state and history
    * untouched), so the gesture is atomic — no half-applied paste.
    */
  def setCells(colName: String, edits: Seq[(Long, String)]): Boolean =
    table.schema.fields.find(_.name == colName) match {
      case None => false
      case Some(f) =>
        val casted = edits.map { case (p, raw) =>
          CellOps.castStrict(raw, f.dataType).map(p -> _) }
        if (edits.isEmpty || casted.exists(_.isFailure)) false
        else {
          remember(CellEdits(edits.map(_._1), Set(colName)))
          editLog(colName) =
            editLog.getOrElse(colName, Map.empty[Long, Any]) ++ casted.map(_.get)
          editsSinceCheckpoint += edits.size
          if (editsSinceCheckpoint >= compactEvery) checkpoint()
          true
        }
    }

  /** [[setCells]] with ALREADY-TYPED values — the SQL DML surface's batch
    * edit ([[CatalogDml]]): an UPDATE's assignment values are computed by
    * the engine in the column's own external type (a collected
    * projection), so a string round-trip would be wasted work and a
    * precision risk. Values must be instances of the column's external
    * type (or null); the gesture logs exactly like [[setCells]]
    * (delta-patchable CellEdits), so layouts delta-patch after a SQL
    * UPDATE just as after a typed edit burst.
    */
  private[graft] def setCellsTyped(colName: String,
                                   edits: Seq[(Long, Any)]): Boolean =
    table.schema.fields.find(_.name == colName) match {
      case None => false
      case Some(_) if edits.isEmpty => false
      case Some(_) =>
        remember(CellEdits(edits.map(_._1), Set(colName)))
        editLog(colName) =
          editLog.getOrElse(colName, Map.empty[Long, Any]) ++ edits
        editsSinceCheckpoint += edits.size
        if (editsSinceCheckpoint >= compactEvery) checkpoint()
        true
    }

  /** R3: boolean toggle. */
  def setBool(pos: Long, colName: String, value: Boolean): Boolean = {
    recordEdit(colName, pos, value); true
  }

  /** Explicit null write (delete cell content). */
  def setNull(pos: Long, colName: String): Unit = recordEdit(colName, pos, null)

  /** Nested-field cell edit: replace one struct leaf (dotted `fieldPath`,
    * e.g. `"addr.city"`) at one position via `Column.withField`, leaving
    * every sibling field intact. Cast-validates against the LEAF type and
    * rejects like [[setCell]] (state unchanged). Applies as a rebind
    * gesture — one narrow projection over the pinned base — rather than
    * through the flat edit log, whose values are whole-column-typed; it
    * still participates in undo/redo through rebind's history snapshot.
    */
  def setNestedField(pos: Long, colName: String, fieldPath: String,
                     raw: String): Boolean = {
    import org.apache.spark.sql.types.StructType
    def leafType(dt: DataType, path: List[String]): Option[DataType] =
      (dt, path) match {
        case (t, Nil) => Some(t)
        case (st: StructType, h :: rest) =>
          st.fields.find(_.name == h).flatMap(f => leafType(f.dataType, rest))
        case _ => None
      }
    val parts = fieldPath.split("\\.").toList
    table.schema.fields.find(_.name == colName)
      .flatMap(f => leafType(f.dataType, parts))
      .filter(_ => parts.nonEmpty) match {
      case None => false
      case Some(dt) => CellOps.castStrict(raw, dt) match {
        case Failure(_) => false
        case Success(v) =>
          rebind(df => df.withColumn(colName,
            when(col(POS) === pos,
              col(colName).withField(fieldPath, lit(v).cast(dt)))
              .otherwise(col(colName))),
            CellEdits(Seq(pos), Set(colName)))
          true
      }
    }
  }

  private def recordEdit(colName: String, pos: Long, v: Any): Unit = {
    remember(CellEdits(Seq(pos), Set(colName)))
    editLog(colName) = editLog.getOrElse(colName, Map.empty[Long, Any]) + (pos -> v)
    editsSinceCheckpoint += 1
    if (editsSinceCheckpoint >= compactEvery) checkpoint()
  }

  /** Flush the edit log into a materialized plan cut-point. Keeps repeated
    * interactive edits amortized-O(1) instead of growing analysis time.
    *
    * The blocks go to local disk, not the heap: every older state the
    * session retains (up to `maxHistory` undo snapshots, and the pasted
    * rows' plans its mutation log holds) keeps its own checkpoint alive, so
    * in memory each checkpoint would pin a full table copy for as long as
    * its history lives — a long session's heap grows by one table per
    * checkpoint. The open-time pin ([[Positional.attachPosMapped]]) is
    * shared with the catalog's serve path and keeps its level.
    *
    * A checkpoint keeps the plan's partitions in order, so [[posMap]]
    * stays as it is.
    */
  def checkpoint(): Unit = {
    table = current.localCheckpoint(eager = true, StorageLevel.DISK_ONLY)
    editLog.clear()
    editsSinceCheckpoint = 0
    rebindsSinceCheckpoint = 0
    posShiftsSinceCheckpoint = 0
  }

  def pendingEdits: Int = editLog.valuesIterator.map(_.size).sum

  // ---- R4-R6: row ops -----------------------------------------------------

  /** Positions actually present in the table (a GUI can only select real
    * rows; API callers may pass junk — out-of-range entries are dropped so
    * position arithmetic stays consistent with reality).
    */
  private def validPositions(positions: Seq[Long]): Seq[Long] =
    positions.distinct.filter(p => p >= 0 && p < rowCount)

  def deleteRow(position: Long): Boolean = deleteRows(Seq(position))

  /** @return whether any row was actually deleted (false = no valid
    *         positions, state untouched, nothing pushed to undo history).
    */
  def deleteRows(positions: Seq[Long]): Boolean = {
    val valid = validPositions(positions)
    if (valid.nonEmpty) {
      rebind(RowOps.deleteRows(_, valid), deleteKind(valid))
      posMap = posMap.map(_.afterDelete(valid.sorted.toArray))
      nRows -= valid.size
      afterPosShift()
    }
    valid.nonEmpty
  }

  /** Position-SHIFTING gestures (delete/cut) compose arithmetic on
    * `__pos`, and the optimizer's project-collapse / predicate-pushdown
    * SUBSTITUTE each level's `__pos` expression into the next level's
    * references — k-position gestures stacked g deep re-evaluate
    * ~(k+1)^g expression nodes per row (a delete-heavy session hung the
    * driver around nine 30-row gestures). Checkpointing every few shift
    * gestures caps the composition depth; session tables are
    * interactive-scale by design (class doc), so the materialization is
    * cheap and amortized exactly like the edit-log flush.
    */
  private var posShiftsSinceCheckpoint = 0
  private def afterPosShift(): Unit = {
    posShiftsSinceCheckpoint += 1
    if (posShiftsSinceCheckpoint >= EditorSession.posShiftCheckpointEvery)
      checkpoint()
  }

  /** The log entry for a delete of `valid` positions: the positions
    * while delta-sized, the count alone past that — a mass delete must
    * not pin an unbounded position list, and its refresh rebuilds anyway.
    */
  private def deleteKind(valid: Seq[Long]): RowDeletes =
    RowDeletes(if (valid.size <= EditorSession.deltaMaxRows) valid
               else Seq.empty, valid.size.toLong)

  private var clipboard: Option[DataFrame] = None
  private var clipboardSize: Long = 0L

  /** R5: cut selected rows to the session clipboard (`main.py:107-114`).
    * The table itself is NOT re-materialized here: since [[Positional
    * .attachPos]] pins the base with a checkpoint, the remainder and
    * a later paste's three union branches are all narrow codegen'd filters
    * over already-materialized blocks — re-running them per branch is
    * cheaper than copying the table. The clipboard is a lazy plan over the
    * pre-cut lineage: immutability keeps it correct across later table
    * rebinds (they rebind `table`, never this plan), and each paste re-runs
    * its narrow filter over the pinned base rather than holding a second
    * materialized copy of the rows.
    */
  def cut(positions: Seq[Long]): Boolean = {
    val valid = validPositions(positions)
    if (valid.nonEmpty) {
      // a cut IS a delete of the session's rows (the clipboard is
      // side-state): keyed layouts may shadow the vanished ids
      val sorted = valid.sorted.toArray
      rebind({ df0 =>
        val (clip, rest) = RowOps.cutRows(df0, valid)
        clipboard = Some(clip)
        clipboardSize = valid.size.toLong
        clipMap = posMap.map(_.ranksOf(sorted))
        rest
      }, deleteKind(valid))
      posMap = posMap.map(_.afterDelete(sorted))
      nRows -= valid.size
      afterPosShift()
    }
    valid.nonEmpty
  }

  /** R6: paste the clipboard block at `position` (`main.py:58-65`);
    * positions past the end append (pandas `iloc[pos:]` slicing clamps).
    * Logged as a row INSERT (r9 verdict task #2): the pasted rows are
    * brand-new at known positions, so keyed layouts delta-encode exactly
    * them instead of rebuilding — append is the dominant mutation of a
    * corpus pipeline and also the easiest delta.
    */
  def paste(position: Long): Boolean = clipboard match {
    case None => false
    case Some(clip) =>
      val at = math.max(0L, math.min(position, rowCount))
      rebind(RowOps.pasteRows(_, clip, at, Some(clipboardSize)),
        RowInserts(at, clipboardSize,
          // clipboard plans chain to the pinned pre-cut base — free to
          // hold; oversized blocks rebuild anyway, don't pin them
          if (clipboardSize <= EditorSession.deltaMaxRows)
            Some(Positional.strip(clip))
          else None))
      posMap = for (m <- posMap; c <- clipMap) yield
        m.clamp(Long.MinValue, at) ++ c.shift(at) ++
          m.clamp(at, Long.MaxValue).shift(clipboardSize)
      nRows += clipboardSize
      // pasteRows references the previous plan TWICE (upper/lower
      // split), so stacked pastes double evaluation work per gesture —
      // the same composition blowup the delete fix capped; count it
      // against the same checkpoint budget
      afterPosShift()
      true
  }

  /** Append EXTERNAL rows at the table tail — the dominant mutation of
    * an ingest pipeline (CDC feeds, streaming micro-batches). The new
    * rows are position-stamped in their incoming order and pinned with
    * a localCheckpoint ([[Positional.attachPos]]) because the caller's
    * plan may be transient (a `foreachBatch` frame is only valid inside
    * its batch); the gesture logs as a row INSERT, so keyed layouts
    * delta-encode exactly the appended rows on the next refresh — a
    * batch-sized patch, never a corpus rebuild, while a batch larger
    * than the delta bound degrades to rebuild like any other oversized
    * gesture. Column set and types must match the session's schema
    * exactly (any column order); returns the number of appended rows.
    *
    * Cost note: the tail position comes from [[rowCount]], which is the
    * maintained counter except when nRows is unknown (right after a
    * `replace`/pivot; an opened session starts with its count), where the
    * FIRST append pays one count() job over the session plan. That cost is
    * one-time — the counter is maintained incrementally from then on —
    * so a steady ingest loop's per-batch cost stays batch-sized; it is
    * not avoidable cheaply either, since any tail derivation (max __pos
    * included) is the same full scan.
    */
  def appendRows(rows: DataFrame): Long = {
    val base = Positional.strip(current)
    val cols = base.columns
    require(rows.columns.sorted.sameElements(cols.sorted),
      s"appendRows schema mismatch: session has ${cols.mkString(",")}, " +
        s"rows have ${rows.columns.mkString(",")}")
    val ordered = rows.select(cols.map(col): _*)
    // name+type equality only — nullability is advisory in Spark, and a
    // non-nullable batch appending into a nullable column is safe
    require(ordered.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      base.schema.fields.map(f => (f.name, f.dataType)).toSeq,
      s"appendRows type mismatch: session ${base.schema.simpleString} " +
        s"vs rows ${ordered.schema.simpleString}")
    val (clip, batchMap) = Positional.attachPosMapped(ordered, Nil)
    val n = batchMap.total
    if (n > 0) {
      val at = rowCount
      // a TAIL append needs no upper/lower split: one union keeps the
      // plan a linear chain of pinned blocks (no existing position
      // shifts, no double reference to the previous plan), so a long
      // ingest loop's per-batch cost stays batch-sized — pasteRows here
      // would double evaluation work per batch (the delete-burst
      // blowup, in stream clothing)
      val shifted = clip.withColumn(Positional.POS,
        col(Positional.POS) + lit(at))
      rebind(_.unionByName(shifted), RowInserts(at, n,
        // the batch was just pinned by attachPosMapped — holding its
        // position-free view costs nothing and feeds the grouped
        // layouts' insert-merge refresh; oversized batches rebuild
        // anyway, don't pin them
        if (n <= EditorSession.deltaMaxRows) Some(Positional.strip(clip))
        else None))
      posMap = posMap.map(_ ++ batchMap.shift(at))
      nRows += n
    }
    n
  }

  // ---- P1-P2: schema ops --------------------------------------------------

  def dropColumnAt(position: Int): Unit = rebind(SchemaOps.dropColumnAt(_, position))

  def insertColumnAt(position: Int, spec: String): Unit = {
    val (name, dt) = CellOps.parseNameDtype(spec)
    // a brand-new column can't be referenced by any existing layout, so
    // the delta names it with no positions: projection-keyed layouts
    // revalidate with zero IO, full-row layouts (whose stored schema no
    // longer matches) rebuild as before
    rebind(SchemaOps.insertColumnAt(_, position, name, dt),
      CellEdits(Seq.empty, Set(name)))
  }

  /** [[insertColumnAt]] with an explicit typed default — the SQL DDL
    * surface's `ALTER TABLE ADD COLUMN name type DEFAULT v`
    * ([[CatalogDml]]'s sibling trait CatalogDdl). Same zero-position
    * delta law as the spec-string form.
    */
  private[graft] def insertColumnTyped(position: Int, name: String,
                                       dt: DataType, default: Any): Unit =
    rebind(SchemaOps.insertColumnAt(_, position, name, dt, default),
      CellEdits(Seq.empty, Set(name)))

  /** Rename a column in place (SQL `ALTER TABLE RENAME COLUMN`). The
    * delta names BOTH spellings with no positions: a layout referencing
    * either one sees its column dirty and rebuilds (its stored schema or
    * key column is now wrong by name), a layout referencing neither
    * delta-handles with zero IO — the [[insertColumnAt]] law extended to
    * the rename pair.
    */
  private[graft] def renameColumn(from: String, to: String): Unit =
    rebind(_.withColumnRenamed(from, to), CellEdits(Seq.empty, Set(from, to)))

  // ---- A1: pivot ----------------------------------------------------------

  /** Pivot replaces the current table (v2 pyc@169) — positions re-derived
    * from the new shape, ordered by the index key. The attach's counts job
    * gives the new row count and position map, so the next [[rowCount]]
    * and [[page]] run no count.
    */
  def pivot(index: String, columns: String, values: String, aggfunc: String): Unit = {
    var map = PosMap.fromCounts(Array.empty)
    rebind { df =>
      val piv = PivotOps.pivotTable(Positional.strip(df), index, columns, values, aggfunc)
      val (pinned, m) = Positional.attachPosMapped(piv, Seq(col(index)))
      map = m
      pinned
    }
    posMap = Some(map)
    nRows = map.total
  }

  // ---- paging / save ------------------------------------------------------

  /** Page `[lo, hi)` of the current table, sorted by position: the rows
    * [[Positional.page]] returns, read from only the partitions that can
    * hold them. The plan is `current.filter(range)`, as before; its RDD
    * is wrapped in a `PartitionPruningRDD` that keeps the partitions whose
    * [[posMap]] interval meets the range, and [[Positional.sortedPage]]
    * sorts (and top-k limits) that. A 50-row page is one job of one or two
    * tasks, where reading the whole plan is one task per partition.
    *
    * Why the pruning sits at the top of the plan and not at its leaf: the
    * open-time attach derives `__pos` from `monotonically_increasing_id`,
    * which embeds the partition index. Swapping the checkpoint leaf for a
    * pruned one would renumber the surviving partitions and corrupt their
    * positions. A partition subset of the final RDD computes each parent
    * partition under its original index, so every expression in the plan
    * sees the partition it always saw — and no planner strategy or leaf
    * substitution is needed.
    *
    * Falls back to reading every partition ([[Positional.page]]'s plan)
    * when the map is unknown (after [[replace]]), when the planned RDD's
    * partition count differs from the map's size, or when the plan
    * shuffles; [[lastPageRead]] records which tier served the read and
    * why.
    */
  def page(lo: Long, hi: Long): DataFrame = {
    val inRange = coveringRead(Positional.inPage(lo, hi))(_.covering(lo, hi))
    Positional.sortedPage(inRange, lo, hi)
  }

  /** The current rows at `positions` (any order, no sort), read like
    * [[page]] from only the partitions whose interval holds one of them —
    * the refresh tier's touched-row read.
    */
  private[graft] def rowsAt(positions: Seq[Long]): DataFrame =
    coveringRead(col(POS).isInCollection(positions))(_.coveringAny(positions))

  /** The last [[page]] or [[rowsAt]] decision: which tier read, how many
    * partitions it read of how many, and why it fell back.
    */
  def lastPageRead: Option[EditorSession.PageRead] = lastRead

  private[graft] def positionMap: Option[PosMap] = posMap

  /** `current.filter(pred)` over the partitions `keep` picks from the
    * position map, or over every partition when the map can't be used.
    */
  private def coveringRead(pred: org.apache.spark.sql.Column)(
      keep: PosMap => Array[Int]): DataFrame = {
    import EditorSession.PageRead
    val inRange = current.filter(pred)
    val (out, read) = posMap match {
      case None =>
        (inRange, PageRead(PageRead.Filtered, -1, -1, -1L,
          Some("no position map")))
      case Some(m) =>
        val rdd = inRange.queryExecution.toRdd
        val parts = rdd.getNumPartitions
        // the optimizer proved the predicate empty (e.g. lo >= hi) and
        // planned no partition at all: nothing is left to prune
        if (parts == 0) (inRange, PageRead(PageRead.Pruned, 0, 0, 0L, None))
        else if (parts != m.size)
          (inRange, PageRead(PageRead.Filtered, parts, parts, -1L,
            Some(s"plan has $parts partitions, position map has ${m.size}")))
        else if (EditorSession.shuffles(rdd))
          (inRange, PageRead(PageRead.Filtered, parts, parts, -1L,
            Some("plan shuffles, so its partitions are not the map's")))
        else {
          val kept = keep(m)
          val keptSet = kept.toSet
          val pruned = org.apache.spark.rdd.PartitionPruningRDD.create(rdd,
            keptSet.contains)
          (org.apache.spark.sql.GraftShims.internalCreateDataFrame(spark,
            pruned, inRange.schema),
            PageRead(PageRead.Pruned, kept.length, parts, m.rows(kept), None))
        }
    }
    lastRead = Some(read)
    out
  }

  def rowCount: Long = {
    if (nRows < 0) nRows = current.count()
    nRows
  }

  def save(path: String, singleFile: Boolean = true): Unit = {
    val out = Positional.strip(current.orderBy(col(POS)))
    if (singleFile) Formats.writeSingleFile(out, path) else Formats.write(out, path)
  }
}

object EditorSession {
  /** Edit-set size above which [[EditorSession.current]] switches from a
    * literal-map projection (O(edits) scan per row) to a broadcast hash
    * join (O(1) probe per row).
    */
  val literalEditMax = 32

  /** Position-shifting gestures between checkpoints: caps the `__pos`
    * arithmetic composition depth the optimizer can substitute
    * multiplicatively (see EditorSession.afterPosShift).
    */
  val posShiftCheckpointEvery = 4

  /** Above this many delta rows (dirty cells, inserted rows, or deleted
    * rows — each bounded separately) a layout delta patch loses to a
    * rebuild, and the driver-side patch legs stop being broadcast-
    * trivial. Shared by the mutation log (which stops retaining deleted
    * positions past it), the change feed's bound, and [[Catalog]]'s
    * refresh routing.
    */
  val deltaMaxRows = 4096

  /** The net recoverable mutation delta between two session epochs, all
    * positions in CURRENT coordinates. `dirtyPos` = surviving rows whose
    * cells changed (columns in `dirtyCols`); `insertedPos` = rows that
    * did not exist at the since-epoch; `deleteCount` = rows removed
    * (exact, even when the rest of the delta is position-unrecoverable);
    * `insertedRows` = the inserted rows' contents while every insert
    * retained its plan and nothing was deleted since. The deleted rows'
    * contents are not part of the delta: they are pre-images, read from
    * the since-epoch plan at the [[ChangeFeed]]'s `deletedPos`.
    */
  final case class SessionDelta(dirtyPos: Seq[Long], dirtyCols: Set[String],
      insertedPos: Seq[Long], deleteCount: Long,
      insertedRows: Option[DataFrame]) {
    def hasDeletes: Boolean = deleteCount > 0
  }

  /** [[EditorSession.changeFeedSince]]'s classified span delta:
    * `insertedPos` in to-epoch coordinates, `updatedPos` as
    * (to-epoch, since-epoch) coordinate pairs, `deletedPos` in
    * since-epoch coordinates. Every list is bounded by [[deltaMaxRows]].
    */
  final case class ChangeFeed(insertedPos: Seq[Long],
      updatedPos: Seq[(Long, Long)], deletedPos: Seq[Long])

  /** Whether a shuffle sits in `rdd`'s lineage above its checkpoints. A
    * shuffled plan's partitions are not the ones the position map
    * describes, even when their count matches — e.g. an edit burst's
    * join planned as a sort-merge join when broadcast hints are disabled.
    */
  private def shuffles(rdd: org.apache.spark.rdd.RDD[_]): Boolean = {
    val seen = mutable.Set.empty[Int]
    def walk(r: org.apache.spark.rdd.RDD[_]): Boolean =
      seen.add(r.id) && r.dependencies.exists {
        case _: org.apache.spark.ShuffleDependency[_, _, _] => true
        case d => walk(d.rdd)
      }
    walk(rdd)
  }

  /** One page or position read's decision ([[EditorSession.lastPageRead]]).
    * `tier` is [[PageRead.Pruned]] (only the covering partitions ran) or
    * [[PageRead.Filtered]] (the range filter over every partition, with
    * `fallback` saying why). `partsRead` of `partsTotal` partitions ran
    * (-1 = not planned); `rowsRead` bounds the rows those partitions hold
    * (-1 = unknown).
    */
  final case class PageRead(tier: String, partsRead: Int, partsTotal: Int,
                            rowsRead: Long, fallback: Option[String])
  object PageRead {
    val Pruned = "pruned"
    val Filtered = "filtered"
  }

  /** E1: load a file as a new session — lazy scan + `__pos` attach.
    * `orderCols` must give a deterministic total order for reproducible
    * positions; empty means file order: no sort, and each row's
    * position comes from `monotonically_increasing_id` over the pinned
    * scan blocks ([[Positional.attachPosMapped]]).
    */
  def open(spark: SparkSession, path: String,
           orderCols: Seq[String] = Nil): EditorSession =
    fromDataFrame(Formats.read(spark, path), orderCols)

  /** "New DataFrame" — empty session (v2 pyc@285-288). */
  def empty(spark: SparkSession): EditorSession =
    fromDataFrame(Formats.emptyTable(spark), Nil)

  /** The attach's materializing counts job already totals the rows, so
    * the session starts with its size known: the first [[rowCount]]
    * runs no job.
    */
  def fromDataFrame(df: DataFrame, orderCols: Seq[String],
                    compactEvery: Int = 4096): EditorSession = {
    val (pinned, map) = Positional.attachPosMapped(df, orderCols.map(col))
    new EditorSession(df.sparkSession, pinned, compactEvery, map.total,
      Some(map))
  }
}

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
    * every EPOCH-VALID ranged or bucketed layout of every open session
    * (a stale layout is simply absent, so edited sessions' SQL plans
    * against the live view — routing changes the plan, never the
    * answer). The rewrite itself is [[graft.plans.SqlLayoutRouting]],
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
    import graft.plans.SqlRouting.{BucketSqlRoute, RangedSqlRoute, SqlRoute}
    def sqlRouted(slot: String): Unit = {
      recordRoute(Catalog.RouteReport(slot, "layout", tag)); ()
    }
    slots.collect[SqlRoute] {
        case (slot, l: Catalog.RangedLayout) if l.builtAtEpoch == epoch =>
          RangedSqlRoute(l.column,
            (lo, hi) => {
              val files =
                graft.io.SkippingIndex.candidateFilesOpt(l.stats, lo, hi)
              val base =
                if (files.isEmpty) spark.read.parquet(l.path).limit(0)
                else spark.read.parquet(files: _*)
              // the rule keeps the original Filter on top, so composing
              // the DML patch here keeps SQL answers byte-identical too
              patchedFullRows(base, l.idCol, l.patch)
            },
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
        case (slot, z: Catalog.ZOrderedLayout) if z.builtAtEpoch == epoch =>
          graft.plans.SqlRouting.ZOrderSqlRoute(z.colX, z.colY,
            (loX, hiX, loY, hiY) => {
              val files = graft.io.SkippingIndex.candidateFiles2dOpt(z.stats,
                loX, hiX, loY, hiY)
              val base =
                if (files.isEmpty) spark.read.parquet(z.path).limit(0)
                else spark.read.parquet(files: _*)
              patchedFullRows(base, z.idCol, z.patch)
            },
            () => sqlRouted(slot))
        case (slot, z: Catalog.ZOrdered3Layout) if z.builtAtEpoch == epoch =>
          graft.plans.SqlRouting.ZOrder3SqlRoute(z.cols,
            bs => {
              val files = graft.io.SkippingIndex.candidateFiles3dOpt(z.stats,
                bs(0)._1, bs(0)._2, bs(1)._1, bs(1)._2, bs(2)._1, bs(2)._2)
              val base =
                if (files.isEmpty) spark.read.parquet(z.path).limit(0)
                else spark.read.parquet(files: _*)
              patchedFullRows(base, z.idCol, z.patch)
            },
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
    * through the bounded change-feed probe ([[CatalogRefresh.fastVanished]])
    * vs the full `served EXCEPT now`. Specs read these to prove the fast
    * tier actually fired (a semantics-equal test would otherwise pass
    * vacuously through the fallback). Per catalog, so concurrent specs'
    * refreshes never move another catalog's counts.
    */
  private[graft] val fastVanishedHits =
    new java.util.concurrent.atomic.AtomicLong(0L)
  private[graft] val exceptFallbacks =
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
    * renamed away, which no add row mentions). Both are pinned at
    * refresh time (checkpointed or parquet-backed), edit-count-sized,
    * and served as `base ⟕̸ removed ∪ add` — a broadcast anti-join, not
    * a rewrite of the base files. `path` is the warehouse-relative patch
    * dir when durable.
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

  /** A range-clustered full-row layout with a min/max skipping index.
    * With an `idCol` it is also DML-PATCHABLE — the Delta-Lake shape
    * (deletion vectors + an append log over clustered files): bounded
    * edits/inserts/deletes refresh as an id-shadow plus an UNCLUSTERED
    * add-leg that every serve unions in unpruned, so the stats stay
    * truthful about the base files and the exact predicate on top keeps
    * answers byte-identical. Without an id the layout has no key a
    * patch could shadow by and any delta rebuilds (the pre-r10
    * behavior).
    */
  final case class RangedLayout(column: String, path: String,
      stats: DataFrame, files: Int, builtAtEpoch: Long,
      idCol: Option[String] = None,
      patch: Option[LayoutPatch] = None) extends TableLayout

  /** A Z-ORDERED layout: the session's rows written range-partitioned on
    * the Morton interleave of two bucketized numeric columns, with a
    * per-file min/max index over BOTH columns. Every part file covers a
    * small rectangle of (x, y) space, so a rectangle predicate prunes on
    * both dimensions — the Delta/Iceberg `OPTIMIZE ZORDER BY` shape,
    * where a single-column range clustering only serves its own column.
    */
  final case class ZOrderedLayout(colX: String, colY: String, path: String,
      stats: DataFrame, files: Int, builtAtEpoch: Long,
      idCol: Option[String] = None,
      patch: Option[LayoutPatch] = None) extends TableLayout
  /** 3-D Morton clustering (r11 verdict task #8): each file covers a
    * small (x, y, z) box, so the canonical events predicate — time
    * window × entity range × type — prunes on all three dimensions.
    * `cols` is the build order; the slot key sorts the names, so any
    * permutation of the caller's box serves from the same layout.
    * With an `idCol` the layout is DML-patchable exactly like the 1-D/
    * 2-D clustered forms (id-shadow + unclustered add-leg, file-local
    * partial compaction past the bound); without one it rebuilds on any
    * mutation.
    */
  final case class ZOrdered3Layout(cols: Seq[String], path: String,
      stats: DataFrame, files: Int, builtAtEpoch: Long,
      idCol: Option[String] = None,
      patch: Option[LayoutPatch] = None) extends TableLayout
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
    import org.apache.spark.sql.functions._
    val aggs = count(lit(1)).as("__cnt") +: measures.flatMap(m => Seq(
      sum(round(col(m), 6).cast("decimal(38,6)")).as(s"__sum_$m"),
      count(col(m)).as(s"__cntm_$m"),
      min(col(m)).as(s"__min_$m"),
      max(col(m)).as(s"__max_$m")))
    base.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
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
    case l: RangedLayout => Set(l.column) ++ l.idCol
    case l: ZOrderedLayout => Set(l.colX, l.colY) ++ l.idCol
    case l: ZOrdered3Layout => l.cols.toSet ++ l.idCol
    case l: LshIndexLayout => Set(l.idCol, l.textCol)
    case l: PostingsLayout => Set(l.idCol, l.textCol)
    case l: SketchLayout => l.groupCols.toSet + l.col
    case l: PairsLayout => l.groupCols.toSet + l.col
    case l: CubeLayout => l.groupCols.toSet ++ l.measures
  }
}
