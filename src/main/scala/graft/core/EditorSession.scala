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
    *  - [[replace]] takes the map its caller hands over, or makes it
    *    unknown.
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
    else snapAt(epoch).map(s => foldPlan(s.table, s.edits))

  /** The undo/redo snapshot that holds `epoch`, if history kept it. */
  private def snapAt(epoch: Long): Option[Snap] =
    (undoStack.iterator ++ redoStack.iterator).find(_.epoch == epoch)

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
  // DELETE marker with the deleted positions, an INSERT marker (paste/
  // splice — brand-new rows at a known position block), or a structural
  // marker (replace/pivot/undo/mass delete — no delta is recoverable).
  // Catalog layout maintenance and CDC read it back through one fold,
  // [[deltaSince]], to patch stored layouts instead of rebuilding them
  // from the whole corpus. The log holds positions, never a deleted
  // row's contents: a refresh reads those pre-images from the session
  // plan retained at the layout's build epoch ([[planAt]]), indexed by
  // the fold's since-epoch positions.
  private sealed trait MutKind
  private case class CellEdits(pos: Seq[Long], cols: Set[String])
      extends MutKind
  /** `pos` = the deleted positions in PRE-delete coordinates. A delete of
    * more than [[EditorSession.deltaMaxRows]] rows logs as [[Structural]]
    * instead ([[deleteKind]]), so a mass delete never pins an unbounded
    * position list in the log.
    */
  private case class RowDeletes(pos: Seq[Long]) extends MutKind
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

  /** The net change across the epoch span `(sinceEpoch, toEpoch]`, folded
    * once from the mutation log and classified as inserts, updates and
    * deletes ([[EditorSession.SessionDelta]]). The fold composes the
    * position shift each insert and delete applied to the rows tracked
    * before it, and walks those shifts back (`originalOf`) to express a
    * row first touched mid-span in since-epoch coordinates, so every
    * update carries BOTH coordinates and every pre-image is a bounded
    * `__pos` read of the plan retained at `sinceEpoch`. In-span churn
    * nets out: an insert later deleted leaves every position list but
    * still counts in `deleteCount`, an edit later deleted is a delete,
    * and an insert later edited stays an insert.
    *
    * None when a structural gesture (replace, pivot, undo/redo, column
    * drop, a mass delete) is in the span or the log was trimmed below
    * `sinceEpoch` — callers must treat None as "anything may have
    * changed". The fold applies no size bound: each caller bounds what
    * it reads ([[EditorSession.SessionDelta.bounded]]).
    */
  def deltaSince(sinceEpoch: Long,
                 toEpoch: Long = epoch): Option[EditorSession.SessionDelta] = {
    if (sinceEpoch < mutLogFloor) return None
    // position-shifting gestures already folded, oldest first; walked in
    // REVERSE to map a to-epoch coordinate back to since-epoch coordinates
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
    val updated = mutable.LinkedHashMap.empty[Long, Long] // to-pos -> since-pos
    val inserted = mutable.LinkedHashSet.empty[Long]      // to-coords
    val deleted = mutable.LinkedHashSet.empty[Long]       // since-coords
    var cols = Set.empty[String]
    var deletes = 0L
    var insertPlans = List.empty[DataFrame]
    var insertPlansOk = true
    var valid = true
    mutLog.foreach {
      case (e, _) if !valid || e <= sinceEpoch || e > toEpoch => ()
      case (_, CellEdits(pos, cs)) =>
        cols ++= cs
        pos.foreach { p =>
          // an in-span insert later edited stays an insert (the net
          // change is the final content); a re-edited row keeps its
          // FIRST original — the since-coordinate is gesture-invariant
          if (valid && !inserted.contains(p) && !updated.contains(p))
            originalOf(p) match {
              case Some(o) => updated(p) = o
              case None    => valid = false
            }
        }
      case (_, RowInserts(at, n, rows)) =>
        val movedU = updated.filter(_._1 >= at).toSeq
        movedU.foreach { case (k, _) => updated.remove(k) }
        movedU.foreach { case (k, v) => updated(k + n) = v }
        val movedI = inserted.filter(_ >= at).toSeq
        inserted --= movedI; inserted ++= movedI.map(_ + n)
        inserted ++= (at until at + n)
        shifts += Left((at, n))
        rows match {
          case Some(df) => insertPlans ::= df
          case None => insertPlansOk = false
        }
      case (_, RowDeletes(dpos)) =>
        deletes += dpos.size
        dpos.foreach { d =>
          if (!valid || inserted.remove(d)) () // born and died in-span
          else updated.remove(d) match {
            case Some(o) => deleted += o       // edited then deleted
            case None => originalOf(d) match {
              case Some(o) => deleted += o
              case None    => valid = false
            }
          }
        }
        if (valid) {
          val sorted = dpos.sorted
          val movedU = updated.toSeq
          updated.clear()
          movedU.foreach { case (k, v) =>
            updated(k - sorted.count(_ < k)) = v }
          val movedI = inserted.toSeq
          inserted.clear()
          inserted ++= movedI.map(p => p - sorted.count(_ < p))
          shifts += Right(sorted)
        }
      case (_, Structural) => valid = false
    }
    if (!valid) None
    else Some(EditorSession.SessionDelta(
      inserted.toSeq.sorted, updated.toSeq.sortBy(_._1), deleted.toSeq.sorted,
      cols, deletes,
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

  /** Record state before a mutation gesture; clears the redo branch.
    * `kind` feeds the mutation log: position-bounded cell gestures pass
    * what they touch, delta-sized row deletes their positions, everything
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
    * edit log — matches the reference resetting the model. `map` is the
    * position map of the attach that built `df`
    * ([[Positional.attachPosMapped]]), when the caller has one: it gives
    * the row count and keeps pages pruned. Without it the count is
    * unknown (counted by the next [[rowCount]]) and pages read every
    * partition until the next open.
    */
  def replace(df: DataFrame, map: Option[PosMap] = None): Unit = {
    remember(); editLog.clear(); table = df
    nRows = map.fold(-1L)(_.total); posMap = map
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
    * while delta-sized, a structural marker past that — a mass delete
    * must not pin an unbounded position list, and no refresh or change
    * feed serves a delete that large from positions anyway.
    */
  private def deleteKind(valid: Seq[Long]): MutKind =
    if (valid.size <= EditorSession.deltaMaxRows) RowDeletes(valid)
    else Structural

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
    * when the map is unknown (after a [[replace]] without one), when the
    * planned RDD's partition count differs from the map's size, or when
    * the plan shuffles; [[lastPageRead]] records which tier served the
    * read and why.
    */
  def page(lo: Long, hi: Long): DataFrame = {
    val inRange = coveringRead(current, posMap)(Positional.inPage(lo, hi))(
      _.covering(lo, hi))
    Positional.sortedPage(inRange, lo, hi)
  }

  /** The current rows at `positions` (any order, no sort), read like
    * [[page]] from only the partitions whose interval holds one of them —
    * the refresh tier's touched-row read.
    */
  private[graft] def rowsAt(positions: Seq[Long]): DataFrame =
    coveringRead(current, posMap)(col(POS).isInCollection(positions))(
      _.coveringAny(positions))

  /** The rows at `positions` of the plan retained at epoch `at`
    * ([[planAt]]), read like [[rowsAt]] through the position map that
    * epoch's snapshot kept — the refresh tier's pre-image read. None
    * once history has trimmed the epoch.
    */
  private[graft] def rowsAtEpoch(at: Long,
                                 positions: Seq[Long]): Option[DataFrame] =
    if (at == epochCounter) Some(rowsAt(positions))
    else snapAt(at).map(sn =>
      coveringRead(foldPlan(sn.table, sn.edits), sn.map)(
        col(POS).isInCollection(positions))(_.coveringAny(positions)))

  /** The last [[page]] or [[rowsAt]] decision: which tier read, how many
    * partitions it read of how many, and why it fell back.
    */
  def lastPageRead: Option[EditorSession.PageRead] = lastRead

  private[graft] def positionMap: Option[PosMap] = posMap

  /** `plan.filter(pred)` over the partitions `keep` picks from `map`,
    * the plan's position map, or over every partition when the map can't
    * be used.
    */
  private def coveringRead(plan: DataFrame, map: Option[PosMap])(
      pred: org.apache.spark.sql.Column)(
      keep: PosMap => Array[Int]): DataFrame = {
    import EditorSession.PageRead
    val inRange = plan.filter(pred)
    val (out, read) = map match {
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
    * trivial. Shared by the mutation log (which logs a larger delete as
    * structural), the bound on a position read of pre-images or of the
    * change feed ([[SessionDelta.bounded]]), and [[Catalog]]'s refresh
    * routing.
    */
  val deltaMaxRows = 4096

  /** The net change between two session epochs
    * ([[EditorSession.deltaSince]]). `insertedPos` = rows that did not
    * exist at the since-epoch, in to-epoch coordinates; `updatedPos` =
    * surviving pre-existing rows whose cells changed, as (to-epoch,
    * since-epoch) coordinate pairs; `deletedPos` = rows gone since, in
    * since-epoch coordinates; `dirtyCols` = every column a cell gesture
    * or column add/rename named; `deleteCount` = rows removed, including
    * rows inserted and deleted inside the span; `insertedRows` = the
    * inserted rows' contents while every insert retained its plan and
    * nothing was deleted since. The since-epoch coordinates index the
    * session plan retained at that epoch, which serves every pre-image.
    */
  final case class SessionDelta(insertedPos: Seq[Long],
      updatedPos: Seq[(Long, Long)], deletedPos: Seq[Long],
      dirtyCols: Set[String], deleteCount: Long,
      insertedRows: Option[DataFrame]) {
    def hasDeletes: Boolean = deleteCount > 0

    /** Whether the three position lists together fit [[deltaMaxRows]] —
      * the bound on reading pre-images or serving the change feed as
      * `__pos` filters.
      */
    def bounded: Boolean =
      insertedPos.size + updatedPos.size + deletedPos.size <= deltaMaxRows
  }

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
