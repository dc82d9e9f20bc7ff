package graft.core

import scala.util.Try
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical._
import graft.core.Positional.POS

/** SQL DML text surface (r11 verdict task #1): `INSERT INTO`, `UPDATE`,
  * `DELETE FROM`, and `MERGE INTO` against an OPEN SESSION route through
  * the existing typed gestures — [[EditorSession.appendRows]],
  * [[EditorSession.setCellsTyped]], [[EditorSession.deleteRows]],
  * [[EditorSession.replace]] — so the whole ingest-and-maintain law
  * (mutation log → [[CatalogRefresh.refreshStale]] delta-patches every
  * layout with exactly the statement's rows) holds from SQL text exactly
  * as it does from the typed API.
  *
  * Parsing is Catalyst's own: [[Catalog.sql]] pre-screens for a DML
  * keyword, `sqlParser.parsePlan` yields the standard
  * `InsertIntoStatement` / `UpdateTable` / `DeleteFromTable` /
  * `MergeIntoTable` nodes, and this trait pattern-matches them the same
  * way [[graft.plans.SqlLayoutRouting]] matches reads. Sub-expressions
  * (assignment values, WHERE/ON conditions, the INSERT source query) are
  * re-planned from their ORIGINAL TEXT — each parsed node carries its
  * statement slice in `Origin(sqlText, startIndex, stopIndex)` — against
  * the same temp-view window the read path uses, so `INSERT INTO a
  * SELECT ... FROM b` sees every open session (and resolves time-travel
  * clauses onto pinned snapshots); source plans bind LIVE, never layout
  * storage — see planRead.
  *
  * The scale law mirrors refresh itself: a statement whose touched-row
  * set fits [[CatalogRefresh.deltaMaxRows]] applies as a BOUNDED gesture
  * (driver-collected positions/values, batch-sized — the next refresh
  * delta-patches); a corpus-sized UPDATE/DELETE instead applies as ONE
  * distributed projection/filter + structural replace (no driver
  * materialization, layouts rebuild — exactly what refresh would do with
  * an oversized delta anyway). INSERT and MERGE-insert never collect at
  * any size: appendRows takes the plan itself.
  */
trait CatalogDml { self: Catalog =>

  /** One-row result of a DML statement: (operation, rows_affected). */
  private[core] def report(op: String, n: Long): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(Row(op, n)),
      StructType(Seq(StructField("operation", StringType, nullable = false),
        StructField("rows_affected", LongType, nullable = false))))

  /** Fast pre-screen: only texts that can possibly be DML pay a parse. */
  private[core] def looksLikeDml(query: String): Boolean = {
    val t = query.trim
    val head = t.takeWhile(!_.isWhitespace).toUpperCase(java.util.Locale.ROOT)
    head == "INSERT" || head == "UPDATE" || head == "DELETE" ||
      head == "MERGE" || head == "COPY"
  }

  // ---- COPY INTO (r14): SQL bulk file ingest --------------------------------
  // `COPY INTO <session> FROM '<path>'` appends a file's rows through the
  // SAME gesture as `INSERT INTO ... SELECT` — appendRows takes the lazy
  // scan plan (never a driver materialize), the mutation log records a
  // tail RowInserts, and the next refresh delta-patches every layout
  // with exactly the file's rows. Format dispatch is [[graft.io.Formats
  // .read]]'s (extension-sniffed: parquet/csv/json/orc/xlsx/…), so the
  // statement composes the whole S-row source surface into the DML law.
  // Column mapping is BY NAME when every file column resolves in the
  // session schema (case-insensitive, Spark's resolution); otherwise
  // positional with the usual arity check — either way values cast to
  // the session's types, and an uncastable file fails the statement
  // atomically (nothing appended).

  private val copyInto = java.util.regex.Pattern.compile(
    "(?is)^\\s*copy\\s+into\\s+([A-Za-z_][\\w]*)\\s+from\\s+" +
      "'([^']+)'\\s*;?\\s*$")

  private def runCopy(query: String): Option[DataFrame] = {
    val m = copyInto.matcher(query)
    if (!m.matches()) return None
    val name = canonSession(m.group(1)).getOrElse(throw
      new NoSuchElementException(
        s"no open session named '${m.group(1)}' — COPY INTO targets " +
          "open sessions"))
    Some(atomically(name) {
      val s = sessions(name)
      val schema = Positional.strip(s.current).schema
      val rows = graft.io.Formats.read(spark, m.group(2))
      val byName = rows.columns.forall(c =>
        schema.exists(_.name.equalsIgnoreCase(c)))
      val listed = if (byName) rows.columns.toSeq else Nil
      report("copy", s.appendRows(simpleConform(rows, schema, listed)))
    })
  }

  /** Run `query` as DML against an open session, or None when the parsed
    * statement is not DML / not aimed at a session (then the caller's
    * ordinary path produces the right behavior or error). Must be called
    * inside the [[Catalog.sql]] view window — conditions and source
    * queries resolve against the session temp views.
    */
  private[core] def runDml(query: String): Option[DataFrame] = {
    // COPY is not Spark grammar — recognized textually BEFORE the parse
    // (parsePlan would throw and skip the regex entirely)
    runCopy(query).foreach(r => return Some(r))
    val plan = Try(spark.sessionState.sqlParser.parsePlan(query))
      .getOrElse(return None)
    plan match {
      case i: InsertIntoStatement =>
        aliasedTarget(i.table).map { case (name, _) =>
          atomically(name)(runInsert(query, name, i)) }
      case u: UpdateTable =>
        aliasedTarget(u.table).map { case (name, alias) =>
          atomically(name)(runUpdate(name, alias, u)) }
      case d: DeleteFromTable =>
        aliasedTarget(d.table).map { case (name, alias) =>
          atomically(name)(runDelete(name, alias, d)) }
      case m: MergeIntoTable =>
        aliasedTarget(m.targetTable).map { case (name, alias) =>
          atomically(name)(runMerge(name, alias, m)) }
      case _ => None
    }
  }

  // ---- multi-statement transactions (r13 verdict task #6) -------------------
  // `BEGIN` / `COMMIT` / `ROLLBACK` generalize the per-statement
  // `atomically` bracket to N statements over N sessions: while a
  // transaction is open, the FIRST statement to touch each session
  // captures that session's pre-transaction plan reference (an immutable
  // lineage handle — nothing copies), and ROLLBACK restores every
  // captured session at once. COMMIT simply releases the captures (the
  // statements already applied) and runs any layout retirements the
  // transaction deferred — a retirement is not restorable, so a DROP
  // COLUMN inside a transaction must not retire until the outcome is
  // known (the same deferral the r13 per-statement bracket applies
  // within one statement). Statement-level atomicity still holds inside
  // a transaction: a failing statement rolls ITSELF back and leaves the
  // transaction open for the caller to COMMIT or ROLLBACK.
  //
  // Scope: session DML (INSERT/UPDATE/DELETE/MERGE), column DDL, and
  // TRUNCATE — everything whose state is the session plan. Lifecycle
  // gestures (CREATE/DROP/RENAME TABLE, CTAS, MATERIALIZED VIEW,
  // maintenance) mutate the catalog's NAMESPACE and durable control
  // plane, which a plan reference cannot restore — they refuse inside an
  // open transaction rather than pretend. Rollback is a STRUCTURAL
  // gesture per session (layouts rebuild on the next refresh): the price
  // of abandoning a transaction, never of committing one.

  private[core] var txnPre: Option[scala.collection.mutable.LinkedHashMap[
    String, (DataFrame, Long)]] = None
  private[core] val txnRetires =
    scala.collection.mutable.ArrayBuffer.empty[(String, String)]

  private[core] def requireNoTxn(what: String): Unit =
    require(txnPre.isEmpty,
      s"$what is not transactional — COMMIT or ROLLBACK first")

  private[core] def looksLikeTxn(query: String): Boolean = {
    // strip the statement terminator too: "COMMIT;" must reach runTxn
    // (the regexes below accept it), or a script-style commit would fall
    // through to Spark's parser and leave the transaction silently open
    val head = query.trim.takeWhile(c => !c.isWhitespace && c != ';')
      .toUpperCase(java.util.Locale.ROOT)
    head == "BEGIN" || head == "START" || head == "COMMIT" ||
      head == "ROLLBACK" || head == "SAVEPOINT" || head == "RELEASE"
  }

  private val txnBegin = java.util.regex.Pattern.compile(
    "(?is)^\\s*(?:begin|start)(?:\\s+transaction)?\\s*;?\\s*$")
  private val txnCommit = java.util.regex.Pattern.compile(
    "(?is)^\\s*commit(?:\\s+transaction)?\\s*;?\\s*$")
  private val txnRollback = java.util.regex.Pattern.compile(
    "(?is)^\\s*rollback(?:\\s+transaction)?\\s*;?\\s*$")

  // savepoints: a named mid-transaction mark — `ROLLBACK TO SAVEPOINT s`
  // restores every session to its state AT the mark (plan references
  // again; sessions whose epoch never moved since are untouched) and
  // discards the retirements and savepoints recorded after it, keeping
  // the transaction open with the pre-mark statements applied. The
  // session set is stable inside a transaction (lifecycle DDL refuses),
  // so capturing every open session at the mark is exact.
  private val txnSavepoint = java.util.regex.Pattern.compile(
    "(?is)^\\s*savepoint\\s+([A-Za-z_][\\w]*)\\s*;?\\s*$")
  private val txnRollbackTo = java.util.regex.Pattern.compile(
    "(?is)^\\s*rollback\\s+to\\s+(?:savepoint\\s+)?([A-Za-z_][\\w]*)\\s*;?\\s*$")
  private val txnRelease = java.util.regex.Pattern.compile(
    "(?is)^\\s*release\\s+(?:savepoint\\s+)?([A-Za-z_][\\w]*)\\s*;?\\s*$")

  private[core] val txnSavepoints = scala.collection.mutable.LinkedHashMap
    .empty[String, (Map[String, (DataFrame, Long)], Int)]

  /** Savepoint names fold case like every other identifier surface here
    * (canonSession, canonCol) and like the dialect this syntax mirrors.
    */
  private def canonSavepoint(name: String): Option[String] =
    txnSavepoints.keys.find(_ == name)
      .orElse(txnSavepoints.keys.find(_.equalsIgnoreCase(name)))

  private def runSavepoint(query: String): Option[DataFrame] = {
    val sp = txnSavepoint.matcher(query)
    if (sp.matches()) {
      require(txnPre.isDefined, "SAVEPOINT without an open transaction")
      // a redefined name RE-ESTABLISHES at the tail (SQL semantics):
      // updating in place would keep the old LinkedHashMap position, so
      // a ROLLBACK TO an intermediate mark would keep — and a later
      // rollback replay — a snapshot of work that rollback just undid
      // (r14 review, 3rd pass)
      canonSavepoint(sp.group(1)).foreach(txnSavepoints.remove)
      txnSavepoints(sp.group(1)) =
        (sessions.map { case (n, s) => n -> (s.current, s.epoch) }.toMap,
          txnRetires.length)
      return Some(report("savepoint", txnSavepoints.size.toLong))
    }
    val rt = txnRollbackTo.matcher(query)
    if (rt.matches()) {
      require(txnPre.isDefined,
        "ROLLBACK TO SAVEPOINT without an open transaction")
      val name = canonSavepoint(rt.group(1)).getOrElse(
        throw new NoSuchElementException(s"no savepoint '${rt.group(1)}'"))
      val (states, retLen) = txnSavepoints(name)
      var restored = 0L
      states.foreach { case (n, (pre, preEpoch)) =>
        sessions.get(n).foreach { s =>
          if (s.epoch != preEpoch) { s.replace(pre); restored += 1 }
        }
      }
      txnRetires.remove(retLen, txnRetires.length - retLen)
      // savepoints defined after the mark die with the rolled-back work
      val keep = txnSavepoints.keys.takeWhile(_ != name).toSeq :+ name
      txnSavepoints.filterInPlace((k, _) => keep.contains(k))
      return Some(report("rollback_to_savepoint", restored))
    }
    val rl = txnRelease.matcher(query)
    if (rl.matches()) {
      require(txnPre.isDefined,
        "RELEASE SAVEPOINT without an open transaction")
      val name = canonSavepoint(rl.group(1)).getOrElse(
        throw new NoSuchElementException(s"no savepoint '${rl.group(1)}'"))
      // SQL RELEASE destroys the mark AND every later one — the span is
      // final; a later mark surviving would let ROLLBACK TO silently
      // unwind work recorded inside it (r14 review, 3rd pass)
      val keep = txnSavepoints.keys.takeWhile(_ != name).toSeq
      txnSavepoints.filterInPlace((k, _) => keep.contains(k))
      return Some(report("release_savepoint", txnSavepoints.size.toLong))
    }
    None
  }

  private[core] def runTxn(query: String): Option[DataFrame] = {
    runSavepoint(query).foreach(r => return Some(r))
    if (txnBegin.matcher(query).matches()) {
      require(txnPre.isEmpty, "a transaction is already open (no nesting)")
      txnPre = Some(scala.collection.mutable.LinkedHashMap.empty)
      txnSavepoints.clear()
      Some(report("begin_transaction", 0L))
    } else if (txnCommit.matcher(query).matches()) {
      val m = txnPre.getOrElse(
        throw new IllegalStateException("COMMIT without an open transaction"))
      txnPre = None
      txnSavepoints.clear()
      val rets = txnRetires.toSeq
      txnRetires.clear()
      rets.foreach { case (n, c) => retireLayoutsReferencing(n, c) }
      Some(report("commit", m.size.toLong))
    } else if (txnRollback.matcher(query).matches()) {
      val m = txnPre.getOrElse(throw new IllegalStateException(
        "ROLLBACK without an open transaction"))
      txnPre = None
      txnSavepoints.clear()
      txnRetires.clear()
      var restored = 0L
      m.foreach { case (n, (pre, preEpoch)) =>
        sessions.get(n).foreach { s =>
          if (s.epoch != preEpoch) { s.replace(pre); restored += 1 }
        }
      }
      Some(report("rollback", restored))
    } else None
  }

  /** Statement atomicity (r12 verdict task #4): a DML statement that
    * fails AFTER mutating the session (a MERGE applies edits, then
    * deletes, then inserts — a rejection between gestures used to leave
    * a half-applied statement) rolls the session back to its
    * pre-statement plan before rethrowing. The pre-statement `current`
    * is an immutable lineage reference — capturing it copies nothing,
    * exactly the [[CatalogSnapshots.restore]] mechanism applied to an
    * ephemeral bracket instead of a named pin. The rollback is a
    * STRUCTURAL gesture: the mutation log can't subtract the applied
    * prefix, so layouts rebuild on the next refresh — the price of a
    * failure path that should be near-impossible (every gesture
    * pre-validates), never of the happy path, which runs unbracketed at
    * zero cost. A statement that fails BEFORE its first gesture (epoch
    * unchanged) rethrows untouched.
    */
  private[core] def atomically(name: String)(body: => DataFrame): DataFrame = {
    val s = sessions(name)
    val pre = s.current
    val preEpoch = s.epoch
    // inside an open transaction, the FIRST touch of each session
    // captures its pre-transaction state for ROLLBACK; the statement
    // bracket below still applies on top
    txnPre.foreach(m => if (!m.contains(name)) m(name) = (pre, preEpoch))
    try body
    catch {
      case e: Throwable =>
        if (s.epoch != preEpoch) s.replace(pre)
        throw e
    }
  }

  /** Test seam: a named failpoint the SqlDmlSpec atomicity test arms to
    * force a failure between MERGE's edit and delete gestures. Always
    * None in production.
    */
  private[graft] var dmlFailpoint: Option[String] = None
  private def failpoint(at: String): Unit =
    dmlFailpoint.filter(_ == at).foreach { f =>
      throw new IllegalStateException(s"armed failpoint: $f")
    }

  /** Plan a DML source/sub-query text: time-travel clauses rewrite onto
    * pinned snapshots (so `INSERT INTO t SELECT * FROM t VERSION AS OF
    * <pin> WHERE …` — the incident-recovery gesture that restores
    * deleted rows — works from one statement), but the plan binds LIVE
    * session/snapshot plans, never layout storage: the source plan
    * SURVIVES in the target session's lineage (appendRows keeps it
    * lazily), and a routed scan there would reference layout files that
    * a later rebuild/unpin + vacuum may collect — the same invariant
    * CTAS pins (r13 review). A referenced MATERIALIZED VIEW re-registers
    * LIVE for the same reason (r14 ADVICE #1): the window registered its
    * view ROUTED, so planning against it would embed layout-storage
    * scans into the target's lazy lineage. The view window still
    * resolves every session name; only the at-rest acceleration is
    * skipped, on a path whose cost is the WRITE anyway. Must run inside
    * the [[Catalog.sql]] view window (shared by [[CatalogDdl.runCtas]],
    * whose result plan is long-lived for the same reason).
    */
  private[core] def planRead(text: String): DataFrame = {
    mvsReferenced(text).foreach { n =>
      Try(spark.sql(mvs(n))).foreach(_.createOrReplaceTempView(n))
    }
    val travel =
      if (looksLikeTimeTravel(text)) runTimeTravel(text, routed = false)
      else None
    travel.getOrElse(spark.sql(text))
  }

  /** (session name, alias to resolve qualified refs against). */
  private def aliasedTarget(t: LogicalPlan): Option[(String, String)] = t match {
    case SubqueryAlias(id, child) =>
      aliasedTarget(child).map { case (n, _) => (n, id.name) }
    case r: UnresolvedRelation if r.multipartIdentifier.size == 1 &&
        sessions.contains(r.multipartIdentifier.head) =>
      Some((r.multipartIdentifier.head, r.multipartIdentifier.head))
    case _ => None
  }

  /** The original statement text of a parsed node, via its Origin slice;
    * falls back to the tree's own SQL rendering (sufficient for plain
    * column/function expressions; the slice handles everything the
    * parser accepted, subqueries included).
    */
  private def exprText(e: Expression): String =
    e.origin.sqlText match {
      case Some(t) =>
        // span the WHOLE tree's origins, not just the root's: some parser
        // contexts anchor the root mid-expression (an IN-subquery's root
        // starts at `IN`, dropping its left operand)
        var lo = Int.MaxValue
        var hi = -1
        e.foreach { n =>
          n.origin.startIndex.foreach(i => if (i >= 0) lo = math.min(lo, i))
          n.origin.stopIndex.foreach(i => hi = math.max(hi, i))
        }
        if (lo <= hi && hi < t.length) t.substring(lo, hi + 1) else e.sql
      case None => e.sql
    }

  private def planText(p: LogicalPlan): Option[String] = {
    val o = p.origin
    (o.sqlText, o.startIndex, o.stopIndex) match {
      case (Some(t), Some(a), Some(b)) if a >= 0 && b >= a && b < t.length =>
        Some(t.substring(a, b + 1))
      case _ => None
    }
  }

  private def asCol(e: Expression): Column = expr(exprText(e))

  private def assignKey(a: Assignment): String = a.key match {
    case u: UnresolvedAttribute => u.nameParts.last
    case other => other.sql.split("\\.").last.stripPrefix("`").stripSuffix("`")
  }

  private def runInsert(query: String, name: String,
                        i: InsertIntoStatement): DataFrame = {
    val s = sessions(name)
    val schema = Positional.strip(s.current).schema
    // the source query's own text, evaluated through planRead (the view
    // window is already open, so it sees every session and resolves
    // VERSION/TIMESTAMP AS OF clauses onto pinned snapshots; plans bind
    // live — the appended lineage outlives any layout dir)
    val srcText = planText(i.query).getOrElse {
      val m = java.util.regex.Pattern.compile(
        "(?is)^\\s*insert\\s+(?:into|overwrite)\\s+(?:table\\s+)?" +
          "[\\w`]+\\s*(?:\\([^)]*\\))?\\s*(.*)$").matcher(query)
      require(m.matches(), s"cannot locate INSERT source query in: $query")
      m.group(1)
    }
    require(i.partitionSpec.isEmpty,
      "INSERT ... PARTITION is not supported against a session (sessions " +
        "are unpartitioned) — include the partition columns in the query")
    val rows = planRead(srcText)
    // BY NAME maps the query's own output names (null-filling the rest),
    // exactly like an explicit column list of those names
    val listed =
      if (i.byName && i.userSpecifiedCols.isEmpty) rows.columns.toSeq
      else i.userSpecifiedCols
    val conformed = simpleConform(rows, schema, listed)
    if (i.overwrite) {
      // the attach's counts give the row count and the position map, so
      // pages after the overwrite still read only their partitions
      val (pinned, map) = Positional.attachPosMapped(conformed, Nil)
      s.replace(pinned, Some(map))
      report("insert_overwrite", map.total)
    } else report("insert", s.appendRows(conformed))
  }

  /** Non-RDD conform (keeps the plan lazy for appendRows): rename
    * positionally / by list, null-fill unlisted, cast to session types.
    * Listed names resolve CASE-INSENSITIVELY against the session schema
    * (Spark's default resolution — `INSERT ... BY NAME SELECT 1 AS FLAG`
    * must hit a `flag` column exactly as it would against any table) and
    * are canonicalized to the schema's spelling before the mapping.
    */
  private def simpleConform(rows: DataFrame, schema: StructType,
                            listed0: Seq[String]): DataFrame = {
    def canon(c: String): Option[String] =
      schema.map(_.name).find(_.equalsIgnoreCase(c))
    val listed = listed0.map(c => canon(c).getOrElse(c))
    val named =
      if (listed.isEmpty) {
        require(rows.columns.length == schema.length,
          s"INSERT arity mismatch: table has ${schema.length} columns, " +
            s"query produces ${rows.columns.length}")
        rows.toDF(schema.map(_.name): _*)
      } else {
        require(rows.columns.length == listed.length,
          s"INSERT arity mismatch: ${listed.length} columns listed, " +
            s"query produces ${rows.columns.length}")
        val unknown = listed.filterNot(c => schema.exists(_.name == c))
        require(unknown.isEmpty,
          s"INSERT lists unknown column(s): ${unknown.mkString(", ")}")
        rows.toDF(listed: _*)
      }
    named.select(schema.map { f =>
      (if (named.columns.contains(f.name)) col(f.name).cast(f.dataType)
       else lit(null).cast(f.dataType)).as(f.name)
    }: _*)
  }

  private def runDelete(name: String, alias: String,
                        d: DeleteFromTable): DataFrame = {
    val s = sessions(name)
    val cur = s.current.as(alias)
    val cond = Option(d.condition).map(asCol).getOrElse(lit(true))
    val bound = deltaMaxRows
    val hit = cur.filter(cond).select(col(POS))
      .limit(bound + 1).collect().map(_.getLong(0)).toSeq
    if (hit.size > bound) {
      // corpus-sized: one distributed anti-filter + dense renumber —
      // never a driver-sized position list. Structural (layouts rebuild,
      // as they would for any oversized delete). The keep-filter is
      // "cond is not TRUE", never `!cond`: a NULL predicate keeps its
      // row per SQL DELETE semantics (and per the bounded path, which
      // only collects TRUE positions).
      val before = s.rowCount
      s.replace(Positional.renumber(
        cur.filter(!coalesce(cond, lit(false)))))
      report("delete", before - s.rowCount)
    } else {
      if (hit.nonEmpty) require(s.deleteRows(hit), "DELETE gesture rejected")
      report("delete", hit.size.toLong)
    }
  }

  private def runUpdate(name: String, alias: String,
                        u: UpdateTable): DataFrame = {
    val s = sessions(name)
    val cur = s.current.as(alias)
    val schema = Positional.strip(s.current).schema
    val assigns: Seq[(String, Column, DataType)] = u.assignments.map { a =>
      val n = assignKey(a)
      val f = schema.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"UPDATE of unknown column $n"))
      (n, asCol(a.value).cast(f.dataType), f.dataType)
    }
    require(assigns.map(_._1).distinct.size == assigns.size,
      "UPDATE assigns the same column twice")
    val cond = u.condition.map(asCol).getOrElse(lit(true))
    // complex-typed values can't ride the literal edit log — go
    // structural regardless of size
    val editable = assigns.forall { case (_, _, dt) =>
      !dt.isInstanceOf[org.apache.spark.sql.types.ArrayType] &&
        !dt.isInstanceOf[org.apache.spark.sql.types.MapType] &&
        !dt.isInstanceOf[org.apache.spark.sql.types.StructType] }
    val bound = deltaMaxRows
    // ALL right-hand sides evaluate against the OLD row (one projection)
    val hits =
      if (editable)
        cur.filter(cond).select(col(POS) +:
          assigns.map { case (n, c, _) => c.as(s"__v_$n") }: _*)
          .limit(bound + 1).collect()
      else Array.empty[Row]
    if (!editable || hits.length > bound) {
      val sel = s.current.columns.map { n =>
        assigns.find(_._1 == n) match {
          case Some((_, newC, _)) => when(cond, newC).otherwise(col(n)).as(n)
          case None => col(n)
        }
      }
      val touched = cur.filter(cond).count()
      // a zero-hit statement must not pay (or trigger) anything: the
      // structural replace would invalidate every layout for a no-op
      if (touched > 0) s.replace(cur.select(sel.toSeq: _*))
      report("update", touched)
    } else {
      assigns.zipWithIndex.foreach { case ((n, _, _), i) =>
        val edits = hits.map(r => r.getLong(0) -> r.get(i + 1)).toSeq
        if (edits.nonEmpty)
          require(s.setCellsTyped(n, edits), s"UPDATE gesture rejected on $n")
      }
      report("update", hits.length.toLong)
    }
  }

  // ---- MERGE ---------------------------------------------------------------

  private sealed trait MTouch
  private case class MUpdate(sets: Seq[(String, Column, DataType)]) extends MTouch
  private case object MDelete extends MTouch

  /** Ordered matched-side actions → (guard condition, effect). First
    * satisfied action wins, per the SQL MERGE contract.
    */
  private def matchedPlan(actions: Seq[MergeAction], schema: StructType,
                          srcAlias: String,
                          srcCols: Seq[String]): Seq[(Column, MTouch)] =
    actions.map { a =>
      def sets(assigns: Seq[Assignment]) = assigns.map { as =>
        val n = assignKey(as)
        val f = schema.find(_.name == n).getOrElse(throw new
            IllegalArgumentException(s"MERGE updates unknown column $n"))
        (n, asCol(as.value).cast(f.dataType), f.dataType)
      }
      def starSets() = schema.map { f =>
        require(srcCols.contains(f.name),
          s"MERGE UPDATE SET * needs source column ${f.name}")
        (f.name, col(s"$srcAlias.${f.name}").cast(f.dataType), f.dataType)
      }.toSeq
      a match {
        case UpdateAction(c, assigns, _) =>
          (c.map(asCol).getOrElse(lit(true)), MUpdate(sets(assigns)))
        case _: UpdateStarAction =>
          (a.condition.map(asCol).getOrElse(lit(true)), MUpdate(starSets()))
        case DeleteAction(c) => (c.map(asCol).getOrElse(lit(true)), MDelete)
        case other => throw new IllegalArgumentException(
          s"unsupported MERGE matched action: $other")
      }
    }

  /** Collected effect of ordered update/delete actions over a
    * position-keyed row set: per-column typed edits, positions to
    * delete, and the count of updated rows — all in PRE-gesture
    * coordinates so the caller can apply every edit first and ONE
    * combined delete after (two delete gestures would shift the second
    * call's positions). None when the touched set exceeds the delta
    * bound (caller goes structural).
    */
  private case class Touches(
      updates: Seq[(String, Seq[(Long, Any)])],
      deletes: Seq[Long], updatedRows: Long)

  private def collectTouches(rows: DataFrame,
                             acts: Seq[(Column, MTouch)],
                             seen: scala.collection.mutable.Set[Long]):
      Option[Touches] = {
    if (acts.isEmpty) return Some(Touches(Nil, Nil, 0L))
    val actIdx = acts.zipWithIndex.foldRight(lit(-1)) {
      case (((c, _), i), els) => when(c, lit(i)).otherwise(els)
    }
    val valueCols = acts.zipWithIndex.flatMap {
      case ((_, MUpdate(sets)), i) =>
        sets.map { case (n, c, _) => c.as(s"__a${i}__$n") }
      case _ => Nil
    }
    val proj = rows.select((col(POS).as("__t_pos") +:
      actIdx.as("__act") +: valueCols): _*)
    val bound = deltaMaxRows
    val collected = proj.limit(bound + 1).collect()
    if (collected.length > bound) return None
    val colIdx = proj.columns.zipWithIndex.toMap
    var deleted = Vector.empty[Long]
    var updatedRows = 0L
    val updates = scala.collection.mutable.LinkedHashMap
      .empty[String, Vector[(Long, Any)]]
    collected.foreach { r =>
      val pos = r.getLong(0)
      // the violation is MODIFYING a target row twice — pairs whose
      // guard conditions all fail (act = -1) are legal extra matches
      // per SQL MERGE, so only act >= 0 rows claim the position
      r.getInt(colIdx("__act")) match {
        case -1 => ()
        case i =>
          require(seen.add(pos),
            "MERGE cardinality violation: a target row matches more " +
              "than one source row with an applicable action")
          acts(i)._2 match {
          case MDelete => deleted :+= pos
          case MUpdate(sets) =>
            updatedRows += 1
            sets.foreach { case (n, _, _) =>
              val v = r.get(colIdx(s"__a${i}__$n"))
              updates(n) = updates.getOrElse(n, Vector.empty) :+ (pos -> v)
            }
        }
      }
    }
    Some(Touches(updates.toSeq, deleted, updatedRows))
  }

  /** Source plan → (DataFrame, alias): a named relation reads through
    * the open view window (sessions included); a subquery re-plans from
    * its original text through the routed read path.
    */
  private def sourceOf(p: LogicalPlan): (DataFrame, String) = p match {
    case SubqueryAlias(id, child) => (sourceOf(child)._1, id.name)
    case r: UnresolvedRelation =>
      (spark.table(r.multipartIdentifier.mkString(".")),
        r.multipartIdentifier.last)
    case other =>
      val text = planText(other).getOrElse(throw new IllegalArgumentException(
        s"cannot recover MERGE source text from plan: ${other.nodeName}"))
      (planRead(text), "__src")
  }

  private def runMerge(name: String, alias: String,
                       m: MergeIntoTable): DataFrame = {
    val s = sessions(name)
    val schema = Positional.strip(s.current).schema
    val (srcDF, srcAlias) = sourceOf(m.sourceTable)
    val tgt = s.current.as(alias)
    val src = srcDF.as(srcAlias)
    val onCond = asCol(m.mergeCondition)

    // 1. INSERTs (not matched by target): fully distributed — the plan
    //    goes straight into appendRows, no driver materialization
    val notMatched = src.join(tgt, onCond, "left_anti")
    val insertPlans = {
      var prior = lit(false)
      m.notMatchedActions.map { a =>
        val (guard, cols) = a match {
          case InsertAction(c, assigns) =>
            val byName = assigns.map(as => assignKey(as) -> asCol(as.value)).toMap
            (c.map(asCol).getOrElse(lit(true)), schema.map { f =>
              byName.get(f.name).map(_.cast(f.dataType))
                .getOrElse(lit(null).cast(f.dataType)).as(f.name)
            })
          case _: InsertStarAction =>
            (a.condition.map(asCol).getOrElse(lit(true)), schema.map { f =>
              require(srcDF.columns.contains(f.name),
                s"MERGE INSERT * needs source column ${f.name}")
              col(s"$srcAlias.${f.name}").cast(f.dataType).as(f.name)
            })
          case other => throw new IllegalArgumentException(
            s"unsupported MERGE not-matched action: $other")
        }
        val mine = guard && !prior
        prior = prior || guard
        notMatched.filter(mine).select(cols.toSeq: _*)
      }
    }

    // 2. matched updates/deletes: bounded gesture path, first-match-wins
    val matchedRows = tgt.join(src, onCond, "inner")
    val mActs = matchedPlan(m.matchedActions, schema, srcAlias, srcDF.columns.toSeq)
    // 3. not matched by source (target-only rows): same machinery, no
    //    source columns in scope
    val bySourceRows = tgt.join(src, onCond, "left_anti")
    val bActs = matchedPlan(m.notMatchedBySourceActions, schema, srcAlias,
      srcDF.columns.toSeq)

    val seen = scala.collection.mutable.Set.empty[Long]
    val touched = for {
      t1 <- collectTouches(matchedRows, mActs, seen)
      t2 <- collectTouches(bySourceRows, bActs, seen)
    } yield Touches(t1.updates ++ t2.updates, t1.deletes ++ t2.deletes,
      t1.updatedRows + t2.updatedRows)

    touched match {
      case Some(t) =>
        // edits first (no position shifts), then ONE combined delete —
        // every collected position stays valid
        t.updates.foreach { case (n, edits) =>
          require(s.setCellsTyped(n, edits), s"MERGE update rejected on $n")
        }
        failpoint("merge-after-edits")
        if (t.deletes.nonEmpty)
          require(s.deleteRows(t.deletes), "MERGE delete rejected")
        val ins = insertPlans.foldLeft(0L)((n, p) => n + s.appendRows(p))
        report("merge", t.updatedRows + t.deletes.size + ins)
      case None =>
        // corpus-sized matched set: distributed CASE-WHEN composition +
        // structural replace (the exact Merge.upsert shape, generalized
        // to the statement's action list), then distributed inserts.
        // Without matched actions the left join would still DUPLICATE a
        // multi-matched target row — and no action would delete either
        // copy — so that shape only needs the match FLAG: a semi/anti
        // split is duplicate-free by construction. With matched actions
        // the join carries the source values and the cardinality check
        // below rejects multi-matches outright (stricter than the
        // bounded path, which can see which pair's guard applies — a
        // fail-fast, never a silent duplicate).
        val before = s.rowCount
        val j =
          if (mActs.isEmpty)
            tgt.join(src, onCond, "left_semi")
              .withColumn("__m_src", lit(true))
              .unionByName(tgt.join(src, onCond, "left_anti")
                .withColumn("__m_src", lit(null).cast("boolean")))
              .as(alias) // the union re-derives attributes; restore the
                         // qualifier the effect columns resolve against
          else tgt.join(src.withColumn("__m_src", lit(true)), onCond, "left")
        val isM = col("__m_src").isNotNull
        def chain(acts: Seq[(Column, MTouch)], matched: Column) = acts
          .zipWithIndex.foldRight(lit(-1)) { case (((c, _), i), els) =>
            when(matched && c, lit(i)).otherwise(els)
          }
        val mIdx = chain(mActs, isM)
        val bIdx = chain(bActs, !isM)
        def effect(colName: String, f: StructField): Column = {
          def overlay(acts: Seq[(Column, MTouch)], idx: Column, base: Column) =
            acts.zipWithIndex.foldLeft(base) {
              case (acc, ((_, MUpdate(sets)), i)) =>
                sets.find(_._1 == colName) match {
                  case Some((_, v, _)) => when(idx === i, v).otherwise(acc)
                  case None => acc
                }
              case (acc, _) => acc
            }
          overlay(bActs, bIdx, overlay(mActs, mIdx, col(s"$alias.$colName")))
            .cast(f.dataType).as(colName)
        }
        def isDel(acts: Seq[(Column, MTouch)], idx: Column) =
          acts.zipWithIndex.collect { case ((_, MDelete), i) => idx === i }
            .foldLeft(lit(false))(_ || _)
        val keptCols = col(POS) +: schema.map(f => effect(f.name, f)).toSeq
        val next = j.filter(!isDel(mActs, mIdx) && !isDel(bActs, bIdx))
          .select(keptCols: _*)
        // MERGE cardinality: with any matched action, >1 source rows per
        // target row is ambiguous — fail fast (one agg over matches)
        if (mActs.nonEmpty) {
          val dup = matchedRows.groupBy(col(POS)).count()
            .filter(col("count") > 1).limit(1).collect()
          require(dup.isEmpty,
            "MERGE cardinality violation: a target row matches more than " +
              "one source row")
        }
        // rows_affected = updates + deletes + inserts, each counted from
        // its own set (the structural path is rare — two extra count
        // jobs beat a wrong report): deletes fall out of the row-count
        // delta of the replace, updates from the action-index columns
        def isUpd(acts: Seq[(Column, MTouch)], idx: Column) =
          acts.zipWithIndex.collect {
            case ((_, MUpdate(_)), i) => idx === i
          }.foldLeft(lit(false))(_ || _)
        val updated = j.filter(isUpd(mActs, mIdx) || isUpd(bActs, bIdx))
          .count()
        s.replace(Positional.renumber(next))
        val deleted = math.max(0L, before - s.rowCount) // pre-insert delta
        val ins = insertPlans.foldLeft(0L)((n, p) => n + s.appendRows(p))
        report("merge", updated + deleted + ins)
    }
  }
}
