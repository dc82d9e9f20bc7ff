package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.{EditorSession, Positional, Tables}
import graft.core.Positional.POS

/** Page reads, counted opens and disk checkpoints: what an interactive
  * session pays per view and what it keeps alive per state.
  */
class PageSpec extends SparkSpec {
  private val orderCols = Seq("l_orderkey", "l_linenumber")

  private def open() =
    EditorSession.fromDataFrame(Tables.load(spark, sf, "lineitem"), orderCols)

  /** Spark jobs started by `body` ([[JobCounter]]). */
  private def jobsRun[T](body: => T): (T, Int) = {
    val c = JobCounter(spark)(body)
    (c.value, c.jobs)
  }

  /** Row count plus an XOR of per-row hashes over every column, `__pos`
    * included: order-sensitive, position-exact.
    */
  private def digest(df: DataFrame): (Long, Long) = {
    val row = df.agg(count(lit(1)), bit_xor(xxhash64(df.columns.map(col): _*))).head()
    (row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1))
  }

  /** The page form before the top-k: range filter plus a global sort. */
  private def filteredPage(df: DataFrame, lo: Long, hi: Long): Array[Row] =
    df.filter(col(POS) >= lo && col(POS) < hi).orderBy(col(POS)).collect()

  /** A session after one of each structural gesture the editor offers. */
  private def editedSession(): EditorSession = {
    val s = open()
    assert(s.setCell(7L, "l_quantity", "42.0"))
    assert(s.deleteRows(Seq(3L, 11L)))
    assert(s.cut(Seq(20L, 21L, 40L)))
    assert(s.paste(100L))
    val schema = Positional.strip(s.current).schema
    val rows = (0 until 3).map(i => Row.fromSeq(schema.fields.toSeq.map(f =>
      f.dataType match {
        case LongType => 90000000L + i
        case IntegerType => 1 + i
        case DoubleType => 1.5 * i
        case StringType => "A"
        case TimestampType => java.sql.Timestamp.valueOf("1995-01-01 00:00:00")
        case _ => null
      })))
    assert(s.appendRows(spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)) == 3L)
    s
  }

  test("an opened session knows its row count: the first rowCount runs no job") {
    val s = open()
    val (n, jobs) = jobsRun(s.rowCount)
    assert(jobs == 0, s"rowCount after fromDataFrame ran $jobs jobs")
    assert(n == Tables.load(spark, sf, "lineitem").count())
    val e = EditorSession.empty(spark)
    assert(jobsRun(e.rowCount) == ((0L, 0)))
  }

  test("rowCount right after pivot runs no job: the attach counted the pivoted rows") {
    val s = open()
    s.pivot("l_orderkey", "l_returnflag", "l_quantity", "sum")
    val (n, jobs) = jobsRun(s.rowCount)
    assert(jobs == 0, s"rowCount after pivot ran $jobs jobs")
    assert(n == s.current.count())
  }

  test("page equals the filtered, sorted range after cell, delete, cut, paste and append") {
    val s = editedSession()
    val cur = s.current
    val n = s.rowCount
    assert(n == cur.count())
    val ranges = Seq(
      "middle" -> (n / 2 - 25, n / 2 + 25),
      "tail past the end" -> (n - 10, n + 40),
      "empty" -> (30L, 30L),
      "inverted" -> (40L, 30L),
      "above the top-k cap" -> (0L, Positional.pageTopKMax + 1))
    ranges.foreach { case (what, (lo, hi)) =>
      val got = s.page(lo, hi).collect()
      val want = filteredPage(cur, lo, hi)
      assert(got.toSeq == want.toSeq, s"$what page [$lo, $hi) differs")
      assert(got.map(_.getAs[Long](POS)).toSeq ==
        (math.max(lo, 0L) until math.min(hi, n)), s"$what page positions")
    }
    // the wide and empty forms keep the filter + global sort
    Seq((0L, Positional.pageTopKMax + 1), (30L, 30L)).foreach { case (lo, hi) =>
      val plan = s.page(lo, hi).queryExecution.executedPlan
      assert(plan.collect { case t: TakeOrderedAndProjectExec => t }.isEmpty,
        s"[$lo, $hi) must not plan a top-k:\n$plan")
    }
  }

  test("a 50-row page plans as one top-k with no exchange and collects in one job") {
    val s = editedSession()
    val page = s.page(500L, 550L)
    val plan = page.queryExecution.executedPlan
    assert(plan.collect { case t: TakeOrderedAndProjectExec => t }.size == 1,
      s"page is not a top-k:\n$plan")
    assert(plan.collect { case e: Exchange => e }.isEmpty,
      s"page shuffles:\n$plan")
    val (rows, jobs) = jobsRun(s.page(500L, 550L).collect())
    assert(jobs == 1, s"page collect ran $jobs jobs")
    assert(rows.map(_.getAs[Long](POS)).toSeq == (500L until 550L))
  }

  test("checkpoint pins to disk, and undo/redo across it reproduce each state") {
    val sc = spark.sparkContext
    val s = open()
    val d0 = digest(s.current)
    assert(s.setCell(5L, "l_quantity", "17.0"))
    val d1 = digest(s.current)
    assert(d1 != d0)
    val before = sc.getRDDStorageInfo.map(_.id).toSet
    s.checkpoint()
    val pinned = sc.getRDDStorageInfo.filterNot(i => before(i.id))
    assert(pinned.nonEmpty, "checkpoint pinned no RDD")
    pinned.foreach { i =>
      assert(i.memSize == 0L && i.diskSize > 0L,
        s"checkpoint RDD ${i.id} holds mem=${i.memSize} disk=${i.diskSize}")
    }
    assert(digest(s.current) == d1)
    assert(s.deleteRows(Seq(2L, 9L)))
    val d2 = digest(s.current)
    assert(d2._1 == d1._1 - 2)
    assert(s.undo() && digest(s.current) == d1)
    assert(s.undo() && digest(s.current) == d0)
    assert(s.redo() && digest(s.current) == d1)
    assert(s.redo() && digest(s.current) == d2)
  }
}
