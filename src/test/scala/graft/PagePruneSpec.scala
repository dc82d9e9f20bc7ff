package graft

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.{Catalog, EditorSession, Positional, Tables}
import graft.core.EditorSession.PageRead
import graft.core.Positional.POS

/** Differential check of the partition-pruned page read: seeded random
  * gesture sequences over `lineitem`, and after every gesture each page
  * the session serves must equal `filter(range).orderBy(__pos)` over the
  * session plan, row for row. The session's page record must show the
  * pruned tier serving every page outside a `replace` that hands over no
  * position map (SQL `INSERT OVERWRITE` hands over its attach's), and a
  * bounded page must run fewer tasks than the plan has partitions. The
  * session's position map must also contain every position each
  * partition really holds, and the refresh tier's touched-row read
  * ([[EditorSession.rowsAt]]) must return the same rows as a position
  * filter.
  */
class PagePruneSpec extends SparkSpec {
  private val orderCols = Seq("l_orderkey", "l_linenumber")

  private def reference(df: DataFrame, lo: Long, hi: Long): Seq[Row] =
    df.filter(col(POS) >= lo && col(POS) < hi).orderBy(col(POS)).collect().toSeq

  /** Each partition's real (min, max) position must lie inside its map
    * interval, and the map must have one entry per plan partition.
    */
  private def checkMap(s: EditorSession, ctx: String): Seq[(Long, Long)] = {
    val cur = s.current
    val map = s.positionMap.getOrElse(fail(s"$ctx: no position map"))
    assert(cur.queryExecution.toRdd.getNumPartitions == map.size,
      s"$ctx: plan partitions vs $map")
    val real = cur.groupBy(spark_partition_id().as("pid"))
      .agg(min(col(POS)), max(col(POS))).collect()
      .map(r => (r.getInt(0), (r.getLong(1), r.getLong(2))))
    real.foreach { case (pid, (a, b)) =>
      val (lo, hi) = map.intervals(pid)
      assert(lo <= a && b < hi,
        s"$ctx: partition $pid holds [$a, $b] outside [$lo, $hi) of $map")
    }
    real.map(_._2).toSeq
  }

  /** Every page shape against the reference and the page record. */
  private def checkPages(s: EditorSession, ctx: String,
                         pruned: Boolean): Unit = {
    val cur = s.current
    val n = s.rowCount
    assert(n == cur.count(), s"$ctx: row count")
    val spans = if (pruned) checkMap(s, ctx) else Seq.empty
    val broadcasts = "BroadcastExchange".r
      .findAllMatchIn(cur.queryExecution.executedPlan.toString).size
    // a range across the boundary after the partition holding n / 3
    val boundary = spans.map(_._2 + 1).filter(b => b > n / 3 && b < n)
      .sorted.headOption.getOrElse(n / 3)
    val bounded = Seq(
      "middle" -> (n / 2 - 25, n / 2 + 25),
      "across a partition boundary" -> (boundary - 10, boundary + 10),
      "tail past the end" -> (n - 10, n + 40))
    val other = Seq(
      "empty" -> (30L, 30L),
      "inverted" -> (40L, 30L),
      "above the top-k cap" -> (0L, Positional.pageTopKMax + 1))
    (bounded ++ other).foreach { case (what, (lo, hi)) =>
      val c = JobCounter(spark)(s.page(lo, hi).collect().toSeq)
      val read = s.lastPageRead.get
      val at = s"$ctx, $what page [$lo, $hi) ($read)"
      assert(c.value == reference(cur, lo, hi), s"$at differs")
      assert(c.value.map(_.getAs[Long](POS)) ==
        (math.max(lo, 0L) until math.min(hi, n)), s"$at positions")
      if (!pruned) {
        assert(read.tier == PageRead.Filtered &&
          read.fallback.contains("no position map"), at)
      } else {
        assert(read.tier == PageRead.Pruned && read.fallback.isEmpty, at)
        if (bounded.exists(_._1 == what)) {
          // the read is one job of one task per kept partition, after one
          // single-task job per edit burst the plan broadcasts
          assert(read.partsRead < read.partsTotal, s"$at read every partition")
          assert(c.jobs == 1 + broadcasts &&
            c.tasks == read.partsRead + broadcasts,
            s"$at ran ${c.jobs} jobs, ${c.tasks} tasks, $broadcasts broadcasts")
        }
        if (hi <= lo) assert(read.partsRead == 0, at)
      }
    }
    checkRowsAt(s, ctx, pruned)
  }

  /** The refresh tier's touched-row read: the rows at scattered
    * positions, from only the partitions that hold them.
    */
  private def checkRowsAt(s: EditorSession, ctx: String,
                          pruned: Boolean): Unit = {
    val n = s.rowCount
    val at = Seq(0L, n / 3, n - 1, n + 5)
    val got = s.rowsAt(at).collect().sortBy(_.getAs[Long](POS)).toSeq
    val read = s.lastPageRead.get
    val want = s.current.filter(col(POS).isInCollection(at))
      .orderBy(col(POS)).collect().toSeq
    assert(got == want, s"$ctx: rowsAt($at) differs ($read)")
    if (pruned) assert(read.tier == PageRead.Pruned &&
      read.partsRead <= 3 && read.partsRead < read.partsTotal,
      s"$ctx: rowsAt($at) read $read")
    else assert(read.tier == PageRead.Filtered, s"$ctx: rowsAt read $read")
  }

  private def appendBatch(s: EditorSession, k: Int, seed: Int): DataFrame = {
    val schema = Positional.strip(s.current).schema
    val rows = (0 until k).map(i => Row.fromSeq(schema.fields.toSeq.map(f =>
      f.dataType match {
        case LongType => 90000000L + seed * 100 + i
        case IntegerType => 1 + i
        case DoubleType => 0.5 * i
        case StringType => "A"
        case BooleanType => i % 2 == 0
        case TimestampType => java.sql.Timestamp.valueOf("1995-01-01 00:00:00")
        case _ => null
      })))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  /** `steps` random gestures, pages checked after each; returns the log.
    * Every kind shows up in each block of 12 steps, so with five shifting
    * kinds (delete, cut, paste and cut+paste) a block also passes the
    * session's every-4-shifts checkpoint.
    */
  private def randomGestures(s: EditorSession, rnd: scala.util.Random,
                             steps: Int, seed: Int): Seq[String] = {
    val log = mutable.ArrayBuffer.empty[String]
    var tmpCol: Option[String] = None
    def pos(): Long = rnd.nextLong(s.rowCount)
    def some(k: Int): Seq[Long] = Seq.fill(1 + rnd.nextInt(k))(pos()).distinct
    // every gesture kind once per block of 12, in a seeded order
    val kinds = Iterator.continually(rnd.shuffle((0 until 12).toList)).flatten
    (0 until steps).foreach { i =>
      val g = kinds.next() match {
        case 0 =>
          val p = pos(); assert(s.setCell(p, "l_quantity", s"${i + 1}.0"))
          s"setCell($p)"
        case 1 =>
          val edits = Seq.fill(40)((pos(), s"${rnd.nextInt(1000)}.5"))
          assert(s.setCells("l_extendedprice", edits)); "setCells(40)"
        case 2 => val p = pos(); s.setNull(p, "l_tax"); s"setNull($p)"
        case 3 => val ps = some(5); assert(s.deleteRows(ps)); s"delete($ps)"
        case 4 => val ps = some(5); assert(s.cut(ps)); s"cut($ps)"
        case 5 =>
          val p = pos(); s"paste($p)=${s.paste(p)}"
        case 6 =>
          val k = 1 + rnd.nextInt(3)
          assert(s.appendRows(appendBatch(s, k, seed * 1000 + i)) == k)
          s"append($k)"
        case 7 => tmpCol match {
          case None =>
            val name = s"tmp$i"
            s.insertColumnAt(1 + rnd.nextInt(5), s"$name double")
            tmpCol = Some(name); s"insertColumn($name)"
          case Some(name) =>
            s.dropColumnAt(Positional.strip(s.current).columns.indexOf(name))
            tmpCol = None; s"dropColumn($name)"
        }
        case 8 => s"undo=${s.undo()}"
        case 9 => s"redo=${s.redo()}"
        case 10 => s.checkpoint(); "checkpoint"
        case 11 =>
          // a paste right after a cut of a boundary-crossing run
          val p = pos(); val ps = (p until math.min(p + 4, s.rowCount)).toSeq
          assert(s.cut(ps)); val at = pos()
          s"cut($ps)+paste($at)=${s.paste(at)}"
      }
      // undo/redo may cross an insert or drop of the temporary column
      tmpCol = Positional.strip(s.current).columns.find(_.startsWith("tmp"))
      log += g
      checkPages(s, s"seed $seed step $i ${log.mkString(", ")}", pruned = true)
    }
    log.toSeq
  }

  Seq(1, 2).foreach { seed =>
    test(s"pruned pages equal filtered pages over random gestures (seed $seed)") {
      val rnd = new scala.util.Random(seed)
      val s = EditorSession.fromDataFrame(
        Tables.load(spark, sf, "lineitem"), orderCols)
      checkPages(s, s"seed $seed open", pruned = true)
      randomGestures(s, rnd, 18, seed)
    }
  }

  test("a plan that shuffles falls back even when its partition count matches the map") {
    // without broadcast hints an edit burst's join is a sort-merge join
    // over 4 shuffle partitions: as many as the opened session has, but
    // hash-partitioned by __pos
    val confs = Seq("spark.sql.optimizer.disableHints" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val s = EditorSession.fromDataFrame(
        Tables.load(spark, sf, "lineitem"), orderCols)
      val n = s.rowCount
      assert(s.setCells("l_extendedprice",
        (0L until 40L).map(i => (i * (n / 40), s"${i + 1}.5"))))
      assert(s.current.queryExecution.toRdd.getNumPartitions ==
        s.positionMap.get.size, "the test needs a matching partition count")
      Seq((n / 2 - 25, n / 2 + 25), (0L, 50L), (n - 10, n + 40)).foreach {
        case (lo, hi) =>
          assert(s.page(lo, hi).collect().toSeq == reference(s.current, lo, hi),
            s"page [$lo, $hi) differs (${s.lastPageRead})")
          val read = s.lastPageRead.get
          assert(read.tier == PageRead.Filtered &&
            read.fallback.exists(_.contains("shuffles")), s"$read")
      }
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("pivot rebuilds the map from its attach; replace falls back to the filtered read") {
    val rnd = new scala.util.Random(3)
    val cat = new Catalog(spark)
    val s = cat.openFrom("li_pv", Tables.load(spark, sf, "lineitem"), orderCols)
    randomGestures(s, rnd, 4, 3)
    s.pivot("l_orderkey", "l_returnflag", "l_quantity", "sum")
    checkPages(s, "pivot", pruned = true)
    val n = s.rowCount
    assert(s.deleteRows(Seq(1L, n / 2)))
    checkPages(s, "pivot+delete", pruned = true)
    assert(s.cut(Seq(3L, 4L, n - 5)))
    assert(s.paste(n / 3))
    checkPages(s, "pivot+cut+paste", pruned = true)
    s.replace(s.current)
    checkPages(s, "replace", pruned = false)
    assert(s.undo())
    checkPages(s, "undo of replace", pruned = true)
    // SQL INSERT OVERWRITE hands its attach's map to the session
    cat.sql("INSERT OVERWRITE li_pv SELECT * FROM li_pv WHERE l_orderkey % 2 = 0")
    checkPages(s, "INSERT OVERWRITE", pruned = true)
  }
}
