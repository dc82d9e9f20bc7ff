package graftbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.{EditorSession, Positional}
import graft.core.Positional.POS
import graft.ops.{CellOps, RowOps, SchemaOps}

/** The `editor` workload: one user opens `lineitem` and runs a script of
  * gestures, reading the visible page after each one, as the GUI does.
  * The script repeats a fixed order of ten operations (typed, NULL and
  * bool cell edits; delete, cut, paste, append, column insert and drop; a
  * save), at least once and then until the time is up; the seed draws the
  * positions and values. The final table is compared with the same
  * gestures replayed through `graft.ops` on a plain frame.
  */
object Editor {
  sealed trait Gesture
  final case class SetCell(pos: Long, col: String, raw: String) extends Gesture
  final case class SetNull(pos: Long, col: String) extends Gesture
  final case class SetBool(pos: Long, col: String, v: Boolean) extends Gesture
  final case class Delete(pos: Seq[Long]) extends Gesture
  final case class Cut(pos: Seq[Long]) extends Gesture
  final case class Paste(at: Long) extends Gesture
  final case class Append(rows: Seq[Row], schema: StructType) extends Gesture
  final case class InsertCol(at: Int, spec: String) extends Gesture
  final case class DropCol(at: Int) extends Gesture

  val orderCols = Seq("l_orderkey", "l_linenumber")
  val pageRows = 50

  def run(r: Run, dir: String, seconds: Double, check: Boolean): Unit = {
    val spark = r.spark
    val rnd = r.rnd
    val path = s"$dir/lineitem.parquet"
    val script = mutable.ArrayBuffer.empty[Gesture]
    var sess: EditorSession = null
    var n = 0L
    val cols = mutable.ArrayBuffer.empty[String]
    var clip = 0L
    var saves = 0

    def page(at: Long): Unit = r.span("session.page") {
      val lo = math.max(0L, at - pageRows / 2)
      sess.page(lo, lo + pageRows).collect(); ()
    }
    def pos(): Long = (rnd.nextDouble() * n).toLong

    r.op("open") {
      val df = r.span("io.read")(graft.io.Formats.read(spark, path))
      sess = r.span("positional.attach")(EditorSession.fromDataFrame(df, orderCols))
      n = r.span("session.gesture")(sess.rowCount)
      page(0)
    }
    if (sess == null) return
    cols ++= Positional.strip(sess.current).columns

    def gesture(kind: String, g: Gesture): Unit = {
      val at = g match {
        case SetCell(p, _, _) => p; case SetNull(p, _) => p; case SetBool(p, _, _) => p
        case Delete(ps) => ps.min; case Cut(ps) => ps.min; case Paste(a) => a
        case Append(_, _) => n; case _ => 0L
      }
      val ok = r.op(kind) {
        val t0 = System.nanoTime()
        val jobs0 = r.tracer.map(_.jobsNow).getOrElse(0L)
        val done = r.span("session.gesture")(g match {
          case SetCell(p, c, v) => sess.setCell(p, c, v)
          case SetNull(p, c) => sess.setNull(p, c); true
          case SetBool(p, c, v) => sess.setBool(p, c, v)
          case Delete(ps) => sess.deleteRows(ps)
          case Cut(ps) => sess.cut(ps)
          case Paste(a) => sess.paste(a)
          case Append(rows, schema) =>
            sess.appendRows(spark.createDataFrame(
              spark.sparkContext.parallelize(rows, 1), schema)) == rows.size
          case InsertCol(a, spec) => sess.insertColumnAt(a, spec); true
          case DropCol(a) => sess.dropColumnAt(a); true
        })
        r.tracer.foreach { t =>
          if (t.jobsNow > jobs0)
            r.series("session.checkpoint_ms") += (System.nanoTime() - t0) / 1e6
        }
        page(at)
        done
      }
      script += g
      ok.foreach(done => r.check(done, s"editor gesture refused: $g"))
      r.tracer.foreach { _ =>
        r.series("session.plan_nodes") +=
          sess.current.queryExecution.analyzed.collect { case p => p }.size
      }
      g match {
        case Delete(ps) => n -= ps.size
        case Cut(ps) => n -= ps.size; clip = ps.size
        case Paste(_) => n += clip
        case Append(rows, _) => n += rows.size
        case InsertCol(a, spec) => cols.insert(a, spec.split(" ")(0))
        case DropCol(a) => cols.remove(a)
        case _ =>
      }
    }

    def distinctPositions(k: Int): Seq[Long] = {
      val s = mutable.LinkedHashSet.empty[Long]
      while (s.size < k) s += pos()
      s.toSeq
    }
    def appendBatch(k: Int): Append = {
      val schema = Positional.strip(sess.current).schema
      val rows = (0 until k).map { _ =>
        Row.fromSeq(schema.fields.toSeq.map(f => f.dataType match {
          case LongType => 90000000L + rnd.nextInt(1000000)
          case IntegerType => 1 + rnd.nextInt(7)
          case DoubleType => BigDecimal(rnd.nextInt(100000), 2).toDouble
          case StringType => Seq("A", "N", "R", "O", "F")(rnd.nextInt(5))
          case BooleanType => rnd.nextBoolean()
          case TimestampType => java.sql.Timestamp.valueOf(
            f"199${rnd.nextInt(8)}-0${1 + rnd.nextInt(9)}-1${rnd.nextInt(9)} 00:00:00")
          case _ => null
        }))
      }
      Append(rows, schema)
    }

    gesture("row_edit", InsertCol(1 + rnd.nextInt(cols.size), "flag bool"))
    def save(): Unit = {
      saves += 1
      val out = s"${r.cfg.runDir}/editor_save_$saves.parquet"
      r.op("save")(r.span("io.save")(sess.save(out))).foreach { _ =>
        val f = new java.io.File(out)
        r.series("io.bytes_written") += f.length.toDouble
        if (check) r.verify(s"saved file holds $n rows") {
          spark.read.parquet(out).count() == n }
        f.delete()
      }
    }
    var tmpCol = 0
    val sequence: Seq[() => Unit] = Seq(
      () => gesture("cell_edit", SetCell(pos(), "l_quantity", s"${1 + rnd.nextInt(50)}.0")),
      () => gesture("row_edit", Delete(distinctPositions(2))),
      () => gesture("row_edit", Cut(distinctPositions(3))),
      () => gesture("row_edit", Paste(pos())),
      () => gesture("cell_edit", SetNull(pos(), "l_tax")),
      () => gesture("row_edit", appendBatch(3)),
      () => gesture("cell_edit", SetBool(pos(), "flag", rnd.nextBoolean())),
      () => { tmpCol = rnd.nextInt(cols.size + 1)
        gesture("row_edit", InsertCol(tmpCol, s"tmp${script.size} double")) },
      () => gesture("row_edit", DropCol(tmpCol)),
      () => save())
    r.loop(seconds, sequence.size)(i => sequence(i % sequence.size)())

    if (check) r.verify("editor final table equals the graft.ops replay") {
      val want = replay(spark, path, script.toSeq)
      val got = sess.current
      got.columns.toSet == want.columns.toSet &&
        digest(got, want.columns.toSeq) == digest(want, want.columns.toSeq)
    }
  }

  /** Row count plus an order-sensitive checksum: every row hashed with its
    * position, folded with XOR.
    */
  def digest(df: DataFrame, columns: Seq[String]): (Long, Long) = {
    val h = xxhash64(columns.map(col): _*)
    val row = df.agg(count(lit(1)), bit_xor(h)).head()
    (row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1))
  }

  /** The script replayed through `graft.ops` on a plain frame whose
    * positions come from a window over the sort keys.
    */
  def replay(spark: SparkSession, path: String, script: Seq[Gesture]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    var df = spark.read.parquet(path).withColumn(POS,
      row_number().over(Window.orderBy(orderCols.map(col): _*)).cast("long") - 1L)
    var n = df.count()
    var clip: Option[(DataFrame, Long)] = None
    script.zipWithIndex.foreach { case (g, i) =>
      df = g match {
        case SetCell(p, c, v) => CellOps.setCell(df, p, c, v).get
        case SetNull(p, c) =>
          val dt = df.schema(c).dataType
          df.withColumn(c, when(col(POS) === p, lit(null).cast(dt)).otherwise(col(c)))
        case SetBool(p, c, v) => CellOps.setBool(df, p, c, v)
        case Delete(ps) => n -= ps.size; RowOps.deleteRows(df, ps)
        case Cut(ps) =>
          val (c, rest) = RowOps.cutRows(df, ps)
          clip = Some((c, ps.size.toLong)); n -= ps.size; rest
        case Paste(a) =>
          val (c, k) = clip.get
          val out = RowOps.pasteRows(df, c, math.min(a, n), Some(k)); n += k; out
        case Append(rows, schema) =>
          val add = spark.createDataFrame(spark.sparkContext.parallelize(
            rows.zipWithIndex.map { case (r, j) => Row.fromSeq(r.toSeq :+ (n + j)) }, 1),
            schema.add(POS, LongType))
          n += rows.size
          df.unionByName(add)
        case InsertCol(a, spec) =>
          val (name, dt) = CellOps.parseNameDtype(spec)
          SchemaOps.insertColumnAt(df, a, name, dt)
        case DropCol(a) => SchemaOps.dropColumnAt(df, a)
      }
      if (i % 8 == 7) df = df.localCheckpoint(eager = true)
    }
    df
  }
}
