package graftbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Row, SparkSession}

final case class Cfg(workload: String, seed: Long, seconds: Int, trace: Boolean,
                     dataDir: String, smallDir: String, runDir: String,
                     traceDir: String, cores: Int)

/** The closed loop's bookkeeping: one client thread runs operations back
  * to back; each is timed, counted as attempted, and counted as failed when
  * it throws or its output check fails. Checks, heap sampling and the
  * building of client-side inputs run between operations, off the clock.
  */
final class Run(val spark: SparkSession, val cfg: Cfg,
                val tracer: Option[Tracer]) {
  val latencies = mutable.ArrayBuffer.empty[(String, Double)]
  var attempted = 0L
  var failed = 0L
  private var measuredNs = 0L
  /** Traced operations: kind, Spark work, and driver-only time (wall time
    * with no job running), in ms.
    */
  val work = mutable.ArrayBuffer.empty[(String, SparkWork, Double)]
  val counters = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
  /** Per-workload figures beside the per-operation latencies. */
  val seriesMap = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  def series(k: String): mutable.ArrayBuffer[Double] =
    seriesMap.getOrElseUpdate(k, mutable.ArrayBuffer.empty[Double])
  val rnd = new scala.util.Random(cfg.seed)

  def measuredS: Double = measuredNs / 1e9

  /** One client operation of kind `kind` that produces `units` checked
    * answers; None when it threw.
    */
  def op[A](kind: String, units: Int = 1)(body: => A): Option[A] = {
    attempted += units
    val t0 = System.nanoTime()
    val res = try {
      tracer match {
        case None => Right(body)
        case Some(t) =>
          val (r, w, a, b) = t.op(kind)(body)
          work += ((kind, w, ((b - a) - w.jobActiveMs(a, b)).toDouble))
          Right(r)
      }
    } catch { case e: Throwable => Left(e) }
    val ns = System.nanoTime() - t0
    measuredNs += ns
    res match {
      case Right(r) => latencies += ((kind, ns / 1e6)); Some(r)
      case Left(e) =>
        failed += units
        System.err.println(s"[perfbench] $kind failed: $e")
        None
    }
  }

  /** A wrong output of an operation that already counted as attempted. */
  def check(ok: Boolean, what: => String): Unit =
    if (!ok) { failed += 1; System.err.println(s"[perfbench] WRONG: $what") }

  /** Checks run after the operation, off the clock; a check that throws
    * counts as a wrong output.
    */
  def verify(what: => String)(ok: => Boolean): Unit =
    check(try ok catch { case e: Throwable =>
      System.err.println(s"[perfbench] check threw: $e"); false }, what)

  def span[A](name: String)(body: => A): A = tracer match {
    case None => body
    case Some(t) => t.span(name)(body)
  }

  def count(name: String, v: Double): Unit = counters(name) += v

  // ---- heap and GC -------------------------------------------------------
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private def gcMs: Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum
  private var forcedGcMs = 0L
  private var lastHeapSampleNs = 0L
  var heapPeakMb = 0.0

  /** Live heap: used heap right after a full collection. The second
    * collection runs after Spark's cleaner has dropped the blocks of
    * datasets the first one found unreachable.
    */
  def sampleHeap(): Unit = {
    val g0 = gcMs
    System.gc(); Thread.sleep(200); System.gc()
    forcedGcMs += gcMs - g0
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    heapPeakMb = math.max(heapPeakMb, used / 1048576.0)
    lastHeapSampleNs = measuredNs
  }

  /** Runs steps (one client operation each) until the operations' own
    * time reaches `seconds` and at least `minSteps` have run.
    */
  def loop(seconds: Double, minSteps: Int)(step: Int => Unit): Unit = {
    val g0 = gcMs
    forcedGcMs = 0L
    var i = 0
    while (measuredS < seconds || i < minSteps) {
      step(i)
      i += 1
      if (measuredNs - lastHeapSampleNs > 4000000000L) sampleHeap()
    }
    sampleHeap()
    counters("jvm.gc_ms_total") = (gcMs - g0 - forcedGcMs).toDouble
    counters("steps") = i.toDouble
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted; val m = s.size / 2
      if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }
}

/** Canonical forms of query results, for comparing an engine answer with
  * an answer reached another way. Doubles compare at two decimals: every
  * checked double is a sum or interpolation of two-decimal inputs, so the
  * tiny differences a different summation order makes never reach them.
  */
object Canon {
  def value(v: Any): String = v match {
    case null => "NULL"
    case d: Double => java.math.BigDecimal.valueOf(d)
      .setScale(2, java.math.RoundingMode.HALF_UP).toPlainString
    case f: Float => value(f.toDouble)
    case d: java.math.BigDecimal => value(d.doubleValue)
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case r: Row => row(r)
    case other => other.toString
  }
  def row(r: Row): String = r.toSeq.map(value).mkString("|")

  /** Order-insensitive digest of a set of canonical lines. */
  def digest(lines: Iterable[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(lines.toSeq.sorted.mkString("\n").getBytes("UTF-8"))
    md.digest().take(12).map(b => f"${b & 0xff}%02x").mkString
  }
}
