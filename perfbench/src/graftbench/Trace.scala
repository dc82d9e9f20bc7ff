package graftbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer, recorded from the benchmark's side of the
  * call. `op` is the id of the client operation that caused it.
  */
final case class Span(id: Int, name: String, start: Long, end: Long,
                      parent: Int, op: Int) {
  def ms: Double = (end - start) / 1e6
}

/** Spark work attributed to one client operation: jobs, stages and tasks
  * from a benchmark-registered [[SparkListener]], planning phases from
  * each executed query's `QueryExecution.tracker`, rows scanned and bytes
  * shuffled from the engine's own `graft.core.Metrics` listener.
  */
final class SparkWork {
  var jobs = 0L; var stages = 0L; var tasks = 0L; var taskMs = 0L
  var scanRows = 0L; var shuffleBytes = 0L
  var analysisMs = 0L; var optimizerMs = 0L; var planningMs = 0L
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  private[graftbench] val openJobs = mutable.HashMap.empty[Int, Long]

  /** Milliseconds of [t0, t1] during which at least one job was running. */
  def jobActiveMs(t0: Long, t1: Long): Long = {
    val iv = jobSpans.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L; var curA = -1L; var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}

/** In-memory spans and per-operation Spark attribution for the traced run.
  * Nothing is registered unless tracing is on, so an untraced run pays no
  * listener cost. Spans are written out when the run ends.
  */
final class Tracer(spark: SparkSession) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var opId = 0
  @volatile private var work: SparkWork = null
  private val metrics = graft.core.Metrics.install(spark, keep = 4096)

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val w = work
      if (w != null) w.synchronized { w.jobs += 1; w.openJobs(e.jobId) = e.time }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val w = work
      if (w != null) w.synchronized {
        w.openJobs.remove(e.jobId).foreach(t0 => w.jobSpans += ((t0, e.time)))
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val w = work
      if (w != null) w.synchronized { w.stages += 1 }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val w = work
      if (w != null && e.taskMetrics != null) w.synchronized {
        w.tasks += 1; w.taskMs += e.taskMetrics.executorRunTime
      }
    }
  }
  private val planListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      val w = work
      if (w != null) w.synchronized {
        val ph = qe.tracker.phases
        def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
        w.analysisMs += ms("analysis"); w.optimizerMs += ms("optimization")
        w.planningMs += ms("planning")
      }
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }
  spark.sparkContext.addSparkListener(jobListener)
  spark.listenerManager.register(planListener)

  private def drain(): Unit =
    org.apache.spark.BenchBus.drain(spark.sparkContext)

  /** Jobs started so far by the running operation (drains the bus). */
  def jobsNow: Long = { drain(); val w = work; if (w == null) 0L else w.jobs }

  /** Runs one client operation with Spark attribution on; returns its
    * result, the Spark work it caused and its wall span in epoch ms.
    */
  def op[A](name: String)(body: => A): (A, SparkWork, Long, Long) = {
    drain(); metrics.clear()
    opId += 1
    val w = new SparkWork
    work = w
    val t0 = System.currentTimeMillis()
    val r = try span(s"op.$name")(body) finally { drain() }
    val t1 = System.currentTimeMillis()
    work = null
    metrics.recent.foreach { q =>
      w.scanRows += q.scanRows; w.shuffleBytes += q.shuffleBytes }
    (r, w, t0, t1)
  }

  def span[A](name: String)(body: => A): A = {
    val id = spans.size
    val parent = if (stack.isEmpty) -1 else stack.top
    val t0 = System.nanoTime()
    spans += Span(id, name, t0, t0, parent, opId)
    stack.push(id)
    try body finally {
      stack.pop()
      spans(id) = spans(id).copy(end = System.nanoTime())
    }
  }

  /** Span self time: its duration minus the part its children cover. */
  def selfMs: Map[Int, Double] = {
    val child = mutable.HashMap.empty[Int, Double].withDefaultValue(0.0)
    spans.foreach(s => if (s.parent >= 0) child(s.parent) += s.ms)
    spans.map(s => s.id -> (s.ms - child(s.id))).toMap
  }

  def writeJsonl(path: String): Unit = {
    val sb = new StringBuilder
    spans.foreach { s =>
      sb ++= s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.start},""" +
        s""""end_ns":${s.end},"parent":${s.parent},"op":${s.op}}""" + "\n"
    }
    Data.writeText(path, sb.toString)
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(jobListener)
    spark.listenerManager.unregister(planListener)
    spark.listenerManager.unregister(metrics)
  }
}
