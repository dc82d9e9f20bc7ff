package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Spark jobs, and the tasks of their stages, that one block starts —
  * counted by job group, so no other activity on the shared context can
  * leak in. A marker job in a second group flushes the async listener bus
  * before counting.
  */
object JobCounter {
  final case class Counted[T](value: T, jobs: Int, tasks: Int)

  def apply[T](spark: SparkSession)(body: => T): Counted[T] = {
    val sc = spark.sparkContext
    val group = s"counted-${java.util.UUID.randomUUID()}"
    val marker = s"$group-marker"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(g => seen.add((g, e.stageInfos.map(_.numTasks).sum)))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "marker")
      try spark.range(1).count() finally sc.clearJobGroup()
      def delivered = seen.asScala.exists(_._1 == marker)
      val deadline = System.nanoTime() + 10_000_000_000L
      while (!delivered && System.nanoTime() < deadline) Thread.sleep(20)
      assert(delivered, "listener bus did not deliver the marker job")
      val mine = seen.asScala.filter(_._1 == group)
      Counted(out, mine.size, mine.map(_._2).sum)
    } finally sc.removeSparkListener(listener)
  }
}
