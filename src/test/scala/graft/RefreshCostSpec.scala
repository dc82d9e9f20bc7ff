package graft

import org.apache.spark.sql.functions._
import graft.core.{Catalog, Positional}

/** What one durable `REFRESH TABLE` costs, pinned in Spark jobs and in
  * task input records ([[JobCounter]]). Task metrics see the pruned
  * position reads and checkpoint scans a `QueryExecutionListener` misses,
  * so a full pass over the session shows as its row count in records.
  */
class RefreshCostSpec extends SparkSpec {

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("a 1-row DELETE + REFRESH TABLE on a cube+pairs warehouse session is delta-sized") {
    val wh = java.nio.file.Files.createTempDirectory("refresh_cost").toString
    val cat = new Catalog(spark, Some(wh))
    cat.open("rcost", s"$sf/lineitem.parquet", Seq("l_orderkey", "l_linenumber"))
    val groups = Seq("l_returnflag", "l_linestatus")
    val measures = Seq("l_quantity", "l_extendedprice")
    cat.buildCubeLayout("rcost", groups, measures)
    cat.buildPairsLayout("rcost", groups, "l_suppkey")
    val s = cat.get("rcost").get
    val n = s.rowCount
    val built = cat.layoutsOf("rcost").toMap
    // the pre-image read is one partition of the plan as built, before
    // the delete shrinks the partition that held the victim
    val biggestPart = s.positionMap.get.intervals.map { case (a, b) => b - a }.max
    // a row whose (l_orderkey, l_linenumber) no other row shares
    val victim = Positional.strip(s.current)
      .groupBy("l_orderkey", "l_linenumber").count().filter(col("count") === 1)
      .orderBy("l_orderkey", "l_linenumber").head()

    val del = JobCounter(spark)(cat.sql(
      s"DELETE FROM rcost WHERE l_orderkey = ${victim.get(0)} " +
        s"AND l_linenumber = ${victim.get(1)}").collect())
    assert(s.rowCount == n - 1)
    val inc0 = cat.incrementalDigests.get
    val full0 = cat.fullDigests.get
    val ref = JobCounter(spark)(cat.sql("REFRESH TABLE rcost").collect())

    // 26 jobs (2 for the DELETE, 24 for the REFRESH) before the refresh
    // read its delta once and kept its patches local; 60% of that is 15
    assert(del.jobs + ref.jobs <= 15,
      s"DELETE ran ${del.jobs} jobs and REFRESH ${ref.jobs}")
    // one pass over the session: the cube's affected-group recompute,
    // which also answers the pairs layout's existence check. The rest is
    // the pruned pre-image read, one of the session's partitions.
    assert(ref.records <= n + biggestPart,
      s"REFRESH read ${ref.records} records over a $n-row session " +
        s"(largest partition $biggestPart rows)")
    // both layouts patched in place, their digests moved by the delta
    cat.layoutsOf("rcost").foreach { case (slot, l) =>
      val (path, patch) = l match {
        case c: Catalog.CubeLayout => (c.path, c.patch)
        case p: Catalog.PairsLayout => (p.path, p.patch)
        case other => fail(s"unexpected layout $other")
      }
      assert(patch.isDefined && path == (built(slot) match {
        case c: Catalog.CubeLayout => c.path
        case p: Catalog.PairsLayout => p.path
        case other => fail(s"unexpected layout $other")
      }), s"$slot must delta-patch, not rebuild")
    }
    assert(cat.incrementalDigests.get - inc0 == 2 && cat.fullDigests.get == full0)
    // and the routed answers stay the live ones
    val live = Positional.strip(s.current)
    val routed = cat.aggregate("rcost", groups, measures)
    assert(cat.recentRoutes.last.decision == "layout")
    assert(rows(routed) == rows(Catalog.cubeFinish(
      Catalog.cubePartials(live, groups, measures), groups, measures)))
    val distinct = cat.distinctCount("rcost", groups, "l_suppkey")
    assert(cat.recentRoutes.last.decision == "layout")
    assert(rows(distinct) == rows(live.groupBy(groups.map(col): _*)
      .agg(countDistinct("l_suppkey").as("cd_l_suppkey"))))
  }
}
