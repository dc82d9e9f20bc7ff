package graft

import java.io.File
import java.nio.file.Files

/** [[Probe]]'s two subcommands, driven through the functions its main
  * calls: plan captures land under `<root>/<tag>/`, unknown names fail
  * with the valid ones listed, and `scale paths:<q>` keeps the
  * `scale_paths` JSON line's keys.
  */
class ProbeSpec extends SparkSpec {

  test("plans writes formatted physical plans under <root>/<tag>/") {
    val root = Files.createTempDirectory("probe_plans_").toFile
    val files = Probe.plans(spark, sf, "t1",
      Seq("s1_scan_count", "d_incr_lsh"), root)
    assert(files.map(_.getName).toSet ==
      Set("s1_scan_count_t1.txt", "d_incr_lsh_t1.txt"))
    files.foreach { f =>
      assert(f.getParentFile == new File(root, "t1"))
      val text = new String(Files.readAllBytes(f.toPath), "UTF-8")
      assert(text.contains("== Physical Plan =="), text)
    }
  }

  test("unknown plan or scale names fail and list the valid names") {
    val root = Files.createTempDirectory("probe_plans_").toFile
    val e1 = intercept[IllegalArgumentException](
      Probe.plans(spark, sf, "t2", Seq("s1_scan_count", "no_such_plan"), root))
    assert(e1.getMessage.contains("no_such_plan"))
    assert(Probe.planNames.forall(e1.getMessage.contains), e1.getMessage)
    assert(!new File(root, "t2").exists(), "nothing is written on a bad name")
    val e2 = intercept[IllegalArgumentException](
      Probe.scale(spark, sf, "ingest,no_such_scale"))
    assert(e2.getMessage.contains("no_such_scale"))
    assert(Probe.scaleNames.forall(e2.getMessage.contains), e2.getMessage)
    val e3 = intercept[IllegalArgumentException](
      Probe.scale(spark, sf, "paths:d_incr_lsh,no_such_query"))
    assert(e3.getMessage.contains("no_such_query"), e3.getMessage)
  }

  test("scale paths:d_incr_lsh prints the scale_paths JSON line") {
    import spark.implicits._
    val lines = Probe.scale(spark, sf, "paths:d_incr_lsh")
    assert(lines.size == 1)
    val row = spark.read.json(Seq(lines.head).toDS()).head()
    assert(row.schema.fieldNames.toSet ==
      Set("metric", "value", "unit", "queries", "rows", "failed", "sf"))
    assert(row.getAs[String]("metric") == "scale_paths")
    assert(row.getAs[String]("sf") == sf)
    assert(row.getAs[Long]("failed") == 0L)
    assert(row.getAs[org.apache.spark.sql.Row]("queries")
      .schema.fieldNames.toSeq == Seq("d_incr_lsh"))
    assert(row.getAs[org.apache.spark.sql.Row]("rows")
      .getAs[Long]("d_incr_lsh") >= 0L)
  }
}
