package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.{Catalog, Tables}
import graft.streaming.EventStreams

/** Streaming ingestion into a catalog session
  * ([[EventStreams.appendMaintain]] over
  * [[graft.core.EditorSession.appendRows]]): micro-batches APPEND rows
  * to the session and every layout delta-patches per batch — the
  * CDC/append loop of a training-data pipeline.
  *
  * Laws pinned here:
  *  - appended rows land at the table tail, position-stamped in batch
  *    order; rowCount and every routed read serve original ∪ batches;
  *  - layouts PATCH, never rebuild: the stored base dirs are unchanged
  *    and the patch legs carry exactly the appended rows' groups;
  *  - the maintained answers equal a one-shot batch build over the full
  *    data — cube re-merge, pairs re-distinct, and histogram-served
  *    order statistics alike;
  *  - schema discipline: a mismatched batch is a typed error, session
  *    state unchanged.
  */
class StreamingIngestSpec extends SparkSpec {

  private def writeSlices(df: DataFrame, parts: Int): (DataFrame, String) = {
    // head slice opens the session; the rest arrive as stream batches
    val scratch = java.nio.file.Files
      .createTempDirectory("st_ingest_spec_").toString
    val head = df.filter(pmod(col("l_orderkey"), lit(parts)) === 0)
    val headPath = s"$scratch/head"
    head.coalesce(1).write.parquet(headPath)
    val src = s"$scratch/feed"
    (1 until parts).foreach { i =>
      df.filter(pmod(col("l_orderkey"), lit(parts)) === i)
        .coalesce(1).write.mode("append").parquet(src)
      Thread.sleep(20) // distinct mtimes → deterministic arrival order
    }
    (spark.read.parquet(headPath), src)
  }

  test("streamed appends delta-patch every layout; answers equal the one-shot build") {
    val full = Tables.load(spark, sf, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_returnflag",
        "l_linestatus", "l_quantity")
    val (head, feed) = writeSlices(full, parts = 3)

    val cat = new Catalog(spark)
    cat.openFrom("ing", head, Seq("l_orderkey", "l_linenumber"))
    cat.buildCubeLayout("ing", Seq("l_returnflag", "l_linestatus"),
      Seq("l_quantity"))
    cat.buildPairsLayout("ing", Seq("l_returnflag"), "l_partkey")
    cat.buildCubeLayout("ing", Seq("l_returnflag", "l_quantity"), Nil)
    val pathsBefore = cat.layoutsOf("ing").collect {
      case (slot, l: Catalog.CubeLayout) => slot -> l.path
      case (slot, l: Catalog.PairsLayout) => slot -> l.path
    }.toMap
    val headRows = head.count()

    val ingested = EventStreams.appendMaintain(spark, feed, cat, "ing",
      "st_ingest_spec")
    assert(ingested == full.count() - headRows,
      "every feed row must ingest exactly once")
    assert(cat.get("ing").get.rowCount == full.count())

    // layouts PATCHED in place: same stored dirs, delta legs attached
    val after = cat.layoutsOf("ing").collect {
      case (slot, l: Catalog.CubeLayout) => (slot, l.path, l.patch)
      case (slot, l: Catalog.PairsLayout) => (slot, l.path, l.patch)
    }
    after.foreach { case (slot, path, patch) =>
      assert(path == pathsBefore(slot),
        s"$slot must delta-patch, never rebuild, on streamed appends")
      assert(patch.isDefined, s"$slot must carry the appended rows' patch")
    }

    // routed answers = one-shot batch build over original ∪ batches
    val agg = cat.aggregate("ing", Seq("l_returnflag"), Seq("l_quantity"))
      .orderBy("l_returnflag").collect().map(_.toSeq).toSeq
    assert(cat.recentRoutes.last.reason == "routed")
    val directAgg = full.groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(round(col("l_quantity"), 6).cast("decimal(38,6)"))
          .cast("double").as("sum_l_quantity"),
        (sum(round(col("l_quantity"), 6).cast("decimal(38,6)"))
          .cast("double") / count(col("l_quantity"))).as("avg_l_quantity"),
        min(col("l_quantity")).as("min_l_quantity"),
        max(col("l_quantity")).as("max_l_quantity"))
      .orderBy("l_returnflag").collect().map(_.toSeq).toSeq
    assert(agg == directAgg,
      "the patched cube must serve the full ingested corpus")

    val cd = cat.distinctCount("ing", Seq("l_returnflag"), "l_partkey")
      .orderBy("l_returnflag").collect().map(_.toSeq).toSeq
    assert(cd == full.groupBy("l_returnflag")
      .agg(count_distinct(col("l_partkey")).as("nd_l_partkey"))
      .orderBy("l_returnflag").collect().map(_.toSeq).toSeq,
      "the patched pairs must re-distinct the full ingested corpus")

    val qs = cat.quantiles("ing", Seq("l_returnflag"), "l_quantity",
      Seq("med" -> 0.5)).orderBy("l_returnflag")
      .collect().map(_.toSeq).toSeq
    assert(qs == graft.operators.RankStats.exactPercentiles(full,
        col("l_quantity"), Seq("l_returnflag"), Seq("med" -> 0.5))
      .orderBy("l_returnflag").collect().map(_.toSeq).toSeq,
      "histogram-served order statistics must include the appends")

    // schema discipline: wrong columns refuse, state unchanged
    val before = cat.get("ing").get.rowCount
    intercept[IllegalArgumentException] {
      cat.get("ing").get.appendRows(full.drop("l_partkey"))
    }
    intercept[IllegalArgumentException] {
      cat.get("ing").get.appendRows(
        full.withColumn("l_partkey", col("l_partkey").cast("string")))
    }
    assert(cat.get("ing").get.rowCount == before)
  }

  test("a MATERIALIZED VIEW over a stream-ingested session serves post-batch state from the patched cube (r13)") {
    val full = Tables.load(spark, sf, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
    val (head, feed) = writeSlices(full, parts = 2)
    val cat = new Catalog(spark)
    cat.openFrom("ingmv", head, Seq("l_orderkey", "l_linenumber"))
    // the mv CREATE infers and builds the cube the stream will maintain
    cat.sql(
      """CREATE MATERIALIZED VIEW ingv AS
        |SELECT l_returnflag, count(*) AS n,
        |  CAST(sum(CAST(round(l_quantity, 6) AS DECIMAL(38,6)))
        |    AS DOUBLE) AS qty
        |FROM ingmv GROUP BY l_returnflag""".stripMargin)
    val pathBefore = cat.layoutsOf("ingmv").collectFirst {
      case (_, c: Catalog.CubeLayout) => c.path
    }.get
    EventStreams.appendMaintain(spark, feed, cat, "ingmv", "st_ingest_mv")
    // the mv read serves the FULL ingested corpus from the PATCHED cube
    val read = cat.sql("SELECT * FROM ingv ORDER BY l_returnflag")
    val p = read.queryExecution.executedPlan.toString
    assert(p.contains("catalog_cube_") && !p.contains("l_orderkey"),
      s"the mv over a streamed session must serve stored partials; plan:\n$p")
    assert(cat.layoutsOf("ingmv").collectFirst {
      case (_, c: Catalog.CubeLayout) => c.path
    }.get == pathBefore, "streamed appends must patch the mv's cube, " +
      "never rebuild it")
    val want = full.groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(round(col("l_quantity"), 6).cast("decimal(38,6)"))
          .cast("double").as("qty"))
      .orderBy("l_returnflag").collect().map(_.toSeq).toSeq
    assert(read.collect().map(_.toSeq).toSeq == want,
      "the mv must serve the post-ingest answer")
  }

  test("a JOIN mv over a stream-ingested fact serves post-batch state via eager aggregation (r14)") {
    val full = Tables.load(spark, sf, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_suppkey", "l_quantity")
    val (head, feed) = writeSlices(full, parts = 2)
    val cat = new Catalog(spark)
    cat.openFrom("ingjf", head, Seq("l_orderkey", "l_linenumber"))
    cat.open("ingjd", s"$sf/supplier.parquet", orderCols = Seq("s_suppkey"))
    // the join-mv CREATE infers the fact cube keyed by the join key —
    // the cube the stream will then maintain
    cat.sql(
      """CREATE MATERIALIZED VIEW ingjv AS
        |SELECT s_name, count(*) AS n,
        |  CAST(sum(CAST(round(l_quantity, 6) AS DECIMAL(38,6)))
        |    AS DOUBLE) AS qty
        |FROM ingjf JOIN ingjd ON l_suppkey = s_suppkey
        |GROUP BY s_name""".stripMargin)
    val pathBefore = cat.layoutsOf("ingjf").collectFirst {
      case (_, c: Catalog.CubeLayout) => c.path
    }.get
    EventStreams.appendMaintain(spark, feed, cat, "ingjf", "st_ingest_jmv")
    val read = cat.sql("SELECT * FROM ingjv ORDER BY s_name")
    val p = read.queryExecution.executedPlan.toString
    assert(p.contains("catalog_cube_") && !p.contains("l_orderkey"),
      s"the join mv over a streamed fact must serve via eager " +
        s"aggregation; plan:\n$p")
    assert(cat.layoutsOf("ingjf").collectFirst {
      case (_, c: Catalog.CubeLayout) => c.path
    }.get == pathBefore,
      "streamed appends must patch the join-mv's cube, never rebuild it")
    val want = full
      .join(Tables.load(spark, sf, "supplier"),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy("s_name")
      .agg(count(lit(1)).as("n"),
        sum(round(col("l_quantity"), 6).cast("decimal(38,6)"))
          .cast("double").as("qty"))
      .orderBy("s_name").collect().map(_.toSeq).toSeq
    assert(read.collect().map(_.toSeq).toSeq == want,
      "the join mv must serve the post-ingest answer")
  }

  test("streamed document appends delta-patch the LSH index; probes see the new docs") {
    val corpus = Tables.load(spark, sf, "documents").select("doc_id", "text")
    // known 3-gram near-dup pairs of the sf0.001 fixture, one side each:
    // append one side of each pair, probe with the other — the probe
    // docs' nearest duplicates are then among the APPENDED docs
    val feedIds = Seq(425L, 450L, 459L, 467L, 487L, 498L)
    val probeIds = Seq(5L, 45L, 77L, 110L, 119L, 474L)
    val head = corpus.filter(!col("doc_id").isInCollection(
      feedIds ++ probeIds))
    val feedRows = corpus.filter(col("doc_id").isInCollection(feedIds))
    val probe = corpus.filter(col("doc_id").isInCollection(probeIds))
    val scratch = java.nio.file.Files
      .createTempDirectory("st_lsh_ingest_").toString
    feedRows.coalesce(1).write.parquet(s"$scratch/feed")

    val cat = new Catalog(spark)
    cat.openFrom("lshing", head, Seq("doc_id"))
    cat.buildLshLayout("lshing", "doc_id", "text", n = 3,
      numHashes = 128, bands = 64)
    val n = EventStreams.appendMaintain(spark, s"$scratch/feed", cat,
      "lshing", "st_lsh_ingest")
    assert(n == feedRows.count())
    val l = cat.layoutsOf("lshing").collectFirst {
      case (_, x: Catalog.LshIndexLayout) => x
    }.get
    assert(l.patch.isDefined,
      "appended docs must delta-patch the stored index, not rebuild it")

    // the routed probe against the patched index must equal a live
    // index built over the FULL corpus (head ∪ appends) — the appended
    // docs are findable without ever re-shingling the corpus
    val served = cat.nearDups("lshing", probe, "doc_id", "text",
      threshold = 0.4, n = 3, numHashes = 128, bands = 64)
    assert(cat.recentRoutes.last.reason == "routed")
    val fullCorpus = head.unionByName(feedRows)
    val expected = graft.operators.Dedup.incrementalLshMatches(
      graft.operators.Dedup.lshIndex(fullCorpus, "doc_id", "text", 3,
        128, 64),
      probe, "doc_id", "text", 3, 0.4, 128, 64)
    assert(served.collect().map(_.toSeq).toSet ==
      expected.collect().map(_.toSeq).toSet,
      "the patched index must serve exactly the full-corpus pairs")
    assert(served.join(feedRows,
        served("corpus_id") === feedRows("doc_id"), "left_semi")
      .count() > 0,
      "at least one probe match must land on an APPENDED doc " +
        "(otherwise this test proves nothing)")
  }

  test("streamed embedding appends delta-patch the PQ codes; routed topK finds the new vectors") {
    val emb = Tables.load(spark, sf, "embeddings")
      .select("vec_id", "embedding")
    val head = emb.filter(col("vec_id") % 5 =!= 0)
    val feedRows = emb.filter(col("vec_id") % 5 === 0)
    val scratch = java.nio.file.Files
      .createTempDirectory("st_ann_ingest_").toString
    feedRows.coalesce(1).write.parquet(s"$scratch/feed")

    val cat = new Catalog(spark)
    cat.openFrom("annng", head, Seq("vec_id"))
    cat.buildPqLayout("annng", "vec_id", "embedding")
    assert(EventStreams.appendMaintain(spark, s"$scratch/feed", cat,
      "annng", "st_ann_ingest") == feedRows.count())
    val l = cat.layoutsOf("annng").collectFirst {
      case (_, x: Catalog.PqCodesLayout) => x
    }.get
    assert(l.patch.isDefined,
      "appended vectors must delta-encode into the stored codes")

    // query WITH an appended vector: the routed search must surface it
    // (a vector is its own nearest neighbor under any sane quantizer)
    val q = feedRows.filter(col("vec_id") === 100L).head()
      .getAs[scala.collection.Seq[Float]]("embedding").toSeq
    val served = cat.topK("annng", "vec_id", "embedding", q, 5)
    assert(cat.recentRoutes.last.reason == "routed")
    assert(served.collect().map(_.getLong(0)).contains(100L),
      "the appended vector must be findable through the patched codes")
  }

  test("streamed event appends delta-patch the 3-D z-ordered box; routed scans see them") {
    val ev = Tables.loadEvents(spark, sf)
      .select("event_id", "user_id", "event_type", "ts", "value")
    val scratch = java.nio.file.Files
      .createTempDirectory("st_ingest_z3_").toString
    val head = ev.filter(pmod(col("event_id"), lit(3)) === 0)
    head.coalesce(1).write.parquet(s"$scratch/head")
    (1 until 3).foreach { i =>
      ev.filter(pmod(col("event_id"), lit(3)) === i)
        .coalesce(1).write.mode("append").parquet(s"$scratch/feed")
      Thread.sleep(20)
    }
    val cat = new Catalog(spark)
    cat.openFrom("ingz3", spark.read.parquet(s"$scratch/head"),
      Seq("event_id"))
    cat.buildZOrderedLayout("ingz3", Seq("ts", "user_id", "value"),
      files = 8, idCol = Some("event_id"))
    val built = cat.layoutsOf("ingz3").collectFirst {
      case (_, z: Catalog.ClusteredLayout) => z
    }.get
    val n = EventStreams.appendMaintain(spark, s"$scratch/feed", cat,
      "ingz3", "st_ingest_z3")
    assert(n == ev.count() - head.count())
    val after = cat.layoutsOf("ingz3").collectFirst {
      case (_, z: Catalog.ClusteredLayout) => z
    }.get
    assert(after.path == built.path && after.patch.isDefined,
      "streamed appends must delta-patch the 3-D layout, never rebuild")
    val box = Seq[(String, Any, Any)](
      ("ts", java.sql.Timestamp.from(
        java.time.Instant.parse("2024-01-10T00:00:00Z")),
        java.sql.Timestamp.from(
          java.time.Instant.parse("2024-01-20T00:00:00Z"))),
      ("user_id", 2L, 9L), ("value", 10.0, 60.0))
    val got = cat.rangeScanBox("ingz3", box)
    assert(cat.recentRoutes.last.reason == "routed")
    assert(got.orderBy("event_id").collect().map(_.toSeq).toSeq ==
      box.foldLeft(ev) { case (d, (c, lo, hi)) =>
        d.filter(col(c) >= lit(lo) && col(c) <= lit(hi))
      }.orderBy("event_id").collect().map(_.toSeq).toSeq,
      "the patched 3-D box must serve the full ingested stream")
  }
}
