package graft

import org.apache.spark.sql.functions._
import graft.core.{Catalog, EditorSession, Tables}
import graft.operators.Similarity

/** Layout-aware routing through the session catalog (the r8 "query
  * library → engine" step): high-level entry points (`catalog.topK`,
  * `catalog.join`) must pick a stored at-rest layout when a valid one
  * exists and transparently fall back to the live session plan the moment
  * the session mutates — chosen by the CATALOG, never by the caller.
  * Plan-shape pins prove routing actually changed the physical plan (no
  * re-encode / no exchange), not just the answer.
  */
class CatalogRoutingSpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def countOf(hay: String, needle: String): Int =
    needle.r.findAllMatchIn(hay).size

  /** Stats-based auto-broadcast off: the tiny fixture would otherwise
    * broadcast everything and mask the bucketing claim (the
    * PlanShapeSpec discipline — pin the plan that holds at 100 TB).
    */
  private def withoutAutoBroadcast[A](f: => A): A = {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try f finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  private def queryVec(): Seq[Float] =
    Tables.load(spark, sf, "embeddings")
      .filter(col("vec_id") === 0L)
      .head().getAs[scala.collection.Seq[Float]]("embedding").toSeq

  test("catalog.topK routes through stored PQ codes: no re-encode, no raw vector in the plan") {
    val cat = new Catalog(spark)
    cat.open("emb", s"$sf/embeddings.parquet", orderCols = Seq("vec_id"))
    cat.buildPqLayout("emb", "vec_id", "embedding")
    val routed = cat.topK("emb", "vec_id", "embedding", queryVec(), k = 5)
    val p = plan(routed)
    // the search scans the codes parquet — the raw vector column never
    // appears, so there is no per-query corpus re-encode
    assert(!p.contains("embedding"),
      s"routed top-k must not touch raw vectors; plan:\n$p")
    assert(p.contains("codes"),
      s"routed top-k must scan the stored codes layout; plan:\n$p")
    // and it is the same answer the explicit layout path gives
    val base = Tables.load(spark, sf, "embeddings")
    val seeds = Similarity.pqCodebook(base, "vec_id", "embedding")
    val expect = Similarity.pqTopKFromCodes(
      Similarity.pqCodes(base, "vec_id", "embedding", seeds), seeds,
      queryVec(), k = 5).collect().map(_.toSeq)
    assert(routed.collect().map(_.toSeq).toSeq == expect.toSeq)
  }

  test("an edit invalidates the ANN layout: topK falls back to the live plan") {
    val cat = new Catalog(spark)
    cat.open("emb2", s"$sf/embeddings.parquet", orderCols = Seq("vec_id"))
    cat.buildPqLayout("emb2", "vec_id", "embedding")
    assert(!plan(cat.topK("emb2", "vec_id", "embedding", queryVec(), 5))
      .contains("embedding"))
    // mutate the session: the stored codes are now stale
    assert(cat.get("emb2").get.setCell(0L, "vec_id", "999999"))
    val p = plan(cat.topK("emb2", "vec_id", "embedding", queryVec(), 5))
    assert(p.contains("embedding"),
      s"stale layout must be bypassed for the live plan; plan:\n$p")
    // the maintenance gesture rebuilds every stale slot at the current
    // epoch (no build parameters re-stated) and routing resumes
    assert(cat.refreshStale("emb2") == Seq("ann:embedding"))
    assert(!plan(cat.topK("emb2", "vec_id", "embedding", queryVec(), 5))
      .contains("embedding"))
    assert(cat.refreshStale("emb2").isEmpty) // nothing left stale
  }

  test("catalog.topK routes through an IVF-PQ cell layout: partition-pruned, no raw vectors") {
    val cat = new Catalog(spark)
    cat.open("emb_ivf", s"$sf/embeddings.parquet", orderCols = Seq("vec_id"))
    cat.buildIvfPqLayout("emb_ivf", "vec_id", "embedding")
    val routed = cat.topK("emb_ivf", "vec_id", "embedding", queryVec(), 5)
    val p = plan(routed)
    assert(!p.contains("embedding"),
      s"routed IVF-PQ search must not touch raw vectors; plan:\n$p")
    // the coarse probe is a plan-time partition filter on the cell column
    assert(p.contains("__ivf_cid"),
      s"probe must prune cell partitions at plan time; plan:\n$p")
    // last build wins on the ann slot: registering PQ over the same
    // session re-routes to flat codes (no cell column in the plan)
    cat.buildPqLayout("emb_ivf", "vec_id", "embedding")
    val p2 = plan(cat.topK("emb_ivf", "vec_id", "embedding", queryVec(), 5))
    assert(!p2.contains("__ivf_cid") && !p2.contains("embedding"))
    // layout census reports the registered slot
    assert(cat.layoutsOf("emb_ivf").map(_._1) == Seq("ann:embedding"))
  }

  test("catalog.join routes through matching bucketed layouts: zero exchange") {
    val cat = new Catalog(spark)
    cat.open("ordtab", s"$sf/orders.parquet", orderCols = Seq("o_orderkey"))
    cat.open("litab", s"$sf/lineitem.parquet",
      orderCols = Seq("l_orderkey", "l_linenumber"))
    cat.buildBucketedLayout("ordtab", "o_orderkey", 8)
    cat.buildBucketedLayout("litab", "l_orderkey", 8)
    withoutAutoBroadcast {
      val routed = cat.join("litab", "l_orderkey", "ordtab", "o_orderkey")
      val p = plan(routed)
      assert(!p.contains("Exchange"),
        s"bucket-co-located join must not shuffle; plan:\n$p")
      // same answer as the live-plan join
      val live = Tables.load(spark, sf, "lineitem")
        .join(Tables.load(spark, sf, "orders"),
          col("l_orderkey") === col("o_orderkey"))
      assert(routed.count() == live.count())
    }
  }

  test("catalog.rangeScan routes through the ranged layout: files pruned, exact answer") {
    val cat = new Catalog(spark)
    cat.open("li_r", s"$sf/lineitem.parquet",
      orderCols = Seq("l_orderkey", "l_linenumber"))
    cat.buildRangedLayout("li_r", "l_extendedprice", files = 8)
    val routed = cat.rangeScan("li_r", "l_extendedprice", 1000.0, 5000.0)
    val p = plan(routed)
    assert(p.contains("catalog_ranged"),
      s"routed range scan must read the clustered layout; plan:\n$p")
    // the skipping index prunes: a narrow range of a range-clustered
    // layout intersects a strict subset of the 8 part files
    val l = cat.layoutsOf("li_r").collectFirst {
      case (_, r: graft.core.Catalog.ClusteredLayout) => r
    }.get
    val cand = graft.io.SkippingIndex.candidateFiles(l.stats,
      Seq((Some(1000.0), Some(5000.0))))
    assert(cand.nonEmpty && cand.size < 8,
      s"expected a pruned candidate set, got ${cand.size} of 8")
    // byte-identical to the live filter
    val live = Tables.load(spark, sf, "lineitem")
      .filter(col("l_extendedprice") >= 1000.0 &&
        col("l_extendedprice") <= 5000.0)
    assert(routed.count() == live.count())
    // an edit invalidates: the scan falls back to the live session plan
    assert(cat.get("li_r").get.setCell(0L, "l_quantity", "42"))
    val p2 = plan(cat.rangeScan("li_r", "l_extendedprice", 1000.0, 5000.0))
    assert(!p2.contains("catalog_ranged"),
      s"stale ranged layout must be bypassed; plan:\n$p2")
  }

  test("catalog.nearDups routes through the stored LSH index; edits fall back") {
    val cat = new Catalog(spark)
    val d = Tables.load(spark, sf, "documents")
    cat.openFrom("corpus", d.filter(col("doc_id") % 5 =!= 0),
      orderCols = Seq("doc_id"))
    cat.buildLshLayout("corpus", "doc_id", "text", n = 3, numHashes = 32,
      bands = 16)
    val batch = d.filter(col("doc_id") % 5 === 0)
    val routed = cat.nearDups("corpus", batch, "doc_id", "text",
      threshold = 0.4, n = 3, numHashes = 32, bands = 16)
    // the decision record says which side served the call; the plan pins
    // below prove what that decision means for the work done
    assert(cat.recentRoutes.last ==
      Catalog.RouteReport("lsh:text", "layout", "routed"))
    // the stored index is a checkpointed band-key relation: the only
    // side of the routed plan that signs is the BATCH (the corpus is
    // never re-shingled). One "graft_minhash_bands(" occurrence is one
    // evaluation site of the native band-key expression (PlanShapeSpec
    // pins one site per signing side). Only the relative order of the
    // counts is asserted, never an absolute number.
    def sigSites(p: String) = countOf(p, "graft_minhash_bands\\(")
    val routedSigs = sigSites(plan(routed))
    assert(routedSigs > 0, "batch side still signs in-flight")
    // same pairs as building the index directly
    val direct = graft.operators.Dedup.incrementalLshMatches(
      graft.operators.Dedup.lshIndex(d.filter(col("doc_id") % 5 =!= 0),
        "doc_id", "text", 3, 32, 16),
      batch, "doc_id", "text", 3, 0.4, 32, 16)
    assert(routed.orderBy("batch_id", "corpus_id").collect().toSeq ==
      direct.orderBy("batch_id", "corpus_id").collect().toSeq)
    // a parameter mismatch must NOT route: the stored 32/16 index would
    // answer a 64/32-band question with a different pair set, so the
    // catalog builds a live index with the caller's parameters instead
    val mismatched = plan(cat.nearDups("corpus", batch, "doc_id", "text",
      threshold = 0.4, n = 3, numHashes = 64, bands = 32))
    assert(cat.recentRoutes.last ==
      Catalog.RouteReport("lsh:text", "live", "param-mismatch"))
    assert(sigSites(mismatched) > routedSigs,
      "mismatched banding must bypass the stored index")
    // mutating the corpus invalidates: the probe rebuilds from the live
    // session plan, so the corpus side signs again — strictly more
    // signing sites than the routed plan
    assert(cat.get("corpus").get.setCell(0L, "text", "edited text"))
    val p2 = plan(cat.nearDups("corpus", batch, "doc_id", "text",
      threshold = 0.4, n = 3, numHashes = 32, bands = 16))
    assert(cat.recentRoutes.last ==
      Catalog.RouteReport("lsh:text", "live", "stale-epoch"))
    assert(sigSites(p2) > routedSigs,
      s"stale LSH layout must be bypassed for the live plan " +
        s"(sigSites routed=$routedSigs, fallback=${sigSites(p2)})")
  }

  test("bucket-count mismatch or a stale side falls back to the live join") {
    val cat = new Catalog(spark)
    cat.open("o3", s"$sf/orders.parquet", orderCols = Seq("o_orderkey"))
    cat.open("l3", s"$sf/lineitem.parquet",
      orderCols = Seq("l_orderkey", "l_linenumber"))
    cat.buildBucketedLayout("o3", "o_orderkey", 8)
    cat.buildBucketedLayout("l3", "l_orderkey", 4) // mismatched counts
    withoutAutoBroadcast {
      val p1 = plan(cat.join("l3", "l_orderkey", "o3", "o_orderkey"))
      assert(p1.contains("Exchange"),
        s"mismatched bucket counts must not fake co-location; plan:\n$p1")
      // align the counts -> routed; then edit one side -> stale -> fallback
      cat.buildBucketedLayout("l3", "l_orderkey", 8)
      assert(!plan(cat.join("l3", "l_orderkey", "o3", "o_orderkey"))
        .contains("Exchange"))
      assert(cat.get("o3").get.setCell(0L, "o_orderpriority", "9-EDITED"))
      val p2 = plan(cat.join("l3", "l_orderkey", "o3", "o_orderkey"))
      assert(p2.contains("Exchange"),
        s"an edited side must fall back to its live plan; plan:\n$p2")
    }
  }

  test("explainRoute names the reason; entry points record their decisions") {
    val cat = new Catalog(spark)
    cat.open("emb_x", s"$sf/embeddings.parquet", orderCols = Seq("vec_id"))
    // the three fallback states a caller can act on: nothing registered,
    // layout gone stale, layout built with other parameters
    assert(cat.explainRoute("emb_x", "ann:embedding") ==
      Catalog.RouteReport("ann:embedding", "live", "no-layout"))
    assert(cat.explainRoute("nope", "ann:embedding").reason == "no-session")
    cat.buildPqLayout("emb_x", "vec_id", "embedding")
    assert(cat.explainRoute("emb_x", "ann:embedding") ==
      Catalog.RouteReport("ann:embedding", "layout", "routed"))
    // a caller naming a DIFFERENT id column must not be served
    // layout-keyed ids (ADVICE r8): the answer would change, so the
    // guard falls back to the live brute-force plan and says why
    val before = cat.recentRoutes.size
    val p = plan(cat.topK("emb_x", "label", "embedding", queryVec(), 5))
    assert(p.contains("embedding"),
      s"idCol mismatch must fall back to the live plan; plan:\n$p")
    assert(cat.recentRoutes.drop(before) ==
      Seq(Catalog.RouteReport("ann:embedding", "live", "param-mismatch")))
    // the matching caller routes, and the log records it
    cat.topK("emb_x", "vec_id", "embedding", queryVec(), 5)
    assert(cat.recentRoutes.last ==
      Catalog.RouteReport("ann:embedding", "layout", "routed"))
    // an edit reads as stale-epoch until the maintenance gesture runs
    assert(cat.get("emb_x").get.setCell(0L, "vec_id", "999999"))
    assert(cat.explainRoute("emb_x", "ann:embedding").reason == "stale-epoch")
    cat.refreshStale("emb_x")
    assert(cat.explainRoute("emb_x", "ann:embedding").reason == "routed")
  }
}
