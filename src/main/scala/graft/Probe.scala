package graft

import java.io.{File, PrintWriter}
import scala.collection.immutable.ListMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Catalog, EditorSession, Positional, Tables}

/** Dev probe: plan captures and scale measurements over one session.
  *
  * {{{
  * runMain graft.Probe plans <tag> [name ...]   # no names = all
  * runMain graft.Probe scale <name>[,<name> ...]
  * runMain graft.Probe refresh [rounds]         # default 2 rounds
  * }}}
  *
  *  - `plans` writes `.explain("formatted")` of each [[planNames]] entry to
  *    `plans/<tag>/<name>_<tag>.txt`, so a plan claim is checkable without
  *    running Spark. Capture at the bench's SF (sf0.1) and core count so
  *    join-strategy and AQE-threshold decisions match what the bench plans.
  *  - `scale` prints one JSON line per entry of [[scaleNames]]; run it at two
  *    SF directories and the ratios are the README's scaling evidence.
  *    `paths` times the scale-path query set ([[pathNames]]). A last entry
  *    `paths:q1,q2` times that `SparkEntry.queries` subset instead
  *    (corpus-only scale dirs have no TPC-H tables for the rest).
  *  - `refresh` runs the serve workload's write mix ([[refreshMix]]) on a
  *    durable catalog over the SF directory's tables (a `ScaleGen` output
  *    works too) and prints one JSON line per `REFRESH TABLE`: its wall
  *    ms, Spark jobs and task input records.
  *
  * Reads `SPARK_GRAFT_SF_DIR` (default sf0.1) and `SPARK_GRAFT_CPUS`
  * (default 32); the session is [[Bench]]'s. Per-layer timings come from
  * `perfbench/run.py --trace 1`, not from here.
  */
object Probe {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // names are checked before the session starts
    val run: SparkSession => Unit = args.toList match {
      case "plans" :: tag :: names =>
        checkPlanNames(names)
        spark => plans(spark, sfDir, tag, names).foreach(f =>
          println(s"[plans] $f"))
      case "scale" :: specs if specs.nonEmpty =>
        val runs = parseScale(specs.mkString(","))
        spark => runs.foreach(r => println(r(spark, sfDir)))
      case "refresh" :: rounds if rounds.size <= 1 =>
        val n = rounds.headOption.fold(2)(_.toInt)
        spark => refreshMix(spark, sfDir, n).foreach(println)
      case _ =>
        System.err.println("usage: graft.Probe plans <tag> [name ...] | " +
          "graft.Probe scale <name>[,<name> ...] | graft.Probe refresh [rounds]")
        sys.exit(2)
    }
    val spark = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark) finally spark.stop()
  }

  private def timed[A](f: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val a = f
    ((System.nanoTime() - t0) / 1e9, a)
  }

  /** One JSON object: strings quoted, maps as objects (in insertion order
    * for a `ListMap`), other iterables as arrays, anything else verbatim.
    */
  private def render(v: Any): String = v match {
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => render(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case x => x.toString
  }

  private def json(fields: (String, Any)*): String = render(ListMap(fields: _*))

  private def bytesOf(files: Seq[String]): Long =
    files.map(f => new File(new java.net.URI(f)).length()).sum

  /** Input files and bytes a plan reads, and its min-of-2 collect time. */
  private def scanVolume(df: => DataFrame): (Int, Long, Double) = {
    val files = df.inputFiles.toSeq
    (files.size, bytesOf(files), (1 to 2).map(_ => timed(df.collect())._1).min)
  }

  // ---- plans -----------------------------------------------------------

  /** Inputs several captures share, built on first use. */
  private final class PlanCtx(val spark: SparkSession, val sfDir: String) {
    def load(table: String): DataFrame = Tables.load(spark, sfDir, table)

    lazy val queryVec: Seq[Float] = load("embeddings")
      .filter(col("vec_id") === 0L).head()
      .getAs[scala.collection.Seq[Float]]("embedding").toSeq

    val keys = Seq("l_orderkey", "l_linenumber", "l_extendedprice")
    def editSession(): EditorSession =
      EditorSession.fromDataFrame(load("lineitem"), keys)
    val attachOrder = keys.map(col)
    def attachParts: Int =
      math.max(spark.sessionState.conf.numShufflePartitions,
        spark.sparkContext.defaultParallelism)

    /** A PQ-layout catalog session whose id 1 was renamed after the
      * build: (layout, session, build epoch).
      */
    lazy val renamed: (Catalog.PqCodesLayout, EditorSession, Long) = {
      val cat = new Catalog(spark)
      cat.openFrom("pd_er", load("embeddings").filter(col("vec_id") =!= 0L),
        Seq("vec_id"))
      cat.buildPqLayout("pd_er", "vec_id", "embedding")
      val sess = cat.get("pd_er").get
      val builtAt = sess.epoch
      sess.setCell(1L, "vec_id", "912345")
      val p = cat.layoutsOf("pd_er").collectFirst {
        case (_, l: Catalog.PqCodesLayout) => l }.get
      (p, sess, builtAt)
    }
  }

  private val planDumps: Seq[(String, PlanCtx => DataFrame)] = Seq(
    "s1_scan_count" -> (c => c.load("lineitem").groupBy().count()),
    "p12_add_drop" -> { c =>
      val added = graft.ops.SchemaOps.insertColumnAt(c.load("lineitem"), 3,
        "flag", org.apache.spark.sql.types.BooleanType)
      graft.ops.SchemaOps.dropColumnAt(added, 0)
    },
    "a1_pivot" -> (c => graft.ops.PivotOps.pivotTable(c.load("lineitem"),
      "l_returnflag", "l_linestatus", "l_extendedprice", "sum", Seq("F", "O"))),
    "a_widegroup_q18" -> (c => graft.queries.AnalyticsQueries
      .queries("q18_large_orders")(c.spark, c.sfDir)),
    "p3v3_histogram" -> (c => graft.ops.StatsOps.histogramFixed(
      graft.ops.SchemaOps.numericProjection(c.load("lineitem")),
      "l_extendedprice", 0.0, 120000.0, 12)),
    "d_minhash_lsh" -> (c => graft.operators.Dedup.minhashLshPairs(
      c.load("documents"), "doc_id", "text",
      n = 3, threshold = 0.4, numHashes = 32, bands = 16)),
    "d_incr_lsh" -> { c =>
      val d = c.load("documents")
      val idx = graft.operators.Dedup.lshIndex(
        d.filter(col("doc_id") % 5 =!= 0), "doc_id", "text", 3, 32, 16)
      graft.operators.Dedup.incrementalLshMatches(idx,
        d.filter(col("doc_id") % 5 === 0), "doc_id", "text", 3, 0.4, 32, 16)
    },
    "t_text_stats" -> (c => c.load("documents").select(
      graft.functions.TextFunctions.tokenCount(col("text")).as("n"),
      graft.functions.TextFunctions.qualityScore(col("text")).as("q"),
      graft.functions.TextFunctions.langId(col("text")).as("l"))),
    "v_ann_topk" -> (c => graft.operators.Similarity.topK(
      c.load("embeddings"), "vec_id", "embedding", c.queryVec, 10)),
    "v_ann_pq" -> (c => graft.operators.Similarity.pqTopK(
      c.load("embeddings").filter(col("vec_id") =!= 0L), "vec_id",
      "embedding", c.queryVec, 10)),
    "v_ann_pq_layout" -> { c =>
      import graft.operators.Similarity
      val base = c.load("embeddings").filter(col("vec_id") =!= 0L)
      val seeds = Similarity.pqCodebook(base, "vec_id", "embedding")
      val path = java.nio.file.Files.createTempDirectory("plandump_pq_")
        .toString + "/codes"
      Similarity.pqCodes(base, "vec_id", "embedding", seeds)
        .write.parquet(path)
      Similarity.pqTopKFromCodes(c.spark.read.parquet(path), seeds,
        c.queryVec, 10)
    },
    "a_subquery_q21" -> (c => graft.queries.AnalyticsQueries
      .queries("q21_suppliers_waiting")(c.spark, c.sfDir)),
    "j_star" -> (c =>
      graft.queries.AnalyticsQueries.queries("j_star")(c.spark, c.sfDir)),
    "e_batch_window" -> (c => graft.streaming.EventStreams.windowedCounts(
      Tables.loadEvents(c.spark, c.sfDir))),
    "r46_delete_splice" -> { c =>
      val sess = c.editSession()
      sess.deleteRows(Seq(0L, 1L))
      sess.cut(Seq(10L, 11L, 12L))
      sess.paste(5L)
      sess.current
    },
    "r1_edit_burst_1k" -> { c =>
      val sess = c.editSession()
      (0 until 1000).foreach(i => sess.setCell(i.toLong, "l_quantity", "42"))
      sess.current.filter(col("l_quantity") === 42.0)
    },
    // attachPos pins its sorted stage, so the session plan hides the
    // exchange; this captures the pre-pin stage
    "attach_exchange_classic" -> (c => c.load("lineitem")
      .repartitionByRange(c.attachParts, c.attachOrder: _*)
      .sortWithinPartitions(c.attachOrder: _*)),
    // keyed-refresh vanished-id derivation: EXCEPT vs the bounded probes
    "vanished_except" -> { c =>
      val (p, sess, _) = c.renamed
      c.spark.read.parquet(p.path).select(col("id"))
        .except(Positional.strip(sess.current).select(col("vec_id").as("id")))
    },
    "vanished_probe_candidates" -> { c =>
      val (_, sess, builtAt) = c.renamed
      sess.planAt(builtAt).get
        .filter(col(Positional.POS).isInCollection(Seq(1L)))
        .select(col("vec_id"))
    },
    "vanished_probe_membership" -> { c =>
      val (_, sess, _) = c.renamed
      Positional.strip(sess.current)
        .filter(col("vec_id").isInCollection(Seq(123456L)))
        .select(col("vec_id"))
    })

  val planNames: Seq[String] = planDumps.map(_._1)

  private def checkPlanNames(names: Seq[String]): Unit = {
    val unknown = names.filterNot(planNames.contains)
    require(unknown.isEmpty, s"unknown plan name(s) ${unknown.mkString(", ")}" +
      s"; valid: ${planNames.mkString(", ")}")
  }

  /** Writes the named captures (all when `names` is empty) under
    * `<outRoot>/<tag>/` and returns the files. A capture whose DataFrame
    * fails to build records the error in its file instead.
    */
  def plans(spark: SparkSession, sfDir: String, tag: String,
            names: Seq[String] = Nil, outRoot: File = new File("plans"))
      : Seq[File] = {
    checkPlanNames(names)
    val dir = new File(outRoot, tag)
    dir.mkdirs()
    val ctx = new PlanCtx(spark, sfDir)
    planDumps.filter { case (n, _) => names.isEmpty || names.contains(n) }
      .map { case (name, mk) =>
        val file = new File(dir, s"${name}_$tag.txt")
        val out = new PrintWriter(file)
        try {
          val df = mk(ctx)
          out.println(s"== $name ($tag) @ $sfDir ${spark.sparkContext.master} ==")
          out.println(df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
        } catch { case e: Throwable =>
          out.println(s"ERROR building $name: ${e.getMessage}")
        } finally out.close()
        file
      }
  }

  // ---- scale -----------------------------------------------------------

  /** The scale-path set: every entry is the bucketed/banded/derived-k
    * variant, never a brute-force baseline.
    */
  val pathNames: Seq[String] = Seq(
    "d_drop_near",    // MinHash-LSH pairs -> star-CC -> anti join
    "d_cc_star",      // star contraction rounds alone
    "d_semdedup",     // sqrt(n)-blocked semantic dedup
    "t_dup_spans",    // char-span fingerprint scan
    "t_decontam",     // broadcast n-gram decontamination
    "v_ann_ivf_flat", // IVF build + probe
    "v_ann_ivfpq",    // IVF cell pruning + compressed-domain PQ ranking
    "d_incr_lsh",     // stored-index probe: batch-sized work vs the corpus
    "t_shuffle_order",// per-shard epoch-order windows, no global sort
    "t_pipeline_v2",  // gate -> decontam -> shard plan end-to-end
    "d_prefix_join",  // rare-shingle prefix index: exact join, pruned candidates
    "m_phash_dedup")  // dHash banding over binary payloads

  private type ScaleRun = (SparkSession, String) => String

  private val scaleRuns: Seq[(String, ScaleRun)] = Seq(
    "paths" -> ((s, sf) => scalePaths(s, sf, pathNames)),
    "ingest" -> scaleIngest, "compact" -> scaleCompact,
    "rollup" -> scaleRollup, "join_mv" -> scaleJoinMv,
    "mv_reopen" -> scaleMvReopen)

  val scaleNames: Seq[String] = scaleRuns.map(_._1)

  /** `name[,name ...]`; a `paths:q1,q2` entry takes the rest of the list
    * as its queries, so it comes last.
    */
  private def parseScale(spec: String): Seq[ScaleRun] = {
    val help = s"; valid: ${scaleNames.mkString(", ")}, or a last " +
      "paths:q1,q2 entry naming SparkEntry.queries"
    val (named, rest) = spec.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      .span(!_.startsWith("paths:"))
    val unknown = named.filterNot(scaleNames.contains)
    require(unknown.isEmpty,
      s"unknown scale name(s) ${unknown.mkString(", ")}$help")
    val queries = rest.map(_.stripPrefix("paths:"))
    val badQueries = queries.filterNot(SparkEntry.queries.contains)
    require(badQueries.isEmpty,
      s"unknown query name(s) ${badQueries.mkString(", ")}$help")
    require(named.nonEmpty || queries.nonEmpty, s"no scale name given$help")
    named.map(n => scaleRuns.find(_._1 == n).get._2) ++
      (if (queries.isEmpty) Nil
       else Seq[ScaleRun]((s, sf) => scalePaths(s, sf, queries)))
  }

  /** Runs each entry of `spec` against `sfDir`; one JSON line per entry. */
  def scale(spark: SparkSession, sfDir: String, spec: String): Seq[String] =
    parseScale(spec).map(_(spark, sfDir))

  /** Bench's protocol over `SparkEntry.queries`: an sf0.001 warmup, two
    * passes, min-of-2. A failed query records rows -1 and a 600 s penalty.
    */
  private def scalePaths(spark: SparkSession, sfDir: String,
                         names: Seq[String]): String = {
    names.foreach { n =>
      try SparkEntry.queries(n)(spark, "/root/testdata/sf0.001").count()
      catch { case _: Throwable => () }
    }
    val results = names.map { n =>
      def pass(): (Double, Long) = timed {
        try SparkEntry.queries(n)(spark, sfDir).count()
        catch { case e: Throwable =>
          System.err.println(s"[scale] $n failed: ${e.getMessage}"); -1L
        }
      }
      val (t1, r1) = pass()
      if (r1 < 0) (n, t1, r1)
      else { val (t2, r2) = pass(); (n, math.min(t1, t2), r2) }
    }
    val nFailed = results.count(_._3 < 0)
    json("metric" -> "scale_paths",
      "value" -> (results.map(_._2).sum + 600.0 * nFailed),
      "unit" -> "sec",
      "queries" -> ListMap(results.map(r => r._1 -> r._2): _*),
      "rows" -> ListMap(results.map(r => r._1 -> r._3): _*),
      "failed" -> nFailed, "sf" -> sfDir)
  }

  /** The steady-state ingest loop: three serving layouts (measure cube,
    * pairs, value-histogram cube) over lineitem, then fixed 2048-row
    * append cycles of `appendRows` + `refreshStale` + one routed read per
    * layout kind. A cycle should cost the batch, not the corpus, so
    * cycle times stay near-flat across scales while the build grows.
    */
  private def scaleIngest(spark: SparkSession, sfDir: String): String = {
    val batchRows = 2048
    val cycles = 5 // 5×2048 stays under the 8×4096 compaction bound
    val cat = new Catalog(spark)
    cat.open("ie", s"$sfDir/lineitem.parquet",
      orderCols = Seq("l_orderkey", "l_linenumber"))
    val sess = cat.get("ie").get
    val (buildSec, _) = timed {
      cat.buildCubeLayout("ie", Seq("l_returnflag", "l_linestatus"),
        Seq("l_quantity"))
      cat.buildPairsLayout("ie", Seq("l_returnflag"), "l_partkey")
      cat.buildCubeLayout("ie", Seq("l_returnflag", "l_quantity"), Nil)
    }
    def paths() = cat.layoutsOf("ie").collect {
      case (slot, l: Catalog.CubeLayout) => slot -> l.path
      case (slot, l: Catalog.PairsLayout) => slot -> l.path
    }.toMap
    val pathsBefore = paths()
    // the batch: a fixed-size slice of the corpus itself (schema matches
    // by construction; appendRows pins it before the rebind)
    val batch = Positional.strip(sess.current).limit(batchRows)
    val cycleSecs = (0 until cycles).map { _ =>
      timed {
        require(sess.appendRows(batch) == batchRows)
        cat.refreshStale("ie")
        cat.aggregate("ie", Seq("l_returnflag"), Seq("l_quantity")).count()
        cat.distinctCount("ie", Seq("l_returnflag"), "l_partkey").count()
        cat.quantiles("ie", Seq("l_returnflag"), "l_quantity",
          Seq("med" -> 0.5)).count()
      }._1
    }
    require(paths() == pathsBefore,
      "steady-state appends must delta-patch, never rebuild")
    json(Seq("metric" -> "ingest_cycles", "unit" -> "sec", "sf" -> sfDir,
      "batch_rows" -> batchRows, "build_sec" -> buildSec,
      "min_cycle_sec" -> cycleSecs.min) ++
      cycleSecs.zipWithIndex.map { case (s, i) => s"cycle_${i + 1}" -> s }: _*)
  }

  /** Partial-compaction economics: a 16-file ranged orders layout takes
    * nine 512-row edit cycles inside one file's key range; the ninth
    * crosses the 8× merge bound and folds into only the intersecting file.
    * Then the same cycles on a lineitem cube, whose fold copies stored
    * cells. Each is compared with the full rebuild the fold replaces. The
    * delta bound is lowered to 512 so the fold comes in nine cycles; the
    * economics under test are per file, which the bound does not change.
    */
  private def scaleCompact(spark: SparkSession, sfDir: String): String = {
    val deltaBound = 512
    val cycles = 9 // cycle 9 crosses 8×bound and triggers the fold
    /** One timed cycle per `deltaBound` slice of `pos` (cycles slices). */
    def editCycles(pos: Array[Long])(cycle: Seq[Long] => Unit): Seq[Double] = {
      require(pos.length == deltaBound * cycles,
        s"need ${deltaBound * cycles} rows to edit, got ${pos.length}")
      pos.grouped(deltaBound).map(slice => timed(cycle(slice.toSeq))._1).toSeq
    }

    val cat = new Catalog(spark, deltaMaxRowsOverride = Some(deltaBound))
    cat.open("ce", s"$sfDir/orders.parquet", orderCols = Seq("o_orderkey"))
    val sess = cat.get("ce").get
    def buildRanged() = timed(cat.buildRangedLayout("ce", "o_totalprice",
      files = 16, idCol = Some("o_orderkey")))._1
    def ranged() = cat.layoutsOf("ce").collectFirst {
      case (_, l: Catalog.ClusteredLayout) => l
    }.get
    def files() = ranged().stats.select("file").collect().map(_.getString(0))
      .toSet
    val buildSec = buildRanged()
    val files0 = files()
    // localized mutations: every edited row inside ONE file's key range
    val target = ranged().stats.collect().minBy(_.getAs[Double]("min_v"))
    val cycleSecs = editCycles(sess.current
      .filter(col("o_totalprice") > target.getAs[Double]("min_v") &&
        col("o_totalprice") < target.getAs[Double]("max_v"))
      .select(col(Positional.POS)).orderBy(col(Positional.POS))
      .limit(deltaBound * cycles).collect().map(_.getLong(0))) { slice =>
      require(sess.setCells("o_orderstatus", slice.map(_ -> "Q")))
      cat.refreshStale("ce")
      cat.rangeScan("ce", "o_totalprice", 0.0, 1e9).count()
    }
    require(ranged().patch.isEmpty, "cycle 9 must have folded the patch")
    val rewritten = files0.diff(files()).size
    val rebuildSec = buildRanged() // the full re-cluster a fold replaces

    // keyed merge-compact: cube fold vs fact re-aggregation
    val cat2 = new Catalog(spark, deltaMaxRowsOverride = Some(deltaBound))
    cat2.open("cek", s"$sfDir/lineitem.parquet",
      orderCols = Seq("l_orderkey", "l_linenumber"))
    val sess2 = cat2.get("cek").get
    def buildCube() = timed(cat2.buildCubeLayout("cek", Seq("l_partkey"),
      Seq("l_quantity")))._1
    def cube() = cat2.layoutsOf("cek").collectFirst {
      case (_, l: Catalog.CubeLayout) => l
    }.get
    val cubeBuildSec = buildCube()
    val cubePath0 = cube().path
    val cubeCycleSecs = editCycles(sess2.current.dropDuplicates("l_partkey")
      .select(col(Positional.POS)).limit(deltaBound * cycles)
      .collect().map(_.getLong(0))) { slice =>
      require(sess2.setCells("l_quantity", slice.map(_ -> "17.0")))
      cat2.refreshStale("cek")
      cat2.aggregate("cek", Seq("l_partkey"), Seq("l_quantity")).count()
    }
    require(cube().patch.isEmpty && cube().path != cubePath0,
      "cycle 9 must have merge-compacted the cube")
    val cubeRebuildSec = buildCube()

    json("metric" -> "partial_compact", "build_sec" -> buildSec,
      "steady_patch_sec" -> cycleSecs.dropRight(1),
      "fold_cycle_sec" -> cycleSecs.last, "rebuild_sec" -> rebuildSec,
      "files_total" -> files0.size, "files_rewritten" -> rewritten,
      "rows" -> sess.rowCount, "cube_build_sec" -> cubeBuildSec,
      "cube_steady_sec" -> cubeCycleSecs.dropRight(1),
      "cube_fold_cycle_sec" -> cubeCycleSecs.last,
      "cube_rebuild_sec" -> cubeRebuildSec,
      "delta_bound" -> deltaBound, "sf" -> sfDir)
  }

  /** Routed vs live scan volume of one SQL text: `routed_*` runs it over
    * the catalog sessions, `live_*` over views of the raw tables named
    * `<session>_raw` (`tables` maps each placeholder to (session, table)).
    */
  private def routedVsLive(spark: SparkSession, sfDir: String,
                           metric: String, cat: Catalog, body: String,
                           tables: Seq[(String, (String, String))]): String = {
    def bind(view: String => String) = tables.foldLeft(body) {
      case (b, (ph, (sess, _))) => b.replace(ph, view(sess))
    }
    tables.foreach { case (_, (sess, raw)) =>
      Tables.load(spark, sfDir, raw).createOrReplaceTempView(s"${sess}_raw")
    }
    try {
      val (rf, rb, rs) = scanVolume(cat.sql(bind(identity)))
      val (lf, lb, ls) = scanVolume(spark.sql(bind(_ + "_raw")))
      json("metric" -> metric, "routed_files" -> rf, "routed_bytes" -> rb,
        "routed_sec" -> rs, "live_files" -> lf, "live_bytes" -> lb,
        "live_sec" -> ls, "sf" -> sfDir)
    } finally tables.foreach { case (_, (sess, _)) =>
      spark.catalog.dropTempView(s"${sess}_raw")
    }
  }

  /** The 3-set ROLLUP text over a cube-covered session vs the raw fact
    * table: the routed form reads group-count-sized stored partials, the
    * live form scans the fact table once (Expand replicates rows, not
    * scans), so the gap grows with the corpus.
    */
  private def scaleRollup(spark: SparkSession, sfDir: String): String = {
    val cat = new Catalog(spark)
    cat.openFrom("li_re", Tables.load(spark, sfDir, "lineitem"),
      Seq("l_orderkey", "l_linenumber"))
    cat.buildCubeLayout("li_re", Seq("l_returnflag", "l_linestatus"),
      Seq("l_extendedprice"))
    routedVsLive(spark, sfDir, "rollup_scan", cat,
      """SELECT coalesce(l_returnflag, '(all)') AS flag,
        |  coalesce(l_linestatus, '(all)') AS status, count(*) AS n,
        |  CAST(sum(CAST(round(l_extendedprice, 6) AS DECIMAL(38,6)))
        |    AS DOUBLE) AS rev
        |FROM __T__ GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY flag, status""".stripMargin,
      Seq("__T__" -> ("li_re", "lineitem")))
  }

  /** A fact ⋈ dim aggregate over a cube keyed by the join key (eager
    * aggregation) vs the raw tables: the routed join carries
    * distinct-key cells, the live join scans the fact table.
    */
  private def scaleJoinMv(spark: SparkSession, sfDir: String): String = {
    val cat = new Catalog(spark)
    cat.openFrom("li_jme", Tables.load(spark, sfDir, "lineitem"),
      Seq("l_orderkey", "l_linenumber"))
    cat.openFrom("sup_jme", Tables.load(spark, sfDir, "supplier"),
      Seq("s_suppkey"))
    cat.buildCubeLayout("li_jme", Seq("l_suppkey"), Seq("l_quantity"))
    routedVsLive(spark, sfDir, "join_mv_scan", cat,
      """SELECT s_name, count(*) AS n,
        |  CAST(sum(CAST(round(l_quantity, 6) AS DECIMAL(38,6)))
        |    AS DOUBLE) AS qty
        |FROM __F__ JOIN __D__ ON l_suppkey = s_suppkey
        |GROUP BY s_name ORDER BY s_name""".stripMargin,
      Seq("__F__" -> ("li_jme", "lineitem"), "__D__" -> ("sup_jme", "supplier")))
  }

  /** Durable materialized view across a process restart, and a
    * partitioned CTAS:
    *  1. `CREATE MATERIALIZED VIEW` on a durable catalog (one-time
    *     build), then a fresh catalog over the same warehouse — the
    *     digest-gated re-attach, one column-pruned hash pass, never a
    *     re-aggregate — and the reopened view's read vs the same
    *     aggregate over raw orders;
    *  2. `PARTITIONED BY` CTAS over orders, then a partition-filtered
    *     read of the written directory vs the directory total.
    * Runs with AQE off: AQE re-plans at execution, and the pruned read's
    * scan node is inspected in the executed plan.
    */
  private def scaleMvReopen(spark: SparkSession, sfDir: String): String = {
    val aqe = spark.conf.getOption("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val wh = java.nio.file.Files.createTempDirectory("graft_mvev_wh_")
        .toString
      def open() = {
        val c = new Catalog(spark, Some(wh))
        c.open("mvev", s"$sfDir/orders.parquet", orderCols = Seq("o_orderkey"))
        c
      }
      val body =
        """SELECT o_orderstatus, count(*) AS n,
          |  CAST(sum(CAST(round(o_totalprice, 6) AS DECIMAL(38,6)))
          |    AS DOUBLE) AS tot
          |FROM __T__ GROUP BY o_orderstatus ORDER BY o_orderstatus"""
          .stripMargin
      val (buildSec, _) = timed {
        val cat = open()
        cat.sql("CREATE MATERIALIZED VIEW evmv AS " +
          body.replace("__T__", "mvev").replace("ORDER BY o_orderstatus", ""))
        cat.sql("SELECT * FROM evmv").collect()
      }
      val (reopenSec, cat2) = timed(open())
      val (mvFiles, mvBytes, mvSec) =
        scanVolume(cat2.sql("SELECT * FROM evmv ORDER BY o_orderstatus"))
      Tables.load(spark, sfDir, "orders").createOrReplaceTempView("mvev_raw")
      val (liveFiles, liveBytes, liveSec) =
        try scanVolume(spark.sql(body.replace("__T__", "mvev_raw")))
        finally spark.catalog.dropTempView("mvev_raw")

      val (ctasSec, _) = timed(cat2.sql("CREATE TABLE evpart PARTITIONED " +
        "BY (o_orderstatus) AS SELECT * FROM mvev"))
      val written = spark.read.parquet(cat2.sourcePathOf("evpart").get)
      val all = written.inputFiles.toSeq
      val pruned = written.filter(col("o_orderstatus") === "P")
      val scan = pruned.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.head
      val prunedSec = (1 to 2).map(_ => timed(pruned.collect())._1).min
      // the pruned file set is the named partition's directory census
      // (SqlDdlSpec pins readFiles == census through the numFiles metric)
      val pFiles = all.filter(_.contains("o_orderstatus=P"))
      json("metric" -> "mv_reopen", "mv_build_sec" -> buildSec,
        "mv_reopen_sec" -> reopenSec, "mv_read_files" -> mvFiles,
        "mv_read_bytes" -> mvBytes, "mv_read_sec" -> mvSec,
        "live_agg_files" -> liveFiles, "live_agg_bytes" -> liveBytes,
        "live_agg_sec" -> liveSec, "ctas_part_write_sec" -> ctasSec,
        "pruned_files" -> pFiles.size, "pruned_of_files" -> all.size,
        "pruned_bytes" -> bytesOf(pFiles), "pruned_of_bytes" -> bytesOf(all),
        "pruned_sec" -> prunedSec,
        "partition_filtered" -> scan.toString.contains("o_orderstatus"),
        "sf" -> sfDir)
    } finally aqe.fold(spark.conf.unset("spark.sql.adaptive.enabled"))(
      spark.conf.set("spark.sql.adaptive.enabled", _))
  }

  // ---- refresh -----------------------------------------------------------

  /** The serve workload's write mix, `rounds` times over: a cube value
    * edit, a cube+pairs delete and a cube+pairs insert on `lineitem`, an
    * id edit on `orders` (clustered, id-keyed) and a PQ-irrelevant edit
    * on `embeddings`, each a SQL DML followed by `REFRESH TABLE` on a
    * durable catalog holding the serve layouts. One JSON line per
    * refresh: `refresh_ms`, `jobs`, `input_records`, plus the DML's jobs.
    */
  def refreshMix(spark: SparkSession, sfDir: String, rounds: Int): Seq[String] = {
    val root = java.nio.file.Files.createTempDirectory("probe_refresh")
    Catalog.registerTempDir(root)
    val cat = new Catalog(spark, Some(s"$root/warehouse"))
    cat.open("li", s"$sfDir/lineitem.parquet", Seq("l_orderkey", "l_linenumber"))
    cat.open("ord", s"$sfDir/orders.parquet", Seq("o_orderkey"))
    cat.open("emb", s"$sfDir/embeddings.parquet", Seq("vec_id"))
    cat.buildCubeLayout("li", Seq("l_returnflag", "l_linestatus"),
      Seq("l_quantity", "l_extendedprice"))
    cat.buildPairsLayout("li", Seq("l_returnflag", "l_linestatus"), "l_suppkey")
    cat.buildRangedLayout("ord", "o_totalprice", files = 8,
      idCol = Some("o_orderkey"))
    cat.buildPqLayout("emb", "vec_id", "embedding")
    def keys(name: String, cols: String*) =
      Positional.strip(cat.get(name).get.current).select(cols.map(col): _*)
        .limit(100 * rounds + 1).collect()
    val li = keys("li", "l_orderkey", "l_linenumber")
    val ord = keys("ord", "o_orderkey")
    val emb = keys("emb", "vec_id")
    val liCols = Positional.strip(cat.get("li").get.current).columns
    (1 to rounds).flatMap { r =>
      val k = 100 * r - 50
      Seq(
        ("cube_value_edit", "li", s"UPDATE li SET l_quantity = $r.0 " +
          s"WHERE l_orderkey = ${li(k).get(0)}"),
        ("cube_pairs_delete", "li", s"DELETE FROM li WHERE l_orderkey = " +
          s"${li(k + 1).get(0)} AND l_linenumber = ${li(k + 1).get(1)}"),
        ("clustered_id_edit", "ord", s"UPDATE ord SET o_orderkey = " +
          s"${900000000L + r} WHERE o_orderkey = ${ord(k).get(0)}"),
        ("pq_noop", "emb",
          s"UPDATE emb SET label = $r WHERE vec_id = ${emb(k).get(0)}"),
        ("cube_pairs_insert", "li", "INSERT INTO li SELECT " +
          liCols.map(c => if (c == "l_orderkey") s"$c + ${800000000L + r}" else c)
            .mkString(", ") + s" FROM li WHERE l_orderkey = ${li(k + 2).get(0)}")
      ).map { case (write, table, dml) =>
        val dml0 = JobCounter(spark)(timed(cat.sql(dml).collect()))
        val ref = JobCounter(spark)(
          timed(cat.sql(s"REFRESH TABLE $table").collect()))
        json("metric" -> "refresh", "write" -> write, "round" -> r,
          "refresh_ms" -> ref.value._1 * 1000, "jobs" -> ref.jobs,
          "input_records" -> ref.records, "dml_ms" -> dml0.value._1 * 1000,
          "dml_jobs" -> dml0.jobs, "sf" -> sfDir)
      }
    }
  }
}
