package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables

/** The `analytics` workload: a read-only pass of ten steps over the raw
  * fact tables, with no session and no catalog. One client operation is a
  * whole pass (its ten answers are checked one by one); the seed picks each
  * step's parameters from a fixed menu.
  * Every answer is compared with a digest computed when the data was
  * generated, by plain Spark SQL/DataFrame code or plain Scala that does
  * not call the engine.
  */
object Analytics {
  val variants = 8

  final case class Step(name: String, layer: String,
                        run: (SparkSession, String, Int) => Seq[String],
                        expected: (SparkSession, String, Int) => Seq[String])

  private val pivots = Seq(
    ("l_returnflag", "l_linestatus", Seq("F", "O"), "l_extendedprice", "sum"),
    ("l_linestatus", "l_returnflag", Seq("A", "N", "R"), "l_quantity", "mean"),
    ("l_linenumber", "l_returnflag", Seq("A", "N", "R"), "l_discount", "max"),
    ("l_linenumber", "l_linestatus", Seq("F", "O"), "l_tax", "count"),
    ("l_returnflag", "l_linestatus", Seq("F", "O"), "l_quantity", "min"),
    ("l_linestatus", "l_returnflag", Seq("A", "N", "R"), "l_extendedprice", "mean"),
    ("l_linenumber", "l_returnflag", Seq("A", "N", "R"), "l_extendedprice", "sum"),
    ("l_linenumber", "l_linestatus", Seq("F", "O"), "l_quantity", "count"))
  private val hists = Seq(("l_extendedprice", 0.0, 150000.0),
    ("l_quantity", 0.0, 51.0), ("l_discount", 0.0, 0.11), ("l_tax", 0.0, 0.09))
  private def hist(v: Int) = { val (c, lo, hi) = hists(v % 4)
    (c, lo, hi, Seq(8, 12, 16, 20)(v / 2)) }
  // parameters vary the answer, not the amount of work
  private def pct(v: Int) = ("l_extendedprice",
    Seq("l_returnflag", "l_linestatus")(v % 2),
    Seq(Seq(0.25, 0.5, 0.75), Seq(0.1, 0.9), Seq(0.05, 0.5, 0.95), Seq(0.33, 0.66))(v / 2))
  private val windows = Seq(60, 75, 90, 105, 120, 150, 180, 240)
  private def lshThreshold(v: Int) = 0.4 + 0.05 * v
  private def pqQuery(v: Int, n: Int): Long = ((v * 97L + 13L) % n)
  private def textLang(v: Int) = Data.langs(v % Data.langs.size)

  private def raw(s: SparkSession, dir: String, t: String) =
    s.read.parquet(s"$dir/$t.parquet")
  private def rows(df: DataFrame): Seq[String] = df.collect().map(Canon.row).toSeq

  /** Pivot output (index, one column per pivot value) as non-empty cells. */
  private def cells(df: DataFrame, pvs: Seq[String], agg: String): Seq[String] =
    df.collect().toSeq.flatMap { r =>
      pvs.indices.flatMap { i =>
        val v = r.get(i + 1)
        val empty = v == null || (agg == "count" && v.toString == "0")
        if (empty) None else Some(s"${Canon.value(r.get(0))}|${pvs(i)}|${Canon.value(v)}")
      }
    }

  val steps: Seq[Step] = Seq(
    Step("q18", "queries",
      (s, d, _) => rows(graft.queries.AnalyticsQueries.queries("q18_large_orders")(s, d)),
      (s, d, _) => {
        raw(s, d, "orders").createOrReplaceTempView("x_orders")
        raw(s, d, "lineitem").createOrReplaceTempView("x_lineitem")
        rows(s.sql("""SELECT o_orderkey, date_format(o_orderdate, 'yyyy-MM-dd'),
          |  o_totalprice, CAST(qty AS DOUBLE)
          |FROM x_orders JOIN (SELECT l_orderkey,
          |    sum(CAST(l_quantity AS DECIMAL(18,2))) AS qty
          |  FROM x_lineitem GROUP BY l_orderkey) q ON o_orderkey = l_orderkey
          |WHERE qty > 210""".stripMargin))
      }),
    Step("q21", "queries",
      (s, d, _) => rows(graft.queries.AnalyticsQueries.queries("q21_suppliers_waiting")(s, d)),
      (s, d, _) => {
        // a waiting line: returned (R) on a finished order that has another
        // supplier, and whose supplier is the order's only one with R lines
        val li = raw(s, d, "lineitem")
        val perOrder = li.groupBy("l_orderkey").agg(
          countDistinct(col("l_suppkey")).as("n_supp"),
          countDistinct(when(col("l_returnflag") === "R", col("l_suppkey")))
            .as("n_r_supp"))
        rows(li.filter(col("l_returnflag") === "R")
          .join(perOrder, "l_orderkey")
          .filter(col("n_supp") > 1 && col("n_r_supp") === 1)
          .join(raw(s, d, "orders").filter(col("o_orderstatus") === "F"),
            col("l_orderkey") === col("o_orderkey"))
          .join(raw(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"))
          .groupBy("s_name").agg(count(lit(1)).as("numwait")))
      }),
    Step("j_star", "queries",
      (s, d, _) => rows(graft.queries.AnalyticsQueries.queries("j_star")(s, d)),
      (s, d, _) => {
        Seq("lineitem", "orders", "customer", "nation").foreach(t =>
          raw(s, d, t).createOrReplaceTempView(s"x_$t"))
        rows(s.sql("""SELECT n_name, CAST(sum(CAST(l_extendedprice *
          |  (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
          |FROM x_lineitem JOIN x_orders ON l_orderkey = o_orderkey
          |JOIN x_customer ON o_custkey = c_custkey
          |JOIN x_nation ON c_nationkey = n_nationkey
          |GROUP BY n_name""".stripMargin))
      }),
    Step("pivot", "operators",
      (s, d, v) => {
        val (i, c, pvs, m, agg) = pivots(v)
        cells(graft.ops.PivotOps.pivotTable(Tables.load(s, d, "lineitem"),
          i, c, m, agg, pvs), pvs, agg)
      },
      (s, d, v) => {
        val (i, c, pvs, m, agg) = pivots(v)
        val f: Column => Column = agg match {
          case "sum" => sum(_); case "mean" => avg(_); case "max" => max(_)
          case "min" => min(_); case "count" => count(_)
        }
        raw(s, d, "lineitem").filter(col(c).isin(pvs: _*))
          .groupBy(col(i), col(c)).agg(f(col(m))).collect().toSeq
          .map(r => s"${Canon.value(r.get(0))}|${r.get(1)}|${Canon.value(r.get(2))}")
      }),
    Step("histogram", "operators",
      (s, d, v) => {
        val (c, lo, hi, bins) = hist(v)
        rows(graft.ops.StatsOps.histogramFixed(
          graft.ops.SchemaOps.numericProjection(Tables.load(s, d, "lineitem")),
          c, lo, hi, bins))
      },
      (s, d, v) => {
        val (c, lo, hi, bins) = hist(v)
        val width = (hi - lo) / bins
        val b = floor((col(c).cast("double") - lit(lo)) / lit(width))
        rows(raw(s, d, "lineitem").filter(col(c).isNotNull)
          .select(when(b > bins - 1, lit(bins - 1L)).otherwise(b)
            .cast("long").as("b"))
          .groupBy("b").count())
      }),
    Step("percentile", "operators",
      (s, d, v) => {
        val (c, k, ps) = pct(v)
        rows(graft.operators.RankStats.exactPercentiles(
          Tables.load(s, d, "lineitem"), col(c), Seq(k),
          ps.map(p => s"p${(p * 100).round}" -> p)))
      },
      (s, d, v) => {
        val (c, k, ps) = pct(v)
        raw(s, d, "lineitem").groupBy(k)
          .agg(percentile(col(c), typedLit(ps)).as("p")).collect().toSeq
          .map(r => (r.get(0) +: r.getSeq[Double](1)).map(Canon.value).mkString("|"))
      }),
    Step("window_counts", "operators",
      (s, d, v) => rows(graft.streaming.EventStreams.windowedCounts(
        Tables.loadEvents(s, d), s"${windows(v)} minutes")),
      (s, d, v) => {
        val len = windows(v) * 60000000L
        rows(raw(s, d, "events")
          .withColumn("w", timestamp_micros(floor(unix_micros(col("ts")) / len) * len))
          .groupBy(col("w"), col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(18,4)")).cast("double").as("sv"))
          .select(date_format(col("w"), "yyyy-MM-dd HH:mm:ss"), col("event_type"),
            col("n"), col("sv")))
      }),
    Step("lsh_dedup", "operators",
      (s, d, v) => graft.operators.Dedup.minhashLshPairs(
          Tables.load(s, d, "documents"), "doc_id", "text",
          n = 3, threshold = lshThreshold(v), numHashes = 32, bands = 16)
        .select("id_i", "id_j").collect().map(Canon.row).toSeq,
      (s, d, v) => exactPairs(docsFor(s, d), lshThreshold(v))),
    Step("pq_topk", "operators",
      (s, d, v) => {
        val vecs = vectorsFor(s, d)
        val q = pqQuery(v, vecs.length)
        val embs = Tables.load(s, d, "embeddings")
        rows(graft.operators.Similarity.pqTopK(embs.filter(col("vec_id") =!= q),
          "vec_id", "embedding", vecs(q.toInt)._2.toSeq, 10))
      },
      (s, d, v) => {
        val vecs = vectorsFor(s, d)
        val q = pqQuery(v, vecs.length)
        Pq.topK(vecs.filter(_._1 != q), vecs(q.toInt)._2, 10)
          .map { case (i, a) => s"$i|${Canon.value(a)}" }
      }),
    Step("text_stats", "operators",
      (s, d, v) => {
        import graft.functions.TextFunctions._
        val r = Tables.load(s, d, "documents").filter(col("lang") === textLang(v))
          .select(tokenCount(col("text")).as("n"), qualityScore(col("text")).as("q"),
            langId(col("text")).as("l"))
          .agg(count(lit(1)), sum(col("n")), avg(col("q")), countDistinct(col("l")))
          .head()
        Seq(s"${r.getLong(0)}|${r.getLong(1)}")
      },
      (s, d, v) => {
        val ds = docsFor(s, d).filter(_.lang == textLang(v))
        Seq(s"${ds.length}|${ds.map(_.nTokens.toLong).sum}")
      }))

  // the generator's own documents and vectors are the ground truth
  private var docCache: Option[(String, Array[Data.Doc])] = None
  private def docsFor(s: SparkSession, d: String): Array[Data.Doc] =
    docCache.filter(_._1 == d).map(_._2).getOrElse {
      val n = raw(s, d, "documents").count().toInt
      val ds = Data.documents(n); docCache = Some(d -> ds); ds
    }
  private var vecCache: Option[(String, Array[(Long, Array[Float], Int)])] = None
  def vectorsFor(s: SparkSession, d: String): Array[(Long, Array[Float], Int)] =
    vecCache.filter(_._1 == d).map(_._2).getOrElse {
      val n = raw(s, d, "embeddings").count().toInt
      val vs = Data.vectors(n); vecCache = Some(d -> vs); vs
    }

  /** Every document pair whose token-3-shingle Jaccard reaches `t`, by
    * exact set arithmetic over an inverted index.
    */
  def exactPairs(docs: Array[Data.Doc], t: Double): Seq[String] = {
    val sets = docs.map { d =>
      val toks = d.text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)
      toks.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    }
    val index = scala.collection.mutable.HashMap.empty[String, List[Int]]
    sets.zipWithIndex.foreach { case (st, i) =>
      st.foreach(sh => index(sh) = i :: index.getOrElse(sh, Nil)) }
    val cands = index.valuesIterator.flatMap { ids =>
      for (a <- ids; b <- ids if a < b) yield (a, b) }.toSet
    cands.toSeq.filter { case (a, b) =>
      val inter = (sets(a) intersect sets(b)).size.toDouble
      inter / (sets(a).size + sets(b).size - inter) >= t
    }.map { case (a, b) => s"${docs(a).id}|${docs(b).id}" }
  }

  /** Expected digests for every step and variant, one `step\tvariant\tdigest`
    * line each.
    */
  def expectedTsv(s: SparkSession, dir: String): String =
    steps.flatMap { st =>
      val vs = if (st.layer == "queries") Seq(0) else 0 until variants
      vs.map(v => s"${st.name}\t$v\t${Canon.digest(st.expected(s, dir, v))}")
    }.mkString("", "\n", "\n")

  def loadExpected(path: String): Map[(String, Int), String] =
    Data.readText(path).split("\n").filter(_.nonEmpty).map { l =>
      val Array(n, v, dg) = l.split("\t"); (n, v.toInt) -> dg }.toMap

  def run(r: Run, dir: String, seconds: Double, check: Boolean): Unit = {
    val expected = if (check) loadExpected(s"${r.cfg.dataDir}/expected.tsv")
      else Map.empty[(String, Int), String]
    vectorsFor(r.spark, dir)
    r.loop(seconds, minSteps = 1) { _ =>
      val vs = steps.map(st => if (st.layer == "queries") 0 else r.rnd.nextInt(variants))
      r.op("pass", units = steps.size) {
        steps.zip(vs).map { case (st, v) =>
          val t0 = System.nanoTime()
          val out = r.span(s"${st.layer}.${st.name}")(st.run(r.spark, dir, v))
          r.series(s"step_ms.${st.name}") += (System.nanoTime() - t0) / 1e6
          out
        }
      }.foreach { got =>
        if (check) steps.zip(vs).zip(got).foreach { case ((st, v), g) =>
          r.verify(s"analytics ${st.name} variant $v") {
            expected.get((st.name, v)).contains(Canon.digest(g)) }
        }
      }
    }
  }
}

/** Product-quantization top-k in plain Scala: codebook = the 16 smallest-id
  * vectors, codes = per-subspace argmin of the squared L2 rounded to six
  * decimals (first codeword on ties), distance = the query's per-subspace
  * table summed in subspace order, rounded to six decimals; ascending
  * distance, id tiebreak.
  */
object Pq {
  private def r6(x: Double) = java.math.BigDecimal.valueOf(x)
    .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
  private def sq(a: Array[Float], b: Array[Float], off: Int, sub: Int): Double = {
    var acc = 0.0; var d = 0
    while (d < sub) { val t = a(off + d).toDouble - b(off + d).toDouble; acc += t * t; d += 1 }
    acc
  }
  def topK(corpus: Array[(Long, Array[Float], Int)], q: Array[Float],
           k: Int, m: Int = 8, size: Int = 16): Seq[(Long, Double)] = {
    val sub = q.length / m
    val cb = corpus.sortBy(_._1).take(size).map(_._2)
    corpus.map { case (id, x, _) =>
      var acc = 0.0
      (0 until m).foreach { j =>
        val code = cb.indices.minBy(c => (r6(sq(x, cb(c), j * sub, sub)), c))
        acc += sq(q, cb(code), j * sub, sub)
      }
      (id, r6(acc))
    }.sortBy { case (id, a) => (a, id) }.take(k).toSeq
  }
}
