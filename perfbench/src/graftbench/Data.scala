package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The benchmark's input tables, generated once per checkout from a fixed
  * generator seed, in the schema of the TPC-H-ish star the engine's query
  * library reads (`<dir>/<table>.parquet`). The `--seed` of a run never
  * changes the data: it draws positions, values, SQL text and query
  * parameters over these fixed tables, so every seed does the same amount
  * of work.
  *
  * Every column value is a pure function of the row key (`xxhash64` of a
  * salt and the key), so the tables are identical whatever the partitioning.
  * Documents and embeddings are built on the driver because their ground
  * truth (near-duplicate clusters, vectors) feeds the expected results.
  */
object Data {
  /** Bumped whenever the generator or the expected results change. */
  val version = "1"

  final case class Scale(orders: Int, customers: Int, parts: Int,
                         suppliers: Int, events: Int, docs: Int, vectors: Int)
  /** ~150k lineitem rows: a quarter of sf0.1, so that one run of any
    * workload, start-up included, stays near 40 s on a 4-core box.
    */
  val full = Scale(37500, 3750, 5000, 250, 25000, 1250, 500)
  /** ~6k lineitem rows: JIT and code-cache warmup only. */
  val small = Scale(1500, 150, 200, 10, 1000, 400, 200)

  val dim = 64
  private val salt = 20240917L

  private def h(tag: String, key: Column): Column =
    xxhash64(lit(salt), lit(tag), key)
  /** Uniform integer in [0, n). */
  private def pick(tag: String, key: Column, n: Int): Column =
    pmod(h(tag, key), lit(n.toLong))
  /** Uniform double in [0, 1). */
  private def unif(tag: String, key: Column): Column =
    pmod(h(tag, key), lit(1000003L)).cast("double") / 1000003.0
  private def choice(tag: String, key: Column, xs: Seq[String]): Column =
    element_at(typedLit(xs), (pick(tag, key, xs.size) + 1).cast("int"))
  private def days(from: String, n: Column): Column =
    timestamp_micros(unix_micros(to_timestamp(lit(from))) +
      n * lit(86400000000L))

  def generate(spark: SparkSession, dir: String, sc: Scale): Unit = {
    def save(df: DataFrame, name: String): Unit =
      df.coalesce(4).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    val id = col("id")

    save(spark.range(5).select(id.cast("int").as("r_regionkey"),
      element_at(typedLit(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE",
        "MIDDLE EAST")), (id + 1).cast("int")).as("r_name")), "region")
    save(spark.range(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id).as("n_name"),
      (id % 5).cast("int").as("n_regionkey")), "nation")
    save(spark.range(sc.customers).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      pick("c_nat", id, 25).cast("int").as("c_nationkey"),
      round(unif("c_bal", id) * 10999.0 - 999.0, 2).as("c_acctbal"),
      choice("c_seg", id, Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
        "HOUSEHOLD", "MACHINERY")).as("c_mktsegment")), "customer")
    save(spark.range(sc.suppliers).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      pick("s_nat", id, 25).cast("int").as("s_nationkey"),
      round(unif("s_bal", id) * 10999.0 - 999.0, 2).as("s_acctbal")),
      "supplier")
    save(spark.range(sc.parts).select(id.as("p_partkey"),
      concat_ws(" ", choice("p_n1", id, Seq("large", "small", "hot",
        "cold", "shiny")), choice("p_n2", id, Seq("ring", "bolt",
        "gear", "pipe", "nut"))).as("p_name"),
      concat(lit("Brand#"), pick("p_br", id, 25) + 1).as("p_brand"),
      choice("p_ty", id, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO",
        "SMALL", "STANDARD")).as("p_type"),
      (pick("p_sz", id, 50) + 1).cast("int").as("p_size"),
      (lit(900.0) + (id % 2000).cast("double") / 10.0).as("p_retailprice")),
      "part")

    val orders = spark.range(sc.orders).select(id.as("o_orderkey"),
      pick("o_cust", id, sc.customers).as("o_custkey"),
      choice("o_st", id, Seq("F", "F", "O", "O", "P")).as("o_orderstatus"),
      round(unif("o_tp", id) * 499000.0 + 1000.0, 2).as("o_totalprice"),
      days("1992-01-01", pick("o_dt", id, 2405)).as("o_orderdate"),
      choice("o_pr", id, Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
        "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority"))
    save(orders, "orders")

    val cutoff = to_timestamp(lit("1995-06-17"))
    val lines = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderdate"),
        explode(sequence(lit(1), (pick("o_nl", col("o_orderkey"), 7) + 1)
          .cast("int"))).as("l_linenumber"))
      .withColumn("k", col("l_orderkey") * 8 + col("l_linenumber"))
      .withColumn("l_partkey", pick("l_part", col("k"), sc.parts))
      .withColumn("l_shipdate", timestamp_micros(unix_micros(col("o_orderdate")) +
        (pick("l_sd", col("k"), 121) + 1) * lit(86400000000L)))
      .withColumn("l_quantity", (pick("l_q", col("k"), 50) + 1).cast("double"))
    val lineitem = lines.select(col("l_orderkey"), col("l_partkey"),
      pick("l_supp", col("k"), sc.suppliers).as("l_suppkey"),
      col("l_linenumber"), col("l_quantity"),
      round(col("l_quantity") * (lit(900.0) +
        (col("l_partkey") % 2000).cast("double") / 10.0), 2)
        .as("l_extendedprice"),
      (pick("l_di", col("k"), 11).cast("double") / 100.0).as("l_discount"),
      (pick("l_tx", col("k"), 9).cast("double") / 100.0).as("l_tax"),
      when(col("l_shipdate") > cutoff, lit("N"))
        .otherwise(choice("l_rf", col("k"), Seq("R", "A"))).as("l_returnflag"),
      when(col("l_shipdate") > cutoff, lit("O")).otherwise(lit("F"))
        .as("l_linestatus"),
      col("l_shipdate"))
    save(lineitem, "lineitem")

    save(spark.range(sc.events).select(id.as("event_id"),
      timestamp_micros(unix_micros(to_timestamp(lit("2024-01-01"))) +
        pmod(h("e_ts", id), lit(7L * 86400000000L))).as("ts"),
      pick("e_user", id, 2000).as("user_id"),
      choice("e_ty", id, Seq("view", "view", "click", "purchase", "error",
        "signup")).as("event_type"),
      round(unif("e_val", id) * 200.0, 2).as("value"),
      format_string("{\"k\": %d}", pick("e_k", id, 100)).as("props")),
      "events")

    val docs = documents(sc.docs)
    save(spark.createDataFrame(spark.sparkContext.parallelize(docs.map {
      d => Row(d.id, d.text, d.lang, s"src${d.id % 5}", d.text.length.toLong)
    }.toSeq, 4), StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))), "documents")

    val vecs = vectors(sc.vectors)
    save(spark.createDataFrame(spark.sparkContext.parallelize(vecs.map {
      case (i, v, l) => Row(i, v.toSeq, l)
    }.toSeq, 4), StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType)))), "embeddings")
  }

  final case class Doc(id: Long, text: String, lang: String, nTokens: Int)

  val langs: Seq[String] = Seq("de", "en", "es", "fr", "zh")

  /** Near-duplicate structure the dedup step must find: about 40% of the
    * documents sit in clusters of 2-4 copies of one base text, each copy
    * with one token replaced (3-shingle Jaccard >= 0.7 inside a cluster);
    * tokens come from a 3000-word vocabulary, so unrelated documents share
    * almost no 3-shingles.
    */
  def documents(n: Int): Array[Doc] = {
    val rnd = new scala.util.Random(salt)
    val syll = Seq("ka", "lo", "mi", "nu", "pe", "ra", "si", "to", "vu", "ze",
      "ba", "do", "fi", "gu", "he", "jo")
    val vocab = (0 until 3000).map { i =>
      (0 until 3).map(k => syll((i / math.pow(16, k).toInt) % 16)).mkString +
        syll(i % 7)
    }.distinct
    def text(): Array[String] = Array.fill(40 + rnd.nextInt(30))(
      vocab(rnd.nextInt(vocab.size)))
    val out = mutable.ArrayBuffer.empty[Array[String]]
    while (out.size < n) {
      val base = text()
      val copies = if (rnd.nextDouble() < 0.6) 1 else 2 + rnd.nextInt(3)
      (0 until copies).foreach { c =>
        if (out.size < n) {
          val t = base.clone()
          if (c > 0) t(rnd.nextInt(t.length)) = vocab(rnd.nextInt(vocab.size))
          out += t
        }
      }
    }
    val order = rnd.shuffle(out.indices.toVector)
    order.zipWithIndex.map { case (src, i) =>
      val toks = out(src)
      Doc(i.toLong, toks.mkString(" "), langs(rnd.nextInt(langs.size)),
        toks.length)
    }.toArray
  }

  /** Gaussian clusters around 10 labelled centres. */
  def vectors(n: Int): Array[(Long, Array[Float], Int)] = {
    val rnd = new scala.util.Random(salt + 1)
    val centres = Array.fill(10)(Array.fill(dim)(rnd.nextGaussian().toFloat))
    Array.tabulate(n) { i =>
      val l = rnd.nextInt(10)
      (i.toLong, centres(l).map(c => (c + 0.3 * rnd.nextGaussian()).toFloat), l)
    }
  }

  def writeText(path: String, s: String): Unit =
    Files.write(Paths.get(path), s.getBytes(StandardCharsets.UTF_8))
  def readText(path: String): String =
    new String(Files.readAllBytes(Paths.get(path)), StandardCharsets.UTF_8)
}
