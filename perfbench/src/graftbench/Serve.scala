package graftbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, Row}
import graft.core.{Catalog, Positional}

/** The `serve` workload: a catalog over a durable warehouse holds
  * `lineitem` (cube and pairs layouts), `orders` (ranged layout) and
  * `embeddings` (PQ layout). The operations repeat in a fixed order of
  * thirteen (six reads, five writes, `OPTIMIZE` and `VACUUM`), at least
  * once and then until the time is up. The seed draws the SQL literals,
  * keys and values; each operation keeps its plan shape.
  * Every read is compared with the same SQL over the live session state,
  * planned without the catalog's routes.
  */
object Serve {
  final case class State(cat: Catalog, root: String, dir: String)

  val tables = Seq(
    ("li", "lineitem", Seq("l_orderkey", "l_linenumber")),
    ("ord", "orders", Seq("o_orderkey")),
    ("emb", "embeddings", Seq("vec_id")))

  def du(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  private def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally s.close()
  }

  /** Copies the sources (OPTIMIZE rewrites them), opens the three sessions
    * and builds the four layouts.
    */
  def build(r: Run, dir: String, root: String): State = {
    val src = Paths.get(root, "src")
    tables.foreach { case (_, t, _) =>
      copyTree(Paths.get(dir, s"$t.parquet"), src.resolve(s"$t.parquet")) }
    val cat = new Catalog(r.spark, Some(s"$root/warehouse"))
    tables.foreach { case (n, t, keys) =>
      r.span("positional.attach")(cat.open(n, s"$src/$t.parquet", keys)) }
    r.span("catalog.build") {
      cat.buildCubeLayout("li", Seq("l_returnflag", "l_linestatus"),
        Seq("l_quantity", "l_extendedprice"))
      cat.buildPairsLayout("li", Seq("l_returnflag", "l_linestatus"), "l_suppkey")
      cat.buildRangedLayout("ord", "o_totalprice", files = 8, idCol = Some("o_orderkey"))
      cat.buildPqLayout("emb", "vec_id", "embedding")
    }
    State(cat, root, dir)
  }

  def run(r: Run, st: State, seconds: Double, check: Boolean): Unit = {
    val spark = r.spark
    val cat = st.cat
    val rnd = r.rnd
    val vecs = Analytics.vectorsFor(spark, st.dir)
    val groups = Seq("l_returnflag", "l_linestatus")
    val flagValues = Map("l_returnflag" -> Seq("A", "N", "R"),
      "l_linestatus" -> Seq("F", "O"))

    /** A read, timed as one operation; counts toward the routed share when
      * it leaves at least one layout decision in `Catalog.recentRoutes` (an
      * SQL read that falls back to the live view records none).
      */
    def read(plan: => DataFrame): Option[Array[Row]] = {
      val before = cat.recentRoutes.lastOption
      r.count("routes.reads", 1)
      val got = r.op("read") {
        val df = r.span("catalog.read_plan")(plan)
        r.span("catalog.read_exec")(df.collect())
      }
      if (got.isDefined) {
        val after = cat.recentRoutes
        val fresh = before.fold(after)(last => after.drop(after.lastIndexWhere(_ eq last) + 1))
        if (fresh.exists(_.decision == "layout")) r.count("routes.layout_reads", 1)
      }
      got
    }

    /** A read whose SQL names sessions as `{li}`; the check substitutes
      * temp views over the sessions' live state, planned by Spark alone.
      */
    def sqlRead(template: String): Unit = {
      val text = template.replace("{li}", "li").replace("{ord}", "ord")
      read(cat.sql(text)).foreach { got =>
        if (check) r.verify(s"serve read equals live: $text") {
          tables.take(2).foreach { case (n, _, _) =>
            Positional.strip(cat.get(n).get.current).createOrReplaceTempView(s"live_$n") }
          val live = spark.sql(template.replace("{li}", "live_li")
            .replace("{ord}", "live_ord")).collect()
          Canon.digest(got.map(Canon.row)) == Canon.digest(live.map(Canon.row))
        }
      }
    }

    def topK(): Unit = {
      val (_, base, _) = vecs(rnd.nextInt(vecs.length))
      val q = base.map(x => (x + 0.1 * rnd.nextGaussian()).toFloat).toSeq
      read(cat.topK("emb", "vec_id", "embedding", q, 10)).foreach { got =>
        if (check) r.verify("serve topK equals the live PQ top-k") {
          val live = graft.operators.Similarity.pqTopK(
            Positional.strip(cat.get("emb").get.current), "vec_id", "embedding", q, 10)
          got.map(Canon.row).toSeq == live.collect().map(Canon.row).toSeq
        }
      }
    }

    // the seed draws literals only; each read keeps one plan shape
    def cubeRead(g: String): Unit = {
      val o = groups.find(_ != g).get
      val vs = flagValues(o)
      sqlRead(s"""SELECT $g, count(*) AS n,
        |  CAST(sum(CAST(round(l_quantity, 6) AS DECIMAL(38,6))) AS DOUBLE) AS qty,
        |  min(l_extendedprice) AS lo, max(l_extendedprice) AS hi
        |FROM {li} WHERE $o = '${vs(rnd.nextInt(vs.size))}' GROUP BY $g""".stripMargin)
    }
    def rollupRead(): Unit =
      sqlRead(s"""SELECT coalesce(l_returnflag, '(all)') AS a,
        |  coalesce(l_linestatus, '(all)') AS b,
        |  CAST(grouping_id() AS INT) AS gid, count(*) AS n,
        |  CAST(sum(CAST(round(l_extendedprice, 6) AS DECIMAL(38,6))) AS DOUBLE) AS rev
        |FROM {li} GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |HAVING count(*) > ${rnd.nextInt(100)}""".stripMargin)
    def distinctRead(): Unit =
      sqlRead("SELECT l_returnflag, count(DISTINCT l_suppkey) AS cd FROM {li} GROUP BY l_returnflag")
    def rangeRead(): Unit = {
      val lo = 1000 + rnd.nextInt(480000)
      val hi = lo + 2000 + rnd.nextInt(20000)
      sqlRead(s"""SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM {ord} WHERE o_totalprice BETWEEN $lo.0 AND $hi.0
        |GROUP BY o_orderstatus""".stripMargin)
    }

    def write(table: String, dml: String): Unit =
      r.op("write") {
        r.span("catalog.dml")(cat.sql(dml).collect())
        r.span("catalog.refresh")(cat.sql(s"REFRESH TABLE $table").collect())
      }
    var nextKey = 0L
    def key(): Long = { nextKey += 1; nextKey }
    def price(): String = f"${1000 + rnd.nextInt(480000)}.${rnd.nextInt(100)}%02d"
    def order(): Long = rnd.nextInt(Data.full.orders).toLong
    def liRow(k: Long, ln: Int): String =
      s"($k, ${rnd.nextInt(20000)}, ${rnd.nextInt(1000)}, $ln, " +
        s"${1 + rnd.nextInt(50)}.0, ${price()}, 0.0${rnd.nextInt(10)}, " +
        s"0.0${rnd.nextInt(9)}, '${Seq("A", "N", "R")(rnd.nextInt(3))}', " +
        s"'${Seq("F", "O")(rnd.nextInt(2))}', TIMESTAMP '1996-0${1 + rnd.nextInt(9)}-15 00:00:00')"
    def maint(stmt: String): Unit =
      r.op("maint")(r.span("catalog.maint")(cat.sql(stmt).collect()))

    // one write per refresh path (cube/pairs value edit, retraction, insert
    // merge; ranged id edit; PQ revalidation) and both maintenance
    // statements run once per sequence; reads follow writes to their tables
    val sequence: Seq[() => Unit] = Seq(
      () => cubeRead("l_returnflag"),
      () => write("li", s"UPDATE li SET l_quantity = ${1 + rnd.nextInt(50)}.0 " +
        s"WHERE l_orderkey = ${order()}"),
      () => rollupRead(),
      () => write("li", s"DELETE FROM li WHERE l_orderkey = ${order()}"),
      () => distinctRead(),
      () => write("ord", s"UPDATE ord SET o_orderkey = ${10000000L + key()} " +
        s"WHERE o_orderkey = ${order()}"),
      () => rangeRead(),
      () => maint("OPTIMIZE ord"),
      () => write("emb", s"UPDATE emb SET label = ${rnd.nextInt(10)} " +
        s"WHERE vec_id = ${rnd.nextInt(vecs.length)}"),
      () => topK(),
      () => { val k = 20000000L + key()
        write("li", s"INSERT INTO li VALUES ${(1 to 3).map(liRow(k, _)).mkString(", ")}") },
      () => cubeRead("l_linestatus"),
      () => maint("VACUUM RETAIN 0 HOURS"))
    r.loop(seconds, sequence.size)(i => sequence(i % sequence.size)())
    val src = Paths.get(st.root, "src")
    r.series("catalog.bytes_per_user_byte") +=
      (du(src) + du(Paths.get(st.root, "warehouse"))).toDouble / math.max(1L, du(src))
  }
}
