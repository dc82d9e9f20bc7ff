package graftbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Entry points: `prepare <full> <small> <work>` generates the input tables
  * and the analytics expectations once; `run --workload ... --seed ...
  * --seconds ... --trace 0|1 ...` measures one workload and prints one JSON
  * result as its last line of standard output.
  */
object Main {
  val opKinds = Seq("open", "cell_edit", "row_edit", "save", "read", "write", "maint", "pass")
  val analyticsSteps: Seq[String] = Analytics.steps.map(s => s"${s.layer}.${s.name}_ms")

  /** Each per-layer metric and the end-to-end figure it should move. */
  val layerTargets: Seq[(String, String)] = Seq(
    "positional.attach_ms" -> "open_ms.p50 (editor), setup_s (serve)",
    "session.gesture_call_ms" -> "cell_edit_ms, row_edit_ms (editor)",
    "session.page_ms" -> "cell_edit_ms, row_edit_ms (editor)",
    "session.checkpoint_ms" -> "row_edit_ms (editor)",
    "session.plan_nodes" -> "cell_edit_ms, row_edit_ms (editor)",
    "io.save_ms" -> "save_ms.p50 (editor)",
    "io.bytes_written" -> "save_ms.p50 (editor)",
    "catalog.dml_ms" -> "write_ms (serve)",
    "catalog.refresh_ms" -> "write_ms (serve)",
    "catalog.read_plan_ms" -> "read_ms (serve)",
    "catalog.read_exec_ms" -> "read_ms (serve)",
    "catalog.routed_share" -> "read_ms (serve)",
    "catalog.maint_ms" -> "maint_ms, ops_per_s (serve)",
    "catalog.bytes_per_user_byte" -> "read_ms, heap_live_mb (serve)") ++
    Seq("analysis", "optimizer", "planning").flatMap(p =>
      opKinds.map(o => s"plans.${p}_ms.$o" -> s"${o}_ms")) ++
    Seq("jobs", "stages", "tasks", "task_ms", "driver_ms", "scan_rows", "shuffle_bytes")
      .flatMap(m => opKinds.map(o => s"spark.$m.$o" -> s"${o}_ms")) ++
    analyticsSteps.map(_ -> "pass_ms (analytics)") ++
    Seq("jvm.gc_ms" -> "op_ms.p50", "trace.overhead_ms" -> "(tracing cost)")

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("prepare") => prepare(args(1), args(2), args(3))
    case Some("train") => train(args(1), args(2))
    case Some("run") => run(args.drop(1))
    case _ => System.err.println("usage: prepare <full> <small> <work> | train <small> <work> | run --workload ..."); sys.exit(2)
  }

  def session(cores: Int, runDir: String, engine: Boolean = true): SparkSession = {
    val b = SparkSession.builder()
    if (engine) b.withExtensions(new graft.plans.GraftExtensions)
    val spark = b
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def prepare(full: String, small: String, work: String): Unit = {
    // the expectations are planned by Spark alone, without the engine's rules
    val spark = session(Runtime.getRuntime.availableProcessors, work, engine = false)
    try {
      Data.generate(spark, small, Data.small)
      Data.generate(spark, full, Data.full)
      Data.writeText(s"$full/expected.tsv", Analytics.expectedTsv(spark, full))
      Seq(full, small).foreach(d => Data.writeText(s"$d/READY", Data.version))
    } finally spark.stop()
  }

  /** Runs every workload's warmup once, so that the JVM can archive the
    * classes they load (class data sharing) and later runs start faster.
    */
  def train(small: String, work: String): Unit = {
    val spark = session(Runtime.getRuntime.availableProcessors, work)
    try Seq("editor", "serve", "analytics").foreach { w =>
      warmup(spark, Cfg(w, 0L, 0, trace = false, small, small, work, work, 0))
    } finally spark.stop()
  }

  private def loadAvg(): Double =
    try Data.readText("/proc/loadavg").split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  private def cpuSeconds(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => -1.0
  }

  def run(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cfg = Cfg(kv("workload"), kv("seed").toLong, kv("seconds").toInt,
      kv("trace") == "1", kv("data"), kv("small"), kv("run-dir"), kv("trace-dir"),
      kv("cores").toInt)
    require(Seq("editor", "serve", "analytics").contains(cfg.workload),
      s"unknown workload ${cfg.workload}")
    val load0 = loadAvg()
    val t0 = System.nanoTime()
    val spark = session(cfg.cores, cfg.runDir)
    val sparkStartS = (System.nanoTime() - t0) / 1e9
    try {
      val out = measure(spark, cfg, sparkStartS)
      val context = Json.obj("workload" -> cfg.workload, "seed" -> cfg.seed,
        "nproc" -> Runtime.getRuntime.availableProcessors, "local_n" -> cfg.cores,
        "seconds" -> cfg.seconds, "trace" -> cfg.trace, "commit" -> kv.getOrElse("commit", "unknown"),
        "spark" -> spark.version, "jvm" -> System.getProperty("java.version"),
        "load_before" -> load0, "load_after" -> loadAvg(), "cpu_s" -> cpuSeconds())
      println(Json.obj("context" -> context, "detail" -> out.detail))
      out.table.foreach(println)
      println(Json.obj("correct" -> (out.failed == 0 && out.attempted > 0),
        "attempted" -> out.attempted, "failed" -> out.failed,
        "metrics" -> Json.Raw(out.metrics.map { case (k, (v, u)) =>
          s"${Json.str(k)}:${Json.obj("value" -> v, "unit" -> u)}" }.mkString("{", ",", "}"))))
    } finally spark.stop()
  }

  final case class Outcome(attempted: Long, failed: Long,
                           metrics: Seq[(String, (Double, String))],
                           detail: Json.Raw, table: Seq[String])

  private def timeS(f: => Unit): Double = { val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9 }

  /** One closed-loop run of the workload on fresh state; serve runs on
    * `state` when one was built during set-up, else builds one (traced when
    * the loop is).
    */
  private def loopOnce(spark: SparkSession, cfg: Cfg, tracer: Option[Tracer],
                       state: Option[Serve.State]): Run = {
    val r = new Run(spark, cfg, tracer)
    cfg.workload match {
      case "editor" => Editor.run(r, cfg.dataDir, cfg.seconds, check = true)
      case "analytics" => Analytics.run(r, cfg.dataDir, cfg.seconds, check = true)
      case "serve" =>
        val st = state.getOrElse(Serve.build(r, cfg.dataDir,
          s"${cfg.runDir}/serve-${if (tracer.isDefined) "traced" else "again"}"))
        Serve.run(r, st, cfg.seconds, check = true)
    }
    r
  }

  /** One pass of the workload's operation sequence on the small tables
    * with the run's own seed, so that the same plan shapes are compiled:
    * class loading, JIT and codegen caches. Serve builds a small catalog
    * for it.
    */
  def warmup(spark: SparkSession, cfg: Cfg): Unit = {
    val warm = new Run(spark, cfg, None)
    cfg.workload match {
      case "editor" => Editor.run(warm, cfg.smallDir, 0, check = false)
      case "analytics" => Analytics.run(warm, cfg.smallDir, 0, check = false)
      case "serve" =>
        Serve.run(warm, Serve.build(warm, cfg.smallDir, s"${cfg.runDir}/serve-warm"), 0, check = false)
    }
  }

  /** The run's latencies and set-up components, for the detail line. */
  private def detailOf(r: Run, setup: Seq[(String, Double)]): Json.Raw = {
    val lat = r.latencies.map(_._2).toSeq
    val detail = mutable.LinkedHashMap[String, Any](setup: _*)
    detail ++= Seq("op_ms.n" -> lat.size,
      "measured_s" -> r.measuredS, "steps" -> r.counters("steps"),
      "op_ms" -> Json.Raw(r.latencies.map { case (k, ms) =>
        Json.str(f"$k:$ms%.0f") }.mkString("[", ",", "]")))
    r.seriesMap.filter(_._1.startsWith("step_ms.")).foreach { case (k, v) =>
      detail(k) = Stats.median(v.toSeq) }
    // per-kind latencies (open_ms, cell_edit_ms, read_ms, ...)
    r.latencies.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (k, xs) =>
      val v = xs.map(_._2).toSeq
      detail ++= Seq(s"${k}_ms.p50" -> Stats.median(v), s"${k}_ms.n" -> v.size)
    }
    Json.map(detail)
  }

  def measure(spark: SparkSession, cfg: Cfg, sparkStartS: Double): Outcome = {
    // a batch pass runs in a fresh JVM: analytics measures it cold
    val warmS = if (cfg.workload == "analytics") 0.0 else timeS(warmup(spark, cfg))
    // serve is measured on a state built after the warmup, so its build runs warm
    var state: Option[Serve.State] = None
    val buildS = if (cfg.workload != "serve") 0.0 else timeS {
      state = Some(Serve.build(new Run(spark, cfg, None), cfg.dataDir, s"${cfg.runDir}/serve")) }
    val setup = Seq("spark_start_s" -> sparkStartS, "warmup_s" -> warmS, "state_build_s" -> buildS)

    val plain = loopOnce(spark, cfg, None, state)
    val lat = plain.latencies.map(_._2).toSeq
    if (!cfg.trace) {
      Outcome(plain.attempted, plain.failed, Seq(
        "setup_s" -> (setup.map(_._2).sum, "s"),
        "ops_per_s" -> (lat.size / plain.measuredS, "1/s"),
        "op_ms.p50" -> (Stats.median(lat), "ms"),
        "heap_live_mb" -> (plain.heapPeakMb, "MB")), detailOf(plain, setup), Nil)
    } else {
      // the traced loop follows a full-size one, and the overhead baseline
      // runs after it, equally warm
      val tracer = new Tracer(spark)
      val traced = try loopOnce(spark, cfg, Some(tracer), None)
        finally tracer.close()
      val again = loopOnce(spark, cfg, None, None)
      new java.io.File(cfg.traceDir).mkdirs()
      tracer.writeJsonl(s"${cfg.traceDir}/${cfg.workload}-seed${cfg.seed}.spans.jsonl")
      val (metrics, table) = layerMetrics(traced, tracer, again)
      Outcome(plain.attempted + traced.attempted + again.attempted,
        plain.failed + traced.failed + again.failed,
        metrics, detailOf(plain, setup), table)
    }
  }

  private def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def layerMetrics(r: Run, t: Tracer, baseline: Run): (Seq[(String, (Double, String))], Seq[String]) = {
    val byName = t.spans.groupBy(_.name)
    def spanMs(n: String) = mean(byName.getOrElse(n, Nil).map(_.ms))
    def series(n: String) = mean(r.seriesMap.getOrElse(n, Nil))
    val m = mutable.LinkedHashMap.empty[String, (Double, String)]
    m("positional.attach_ms") = (spanMs("positional.attach"), "ms")
    m("session.gesture_call_ms") = (spanMs("session.gesture"), "ms")
    m("session.page_ms") = (spanMs("session.page"), "ms")
    m("session.checkpoint_ms") = (series("session.checkpoint_ms"), "ms")
    m("session.plan_nodes") = (series("session.plan_nodes"), "count")
    m("io.save_ms") = (spanMs("io.save"), "ms")
    m("io.bytes_written") = (series("io.bytes_written"), "bytes")
    Seq("dml", "refresh", "read_plan", "read_exec", "maint").foreach { k =>
      m(s"catalog.${k}_ms") = (spanMs(s"catalog.$k"), "ms") }
    m("catalog.routed_share") = (r.counters("routes.layout_reads") /
      math.max(1.0, r.counters("routes.reads")), "ratio")
    m("catalog.bytes_per_user_byte") = (series("catalog.bytes_per_user_byte"), "ratio")
    val byKind = r.work.groupBy(_._1)
    def perOp(o: String)(f: (SparkWork, Double) => Double): Double =
      byKind.get(o).fold(0.0)(ws => ws.map { case (_, w, d) => f(w, d) }.sum / ws.size)
    Seq[(String, SparkWork => Long)]("analysis" -> (_.analysisMs),
      "optimizer" -> (_.optimizerMs), "planning" -> (_.planningMs))
      .foreach { case (p, f) => opKinds.foreach(o =>
        m(s"plans.${p}_ms.$o") = (perOp(o)((w, _) => f(w).toDouble), "ms")) }
    Seq[(String, String, (SparkWork, Double) => Double)](
      ("jobs", "count", (w, _) => w.jobs.toDouble), ("stages", "count", (w, _) => w.stages.toDouble),
      ("tasks", "count", (w, _) => w.tasks.toDouble), ("task_ms", "ms", (w, _) => w.taskMs.toDouble),
      ("driver_ms", "ms", (_, d) => d), ("scan_rows", "rows", (w, _) => w.scanRows.toDouble),
      ("shuffle_bytes", "bytes", (w, _) => w.shuffleBytes.toDouble)).foreach { case (k, u, f) =>
      opKinds.foreach(o => m(s"spark.$k.$o") = (perOp(o)(f), u)) }
    Analytics.steps.foreach { s =>
      m(s"${s.layer}.${s.name}_ms") = (spanMs(s"${s.layer}.${s.name}"), "ms") }
    m("jvm.gc_ms") = (r.counters("jvm.gc_ms_total") / math.max(1, r.latencies.size), "ms")
    m("trace.overhead_ms") = (mean(r.latencies.map(_._2)) - mean(baseline.latencies.map(_._2)), "ms")

    // self-time table: every span name, its total and self time, and the
    // share of operation wall time its layer covers
    val self = t.selfMs
    val opWall = t.spans.filter(_.name.startsWith("op.")).map(_.ms).sum
    val targets = layerTargets.toMap
    val rows = byName.toSeq.sortBy(-_._2.map(_.ms).sum).map { case (n, ss) =>
      val tot = ss.map(_.ms).sum; val sf = ss.map(s => self(s.id)).sum
      val metric = Some(if (n == "session.gesture") "session.gesture_call_ms"
        else if (n.startsWith("op.")) s"spark.driver_ms.${n.drop(3)}" else s"${n}_ms")
        .filter(targets.contains)
      f"#   $n%-28s calls=${ss.size}%6d total_ms=$tot%10.1f self_ms=$sf%10.1f " +
        f"self_share=${if (opWall > 0) 100 * sf / opWall else 0.0}%5.1f%% -> " +
        metric.map(k => s"$k -> ${targets(k)}").getOrElse("")
    }
    val cover = t.spans.filter(_.name.startsWith("op.")).groupBy(_.name).toSeq.sortBy(_._1).map {
      case (n, ss) =>
        val tot = ss.map(_.ms).sum; val sf = ss.map(s => self(s.id)).sum
        f"#   $n%-28s ops=${ss.size}%6d wall_ms=$tot%10.1f covered_by_layer_spans=${100 * (tot - sf) / math.max(1e-9, tot)}%5.1f%%"
    }
    (m.toSeq, Seq("# self-time by span (traced run)") ++ rows ++
      Seq("# layer-span coverage of each operation kind") ++ cover)
  }
}

/** Just enough JSON for the result lines. */
object Json {
  final case class Raw(s: String) { override def toString: String = s }
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString } + "\""
  def value(v: Any): String = v match {
    case r: Raw => r.s
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case other => str(other.toString)
  }
  def obj(kv: (String, Any)*): Raw = Raw(kv.map { case (k, v) => s"${str(k)}:${value(v)}" }
    .mkString("{", ",", "}"))
  def map(m: collection.Map[String, Any]): Raw = obj(m.toSeq: _*)
}
