package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Runs one workload and prints its metrics.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --run-dir <empty dir> --out-dir <dir>
  * }}}
  *
  * Standard output ends with one JSON line: `correct`, `attempted`,
  * `failed` and `metrics` (the end-to-end metrics untraced, the per-layer
  * ones traced). The line before it gives the run's details: the input
  * digest, the tail percentile and the workload's own figures. A traced
  * run also writes its spans to `<out-dir>/trace-<workload>-<seed>.jsonl`.
  * Exits 1 when any check fails. */
object Main {
  /** Set-up runs at least this often, and a cheap one repeats until it
    * has taken `SetUpSeconds`, so its median rests on enough samples. */
  private val MinSetUps = 3
  private val MaxSetUps = 9
  private val SetUpSeconds = 5.0

  /** One measured phase: its wall window and its operations'. */
  private final case class Phase(startMs: Long, endMs: Long, wallNs: Long,
      ops: Seq[(Span, OpResult)])

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String) = args.getOrElse(k, { System.err.println(s"missing --$k"); sys.exit(2) })
    val workload = Workloads.byName(arg("workload")).getOrElse {
      System.err.println(s"unknown workload ${arg("workload")}; known: ${Workloads.all.map(_.name).mkString(", ")}")
      sys.exit(2)
    }
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toInt
    val traced = arg("trace") == "1"
    val runDir = Paths.get(arg("run-dir"))
    require(Files.isDirectory(runDir) && Files.list(runDir).findAny().isEmpty,
      s"run directory $runDir must exist and be empty")

    def progress(what: String): Unit = System.err.println(
      f"perfbench: $what at ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s")
    val spark = session(runDir)
    progress("session up")
    val trace = new Trace
    spark.sparkContext.addSparkListener(trace)
    val ctx = new Ctx(spark, trace, runDir)

    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    var digest = ""
    var setupS = Seq.empty[Double]
    var phases = Seq.empty[Phase]
    var epilogue = Option.empty[OpResult]
    try {
      digest = workload.generate(spark, seed)
      progress("inputs generated")
      // A traced run records spans over set-up, the first measured phase
      // and the epilogue. The reported phase always runs first after
      // set-up, so per-layer figures describe the same conditions as
      // end-to-end ones. A traced run then repeats the phase untraced; the
      // repeat runs warmer, so the difference bounds the tracing overhead
      // from above.
      trace.tracing = traced
      val setups = scala.collection.mutable.ArrayBuffer.empty[Double]
      while (setups.size < MinSetUps || (setups.size < MaxSetUps && setups.sum < SetUpSeconds)) {
        val t0 = System.nanoTime(); workload.setUp(ctx); setups += (System.nanoTime() - t0) / 1e9
      }
      setupS = setups.toSeq
      progress("set up")
      trace.tracing = false
      workload.prepare(ctx)
      progress("prepared")
      val n = workload.ops(seconds)
      trace.tracing = traced
      phases = Seq(phase(ctx, workload, n))
      if (traced) {
        trace.tracing = false
        phases :+= phase(ctx, workload, n)
        trace.tracing = true
        epilogue = workload.epilogue(ctx)
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        failures += s"run aborted: $e"
    } finally spark.stop() // drains the listener bus: every event is in
    progress("measured and stopped")

    val results = phases.flatMap(_.ops.map(_._2)) ++ epilogue
    val attempted = math.max(1, results.size)
    failures ++= results.flatMap(_.failures)
    val failedOps = math.min(attempted,
      results.count(_.failures.nonEmpty) + (if (phases.isEmpty) 1 else 0))
    failures.take(20).foreach(f => System.err.println(s"CHECK FAILED: $f"))

    val metrics: Seq[(String, Double, String)] =
      if (phases.isEmpty) Nil
      else if (!traced) endToEnd(phases.head, setupS, attempted, failedOps, trace)
      else {
        val (m, coverage) = perLayer(phases.head, phases(1), trace, ctx)
        if (coverage < 0.9) failures += f"spans cover $coverage%.3f of the traced phase, below 0.9"
        writeSpans(Paths.get(arg("out-dir")), workload.name, seed, trace)
        m
      }

    val p = phases.headOption.map(_.ops.map(_._1.wallMs)).getOrElse(Nil)
    val details = Seq(
      "workload" -> Json.str(workload.name), "seed" -> seed.toString,
      "inputs_sha256" -> Json.str(digest), "ops" -> p.size.toString,
      "tail_percentile" -> Stats.tail(p).map(t => Json.num(t._1)).getOrElse("null"),
      "setup_runs_s" -> setupS.map(Json.num).mkString("[", ",", "]"),
      "batch_ms" -> p.map(Json.num).mkString("[", ",", "]")) ++
      ctx.noted.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }
    println(Json.obj(details))
    val correct = failures.isEmpty
    println(Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> attempted.toString,
      "failed" -> (if (correct) "0" else math.max(1, failedOps).toString),
      "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }))))
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }

  private def session(runDir: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def phase(ctx: Ctx, w: Workload, n: Int): Phase = {
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    w.begin(ctx)
    val ops = (0 until n).map { i =>
      val s0 = System.currentTimeMillis()
      val o0 = System.nanoTime()
      val r = w.op(ctx, i)
      (Span("op", s0, System.currentTimeMillis(), System.nanoTime() - o0), r)
    }
    Phase(startMs, System.currentTimeMillis(), System.nanoTime() - t0, ops)
  }

  private def endToEnd(ph: Phase, setupS: Seq[Double], attempted: Int, failed: Int,
      trace: Trace): Seq[(String, Double, String)] = {
    val lat = ph.ops.map(_._1.wallMs)
    val recalls = ph.ops.flatMap(_._2.recalls)
    val p50 = Stats.kindMedian(ph.ops.map(o => o._2.kind -> o._1.wallMs))
    val values = Map(
      "setup_s" -> Stats.median(setupS),
      "batch_p50_ms" -> p50,
      // too few batches for a tail: report the p50 rather than a sample
      "batch_tail_ms" -> Stats.tail(lat).map(_._2).getOrElse(p50),
      "items_per_s" -> ph.ops.map(_._2.items).sum / (ph.wallNs / 1e9),
      "recall" -> (if (recalls.isEmpty) 0.0 else recalls.sum / recalls.size),
      "ok_share" -> (attempted - failed).toDouble / attempted,
      "jobs_per_batch" -> ph.ops.map(o => trace.jobsIn(o._1.startMs, o._1.endMs)).sum.toDouble / ph.ops.size)
    Metrics.endToEnd.map(d => (d.name, values(d.name), d.unit))
  }

  /** Per-layer metrics from the spans of set-up and the traced phase, and
    * the share of the traced phase its spans cover. */
  private def perLayer(traced: Phase, untraced: Phase, trace: Trace,
      ctx: Ctx): (Seq[(String, Double, String)], Double) = {
    val byName = trace.recorded.groupBy(_.name)
    val values = scala.collection.mutable.Map.empty[String, Double]
    Metrics.spans.foreach { s =>
      val occ = byName.getOrElse(s, Nil)
      val cs = occ.map(trace.counters)
      def mean(f: SpanCounters => Double) = if (occ.isEmpty) 0.0 else cs.map(f).sum / occ.size
      values(s"$s.wall_ms") = if (occ.isEmpty) 0.0 else occ.map(_.wallMs).sum / occ.size
      values(s"$s.jobs") = mean(_.jobs)
      values(s"$s.driver_ms") = mean(_.driverMs)
      values(s"$s.task_cpu_ms") = mean(_.taskCpuMs)
      values(s"$s.shuffle_bytes") = mean(_.shuffleBytes.toDouble)
      values(s"$s.gc_ms") = mean(_.gcMs)
    }
    val inPhase = trace.recorded.filter(s => s.startMs >= traced.startMs && s.endMs <= traced.endMs)
    val coverage = inPhase.map(_.wallNs).sum.toDouble / traced.wallNs
    val noted = ctx.noted
    values("search.save.disk_mb") = noted.getOrElse("index_disk_mb", 0.0)
    values("search.load.cache_mb") = noted.getOrElse("cache_mb", 0.0)
    values("trace.overhead_ms") = (traced.wallNs - untraced.wallNs) / 1e6 / traced.ops.size
    values("trace.span_coverage") = coverage
    (Metrics.perLayer.map(d => (d.name, values(d.name), d.unit)), coverage)
  }

  private def writeSpans(dir: Path, workload: String, seed: Long, trace: Trace): Unit = {
    Files.createDirectories(dir)
    val lines = trace.recorded.map { s =>
      val c = trace.counters(s)
      Json.obj(Seq("name" -> Json.str(s.name),
        "start_ms" -> s.startMs.toString, "end_ms" -> s.endMs.toString,
        "wall_ms" -> Json.num(s.wallMs), "jobs" -> c.jobs.toString,
        "driver_ms" -> Json.num(c.driverMs), "task_cpu_ms" -> Json.num(c.taskCpuMs),
        "shuffle_bytes" -> c.shuffleBytes.toString, "gc_ms" -> Json.num(c.gcMs)))
    }
    Files.write(dir.resolve(s"trace-$workload-$seed.jsonl"),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** Just enough JSON writing for the result lines. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
