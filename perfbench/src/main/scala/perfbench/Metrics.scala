package perfbench

/** The metric catalogue. `BENCHMARK.json` lists the same names, units and
  * directions; `HarnessSpec` keeps the two in step. */
object Metrics {
  final case class Def(name: String, unit: String, better: String)

  /** Reported by every untraced run. The workload decides what one
    * operation ("batch") and one item are; see [[Workload]]. */
  val endToEnd: Seq[Def] = Seq(
    Def("setup_s", "s", "lower"),
    Def("batch_p50_ms", "ms", "lower"),
    Def("batch_tail_ms", "ms", "lower"),
    Def("items_per_s", "1/s", "higher"),
    Def("recall", "ratio", "higher"),
    Def("ok_share", "ratio", "higher"),
    Def("jobs_per_batch", "count", "lower"))

  /** Span names, one per public engine call the benchmark makes. Every
    * traced run reports all of them; a span the workload never opens
    * reads 0. */
  val spans: Seq[String] = {
    val families = Seq("flat", "ivf", "pq", "hnsw")
    Seq("fit", "save", "load", "add").flatMap(op => families.map(f => s"search.$op.$f")) ++
      Seq("search.compact.hnsw") ++
      Seq("plan", "execute").flatMap(op => families.map(f => s"search.$op.$f")) ++
      Seq("dedup.pairs", "dedup.cc", "dedup.drop")
  }

  private def kind(span: String): String = span.split('.')(1)

  /** The counters a span reports. Wall time, job count and driver time
    * everywhere; task CPU where executors do the work; shuffle bytes where
    * data is redistributed; GC time where the whole input is processed. */
  def countersOf(span: String): Seq[String] = {
    val k = if (span.startsWith("dedup.")) "dedup" else kind(span)
    Seq("wall_ms", "jobs", "driver_ms") ++
      (if (Set("fit", "execute", "dedup")(k)) Seq("task_cpu_ms") else Nil) ++
      (if (Set("fit", "add", "compact", "dedup")(k)) Seq("shuffle_bytes") else Nil) ++
      (if (Set("fit", "dedup")(k)) Seq("gc_ms") else Nil)
  }

  private val counterUnit = Map("wall_ms" -> "ms", "jobs" -> "count", "driver_ms" -> "ms",
    "task_cpu_ms" -> "ms", "shuffle_bytes" -> "bytes", "gc_ms" -> "ms")

  /** Layer gauges that are not span counters. */
  val gauges: Seq[Def] = Seq(
    Def("search.save.disk_mb", "MB", "lower"),
    Def("search.load.cache_mb", "MB", "lower"),
    Def("trace.overhead_ms", "ms", "lower"),
    Def("trace.span_coverage", "ratio", "higher"))

  /** Reported by every traced run. Span counters are means per call. */
  val perLayer: Seq[Def] =
    spans.flatMap(s => countersOf(s).map(c => Def(s"$s.$c", counterUnit(c), "lower"))) ++ gauges
}
