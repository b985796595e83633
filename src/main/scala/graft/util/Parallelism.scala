package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Scale-adaptive scan-parallelism floor.
  *
  * A columnar scan's task count is its SPLIT count, bounded below by
  * `files.openCostInBytes` (4 MB) and parquet row-group boundaries — a
  * corpus that fits in a handful of row groups runs every narrow stage
  * above the scan on 1-3 tasks regardless of core count. `scanFloor`
  * hash-spreads such an input to `defaultParallelism` when — and only
  * when — its partition count is below it; an input with >= parallelism
  * splits is returned untouched, so no exchange is ever added at cluster
  * scale. The key must make the spread deterministic (never round-robin:
  * retried tasks must reproduce their rows).
  *
  * WHERE IT PAYS (measured, r21 sf0.1): stages whose per-row work dwarfs
  * a row's exchange bytes — large-|Q| distance scans (the searcher fit
  * and load paths route through this floor) and row-serialization sinks
  * (CSV/JSON writes). WHERE IT DOES NOT: the text-kernel dedup families —
  * an A/B across 22 gates read +6 s with the floor on their cached inputs
  * (the kernels are cheap at small scale while every downstream consumer
  * of the 32-partition cache pays task overhead); those call sites stay
  * at scan partitioning deliberately.
  */
object Parallelism {

  /** Physical partition count of `df`'s plan, read from the plan's own
    * internal-row RDD (`queryExecution.toRdd` — a lazy val on the plan's
    * QueryExecution) rather than `.rdd`, which additionally builds the
    * external-row conversion lineage on every access. One physical
    * planning of `df` still happens if it wasn't planned yet; the count
    * is the PRE-AQE one (AQE may coalesce at runtime), so it can
    * over-count. For a parallelism FLOOR that means under-firing: a plan
    * that reads at or above the floor here but that AQE later coalesces
    * below it is not spread. That is acceptable: AQE coalesces only
    * tiny partitions, where a spread would not pay. No job is run.
    */
  def planPartitions(df: DataFrame): Int =
    df.queryExecution.toRdd.getNumPartitions

  def scanFloor(df: DataFrame, keyCol: String): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (planPartitions(df) < p) df.repartition(p, col(keyCol)) else df
  }

  /** Scale-adaptive state-store / stream-shuffle partition count for the
    * streaming operators (guide §2: shuffle and state-store sizing).
    * Replaces the pinned `shuffle.partitions = 8` the streaming gates
    * carried — a local-mode constant that is a scale-killer at 100 TB
    * (8 state stores for a stream-stream join on user_id serializes the
    * whole state pass and magnifies any hot key).
    *
    * The count is derived, deterministically, from the SOURCE VOLUME the
    * replay will process: one state partition per `targetBytes` (64 MB
    * default) of input, floored at 8 (measured near-optimal at sf0.1 in
    * r21: 32 stores per batch cost 2-3x the addBatch time, 2 was no
    * better — per-micro-batch state-commit overhead dominates below the
    * floor) and capped at the session's configured parallelism
    * (max(defaultParallelism, shuffle conf)) so the store count never
    * exceeds what the cluster can commit concurrently. A 2 MB sf0.1
    * table still gets 8; a 100 TB table saturates the cluster's
    * configured width. `spark.graft.stream.statePartitions` overrides
    * outright; `spark.graft.stream.stateTargetBytes` tunes the density.
    */
  def streamStatePartitions(spark: SparkSession, src: String): Int = {
    val explicit = spark.conf.get("spark.graft.stream.statePartitions", "")
    if (explicit.nonEmpty) {
      val n = explicit.trim.toIntOption
      require(n.exists(_ >= 1), "spark.graft.stream.statePartitions must be " +
        s"an integer >= 1, got '$explicit'")
      return n.get
    }
    val p = new org.apache.hadoop.fs.Path(src)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(p).getLength
    val target = spark.conf
      .get("spark.graft.stream.stateTargetBytes", (64L << 20).toString).toLong
    val cap = math.max(spark.sparkContext.defaultParallelism,
      spark.sessionState.conf.numShufflePartitions)
    statePartitionsFor(bytes, target, cap)
  }

  /** The pure sizing rule behind [[streamStatePartitions]], split out so a
    * spec can pin the curve without a filesystem. */
  def statePartitionsFor(inputBytes: Long, targetBytes: Long, cap: Int,
      floor: Int = 8): Int = {
    val t = math.max(1L, targetBytes)
    val bySize = (math.max(0L, inputBytes) + t - 1) / t
    math.max(floor.toLong, math.min(bySize, math.max(floor, cap).toLong)).toInt
  }
}
