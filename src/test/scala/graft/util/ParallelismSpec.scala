package graft.util

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins the r22 parallelism helpers: the plan-level partition probe the
  * floor decisions read (no `.rdd` external conversion in the floor path)
  * and the scale-adaptive state-store sizing rule that replaced the
  * streaming gates' pinned shuffle=8. */
class ParallelismSpec extends SparkSpec {

  test("planPartitions matches the physical partition count, floor spreads below parallelism only") {
    val df = spark.range(1000).toDF("id").coalesce(2)
    assert(Parallelism.planPartitions(df) == 2)
    val p = spark.sparkContext.defaultParallelism
    val floored = Parallelism.scanFloor(df, "id")
    assert(Parallelism.planPartitions(floored) == p)
    // already-wide input returned untouched: no exchange added at scale
    val wide = spark.range(1000).toDF("id").repartition(p + 3, col("id"))
    assert(Parallelism.scanFloor(wide, "id") eq wide)
    // row set unchanged by the spread
    assert(floored.agg(sum("id")).head.getLong(0)
      == df.agg(sum("id")).head.getLong(0))
  }

  test("statePartitionsFor: floor 8 locally, grows with input volume, capped by configured parallelism") {
    val MB = 1L << 20
    // sf0.1 shape: 2 MB of events at 64 MB/partition -> the measured-
    // optimal local floor, NOT the core count
    assert(Parallelism.statePartitionsFor(2 * MB, 64 * MB, cap = 32) == 8)
    // mid scale: one store per 64 MB once volume warrants it
    assert(Parallelism.statePartitionsFor(1024 * MB, 64 * MB, cap = 32) == 16)
    // large scale saturates the configured width, never exceeds it
    assert(Parallelism.statePartitionsFor(100L * 1024 * 1024 * MB, 64 * MB,
      cap = 4000) == 4000)
    // cap below the floor: the floor wins (8 stores on 4 cores is the
    // pre-r22 pinned behavior, kept for low-core bench comparability)
    assert(Parallelism.statePartitionsFor(2 * MB, 64 * MB, cap = 4) == 8)
    // degenerate inputs stay sane: empty source -> floor; a zero/negative
    // target clamps to 1 byte, so the size rule saturates the cap
    assert(Parallelism.statePartitionsFor(0, 64 * MB, cap = 32) == 8)
    assert(Parallelism.statePartitionsFor(2 * MB, 0, cap = 32) == 32)
  }

  test("streamStatePartitions reads source bytes through the path's FileSystem and honors the override conf") {
    val dir = java.nio.file.Files.createTempDirectory("graft-spart").toString
    spark.range(100).toDF("id").coalesce(1).write.mode("overwrite").parquet(dir)
    // a few-KB parquet dir -> local floor
    assert(Parallelism.streamStatePartitions(spark, dir) == 8)
    spark.conf.set("spark.graft.stream.statePartitions", "13")
    try assert(Parallelism.streamStatePartitions(spark, dir) == 13)
    finally spark.conf.unset("spark.graft.stream.statePartitions")
  }

  test("streamStatePartitions rejects an override that is not an integer >= 1, naming the key") {
    val dir = java.nio.file.Files.createTempDirectory("graft-spart-bad").toString
    spark.range(10).toDF("id").coalesce(1).write.mode("overwrite").parquet(dir)
    for (bad <- Seq("abc", "0", "-3")) {
      spark.conf.set("spark.graft.stream.statePartitions", bad)
      try {
        val e = intercept[IllegalArgumentException](Parallelism.streamStatePartitions(spark, dir))
        assert(e.getMessage.contains("spark.graft.stream.statePartitions"), bad)
        assert(e.getMessage.contains(s"'$bad'"), bad)
      } finally spark.conf.unset("spark.graft.stream.statePartitions")
    }
  }
}
