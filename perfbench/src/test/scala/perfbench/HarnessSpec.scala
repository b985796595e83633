package perfbench

import java.util.Properties

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{JobSucceeded, SparkListenerJobEnd, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) === 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) === 2.5)
  }

  test("per-kind median: geometric mean of each kind's median") {
    val xs = Seq("a" -> 1.0, "a" -> 2.0, "a" -> 3.0, "b" -> 8.0, "b" -> 8.0)
    assert(math.abs(Stats.kindMedian(xs) - 4.0) < 1e-12)
    assert(math.abs(Stats.kindMedian(Seq("a" -> 5.0)) - 5.0) < 1e-12)
  }

  test("tail: the sample with exactly ten samples above it") {
    val xs = (1 to 30).map(_.toDouble).reverse
    val Some((pct, v)) = Stats.tail(xs)
    assert(v === 20.0)
    assert(xs.count(_ > v) === 10)
    assert(math.abs(pct - 200.0 / 3) < 1e-9)
    assert(Stats.tail((1 to 20).map(_.toDouble)) === Some((50.0, 10.0)))
  }

  test("tail: none with fewer than twenty samples") {
    assert(Stats.tail(Seq(5.0, 1.0, 3.0)) === None)
    assert(Stats.tail((1 to 19).map(_.toDouble)) === None)
  }

  private val rows = Gen.mixture(7, 8, 4, 0.5).rows(Gen.stream(7, "t"), 200, 0)

  test("exact top-k is the brute-force order, ties to the lower id") {
    val q = rows(0).vec
    val want = rows.map(r => (r.id, Oracle.cosine(q, r.vec)))
      .sortBy { case (id, s) => (-s, id) }.take(10)
    val got = Oracle.topK(q, rows, 10)
    assert(got.ids.toSeq === want.map(_._1).toSeq)
    assert(got.sims.toSeq === want.map(_._2).toSeq)
    val twin = rows(1).copy(id = 1000, vec = rows(1).vec.clone())
    val tied = Oracle.topK(rows(1).vec, rows :+ twin, 2)
    assert(tied.ids.toSeq === Seq(1L, 1000L))
  }

  test("recall@k counts hits in the exact top-k, ties at the k-th, and each id once") {
    val exact = Oracle.TopK(Array(1L, 2L, 3L, 4L), Array(0.9, 0.8, 0.7, 0.6))
    val sims = Map(1L -> 0.9, 2L -> 0.8, 3L -> 0.7, 4L -> 0.6, 5L -> 0.6, 6L -> 0.1)
    assert(Oracle.recall(exact, Seq(1L, 2L, 3L, 4L), sims) === 1.0)
    assert(Oracle.recall(exact, Seq(1L, 2L, 3L, 6L), sims) === 0.75)
    assert(Oracle.recall(exact, Seq(1L, 2L, 3L, 5L), sims) === 1.0)
    assert(Oracle.recall(exact, Seq(1L, 1L, 1L, 1L), sims) === 0.25)
    assert(Oracle.recall(exact, Nil, sims) === 0.0)
  }

  test("jaccard over character shingles") {
    assert(Oracle.charShingles("abcdef", 5) === Set("abcde", "bcdef"))
    assert(Oracle.jaccard(Oracle.charShingles("abcdef", 5), Oracle.charShingles("abcdeg", 5)) === 1.0 / 3)
  }

  test("interval union: overlap, nesting, gaps and clipping") {
    assert(Trace.unionLength(Nil, 0, 100) === 0)
    assert(Trace.unionLength(Seq((10L, 20L), (15L, 30L)), 0, 100) === 20)
    assert(Trace.unionLength(Seq((10L, 50L), (20L, 30L)), 0, 100) === 40)
    assert(Trace.unionLength(Seq((10L, 20L), (40L, 45L)), 0, 100) === 15)
    assert(Trace.unionLength(Seq((-10L, 20L), (90L, 150L)), 0, 100) === 30)
    assert(Trace.unionLength(Seq((200L, 300L)), 0, 100) === 0)
  }

  test("driver time is span wall minus the union of the span's jobs") {
    val t = new Trace
    def job(id: Int, start: Long, end: Long): Unit = {
      t.onJobStart(SparkListenerJobStart(id, start, Nil, new Properties))
      t.onJobEnd(SparkListenerJobEnd(id, end, JobSucceeded))
    }
    job(0, 900, 1100)  // started before the span: not its job
    job(1, 1100, 1300)
    job(2, 1200, 1500)
    job(3, 1800, 2500) // runs past the span's end: clipped
    val c = t.counters(Span("s", 1000, 2000, 1000L * 1000 * 1000))
    assert(c.jobs === 3)
    assert(c.driverMs === 1000.0 - (400 + 200))
    assert(t.jobsIn(1000, 2000) === 3)
  }

  test("spans are recorded only while tracing") {
    val t = new Trace
    t.span("a")(())
    t.tracing = true
    assert(t.span("b")(42) === 42)
    assert(t.recorded.map(_.name) === Seq("b"))
  }

  test("generated inputs and their digest depend only on the seed") {
    def vec(seed: Long) = new Gen.Digest()
      .rows(Gen.mixture(seed, 8, 4, 0.5).rows(Gen.stream(seed, "corpus"), 50, 0)).hex
    def text(seed: Long) = new Gen.Digest().text(Gen.textCorpus(seed, 40, 12, 100, 0.25)).hex
    assert(vec(1) === vec(1))
    assert(vec(1) !== vec(2))
    assert(text(1) === text(1))
    assert(text(1) !== text(2))
    // pinned: a change here means every earlier result was read on other data
    assert(vec(1) === "d356d4a879ba5ea93d87a2e1cafa0eea137bcd96bd3d264d7ebf30b1786e8161")
    assert(text(1) === "427842983c08697f5308e6c6452c5c9b908e8d3dc57f1a8a4b880e593129d6a0")
  }

  test("planted duplicates are near-duplicates of their cluster") {
    val c = Gen.textCorpus(3, 400, 50, 2000, 0.1)
    val text = c.ids.zip(c.texts).toMap
    val clusters = c.clusterOf.groupBy(_._2).values.map(_.keys.toSeq)
    assert(clusters.map(_.size - 1).sum === 40)
    clusters.foreach { ids =>
      assert(ids.size >= 2)
      val sh = ids.map(id => Oracle.charShingles(text(id), 5))
      assert(sh.tail.forall(s => Oracle.jaccard(sh.head, s) >= 0.5))
    }
    assert(c.ids.distinct.length === 400)
  }

  test("metric catalogue matches BENCHMARK.json") {
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File("../BENCHMARK.json"))
    def defs(key: String) = json.get(key).elements().asScala
      .map(n => Metrics.Def(n.get("name").asText, n.get("unit").asText, n.get("better").asText)).toSeq
    assert(defs("end_to_end") === Metrics.endToEnd)
    assert(defs("per_layer") === Metrics.perLayer)
    assert(json.get("workloads").elements().asScala.map(_.get("name").asText).toSeq ===
      Workloads.all.map(_.name))
    assert(Metrics.perLayer.size <= 128)
  }
}
