package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.dedup.Dedup
import graft.encoders.PassthroughEncoder
import graft.search.{SearcherModel, SearcherParams, SparkSearcher}

/** What one measured operation did: its kind (the index family it
  * searched, or the workload's one kind of pass), items completed, failed
  * checks, and recall samples. */
final case class OpResult(kind: String, items: Long, failures: Seq[String], recalls: Seq[Double])

/** State shared by a workload's phases within one run. */
final class Ctx(val spark: SparkSession, val trace: Trace, runDir: Path) {
  private var paths = 0
  private val notes = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  /** A new path under the run directory. It must not exist: a run never
    * reads or overwrites anything it did not write itself. */
  def freshPath(name: String): String = {
    paths += 1
    val p = runDir.resolve(s"$name-$paths")
    require(!Files.exists(p), s"refusing to reuse leftover path $p")
    p.toString
  }

  def span[T](name: String)(f: => T): T = trace.span(name)(f)

  /** Records one reading of a named figure; the mean is reported. */
  def note(name: String, v: Double): Unit =
    notes.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  def noted: Map[String, Double] = notes.map { case (k, v) => k -> v.sum / v.size }.toMap

  /** Bytes held by cached blocks, in memory and on disk. */
  def cachedMb: Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
}

/** One benchmark workload. A run generates inputs, sets up several
  * times (timed), prepares reference answers, then runs a fixed number
  * of measured operations after `begin`. */
trait Workload {
  def name: String
  /** Generates the inputs and returns their SHA-256. Not timed. */
  def generate(spark: SparkSession, seed: Long): String
  /** One set-up; each repetition replaces the previous one's state. */
  def setUp(ctx: Ctx): Unit
  /** Reference answers and query frames. Not timed. */
  def prepare(ctx: Ctx): Unit
  /** Measured operations in a run of `seconds`. Fixed by the run length,
    * never by how fast the operations go, so both sides of an A/B do the
    * same work and read the same tail percentile. */
  def ops(seconds: Int): Int
  def begin(ctx: Ctx): Unit = ()
  def op(ctx: Ctx, i: Int): OpResult
  /** Optional work after the measured phases of a traced run: checked
    * and traced, but not part of any timed figure. */
  def epilogue(ctx: Ctx): Option[OpResult] = None
}

object Workloads {
  val all: Seq[Workload] = Seq(new KnnServe, new TextDedup)
  def byName(n: String): Option[Workload] = all.find(_.name == n)
}

/** Vector inputs shared by the search workloads: a Gaussian-mixture
  * corpus with `label`/`title` payload, a prefix slice of it for the
  * graph index, a 5% increment, and held-out queries. */
final class VecData(spark: SparkSession, seed: Long, n: Int, sliceN: Int, queryN: Int) {
  val dim = 64
  private val mix = Gen.mixture(seed, dim, clusters = 64, spread = 0.6)
  val corpus: Array[Gen.VecRow] = mix.rows(Gen.stream(seed, "corpus"), n, 0)
  val increment: Array[Gen.VecRow] = mix.rows(Gen.stream(seed, "increment"), n / 20, n)
  val queries: Array[Gen.VecRow] = mix.rows(Gen.stream(seed, "queries"), queryN, 0)
  val slice: Array[Gen.VecRow] = corpus.take(sliceN)

  val digest: String = new Gen.Digest().rows(corpus).rows(increment).rows(queries).hex

  def rowOf(id: Long): Option[Gen.VecRow] =
    if (id >= 0 && id < n) Some(corpus(id.toInt))
    else if (id >= n && id < n + increment.length) Some(increment((id - n).toInt))
    else None

  val corpusDf: DataFrame = VecData.frame(spark, corpus)
  val sliceDf: DataFrame = VecData.frame(spark, slice)
  val incrementDf: DataFrame = VecData.frame(spark, increment)

  def write(ctx: Ctx, df: DataFrame, name: String): String = {
    val p = ctx.freshPath(name)
    df.write.parquet(p)
    p
  }
}

object VecData {
  val schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("vec", ArrayType(FloatType, containsNull = false), nullable = false),
    StructField("label", IntegerType, nullable = false),
    StructField("title", StringType, nullable = false)))

  def frame(spark: SparkSession, rows: Iterable[Gen.VecRow]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(
      rows.map(r => Row(r.id, r.vec.toSeq, r.label, r.title)).toSeq: _*), schema)

  def queryFrame(spark: SparkSession, rows: Iterable[Gen.VecRow]): DataFrame =
    frame(spark, rows).select("id", "vec")

  /** The factory string each index family is built from. */
  val param: Map[String, String] =
    Map("flat" -> "Flat", "ivf" -> "IVF0", "pq" -> "PQ16,RFlat", "hnsw" -> "HNSW32")

  val encoder = new PassthroughEncoder("vec")

  def searcher(family: String): SparkSearcher = new SparkSearcher(encoder,
    SearcherParams(itemCol = Some("id"), idCol = Some("id"),
      indexParam = param(family), nprobe = 0, efSearch = 0))

  val K = 10

  final case class Hit(qid: Long, rank: Int, id: Long, sim: Double, label: Int, title: String)

  /** `search` then drain, as the spans `search.plan.<f>` and
    * `search.execute.<f>`. */
  def search(ctx: Ctx, family: String, m: SearcherModel, q: DataFrame): Array[Hit] = {
    val df = ctx.span(s"search.plan.$family")(m.search(q, K, keepRankNo = true, queryIdCol = Some("id")))
    ctx.span(s"search.execute.$family")(df.collect()).map(r => Hit(r.getAs[Long]("id"),
      r.getAs[Int]("rank_no"), r.getAs[Long]("sim_item"), r.getAs[Float]("sim_val").toDouble,
      r.getAs[Int]("label"), r.getAs[String]("title")))
  }

  /** A query batch with the exact answers for a seeded sample of it. */
  final case class Batch(family: String, queries: Array[Gen.VecRow], frame: DataFrame,
      exact: Map[Long, Oracle.TopK])

  def batch(ctx: Ctx, family: String, queries: Array[Gen.VecRow], sample: Int,
      indexed: Array[Gen.VecRow]): Batch = {
    val step = math.max(1, queries.length / sample)
    val exact = queries.indices.by(step).take(sample)
      .map(i => queries(i).id -> Oracle.topK(queries(i).vec, indexed, K)).toMap
    Batch(family, queries, queryFrame(ctx.spark, queries.toSeq), exact)
  }

  /** Checks every hit of a batch and scores recall on its sample:
    *  - each query id is one that was sent; ranks run 0, 1, ... without gaps;
    *  - each hit is a row the index holds (`holds`), appears once per
    *    query, and carries that row's generated payload;
    *  - `sim_val` is the exact cosine within [[Oracle.SimTolerance]], and
    *    ranks are in non-increasing similarity. Tie order is not checked:
    *    the engine ranks on double similarities, two of which can round
    *    to one float `sim_val`;
    *  - with `exact`, every query has k hits and recall is 1.0. */
  def check(b: Batch, hits: Array[Hit], holds: Long => Boolean,
      data: VecData, exact: Boolean): (Seq[String], Seq[Double]) = {
    val fails = mutable.ArrayBuffer.empty[String]
    val byQ = hits.groupBy(_.qid)
    val qs = b.queries.map(q => q.id -> q).toMap
    byQ.keys.filterNot(qs.contains).foreach(q => fails += s"${b.family}: unknown query id $q")
    val recalls = mutable.ArrayBuffer.empty[Double]
    qs.values.foreach { q =>
      val hs = byQ.getOrElse(q.id, Array.empty[Hit]).sortBy(_.rank)
      def fail(msg: String): Unit = fails += s"${b.family} query ${q.id}: $msg"
      if (hs.map(_.rank).toSeq != hs.indices) fail(s"ranks ${hs.map(_.rank).mkString(",")}")
      if (hs.length > K || (exact && hs.length != K)) fail(s"${hs.length} hits for k=$K")
      if (hs.map(_.id).distinct.length != hs.length) fail("repeated hit")
      hs.foreach { h =>
        data.rowOf(h.id).filter(_ => holds(h.id)) match {
          case None => fail(s"hit ${h.id} is not an indexed row")
          case Some(r) =>
            if (r.label != h.label || r.title != h.title) fail(s"payload of ${h.id} is (${h.label}, ${h.title})")
            val s = Oracle.cosine(q.vec, r.vec)
            if (math.abs(s - h.sim) > Oracle.SimTolerance) fail(s"sim_val ${h.sim} of ${h.id}, exact $s")
        }
      }
      hs.sliding(2).foreach {
        case Array(a, c) if c.sim > a.sim + Oracle.SimTolerance => fail(s"rank ${c.rank} outscores rank ${a.rank}")
        case _ =>
      }
      b.exact.get(q.id).foreach { top =>
        val r = Oracle.recall(top, hs.map(_.id).toSeq,
          id => data.rowOf(id).map(x => Oracle.cosine(q.vec, x.vec)).getOrElse(-2.0))
        if (exact && r < 1.0) fail(s"exact search recall $r")
        recalls += r
      }
    }
    (fails.toSeq, recalls.toSeq)
  }

  def dirMb(path: String): Double = {
    val s = Files.walk(java.nio.file.Paths.get(path))
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum / 1e6 finally s.close()
  }
}

import VecData._

/** Small interactive batches against loaded indexes: 64-query batches,
  * k = 10, payload gathered, round-robin over exact Flat, IVF, PQ+refine
  * and HNSW. Each batch does little scoring inside much planning and job
  * overhead, so job-count and fixed-cost cuts show here; kernel speed
  * shows in the execute spans' task CPU. Flat answers must be exact.
  * Set-up fits and saves the four indexes, so fit and save cost shows in
  * `setup_s`; the measured phase loads them before its first batch. A
  * traced run ends with a grow step that adds a 5% increment to each
  * loaded index and compacts the HNSW one; it is checked and traced but
  * not timed as a batch. */
final class KnnServe extends Workload {
  val name = "knn_serve"
  private val families = Seq("flat", "ivf", "pq", "hnsw")
  private val batchSize = 64
  private val poolPerFamily = 10
  private var data: VecData = _
  private var fitted: Map[String, SearcherModel] = Map.empty
  private var saved: Map[String, String] = Map.empty
  private var batches: IndexedSeq[Batch] = IndexedSeq.empty
  private var fittedHits: Map[Int, Seq[(Long, Long)]] = Map.empty
  private var loaded: Map[String, SearcherModel] = Map.empty

  def generate(spark: SparkSession, seed: Long): String = {
    data = new VecData(spark, seed, n = 4000, sliceN = 1500,
      queryN = batchSize * poolPerFamily * families.size)
    data.digest
  }

  private def source(f: String): Array[Gen.VecRow] = if (f == "hnsw") data.slice else data.corpus

  def setUp(ctx: Ctx): Unit = {
    fitted.values.foreach(_.unpersist())
    val corpus = ctx.spark.read.parquet(data.write(ctx, data.corpusDf, "corpus"))
    val slice = ctx.spark.read.parquet(data.write(ctx, data.sliceDf, "slice"))
    fitted = families.map(f =>
      f -> ctx.span(s"search.fit.$f")(searcher(f).fit(if (f == "hnsw") slice else corpus))).toMap
    saved = families.map { f =>
      val p = ctx.freshPath(s"index-$f")
      ctx.span(s"search.save.$f")(fitted(f).save(p))
      f -> p
    }.toMap
    ctx.note("index_disk_mb", saved.values.map(dirMb).sum)
  }

  /** Builds the batches and answers each family's first batch from the
    * fitted model, so the measured phase can check that the loaded index
    * answers the same. The second round of searches only warms the
    * search path, as a serving process would be warm. */
  def prepare(ctx: Ctx): Unit = {
    val qs = data.queries.grouped(batchSize).toIndexedSeq
    batches = qs.indices.map { i =>
      val f = families(i % families.size)
      batch(ctx, f, qs(i), 16, source(f))
    }
    fittedHits = families.indices.map(i =>
      i -> ranked(search(ctx, families(i), fitted(families(i)), batches(i).frame))).toMap
    families.indices.foreach(i =>
      search(ctx, families(i), fitted(families(i)), batches(families.size + i).frame))
    fitted.values.foreach(_.unpersist())
    fitted = Map.empty
  }

  private def ranked(hits: Array[Hit]): Seq[(Long, Long)] =
    hits.sortBy(h => (h.qid, h.rank)).map(h => (h.qid, h.id)).toSeq

  def ops(seconds: Int): Int = families.size * math.max(7, math.round(seconds * 1.5).toInt)

  override def begin(ctx: Ctx): Unit = {
    loaded.values.foreach(_.unpersist())
    val t0 = System.nanoTime()
    loaded = families.map(f =>
      f -> ctx.span(s"search.load.$f")(SparkSearcher.load(ctx.spark, saved(f), encoder))).toMap
    ctx.note("load_s", (System.nanoTime() - t0) / 1e9)
  }

  def op(ctx: Ctx, i: Int): OpResult = {
    val b = batches(i % batches.size)
    val hits = search(ctx, b.family, loaded(b.family), b.frame)
    if (i == families.size - 1) ctx.note("cache_mb", ctx.cachedMb)
    val n = source(b.family).length
    val (fails, recalls) = check(b, hits, _ < n, data, exact = b.family == "flat")
    val same = fittedHits.get(i).forall(_ == ranked(hits))
    OpResult(b.family, b.queries.length,
      if (same) fails else fails :+ s"${b.family}: loaded index answers differ from the model it was saved from",
      recalls)
  }

  /** Grows each index the last phase loaded by the increment (and
    * compacts the HNSW one), then checks that every added row finds
    * itself at rank 0. */
  override def epilogue(ctx: Ctx): Option[OpResult] = {
    val increment = ctx.spark.read.parquet(data.write(ctx, data.incrementDf, "increment"))
    val added = data.increment.take(batchSize).toSeq
    val selfQueries = queryFrame(ctx.spark, added)
    val t0 = System.nanoTime()
    val fails = families.flatMap { f =>
      val g = ctx.span(s"search.add.$f")(loaded(f).add(increment))
      val grown = if (f == "hnsw") ctx.span("search.compact.hnsw")(g.compact()) else g
      val top = search(ctx, f, grown, selfQueries).filter(_.rank == 0).map(h => h.qid -> h.id).toMap
      if (!(grown eq g)) g.unpersist()
      grown.unpersist()
      added.map(_.id).filterNot(q => top.get(q).contains(q))
        .map(q => s"$f: self-query of added row $q returned ${top.get(q)} at rank 0")
    }
    loaded = Map.empty
    ctx.note("grow_s", (System.nanoTime() - t0) / 1e9)
    Some(OpResult("grow", added.size.toLong * families.size, fails, Nil))
  }
}

/** Near-duplicate removal over a text corpus with planted duplicate
  * clusters (`Dedup.dedupCorpus`, one-permutation MinHash). Exercises
  * only the dedup layer: shingle, signature, band join, verify and
  * connected components. Search changes should not move it. */
final class TextDedup extends Workload {
  val name = "text_dedup"
  private val threshold = 0.7
  private var corpus: Gen.TextCorpus = _
  private var frame: DataFrame = _
  private var path: String = _
  private var firstKept: Option[Set[Long]] = None

  def generate(spark: SparkSession, seed: Long): String = {
    corpus = Gen.textCorpus(seed, docs = 15000, words = 50, vocab = 20000, plantedShare = 0.1)
    frame = spark.createDataFrame(java.util.Arrays.asList(
      corpus.ids.indices.map(i => Row(corpus.ids(i), corpus.texts(i))): _*),
      StructType(Seq(StructField("id", LongType, nullable = false),
        StructField("text", StringType, nullable = false))))
    new Gen.Digest().text(corpus).hex
  }

  def setUp(ctx: Ctx): Unit = {
    path = ctx.freshPath("docs")
    frame.write.parquet(path)
  }

  /** One unmeasured pass, so the measured ones do not pay for JIT and
    * code generation. */
  def prepare(ctx: Ctx): Unit =
    Dedup.dedupCorpus(ctx.spark.read.parquet(path), "id", "text", threshold = threshold)
      .select("id").collect()

  def ops(seconds: Int): Int = math.max(2, math.round(seconds * 0.75).toInt)

  /** Untraced: the public one-call operator. Traced: the same pipeline
    * through its public parts, materialized between them, so each part
    * is its own span. Both must keep the same documents. */
  private def dedup(ctx: Ctx): Array[Long] = {
    val src = ctx.spark.read.parquet(path)
    if (!ctx.trace.tracing)
      Dedup.dedupCorpus(src, "id", "text", threshold = threshold).select("id").collect().map(_.getLong(0))
    else {
      val pairs = ctx.span("dedup.pairs") {
        val p = Dedup.minHashNearDupsOph(src, "id", "text", threshold = threshold).persist()
        p.count(); p
      }
      val comp = ctx.span("dedup.cc") {
        val c = Dedup.connectedComponents(pairs, "id_a", "id_b").persist()
        c.count(); c
      }
      val kept = ctx.span("dedup.drop") {
        val drop = comp.filter(!col("is_canonical")).select(col("id").as("drop_id"))
        src.join(drop, src("id") === drop("drop_id"), "left_anti").select("id").collect().map(_.getLong(0))
      }
      comp.unpersist(); pairs.unpersist()
      kept
    }
  }

  def op(ctx: Ctx, i: Int): OpResult = {
    val keptArr = dedup(ctx)
    val kept = keptArr.toSet
    val fails = mutable.ArrayBuffer.empty[String]
    if (kept.size != keptArr.length) fails += "a document was kept twice"
    val ids = corpus.ids.toSet
    if (!kept.subsetOf(ids)) fails += "kept an id that is not in the corpus"
    if (firstKept.exists(_ != kept)) fails += "kept set differs from the first pass"
    if (firstKept.isEmpty) {
      firstKept = Some(kept)
      falseDrops(kept).foreach(fails += _)
    }
    // planted duplicates removed / planted duplicates; a cluster of s docs
    // has s - 1 duplicates, and one of them must stay
    val clusters = corpus.clusterOf.groupBy(_._2).values.map(_.keys)
    val planted = clusters.map(_.size - 1).sum
    val removed = clusters.map(c => math.min(c.count(id => !kept(id)), c.size - 1)).sum
    OpResult("dedup", corpus.size, fails.toSeq, Seq(removed.toDouble / planted))
  }

  /** Every removed document that was not planted must be a real near-dup:
    * exact Jaccard ≥ the threshold with some kept document. */
  private def falseDrops(kept: Set[Long]): Seq[String] = {
    val textOf = corpus.ids.zip(corpus.texts).toMap
    val unplanted = corpus.ids.filter(id => !kept(id) && !corpus.clusterOf.contains(id))
    if (unplanted.length > 50) Seq(s"${unplanted.length} unplanted documents removed")
    else {
      lazy val keptShingles = kept.toSeq.map(id => Oracle.charShingles(textOf(id), 5))
      unplanted.toSeq.flatMap { id =>
        val s = Oracle.charShingles(textOf(id), 5)
        if (keptShingles.exists(k => Oracle.jaccard(s, k) >= threshold)) None
        else Some(s"document $id removed with no kept near-duplicate")
      }
    }
  }
}
