package graft.search

import graft.SparkSpec
import graft.encoders.PassthroughEncoder
import graft.search.FittedIndex._
import graft.whitening.VecsWhiteningModel
import org.apache.spark.sql.functions._

/** Save → load over every fitted family: the reloaded [[FittedIndex]]
  * equals the fitted one element-wise, `describe` reads the same operating
  * point, and the served top-k is identical. */
class FittedIndexSpec extends SparkSpec {

  // factory string → the fitted shape it must produce
  private val families: Seq[(String, PartialFunction[FittedIndex, Unit])] = Seq(
    "Flat" -> { case Flat(Floats) => },
    "IVF0" -> { case Ivf(_, Floats) => },
    "IVF16,PQ8" -> { case Ivf(_, Pq(_, 8)) => },
    "IVF16,SQ8" -> { case Ivf(_, Sq(_, _, 8)) => },
    "IVF16,SQfp16" -> { case Ivf(_, Half) => },
    "LSH" -> { case Lsh(_) => },
    "LSH8x6" -> { case Lsh(_) => },
    "PQ8" -> { case Flat(Pq(_, 8)) => },
    "PQ8x4" -> { case Flat(Pq(_, 4)) => },
    "OPQ8,PQ8" -> { case Opq(_, Pq(_, 8)) => },
    "SQ8" -> { case Flat(Sq(_, _, 8)) => },
    "SQ4" -> { case Flat(Sq(_, _, 4)) => },
    "SQfp16" -> { case Flat(Half) => },
    "HNSW16" -> { case Hnsw(16, Some(2)) => },
    "PQ8,RFlat" -> { case Refined(Flat(Pq(_, 8))) => },
    "PCAW16,Flat" -> { case PreTransform(_, Flat(Floats)) => })

  /** Structural equality that compares arrays (and the PCA kernel) by
    * content — case-class `==` compares arrays by reference. */
  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Array[_], y: Array[_]) =>
      x.length == y.length && x.indices.forall(i => same(x(i), y(i)))
    case (x: VecsWhiteningModel, y: VecsWhiteningModel) =>
      same(x.kernel, y.kernel) && same(x.bias, y.bias) &&
        x.nComponents == y.nComponents && x.originDim == y.originDim
    case (x: Product, y: Product) =>
      x.productPrefix == y.productPrefix && x.productArity == y.productArity &&
        x.productIterator.zip(y.productIterator).forall { case (u, v) => same(u, v) }
    case _ => a == b
  }

  private def fit(param: String) =
    new SparkSearcher(new PassthroughEncoder("embedding"),
      SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
        indexParam = param, hnswGraphs = 2)).fit(sf("embeddings"))

  private def hits(m: SearcherModel) =
    m.search(sf("embeddings").filter(col("vec_id") < 10), 10, keepRankNo = true,
      queryIdCol = Some("vec_id")).orderBy("vec_id", "rank_no").collect()

  private def assertRoundTrip(param: String, model: SearcherModel,
      loaded: SearcherModel): Unit = {
    assert(same(loaded.fitted, model.fitted), s"$param: fitted state differs after load")
    assert(loaded.describe.collect() === model.describe.collect(), param)
    assert(hits(loaded) === hits(model), param)
  }

  /** Rewrite a save's params row without the `itemsSchema` field — the
    * layout every save before r22 wrote. */
  private def dropItemsSchema(dir: String): Unit = {
    val pdir = java.nio.file.Paths.get(s"$dir/params.json")
    val part = pdir.resolve("part-00000-graft.json")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(java.nio.file.Files.readAllBytes(part))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    assert(node.has("itemsSchema"))
    node.remove("itemsSchema")
    java.nio.file.Files.write(part, (mapper.writeValueAsString(node) + "\n").getBytes("UTF-8"))
    // hadoop's checksum sidecar no longer matches the rewritten row
    java.nio.file.Files.deleteIfExists(pdir.resolve(".part-00000-graft.json.crc"))
  }

  test("every fitted family survives save → load: fitted state, describe and top-k") {
    for ((param, shape) <- families) {
      val model = fit(param)
      assert(shape.isDefinedAt(model.fitted), s"$param fitted as ${model.fitted}")
      val dir = java.nio.file.Files.createTempDirectory("graft-rt").toString
      model.save(dir)
      val loaded = SparkSearcher.load(spark, dir)
      assertRoundTrip(param, model, loaded)
      model.unpersist(); loaded.unpersist()
    }
  }

  test("a pre-r22 save (no itemsSchema) loads to the same index, code-based and IVF") {
    for (param <- Seq("PQ8", "IVF16,SQ8")) {
      val model = fit(param)
      val dir = java.nio.file.Files.createTempDirectory("graft-pre22").toString
      model.save(dir)
      dropItemsSchema(dir)
      val loaded = SparkSearcher.load(spark, dir)
      assertRoundTrip(param, model, loaded)
      model.unpersist(); loaded.unpersist()
    }
  }
}
