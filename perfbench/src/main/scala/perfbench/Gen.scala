package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

/** Seeded input generators. The engine reads only what these return, and
  * what they return depends on nothing but the seed and the sizes fixed
  * in [[Workloads]]. `java.util.Random` is used because its sequence,
  * `nextGaussian` included, is specified by the JDK and so reads the same
  * on every JVM. */
object Gen {

  /** One corpus row: `id` is the row id, `label` and `title` the payload
    * a search must gather back. */
  final case class VecRow(id: Long, vec: Array[Float], label: Int, title: String)

  /** A Gaussian mixture in `dim` dimensions: `centers.length` clusters,
    * each point its center plus isotropic noise of `spread`. */
  final class Mixture(val centers: Array[Array[Float]], spread: Double) {
    def dim: Int = centers(0).length

    /** `n` points with ids `firstId until firstId + n`, drawn from `rng`. */
    def rows(rng: java.util.Random, n: Int, firstId: Long): Array[VecRow] =
      Array.tabulate(n) { i =>
        val label = rng.nextInt(centers.length)
        val c = centers(label)
        val v = Array.tabulate(dim)(j => (c(j) + spread * rng.nextGaussian()).toFloat)
        val id = firstId + i
        VecRow(id, v, label, s"item-$id-${Integer.toHexString(rng.nextInt())}")
      }
  }

  def mixture(seed: Long, dim: Int, clusters: Int, spread: Double): Mixture = {
    val rng = stream(seed, "centers")
    new Mixture(Array.fill(clusters, dim)(rng.nextGaussian().toFloat), spread)
  }

  /** An independent generator per named stream of one seed, so adding a
    * stream never shifts the values of another. */
  def stream(seed: Long, name: String): java.util.Random =
    new java.util.Random(seed * 0x9E3779B97F4A7C15L ^ name.hashCode.toLong)

  /** A text corpus with planted near-duplicate clusters. `clusterOf` maps
    * each planted doc (the original and its copies) to its cluster. */
  final case class TextCorpus(ids: Array[Long], texts: Array[String],
      clusterOf: Map[Long, Int]) {
    def size: Int = ids.length
  }

  /** `docs` documents of about `words` words drawn from a Zipf(1.0)
    * vocabulary of `vocab` synthetic words. `plantedShare` of the docs are
    * copies of an original with 1 to 3 words replaced; each original gets
    * 1 to 3 copies. Ids are a seeded permutation, so originals are not
    * always the lowest id of their cluster. */
  def textCorpus(seed: Long, docs: Int, words: Int, vocab: Int,
      plantedShare: Double): TextCorpus = {
    val rng = stream(seed, "text")
    val lexicon = Array.tabulate(vocab)(i => wordFor(i, rng))
    val cdf = {
      val w = Array.tabulate(vocab)(i => 1.0 / (i + 1))
      val s = w.sum
      w.scanLeft(0.0)(_ + _ / s).tail
    }
    def word(): String = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      lexicon(math.min(vocab - 1, if (i >= 0) i else -i - 1))
    }
    def doc(): Array[String] = Array.fill(words - 5 + rng.nextInt(11))(word())

    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    val cluster = scala.collection.mutable.ArrayBuffer.empty[Int]
    var nCluster = 0
    var planted = 0
    val plantTarget = (docs * plantedShare).toInt
    while (texts.size < docs) {
      val base = doc()
      texts += base.mkString(" ")
      val room = docs - texts.size
      if (planted < plantTarget && room > 0) {
        val copies = math.min(math.min(1 + rng.nextInt(3), plantTarget - planted), room)
        cluster += nCluster
        (0 until copies).foreach { _ =>
          val d = base.clone()
          (0 until 1 + rng.nextInt(3)).foreach(_ => d(rng.nextInt(d.length)) = word())
          texts += d.mkString(" ")
          cluster += nCluster
        }
        planted += copies
        nCluster += 1
      } else cluster += -1
    }
    val ids = shuffledIds(docs, rng)
    TextCorpus(ids, texts.toArray,
      ids.indices.collect { case i if cluster(i) >= 0 => ids(i) -> cluster(i) }.toMap)
  }

  private def wordFor(i: Int, rng: java.util.Random): String = {
    val len = 3 + rng.nextInt(6)
    val sb = new StringBuilder
    (0 until len).foreach(_ => sb += ('a' + rng.nextInt(26)).toChar)
    sb ++= Integer.toString(i, 36)
    sb.result()
  }

  private def shuffledIds(n: Int, rng: java.util.Random): Array[Long] = {
    val a = Array.tabulate(n)(_.toLong)
    var i = n - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }

  /** SHA-256 over generated inputs, in generation order. Two runs read
    * identical data exactly when their digests match. */
  final class Digest {
    private val md = MessageDigest.getInstance("SHA-256")
    private val buf = java.nio.ByteBuffer.allocate(8)
    def long(v: Long): Digest = { buf.clear(); md.update(buf.putLong(v).array()); this }
    def string(s: String): Digest = { long(s.length.toLong); md.update(s.getBytes(UTF_8)); this }
    def rows(rs: Array[VecRow]): Digest = {
      rs.foreach { r =>
        long(r.id).long(r.label.toLong).string(r.title)
        r.vec.foreach(f => long(java.lang.Float.floatToIntBits(f).toLong))
      }
      this
    }
    def text(c: TextCorpus): Digest = {
      c.ids.indices.foreach(i => long(c.ids(i)).string(c.texts(i)))
      this
    }
    def hex: String = md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}
