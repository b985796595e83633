package perfbench

/** Plain-Scala reference answers. Nothing here calls the engine. */
object Oracle {

  /** Exact cosine similarity, accumulated in double. */
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      i += 1
    }
    if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb)
  }

  /** Exact top-`k` of `corpus` by cosine to `q`: ids and similarities in
    * rank order, ties broken by the lower id. */
  final case class TopK(ids: Array[Long], sims: Array[Double])

  def topK(q: Array[Float], corpus: Array[Gen.VecRow], k: Int): TopK = {
    // best k so far, kept sorted best-first; n is small enough that an
    // insertion into a k-array beats a heap
    val ids = Array.fill(k)(Long.MaxValue)
    val sims = Array.fill(k)(Double.NegativeInfinity)
    def better(s: Double, id: Long, j: Int) = s > sims(j) || (s == sims(j) && id < ids(j))
    corpus.foreach { r =>
      val s = cosine(q, r.vec)
      if (better(s, r.id, k - 1)) {
        var j = k - 1
        while (j > 0 && better(s, r.id, j - 1)) { ids(j) = ids(j - 1); sims(j) = sims(j - 1); j -= 1 }
        ids(j) = r.id; sims(j) = s
      }
    }
    TopK(ids, sims)
  }

  /** Similarities closer than this are ties: float scoring in the engine
    * and double scoring here may order them either way. */
  val SimTolerance = 1e-5

  /** Recall@k against the exact answer. A returned id counts when it is
    * in the exact top-k or ties the k-th exact similarity (`simOf` gives
    * the exact similarity of a returned id), so a tie broken the other
    * way is not a miss. Duplicate ids count once. */
  def recall(exact: TopK, returned: Seq[Long], simOf: Long => Double): Double = {
    val k = exact.ids.length
    val want = exact.ids.toSet
    val floor = exact.sims(k - 1) - SimTolerance
    returned.distinct.count(id => want(id) || simOf(id) >= floor).min(k).toDouble / k
  }

  /** Distinct character n-grams, the shingles the dedup layer compares. */
  def charShingles(s: String, n: Int): Set[String] =
    if (s.length < n) Set.empty else (0 to s.length - n).map(i => s.substring(i, i + n)).toSet

  def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 1.0 else (a intersect b).size.toDouble / (a union b).size
}
