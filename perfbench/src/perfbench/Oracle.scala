package perfbench

/** The benchmark's own reference answers, computed in the JVM without
  * Spark or the library: brute-force top-k, the 8-bit codec round trip
  * (quantized answers are scored over round-tripped vectors), and word
  * bigram Jaccard for the dedup checks. */
object Oracle {

  /** One returned row: (id, similarity). */
  type Hit = (Long, Double)

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** 8-bit min/max quantize then dequantize: q = round((v - min) / (max -
    * min) * 255) clamped to [0, 255]; v' = min + q / 255 * (max - min). */
  def roundTrip(v: Array[Float]): Array[Float] = {
    val mn = v.min.toDouble; val mx = v.max.toDouble
    val range = mx - mn
    v.map { x =>
      val q = if (range == 0.0) 0L else math.max(0L, math.min(255L, math.round((x - mn) / range * 255.0)))
      (mn + q.toDouble / 255.0 * range).toFloat
    }
  }

  /** A store as the oracle sees it: parallel arrays of the live rows. */
  final class Table(val ids: Array[Long], val vecs: Array[Array[Float]], val tags: Array[Set[String]]) {
    def eligible(i: Int, want: Seq[String]): Boolean = want.forall(tags(i).contains)

    /** All eligible scores, best first (ties by id, as the library orders them). */
    def scores(q: Array[Float], want: Seq[String]): Array[Hit] =
      ids.indices.iterator.filter(eligible(_, want))
        .map(i => (ids(i), cosine(vecs(i), q))).filterNot(_._2.isNaN).toArray
        .sortBy(h => (-h._2, h._1))
  }

  val Eps = 1e-6

  /** Does `got` equal the exact top-k of `all` (scores best first)? Ties
    * at the k-th score compare as sets: every row scoring above the k-th
    * score by more than `eps` must be present, every returned row must
    * score no lower than it, each returned score must match the oracle's
    * score for that id, and the sizes must agree. */
  def exactMatch(got: Seq[Hit], all: Array[Hit], k: Int, eps: Double = Eps): Boolean = {
    val want = all.take(k)
    if (got.size != want.length) return false
    if (want.isEmpty) return true
    val kth = want.last._2
    val byId = all.iterator.take(4 * k + 64).toMap
    got.forall { case (id, s) =>
      byId.get(id).exists(o => math.abs(o - s) <= eps) && s >= kth - eps
    } && want.forall { case (id, s) => s <= kth + eps || got.exists(_._1 == id) } &&
      got.map(_._1).distinct.size == got.size
  }

  /** Recall@k of `got` against the exact top-k (tie-tolerant: a returned
    * row scoring at least the k-th score counts as a hit). */
  def recall(got: Seq[Hit], all: Array[Hit], k: Int): Double = {
    val want = all.take(k)
    if (want.isEmpty) return if (got.isEmpty) 1.0 else 0.0
    val kth = want.last._2
    val ok = all.iterator.take(4 * k + 64).toMap
    got.count { case (id, _) => ok.get(id).exists(_ >= kth - Eps) }.toDouble / want.length
  }

  /** Lowercased [a-z0-9]+ tokens (the library's documented token contract). */
  def tokens(text: String): Seq[String] =
    "[a-z0-9]+".r.findAllIn(text.toLowerCase).toSeq

  def bigrams(text: String): Set[(String, String)] = {
    val t = tokens(text)
    t.zip(t.drop(1)).toSet
  }

  def jaccard(a: String, b: String): Double = {
    val x = bigrams(a); val y = bigrams(b)
    if (x.isEmpty && y.isEmpty) 1.0 else (x & y).size.toDouble / (x | y).size
  }
}
