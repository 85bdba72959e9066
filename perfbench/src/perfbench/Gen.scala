package perfbench

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.util.SplittableRandom

/** Seeded input generation. Every workload input is a pure function of
  * (seed, sizes): the same seed gives byte-identical inputs, which
  * `SelfTest` checks through [[digest]]. Each input family draws from
  * its own stream (seed mixed with a fixed salt), so adding draws to one
  * family never shifts another. */
object Gen {

  val TagVocab: IndexedSeq[String] = (0 until 32).map(i => f"t$i%02d")
  /** Never written to any store: queries carrying it must come back empty. */
  val AbsentTag = "t_absent"
  val Clusters = 256

  def rng(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ salt)

  /** Zipf(s) sampler over ranks [0, n). */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = (1 to n).map(r => 1.0 / math.pow(r, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def draw(r: SplittableRandom): Int = at(r.nextDouble())

    /** The rank whose CDF interval holds `u` in [0, 1). */
    def at(u: Double): Int = {
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  private val tagZipf = new Zipf(TagVocab.size, 3.0)

  def gaussian(r: SplittableRandom): Double = {
    // Box-Muller on the seeded stream (java.util.Random's nextGaussian
    // would need a second generator)
    val u1 = 1.0 - r.nextDouble()
    val u2 = r.nextDouble()
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }

  def normalize(v: Array[Double]): Array[Float] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }

  private def frac(x: Double): Double = x - math.floor(x)

  /** Tags are drawn by a low-discrepancy sequence over the Zipf law, not
    * at random: every seed then gets the same tag-set composition (only
    * shifted by the seed's offset `off`), so a scan's size, which the tag
    * decides, does not vary from run to run. `i` indexes the row or query;
    * odd `i` get a second tag. Sorted: the store's own normal form. */
  def tagsAt(i: Long, off: Double): Seq[String] = {
    val a = tagZipf.at(frac(i * 0.6180339887498949 + off))
    if (i % 2 == 0) Seq(TagVocab(a))
    else {
      val b0 = tagZipf.at(frac(i * 0.7548776662466927 + off))
      val b = if (b0 == a) (a + 1) % TagVocab.size else b0
      Seq(TagVocab(a), TagVocab(b)).sorted
    }
  }

  /** Tags of query `i`: every 20th query asks for the absent tag. */
  def queryTags(i: Long, off: Double): Seq[String] =
    if (i % 20 == 0) Seq(AbsentTag) else tagsAt(i, off)

  final case class Row(id: Long, vector: Array[Float], content: String, tags: Seq[String])

  /** Rows drawn from an L2-normalized Gaussian mixture with [[Clusters]]
    * centres, so IVF lists have structure and ANN recall means something. */
  final class Corpus(seed: Long, val dim: Int) {
    private val centres: Array[Array[Double]] = {
      val r = rng(seed, 1)
      Array.fill(Clusters)(normalize(Array.fill(dim)(gaussian(r))).map(_.toDouble))
    }
    private val words = vocabulary(seed, 2000)
    /** The seed's offset into the tag sequence. */
    val tagOffset: Double = rng(seed, 7).nextDouble()

    /** Row `id` is a pure function of (seed, id): writers can re-derive
      * any row, and read-your-writes checks know what they wrote. */
    def row(id: Long): Row = {
      val r = rng(seed ^ (id * 0xD1B54A32D192ED03L), 3)
      val c = centres(r.nextInt(Clusters))
      val v = normalize(Array.tabulate(dim)(i => c(i) + 0.6 * gaussian(r) / math.sqrt(dim)))
      val content = s"doc $id " + Seq.fill(4 + r.nextInt(5))(words(r.nextInt(words.length))).mkString(" ")
      Row(id, v, content, tagsAt(id, tagOffset))
    }

    def rows(from: Long, n: Int): IndexedSeq[Row] = (from until from + n).map(row)

    /** A query near a stored row: the row's vector plus small noise. */
    def perturb(v: Array[Float], r: SplittableRandom): Array[Float] =
      normalize(v.map(x => x + 0.05 * gaussian(r) / math.sqrt(dim)))
  }

  /** A seeded vocabulary of lowercase words. Every language marker and
    * stopword the text gates look for is excluded, so only the
    * generator's deliberate insertions move those gates. */
  def vocabulary(seed: Long, n: Int): IndexedSeq[String] = {
    val reserved = graft.operators.TextAnalysis.langMarkers.flatMap(_._2).toSet ++
      Set("the", "a", "and", "of", "in", "to")
    val r = rng(seed, 4)
    Iterator.continually {
      val len = 3 + r.nextInt(7)
      new String(Array.fill(len)(('a' + r.nextInt(26)).toChar))
    }.filterNot(reserved).distinct.take(n).toIndexedSeq
  }

  /** One generated document. `kind`: "good" passes the language and
    * quality gates; "lang" is non-English; "lowq" is English but fails
    * the quality floor. `dupOf` names the planted source (-1 if none). */
  final case class Doc(id: Long, text: String, kind: String, dupOf: Long)

  /** Document stream for the curate workload: batches of `batch` docs,
    * each with planted exact duplicates (5%), in-batch near-duplicates
    * (10%, 3-5% token substitutions) and near-duplicates of earlier
    * batches (5%), plus 10% non-English and 10% low-quality originals. */
  final class Docs(seed: Long, val batch: Int) {
    private val vocab = vocabulary(seed, 5000)
    private val vocabZipf = new Zipf(vocab.size, 1.05)
    private val enStop = IndexedSeq("the", "of", "and", "a", "in", "to")
    private val foreign = graft.operators.TextAnalysis.langMarkers
      .filter(_._1 != "en").map(_._2.toIndexedSeq).toIndexedSeq

    private def tokens(r: SplittableRandom, n: Int, stop: IndexedSeq[String]): Array[String] = {
      val t = Array.fill(n)(
        if (r.nextDouble() < 0.2) stop(r.nextInt(stop.size)) else vocab(vocabZipf.draw(r)))
      // at least 5 stopwords, so the quality floor's stopword term saturates
      (0 until 5).foreach(i => t(i * (n / 5)) = stop(i % stop.size))
      t
    }

    private def render(t: Array[String]): String =
      t.grouped(12).map(_.mkString(" ") + ".").mkString(" ")

    private def original(id: Long, r: SplittableRandom): Doc = {
      val n = 150 + r.nextInt(251)
      val u = r.nextDouble()
      if (u < 0.1) Doc(id, render(tokens(r, n, foreign(r.nextInt(foreign.size)))), "lang", -1)
      else if (u < 0.2) {
        // English but repetitive: one stopword, six word types
        val few = IndexedSeq.fill(6)(vocab(r.nextInt(vocab.size)))
        val t = Array.fill(n)(few(r.nextInt(few.size)))
        t(n / 2) = "the"
        Doc(id, render(t), "lowq", -1)
      } else Doc(id, render(tokens(r, n, enStop)), "good", -1)
    }

    private def nearDup(id: Long, src: Doc, r: SplittableRandom): Doc = {
      val t = Oracle.tokens(src.text).toArray
      val edits = math.max(1, math.round(t.length * (0.03 + 0.02 * r.nextDouble())).toInt)
      (0 until edits).foreach(_ => t(r.nextInt(t.length)) = vocab(vocabZipf.draw(r)))
      Doc(id, render(t), "good", src.id)
    }

    private val origMemo = scala.collection.mutable.Map.empty[Int, IndexedSeq[Doc]]

    private def nOrig: Int = batch - batch / 20 - batch / 10 - batch / 20

    /** The originals of batch `b`, from their own stream: planted copies
      * of an earlier batch re-derive it without re-deriving its copies. */
    def originals(b: Int): IndexedSeq[Doc] = origMemo.synchronized {
      origMemo.getOrElseUpdate(b, {
        val r = rng(seed ^ (b.toLong * 0x632BE59BD9B4E019L), 5)
        (0 until nOrig).map(i => original(b.toLong * batch + i, r))
      })
    }

    /** Batch `b` (0-based). Ids are dense and increase with generation
      * order, so a planted copy always has a larger id than its source. */
    def batchDocs(b: Int): IndexedSeq[Doc] = {
      val r = rng(seed ^ (b.toLong * 0x632BE59BD9B4E019L), 6)
      val orig = originals(b)
      val good = orig.filter(_.kind == "good")
      var next = b.toLong * batch + nOrig
      def fresh(): Long = { next += 1; next - 1 }
      val exact = (0 until batch / 20).map { _ =>
        val s = good(r.nextInt(good.size)); Doc(fresh(), s.text, "good", s.id)
      }
      val near = (0 until batch / 10).map(_ => nearDup(fresh(), good(r.nextInt(good.size)), r))
      val earlier = (0 until batch / 20).map { _ =>
        val pool = if (b == 0) good else originals(r.nextInt(b)).filter(_.kind == "good")
        nearDup(fresh(), pool(r.nextInt(pool.size)), r)
      }
      orig ++ exact ++ near ++ earlier
    }
  }

  /** SHA-256 over a canonical serialization: the determinism test's
    * "byte-identical inputs". */
  def digest(rows: Seq[Row], queries: Seq[(Array[Float], Seq[String])], docs: Seq[Doc]): String = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    rows.foreach { r =>
      out.writeLong(r.id); r.vector.foreach(out.writeFloat); out.writeUTF(r.content)
      r.tags.foreach(out.writeUTF)
    }
    queries.foreach { case (v, t) => v.foreach(out.writeFloat); t.foreach(out.writeUTF) }
    docs.foreach { d => out.writeLong(d.id); out.writeUTF(d.text); out.writeUTF(d.kind); out.writeLong(d.dupOf) }
    out.flush()
    java.security.MessageDigest.getInstance("SHA-256").digest(bos.toByteArray)
      .map(b => f"$b%02x").mkString
  }
}
