package perfbench

/** The benchmark's own tests, run by `python3 perfbench/run.py --selftest`:
  *  - the same seed reproduces byte-identical inputs, another seed does not;
  *  - the correctness gate counts a deliberately wrong answer as failed,
  *    and a right one as passed;
  *  - the codec round trip matches the library's pack/unpack kernels.
  * Prints one line per test and exits 1 if any fails. */
object SelfTest {
  private def inputs(seed: Long): String = {
    val corpus = new Gen.Corpus(seed, 64)
    val rows = corpus.rows(0, 300)
    val r = Gen.rng(seed, 100)
    val qs = (0 until 50).map(i => (corpus.perturb(rows(r.nextInt(rows.size)).vector, r), Gen.queryTags(i, corpus.tagOffset)))
    val docs = new Gen.Docs(seed, 200)
    Gen.digest(rows, qs, docs.batchDocs(0) ++ docs.batchDocs(1))
  }

  def main(args: Array[String]): Unit = {
    var failed = 0
    def test(name: String)(ok: => Boolean): Unit = {
      val pass = try ok catch { case e: Throwable => System.err.println(e); false }
      println(s"${if (pass) "PASS" else "FAIL"} $name")
      if (!pass) failed += 1
    }

    test("same seed gives byte-identical inputs")(inputs(11) == inputs(11))
    test("another seed gives different inputs")(inputs(11) != inputs(12))

    val corpus = new Gen.Corpus(3, 32)
    val rows = corpus.rows(0, 500)
    val table = Stores.oracle(rows)
    val q = corpus.perturb(rows(7).vector, Gen.rng(3, 9))
    val all = table.scores(q, Nil)
    test("a right answer passes the gate") {
      val rec = new Recorder
      rec.attempt("right")(rec.check(Oracle.exactMatch(all.take(10).toSeq, all, 10), "right"))
      rec.failed.get == 0 && rec.attempted.get == 1
    }
    test("a wrong answer is counted failed") {
      val rec = new Recorder
      // swap the 10th hit for the 11th: a plausible near miss
      val wrong = all.take(9).toSeq :+ all(10)
      rec.attempt("wrong")(rec.check(Oracle.exactMatch(wrong, all, 10), "wrong"))
      rec.failed.get == 1 && rec.attempted.get == 1
    }
    test("a wrong score is counted failed") {
      val wrong = all.take(10).toSeq.updated(0, (all(0)._1, all(0)._2 - 1e-3))
      !Oracle.exactMatch(wrong, all, 10)
    }
    test("ties at the k-th score compare as sets") {
      val tied = Array[Oracle.Hit]((1L, 0.9), (2L, 0.5), (3L, 0.5), (4L, 0.1))
      Oracle.exactMatch(Seq((1L, 0.9), (3L, 0.5)), tied, 2) && !Oracle.exactMatch(Seq((1L, 0.9), (4L, 0.1)), tied, 2)
    }
    test("a thrown op is counted failed") {
      val rec = new Recorder
      rec.attempt("throws")(throw new IllegalStateException("boom"))
      rec.failed.get == 1
    }
    test("the tail is p75 whatever the sample count") {
      val xs = (1 to 200).map(_.toDouble)
      Stats.tail(xs) == ((75.0, 150.0)) && Stats.tail(xs.take(99)) == ((75.0, 75.0)) &&
        Stats.tail(xs.take(100)) == ((75.0, 75.0))
    }
    test("planted near-duplicates clear the Jaccard threshold") {
      val docs = new Gen.Docs(5, 400).batchDocs(1)
      val byId = (docs ++ new Gen.Docs(5, 400).originals(0)).map(d => d.id -> d).toMap
      val js = docs.filter(_.dupOf >= 0).map(d => Oracle.jaccard(d.text, byId(d.dupOf).text))
      js.nonEmpty && js.count(_ >= graft.OracleSql.JaccardThreshold).toDouble / js.size > 0.9
    }
    test("the codec round trip matches the library kernels") {
      val spark = Session.start(java.nio.file.Paths.get(args.sliding(2).collectFirst {
        case Array("--work", w) => w }.getOrElse(".bench_build/work")).toAbsolutePath)
      try {
        import graft.functions.GraftFunctions._
        import org.apache.spark.sql.functions.col
        val df = Stores.toDF(spark, rows.take(50))
        val got = df.select(col("id"), unpack(pack(col("vector")))).collect()
          .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
        rows.take(50).forall(r => Oracle.roundTrip(r.vector).sameElements(got(r.id)))
      } finally spark.stop()
    }
    sys.exit(if (failed == 0) 0 else 1)
  }
}
