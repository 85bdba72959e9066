package perfbench

import java.nio.file.Path
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.parallel.CollectionConverters._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

import graft.operators.VectorStore

/** A recorded single-query answer, checked after the timed loop. */
final case class Answer(kind: String, q: Array[Float], tags: Seq[String], quantized: Boolean,
                        hits: Seq[Oracle.Hit])

/** serve: the RAG read path. A read-only quantized store, two
  * closed-loop clients, a mix of tagged, untagged, quantized, DPP and
  * SQL reads. Per-query cost is query planning, job scheduling and
  * pruned scans; there are no writes. */
final class Serve extends Workload {
  val N = 3000
  val Dim = 128
  val K = 10
  val Clients = 2
  /** Untimed reads before the loop, counted in ops, not seconds: the JIT
    * is still compiling Spark's planner when the loop starts, so latency
    * falls for a minute or more. A warm-up of fixed length in time would
    * leave a slower machine less far down that curve and amplify its
    * slowness; a fixed op count starts every run at the same point. */
  val WarmReads = 100
  /** Cap on the warm-up, so a very slow machine still ends in time. */
  val WarmCapS = 40
  def name = "serve"
  def sizes = s"$N x $Dim quantized, no ANN index, $Clients clients, k=$K"

  final class State(val store: VectorStore, val root: Path, val rows: IndexedSeq[Gen.Row],
                    val corpus: Gen.Corpus, val raw: Oracle.Table, val quant: Oracle.Table,
                    val view: String, val firstRead: AtomicBoolean)

  def setup(ctx: Ctx, dir: Path): State = {
    val corpus = new Gen.Corpus(ctx.seed, Dim)
    val rows = corpus.rows(0, N)
    val store = new VectorStore(ctx.spark, dir.toUri.toString)
    store.insert(Stores.toDF(ctx.spark, rows), quantize = true)
    val view = s"serve_${dir.getFileName}"
    store.registerSqlTable(view)
    new State(store, dir, rows, corpus, Stores.oracle(rows), Stores.oracle(rows, quantized = true),
      view, new AtomicBoolean(true))
  }

  override def warm(ctx: Ctx, st: State): Unit = {
    val cap = System.nanoTime() + WarmCapS * 1000000000L
    Stores.clients(Clients, ctx.seed ^ 50)(i => i < WarmReads && System.nanoTime() < cap) { (r, i) =>
      read(ctx, st, i, r, Tracer.Off, new Recorder)
    }
  }

  /** The read mix as a fixed 20-slot schedule (45% tagged, 20% untagged,
    * 15% quantized, 10% DPP, 10% SQL), each kind spread evenly over it, so
    * every run reads the same mix. */
  private val Schedule: IndexedSeq[String] =
    Seq("tagged" -> 9, "untagged" -> 4, "quantized" -> 3, "dpp" -> 2, "sql" -> 2)
      .flatMap { case (k, n) => (0 until n).map(j => ((j + 0.5) / n, k)) }.sortBy(_._1).map(_._2).toIndexedSeq

  private def sqlText(view: String, q: Array[Float], tag: String): String =
    s"SELECT id, graft_cosine(vector, CAST(array(${q.map(x => java.lang.Double.toString(x.toDouble)).mkString(",")}) " +
      s"AS ARRAY<FLOAT>)) AS similarity FROM $view WHERE array_contains(tags, '$tag') " +
      s"ORDER BY similarity DESC, id ASC LIMIT $K"

  /** One read; returns the answer for verification. */
  private def read(ctx: Ctx, st: State, i: Long, r: java.util.SplittableRandom,
                   tr: Tracer, rec: Recorder): Option[Answer] = {
    val kind = Schedule((i % Schedule.size).toInt)
    val q = st.corpus.perturb(st.rows(r.nextInt(N)).vector, r)
    val tags = kind match {
      case "untagged" | "quantized" => Nil
      // the SQL route filters on one tag: even query indexes draw one
      case "sql" => Gen.queryTags(i / 2 * 2, st.corpus.tagOffset)
      case _ => Gen.queryTags(i, st.corpus.tagOffset)
    }
    rec.attempt(s"serve.$kind") {
      tr.op(s"serve.$kind") {
        val t0 = System.nanoTime()
        val hits = kind match {
          case "sql" =>
            val df = tr.span("plans.sql_search.plan", "plans") {
              val d = ctx.spark.sql(sqlText(st.view, q, tags.head)); d.queryExecution.executedPlan; d
            }
            // collected as is: the scan metric lives on this plan
            val h = tr.span("plans.sql_search.exec", "plans")(
              df.collect().map(x => (x.getLong(0), x.getDouble(1))))
            if (tr.enabled) rec.sample("plans.sql_search.files_read", Serve.filesRead(df))
            h
          case "dpp" =>
            Stores.table(tr, st.store, st.firstRead.getAndSet(false))
            val df = tr.span("VectorStore.searchDpp.plan", "VectorStore")(st.store.searchDpp(q, tags, K))
            val h = tr.span("VectorStore.searchDpp.exec", "VectorStore")(Stores.hits(df))
            rec.sample("VectorStore.searchDpp.results", h.length)
            h
          case _ =>
            Stores.table(tr, st.store, st.firstRead.getAndSet(false))
            val df = tr.span("VectorStore.search.plan", "VectorStore")(
              st.store.search(q, tags, K, quantized = kind == "quantized"))
            val h = tr.span("VectorStore.search.exec", "VectorStore")(Stores.hits(df))
            rec.sample("VectorStore.search.results", h.length)
            h
        }
        val ms = (System.nanoTime() - t0) / 1e6
        rec.sample("read", ms)
        rec.sample(s"read.$kind", ms)
        Answer(kind, q, tags, kind == "quantized", hits.toSeq)
      }
    }
  }

  private val answers = new ConcurrentLinkedQueue[Answer]()
  private var loopNs = 0L

  def loop(ctx: Ctx, st: State, tr: Tracer, rec: Recorder): Unit = {
    answers.clear()
    val t0 = System.nanoTime()
    val deadline = ctx.deadline()
    Stores.clients(Clients, ctx.seed ^ (if (tr.enabled) 7 else 0))(_ => System.nanoTime() < deadline) { (r, i) =>
      read(ctx, st, i, r, tr, rec).foreach(answers.add)
    }
    loopNs = System.nanoTime() - t0
    rec.sample("VectorStore.live_files", Stores.dataFiles(st.root))
  }

  def verify(ctx: Ctx, st: State, rec: Recorder): Map[String, Double] = {
    val as = answers.asScala.toVector
    val recalls = as.par.map { a =>
      val all = (if (a.quantized) st.quant else st.raw).scores(a.q, a.tags)
      if (!Oracle.exactMatch(a.hits, all, K))
        rec.fail(s"serve.${a.kind} tags=${a.tags.mkString(",")} got ${a.hits.take(3)} want ${all.take(3).toSeq}")
      Oracle.recall(a.hits, all, K)
    }.seq
    val reads = rec.get("read")
    Map(
      "read_p50_ms" -> Stats.median(reads),
      "read_tail_ms" -> Stats.tail(reads)._2,
      "items_per_s" -> reads.size / (loopNs / 1e9),
      "recall" -> recalls.sum / recalls.size,
      "bytes_stored_per_user_byte" ->
        Stores.bytesOnDisk(st.root).toDouble / Stores.userBytes(Dim, st.rows.iterator.map(_.content)))
  }

  override def probes(ctx: Ctx, st: State, tr: Tracer, rec: Recorder): Unit =
    new Curate().probe(ctx, st.root.resolveSibling("curate"), tr, rec)
}

object Serve {
  /** Files the executed plan's scans read (Spark's own scan metric). */
  def filesRead(df: DataFrame): Double = {
    val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    helper.collect(df.queryExecution.executedPlan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.metrics.get("numFiles").map(_.value.toDouble).getOrElse(0.0)
    }.sum
  }
}

