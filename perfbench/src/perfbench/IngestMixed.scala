package perfbench

import java.nio.file.Path
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.collection.mutable

import org.apache.spark.sql.functions.col

import graft.operators.{SimilaritySearch, VectorStore}

/** ingest_mixed: the only workload that writes while it reads. A writer
  * loop inserts (sometimes with new tag sets), upserts, deletes and
  * compacts, and after each write checks that it reads its own write; a
  * closed-loop reader runs tagged searches meanwhile. Every write changes
  * the snapshot, so reads re-resolve; files pile up until compaction. */
final class IngestMixed extends Workload {
  val N0 = 3000
  val Dim = 128
  /** Rows per write: 2%, 0.4% and 0.2% of the starting store, the
    * shares of a 1k-row insert, a 200-row upsert and a 100-row delete on
    * a 50k-row store. A write's cost is mostly per tag-set file touched. */
  val InsertRows = 60
  val UpsertRows = 12
  val DeleteRows = 6
  /** The writer's repeating step cycle. The writer always runs whole
    * cycles, so write throughput covers every step kind alike. */
  val Cycle = Seq("insert", "upsert", "deleteIds", "compact")
  val K = 10
  val Readers = 1
  def name = "ingest_mixed"
  def sizes = s"$N0 x $Dim quantized start; writer cycle ${Cycle.mkString(",")} (insert $InsertRows, " +
    s"upsert $UpsertRows, deleteIds $DeleteRows rows); $Readers tagged reader; k=$K"

  /** The oracle's view of the store: live ids and rewritten contents. */
  final class State(val store: VectorStore, val root: Path, val corpus: Gen.Corpus) {
    val live: mutable.LinkedHashSet[Long] = mutable.LinkedHashSet.empty
    val content: mutable.Map[Long, String] = mutable.Map.empty
    var nextId: Long = 0
    var step = 0
    val writes = new AtomicLong
    def contentOf(id: Long): String = content.getOrElse(id, corpus.row(id).content)
  }

  def setup(ctx: Ctx, dir: Path): State = {
    val st = new State(new VectorStore(ctx.spark, dir.toUri.toString), dir, new Gen.Corpus(ctx.seed, Dim))
    st.store.insert(Stores.toDF(ctx.spark, st.corpus.rows(0, N0)), quantize = true)
    (0L until N0).foreach(st.live += _)
    st.nextId = N0
    st
  }

  /** One untimed writer cycle beside the reader: set-up only inserts, so
    * upsert, deleteIds and compact would otherwise run cold (JIT,
    * generated code) in the timed loop. The cycle ends with a compact,
    * so the timed loop starts from a compacted store, as set-up leaves it. */
  override def warm(ctx: Ctx, st: State): Unit =
    cycles(ctx, st, Tracer.Off, new Recorder, ctx.seed ^ 50)(_ => false)

  /** Rows committed and write-call ns in the timed loop. */
  private var rows = 0L
  private var writeNs = 0L

  /** One writer step plus its read-your-writes check. */
  private def writeStep(ctx: Ctx, st: State, tr: Tracer, rec: Recorder, r: java.util.SplittableRandom): Unit = {
    st.step += 1
    val s = st.step
    val liveIds = st.live.toIndexedSeq
    def some(n: Int) = Iterator.continually(liveIds(r.nextInt(liveIds.size))).distinct.take(n).toIndexedSeq
    val kind = Cycle((s - 1) % Cycle.size)
    val expect = kind match { case "upsert" => "content"; case "deleteIds" => "absent"; case _ => "first" }
    rec.attempt(s"ingest.$kind") {
      tr.op(s"ingest.$kind") {
        val span = s"VectorStore.$kind"
        val filesBefore = if (tr.enabled) Stores.dataFiles(st.root) else 0
        val t0 = System.nanoTime()
        val target: Long = kind match {
          case "insert" =>
            val fresh = st.corpus.rows(st.nextId, InsertRows).map { row =>
              // each insert opens a new tag set on a row or two
              if (row.id % 50 == 0) row.copy(tags = (row.tags :+ s"x$s").sorted) else row
            }
            val df = Stores.toDF(ctx.spark, fresh)
            tr.span(span, "VectorStore")(st.store.insert(df, quantize = true))
            st.nextId += InsertRows; rows += InsertRows
            fresh.foreach(x => st.live += x.id)
            fresh(r.nextInt(fresh.size)).id
          case "upsert" =>
            val ids = some(UpsertRows)
            val upd = ids.map(id => st.corpus.row(id).copy(content = s"rev$s ${st.corpus.row(id).content}"))
            val df = Stores.toDF(ctx.spark, upd)
            tr.span(span, "VectorStore")(st.store.upsert(df, quantize = true))
            upd.foreach(x => st.content(x.id) = x.content); rows += UpsertRows
            ids(r.nextInt(ids.size))
          case "deleteIds" =>
            val ids = some(DeleteRows)
            tr.span(span, "VectorStore")(st.store.deleteIds(ids))
            ids.foreach(st.live -= _)
            ids(r.nextInt(ids.size))
          case _ =>
            tr.span(span, "VectorStore")(st.store.compact())
            some(1).head
        }
        writeNs += System.nanoTime() - t0
        rec.sample("write", (System.nanoTime() - t0) / 1e6)
        st.writes.incrementAndGet()
        if (tr.enabled) {
          val after = Stores.dataFiles(st.root)
          rec.sample("VectorStore.live_files", after)
          if (kind == "insert") rec.sample("VectorStore.insert.files_written", after - filesBefore)
        }
        // read-your-writes: the written row is found (first, with its
        // new content) or, once deleted, is gone
        val row = st.corpus.row(target)
        val got = st.store.search(row.vector, row.tags, K).select("id", "content").collect()
          .map(x => (x.getLong(0), x.getString(1)))
        val ok = expect match {
          case "absent" => !got.exists(_._1 == target)
          case "content" => got.headOption.contains((target, st.contentOf(target)))
          case _ => got.headOption.exists(_._1 == target)
        }
        rec.check(ok, s"read-your-writes after $kind of $target: got ${got.take(2).toSeq}")
      }
    }
  }

  /** One tagged read; its answer is checked against the rows' true
    * vectors and tags (the snapshot it saw may predate a concurrent
    * write, so membership is not checked). */
  private def read(ctx: Ctx, st: State, tr: Tracer, rec: Recorder, r: java.util.SplittableRandom,
                   i: Long, lastSeen: AtomicLong): Unit = {
    val base = st.corpus.row(r.nextInt(st.nextId.toInt))
    val q = st.corpus.perturb(base.vector, r)
    val tags = Gen.queryTags(i, st.corpus.tagOffset)
    rec.attempt("ingest.read") {
      tr.op("ingest.read") {
        val t0 = System.nanoTime()
        val w = st.writes.get()
        Stores.table(tr, st.store, lastSeen.getAndSet(w) != w)
        val df = tr.span("VectorStore.search.plan", "VectorStore")(st.store.search(q, tags, K))
        val got = tr.span("VectorStore.search.exec", "VectorStore")(
          df.select("id", "similarity", "tags").collect())
        rec.sample("read", (System.nanoTime() - t0) / 1e6)
        rec.sample("VectorStore.search.results", got.length)
        val sims = got.map(_.getDouble(1))
        val ok = got.length <= K && sims.toSeq == sims.toSeq.sorted.reverse && got.forall { x =>
          val id = x.getLong(0)
          val rowTags = x.getSeq[String](2)
          tags.forall(rowTags.contains) &&
            math.abs(Oracle.cosine(st.corpus.row(id).vector, q) - x.getDouble(1)) <= Oracle.Eps
        }
        rec.check(ok, s"ingest read tags=${tags.mkString(",")} returned a row with a wrong score or tags")
      }
    }
  }

  /** Whole writer cycles while `more(cycles done)` holds (at least one,
    * however slow the writes are), with the reader running until the
    * writer stops. */
  private def cycles(ctx: Ctx, st: State, tr: Tracer, rec: Recorder, seed: Long)(more: Int => Boolean): Unit = {
    val writing = new AtomicBoolean(true)
    val lastSeen = new AtomicLong(-1)
    val reader = new Thread(() =>
      Stores.clients(Readers, seed)(_ => writing.get) { (r, i) => read(ctx, st, tr, rec, r, i, lastSeen) })
    reader.start()
    val r = Gen.rng(seed, 201)
    var done = 0
    try {
      do { Cycle.indices.foreach(_ => writeStep(ctx, st, tr, rec, r)); done += 1 }
      while (more(done))
    } finally {
      writing.set(false)
      reader.join()
    }
  }

  def loop(ctx: Ctx, st: State, tr: Tracer, rec: Recorder): Unit = {
    rows = 0; writeNs = 0
    val deadline = ctx.deadline()
    cycles(ctx, st, tr, rec, ctx.seed ^ (if (tr.enabled) 7 else 0))(_ => System.nanoTime() < deadline)
  }

  def verify(ctx: Ctx, st: State, rec: Recorder): Map[String, Double] = {
    // settle the store: every cycle ends with a compact, so the space
    // figure is taken after it and a vacuum that reclaims every
    // superseded generation
    st.store.vacuum(0L)
    rec.attempt("ingest.final_count") {
      val n = st.store.table().count()
      rec.check(n == st.live.size, s"store holds $n rows, expected ${st.live.size}")
    }
    val reads = rec.get("read")
    val writes = rec.get("write")
    rec.values.put("write_p50_ms", Stats.median(writes))
    rec.values.put("write_tail_ms", Stats.tail(writes)._2)
    Map(
      "read_p50_ms" -> Stats.median(reads),
      "read_tail_ms" -> Stats.tail(reads)._2,
      "items_per_s" -> rows / (writeNs / 1e9),
      "recall" -> 1.0 * (rec.attempted.get - rec.failed.get) / rec.attempted.get,
      "bytes_stored_per_user_byte" ->
        Stores.bytesOnDisk(st.root).toDouble / Stores.userBytes(Dim, st.live.iterator.map(st.contentOf)))
  }

  override def probes(ctx: Ctx, st: State, tr: Tracer, rec: Recorder): Unit = {
    // the IVF codebook fit over this store's vectors (what an ANN index
    // build runs first)
    tr.op(Layers.ProbePrefix + "kmeans") {
      tr.span("SimilaritySearch.kmeansCentroids", "SimilaritySearch") {
        val t0 = System.nanoTime()
        SimilaritySearch.kmeansCentroids(st.store.table().select(col("vector").as("embedding")), 16, 42L).count()
        rec.values.put("SimilaritySearch.kmeansCentroids.s", (System.nanoTime() - t0) / 1e9)
      }
    }
    Kernels.probe(ctx, st.store, tr, rec)
  }
}
