package perfbench

import java.nio.file.Path

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.chaining._

import org.apache.spark.sql.{DataFrame, Row => SRow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.HashingEmbedder
import graft.operators.{Curation, Dedup, TextAnalysis, VectorStore}

/** The LLM-data pipeline, run as a probe of the traced serve run (on
  * its own store): batches of generated documents go through Curation.curate
  * (language and quality gates, near-dup canonicalization), HashingEmbedder
  * over the survivors, and VectorStore.insertNearDedup against everything
  * ingested before. The only place TextAnalysis, Dedup, Curation and the
  * embedder do the work. Batch 0 runs untimed (it warms the pipeline and
  * seeds the store cross-batch duplicates are caught against); batch 1 is
  * measured; then each text layer is timed alone over batch 2. */
final class Curate {
  val Batch = 120
  val Dim = 384
  val ReadBacks = 10

  private val DocSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
  private val embedder = HashingEmbedder(Dim)

  final class State(val store: VectorStore, val docs: Gen.Docs) {
    var batch = 0
    /** Every document sent through the pipeline, by id. */
    val seen: mutable.Map[Long, Gen.Doc] = mutable.Map.empty
  }

  private def docsDF(ctx: Ctx, ds: Seq[Gen.Doc]): DataFrame =
    ctx.spark.createDataFrame(ds.map(d => SRow(d.id, d.text)).asJava, DocSchema)

  /** One batch through the pipeline, checked as it goes. */
  private def runBatch(ctx: Ctx, st: State, tr: Tracer, rec: Recorder): Unit = {
    val ds = st.docs.batchDocs(st.batch)
    st.batch += 1
    val byId = ds.map(d => d.id -> d).toMap
    rec.attempt("curate.batch") {
      tr.span("Curation.pipeline", "bench") {
        val df = docsDF(ctx, ds)
        val t0 = System.nanoTime()
        val kept = tr.span("Curation.curate", "Curation")(
          Curation.curate(df).select("doc_id").collect().map(_.getLong(0)))
        val survivors = kept.sorted.map(byId)
        val embedded = tr.span("functions.hash_embed", "functions")(
          docsDF(ctx, survivors).select(col("doc_id").as("id"), embedder.embed(col("text")).as("vector"),
            col("text").as("content"), array(lit("en")).as("tags")).collect())
        val sizeBefore = if (tr.enabled) st.store.table().count() else 0L
        tr.span("VectorStore.insertNearDedup", "VectorStore")(
          st.store.insertNearDedup(ctx.spark.createDataFrame(embedded.toSeq.asJava, Stores.Schema)))
        val t2 = System.nanoTime()
        rec.sample("pipeline_ns", (t2 - t0).toDouble)
        rec.sample("docs", ds.size)
        if (tr.enabled)
          rec.sample("VectorStore.insertNearDedup.rows_dropped",
            embedded.length - (st.store.table().count() - sizeBefore))
        // the gates: only documents built to pass them may survive
        val bad = survivors.filter(_.kind != "good")
        rec.check(bad.isEmpty, s"curate kept ${bad.size} gate-failing docs, e.g. ${bad.headOption.map(d => d.id -> d.kind)}")
        ds.foreach(d => st.seen(d.id) = d)
        // read back: a fresh original is its own nearest neighbour
        embedded.filter(e => byId(e.getLong(0)).dupOf < 0).take(ReadBacks).foreach { e =>
          val v = e.getSeq[Float](1)
          val t3 = System.nanoTime()
          val got = Stores.hits(st.store.search(v, Seq("en"), 5))
          rec.sample("Curation.read_back_ms", (System.nanoTime() - t3) / 1e6)
          val id = e.getLong(0)
          rec.check(got.find(_._1 == id).exists(h => math.abs(h._2 - 1.0) < 1e-9),
            s"read-back of $id got ${got.take(2).toSeq}")
        }
      }
    }
  }

  def probe(ctx: Ctx, dir: Path, tr: Tracer, rec: Recorder): Unit = {
    val st = new State(new VectorStore(ctx.spark, dir.toUri.toString), new Gen.Docs(ctx.seed, Batch))
    runBatch(ctx, st, Tracer.Off, new Recorder)
    tr.op(Layers.ProbePrefix + "curate")(runBatch(ctx, st, tr, rec))
    verify(st, rec)
    textLayers(ctx, st, tr, rec)
  }

  private def verify(st: State, rec: Recorder): Unit = {
    val stored = st.store.table().select("id", "content").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val docs = st.seen.values.toSeq
    val good = docs.filter(_.kind == "good")
    // planted pairs merged: the copy did not reach the store
    val planted = good.filter(_.dupOf >= 0)
    val recall = planted.count(d => !stored.contains(d.id)).toDouble / planted.size
    // merges that were right: a dropped good doc is a planted copy whose
    // true Jaccard with its source clears the threshold
    val dropped = good.filterNot(d => stored.contains(d.id))
    val rightMerges = dropped.count { d =>
      d.dupOf >= 0 && Oracle.jaccard(d.text, st.seen(d.dupOf).text) >= graft.OracleSql.JaccardThreshold
    }
    rec.values.put("Curation.dedup_recall", recall)
    rec.values.put("Curation.dedup_precision", if (dropped.isEmpty) 1.0 else rightMerges.toDouble / dropped.size)
    rec.attempt("curate.final_store") {
      val wrong = stored.keys.filterNot(id => st.seen.get(id).exists(_.kind == "good"))
      rec.check(wrong.isEmpty, s"store holds ${wrong.size} docs that no gate should pass")
    }
    rec.values.put("Curation.docs_per_s", rec.get("docs").sum / (rec.get("pipeline_ns").sum / 1e9))
  }

  private def textLayers(ctx: Ctx, st: State, tr: Tracer, rec: Recorder): Unit = tr.op(Layers.ProbePrefix + "text") {
    val df = docsDF(ctx, st.docs.batchDocs(st.batch)).cache()
    df.count()
    def secs[T](name: String, layer: String)(f: => T): T = tr.span(name, layer) {
      val t0 = System.nanoTime()
      val r = f
      rec.values.put(s"$name.s", (System.nanoTime() - t0) / 1e9)
      r
    }
    secs("TextAnalysis.stats", "TextAnalysis")(TextAnalysis.stats(df).write.format("noop").mode("overwrite").save())
    val sh = secs("Dedup.shingles", "Dedup")(Dedup.shingles(df).cache().tap(_.count()))
    val mh = secs("Dedup.minhashSignatures", "Dedup")(Dedup.minhashSignatures(sh).cache().tap(_.count()))
    val cand = secs("Dedup.lshCandidates", "Dedup")(Dedup.lshCandidates(mh).cache().tap(_.count()))
    val verified = Dedup.jaccard(sh, Some(cand)).where(col("j") >= graft.OracleSql.JaccardThreshold)
      .select("d1", "d2").cache()
    val nCand = cand.count().toDouble
    val nVer = verified.count().toDouble
    rec.values.put("Dedup.lsh.candidate_pairs", nCand)
    rec.values.put("Dedup.lsh.verified_pairs", nVer)
    rec.values.put("Dedup.lsh.precision", if (nCand > 0) nVer / nCand else 0.0)
    secs("Dedup.components", "Dedup")(Dedup.components(verified).count())
    tr.span("functions.hash_embed", "functions") {
      // enough copies of the batch that per-job overhead is noise
      val copies = 50
      val many = df.crossJoin(ctx.spark.range(copies).toDF("copy")).select(col("text")).cache()
      many.count()
      val t0 = System.nanoTime()
      many.select(embedder.embed(col("text"))).write.format("noop").mode("overwrite").save()
      rec.values.put("functions.hash_embed.ns_per_doc", (System.nanoTime() - t0).toDouble / (copies * Batch))
      many.unpersist()
    }
    Seq(sh, mh, cand, verified, df).foreach(_.unpersist())
  }
}
