package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession, Row => SRow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.VectorStore

/** Shared store plumbing for the workloads. */
object Stores {
  val Schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("vector", ArrayType(FloatType, containsNull = false), nullable = false),
    StructField("content", StringType),
    StructField("tags", ArrayType(StringType, containsNull = false))))

  def toDF(spark: SparkSession, rows: Seq[Gen.Row]): DataFrame =
    spark.createDataFrame(rows.map(r => SRow(r.id, r.vector.toSeq, r.content, r.tags)).asJava, Schema)

  /** (id, similarity) rows of a search result. */
  def hits(df: DataFrame): Array[Oracle.Hit] =
    df.select(col("id"), col("similarity")).collect().map(r => (r.getLong(0), r.getDouble(1)))

  private def files(root: Path): Seq[Path] =
    if (!Files.exists(root)) Nil
    else Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_)).toSeq

  /** Every byte the store keeps on disk (data, manifests, index, sidecars). */
  def bytesOnDisk(root: Path): Long = files(root).map(Files.size).sum

  /** Parquet data files the store directory holds (all generations). */
  def dataFiles(root: Path): Int =
    files(root.resolve("data")).count(_.getFileName.toString.endsWith(".parquet"))

  def userBytes(dim: Int, contents: Iterator[String]): Long =
    contents.map(c => 4L * dim + c.getBytes("UTF-8").length).sum

  /** Oracle table over rows (optionally codec round-tripped). */
  def oracle(rows: Seq[Gen.Row], quantized: Boolean = false): Oracle.Table =
    new Oracle.Table(rows.map(_.id).toArray,
      rows.map(r => if (quantized) Oracle.roundTrip(r.vector) else r.vector).toArray,
      rows.map(_.tags.toSet).toArray)

  /** `n` closed-loop clients, each running op `i` while `go(i)` holds.
    * Client `c` gets its own seeded stream and the op indexes c, c + n,
    * c + 2n, ... */
  def clients(n: Int, seed: Long)(go: Long => Boolean)(step: (java.util.SplittableRandom, Long) => Unit): Unit = {
    val ts = (0 until n).map { c =>
      val t = new Thread(() => {
        val r = Gen.rng(seed, 100 + c)
        var i = c.toLong
        while (go(i)) { step(r, i); i += n }
      })
      t.start(); t
    }
    ts.foreach(_.join())
  }

  /** Wrap a table() call so the traced run can tell a snapshot rebuilt
    * after a write (cold) from a cached one (warm). */
  def table(tr: Tracer, store: VectorStore, cold: Boolean): Unit =
    if (tr.enabled)
      tr.span(if (cold) "VectorStore.table.cold" else "VectorStore.table.warm", "VectorStore")(store.table())
}

/** Kernel probes over a cached in-memory copy of a store's rows: the
  * `functions` layer's cost per pair or vector, with no I/O. */
object Kernels {
  private def noopMs(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e6
  }

  /** Rows a kernel probe scores: enough that per-job overhead is noise. */
  val ProbeRows = 200000L

  /** Median of three timed passes, in ns per row. */
  private def nsPerRow(df: DataFrame, rows: Long): Double =
    Stats.median(Seq.fill(3)(noopMs(df))) * 1e6 / rows

  def probe(ctx: Ctx, store: VectorStore, tr: Tracer, rec: Recorder): Unit =
    tr.op(Layers.ProbePrefix + "functions") {
      import graft.functions.GraftFunctions._
      val base = store.table().select(col("vector"))
      val copies = math.max(1L, ProbeRows / base.count())
      val cached = base.crossJoin(ctx.spark.range(copies).toDF("copy")).select(col("vector"))
        .withColumn("packed", pack(col("vector"))).cache()
      val n = cached.count()
      val q = cached.head().getSeq[Float](0)
      tr.span("functions.cosine", "functions") {
        rec.values.put("functions.cosine.ns_per_pair", nsPerRow(cached.select(cosine(col("vector"), vecLit(q))), n))
      }
      tr.span("functions.cosine_packed", "functions") {
        rec.values.put("functions.cosine_packed.ns_per_pair",
          nsPerRow(cached.select(cosine(unpack(col("packed")), vecLit(q))), n))
      }
      tr.span("functions.pack", "functions") {
        rec.values.put("functions.pack.ns_per_vector", nsPerRow(cached.select(pack(col("vector"))), n))
      }
      cached.unpersist()
    }
}
