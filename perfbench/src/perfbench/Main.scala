package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

object Stats {
  def quantile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The tail percentile: p75, fixed. A percentile chosen from each
    * run's sample count (the highest with ten samples beyond it) moved
    * between p75 and p90 around 100 samples and made the tail jump
    * between runs of the same code. p90 is no steadier where it is
    * reached: in serve it sits on the edge of the DPP share (10% of the
    * reads, ~2.5x slower than the rest), so it flips between the two.
    * ingest_mixed takes ~70 reads and serve 100+, so 17+ lie beyond p75;
    * the detail line reports `n`. */
  val TailPct = 0.75

  /** (percentile, value) of the tail. */
  def tail(xs: Seq[Double]): (Double, Double) = (TailPct * 100, quantile(xs, TailPct))
}

/** What one run records: latency samples by name, op counts, failures,
  * and workload-specific values. Thread-safe: client threads share it. */
final class Recorder {
  private val samples = new java.util.concurrent.ConcurrentHashMap[String, ConcurrentLinkedQueue[Double]]()
  val attempted = new AtomicLong
  val failed = new AtomicLong
  val failures = new ConcurrentLinkedQueue[String]()
  val values = new java.util.concurrent.ConcurrentHashMap[String, Double]()

  def sample(name: String, v: Double): Unit =
    samples.computeIfAbsent(name, _ => new ConcurrentLinkedQueue[Double]()).add(v)

  def samplesNames: Iterable[String] = samples.keySet().asScala

  def get(name: String): Seq[Double] =
    Option(samples.get(name)).map(_.asScala.toSeq).getOrElse(Nil)

  def fail(what: String): Unit = {
    failed.incrementAndGet()
    if (failures.size < 20) failures.add(what)
  }

  /** Count one op; a check that does not hold counts it failed. */
  def check(ok: Boolean, what: => String): Unit = if (!ok) fail(what)

  /** Run one op: counted as attempted, failed if it throws. */
  def attempt[T](what: String)(f: => T): Option[T] = {
    attempted.incrementAndGet()
    try Some(f) catch { case NonFatal(e) => fail(s"$what threw ${e.getClass.getSimpleName}: ${e.getMessage}"); None }
  }
}

/** Everything a workload needs from the run. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double, val work: Path) {
  def deadline(): Long = System.nanoTime() + (seconds * 1e9).toLong
}

/** A workload: set up a fresh store (repeatable), run the timed loop,
  * then verify and report. */
trait Workload {
  type State
  def name: String
  def sizes: String
  def setup(ctx: Ctx, dir: Path): State
  /** Untimed ops after set-up, so lazy caches and the JIT are warm. */
  def warm(ctx: Ctx, st: State): Unit = ()
  /** The timed loop; `tr` is enabled only in the traced pass. */
  def loop(ctx: Ctx, st: State, tr: Tracer, rec: Recorder): Unit
  /** Check answers recorded by `loop` and return the end-to-end values
    * it owns (everything but setup_s and heap_live_mb). */
  def verify(ctx: Ctx, st: State, rec: Recorder): Map[String, Double]
  /** Per-layer probes that only the traced run makes (after its loop). */
  def probes(ctx: Ctx, st: State, tr: Tracer, rec: Recorder): Unit = ()
}

object Main {
  private val t0 = System.nanoTime()
  /** Progress on stderr, with seconds since start. */
  def log(msg: String): Unit = System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%7.2f s] $msg")

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "read_p50_ms" -> "ms", "read_tail_ms" -> "ms", "items_per_s" -> "1/s",
    "recall" -> "fraction", "bytes_stored_per_user_byte" -> "ratio", "heap_live_mb" -> "MB")

  val workloads: Map[String, () => Workload] = Map(
    "serve" -> (() => new Serve), "ingest_mixed" -> (() => new IngestMixed))

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wname = opts.getOrElse("workload", "")
    val mk = workloads.getOrElse(wname, { System.err.println(s"unknown workload '$wname'"); sys.exit(2) })
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts.getOrElse("work", ".bench_build/work")).toAbsolutePath
    val envBefore = Env.before()
    val spark = Session.start(work)
    val code =
      try run(spark, mk(), seed, seconds, trace, work, envBefore)
      finally spark.stop()
    sys.exit(code)
  }

  def run(spark: SparkSession, w: Workload, seed: Long, seconds: Double, trace: Boolean,
          work: Path, envBefore: Map[String, String]): Int = {
    val ctx = new Ctx(spark, seed, seconds, work)
    val runDir = work.resolve(s"${w.name}-$seed-${ProcessHandle.current().pid()}")
    try {
      // set-up is repeated and its median reported, so one slow repeat
      // (cold JIT, a noisy neighbour) does not move setup_s
      val reps = if (trace) 1 else Session.SetupRepeats
      val setups = (0 until reps).map { i =>
        log(s"setup ${i + 1}/$reps")
        val t0 = System.nanoTime()
        val st = w.setup(ctx, runDir.resolve(s"setup$i"))
        ((System.nanoTime() - t0) / 1e9, st)
      }
      val st = setups.last._2
      log("warm-up")
      w.warm(ctx, st)
      val env = envBefore ++ Env.after(spark, w, seed)

      val rec = new Recorder
      log("untraced loop")
      w.loop(ctx, st, Tracer.Off, rec)
      val heapLive = Env.heapLiveMb()
      log("verify")
      rec.values.put("rss_peak_mb", Env.rssPeakMb())
      val e2e = w.verify(ctx, st, rec) ++ Map(
        "setup_s" -> Stats.median(setups.map(_._1)), "heap_live_mb" -> heapLive)
      Env.detail(w.name, "untraced", rec, e2e, env, setups.map(_._1))

      val (metrics, units, tracedRec) =
        if (!trace) (e2e, EndToEnd.toMap, rec)
        else {
          val tr = new Tracer(true, spark.sparkContext)
          val trec = new Recorder
          log("traced loop")
          w.loop(ctx, st, tr, trec)
          val traced = w.verify(ctx, st, trec)
          log("probes")
          w.probes(ctx, st, tr, trec)
          tr.drain()
          tr.writeOut(work.resolveSibling("traces").resolve(s"${w.name}-$seed.jsonl"))
          tr.close()
          val layer = Layers.metrics(tr, trec, e2e, traced)
          Env.detail(w.name, "traced", trec, traced, env, Nil)
          (layer.map { case (k, (v, _)) => k -> v }, layer.map { case (k, (_, u)) => k -> u }, trec)
        }
      val attempted = rec.attempted.get + (if (trace) tracedRec.attempted.get else 0)
      val failed = rec.failed.get + (if (trace) tracedRec.failed.get else 0)
      (rec.failures.asScala ++ (if (trace) tracedRec.failures.asScala else Nil)).foreach(f =>
        System.err.println(s"[perfbench] FAILED: $f"))
      val correct = failed == 0 && metrics.values.forall(v => !v.isNaN && !v.isInfinite)
      val ms = metrics.toSeq.sortBy(_._1).map { case (k, v) =>
        s""""$k": {"value": ${Json.num(v)}, "unit": "${units(k)}"}"""
      }.mkString(", ")
      println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}""")
      if (correct) 0 else 1
    } finally {
      if (Files.exists(runDir))
        Files.walk(runDir).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.deleteIfExists(p))
    }
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) f"$v%.1f" else v.toString
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
}

object Session {
  /** How many times set-up runs per untraced run (median reported). */
  val SetupRepeats = 3

  def start(work: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Spark keeps the last 1,000 jobs, stages and SQL executions for
      // its status store even without the UI; a faster run keeps more of
      // them, which would show in heap_live_mb. A few suffice.
      .config("spark.ui.retainedJobs", "20")
      .config("spark.ui.retainedStages", "20")
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop-tmp").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.setCheckpointDir(work.resolve("checkpoints").toString)
    graft.functions.GraftFunctions.register(s)
    s
  }
}

/** The environment stamp printed with every result: machine, versions,
  * sizes, and the contention signals (load average, CPU steal) seen
  * before the timed loop. */
object Env {
  private def procStat(): Array[Long] =
    scala.io.Source.fromFile("/proc/stat").getLines().next().trim.split("\\s+").drop(1).map(_.toLong)

  private var statAtStart: Array[Long] = Array.empty

  def before(): Map[String, String] = {
    statAtStart = procStat()
    Map("loadavg_before" -> scala.io.Source.fromFile("/proc/loadavg").mkString.trim.split(" ").take(3).mkString(" "))
  }

  def after(spark: SparkSession, w: Workload, seed: Long): Map[String, String] = {
    val now = procStat()
    val d = now.zip(statAtStart).map { case (a, b) => a - b }
    val steal = if (d.length > 7 && d.sum > 0) d(7).toDouble / d.sum else 0.0
    Map(
      "nproc" -> Runtime.getRuntime.availableProcessors().toString,
      "spark" -> spark.version,
      "jvm" -> System.getProperty("java.version"),
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
      "workload" -> w.name, "sizes" -> w.sizes, "seed" -> seed.toString,
      "cpu_steal_during_setup" -> f"$steal%.4f")
  }

  /** Heap the JVM still holds after full collections: data the run
    * keeps in memory (snapshot caches, broadcasts, cached blocks).
    * Spark's cleaner drops a block only after a collection has orphaned
    * it, and one cleanup can orphan the next, so collections run 1 s
    * apart until one frees less than 0.5 MB (two rounds left ~16 MB
    * behind in some runs, three never did). */
  def heapLiveMb(): Double = {
    // the heap pools' usage as the last collection left it: what other
    // threads allocate after it would otherwise count too
    def afterGc(): Double = {
      System.gc()
      java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
    }
    var last = afterGc()
    var rounds = 1
    var settled = false
    while (!settled && rounds < 6) {
      Thread.sleep(1000)
      val now = afterGc()
      settled = now > last - 0.5
      last = math.min(last, now)
      rounds += 1
    }
    last
  }

  def rssPeakMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  /** One human-readable JSON line per pass, before the result line. */
  def detail(workload: String, pass: String, rec: Recorder, values: Map[String, Double],
             env: Map[String, String], setups: Seq[Double]): Unit = {
    val names = rec.samplesNames
    val lat = names.toSeq.sorted.map { n =>
      val xs = rec.get(n)
      val (p, t) = Stats.tail(xs)
      s"${Json.str(n)}: {\"n\": ${xs.size}, \"p50\": ${Json.num(Stats.median(xs))}, " +
        s"\"tail\": ${Json.num(t)}, \"tail_pct\": ${Json.num(p)}}"
    }.mkString(", ")
    val vals = (values ++ rec.values.asScala).toSeq.sortBy(_._1)
      .map { case (k, v) => s"${Json.str(k)}: ${Json.num(v)}" }.mkString(", ")
    val envs = env.toSeq.sortBy(_._1).map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString(", ")
    println(s"""{"pass": "$pass", "workload": "$workload", "ops_attempted": ${rec.attempted.get}, """ +
      s""""ops_failed": ${rec.failed.get}, "setup_repeats_s": [${setups.map(Json.num).mkString(", ")}], """ +
      s""""values": {$vals}, "latency_ms": {$lat}, "env": {$envs}}""")
  }
}
