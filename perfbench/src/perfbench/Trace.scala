package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** A span: one timed call into a layer. Spans of one benchmark op share
  * `op`; `parent` is the enclosing span (0 at the op root). Times are
  * nanoseconds on one clock (`System.nanoTime`). */
final case class Span(id: Long, op: Long, parent: Long, name: String, layer: String,
                      start: Long, end: Long)

/** Per-job Spark counters, attributed to the span that submitted the job
  * through the `perfbench.span` local property. */
final class JobStats {
  var span = 0L; var op = 0L
  var start = 0L; var end = 0L
  var tasks = 0L; var failedTasks = 0L
  var runMs = 0L; var gcMs = 0L; var schedDelayMs = 0L
  var bytesRead = 0L; var recordsRead = 0L
  var shuffleRead = 0L; var shuffleWrite = 0L
  var bytesWritten = 0L
}

object Tracer {
  /** Tracing off: every span is a plain call. */
  val Off = new Tracer(false, null)
}

/** Records spans in memory (written out at exit) and, through a
  * SparkListener registered only when tracing, the Spark jobs each span
  * submitted. Disabled, every method is a plain call-through. */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private val ids = new AtomicLong(1)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[(Long, Long)]] { override def initialValue() = Nil }
  // listener-clock (epoch ms) to span-clock (nanoTime) offset
  private val clockOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobStats]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, JobStats]()
  private val jobsEnded = new AtomicLong(0)
  private val jobsStarted = new AtomicLong(0)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val j = new JobStats
      val p = Option(e.properties)
      j.span = p.flatMap(x => Option(x.getProperty("perfbench.span"))).map(_.toLong).getOrElse(0L)
      j.op = p.flatMap(x => Option(x.getProperty("perfbench.op"))).map(_.toLong).getOrElse(0L)
      j.start = e.time
      jobs.put(e.jobId, j)
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, j))
      jobsStarted.incrementAndGet()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
      jobsEnded.incrementAndGet()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val j = stageJob.get(e.stageId)
      if (j == null) return
      j.synchronized {
        j.tasks += 1
        if (!e.taskInfo.successful) j.failedTasks += 1
        val m = e.taskMetrics
        if (m != null) {
          j.runMs += m.executorRunTime
          j.gcMs += m.jvmGCTime
          j.schedDelayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime)
          j.bytesRead += m.inputMetrics.bytesRead
          j.recordsRead += m.inputMetrics.recordsRead
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.bytesWritten += m.outputMetrics.bytesWritten
        }
      }
    }
  }
  if (enabled) sc.addSparkListener(listener)

  private def enter(op: Long): (Long, Long) = {
    val id = ids.getAndIncrement()
    val parent = stack.get().headOption.map(_._1).getOrElse(0L)
    stack.set((id, op) :: stack.get())
    sc.setLocalProperty("perfbench.span", id.toString)
    sc.setLocalProperty("perfbench.op", op.toString)
    (id, parent)
  }

  private def exit(id: Long, op: Long, parent: Long, name: String, layer: String, t0: Long): Unit = {
    spans.add(Span(id, op, parent, name, layer, t0, System.nanoTime()))
    stack.set(stack.get().tail)
    sc.setLocalProperty("perfbench.span", if (parent == 0) null else parent.toString)
    if (stack.get().isEmpty) sc.setLocalProperty("perfbench.op", null)
  }

  /** A root span: one benchmark op. */
  def op[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val opId = ids.getAndIncrement()
      val (id, parent) = enter(opId)
      val t0 = System.nanoTime()
      try f finally exit(id, opId, parent, name, "bench", t0)
    }

  /** A span around a call into `layer`, nested in the current op. */
  def span[T](name: String, layer: String)(f: => T): T =
    if (!enabled) f
    else {
      val op = stack.get().headOption.map(_._2).getOrElse(0L)
      val (id, parent) = enter(op)
      val t0 = System.nanoTime()
      try f finally exit(id, op, parent, name, layer, t0)
    }

  /** Wait until the listener bus has delivered every job end. */
  def drain(): Unit = if (enabled) {
    val deadline = System.nanoTime() + 10000000000L
    while (jobsEnded.get() < jobsStarted.get() && System.nanoTime() < deadline) Thread.sleep(20)
    Thread.sleep(200) // task-end events trail their job's end on the bus
  }

  def allSpans: Seq[Span] = spans.asScala.toSeq
  def allJobs: Seq[JobStats] = jobs.values().asScala.toSeq

  /** Job spans on the span clock, as children of their submitting span. */
  def jobSpans: Seq[Span] = allJobs.filter(j => j.end > 0 && j.span != 0).map { j =>
    Span(0, j.op, j.span, "spark.job", "spark",
      j.start * 1000000L - clockOffsetNs, j.end * 1000000L - clockOffsetNs)
  }

  /** For each span, the jobs it or one of its descendants submitted. */
  def jobsUnder(ss: Seq[Span]): Map[Long, Seq[JobStats]] = {
    val children = ss.groupBy(_.parent)
    val bySpan = allJobs.groupBy(_.span)
    def under(id: Long): Seq[JobStats] =
      bySpan.getOrElse(id, Nil) ++ children.getOrElse(id, Nil).flatMap(c => under(c.id))
    ss.map(s => s.id -> under(s.id)).toMap
  }

  /** Self time per layer: a span's duration minus the union of the
    * intervals its child spans (Spark jobs included) cover. */
  def selfTimeNsByLayer(ops: Set[Long]): Map[String, Long] = {
    val all = (allSpans ++ jobSpans).filter(s => ops.contains(s.op))
    val kids = all.filter(_.parent != 0).groupBy(_.parent)
    val self = mutable.Map.empty[String, Long].withDefaultValue(0L)
    all.foreach { s =>
      val iv = (if (s.id == 0) Nil else kids.getOrElse(s.id, Nil))
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter(p => p._2 > p._1).sortBy(_._1)
      var covered = 0L; var curS = -1L; var curE = -1L
      iv.foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      if (curE > curS) covered += curE - curS
      self(s.layer) += math.max(0L, (s.end - s.start) - covered)
    }
    self.toMap
  }

  /** Write every span and job as JSON lines. */
  def writeOut(path: java.nio.file.Path): Unit = if (enabled) {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try {
      allSpans.sortBy(_.start).foreach { s =>
        w.write(s"""{"span":${s.id},"op":${s.op},"parent":${s.parent},"name":"${s.name}",""" +
          s""""layer":"${s.layer}","start_ns":${s.start},"end_ns":${s.end}}""")
        w.newLine()
      }
      jobs.asScala.toSeq.sortBy(_._1).foreach { case (id, j) =>
        w.write(s"""{"job":$id,"span":${j.span},"op":${j.op},"start_ms":${j.start},"end_ms":${j.end},""" +
          s""""tasks":${j.tasks},"failed_tasks":${j.failedTasks},"run_ms":${j.runMs},"gc_ms":${j.gcMs},""" +
          s""""bytes_read":${j.bytesRead},"records_read":${j.recordsRead},"shuffle_read":${j.shuffleRead},""" +
          s""""shuffle_write":${j.shuffleWrite},"bytes_written":${j.bytesWritten}}""")
        w.newLine()
      }
    } finally w.close()
  }

  def close(): Unit = if (enabled) sc.removeSparkListener(listener)
}
