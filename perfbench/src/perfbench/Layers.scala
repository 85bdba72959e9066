package perfbench

/** Per-layer metrics of the traced pass, derived from its spans, the
  * Spark jobs attributed to them, and the counts and probes the
  * workloads record. Every name is reported on every workload; a layer a
  * workload does not touch reads 0. */
object Layers {

  /** (name, unit), in report order. */
  val Names: Seq[(String, String)] = Seq(
    "VectorStore.search.plan_ms" -> "ms",
    "VectorStore.search.exec_ms" -> "ms",
    "VectorStore.search.exec_tail_ms" -> "ms",
    "VectorStore.search.jobs_per_call" -> "count",
    "VectorStore.search.tasks_per_call" -> "count",
    "VectorStore.search.rows_scanned_per_result" -> "ratio",
    "VectorStore.search.bytes_read_per_call" -> "bytes",
    "VectorStore.searchDpp.plan_ms" -> "ms",
    "VectorStore.searchDpp.exec_ms" -> "ms",
    "VectorStore.table.cold_ms" -> "ms",
    "VectorStore.table.warm_ms" -> "ms",
    "VectorStore.insert.ms" -> "ms",
    "VectorStore.insert.jobs_per_call" -> "count",
    "VectorStore.insert.files_written_per_call" -> "count",
    "VectorStore.upsert.ms" -> "ms",
    "VectorStore.deleteIds.ms" -> "ms",
    "VectorStore.compact.ms" -> "ms",
    "VectorStore.compact.bytes_rewritten" -> "bytes",
    "VectorStore.live_files" -> "count",
    "SimilaritySearch.kmeansCentroids.s" -> "s",
    "VectorStore.insertNearDedup.ms" -> "ms",
    "VectorStore.insertNearDedup.rows_dropped" -> "count",
    "functions.cosine.ns_per_pair" -> "ns",
    "functions.cosine_packed.ns_per_pair" -> "ns",
    "functions.pack.ns_per_vector" -> "ns",
    "functions.hash_embed.ns_per_doc" -> "ns",
    "plans.sql_search.plan_ms" -> "ms",
    "plans.sql_search.exec_ms" -> "ms",
    "plans.sql_search.files_read" -> "count",
    "TextAnalysis.stats.s" -> "s",
    "Dedup.shingles.s" -> "s",
    "Dedup.minhashSignatures.s" -> "s",
    "Dedup.lshCandidates.s" -> "s",
    "Dedup.components.s" -> "s",
    "Dedup.lsh.candidate_pairs" -> "count",
    "Dedup.lsh.verified_pairs" -> "count",
    "Dedup.lsh.precision" -> "fraction",
    "Curation.curate.s" -> "s",
    "Curation.docs_per_s" -> "1/s",
    "Curation.read_back_ms" -> "ms",
    "Curation.dedup_recall" -> "fraction",
    "Curation.dedup_precision" -> "fraction",
    "spark.jobs_per_op" -> "count",
    "spark.tasks_per_op" -> "count",
    "spark.busy_ratio" -> "ratio",
    "spark.scheduler_delay_ms" -> "ms",
    "spark.gc_ms" -> "ms",
    "spark.shuffle_bytes_per_op" -> "bytes",
    "spark.failed_tasks" -> "count",
    "self_ms_per_op.bench" -> "ms",
    "self_ms_per_op.VectorStore" -> "ms",
    "self_ms_per_op.functions" -> "ms",
    "self_ms_per_op.plans" -> "ms",
    "self_ms_per_op.spark" -> "ms",
    "tracing_overhead.read_p50_ms" -> "ms",
    "tracing_overhead.read_tail_ms" -> "ms",
    "tracing_overhead.items_per_s" -> "1/s")

  /** Probe ops (the traced run's layer probes) are kept out of the
    * per-op Spark and self-time figures, which describe the loop. */
  val ProbePrefix = "probe."

  def metrics(tr: Tracer, rec: Recorder, untraced: Map[String, Double],
              traced: Map[String, Double]): Map[String, (Double, String)] = {
    val spans = tr.allSpans
    val roots = spans.filter(_.parent == 0)
    val loopOps = roots.filterNot(_.name.startsWith(ProbePrefix)).map(_.op).toSet
    val under = tr.jobsUnder(spans)
    val byName = spans.groupBy(_.name)
    def ms(s: Span) = (s.end - s.start) / 1e6
    def durs(n: String) = byName.getOrElse(n, Nil).map(ms)
    def calls(n: String) = byName.getOrElse(n, Nil).size
    def jobs(ns: String*) = ns.flatMap(n => byName.getOrElse(n, Nil).flatMap(s => under(s.id)))
    def per(total: Double, n: Double) = if (n > 0) total / n else 0.0
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def total(n: String) = rec.get(n).sum
    def value(n: String) = Option(rec.values.get(n)).getOrElse(0.0)

    val opJobs = tr.allJobs.filter(j => loopOps.contains(j.op))
    val nOps = loopOps.size.toDouble
    val loopWallMs =
      if (loopOps.isEmpty) 0.0
      else {
        val rs = roots.filter(r => loopOps.contains(r.op))
        (rs.map(_.end).max - rs.map(_.start).min) / 1e6
      }
    val self = tr.selfTimeNsByLayer(loopOps)

    def searchMetrics(base: String): Seq[(String, Double)] = {
      val exec = jobs(s"$base.exec")
      Seq(
        s"$base.plan_ms" -> med(durs(s"$base.plan")),
        s"$base.exec_ms" -> med(durs(s"$base.exec")),
        s"$base.jobs_per_call" -> per(jobs(s"$base.plan", s"$base.exec").size, calls(s"$base.exec")),
        s"$base.tasks_per_call" -> per(jobs(s"$base.plan", s"$base.exec").map(_.tasks).sum, calls(s"$base.exec")),
        s"$base.rows_scanned_per_result" -> per(exec.map(_.recordsRead).sum, total(s"$base.results")),
        s"$base.bytes_read_per_call" -> per(exec.map(_.bytesRead).sum, calls(s"$base.exec")))
    }

    val m: Map[String, Double] = (
      searchMetrics("VectorStore.search") ++
      Seq("VectorStore.search.exec_tail_ms" -> {
        val d = durs("VectorStore.search.exec"); if (d.isEmpty) 0.0 else Stats.tail(d)._2
      }) ++
      searchMetrics("VectorStore.searchDpp") ++
      Seq(
        "VectorStore.table.cold_ms" -> med(durs("VectorStore.table.cold")),
        "VectorStore.table.warm_ms" -> med(durs("VectorStore.table.warm")),
        "VectorStore.insert.ms" -> med(durs("VectorStore.insert")),
        "VectorStore.insert.jobs_per_call" -> per(jobs("VectorStore.insert").size, calls("VectorStore.insert")),
        "VectorStore.insert.files_written_per_call" -> med(rec.get("VectorStore.insert.files_written")),
        "VectorStore.upsert.ms" -> med(durs("VectorStore.upsert")),
        "VectorStore.deleteIds.ms" -> med(durs("VectorStore.deleteIds")),
        "VectorStore.compact.ms" -> med(durs("VectorStore.compact")),
        "VectorStore.compact.bytes_rewritten" ->
          per(jobs("VectorStore.compact").map(_.bytesWritten).sum, calls("VectorStore.compact")),
        "VectorStore.live_files" -> med(rec.get("VectorStore.live_files")),
        "VectorStore.insertNearDedup.ms" -> med(durs("VectorStore.insertNearDedup")),
        "VectorStore.insertNearDedup.rows_dropped" -> med(rec.get("VectorStore.insertNearDedup.rows_dropped")),
        "plans.sql_search.plan_ms" -> med(durs("plans.sql_search.plan")),
        "plans.sql_search.exec_ms" -> med(durs("plans.sql_search.exec")),
        "plans.sql_search.files_read" -> med(rec.get("plans.sql_search.files_read")),
        "Curation.curate.s" -> med(durs("Curation.curate")) / 1000,
        "Curation.read_back_ms" -> med(rec.get("Curation.read_back_ms")),
        "spark.jobs_per_op" -> per(opJobs.size, nOps),
        "spark.tasks_per_op" -> per(opJobs.map(_.tasks).sum, nOps),
        "spark.busy_ratio" -> per(opJobs.map(_.runMs).sum, loopWallMs * Runtime.getRuntime.availableProcessors()),
        "spark.scheduler_delay_ms" -> per(opJobs.map(_.schedDelayMs).sum, opJobs.map(_.tasks).sum),
        "spark.gc_ms" -> per(opJobs.map(_.gcMs).sum, nOps),
        "spark.shuffle_bytes_per_op" -> per(opJobs.map(j => j.shuffleRead + j.shuffleWrite).sum, nOps),
        "spark.failed_tasks" -> opJobs.map(_.failedTasks).sum.toDouble,
        "tracing_overhead.read_p50_ms" -> (traced("read_p50_ms") - untraced("read_p50_ms")),
        "tracing_overhead.read_tail_ms" -> (traced("read_tail_ms") - untraced("read_tail_ms")),
        "tracing_overhead.items_per_s" -> (traced("items_per_s") - untraced("items_per_s"))) ++
      Seq("bench", "VectorStore", "functions", "plans", "spark").map(l =>
        s"self_ms_per_op.$l" -> per(self.getOrElse(l, 0L) / 1e6, nOps))
    ).toMap

    Names.map { case (n, unit) => n -> (m.getOrElse(n, value(n)), unit) }.toMap
  }
}
