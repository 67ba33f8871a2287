package graft.perfbench

/** Per-layer figures of a traced run, from the spans around the
  * benchmark's calls and what [[Recorder]] saw while they were open.
  *
  * A job belongs to the layer whose source file holds its call site
  * (`Tables.scala` → io, `Pipeline.scala` → etl, …); a job started
  * from the benchmark's own code (the action that runs a query)
  * belongs to the layer of the span that was open. Only jobs that
  * start inside a timed call count: set-up and output checks are left
  * out. A layer's `_s` figure is the summed wall time of its jobs. */
final case class LayerReport(metrics: Map[String, (Double, String)],
                             unmeasured: Seq[String], jobs: Seq[JobRec])

object LayerReport {
  /** Layers whose summed job time appears as `<layer>_s`. */
  val layers: Seq[String] = Seq("etl", "io", "ops.relational",
    "ops.functions", "ops.scale", "ops.text", "ops.similarity",
    "ops.curation", "ops.multimodal", "ops.other", "streaming", "plans",
    "expr")

  def apply(rec: Recorder, spans: Seq[Span], ops: Seq[Op], activeS: Double,
            fromMs: Long, toMs: Long, cores: Int,
            extra: Map[String, (Double, String)]): LayerReport = {
    val timed = spans.filter(s => s.startMs >= fromMs && s.endMs <= toMs)
    val top = timed.filter(_.parent == 0L)
    def within(ms: Long, s: Span) = ms >= s.startMs && ms <= s.endMs
    def spanOf(ms: Long): Option[Span] =
      timed.filter(within(ms, _)).sortBy(s => s.endMs - s.startMs).headOption
    val jobs = rec.jobRecs.filter(j => spanOf(j.startMs).isDefined)
    val layer = jobs.map(j => j.id ->
      Layers.ofSite(j.site).getOrElse(spanOf(j.startMs).get.layer)).toMap
    def dur(j: JobRec) = (j.endMs - j.startMs) / 1000.0
    def jobsIn(s: Span) = jobs.filter(j => within(j.startMs, s))
    def union(js: Seq[JobRec]) = Layers.unionMs(js.map(j => (j.startMs, j.endMs))) / 1000.0
    val qes = rec.qeRecs.filter(q => spanOf(q.endMs).isDefined)
    val batches = rec.batchRecs.filter(b => b.endMs >= fromMs && b.endMs <= toMs)
    val opsJobs = jobs.filter(j => layer(j.id).startsWith("ops."))

    // the ETL's phases, told apart by the tables their plans name
    val etlSpans = top.filter(_.name.startsWith("Pipeline.run"))
    val etlJobs = etlSpans.flatMap(jobsIn)
    def plan(j: JobRec) = Option(rec.execPlans.get(j.execId)).getOrElse("")
    val factJobs = etlJobs.filter(j => plan(j).contains("fact_songs"))
    val dimJobs = etlJobs.filter(j => !plan(j).contains("fact_songs") &&
      plan(j).contains("/dim_"))

    val lookups = timed.filter(_.name == "readManifestedPointLookup")
    val written = Workload.timedBytes.get.toDouble
    val filesWritten = qes.map(_.filesWritten).sum.toDouble
    val primary = ops.filter(_.kind == "op").map(_.seconds)
    val m = Map[String, (Double, String)](
      "trace.op_p50_s" -> (Stats.quantile(primary, 0.5), "s"),
      "etl.dims_s" -> (union(dimJobs), "s"),
      "etl.fact_s" -> (union(factJobs), "s"),
      "etl.driver_s" -> (etlSpans.map(s => s.seconds - union(jobsIn(s))).sum, "s"),
      "io.write_s" -> (jobs.filter(_.outBytes > 0).map(dur).sum, "s"),
      "io.read_s" -> (jobs.filter(j => layer(j.id) == "io" && j.outBytes == 0)
        .map(dur).sum, "s"),
      "io.bytes_written" -> (written, "B"),
      "io.files_written" -> (filesWritten, "count"),
      "io.avg_file_bytes" ->
        (if (filesWritten == 0) 0.0 else written / filesWritten, "B"),
      "io.files_read" -> (qes.map(_.filesRead).sum.toDouble, "count"),
      "io.lookup_s" -> (lookups.map(_.seconds).sum, "s"),
      "ops.shuffle_bytes" -> (opsJobs.map(_.shuffleWrite).sum.toDouble, "B"),
      "ops.spill_bytes" -> (opsJobs.map(_.spill).sum.toDouble, "B"),
      "plans.plan_s" -> (qes.map(_.planMs).sum / 1000.0, "s"),
      "plans.rewrites" -> (top.count(s =>
        qes.exists(q => within(q.endMs, s) && q.graftRewrites > 0)).toDouble, "count"),
      "streaming.batch_s" -> (batches.map(_.totalMs).sum / 1000.0, "s"),
      "streaming.overhead_s" ->
        (batches.map(b => b.totalMs - b.addBatchMs).sum / 1000.0, "s"),
      "streaming.batches" -> (batches.size.toDouble, "count"),
      "runtime.task_s" -> (jobs.map(_.taskMs).sum / 1000.0, "s"),
      "runtime.gc_s" -> (Workload.timedGcMs.get / 1000.0, "s"),
      "runtime.codegen_compiles" -> (Workload.timedCompiles.get.toDouble, "count"),
      "runtime.cpu_util" -> (jobs.map(_.taskMs).sum / 1000.0 / (activeS * cores), "ratio"),
      "runtime.driver_gap_s" ->
        (top.map(s => s.seconds - union(jobsIn(s))).sum, "s"),
      "runtime.jobs" -> (jobs.size.toDouble, "count"),
      "runtime.tasks" -> (jobs.map(_.tasks).sum.toDouble, "count"),
    ) ++ layers.map { l =>
      s"${l}_s" -> (jobs.filter(j => layer(j.id) == l).map(dur).sum, "s")
    } ++ Seq("etl.fk_resolved_ratio", "streaming.survivor_ratio",
      "streaming.expected_survivor_ratio", "io.files_pruned_ratio")
      .map(k => k -> extra.getOrElse(k, (0.0, "ratio")))
    LayerReport(m, Seq(
      "io.commit_driver_s: the commit calls run inside the program " +
        "(runFrontDoor, Pipeline.run); timing them needs spans inside it",
      "expr: custom expressions run inside other layers' jobs; their " +
        "cost shows in ops.* and etl.* job time"), jobs)
  }
}

object Stats {
  /** Linear-interpolation quantile (q in [0, 1]); 0 for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}
