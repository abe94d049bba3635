package perfbench

/** Per-layer metrics of the traced passes. Every Spark job and SQL
  * execution is charged to the innermost span that was open when it was
  * submitted: jobs run one after another on the driver thread, so the open
  * span is the layer call that asked for the work. Totals are divided by
  * the number of traced passes, so each metric is per pass.
  */
object Attribution {
  /** The sampled spans plus one `streaming` span per micro-batch. A stream
    * runs its batches on its own thread while the driver thread waits in
    * the job, so the batches are spans of their own, nested in the span
    * that was open when each batch started. */
  def withBatches(rec: Recorder, spans: Seq[Span]): Seq[Span] = rec.synchronized {
    var id = if (spans.isEmpty) 0 else spans.map(_.id).max
    spans ++ rec.batches.toSeq.flatMap { case (t, d) =>
      innermost(spans, t).map { p => id += 1; Span(id, p.id, p.job, "streaming", "micro-batch", t, t + d) }
    }
  }

  // spans of one job nest, so the innermost open span is the latest-started
  private def innermost(spans: Seq[Span], time: Long): Option[Span] =
    spans.filter(s => s.start <= time && time <= s.end).maxByOption(s => (s.start, s.id))

  /** layers with generic metrics; `ops.other` and `llm.other` spans are
    * kept in the span file only */
  val layers = Seq("query", "sources", "text", "ml", "ops.relational", "ops.graph",
    "llm.dedup", "llm.similarity", "expr", "pairs", "streaming")

  def metrics(rec: Recorder, spans: Seq[Span], taskSecs: collection.Map[String, Double],
      tracedSecs: Seq[Double], n: Int): Seq[(String, String)] = rec.synchronized {
    val t = tracedSecs.size.toDouble
    val byId = spans.map(s => s.id -> s).toMap
    val children = spans.groupBy(_.parent)
    def self(s: Span): Long = s.dur - children.getOrElse(s.id, Nil).map(_.dur).sum
    def ancestors(s: Span): List[Span] =
      byId.get(s.parent).map(p => p :: ancestors(p)).getOrElse(Nil)
    def spanAt(time: Long): Option[Span] = innermost(spans, time)

    val jobSpan = rec.jobs.map(j => j.id -> spanAt(j.time)).toMap
    val stageJob = rec.jobs.flatMap(j => j.stages.map(_ -> j.id)).toMap
    val taskLayer = rec.tasks.map(tk => tk -> stageJob.get(tk.stage).flatMap(jobSpan).map(_.layer))
    val execSpan = rec.execs.values.map(e => e -> spanAt(e.start)).toSeq
    def under(s: Span, root: Span): Boolean = s.id == root.id || ancestors(s).exists(_.id == root.id)

    val generic = layers.flatMap { l =>
      val mine = spans.filter(_.layer == l)
      val selfS = mine.map(self).sum / 1000.0
      val jobs = rec.jobs.count(j => jobSpan(j.id).exists(_.layer == l))
      val ts = taskLayer.collect { case (tk, Some(`l`)) => tk }
      val busy = ts.map(_.runMs).sum / 1000.0
      Seq(
        s"$l.self_s" -> selfS / t,
        s"$l.jobs" -> jobs / t,
        s"$l.tasks" -> ts.size / t,
        s"$l.busy_s" -> busy / t,
        s"$l.task_s" -> taskSecs.getOrElse(l, 0.0) / t,
        s"$l.wait_ratio" -> (if (selfS > 0) 1.0 - busy / (selfS * n) else 0.0),
        s"$l.gc_s" -> ts.map(_.gcMs).sum / 1000.0 / t,
        s"$l.spill_bytes" -> ts.map(_.spill).sum / t,
        s"$l.task_retries" -> ts.count(_.retry) / t)
    }

    def outermost(l: String): Seq[Span] =
      spans.filter(s => s.layer == l && byId.get(s.parent).forall(_.layer != l))
    val fits = outermost("ml").filter(_.name.split('.').last.startsWith("fit"))
    val fitJobs = rec.jobs.filter(j => jobSpan(j.id).exists(s => fits.exists(under(s, _))))
    val graphRounds = execSpan.count { case (_, s) => s.exists(_.layer == "ops.graph") }
    val writers = rec.execsWith("number of written files")
    val writeS = rec.execs.values.filter(e => writers(e.id) && e.end > 0)
      .map(e => e.end - e.start).sum / 1000.0
    val sqlJobs = rec.jobs.filter(_.sqlExec.isDefined).map(_.id).toSet
    val shuffle = rec.tasks.filter(tk => stageJob.get(tk.stage).exists(sqlJobs)).map(_.shuffleWrite).sum
    val batchMs = rec.batches.map(_._2).sorted
    val traced = tracedSecs.sorted
    val specific = Seq(
      "sources.scan_bytes" -> rec.sumDriver("size of files read") / t,
      "sources.scan_s" -> rec.sumTask("scan time") / 1000.0 / t,
      "sources.write_bytes" -> rec.sumDriver("written output") / t,
      "sources.files_written" -> rec.sumDriver("number of written files") / t,
      "sources.write_s" -> writeS / t,
      "ml.fit_s" -> fits.map(_.dur).sum / 1000.0 / t,
      "ml.fit_jobs" -> (if (fits.isEmpty) 0.0 else fitJobs.size.toDouble / fits.size),
      "ml.fit_iterations" -> fitJobs.count(_.lastStageName.startsWith("treeAggregate")) / t,
      "ops.relational.shuffle_bytes" -> shuffle / t,
      "ops.graph.rounds" -> graphRounds / t,
      "streaming.drain_s" -> batchMs.sum / 1000.0 / t,
      "streaming.batches" -> batchMs.size / t,
      "streaming.batch_p50_s" -> (if (batchMs.isEmpty) 0.0 else batchMs(batchMs.size / 2) / 1000.0),
      "trace.passes" -> t,
      "trace.pass_s" -> traced(traced.size / 2),
      "trace.span_coverage" -> spans.filter(_.parent < 0).map(_.dur).sum / 1000.0 / tracedSecs.sum)
    (generic ++ specific).map { case (k, v) => k -> v.toString }
  }
}
