package benchharness

/** Per-layer metrics of a traced run, computed from the spans of its
  * timed phase. The layers are the program's modules as seen from
  * outside: `sources` (the graft-sse scans), `streaming` (micro-batches
  * and their phases), `api` (TrendCollection boards and snapshots),
  * `operators` (the dedup index serves), plus the Spark engine
  * (`spark.*`) every layer runs on.
  */
final class TraceReport(t: Tracer, phases: Seq[(String, Long, Long)],
    cores: Int) {

  private val (lo, hi) = phases.find(_._1 == "timed")
    .map(p => (p._2, p._3)).getOrElse((0L, Long.MaxValue))
  private def inPhase(start: Long) = start >= lo && start <= hi

  private val spanById = t.spans.map(s => s.id -> s).toMap
  private val spans: Seq[Span] = t.spans.filter(s => inPhase(s.start)).toSeq
  private val jobs = t.jobs.values.filter(j => inPhase(j.start)).toSeq
  private val progress = t.progress.filter(p => inPhase(p.startUs)).toSeq
  private val dataBatches = progress.filter(_.inputRows > 0)
  private val timerBatches = progress.filter(_.inputRows == 0)

  private def ancestors(id: Long): List[Span] =
    spanById.get(id) match {
      case Some(s) => s :: ancestors(s.parent)
      case None => Nil
    }
  /** The job's public-call span and its ancestors; empty for jobs of a
    * micro-batch (those carry a batch id instead).
    */
  private def callsOf(j: JobRec): List[Span] =
    if (j.batchId >= 0) Nil else ancestors(j.spanId)
  private def stagesOf(js: Seq[JobRec]): Seq[StageRec] =
    js.flatMap(_.stages).distinct.flatMap(t.stages.get)

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted; val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }
  private def durMs(s: Span) = (s.end - s.start) / 1000.0
  private def named(n: String) = spans.filter(_.name == n)
  private def jobsUnder(ss: Seq[Span]): Seq[JobRec] = {
    val ids = ss.map(_.id).toSet
    jobs.filter(j => callsOf(j).exists(a => ids.contains(a.id)))
  }
  private def jobsPer(ss: Seq[Span]): Double =
    if (ss.isEmpty) 0.0 else median(ss.map(s => jobsUnder(Seq(s)).size.toDouble))
  private def execMs(js: Seq[JobRec]) = stagesOf(js).map(_.execRunMs).sum.toDouble
  private def slotUtil(js: Seq[JobRec], wallMs: Double) =
    if (wallMs <= 0) 0.0 else execMs(js) / (cores * wallMs)
  private def wallOf(ss: Seq[Span]) = ss.map(durMs).sum
  private def phaseMs(p: ProgressRec, names: String*) =
    names.map(p.durations.getOrElse(_, 0L)).sum.toDouble

  /** Stages that scan the capture: DSv2 scans outside snapshot reads
    * (the state-store reader is also a DSv2 source).
    */
  private val scanStages: Seq[(StageRec, JobRec)] = jobs.flatMap { j =>
    val snap = callsOf(j).exists(_.name.startsWith("stateSnapshot"))
    j.stages.flatMap(t.stages.get).filter(s => s.readsSource && !snap).map(_ -> j)
  }

  def json: Map[String, Any] = {
    val wall = (hi - lo) / 1000.0
    val allStages = stagesOf(jobs)
    val jobIv = jobs.map(j => (j.start, j.end))
    val renders = named("render")
    val renderParts = Seq("topByEditsPerMinute", "topByBytesChanged",
      "topByBias", "getPage").flatMap(named)
    val snaps = spans.filter(_.name.startsWith("stateSnapshot"))
    val cleans = named("ExactDedupIndex.indexClean")
    val pairs = named("DedupIndex.dedupIndexPairs")
    val serves = cleans ++ pairs
    val compactions = named("compaction")
    val batchJobs = jobs.filter(_.batchId >= 0).groupBy(_.batchId)
    val dataIds = dataBatches.map(_.batchId).toSet
    val dataJobs = batchJobs.filter(b => dataIds.contains(b._1)).values.flatten.toSeq
    // Serve jobs per batch (clean + pairs) by the number of live
    // generations at the serve.
    def gen(s: Span) = s.attrs.getOrElse("generation", 0).asInstanceOf[Int]
    val genJobs = cleans.groupBy(gen).map { case (g, cs) =>
      g -> jobsUnder(cs ++ pairs.filter(gen(_) == g)).size.toDouble / cs.size }
    val jobsPerGen =
      if (genJobs.size < 2) 0.0
      else (genJobs(genJobs.keys.max) - genJobs(genJobs.keys.min)) /
        (genJobs.keys.max - genJobs.keys.min)
    Map(
      "spark.jobs" -> jobs.size,
      "spark.stages" -> allStages.size,
      "spark.tasks" -> allStages.map(_.tasks).sum,
      "spark.executor_s" -> execMs(jobs) / 1000.0,
      "spark.gc_ms" -> allStages.map(_.gcMs).sum.toDouble,
      "spark.slot_util" -> slotUtil(jobs, wall),
      "spark.outside_jobs_ms" -> (wall - t.covered(jobIv, lo, hi) / 1000.0),
      "spark.shuffle_write_mb" -> allStages.map(_.shuffleWrite).sum / 1e6,
      "self_ms" -> t.selfTimes(lo, hi),
      "sources.scan_tasks" -> scanStages.map(_._1.tasks).sum,
      "sources.scan_busy_s" -> scanStages.map(_._1.execRunMs).sum / 1000.0,
      "sources.scans_per_render" -> (if (renders.isEmpty) 0.0
        else scanStages.count(x => callsOf(x._2).exists(_.name == "render"))
          .toDouble / renders.size),
      "sources.latest_offset_ms" -> median(progress.map(phaseMs(_, "latestOffset"))),
      "streaming.data_batches" -> dataBatches.size,
      "streaming.timer_batches" -> timerBatches.size,
      "streaming.timer_batch_ms" -> median(timerBatches.map(phaseMs(_, "triggerExecution"))),
      "streaming.batch_ms" -> median(dataBatches.map(phaseMs(_, "triggerExecution"))),
      "streaming.planning_ms" -> median(dataBatches.map(phaseMs(_, "queryPlanning"))),
      "streaming.add_batch_ms" -> median(dataBatches.map(phaseMs(_, "addBatch"))),
      "streaming.log_commit_ms" -> median(dataBatches.map(
        phaseMs(_, "walCommit", "commitOffsets"))),
      "streaming.state_update_ms" -> median(dataBatches.map(_.stateUpdateMs.toDouble)),
      "streaming.state_commit_ms" -> median(dataBatches.map(_.stateCommitMs.toDouble)),
      "streaming.state_rows" -> (if (progress.isEmpty) 0L else progress.map(_.stateRows).max),
      "streaming.state_mb" -> (if (progress.isEmpty) 0.0
        else progress.map(_.stateBytes).max / 1e6),
      "streaming.shuffle_write_mb" -> stagesOf(dataJobs).map(_.shuffleWrite).sum / 1e6,
      "streaming.jobs_per_batch" -> median(dataIds.toSeq.map(b =>
        batchJobs.get(b).map(_.size).getOrElse(0).toDouble)),
      "streaming.slot_util" -> slotUtil(dataJobs,
        dataBatches.map(phaseMs(_, "triggerExecution")).sum),
      "streaming.outside_jobs_ms" -> median(dataBatches.map { p =>
        val end = p.startUs + p.durations.getOrElse("triggerExecution", 0L) * 1000L
        val iv = batchJobs.getOrElse(p.batchId, Nil).map(j => (j.start, j.end))
        (end - p.startUs - t.covered(iv, p.startUs, end)) / 1000.0
      }),
      "streaming.sink_ms" -> median(named("sink").map(durMs)),
      "api.top_by_edits_ms" -> median(named("topByEditsPerMinute").map(durMs)),
      "api.top_by_bytes_ms" -> median(named("topByBytesChanged").map(durMs)),
      "api.top_by_bias_ms" -> median(named("topByBias").map(durMs)),
      "api.get_page_ms" -> median(named("getPage").map(durMs)),
      "api.jobs_per_render" -> jobsPer(renders),
      "api.render_slot_util" -> slotUtil(jobsUnder(renderParts), wallOf(renderParts)),
      "api.snapshot_ms" -> median(snaps.map(durMs)),
      "api.snapshot_jobs" -> jobsPer(snaps),
      "operators.exact_clean_ms" -> median(cleans.map(durMs)),
      "operators.exact_clean_jobs" -> jobsPer(cleans),
      "operators.near_pairs_ms" -> median(pairs.map(durMs)),
      "operators.near_pairs_jobs" -> jobsPer(pairs),
      "operators.jobs_per_generation" -> jobsPerGen,
      "operators.serve_slot_util" -> slotUtil(jobsUnder(serves), wallOf(serves)),
      "operators.serve_read_mb" -> stagesOf(jobsUnder(serves)).map(_.inputBytes).sum / 1e6,
      "operators.exact_append_ms" -> median(named("ExactDedupIndex.appendToIndex").map(durMs)),
      "operators.exact_append_jobs" -> jobsPer(named("ExactDedupIndex.appendToIndex")),
      "operators.near_append_ms" -> median(named("DedupIndex.appendToDedupIndex").map(durMs)),
      "operators.near_append_jobs" -> jobsPer(named("DedupIndex.appendToDedupIndex")),
      "operators.compact_ms" -> median(compactions.map(durMs)),
      "operators.compact_jobs" -> jobsPer(compactions))
  }
}
