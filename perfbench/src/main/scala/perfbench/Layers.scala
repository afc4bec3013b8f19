package perfbench

/** Per-layer metrics of one traced phase, from the recorder's jobs and
  * tasks and the benchmark's own spans. Totals are divided by the
  * phase's units (passes or schedules).
  */
object Layers {

  private val MB = 1048576.0

  /** Every per-layer metric a traced run reports: name, unit, and the
    * direction that is better. Workloads that do not exercise a layer
    * report 0 for it.
    */
  val Names: Seq[(String, String, String)] = Seq(
    ("queries.construct_s", "s", "lower"),
    ("queries.construct_jobs", "count", "lower"),
    ("queries.exec_s", "s", "lower"),
    ("queries.plan_s", "s", "lower"),
    ("queries.driver_gap_s", "s", "lower"),
    ("sources.records_read", "count", "lower"),
    ("sources.reread_ratio", "ratio", "lower"),
    ("analytics.jobs", "count", "lower"),
    ("analytics.job_s", "s", "lower"),
    ("analytics.task_busy_s", "s", "lower"),
    ("analytics.parallelism", "ratio", "higher"),
    ("analytics.shuffle_write_mb", "MB", "lower"),
    ("llm.jobs", "count", "lower"),
    ("llm.job_s", "s", "lower"),
    ("llm.task_busy_s", "s", "lower"),
    ("llm.parallelism", "ratio", "higher"),
    ("llm.shuffle_write_mb", "MB", "lower"),
    ("llm.shuffle_records", "count", "lower"),
    ("llm.spill_mb", "MB", "lower"),
    ("llm.pair_yield", "ratio", "higher"),
    ("api.jobs_per_req", "count", "lower"),
    ("api.job_s", "s", "lower"),
    ("api.driver_gap_s", "s", "lower"),
    ("api.cache_hit_ratio", "ratio", "higher"),
    ("api.small_p50_ms", "ms", "lower"),
    ("api.small_p90_ms", "ms", "lower"),
    ("api.bulk_p50_ms", "ms", "lower"),
    ("api.hit_p50_ms", "ms", "lower"),
    ("xes.jobs", "count", "lower"),
    ("xes.job_s", "s", "lower"),
    ("xes.bytes_out_mb", "MB", "lower"),
    ("xes.mb_per_s", "MB/s", "higher"),
    ("spark.jobs", "count", "lower"),
    ("trace.overhead_pct", "%", "lower"))

  /** The reported metrics in `Names` order, 0 where a workload has none. */
  def complete(found: Seq[Metric]): Seq[Metric] = {
    val byName = found.map(m => m.name -> m.value).toMap
    Names.map { case (n, unit, _) => Metric(n, byName.getOrElse(n, 0.0), unit) }
  }

  final case class Attributed(job: JobRec, module: String, step: Int, op: Option[String])

  /** Each finished job with its module and the operation span it started in. */
  def attribute(rec: Recorder, spans: Seq[Span], phase: Phase): Seq[Attributed] = {
    val ops = spans.filter(s => s.parent == 0 && phase.entryModule.contains(s.op))
    rec.jobs.map { j =>
      val op = ops.find(s => s.start <= j.start && j.start <= s.end).map(_.op)
      val entry = op.flatMap(phase.entryModule.get).getOrElse("other")
      val (m, step) = Attribution.attribute(j.callSite, j.executionId.flatMap(rec.sqlCallSite), entry)
      Attributed(j, m, step, op)
    }
  }

  def compute(rec: Recorder, spans: Seq[Span], phase: Phase,
              jobs: Seq[Attributed]): Seq[Metric] = {
    val u = phase.units.toDouble
    def ivs(js: Seq[Attributed]) = js.map(a => (a.job.start, a.job.end))
    def jobSec(js: Seq[Attributed]) = js.map(a => a.job.end - a.job.start).sum / 1000.0
    val aggs = jobs.map(a => a -> rec.jobAgg(a.job)).toMap
    def sumAgg(js: Seq[Attributed])(f: StageAgg => Long) = js.map(a => f(aggs(a))).sum.toDouble
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b

    def module(m: String): Seq[Metric] = {
      val js = jobs.filter(_.module == m)
      val busy = sumAgg(js)(_.busyMs) / 1000.0
      Seq(
        Metric(s"$m.jobs", js.size / u, "count"),
        Metric(s"$m.job_s", jobSec(js) / u, "s"),
        Metric(s"$m.task_busy_s", busy / u, "s"),
        Metric(s"$m.parallelism", ratio(busy, jobSec(js)), "ratio"),
        Metric(s"$m.shuffle_write_mb", sumAgg(js)(_.shuffleBytes) / MB / u, "MB"))
    }

    val construct = spans.filter(_.name == "construct")
    val execute = spans.filter(_.name == "execute")
    val queryOps = spans.filter(_.name == "query")
    val requests = spans.filter(_.name.startsWith("request:"))
    val inConstruct = jobs.filter(a => construct.exists(s => s.start <= a.job.start && a.job.start <= s.end))
    val llm = jobs.filter(_.module == "llm")
    val llmShuffleRecords = sumAgg(llm)(_.shuffleRecords)
    val recordsRead = sumAgg(jobs)(_.inputRecords)
    val xes = jobs.filter(_.module == "xes")
    val extra = phase.extra.map(m => m.name -> m).toMap
    val bytesOut = extra.get("xes.bytes_out_mb").fold(0.0)(_.value)

    Seq(
      Metric("queries.construct_s", construct.map(_.ms).sum / 1000.0 / u, "s"),
      Metric("queries.construct_jobs", inConstruct.size / u, "count"),
      Metric("queries.exec_s", execute.map(_.ms).sum / 1000.0 / u, "s"),
      Metric("queries.plan_s", rec.planSeconds / u, "s"),
      Metric("queries.driver_gap_s", Intervals.gap(queryOps.map(_.iv), ivs(jobs)) / 1000.0 / u, "s"),
      Metric("sources.records_read", recordsRead / u, "count"),
      Metric("sources.reread_ratio", ratio(recordsRead, phase.tableRows), "ratio")) ++
      module("analytics") ++
      module("llm") ++
      Seq(
        Metric("llm.shuffle_records", llmShuffleRecords / u, "count"),
        Metric("llm.spill_mb", sumAgg(llm)(_.spillBytes) / MB / u, "MB"),
        Metric("llm.pair_yield", ratio(phase.llmOutputRows, llmShuffleRecords), "ratio"),
        Metric("api.jobs_per_req", ratio(jobs.size, requests.size), "count"),
        Metric("api.job_s", jobSec(jobs.filter(_.module == "api")) / u, "s"),
        Metric("api.driver_gap_s", Intervals.gap(requests.map(_.iv), ivs(jobs)) / 1000.0 / u, "s"),
        Metric("xes.jobs", xes.size / u, "count"),
        Metric("xes.job_s", jobSec(xes) / u, "s"),
        Metric("xes.mb_per_s", ratio(bytesOut, jobSec(xes)), "MB/s"),
        Metric("spark.jobs", jobs.size / u, "count"))
  }

  /** Spans plus one span per job, as JSON lines. */
  def spanLines(spans: Seq[Span], jobs: Seq[Attributed]): Seq[String] = {
    def line(id: String, parent: String, name: String, op: String, s: Double, e: Double) =
      f"""{"id":"$id","parent":"$parent","name":"$name","op":"$op","start_ms":$s%.3f,"end_ms":$e%.3f}"""
    val opIds = spans.filter(_.parent == 0).map(s => s.op -> s.id).toMap
    spans.map(s => line(s.id.toString, s.parent.toString, s.name, s.op, s.start, s.end)) ++
      jobs.map(a => line(s"job${a.job.id}", a.op.flatMap(opIds.get).fold("0")(_.toString),
        s"job:${a.module}", a.op.getOrElse(""), a.job.start, a.job.end))
  }
}
