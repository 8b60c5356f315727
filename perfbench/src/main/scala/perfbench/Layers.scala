package perfbench

/** Per-layer metrics that every workload reports from its traced run. */
object Layers {

  /** The `spark` layer over the measured loop, per round: jobs, tasks,
    * job interval-union, driver gap (loop wall time the union leaves
    * uncovered), GC, spill, and task skew in the longest stage.
    */
  def spark(ctx: Ctx, all: Seq[Job]): Unit = {
    val t = ctx.trace
    val (lo, hi) = ctx.loopMs
    val js = all.filter(j => j.start >= lo && j.start <= hi)
    val ss = t.stagesOf(js)
    val per = math.max(ctx.loopRounds, 1).toDouble
    val r = ctx.report
    val unionS = t.jobUnionMs(js) / 1e3
    r.metric("spark.jobs", js.size / per, "count")
    r.metric("spark.tasks", ss.map(_.tasks).sum / per, "count")
    r.metric("spark.job_union_s", unionS / per, "s")
    r.metric("spark.driver_gap_s", ((hi - lo) / 1e3 - unionS) / per, "s")
    r.metric("spark.gc_s", ss.map(_.gcMs).sum / 1e3 / per, "s")
    r.metric("spark.spill_bytes", ss.map(_.spill).sum / per, "bytes")
    r.metric("spark.task_skew", t.taskSkew(js), "ratio")
  }
}
