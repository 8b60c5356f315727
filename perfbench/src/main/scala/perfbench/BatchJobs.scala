package perfbench

import scala.collection.mutable

/** Batch work on one engine, from one client: word-count jobs through
  * the REST job API (the paper's path: scan, tokenize, combine, two
  * shuffles, an nReduce-file sink) interleaved with short multi-stage
  * registry queries, where per-action and per-task overhead dominate.
  * A round is 3 jobs and one run of every registry row, in a
  * seed-shuffled order; the first round runs in a fresh JVM.
  */
object BatchJobs {
  val jobsPerRound = 3
  val minRounds = 5

  def run(ctx: Ctx, sessionS: Double): Unit = {
    val t = ctx.trace
    val r = ctx.report
    val wc = new WordcountJobs(ctx)
    r.fact("rows", RegistryBatch.rows.mkString(","))
    r.fact("jobs_per_round", jobsPerRound)

    // ---- set-up, three times: server start, one warm-up job, and
    // Bench's warm-up; the session is built once and counted in each ----
    val setup = (1 to 3).map { _ =>
      sessionS + ctx.secs {
        wc.start()
        val w = wc.submitAndWait()
        if (w.status != "COMPLETED")
          throw new IllegalStateException(s"warm-up job ${w.id} ended ${w.status}")
        WordcountJobs.deleteTree(new java.io.File(w.out))
        RegistryBatch.warmUp(ctx)
      }._2
    }
    ctx.log("set-up done")

    // ---- the closed loop ----
    val done = mutable.ArrayBuffer.empty[Done]
    val jobTimes = mutable.ArrayBuffer.empty[(Int, Double)]
    val rowRuns = mutable.ArrayBuffer.empty[(Int, String, Double, Span)]
    val rounds = mutable.ArrayBuffer.empty[Double]
    val mix = Seq.fill(jobsPerRound)("") ++ RegistryBatch.rows
    var warmStart = t.nowMs
    val deadline = System.nanoTime() + (ctx.seconds * 1e9).toLong
    while (System.nanoTime() < deadline || rounds.size < minRounds) {
      val round = rounds.size
      if (round == 1) warmStart = t.nowMs
      val (_, s) = ctx.secs(ctx.rng.shuffle(mix).foreach {
        case "" =>
          val d = t.span("jobs.job")(wc.submitAndWait())
          done += d
          jobTimes += ((round, d.wallS))
        case row =>
          val dt = t.span(s"registry.$row")(RegistryBatch.timeOnce(ctx, row))
          rowRuns += ((round, row, dt, if (t.enabled) t.spans.last else null))
      })
      rounds += s
      ctx.log(f"round ${rounds.size} done in $s%.2f s")
    }
    ctx.loopMs = (warmStart, t.nowMs)
    ctx.loopRounds = rounds.size - 1
    wc.stop()

    // ---- checks, outside the timed loop ----
    wc.check(done.toSeq)
    RegistryBatch.writeOutputs(ctx)

    val warmJobs = jobTimes.filter(_._1 > 0).map(_._2).toSeq
    val warmRows = RegistryBatch.rows.map(n =>
      rowRuns.filter(x => x._1 > 0 && x._2 == n).map(_._3).toSeq)
    ctx.endToEnd(setup, warmJobs +: warmRows, rounds.toSeq)
    r.fact("wc_job_p50_ms", Stats.median(warmJobs) * 1e3)
    RegistryBatch.rows.zip(warmRows).foreach { case (n, xs) =>
      r.fact(s"${n}_p50_ms", Stats.median(xs) * 1e3) }
    r.fact("input_mb_per_s", done.count(_.status == "COMPLETED") * wc.bytes / 1e6 /
      jobTimes.map(_._2).sum)

    if (t.enabled) {
      t.drain(ctx.spark.sparkContext)
      wc.layers(done.toSeq)
      RegistryBatch.layers(ctx, rowRuns.filter(_._1 > 0).map(x => (x._2, x._4)).toSeq)
    }
  }
}
