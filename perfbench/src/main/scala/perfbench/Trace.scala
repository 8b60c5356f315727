package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

final case class Span(id: Int, name: String, parent: Int, op: Int,
                      start: Double, var end: Double)
final case class Job(id: Int, group: Option[String], start: Long,
                     var end: Long, stages: Seq[Int])
final case class Stage(id: Int, tasks: Int, start: Long,
                       end: Long, runMs: Long, cpuNs: Long, gcMs: Long,
                       inBytes: Long, outBytes: Long, shWrite: Long,
                       shWriteRecs: Long, shRead: Long, shReadRecs: Long,
                       fetchWaitMs: Long, spill: Long)

/** What the traced run records: benchmark-side spans around every
  * call into an engine module, and Spark's jobs, stages and tasks as
  * seen through a listener the benchmark registers. Everything stays
  * in memory until the run ends.
  *
  * Times are epoch milliseconds (fractional for spans), so spans and
  * Spark's event times share one clock.
  */
final class Trace(val enabled: Boolean) {

  val spans = mutable.ArrayBuffer.empty[Span]
  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.LinkedHashMap.empty[Int, Stage]
  val taskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]

  private val nanoBase = System.nanoTime()
  private val epochBase = System.currentTimeMillis().toDouble
  def nowMs: Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  private var stack: List[Span] = Nil
  private var nextId = 0
  private var nextOp = 0

  /** Run `body` inside a span. A span opened with no parent starts a
    * new operation; nested spans inherit its id. Off when tracing is
    * off: then only `body` runs.
    */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      nextId += 1
      val op = stack.headOption.map(_.op).getOrElse { nextOp += 1; nextOp }
      val s = Span(nextId, name, stack.headOption.map(_.id).getOrElse(0), op,
        nowMs, 0.0)
      spans += s
      stack = s :: stack
      try body
      finally { s.end = nowMs; stack = stack.tail }
    }

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      jobs(e.jobId) = Job(e.jobId,
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))),
        e.time, -1L, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      if (e.taskInfo != null)
        taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
          e.taskInfo.duration
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Trace.this.synchronized {
        val i = e.stageInfo
        val m = i.taskMetrics
        if (m != null)
          stages(i.stageId) = Stage(i.stageId, i.numTasks,
            i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
            m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
            m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten,
            m.shuffleWriteMetrics.bytesWritten,
            m.shuffleWriteMetrics.recordsWritten,
            m.shuffleReadMetrics.totalBytesRead,
            m.shuffleReadMetrics.recordsRead,
            m.shuffleReadMetrics.fetchWaitTime,
            m.memoryBytesSpilled + m.diskBytesSpilled)
      }
  }

  def attach(sc: SparkContext): Unit = if (enabled) sc.addSparkListener(listener)

  /** Block until the listener has seen every event posted so far. */
  def drain(sc: SparkContext): Unit =
    if (enabled) org.apache.spark.BenchBus.drain(sc)

  // ---- attribution ------------------------------------------------

  def finished: Seq[Job] = synchronized(jobs.values.filter(_.end >= 0).toSeq)

  /** Spark jobs whose start falls inside the span; with one client
    * thread the innermost containing span is the caller.
    */
  def jobsIn(s: Span): Seq[Job] =
    finished.filter(j => j.start >= s.start - 1 && j.start <= s.end + 1)

  def jobsInGroup(g: String): Seq[Job] = finished.filter(_.group.contains(g))

  def stagesOf(js: Seq[Job]): Seq[Stage] = synchronized {
    js.flatMap(_.stages).distinct.flatMap(stages.get)
  }

  /** Length of the union of intervals. */
  def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  def jobUnionMs(js: Seq[Job]): Double =
    union(js.map(j => (j.start.toDouble, j.end.toDouble)))

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  /** The Spark job intervals that overlap the span, clipped to it. */
  def sparkIn(s: Span): Seq[(Double, Double)] =
    finished.filter(j => j.start <= s.end && j.end >= s.start)
      .map(j => (j.start.toDouble.max(s.start), j.end.toDouble.min(s.end)))
      .filter { case (a, b) => b > a }

  /** A span's own time: its duration minus what its child spans and
    * running Spark jobs cover. Jobs may run on other threads (a job
    * API request returns while its job runs), so overlap, not the
    * calling thread, decides what a span did not do itself.
    */
  def selfMs(s: Span): Double =
    (s.end - s.start) - union(children(s).map(c => (c.start, c.end)) ++ sparkIn(s))

  /** Self time summed by span name, plus, under "spark", the time Spark
    * jobs ran inside the operations.
    */
  def selfByLayer: Seq[(String, Double)] = {
    val acc = mutable.LinkedHashMap.empty[String, Double]
    def add(k: String, v: Double): Unit = acc(k) = acc.getOrElse(k, 0.0) + v
    spans.foreach { s =>
      add(s.name, selfMs(s))
      if (s.parent == 0) add("spark", union(sparkIn(s)))
    }
    acc.toSeq.sortBy(-_._2)
  }

  /** Max ÷ median task time in the longest-running stage of `js`. */
  def taskSkew(js: Seq[Job]): Double = synchronized {
    val ss = stagesOf(js)
    if (ss.isEmpty) 1.0
    else {
      val longest = ss.maxBy(s => s.end - s.start)
      val ts = taskMs.getOrElse(longest.id, mutable.ArrayBuffer.empty[Long])
        .sorted
      if (ts.isEmpty) 1.0
      else ts.last.toDouble / math.max(ts(ts.size / 2).toDouble, 1.0)
    }
  }

  def toJson: String = synchronized {
    val sp = spans.map(s =>
      f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.op},"start":${s.start}%.3f,"end":${s.end}%.3f}""")
    val jb = jobs.values.map(j =>
      s"""{"id":${j.id},"group":${j.group.map("\"" + _ + "\"").getOrElse("null")},"start":${j.start},"end":${j.end},"stages":[${j.stages.mkString(",")}]}""")
    val st = stages.values.map(s =>
      s"""{"id":${s.id},"tasks":${s.tasks},"start":${s.start},"end":${s.end},"run_ms":${s.runMs},"cpu_ns":${s.cpuNs},"gc_ms":${s.gcMs},"in_bytes":${s.inBytes},"out_bytes":${s.outBytes},"shuffle_write":${s.shWrite},"shuffle_read":${s.shRead},"fetch_wait_ms":${s.fetchWaitMs},"spill":${s.spill}}""")
    s"""{"spans":[${sp.mkString(",")}],"jobs":[${jb.mkString(",")}],"stages":[${st.mkString(",")}]}"""
  }
}
