package perfbench

import graft.jobs.{JobHttpServer, JobRegistry}

import java.io.File
import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets
import scala.collection.mutable
import scala.concurrent.ExecutionContext

/** One word-count job as the client saw it. */
final case class Done(id: Int, out: String, submittedMs: Double, endMs: Double,
                      wallS: Double, status: String, polls: Int,
                      statusMs: Seq[Double])

/** The paper's path: a client of the REST job API that submits one
  * word-count job over the seeded corpus and polls it until it ends,
  * then checks what each job wrote.
  */
final class WordcountJobs(ctx: Ctx) {
  val nReduce = 8
  val pollSleepMs = 2

  private val facts = graft.BenchAccess.parseJson(scala.io.Source.fromFile(
    s"${ctx.corpus}/corpus.json").mkString).get.asInstanceOf[Map[String, Any]]
  private val files = facts("files").asInstanceOf[List[String]]
  val bytes: Double = facts("bytes").asInstanceOf[Double]
  private val tokens = facts("tokens").asInstanceOf[Double]
  private val filesJson = files.map(Json.str).mkString("[", ",", "]")
  private val registry = new JobRegistry(ctx.spark)(ExecutionContext.global)
  private var server: JobHttpServer = null
  private var base = ""
  private var seq = 0

  locally {
    val r = ctx.report
    r.fact("corpus_files", files.size)
    r.fact("corpus_bytes", bytes.toLong)
    r.fact("corpus_tokens", tokens.toLong)
    r.fact("distinct_token_ratio", facts("distinct_ratio").asInstanceOf[Double])
    r.fact("n_reduce", nReduce)
  }

  /** (Re)start the HTTP server on the one registry. */
  def start(): Unit = {
    stop()
    server = new JobHttpServer(registry)
    server.start()
    base = s"http://127.0.0.1:${server.boundPort}"
  }

  def stop(): Unit = if (server != null) { server.stop(); server = null }

  /** One HTTP exchange; returns (code, body). */
  private def http(method: String, url: String, body: String = null): (Int, String) = {
    val c = new URI(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
    c.setRequestMethod(method)
    if (body != null) {
      c.setDoOutput(true)
      c.getOutputStream.write(body.getBytes(StandardCharsets.UTF_8))
    }
    val code = c.getResponseCode
    val in = if (code < 400) c.getInputStream else c.getErrorStream
    val s = new String(in.readAllBytes(), StandardCharsets.UTF_8)
    in.close()
    (code, s)
  }

  private val statusRe = "\"status\":\"([A-Z_]+)\"".r
  private val idRe = "\\{\"id\":(\\d+)\\}".r

  /** `POST /jobs`, then `GET /jobs/{id}` until the job leaves
    * IN_PROGRESS. A FAILED job is returned as such, never retried.
    */
  def submitAndWait(): Done = {
    val t = ctx.trace
    seq += 1
    val out = s"${ctx.work}/wc-out-$seq"
    val t0 = System.nanoTime()
    val (code, body) = t.span("jobs.submit")(http("POST", s"$base/jobs",
      s"""{"files":$filesJson,"nReduce":$nReduce,"outPath":${Json.str(out)}}"""))
    val submittedAt = t.nowMs
    val id = body match {
      case idRe(x) if code == 200 => x.toInt
      case _ => throw new IllegalStateException(s"submit refused: $code $body")
    }
    var status = "IN_PROGRESS"
    var polls = 0
    val statusMs = mutable.ArrayBuffer.empty[Double]
    while (status == "IN_PROGRESS") {
      val p0 = System.nanoTime()
      val (sc, sb) = t.span("jobs.status")(http("GET", s"$base/jobs/$id"))
      statusMs += (System.nanoTime() - p0) / 1e6
      polls += 1
      status = statusRe.findFirstMatchIn(sb).map(_.group(1))
        .filter(_ => sc == 200).getOrElse("BAD_STATUS")
      if (status == "IN_PROGRESS") Thread.sleep(pollSleepMs)
    }
    Done(id, out, submittedAt, t.nowMs, (System.nanoTime() - t0) / 1e9,
      status, polls, statusMs.toSeq)
  }

  /** Every job wrote exactly nReduce files whose counts equal the
    * generator's; a job that did not complete is a failure with its id.
    */
  def check(done: Seq[Done]): Unit = {
    val r = ctx.report
    val expected = scala.io.Source.fromFile(s"${ctx.corpus}/expected.tsv")
      .getLines().map { l => val i = l.indexOf('\t'); l.take(i) -> l.drop(i + 1).toLong }
      .toMap
    done.foreach { d =>
      if (d.status != "COMPLETED") r.op(ok = false, s"job ${d.id} ended ${d.status}")
      else {
        val parts = Option(new File(d.out).listFiles()).getOrElse(Array.empty[File])
          .filter(_.getName.startsWith("part-"))
        val got = mutable.HashMap.empty[String, Long]
        var malformed = 0
        parts.foreach { f =>
          scala.io.Source.fromFile(f).getLines().foreach { l =>
            val i = l.lastIndexOf(' ')
            if (i <= 0) malformed += 1
            else got(l.take(i)) = l.drop(i + 1).toLong
          }
        }
        r.op(parts.length == nReduce && malformed == 0 && got == expected,
          s"job ${d.id}: ${parts.length} files, ${got.size} words " +
            s"(want $nReduce files, ${expected.size} words)")
      }
      WordcountJobs.deleteTree(new File(d.out))
    }
    r.fact("jobs_completed", done.count(_.status == "COMPLETED"))
    r.fact("failed_job_ids", done.filter(_.status != "COMPLETED").map(_.id)
      .mkString("[", ",", "]"))
  }

  /** The `jobs` and `mr` layers, per job (medians over jobs). */
  def layers(done: Seq[Done]): Unit = {
    val t = ctx.trace
    val r = ctx.report
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    // map = the stages that scan the corpus; sink = the stages that
    // write the output files; reduce = every other stage
    final case class Split(d: Done, js: Seq[Job], map: Seq[Stage],
                           reduce: Seq[Stage], sink: Seq[Stage]) {
      def all: Seq[Stage] = map ++ reduce ++ sink
    }
    val perJob = done.map { d =>
      val js = t.jobsInGroup(s"graft-job-${d.id}")
      val (map, rest) = t.stagesOf(js).partition(_.inBytes > 0)
      val (sink, reduce) = rest.partition(_.outBytes > 0)
      Split(d, js, map, reduce, sink)
    }
    def dur(xs: Seq[Stage]) = xs.map(s => (s.end - s.start) / 1e3).sum
    r.metric("jobs.submit_ms", med(t.spans.filter(_.name == "jobs.submit")
      .map(s => s.end - s.start).toSeq), "ms")
    r.metric("jobs.status_ms", med(done.flatMap(_.statusMs)), "ms")
    r.metric("jobs.polls", med(done.map(_.polls.toDouble)), "count")
    val ran = perJob.filter(_.js.nonEmpty)
    r.metric("jobs.start_lag_ms", med(ran.map(p => p.js.map(_.start).min - p.d.submittedMs)), "ms")
    r.metric("jobs.finish_lag_ms", med(ran.map(p => p.d.endMs - p.js.map(_.end).max)), "ms")
    r.metric("mr.map_stage_s", med(perJob.map(p => dur(p.map))), "s")
    r.metric("mr.map_cpu_s", med(perJob.map(_.map.map(_.cpuNs).sum / 1e9)), "s")
    r.metric("mr.input_bytes", med(perJob.map(_.map.map(_.inBytes).sum.toDouble)), "bytes")
    r.metric("mr.combine_ratio", med(perJob.map(_.map.map(_.shWriteRecs).sum / tokens)), "ratio")
    r.metric("mr.shuffles", med(perJob.map(_.all.count(_.shWrite > 0).toDouble)), "count")
    r.metric("mr.shuffle_write_bytes", med(perJob.map(_.all.map(_.shWrite).sum.toDouble)), "bytes")
    r.metric("mr.fetch_wait_s", med(perJob.map(_.all.map(_.fetchWaitMs).sum / 1e3)), "s")
    r.metric("mr.reduce_stage_s", med(perJob.map(p => dur(p.reduce))), "s")
    r.metric("mr.sink_stage_s", med(perJob.map(p => dur(p.sink))), "s")
    r.metric("mr.spill_bytes", med(perJob.map(_.all.map(_.spill).sum.toDouble)), "bytes")
    r.metric("mr.out_files", med(perJob.map(_.sink.map(_.tasks).sum.toDouble)), "count")
  }
}

object WordcountJobs {
  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
