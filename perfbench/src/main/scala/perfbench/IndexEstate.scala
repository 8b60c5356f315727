package perfbench

import graft.Tables
import graft.operators.{Dedup, Similarity, TextAnalysis}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}

import java.io.File
import scala.collection.mutable
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration
import scala.concurrent.{Await, Future}

/** The live index estate: bm25, near-dup and IVF indexes built over
  * `documents` and `embeddings`, then rounds of serves, stream
  * micro-batches (with planted near-duplicates) and removals over
  * seeded inputs, with every fold a family's policy calls due run
  * inline.
  */
object IndexEstate {
  val freshDocs = 16      // new documents per micro-batch
  val plantedDups = 4     // near-duplicates of live documents per batch
  val batchVecs = 16      // new vectors per micro-batch
  val removeDocs = 32     // documents removed per removal
  val removeVecs = 32     // vectors removed per removal
  // fold policy knobs, tighter than the defaults so every family folds
  // in a run's one maintenance
  val bm25MaxSegments = 0
  val tombstoneMaxFrac = 0.05
  val minRounds = 2       // one micro-batch per round
  val k = 10              // bm25 top-k
  val nTerms = 2          // terms per bm25 serve
  val kNN = 5             // IVF neighbours
  val ivfQueries = 8      // live query vectors per IVF serve
  val ivfCells = 8        // ivfWriteIndexVecs' default cell count
  val app = "perfbench"

  private def letters(i: Int): String = {
    var n = i + 26 * 26
    val sb = new StringBuilder
    while (n > 0) { sb.insert(0, ('a' + n % 26).toChar); n /= 26 }
    sb.toString
  }

  private def dirBytes(f: File): (Long, Long) =
    if (f.isFile) (f.length, 1L)
    else Option(f.listFiles()).toSeq.flatten.map(dirBytes)
      .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }

  def run(ctx: Ctx, sessionS: Double): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val t = ctx.trace
    val r = ctx.report
    val rng = ctx.rng

    val baseDocs = Tables.documents(spark, ctx.data).select("doc_id", "text")
    val baseVecs = Tables.embeddings(spark, ctx.data).select("vec_id", "embedding")
    // the benchmark's own copy of what each family should hold
    val bmDocs = mutable.LinkedHashMap.empty[Long, String]      // bm25-visible
    baseDocs.collect().foreach(x => bmDocs(x.getLong(0)) = x.getString(1))
    val ndLive = mutable.LinkedHashMap.empty[Long, String] ++= bmDocs
    val vecLive = mutable.LinkedHashMap.empty[Long, Array[Float]]
    baseVecs.collect().foreach(x =>
      vecLive(x.getLong(0)) = x.getSeq[Float](1).toArray)
    // serve terms and fresh documents draw from the corpus vocabulary
    val vocab = bmDocs.values.flatMap(_.split("\\s+")).filter(_.nonEmpty)
      .toSeq.distinct.sorted.toIndexedSeq
    r.fact("base_docs", bmDocs.size)
    r.fact("vocab_terms", vocab.size)
    r.fact("base_vecs", vecLive.size)

    // ---- set-up: the three index builds, once (they cost seconds
    // each; the other workloads repeat their cheaper set-up) ----
    val estate = new File(s"${ctx.work}/estate")
    val (bm, nd, iv) = (s"$estate/bm25", s"$estate/nd", s"$estate/ivf")
    // the three builds are independent, so they run side by side
    val buildS = ctx.secs(Await.result(Future.sequence(Seq(
      Future(TextAnalysis.bm25WriteIndexDocs(spark, baseDocs, bm)),
      Future(Dedup.neardupWriteIndex(spark, baseDocs, nd)),
      Future(Similarity.ivfWriteIndex(spark, ctx.data, iv)))), Duration.Inf))._2
    // reference corpus for the non-index BM25 check: base plus survivors
    val refDir = s"${ctx.work}/ref"
    baseDocs.write.parquet(s"$refDir/documents.parquet")

    def docsDf(xs: Seq[(Long, String)]): DataFrame = xs.toDF("doc_id", "text")
    def vecsDf(xs: Seq[(Long, Array[Float])]): DataFrame =
      xs.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
    def randomText(extra: String): String = {
      val n = 10 + rng.nextInt(60)
      val ws = Seq.fill(n)(vocab(rng.nextInt(vocab.size)))
      (ws.take(n / 2) ++ Seq(extra) ++ ws.drop(n / 2)).mkString(" ")
    }
    def randomVec(): Array[Float] = {
      val v = Array.fill(64)(rng.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / n)
    }

    // ---- timed operations ----
    val opTimes = mutable.ArrayBuffer.empty[(String, Double)]
    var batchId = 0L
    var folds = 0
    var rejected, arriving = 0L
    // each micro-batch's span (null when untraced) and input bytes
    val ingestSpans = mutable.ArrayBuffer.empty[(Span, Long)]
    val timers = mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]
    def timed[T](name: String)(body: => T): T = {
      val (x, s) = ctx.secs(t.span(name)(body))
      timers.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += s
      x
    }
    def fold(name: String)(body: => Unit): Unit = { folds += 1; timed(name)(body) }

    def bm25Serve(terms: Seq[String], topK: Int = k): Array[Row] =
      TextAnalysis.bm25QueryIndex(spark, bm, terms, topK).collect()
    def ivfServe(q: Seq[(Long, Array[Float])], nProbe: Int): Array[Row] =
      Similarity.ivfQueryIndexVecs(spark, iv, vecsDf(q), kNN, nProbe).collect()

    // a landed batch must be visible to the next serve of each family:
    // the next bm25 serve asks for the batch's two marker terms, the
    // next IVF serve adds one of the batch's vectors as a query
    var pendingBm25: Option[(Seq[String], Set[Long])] = None
    var pendingIvf: Option[(Long, Array[Float])] = None
    def checkBm25Visible(markers: Seq[String], ids: Set[Long], got: Array[Row]): Unit =
      r.check(got.map(_.getLong(0)).toSet == ids,
        s"batch with $markers not visible to bm25: ${got.map(_.getLong(0)).toSeq}")
    def checkIvfVisible(vid: Long, got: Array[Row]): Unit =
      r.check(got.find(_.getLong(0) == -vid).exists(_.getLong(2) == vid),
        s"vector $vid not visible to ivf: ${got.filter(_.getLong(0) == -vid).toSeq}")
    /** The pending visibility checks, on untimed serves. */
    def checkPending(): Unit = {
      pendingBm25.foreach { case (ms, ids) =>
        checkBm25Visible(ms, ids, bm25Serve(ms, ids.size + plantedDups)) }
      pendingIvf.foreach { case (vid, v) => checkIvfVisible(vid, ivfServe(Seq(-vid -> v), 2)) }
      pendingBm25 = None
      pendingIvf = None
    }

    // the first serve of each family in every round without maintenance
    // (so with the segments and appended lists that batches leave) is
    // checked against its reference, untimed
    var roundNo = 0
    var bm25Checked, ivfChecked = -1
    var bm25Checks, ivfChecks = 0
    def serveBm25(): Unit = {
      val visible = pendingBm25
      pendingBm25 = None
      // every serve asks for nTerms distinct terms, so that serves
      // have one shape whichever terms the seed picks
      val (terms, topK) = visible.map { case (ms, ids) => (ms, ids.size + plantedDups) }
        .getOrElse((rng.shuffle(vocab).take(nTerms), k))
      val (got, s) = ctx.secs(t.span("serve.bm25")(bm25Serve(terms, topK)))
      opTimes += ((if (visible.isEmpty) "bm25" else "bm25_new", s))
      r.op(got.nonEmpty, s"bm25 serve $terms returned nothing")
      visible.foreach { case (m, ids) => checkBm25Visible(m, ids, got) }
      if (roundNo % 2 == 1 && bm25Checked != roundNo) {
        bm25Checked = roundNo
        bm25Checks += 1
        val want = TextAnalysis.bm25TopK(spark, refDir, terms, topK).collect()
        r.check(sameRanking(got.map(x => (x.getLong(0), x.getDouble(1))),
          want.map(x => (x.getLong(0), x.getDouble(1)))),
          s"bm25 $terms: index ${got.toSeq} vs scan ${want.toSeq}")
      }
    }
    def serveIvf(): Unit = {
      val ids = vecLive.keys.toIndexedSeq
      val visible = pendingIvf
      pendingIvf = None
      // a new vector queries under a foreign id (its negation), so the
      // serve's self-exclusion does not hide it from itself
      val q = Seq.fill(ivfQueries)(ids(rng.nextInt(ids.size))).distinct.map(i => i -> vecLive(i)) ++
        visible.map { case (vid, v) => -vid -> v }
      val (got, s) = ctx.secs(t.span("serve.ivf")(ivfServe(q, 2)))
      opTimes += ((if (visible.isEmpty) "ivf" else "ivf_new", s))
      r.op(got.forall(x => vecLive.contains(x.getLong(2))) && got.nonEmpty,
        s"ivf serve returned a removed id: ${got.map(_.getLong(2)).filterNot(vecLive.contains).toSeq}")
      visible.foreach { case (vid, _) => checkIvfVisible(vid, got) }
      if (roundNo % 2 == 1 && ivfChecked != roundNo) {
        ivfChecked = roundNo
        ivfChecks += 1
        val all = ivfServe(q, ivfCells)
        q.foreach { case (qid, qv) =>
          val want = bruteForce(qid, qv, vecLive)
          val mine = all.filter(_.getLong(0) == qid).map(x => (x.getLong(2), x.getDouble(3)))
          r.check(sameRanking(mine, want), s"ivf q$qid all-cells ${mine.toSeq} vs brute ${want.toSeq}")
        }
      }
    }

    /** One micro-batch into every family; returns its seconds. */
    def ingest(): Double = {
      batchId += 1
      val markers = Seq("zmark", "zsign").map(_ + letters(batchId.toInt))
      val fresh = (0 until freshDocs).map(i =>
        (10000000L + batchId * 1000 + i) -> randomText(markers.mkString(" ")))
      val ndIds = ndLive.keys.toIndexedSeq
      val dups = (0 until plantedDups).map { i =>
        (20000000L + batchId * 1000 + i) -> (ndLive(ndIds(rng.nextInt(ndIds.size))) + " dup")
      }
      val docs = fresh ++ dups
      val vecs = (0 until batchVecs).map(i => (10000000L + batchId * 1000 + i) -> randomVec())
      val dDf = docsDf(docs)
      val vDf = vecsDf(vecs)
      val inputBytes = docs.map(_._2.length.toLong).sum + vecs.size * 64L * 4
      val (_, s) = ctx.secs(t.span("index.ingest") {
        ingestSpans += ((t.spans.lastOption.orNull, inputBytes))
        val (adm, rej) = timed("index.nd_ingest")(
          Dedup.neardupStreamIngest(spark, nd, dDf, batchId, app = app))
        val admitted = Dedup.neardupIndexedIds(spark, nd)
          .join(broadcast(dDf.select(col("doc_id"))), Seq("doc_id"), "left_semi")
        val survivors = dDf.join(broadcast(admitted), Seq("doc_id"), "left_semi")
        val bmLanded = timed("index.bm25_ingest")(
          TextAnalysis.bm25StreamIngest(spark, bm, survivors, batchId, app))
        val ivLanded = timed("index.ivf_ingest")(
          Similarity.ivfStreamIngest(spark, iv, vDf, batchId, app))
        arriving += docs.size
        rejected += rej
        r.op(adm == freshDocs && rej == plantedDups && bmLanded && ivLanded,
          s"batch $batchId: admitted $adm rejected $rej bm25 $bmLanded ivf $ivLanded")
      })
      fresh.foreach { case (id, tx) => bmDocs(id) = tx; ndLive(id) = tx }
      vecs.foreach { case (id, v) => vecLive(id) = v }
      docsDf(fresh).write.mode("append").parquet(s"$refDir/documents.parquet")
      pendingBm25 = Some(markers -> fresh.map(_._1).toSet)
      pendingIvf = Some(vecs.head)
      if (batchId == 2) {
        // a replayed batch lands nothing and leaves every manifest as it was
        val before = Seq(nd, bm, iv).map(graft.BenchAccess.manifestOf(spark, _))
        val again = (Dedup.neardupStreamIngest(spark, nd, dDf, batchId, app = app),
          TextAnalysis.bm25StreamIngest(spark, bm, dDf, batchId, app),
          Similarity.ivfStreamIngest(spark, iv, vDf, batchId, app))
        r.op(again == (((0L, 0L), false, false)) &&
          Seq(nd, bm, iv).map(graft.BenchAccess.manifestOf(spark, _)) == before,
          s"replayed batch $batchId landed: $again")
      }
      s
    }

    /** The operator's maintenance: a removal from the near-dup and IVF
      * families, then every fold a family's policy calls due (the
      * engine leaves segment-count folds to a scheduled bm25Compact).
      * Folds run here rather than inside a micro-batch, so that every
      * micro-batch does the same work.
      */
    def remove(): Unit = {
      val dIds = rng.shuffle(ndLive.keys.filter(_ < 10000000L).toSeq).take(removeDocs)
      // the vector a pending visibility check looks for stays live
      val vIds = rng.shuffle(vecLive.keys.filterNot(id => pendingIvf.exists(_._1 == id))
        .toSeq).take(removeVecs)
      val (_, s) = ctx.secs(t.span("index.remove") {
        timed("index.nd_remove")(Dedup.neardupRemove(spark, nd, dIds.toDF("doc_id")))
        timed("index.ivf_remove")(Similarity.ivfRemove(spark, iv, vIds.toDF("vec_id")))
        if (Dedup.neardupFoldDue(spark, nd, tombstoneMaxFrac))
          fold("index.nd_fold")(Dedup.neardupCompact(spark, nd))
        if (Similarity.ivfFoldDue(spark, iv, tombstoneMaxFrac)) {
          val live = vecLive.filterNot { case (id, _) => vIds.contains(id) }.toSeq
          fold("index.ivf_fold")(Similarity.ivfWriteIndexVecs(spark, vecsDf(live), iv))
        }
        if (TextAnalysis.bm25FoldDue(spark, bm, bm25MaxSegments))
          fold("index.bm25_fold")(TextAnalysis.bm25Compact(spark, bm))
      })
      opTimes += (("remove", s))
      r.op(ok = true, "")
      dIds.foreach(ndLive.remove)
      vIds.foreach(vecLive.remove)
    }

    // set-up ends with one micro-batch, the cold one, and the untimed
    // serves that check it landed, so that no timed operation pays a
    // first-use cost
    val coldS = ingest()
    val warmS = ctx.secs(checkPending())._2
    val setup = Seq(sessionS + buildS + coldS + warmS)
    r.fact("build_s", buildS)
    ctx.log("set-up done")

    // ---- the closed loop: rounds of one fixed interleaving ----
    // A serve's cost depends on what landed before it (a new segment,
    // appended list files, a fold), so the order is fixed and the seed
    // picks only the inputs: one serve of each family before the
    // micro-batch, one right after it, which checks that the batch is
    // visible, and one more. The operator's maintenance opens every
    // second round from the first, so that the cold batch's segments are
    // folded and more of the JVM's warm-up is behind the first measured
    // micro-batch.
    val mix = Seq("bm25", "ivf", "ingest", "bm25", "ivf", "bm25", "ivf")
    r.fact("mix", mix.mkString(",") + " per round, remove first in odd rounds")
    val batches = mutable.ArrayBuffer(coldS)
    val rounds = mutable.ArrayBuffer.empty[Double]
    val manifestMs = mutable.ArrayBuffer.empty[Double]
    val healthMs = mutable.ArrayBuffer.empty[Double]
    val loopStart = t.nowMs
    val deadline = System.nanoTime() + (ctx.seconds * 1e9).toLong
    while (System.nanoTime() < deadline || rounds.size < minRounds) {
      val ops = if (rounds.size % 2 == 0) "remove" +: mix else mix
      val (_, s) = ctx.secs(ops.foreach {
        case "bm25" => serveBm25()
        case "ivf" => serveIvf()
        case "ingest" => batches += ingest()
        case "remove" => remove()
      })
      rounds += s
      roundNo += 1
      ctx.log(s"round ${rounds.size} done")
      // the operator's view between rounds, outside every op timer
      manifestMs += ctx.secs(t.span("index.manifest")(graft.BenchAccess.manifestOf(spark, bm)))._2 * 1e3
      healthMs += ctx.secs(t.span("index.health") {
        TextAnalysis.bm25Health(spark, bm); Dedup.neardupHealth(spark, nd)
        Similarity.ivfHealth(spark, iv)
      })._2 * 1e3
    }
    ctx.loopMs = (loopStart, t.nowMs)
    ctx.loopRounds = rounds.size
    // a batch that landed after the last serve is checked untimed
    checkPending()
    // the batch is the ingest micro-batch (folds run in maintenance);
    // serves right after a batch are classes of their own
    val serveClasses = Seq("bm25", "bm25_new", "ivf", "ivf_new")
    def times(k: String) = opTimes.filter(_._1 == k).map(_._2).toSeq
    ctx.endToEnd(setup, serveClasses.map(times), batches.toSeq)
    r.fact("batches", batchId)
    r.fact("folds", folds)
    (serveClasses :+ "remove").foreach { k =>
      val xs = times(k)
      r.fact(s"${k}_samples", xs.size)
      if (xs.nonEmpty) r.fact(s"${k}_p50_ms", Stats.median(xs) * 1e3)
    }
    r.fact("batch_s", batches.map(x => f"$x%.3f").mkString(","))
    // every run compares both serve families with their references
    r.fact("bm25_ref_checks", bm25Checks)
    r.fact("ivf_ref_checks", ivfChecks)
    r.check(bm25Checks > 0, "no bm25 serve was checked against bm25TopK")
    r.check(ivfChecks > 0, "no ivf serve was checked against brute force")
    // planted near-duplicates never reach the index
    val indexed = Dedup.neardupIndexedIds(spark, nd).as[Long].collect().toSet
    r.check(!indexed.exists(id => id >= 20000000L),
      s"planted near-duplicates indexed: ${indexed.filter(_ >= 20000000L).take(5)}")

    if (t.enabled) {
      t.drain(spark.sparkContext)
      def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
      def serveLayer(name: String) = t.spans.filter(_.name == name).map { s =>
        val js = t.jobsIn(s)
        (js.size.toDouble, (s.end - s.start) - t.jobUnionMs(js),
          t.stagesOf(js).map(_.inBytes).sum.toDouble)
      }.toSeq
      val bmS = serveLayer("serve.bm25")
      val ivS = serveLayer("serve.ivf")
      r.metric("serve.bm25_jobs", med(bmS.map(_._1)), "count")
      r.metric("serve.bm25_driver_gap_ms", med(bmS.map(_._2)), "ms")
      r.metric("serve.ivf_jobs", med(ivS.map(_._1)), "count")
      r.metric("serve.ivf_driver_gap_ms", med(ivS.map(_._2)), "ms")
      r.metric("serve.input_bytes", med((bmS ++ ivS).map(_._3)), "bytes")
      r.metric("index.bm25_segments",
        TextAnalysis.bm25Health(spark, bm).toMap.apply("bm25_segments").toDouble, "count")
      r.metric("index.manifest_ms", med(manifestMs.toSeq), "ms")
      def timer(n: String) = med(timers.getOrElse(n, mutable.ArrayBuffer.empty).toSeq)
      r.metric("index.bm25_ingest_s", timer("index.bm25_ingest"), "s")
      r.metric("index.nd_ingest_s", timer("index.nd_ingest"), "s")
      r.metric("index.ivf_ingest_s", timer("index.ivf_ingest"), "s")
      val ing = ingestSpans.filter(_._1 != null).toSeq
      r.metric("index.jobs_per_batch", med(ing.map(x => t.jobsIn(x._1).size.toDouble)), "count")
      r.metric("index.nd_reject_frac",
        if (arriving == 0) 0.0 else rejected.toDouble / arriving, "ratio")
      // bytes the batch's jobs wrote over its input (folds run outside
      // batches)
      r.metric("index.write_amp", med(ing.map { case (s, inputBytes) =>
        t.stagesOf(t.jobsIn(s)).map(_.outBytes).sum.toDouble / inputBytes
      }), "ratio")
      val foldSpans = t.spans.filter(_.name.endsWith("_fold")).toSeq
      r.metric("index.fold_s", med(foldSpans.map(s => (s.end - s.start) / 1e3)), "s")
      r.metric("index.folds", folds.toDouble, "count")
      r.metric("index.health_ms", med(healthMs.toSeq), "ms")
      val (bytes, files) = dirBytes(estate)
      val liveBytes = bmDocs.values.map(_.length.toLong).sum + vecLive.size * 64L * 4
      r.metric("index.files", files.toDouble, "count")
      r.metric("index.space_amp", bytes.toDouble / liveBytes, "ratio")
    }
  }

  /** Two rankings agree: same length, scores equal within 1e-5 rank by
    * rank, and the same ids wherever the score is not tied.
    */
  def sameRanking(a: Seq[(Long, Double)], b: Seq[(Long, Double)]): Boolean =
    a.size == b.size && a.zip(b).forall { case (x, y) => math.abs(x._2 - y._2) < 1e-5 } && {
      def untied(xs: Seq[(Long, Double)]) = xs.filter { case (_, s) =>
        xs.count(o => math.abs(o._2 - s) < 1e-5) == 1 && math.abs(s - xs.last._2) >= 1e-5
      }.map(_._1).toSet
      untied(a) == untied(b)
    }

  /** Exact top-kNN by cosine over the live vectors, the serve's order. */
  def bruteForce(qid: Long, q: Array[Float], live: collection.Map[Long, Array[Float]])
      : Seq[(Long, Double)] = {
    def dot(x: Array[Float], y: Array[Float]) = x.indices.map(i => x(i).toDouble * y(i)).sum
    val qn = math.sqrt(dot(q, q))
    live.iterator.filter(_._1 != qid).map { case (id, v) =>
      id -> BigDecimal(dot(q, v) / (qn * math.sqrt(dot(v, v))))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }.toSeq.sortBy { case (id, s) => (-s, id) }.take(kNN)
  }
}
