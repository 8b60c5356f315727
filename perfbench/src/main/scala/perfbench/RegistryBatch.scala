package perfbench

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Short multi-stage registry queries on small inputs, each timed on
  * the action `graft.Bench` times, with its cache clean-up between
  * rows, and checked against its DuckDB oracle.
  */
object RegistryBatch {
  val rows: Seq[String] = Seq("join_q3_shipping", "q1_pricing", "wordcount_alpha")

  /** `Bench.timeOnce`: the row's frame plus `count()`, then the same
    * blocking cache and checkpoint clean-up, outside the timer.
    */
  def timeOnce(ctx: Ctx, row: String): Double = {
    val t0 = System.nanoTime()
    SparkEntry.queries(row)(ctx.spark, ctx.data).count()
    val dt = (System.nanoTime() - t0) / 1e9
    cleanUp(ctx.spark)
    dt
  }

  private def cleanUp(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** `Bench`'s untimed warm-up: the shuffle, parquet, JSON and window
    * code paths, loaded once before anything is timed.
    */
  def warmUp(ctx: Ctx): Unit = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val spark = ctx.spark
    spark.read.parquet(s"${ctx.data}/region.parquet").groupBy("r_name").count().count()
    spark.range(1000).toDF("id")
      .select(get_json_object(concat(lit("{\"k\":"), col("id"), lit("}")), "$.k")
        .cast("long").as("k"))
      .select(sum(col("k")).over(Window.orderBy("k")).as("s"))
      .count()
  }

  /** Every row's output in Verify's layout, plus the oracle SQL, for
    * the DuckDB compare that runs after the JVM exits.
    */
  def writeOutputs(ctx: Ctx): Unit = {
    val out = s"${ctx.work}/verify"
    rows.foreach { n =>
      try SparkEntry.queries(n)(ctx.spark, ctx.data).coalesce(1).write
        .mode("overwrite").parquet(s"$out/$n")
      catch { case e: Exception =>
        ctx.report.check(ok = false, s"$n: ${e.getMessage}")
      }
      cleanUp(ctx.spark)
    }
    val oracle = rows.map(n => s"${Json.str(n)}: ${Json.str(SparkEntry.oracleSql(n))}")
    Files.write(Paths.get(s"$out/oracle_sql.json"),
      oracle.mkString("{", ",", "}").getBytes(StandardCharsets.UTF_8))
  }

  /** Per row, medians over its warm runs: wall time, Spark jobs, tasks,
    * and wall time minus the union of its job intervals.
    */
  def layers(ctx: Ctx, runs: Seq[(String, Span)]): Unit = {
    val t = ctx.trace
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    rows.foreach { n =>
      val per = runs.filter(_._1 == n).map { case (_, s) =>
        val js = t.jobsIn(s)
        val wall = (s.end - s.start) / 1e3
        (wall, js.size.toDouble, t.stagesOf(js).map(_.tasks).sum.toDouble,
          wall - t.jobUnionMs(js) / 1e3)
      }
      ctx.report.metric(s"registry.$n.s", med(per.map(_._1)), "s")
      ctx.report.metric(s"registry.$n.jobs", med(per.map(_._2)), "count")
      ctx.report.metric(s"registry.$n.tasks", med(per.map(_._3)), "count")
      ctx.report.metric(s"registry.$n.driver_gap_s", med(per.map(_._4)), "s")
    }
  }
}
