package graft

import org.apache.spark.sql.SparkSession

/** The engine members the benchmark calls that are private to `graft`. */
object BenchAccess {
  def manifestOf(spark: SparkSession, idx: String): Map[String, String] =
    operators.IndexPolicy.manifestOf(spark, idx)

  def parseJson(s: String): Option[Any] = jobs.MiniJson.parse(s)
}
