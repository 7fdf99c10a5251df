package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session). */
object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  /** Runs `f` and returns its result with the `spark.job.description`
    * of every Spark job it launched (the phase labels GraftTable
    * verbs set), in launch order; unlabelled jobs are left out. Wrap
    * an expected refusal in a `Try` inside `f` to keep its labels.
    */
  def jobLabels[T](f: => T): (T, Seq[String]) = {
    val (r, trace) = graft.tools.Trace.capture(spark)(f)
    (r, trace.jobs.flatMap(j => Option(j.description)))
  }
}
