package graft.tools

import org.apache.spark.sql.SparkSession
import graft.SparkEntry

/** Plan audit (SURVEY.md §5): prints condensed physical-plan
  * diagnostics for every query — shuffle count, broadcast joins,
  * whole-stage-codegen coverage, pushed filters, scanned columns —
  * the checklist the 100 TB design is graded on.
  */
object PlanAudit {
  /** Operator counts over one executed plan's text. */
  case class Fingerprint(shuffles: Int, bhj: Int, smj: Int, wscg: Int,
                         scans: Int, pushedFilterScans: Int)

  /** The plan fingerprint the audit prints and Bench records per query. */
  def fingerprint(plan: String): Fingerprint = {
    def n(pat: String) = pat.r.findAllIn(plan).length
    Fingerprint(
      shuffles = n("Exchange hashpartitioning") + n("Exchange rangepartitioning"),
      bhj = n("BroadcastHashJoin"), smj = n("SortMergeJoin"),
      wscg = n("\\*\\(\\d+\\)"), // WholeStageCodegen stage markers
      scans = n("FileScan parquet"),
      // one count per scan with ANY pushed filter (summing two
      // pattern counts double-counted scans matching both)
      pushedFilterScans = n("PushedFilters: \\[[^\\]]"))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    // optional trailing query names: audit only those (the scale runs
    // fingerprint the probe set at 10x/100x, where building all 161
    // queries would execute every iterative loop's build step)
    val only = args.drop(1).toSet
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "false")  // show final WSCG stages statically
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try {
        val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
        val f = fingerprint(plan)
        println(f"$name%-26s shuffles=${f.shuffles}%-3d bhj=${f.bhj}%-2d smj=${f.smj}%-2d wscg=${f.wscg}%-3d scans=${f.scans}%-2d pushedFilterScans=${f.pushedFilterScans}")
      } catch { case e: Throwable =>
        // only streaming queries are EXPECTED to fail plan capture
        // (building them executes the stream); a batch failure is a
        // regression and must not masquerade as a skip
        if (name.startsWith("s"))
          println(f"$name%-26s AUDIT-SKIP (streaming: building executes the query)")
        else
          println(f"$name%-26s AUDIT-FAIL ${e.getClass.getName}: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
