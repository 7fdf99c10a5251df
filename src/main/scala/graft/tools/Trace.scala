package graft.tools

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.concurrent.TrieMap
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graft.shim
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{Gate, SparkEntry}

/** Where a run's time went and which size-gate branches it took.
  *
  * `capture` runs a body under one `SparkListener` (jobs, stages,
  * [[Gate.Decision]]s) and one `QueryExecutionListener` (Catalyst
  * phase times of every QueryExecution the session runs). `main`
  * traces declared queries:
  *
  *   sbt "runMain graft.tools.Trace <sfDir> d2_dedup_ngram_jaccard s21_stream_merge"
  *
  * Each query runs once untimed to warm, then its build plus noop
  * write runs under `capture` and one JSON line is printed. The
  * session is the bench's (`local[SPARK_GRAFT_CPUS]`). A GraftTable
  * verb is traced through a declared query that runs it on a fresh
  * table (s21_stream_merge: three mergeInto commits; s15: appends
  * plus a compact); its phases show as `merge: …`-labelled jobs.
  */
object Trace {
  /** One Spark job. `description` is its `spark.job.description`
    * (null when unset); `stages` the first line of each stage name.
    * Times are listener-event epoch ms; a job with no end event by
    * the capture's end is shown ending there.
    */
  case class Job(id: Int, description: String, callSite: String,
                 stages: Seq[String], startMs: Long, endMs: Long)

  /** One completed stage attempt: executor-run ms summed over tasks. */
  case class Stage(id: Int, name: String, tasks: Int, runMs: Long,
                   shuffleReadBytes: Long, shuffleWriteBytes: Long,
                   spillBytes: Long)

  /** `qe.tracker` phase times of one QueryExecution, ms. */
  case class Phases(analysisMs: Long, optimizationMs: Long,
                    planningMs: Long)

  case class Record(startMs: Long, endMs: Long, jobs: Seq[Job],
                    stages: Seq[Stage], gates: Seq[Gate.Decision],
                    phases: Seq[Phases]) {
    def wallMs: Long = endMs - startMs

    /** The record as one JSON object: each job carries its offset
      * from the start, its duration and the driver gap before it
      * (time since the previous job ended, or since the start);
      * `tail_gap_ms` is the driver work after the last job.
      */
    def json(query: String): String = {
      var prevEnd = startMs
      val timeline = jobs.sortBy(j => (j.startMs, j.id)).map { j =>
        val gap = j.startMs - prevEnd
        prevEnd = math.max(prevEnd, j.endMs)
        ListMap("id" -> j.id, "description" -> j.description,
          "call_site" -> j.callSite, "stages" -> j.stages,
          "offset_ms" -> (j.startMs - startMs),
          "dur_ms" -> (j.endMs - j.startMs), "gap_before_ms" -> gap)
      }
      mapper.writeValueAsString(ListMap(
        "query" -> query, "wall_ms" -> wallMs, "jobs" -> timeline,
        "tail_gap_ms" -> (endMs - prevEnd),
        "stages" -> stages.sortBy(_.id).map(s => ListMap(
          "id" -> s.id, "name" -> s.name, "tasks" -> s.tasks,
          "run_ms" -> s.runMs, "shuffle_read_bytes" -> s.shuffleReadBytes,
          "shuffle_write_bytes" -> s.shuffleWriteBytes,
          "spill_bytes" -> s.spillBytes)),
        "gates" -> gates.map(d => ListMap("gate" -> d.gate,
          "measured" -> d.measured, "cap" -> d.cap, "branch" -> d.branch)),
        "planning" -> ListMap("query_executions" -> phases.size,
          "analysis_ms" -> phases.map(_.analysisMs).sum,
          "optimization_ms" -> phases.map(_.optimizationMs).sum,
          "planning_ms" -> phases.map(_.planningMs).sum)))
    }
  }

  private lazy val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  private def firstLine(s: String) = s.takeWhile(_ != '\n')

  /** Runs `body` under the two listeners, drains the listener bus and
    * removes them; jobs are in launch order.
    */
  def capture[T](spark: SparkSession)(body: => T): (T, Record) = {
    val started = new ConcurrentLinkedQueue[SparkListenerJobStart]
    val ended = TrieMap.empty[Int, Long]
    val stages = new ConcurrentLinkedQueue[Stage]
    val gates = new ConcurrentLinkedQueue[Gate.Decision]
    val phases = new ConcurrentLinkedQueue[Phases]
    val jobs = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        started.add(j); ()
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        ended.put(j.jobId, j.time); ()
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val m = si.taskMetrics
        stages.add(Stage(si.stageId, firstLine(si.name), si.numTasks,
          m.executorRunTime, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled)); ()
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case d: Gate.Decision => gates.add(d); ()
        case _ => ()
      }
    }
    val planning = new QueryExecutionListener {
      private def record(qe: QueryExecution): Unit = {
        val p = qe.tracker.phases
        def ms(phase: String) = p.get(phase).map(_.durationMs).getOrElse(0L)
        phases.add(Phases(ms(QueryPlanningTracker.ANALYSIS),
          ms(QueryPlanningTracker.OPTIMIZATION),
          ms(QueryPlanningTracker.PLANNING))); ()
      }
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        record(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        record(qe)
    }
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(planning)
    try {
      val t0 = System.currentTimeMillis()
      val r = body
      val t1 = System.currentTimeMillis()
      shim.drainListenerBus(spark)
      val js = started.asScala.toSeq.map { j =>
        def prop(k: String) = Option(j.properties).map(_.getProperty(k)).orNull
        Job(j.jobId, prop("spark.job.description"), prop("callSite.short"),
          j.stageInfos.map(s => firstLine(s.name)), j.time,
          ended.getOrElse(j.jobId, t1))
      }
      (r, Record(t0, t1, js, stages.asScala.toSeq, gates.asScala.toSeq,
        phases.asScala.toSeq))
    } finally {
      spark.listenerManager.unregister(planning)
      spark.sparkContext.removeSparkListener(jobs)
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Trace <sfDir> <query> [query …]")
    val sfDir = args.head
    val spark = graft.Bench.session()
    try args.tail.foreach { name =>
      val build = SparkEntry.queries(name)
      def run(): Unit =
        build(spark, sfDir).write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache()
      run() // warm, untimed
      spark.catalog.clearCache()
      println(capture(spark)(run())._2.json(name))
    } finally spark.stop()
  }
}
