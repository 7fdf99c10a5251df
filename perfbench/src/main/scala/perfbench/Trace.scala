package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed operation of a workload, on the wall clock in epoch ms.
  * `build` ends when the operator function returned its DataFrame (or
  * the verb was ready to run); everything after it is the action.
  */
final case class Op(id: Int, kind: String, module: String, traced: Boolean,
                    start: Double, buildEnd: Double, end: Double,
                    ok: Boolean, outRows: Long, gcMs: Long) {
  def wallMs: Double = end - start
  def buildMs: Double = buildEnd - start
}

/** Spans the public Spark listeners report, kept in memory and
  * attributed to operations afterwards by time: one client thread runs
  * the operations one after another, so a span belongs to the operation
  * whose interval holds its start.
  */
final class Trace(spark: SparkSession, cores: Int) {
  import Trace._

  private val jobs = mutable.ArrayBuffer.empty[JobSpan]
  private val stages = mutable.Map.empty[(Int, Int), StageSpan]
  private val tasks = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[TaskRec]]
  private val queries = mutable.ArrayBuffer.empty[QeSpan]
  private val triggers = mutable.ArrayBuffer.empty[TriggerSpan]
  private val streamStarts = mutable.Map.empty[String, Double]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      jobs += JobSpan(e.jobId, e.time.toDouble, Double.NaN,
        e.stageInfos.map(s => (s.stageId, s.attemptNumber())))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      val i = jobs.lastIndexWhere(_.id == e.jobId)
      if (i >= 0) jobs(i) = jobs(i).copy(end = e.time.toDouble)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Trace.this.synchronized {
        val s = e.stageInfo
        stages((s.stageId, s.attemptNumber())) = StageSpan(
          s.submissionTime.getOrElse(0L).toDouble,
          s.completionTime.getOrElse(0L).toDouble, s.numTasks)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val sr = m.shuffleReadMetrics
        tasks.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
          TaskRec(m.executorRunTime, m.executorCpuTime / 1000000L, m.jvmGCTime,
            m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
            m.shuffleWriteMetrics.bytesWritten, sr.totalBytesRead,
            sr.fetchWaitTime, m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      if (ph.nonEmpty) Trace.this.synchronized {
        def ms(p: String) = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
        queries += QeSpan(ph.values.map(_.startTimeMs).min.toDouble,
          ph.values.map(_.endTimeMs).max.toDouble,
          ms("analysis"), ms("optimization"), ms("planning"))
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      Trace.this.synchronized {
        streamStarts(e.runId.toString) = epochMs(e.timestamp)
      }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Trace.this.synchronized {
        val p = e.progress
        def d(k: String) = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
        val t = epochMs(p.timestamp)
        triggers += TriggerSpan(p.runId.toString, t, t + d("triggerExecution"),
          d("queryPlanning"), d("walCommit"), p.numInputRows)
      }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private var attached = false

  /** Register the listeners. A traced run alternates traced and
    * untraced operations, so its untraced ones carry no listener. */
  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    attached = true
  }

  /** Unregister, once the traced operation's events have arrived. */
  def detach(): Unit = if (attached) {
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    attached = false
  }

  /** The traced operation whose interval holds time `t`, by id. */
  private def owner(traced: Seq[Op])(t: Double): Option[Int] = {
    val i = traced.lastIndexWhere(_.start <= t + Slack)
    if (i >= 0 && t <= traced(i).end + Slack) Some(traced(i).id) else None
  }

  /** Per-operation layer figures for the traced operations. */
  def attribute(ops: Seq[Op]): Seq[OpLayers] = synchronized {
    val traced = ops.filter(_.traced).sortBy(_.start)
    val ownerOf = owner(traced) _
    val jobsOf = jobs.filterNot(_.end.isNaN).groupBy(j => ownerOf(j.start))
    val qesOf = queries.groupBy(q => ownerOf(q.start))
    val trigOf = triggers.groupBy(t => ownerOf(t.start))
    traced.map { op =>
      val js = jobsOf.getOrElse(Some(op.id), Seq.empty).toSeq
      val qs = qesOf.getOrElse(Some(op.id), Seq.empty).toSeq
      val ts = trigOf.getOrElse(Some(op.id), Seq.empty).toSeq
      val clip = (a: Double, b: Double) => (math.max(a, op.start), math.min(b, op.end))
      val jobUnion = unionMs(js.map(j => clip(j.start, j.end)))
      val covered = unionMs((Seq(clip(op.start, op.buildEnd)) ++
        js.map(j => clip(j.start, j.end)) ++ qs.map(q => clip(q.start, q.end)) ++
        ts.map(t => clip(t.start, t.end))))
      val stageKeys = js.flatMap(_.stages).distinct
      val st = stageKeys.flatMap(k => stages.get(k).map(k -> _))
      val tk = stageKeys.flatMap(k => tasks.getOrElse(k, Seq.empty))
      val slowest = st.sortBy { case (_, s) => -(s.end - s.start) }.headOption
      val skew = slowest.flatMap { case (k, _) =>
        val ds = tasks.getOrElse(k, Seq.empty).map(_.runMs.toDouble).sorted
        if (ds.isEmpty) None
        else Some(ds.last / math.max(1.0, ds(ds.length / 2)))
      }.getOrElse(0.0)
      val runMs = tk.map(_.runMs).sum.toDouble
      val starts = ts.map(_.runId).distinct.flatMap(r =>
        streamStarts.get(r).map(s => ts.filter(_.runId == r).map(_.start).min - s))
      val inRec = tk.map(_.inRecords).sum.toDouble
      OpLayers(op, Map(
        "catalyst.analysis_ms" -> qs.map(_.analysisMs).sum,
        "catalyst.optimization_ms" -> qs.map(_.optimizationMs).sum,
        "catalyst.planning_ms" -> qs.map(_.planningMs).sum,
        "catalyst.query_executions" -> qs.size.toDouble,
        "spark.jobs" -> js.size.toDouble,
        "spark.build_jobs" -> js.count(_.start <= op.buildEnd).toDouble,
        "spark.stages" -> st.size.toDouble,
        "spark.tasks" -> tk.size.toDouble,
        "spark.job_ms" -> jobUnion,
        "spark.driver_gap_ms" -> (op.wallMs - jobUnion),
        "spark.executor_run_ms" -> runMs,
        "spark.executor_cpu_ms" -> tk.map(_.cpuMs).sum.toDouble,
        "spark.executor_gc_ms" -> tk.map(_.gcMs).sum.toDouble,
        "spark.core_busy_frac" -> (if (jobUnion > 0) runMs / (jobUnion * cores) else 0.0),
        "spark.single_task_stage_ms" ->
          st.filter(_._2.numTasks == 1).map { case (_, s) => s.end - s.start }.sum,
        "spark.task_skew" -> skew,
        "scan.input_bytes" -> tk.map(_.inBytes).sum.toDouble,
        "scan.input_records" -> inRec,
        "scan.records_per_output_row" -> inRec / math.max(1L, op.outRows),
        "exchange.shuffle_write_bytes" -> tk.map(_.shuffleWrite).sum.toDouble,
        "exchange.shuffle_read_bytes" -> tk.map(_.shuffleRead).sum.toDouble,
        "exchange.fetch_wait_ms" -> tk.map(_.fetchWaitMs).sum.toDouble,
        "exchange.spill_bytes" -> tk.map(_.spill).sum.toDouble,
        "stream.start_ms" -> starts.sum,
        "stream.trigger_ms" -> ts.map(t => t.end - t.start).sum,
        "stream.query_planning_ms" -> ts.map(_.planningMs).sum,
        "stream.wal_commit_ms" -> ts.map(_.walMs).sum,
        "stream.batches" -> ts.count(_.inputRows > 0).toDouble,
        "jvm.driver_gc_ms" -> op.gcMs.toDouble,
        "trace.unattributed_ms" -> math.max(0.0, op.wallMs - covered)))
    }
  }

  /** All spans, one JSON object per line, for the run's trace file. A
    * span's `op` is the traced operation it is attributed to. */
  def dump(ops: Seq[Op], out: java.io.File): Unit = synchronized {
    val op = owner(ops.filter(_.traced).sortBy(_.start)) _
    val w = new java.io.PrintWriter(out, "UTF-8")
    try {
      ops.foreach(o => w.println(Json.write(Map("span" -> "op", "id" -> o.id,
        "kind" -> o.kind, "module" -> o.module, "traced" -> o.traced,
        "start" -> o.start, "build_end" -> o.buildEnd, "end" -> o.end, "ok" -> o.ok))))
      jobs.foreach(j => w.println(Json.write(Map("span" -> "job", "id" -> j.id,
        "op" -> op(j.start), "start" -> j.start, "end" -> j.end, "stages" -> j.stages.map(_._1)))))
      stages.foreach { case ((id, attempt), st) => w.println(Json.write(Map(
        "span" -> "stage", "id" -> id, "attempt" -> attempt, "start" -> st.start,
        "end" -> st.end, "tasks" -> st.numTasks))) }
      queries.foreach(q => w.println(Json.write(Map("span" -> "query_execution",
        "op" -> op(q.start), "start" -> q.start, "end" -> q.end, "analysis_ms" -> q.analysisMs,
        "optimization_ms" -> q.optimizationMs, "planning_ms" -> q.planningMs))))
      triggers.foreach(t => w.println(Json.write(Map("span" -> "stream_trigger",
        "op" -> op(t.start), "run_id" -> t.runId, "start" -> t.start, "end" -> t.end,
        "input_rows" -> t.inputRows))))
    } finally w.close()
  }
}

object Trace {
  /** Listener timestamps are whole ms; a span may read up to this much
    * outside the operation that caused it. */
  val Slack = 2.0

  final case class JobSpan(id: Int, start: Double, end: Double, stages: Seq[(Int, Int)])
  final case class StageSpan(start: Double, end: Double, numTasks: Int)
  final case class TaskRec(runMs: Long, cpuMs: Long, gcMs: Long, inBytes: Long,
                           inRecords: Long, shuffleWrite: Long, shuffleRead: Long,
                           fetchWaitMs: Long, spill: Long)
  final case class QeSpan(start: Double, end: Double, analysisMs: Double,
                          optimizationMs: Double, planningMs: Double)
  final case class TriggerSpan(runId: String, start: Double, end: Double,
                               planningMs: Double, walMs: Double, inputRows: Long)
  final case class OpLayers(op: Op, m: Map[String, Double])

  private def epochMs(iso: String): Double =
    java.time.Instant.parse(iso).toEpochMilli.toDouble

  /** Length of the union of intervals, in ms. */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total, curS, curE = 0.0
    var open = false
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (open && a <= curE) curE = math.max(curE, b)
      else {
        if (open) total += curE - curS
        curS = a; curE = b; open = true
      }
    }
    if (open) total += curE - curS
    total
  }
}

/** Per-layer metrics of a run: per-operation figures averaged over the
  * traced operations, or over the operations of the layer they
  * describe. A layer the workload does not exercise reads 0. */
object Layers {
  val PerOp: Seq[String] = Seq("catalyst.analysis_ms", "catalyst.optimization_ms",
    "catalyst.planning_ms", "catalyst.query_executions", "spark.jobs", "spark.stages",
    "spark.tasks", "spark.job_ms", "spark.driver_gap_ms", "spark.executor_run_ms",
    "spark.executor_cpu_ms", "spark.executor_gc_ms", "spark.core_busy_frac",
    "spark.single_task_stage_ms", "spark.task_skew", "scan.input_bytes",
    "scan.input_records", "exchange.shuffle_write_bytes", "exchange.shuffle_read_bytes",
    "exchange.fetch_wait_ms", "exchange.spill_bytes", "jvm.driver_gc_ms")
  val Stream: Seq[String] = Seq("stream.start_ms", "stream.trigger_ms",
    "stream.query_planning_ms", "stream.wal_commit_ms", "stream.batches")
  val WorkloadOwn: Seq[String] = Seq("merge_ms", "update_ms", "delete_ms", "append_ms",
    "compact_ms", "read_where_ms", "read_ms", "change_feed_ms", "files_added_per_commit",
    "files_removed_per_commit", "rows_rewritten_per_changed_row",
    "bytes_written_per_commit", "log_bytes_per_commit", "files_read_frac", "live_files")
    .map("GraftTable." + _) ++ Seq("ingest.read_p50_ms", "ingest.stream_p50_ms",
    "ingest.rows_per_s", "ingest.bytes_per_source_byte", "quality.d6_pair_recall",
    "quality.d36_pair_recall", "quality.e7_recall", "quality.e11_recall")

  /** Share of each operation kind's traced time no span covers. */
  def unattributedByKind(per: Seq[Trace.OpLayers]): Map[String, Double] =
    per.groupBy(_.op.kind).map { case (k, ps) =>
      k -> ps.map(_.m("trace.unattributed_ms")).sum / math.max(1e-9, ps.map(_.op.wallMs).sum)
    }

  def summarize(per: Seq[Trace.OpLayers], own: Map[String, Double]): Map[String, Double] = {
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def avg(k: String, ps: Seq[Trace.OpLayers]) = mean(ps.map(_.m(k)))
    val modules = Main.Modules.map(_._1).flatMap { mod =>
      val ps = per.filter(_.op.module == mod)
      Seq(s"$mod.build_ms" -> mean(ps.map(_.op.buildMs)),
        s"$mod.build_jobs" -> avg("spark.build_jobs", ps),
        s"$mod.op_ms" -> mean(ps.map(_.op.wallMs)))
    }
    val streams = per.filter(_.m("stream.batches") > 0)
    val commits = per.filter(p => Ingest.Commits(p.op.kind))
    PerOp.map(k => k -> avg(k, per)).toMap ++ modules ++
      Stream.map(k => k -> avg(k, streams)) ++
      WorkloadOwn.map(k => k -> own.getOrElse(k, 0.0)) ++ Map(
      "scan.records_per_output_row" ->
        per.map(_.m("scan.input_records")).sum / math.max(1L, per.map(_.op.outRows).sum),
      "GraftTable.jobs_per_commit" -> avg("spark.jobs", commits),
      "GraftTable.driver_gap_ms_per_commit" -> avg("spark.driver_gap_ms", commits),
      "trace.unattributed_frac" -> per.map(_.m("trace.unattributed_ms")).sum /
        math.max(1e-9, per.map(_.op.wallMs).sum))
  }
}
