package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM:
  *
  *   perfbench.Main <workload> <seed> <seconds> <trace 0|1> <dataDir> <runDir> <outJson>
  *
  * Sets up the workload (untimed warm-up included in `setup_s`), then
  * runs whole rounds of its seeded operation sequence until `seconds`
  * have passed, and writes every figure to `outJson`. A traced run
  * traces each kind of operation on half of its runs, so the same run
  * also gives the cost of tracing.
  */
object Main {
  /** The operator modules the per-layer build figures are kept for. */
  val Modules: Seq[(String, Map[String, _])] = {
    import graft.operators._
    Seq("Relational" -> Relational.queries, "Events" -> Events.queries,
      "Geometry" -> Geometry.queries, "TextOps" -> TextOps.queries,
      "Similarity" -> Similarity.queries, "Pipeline" -> Pipeline.queries,
      "Lakehouse" -> Lakehouse.queries,
      "EventStream" -> graft.streaming.EventStream.queries)
  }

  def moduleOf(query: String): String =
    Modules.collectFirst { case (m, qs) if qs.contains(query) => m }.getOrElse("other")

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, dataDir, runDir, outJson) = args
    val (seed, seconds, trace) = (seedS.toLong, secondsS.toDouble, traceS == "1")
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$runDir/local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$runDir/checkpoint")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val tracer = if (trace) Some(new Trace(spark, cores)) else None
    val rec = new Recorder(tracer)
    val w: Workload = workload match {
      case "batch" => new Batch(spark, dataDir, runDir, rec, seed)
      case "lakehouse_ingest" => new Ingest(spark, dataDir, runDir, rec, seed)
      case other => sys.error(s"unknown workload $other")
    }
    w.setup()
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val setupS = (Clock.now() - jvmStart) / 1000.0
    rec.ops.clear()
    Heap.reset()

    val t0 = Clock.now()
    var round = 0
    // whole rounds keep every operation kind equally represented; a
    // traced run makes four, to trace each kind twice and not twice
    val minRounds = if (trace) 4 else w.minRounds
    val deadline = t0 + seconds * 1000
    rec.startMeasuring()
    while (round < minRounds || Clock.now() < deadline) {
      w.round()
      round += 1
    }
    tracer.foreach(_.detach())
    val measuredS = (Clock.now() - t0) / 1000.0
    val heapMb = Heap.peakMb()
    val retainedMb = Heap.retainedMb()
    val finalFailures = w.finish()
    val ops = rec.ops.toSeq

    val untraced = ops.filterNot(_.traced)
    val e2e = w.endToEnd(untraced) ++ Map(
      "setup_s" -> setupS, "heap_peak_mb" -> heapMb, "heap_retained_mb" -> retainedMb)
    val per = tracer.map { t =>
      t.dump(ops, new File(s"$runDir/trace.jsonl"))
      t.attribute(ops)
    }.getOrElse(Seq.empty)
    val layers: Map[String, Double] = tracer.map { _ =>
      Layers.summarize(per, w.layerExtras(ops) ++
        w.quality.map { case (k, v) => s"quality.$k" -> v("value") }) ++ Map(
        "trace.overhead_frac" -> (w.endToEnd(ops.filter(_.traced))("pass_s") / e2e("pass_s") - 1.0))
    }.getOrElse(Map.empty)

    val result = Map(
      "workload" -> workload, "seed" -> seed,
      "attempted" -> ops.size, "failed" -> (ops.count(!_.ok) + finalFailures),
      "rounds" -> round, "measured_s" -> measuredS,
      "end_to_end" -> e2e, "per_layer" -> layers,
      "unattributed_by_kind" -> Layers.unattributedByKind(per),
      "samples" -> ops.groupBy(_.kind).map { case (k, v) => k -> v.size },
      "kind_p50_ms" -> untraced.groupBy(_.kind).map { case (k, v) => k -> Stats.median(v.map(_.wallMs)) },
      "failed_by_kind" -> ops.filterNot(_.ok).groupBy(_.kind).map { case (k, v) => k -> v.size },
      "report" -> w.report(untraced),
      "oracle" -> w.oracleChecks,
      "quality" -> w.quality,
      "cores" -> cores)
    val out = new java.io.PrintWriter(outJson, "UTF-8")
    try out.println(Json.write(result)) finally out.close()
    spark.stop()
  }
}

/** A workload: untimed setup, then rounds of timed operations. */
trait Workload {
  def setup(): Unit
  /** End-of-run checks; returns how many failed. */
  def finish(): Int = 0
  /** One round: every operation kind of the workload, in seeded order. */
  def round(): Unit
  /** Rounds an untraced run makes at least, whatever `seconds` says. */
  def minRounds: Int = 1
  /** `pass_s`, `p50_ms`, `tail_ms` (+ `tail_pct`, `n`) over the ops. */
  def endToEnd(ops: Seq[Op]): Map[String, Double]
  /** The workload's own named figures, for the report line. */
  def report(ops: Seq[Op]): Map[String, Double]
  /** Per-layer figures only the workload itself can measure. */
  def layerExtras(ops: Seq[Op]): Map[String, Double] = Map.empty
  /** Outputs written for the DuckDB oracle check: name -> (dir, sql). */
  def oracleChecks: Map[String, Map[String, String]] = Map.empty
  /** Recall of the approximate operators: name -> (value, floor). */
  def quality: Map[String, Map[String, Double]] = Map.empty

  /** Sum over operation kinds of each kind's median, in s. */
  protected def passS(ops: Seq[Op]): Double =
    ops.groupBy(_.kind).values.map(v => Stats.median(v.map(_.wallMs))).sum / 1000.0

  protected def latency(ops: Seq[Op]): Map[String, Double] = {
    val xs = ops.map(_.wallMs)
    val (p, t) = Stats.tail(xs)
    Map("p50_ms" -> Stats.median(xs), "tail_ms" -> t, "tail_pct" -> p,
      "n" -> xs.size.toDouble)
  }
}

/** Driver heap: the sum of the heap pools' peak usage since reset. */
object Heap {
  import scala.jdk.CollectionConverters._
  private def pools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  def reset(): Unit = pools.foreach(_.resetPeakUsage())
  def peakMb(): Double = pools.map(_.getPeakUsage.getUsed).sum / 1048576.0
  /** Heap still in use after a full collection. */
  def retainedMb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
