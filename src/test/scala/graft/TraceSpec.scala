package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import graft.tools.Trace

/** [[Trace.capture]] over declared queries at sf0.001: gate decisions,
  * job intervals, stage metrics, planning phases, verb phase labels,
  * and the JSON line `Trace.main` prints.
  */
class TraceSpec extends SparkSpec {
  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def traced(q: String) =
    Trace.capture(spark)(noop(SparkEntry.queries(q)(spark, sf)))._2

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  test("a gated query's trace carries its Gate.Decision") {
    val t = traced("d6_minhash_lsh")
    val docs = Tables.parquetRowCount(spark, s"$sf/documents.parquet")
    val d6 = t.gates.filter(_.gate == "d6.widenMinhash")
    assert(d6.nonEmpty && d6.toSet ==
      Set(Gate.Decision("d6.widenMinhash", docs, 19999L, "small")))
    val gates = mapper.readTree(t.json("d6_minhash_lsh")).get("gates")
      .elements().asScala.toSeq
    assert(gates.map(_.get("gate").asText) == t.gates.map(_.gate))
    assert(gates.map(_.get("measured").asLong) == t.gates.map(_.measured))
  }

  test("a shuffling query's jobs, stages and planning phases") {
    val t = traced("q3_join_agg")
    assert(t.jobs.nonEmpty)
    t.jobs.foreach { j =>
      assert(t.startMs <= j.startMs && j.startMs <= j.endMs &&
        j.endMs <= t.endMs, s"job ${j.id} outside the traced wall: $j")
      assert(j.stages.nonEmpty)
    }
    assert(t.stages.nonEmpty && t.stages.forall(_.tasks > 0))
    assert(t.stages.exists(_.shuffleWriteBytes > 0))
    assert(t.stages.exists(_.shuffleReadBytes > 0))
    assert(t.phases.nonEmpty)
    assert(t.phases.map(p => p.analysisMs + p.optimizationMs +
      p.planningMs).sum > 0)

    val js = mapper.readTree(t.json("q3_join_agg"))
    assert(js.get("wall_ms").asLong == t.wallMs)
    val jobs = js.get("jobs").elements().asScala.toSeq
    assert(jobs.map(_.get("id").asInt).toSet == t.jobs.map(_.id).toSet)
    // the first job's gap is its offset from the start
    assert(jobs.head.get("gap_before_ms").asLong ==
      jobs.head.get("offset_ms").asLong)
    assert(js.get("tail_gap_ms").asLong >= 0)
    assert(js.get("stages").size == t.stages.size)
    val planning = js.get("planning")
    assert(planning.get("query_executions").asInt == t.phases.size)
  }

  test("s21's three mergeInto commits each show their merge phases") {
    val labels = traced("s21_stream_merge").jobs.map(_.description)
      .filter(d => d != null && d.startsWith("merge: "))
    // each commit opens with its source pin
    val first = "merge: source pin + key range"
    val starts = labels.indices.filter(i =>
      labels(i) == first && (i == 0 || labels(i - 1) != first))
    assert(starts.size == 3, s"merge labels: $labels")
    val commits = (starts :+ labels.size).sliding(2)
      .map { case Seq(a, b) => labels.slice(a, b).toSet }.toSeq
    commits.foreach(c => assert(c == commits.head, s"merge labels: $labels"))
    assert(commits.head.exists(_.startsWith("merge: stage rewrite")))
  }
}
