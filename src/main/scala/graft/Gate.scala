package graft

import org.apache.spark.scheduler.SparkListenerEvent
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The one size-gate mechanism. Every operator that picks between a
  * small-input plan (a driver twin, a broadcast, a naive join, a
  * widened scan) and its at-scale plan decides here, with its cap a
  * constant at the call site: the small side runs iff `measured <=
  * cap`.
  *
  * Each decision is posted once on the listener bus as a
  * [[Gate.Decision]], so any `SparkListener.onOtherEvent` (a spec, a
  * trace) sees which branch a run took without a probe.
  *
  * `spark.graft.gate.atScale=true` sends every gate to its at-scale
  * side WITHOUT measuring: no footer read, no bounded collect, so a
  * plan built under it stays lazy. Every twin's cap exceeds every
  * test corpus, so this key is how specs reach the distributed
  * branches at all.
  */
object Gate {
  val AtScaleKey = "spark.graft.gate.atScale"

  /** `measured` is -1 when the key forced the decision unmeasured. */
  case class Decision(gate: String, measured: Long, cap: Long,
                      branch: String) extends SparkListenerEvent

  /** True on the small side: `measured <= cap`, unless forced. */
  def small(s: SparkSession, gate: String, cap: Long)
           (measured: => Long): Boolean = {
    val m = if (s.conf.get(AtScaleKey, "false").toBoolean) -1L
            else measured
    val isSmall = m >= 0 && m <= cap
    org.apache.spark.sql.graft.shim.postEvent(s,
      Decision(gate, m, cap, if (isSmall) "small" else "atScale"))
    isSmall
  }

  /** The bounded collect behind the driver twins: `df`'s rows when
    * there are at most `cap` of them (one `take(cap + 1)` job), None
    * on the at-scale side.
    */
  def collect(s: SparkSession, gate: String, df: DataFrame,
              cap: Int): Option[Array[Row]] = {
    lazy val head = df.take(cap + 1)
    if (small(s, gate, cap)(head.length)) Some(head) else None
  }
}
