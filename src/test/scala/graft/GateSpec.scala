package graft

import scala.jdk.CollectionConverters._

/** The forced sweep over every size gate ([[Gate]]): each gated
  * declared query runs at sf0.01 once with defaults (the small-input
  * sides — driver twins, broadcasts, naive plans, widened scans) and
  * once under `spark.graft.gate.atScale=true` (every distributed
  * loop and at-scale plan). The two outputs must be equal row for
  * row, both must match the DuckDB oracle where one exists, and the
  * posted [[Gate.Decision]] events must show every gate reached and
  * forced.
  */
class GateSpec extends SparkSpec with org.scalatest.BeforeAndAfterAll {
  /** The sf0.01 layout next to the suite's own test data. */
  private val sf01 = new java.io.File(sf).getParent + "/sf0.01"

  /** Every declared batch query with a gate on its path: the ones
    * that post a decision when built under the key. A new gated
    * query belongs here; a new gate name fails the first test until
    * it is added to `gates`.
    */
  private val gated = Seq("d2_dedup_ngram_jaccard", "d6_minhash_lsh",
    "d18_dup_clusters", "d33_bpe_train", "d34_bpe_encode",
    "d36_quality_dedup", "e9_knn_graph", "e11_graph_ann",
    "e13_ann_report", "g1_connected_components", "g2_point_in_box",
    "g3_nearest_box", "g8_object_graph", "g11_box_envelope",
    "g13_kcore_peel", "g13b_kcore_fixpoint", "g14_label_prop",
    "g15_link_predict", "g16_common_neighbors", "m9_imageio_histogram",
    "p3_neardup_corpus", "p10_web_corpus")

  private val gates = Set("g1.twin", "kcore.twin", "bpe.twin", "e9.twin",
    "e11.twin", "d2.prefixPlan", "d6.widenMinhash", "d36.lshPairs",
    "text.verifyBroadcast", "g2.boxBroadcast", "widen")
  private val twins = gates.filter(_.endsWith(".twin"))

  private lazy val out =
    java.nio.file.Files.createTempDirectory("graft_gate").toString

  override def afterAll(): Unit =
    new scala.reflect.io.Directory(new java.io.File(out)).deleteRecursively()

  /** Writes every gated query to `<out>/<mode>/<query>` and returns
    * the decisions each one posted. e13's stored indexes are cached
    * per session, so they are dropped first: each sweep builds its own.
    */
  private def sweep(mode: String, forced: Boolean)
      : Map[String, Seq[Gate.Decision]] = {
    graft.operators.Similarity.e13Idx.clear()
    if (forced) spark.conf.set(Gate.AtScaleKey, "true")
    try gated.map { q =>
      val (_, trace) = graft.tools.Trace.capture(spark)(
        SparkEntry.queries(q)(spark, sf01)
          .write.mode("overwrite").parquet(s"$out/$mode/$q"))
      q -> trace.gates
    }.toMap
    finally spark.conf.unset(Gate.AtScaleKey)
  }

  private lazy val (byDefault, byForce) =
    (sweep("default", forced = false), sweep("forced", forced = true))

  /** Columns that are measurements of the run, not answers: e13's
    * wall-clock seconds and its stored indexes' on-disk bytes (their
    * file layout follows the build branch).
    */
  private val measurements = Map("e13_ann_report" ->
    Seq("build_time_s", "query_time_s", "index_bytes"))

  test("forced: every gate is reached and takes its at-scale side unmeasured") {
    val silent = byForce.collect { case (q, ds) if ds.isEmpty => q }
    assert(silent.isEmpty, s"gated queries posted no decision: $silent")
    val all = byForce.values.flatten.toSeq
    assert(all.map(_.gate).toSet == gates)
    val notForced = all.filter(d => d.branch != "atScale" || d.measured != -1L)
    assert(notForced.isEmpty, s"decisions escaped the key: $notForced")
  }

  test("default: every gate decides by its measurement; the twins run at sf0.01") {
    val all = byDefault.values.flatten.toSeq
    val wrong = all.filter { d =>
      d.measured < 0 || d.branch != (if (d.measured <= d.cap) "small" else "atScale")
    }
    assert(wrong.isEmpty, s"decisions disagree with measured <= cap: $wrong")
    // a twin that already took its at-scale side would make the
    // default-vs-forced comparison below vacuous for it
    val twinSides = all.filter(d => twins(d.gate)).map(_.branch).toSet
    assert(twinSides == Set("small"), s"twin sides at sf0.01: $twinSides")
    assert(all.map(_.gate).toSet.intersect(twins) == twins)
  }

  test("default and forced outputs are equal as typed rows") {
    byDefault
    gated.foreach { q =>
      def read(mode: String) = spark.read.parquet(s"$out/$mode/$q")
        .drop(measurements.getOrElse(q, Nil): _*)
      val (a, b) = (read("default"), read("forced"))
      def types(df: org.apache.spark.sql.DataFrame) =
        df.schema.map(f => f.name -> f.dataType.catalogString)
      assert(types(a) == types(b), s"$q: column types differ")
      val (na, nb) = (a.count(), b.count())
      assert(na == nb, s"$q: $na default rows vs $nb forced")
      assert(na > 0, s"$q returned no rows")
      val onlyDefault = a.exceptAll(b).count()
      val onlyForced = b.exceptAll(a).count()
      assert(onlyDefault == 0 && onlyForced == 0,
        s"$q: $onlyDefault rows only by default, $onlyForced only forced")
    }
  }

  test("default and forced outputs both match the DuckDB oracles") {
    import scala.sys.process._
    val have = try Seq("python3", "-c", "import duckdb").! == 0
               catch { case _: Throwable => false }
    assume(have, "python3+duckdb unavailable — oracles run driver-side")
    byDefault
    val oracled = gated.filter(SparkEntry.oracleSql.contains)
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValueAsString(oracled.map(q => q -> SparkEntry.oracleSql(q))
        .toMap.asJava)
    Seq("default", "forced").foreach { mode =>
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$out/$mode/oracle_sql.json"), json)
      val log = new StringBuilder
      val code = (Seq("python3", "tools/check.py", sf01, s"$out/$mode") ++
        oracled).!(ProcessLogger(l => { log ++= l; log += '\n' }))
      assert(code == 0, s"$mode sweep vs oracles:\n$log")
      assert(log.toString.contains(s"ALL PASS (${oracled.size} queries"), log)
    }
  }
}
