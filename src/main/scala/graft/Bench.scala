package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver-run benchmark: times the headline queries (SURVEY.md §6) on
  * SPARK_GRAFT_SF_DIR and prints one JSON line.
  *
  * Timing discipline: each query runs `iters` times (default 3) and
  * reports the MINIMUM (plus the median, so skew between the two
  * flags noisy samples). A single-iteration sample conflates the
  * query with whatever else the machine was doing that second (the
  * round-3 bench showed a uniform ~1.9× "regression" on untouched
  * queries — machine contention, not plans); min-of-N is the standard
  * way to estimate the noise floor of a deterministic workload.
  *
  * Capture protocol (the round-6 artifact was contention-noise — run
  * quiet and prove it): run the bench BEFORE any heavy verify pass in
  * the session, and read the artifact's own machine-state fields
  * before trusting it — `loadavg` (1-min /proc/loadavg sampled at
  * start and end; on this 32-cpu box anything ≳ a few means another
  * workload shared the run) and `captured_at`. A regression call
  * needs BOTH a moved timing and an unchanged-vs-changed plan
  * fingerprint; with fingerprints identical and loadavg elevated,
  * blame the machine, not the round.
  */
object Bench {
  /** Headline set: the scale-critical operators — wide agg, fact-fact
    * join, 5-way star, sessionization window, tumbling window, exact
    * dedup, shingle join, MinHash LSH, brute-force ANN — plus one per
    * remaining family: geometry (g2 grid join), streaming (s1), Bloom
    * decontamination (d16), span-level dedup (d22 — the heaviest new
    * round-5 surface: corpus-wide 5-gram df + semi join + coverage
    * window) — not the long tail of small lookups.
    */
  private val headline = Seq(
    "q1_agg", "q3_join_agg", "q16_star_join", "q21_sessionize",
    "q22_event_window", "d1_dedup_exact", "d2_dedup_ngram_jaccard",
    "d6_minhash_lsh", "e1_knn_brute", "g2_point_in_box",
    "s1_stream_window", "d16_bloom_decontaminate", "d22_span_dedup",
    // round-5 additions: the bucketed interval join (vs the BNLJ it
    // replaces) and the token-keyed LM-scoring join (d20's plan family
    // under the heaviest fan-out: every token occurrence joins)
    "q50_range_join", "d25_lm_score",
    // PQ ANN next to e1: the same query set answered from 9-byte codes
    // + exact re-rank — the pairing shows what the 32× compression
    // buys and costs at the same corpus size
    "e7_pq_ann",
    // round-6 additions: the bigram-LM scoring pipeline (heaviest
    // token fan-out in the text family: every adjacent pair joins two
    // model tables), digest-keyed blob dedup (the d1 exchange pattern
    // with a 32-byte crypto key + window combine), and the corpus
    // k-NN graph (the one corpus×corpus-shaped candidate join in the
    // suite — LSH-blocked, so its cost must scale as N·5N/2^bits,
    // never N²)
    "d27_bigram_lm", "m5_blob_dedup", "e9_knn_graph",
    // round-7 additions: the iterative-loop family's heaviest member —
    // peel rounds to FIXPOINT (localCheckpoint + convergence count per
    // round; the loop runs at build time, which is why the timer
    // below wraps build, not just the final write) — and CDC chunking
    // (the codegen'd per-byte GearChunks expression + digest-keyed
    // window: the corpus-scan shape whose cost is raw byte
    // throughput, worth tracking next to m5's per-blob digest pass)
    "g13b_kcore_fixpoint", "m7_cdc_chunks",
    // round-8 additions: graph-traversal ANN (the iterative-loop
    // family's query-side member — offline adjacency build + R
    // broadcast-frontier beam rounds, billed at build like g13b) and
    // BPE encode (the trained-tokenizer apply pass: R vocab-bounded
    // merge rounds + the corpus-wide word-keyed count join — the
    // heaviest new text-family shape)
    "e11_graph_ann", "d34_bpe_encode",
    // round-9 additions: the composed multimodal pipeline (CDC chunk
    // scan + digest window + m8 block join — the m-family's heaviest
    // end-to-end shape) and transactional streaming table ingest
    // (per-batch atomic commits + OPTIMIZE through the GraftTable
    // log — the unified sink discipline's cost, worth tracking)
    "p6_media_corpus", "s15_stream_table_ingest",
    // round-10 additions: copy-on-write MERGE INTO (the lakehouse
    // write path: stats-pruned touched-file discovery + rewrite +
    // atomic commit, billed end-to-end through the q78 lifecycle) and
    // the commit log served as a stream (s16: per-version micro-batch
    // planning through the DSv2 source — the table-to-stream cost)
    "q78_merge_into", "s16_stream_table_feed",
    // round-11 additions: the NATIVE DSv2 streaming sink end-to-end
    // (per-epoch executor staging + tagged epoch commits + bootstrap
    // — s15's discipline behind writeStream.format("graft"), so the
    // pair shows what the native sink costs vs foreachBatch) and the
    // SQL MERGE INTO statement path (analysis rewrite + key-pruned
    // merge commit + SQL readback, billed through the q87 lifecycle)
    "s18_stream_native_sink", "q87_sql_merge",
    // late round-11 additions: the two-stage rerank cascade (the
    // corpus-wide prefix-dot pass + bounded exact rerank — the
    // serving-stack shape whose stage-1 cost must stay the linear
    // term) and weighted link prediction (the wedge join's Σdeg²
    // fan-out with exact-long Adamic-Adar sums — the heaviest new
    // graph-family shape)
    "e16_rerank_cascade", "g15_link_predict",
    // round-12 additions: quality-keeper near-dedup (the round's
    // scale-riser fix — the LSH-verified pair source behind the
    // footer-count plan switch; tracking it keeps the switch's
    // small-SF no-op honest round over round) and the CONVERT
    // lifecycle (plain landing → in-place adoption → copy-on-write
    // delete → log-resolved read: the migration verb's end-to-end
    // cost, billed once per session like the other lifecycle entries)
    "d36_quality_dedup", "q91_convert_read",
    // round-13 additions: the string-partitioned lifecycle (land →
    // CONVERT with recorded partition type → copy-on-write DELETE
    // restoring string values from paths → log-pruned subset read —
    // the migration verb for string-keyed lakes, billed end-to-end
    // once per session like q91) and the bucketed co-purchase scorer
    // (g15's wedge join fed from the l_orderkey-bucketed landing:
    // tracking it next to g15 shows what the layout buys — the
    // per-order aggregate's corpus exchange — round over round)
    "q93_string_partition", "g15b_link_predict_bucketed",
    // round-14 additions: the multi-key partition lifecycle (two-key
    // mixed-type land → CONVERT → CoW DELETE → pruned reads on each
    // key — the migration verb for real fact layouts, billed
    // end-to-end once per session like q91/q93) and the real-codec
    // image pass (per-doc PNG encode + ImageIO decode + histogram in
    // one mapPartitions sweep — raw pixel throughput, the m-family's
    // heaviest per-row byte work)
    "q95_multi_partition", "m9_imageio_histogram",
    // late round-14 addition: the partitioned SQL write lifecycle
    // (CREATE PARTITIONED -> dynamic-partition INSERT -> CoW UPDATE
    // on the path-borne key -> catalog read, billed end-to-end once
    // per session like q91/q93/q95)
    "q96_sql_partitioned",
    // round-15 additions: the daily-backfill lifecycle (partitioned
    // land -> dynamic partition overwrite of one period -> replaceWhere
    // restatement of another -> DSv2 serving read) and the scoped-
    // zorder lifecycle (fragmented land -> in-place hot-partition
    // re-cluster -> multi-conjunct cold compact -> serving read),
    // both billed end-to-end once per session like the other
    // lifecycle entries
    "q97_backfill", "q98_scoped_zorder",
    // round-16 additions: the conditional multi-clause MERGE lifecycle
    // (per-clause predicates folded into one CoW CASE rewrite + the
    // full-row serving read), the CDF-across-replace lifecycle (the
    // q97 backfill shape writing delete+insert images, feed-served),
    // the DML schema-evolution lifecycle (additive merge; evolved
    // full-row read), and the HTML boilerplate strip (the cleaning
    // family's new first stage: pure codegen'd regex arithmetic over
    // the corpus — raw string throughput, worth tracking like d17)
    "q99_conditional_merge", "q100_replace_cdf", "q101_merge_evolve",
    "d43_html_strip",
    // late round-16 addition: MERGE INTO a hive-partitioned table
    // (chain-pruned probes, chain-preserving restage, null-dir insert)
    "q102_partitioned_merge",
    // round-17 additions: the renamed-key + non-equi MERGE lifecycle
    // (the SQL router's new ON algebra through the CoW verb), the
    // composed web-crawl cleaning pipeline (strip → normalize →
    // dedup → gate: the corpus-linear one-shuffle shape), and the
    // foreachBatch streaming upsert (per-epoch tagged merge commits)
    "q103_renamed_key_merge", "p10_web_corpus", "s21_stream_merge")

  /** Round-17 compact-line budget: the driver parses a ~2,000-char
    * TAIL WINDOW of stdout and this bench prints its compact summary
    * as the final line, under a 1,500-byte hard backstop. Policy
    * (r16 verdict item 7): keep ≥ 25% headroom (≤ 1,125 bytes) by
    * rotating MATURE entries out of the compact per-query map —
    * oldest-stable first, in this order — until the line fits. A
    * rotated entry still runs, still sums into `value`, and still
    * publishes its timing in BENCH.json (and the committed
    * docs/BENCH_r*_quiet.json); only the stdout map omits it. The
    * old all-or-nothing backstop stays as the final guard.
    */
  private val compactRotation = Seq(
    // migration lifecycles, plan-stable since r12-r14
    "q91_convert_read", "q93_string_partition", "q95_multi_partition",
    "q96_sql_partitioned",
    // text/token joins stable since r5-r8
    "d16_bloom_decontaminate", "d25_lm_score", "d27_bigram_lm",
    "d34_bpe_encode",
    // multimodal scans stable since r6-r9
    "m5_blob_dedup", "m7_cdc_chunks",
    // superseded-by-sibling visibility: g15b/e11/q87+q99 stay
    "g15_link_predict", "e9_knn_graph", "q78_merge_into",
    // streaming ingest pair: the native sink s18 stays visible
    "s15_stream_table_ingest", "s16_stream_table_feed",
    // backfill lifecycle: q100's CDF variant stays visible
    "q97_backfill")

  /** 1-minute load average, -1.0 if unreadable (non-Linux). */
  private def loadavg(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString
      .split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt
    // optional subset override (comma-separated query names, any key in
    // SparkEntry.queries) — the scale-linearity runs (docs/SCALE_r*.md)
    // probe superlinear-risk operators that aren't all in the headline
    val bench = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(headline)
    val spark = session()
    // quiet-capture gate (round-7 verdict: the committed artifact was
    // captured at loadavg 4.3 and read ~2× slow on the loop family).
    // Wait — bounded — for the 1-minute load to drop below the
    // threshold; if it never does, the artifact self-tags
    // "contended": true so a noisy capture can't masquerade as the
    // regression baseline.
    val quietThresh = sys.env.getOrElse("SPARK_GRAFT_QUIET_LOAD", "2.0").toDouble
    val quietWaitS = sys.env.getOrElse("SPARK_GRAFT_QUIET_WAIT_S", "300").toInt
    val waitT0 = System.nanoTime()
    while (loadavg() > quietThresh &&
           (System.nanoTime() - waitT0) / 1e9 < quietWaitS) {
      System.err.println(
        f"[bench] loadavg ${loadavg()}%.2f > $quietThresh%.1f — waiting for quiet")
      Thread.sleep(15000)
    }
    val loadStart = loadavg()
    val contended = loadStart > quietThresh
    val capturedAt = java.time.Instant.now().toString
    // per-query divergence guard (round-8 verdict: a start-only gate
    // can't catch MID-RUN contention — the committed artifact read
    // e7 at 9.23 s vs 2.47 s quiet with identical plans). Each query
    // diffs against the newest committed quiet capture
    // (docs/BENCH_r*_quiet.json — the canonical regression baseline);
    // >2× off earns ONE immediate re-run, and if still off the query
    // self-tags in `suspect` so a contended sample can't silently
    // pose as a regression (or hide one) at query granularity.
    val baselinePath = sys.env.get("SPARK_GRAFT_BENCH_BASELINE").orElse {
      Option(new java.io.File("docs").listFiles()).flatMap(
        _.filter(_.getName.matches("BENCH_r\\d+_quiet\\.json"))
          .sortBy(f => "\\d+".r.findFirstIn(f.getName).get.toInt)
          .lastOption.map(_.getPath))
    }
    val baseline: Map[String, Double] = baselinePath.map { p =>
      val txt = scala.io.Source.fromFile(p).mkString
      val start = txt.indexOf("\"queries\":")
      // baselines are per-SF: comparing a sf0.01 dev run against the
      // committed sf0.1 capture would be meaningless either way
      if (start < 0 || !txt.contains("\"sf\":\"" + sfDir + "\""))
        Map.empty[String, Double]
      else {
        val sub = txt.substring(start + 10)
        val obj = sub.substring(0, sub.indexOf("}") + 1)
        "\"([A-Za-z0-9_]+)\":(-?[0-9.eE+-]+)".r.findAllMatchIn(obj)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      }
    }.getOrElse(Map.empty)
    val results = bench.map { name =>
      name -> measure(spark, name, iters, baseline.get(name).filter(_ > 0))(
        SparkEntry.queries(name)(spark, sfDir))
    }
    val suspects = results.collect { case (k, t) if t.suspect => k }
    val failed = results.collect { case (k, t) if t.samples.isEmpty => k }
    val loadEnd = loadavg()
    // -1 marks all-iterations-failed: unmistakably wrong in the
    // artifact instead of silently fast; failed queries are listed in
    // `failed` and left out of `total`
    def perQuery(f: Seq[Double] => Double) = results.map { case (k, t) =>
      k -> (if (t.samples.isEmpty) -1.0 else f(t.samples))
    }
    val mins = perQuery(_.head)
    def obj(kv: Seq[(String, Double)], fmt: Double => String = _.toString) =
      kv.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    val qs = obj(mins)
    val qsMed = obj(perQuery(ss => ss(ss.length / 2)))
    val total = results.flatMap(_._2.samples.headOption).sum
    // plan fingerprints: {shuffles, bhj, wscg} per query, so a timing
    // regression is self-diagnosing (same fingerprint → noise or data;
    // changed fingerprint → the plan moved). Captured in an AQE-off
    // sibling session, PlanAudit's convention: under AQE the noop
    // write runs its own QueryExecution, so the timed frame's plan
    // never finalizes and WSCG stages would read as zero.
    val fpSession = spark.newSession()
    fpSession.conf.set("spark.sql.adaptive.enabled", "false")
    // streaming queries are skipped (building one executes it); so is
    // g13b (building it runs the whole peel loop, and its executed
    // plan is just the final aggregate over a checkpoint RDD — no
    // fingerprint signal for the loop itself)
    val plans = bench.filterNot(_.startsWith("s"))
      .filterNot(_ == "g13b_kcore_fixpoint").flatMap { name =>
      try {
        val plan = SparkEntry.queries(name)(fpSession, sfDir)
          .queryExecution.executedPlan.toString
        val f = graft.tools.PlanAudit.fingerprint(plan)
        Some(s""""$name":{"shuffles":${f.shuffles},"bhj":${f.bhj},"wscg":${f.wscg}}""")
      } catch { case _: Throwable => None }
    }.mkString("{", ",", "}")
    def arr(names: Seq[String]) = names.map("\"" + _ + "\"").mkString("[", ",", "]")
    val suspectJson = arr(suspects)
    val failedJson = arr(failed)
    val baseJson = baselinePath.map("\"" + _ + "\"").getOrElse("null")
    // one-time layout/build costs the pre-warm paid (stored-artifact
    // amortization: the timed samples are serve-only, so the artifact
    // must carry the build side of the story too — r14 verdict item 7)
    val buildJson = graft.tools.BuildCosts.snapshot().toSeq.sorted
      .map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"queries_median":$qsMed,"plans":$plans,"build_costs":$buildJson,"sf":"$sfDir","iterations":$iters,"loadavg":{"start":$loadStart,"end":$loadEnd},"contended":$contended,"suspect":$suspectJson,"failed":$failedJson,"baseline":$baseJson,"captured_at":"$capturedAt"}"""
    // The driver's parser reads a bounded TAIL WINDOW (~2,000 chars) of
    // stdout, and the full artifact line above is ~4.5 KB — so printing
    // it last leaves the parser staring at a mid-JSON fragment (the
    // r10-r13 "parsed": null rows). Persist the FULL artifact to
    // BENCH.json, and print a COMPACT summary (per-query mins rounded
    // to ms, no medians/plans/baseline — measured well under the
    // window) after spark.stop() so the final stdout line both fits the
    // window and parses.
    val out = new java.io.PrintWriter("BENCH.json")
    try out.println(json) finally out.close()
    // Locale.ROOT: a comma decimal separator would corrupt the JSON
    def ms(v: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def compactLine(names: Set[String]): String = {
      val qsCompact = obj(mins.filter(r => names(r._1)), ms)
      s"""{"metric":"total","value":${ms(total)},"unit":"sec","queries":$qsCompact,"sf":"$sfDir","iterations":$iters,"contended":$contended,"suspect":$suspectJson,"failed":$failedJson,"n_queries":${results.length},"artifact":"BENCH.json"}"""
    }
    // budgeted rotation (see compactRotation): rotate mature entries
    // out of the stdout map — they stay in BENCH.json — until the
    // line is under 1,125 bytes (25% headroom below the 1,500-byte
    // parser backstop)
    val budget = 1125
    var inCompact = results.map(_._1).toSet
    val rotation = compactRotation.iterator
    var compactBudgeted = compactLine(inCompact)
    while (compactBudgeted.length > budget && rotation.hasNext) {
      inCompact -= rotation.next()
      compactBudgeted = compactLine(inCompact)
    }
    // hard backstop: if the set STILL overflows the window, drop the
    // per-query map rather than overflow
    val compact = if (compactBudgeted.length <= 1500) compactBudgeted
      else s"""{"metric":"total","value":${ms(total)},"unit":"sec","sf":"$sfDir","iterations":$iters,"contended":$contended,"suspect":$suspectJson,"failed":$failedJson,"n_queries":${results.length},"artifact":"BENCH.json"}"""
    spark.stop()
    println(compact)
  }

  /** The bench session: `local[SPARK_GRAFT_CPUS]` (default 32) with
    * the graft extensions, 32 shuffle partitions and AQE on.
    */
  private[graft] def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** One query's timed samples in seconds, sorted (empty when every
    * sample failed), and whether they stayed > 2x its quiet baseline.
    */
  private[graft] case class Timing(samples: Seq[Double], suspect: Boolean)

  /** Times one query: an untimed warm-up, then `iters` samples of
    * `build` plus a noop write, against its quiet baseline `base`. A
    * failure in either (streaming entries and g13b execute at build)
    * drops that sample instead of ending the run.
    */
  private[graft] def measure(spark: SparkSession, name: String, iters: Int,
                             base: Option[Double])
                            (build: => DataFrame): Timing = {
    // noop sink, not count(): under a count Catalyst prunes every
    // un-consumed expression (q16's revenue sums aren't needed to
    // count groups), so count() under-measures real work. The noop
    // sink consumes every column of every row and writes nothing.
    def run(): Boolean =
      try {
        build.write.format("noop").mode("overwrite").save()
        true
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: $e"); false
      }
    // PRE-WARM, untimed (round-14 verdict item 4): lifecycle queries
    // (q7x/q8x/q9x tables, the stored ANN/edge artifacts) build
    // their table or index on FIRST touch and serve from it
    // thereafter — the amortization contract the b-twins/e11 already
    // document. Paying that one-time build inside a timed sample
    // makes min-of-N mix build and serve (the driver's r14 capture
    // self-tagged q95 exactly this way), so every query gets one
    // untimed full execution first; the timed samples below then
    // measure serve-only work. This also absorbs JVM/codegen
    // startup, which the old single q1 warm-up only did for q1.
    spark.catalog.clearCache()
    val w0 = System.nanoTime()
    run()
    val warmS = (System.nanoTime() - w0) / 1e9
    // SECOND untimed warm when the first one ran long (round-16
    // verdict item 4): a slow first warm means a lifecycle build
    // just happened — its dirty-page writeback and freshly-written
    // (uncached) table files would otherwise contend with the first
    // TIMED sample. The driver's r14/r15 captures self-tagged
    // exactly the lifecycle-cached queries (q95, then g15b/q98) at
    // 2.2-2.5× quiet with identical plans: post-build FS state, not
    // plans. One more untimed pass reads the table back hot.
    base.foreach { b =>
      if (warmS > 2 * b) {
        System.err.println(
          f"[bench] $name warm $warmS%.2f s > 2x quiet $b%.2f s — warming again untimed")
        spark.catalog.clearCache()
        run()
      }
    }
    def sample(): Option[Double] = {
      // drop any per-query persisted data (d6/d7 cache their
      // signatures) so every iteration times the FULL computation —
      // min-of-N estimates the noise floor, not a warm-cache replay
      spark.catalog.clearCache()
      // the timer wraps BUILD as well as execution: operators with
      // an iterative driver loop (g13b) or metadata reads (e9) do
      // real work before the final action, and billing only the
      // last write would under-measure them
      val t0 = System.nanoTime()
      val ok = run()
      // a failed iteration returns near-instantly — under min() it
      // would WIN and report a phantom fast time; drop the sample
      if (ok) Some((System.nanoTime() - t0) / 1e9) else None
    }
    var samples = (1 to iters).flatMap(_ => sample())
    // divergence guard: >2× the quiet baseline → re-warm untimed
    // (the divergence itself is evidence the warm state was lost or
    // never established) and re-run, twice; still off → self-tag
    var suspect = false
    base.foreach { b =>
      var retries = 0
      while (samples.nonEmpty && samples.min > 2 * b && retries < 2) {
        System.err.println(
          f"[bench] $name ${samples.min}%.2f s > 2x quiet $b%.2f s — re-warming + re-running")
        spark.catalog.clearCache()
        run() // untimed warm before the retry
        samples = samples ++ sample()
        retries += 1
      }
      suspect = samples.nonEmpty && samples.min > 2 * b
    }
    Timing(samples.sorted, suspect)
  }
}
