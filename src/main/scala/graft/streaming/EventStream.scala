package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.util.concurrent.atomic.AtomicInteger

/** Structured Streaming operators (SURVEY.md §2.6). Each `queries`
  * entry runs a genuine streaming execution — file source over the
  * events parquet, watermarked stateful aggregation, memory sink —
  * driven to completion with processAllAvailable, then returns the
  * sink as a DataFrame. Results equal their batch twins, so the
  * driver's DuckDB oracles apply unchanged (q22/q21 semantics).
  *
  * On a cluster the same plans run unbounded: the file source becomes
  * kafka/delta, the memory sink a real sink, and the watermark bounds
  * state size; `processAllAvailable` is only the finite-test driver.
  */
object EventStream {

  /** events schema with `ts` as the given physical type — the
    * streaming source needs an explicit schema, and it must match the
    * file's encoding (long nanos under nanosAsLong, or TIMESTAMP_NTZ
    * for micros-encoded data; see Tables.events).
    */
  private[graft] def eventsSchemaWith(
      tsType: org.apache.spark.sql.types.DataType): StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", tsType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** The normalized long-nanos shape (what re-landed graft data uses). */
  private[graft] val eventsSchema: StructType = eventsSchemaWith(LongType)

  private val nameSeq = new AtomicInteger(0)

  private def readEvents(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // batch-plan the same file to learn the ts encoding (a footer
    // read at planning time, no job), then normalize to long nanos —
    // the contract every downstream transform assumes (Tables.events'
    // twin for the streaming path)
    val tsType = s.read.parquet(s"$d/events.parquet").schema("ts").dataType
    val nanos = tsType match {
      case LongType => col("ts")
      case _ => expr("unix_micros(cast(ts as timestamp_ltz)) * 1000L")
    }
    s.readStream.schema(eventsSchemaWith(tsType))
      .option("pathGlobFilter", "events.parquet")
      .parquet(d)
      .withColumn("ts", nanos)
      .withColumn("ts_us", expr("timestamp_micros(ts div 1000)"))
      .withColumn("ts_s", expr("ts div 1000000000"))
  }

  /** Scale-adaptive STATE-partition count for a FRESH stream (r19,
    * guide §2.2 "fewer, larger reduce partitions" applied to the
    * state store): a stateful stream commits one state-store delta
    * per shuffle partition per batch, so a stream whose whole input
    * is a handful of scan splits pays (shuffle.partitions − splits)
    * empty state commits every batch for nothing. Derive the
    * partition count from the INPUT size exactly like Tables.widen
    * derives scan parallelism: min(session shuffle partitions,
    * ceil(bytes / maxPartitionBytes)) — identity at real scale
    * (splits ≥ partitions ⇒ unchanged), never a hardcoded local
    * constant. Only FRESH streams may choose their layout (Spark pins
    * the count in the checkpoint's offset log at first start; a
    * restart re-reads the pinned value, so restarted specs — s20 —
    * are unaffected by the session value at restart time).
    */
  private def scaledStateParts(s: SparkSession, d: String): Int = {
    val f = new java.io.File(s"$d/events.parquet")
    val parts = s.sessionState.conf.numShufflePartitions
    if (!f.isFile) parts // unknown layout: leave the conf alone
    else math.min(parts.toLong, graft.Tables.splits(s, f.length)).toInt
  }

  /** Run a finite streaming query into a memory sink and return its
    * MATERIALIZED result. Materializing lets the temp view drop
    * immediately — returning `s.table(name)` lazily would pin every
    * invocation's full result in driver memory forever (nothing could
    * drop the view while the caller might still read it; Bench's 3
    * iterations alone would retain 3 copies). Streaming results here
    * are bounded aggregates (thousands of rows), so a driver-side
    * copy is the honest trade.
    *
    * `stateParts` (r19): state-partition count the FRESH stream is
    * started with ([[scaledStateParts]]) — set on the session just
    * for the start window (the stream's cloned session captures it)
    * and restored before the batch-side post-processing runs.
    * Partitioning never changes aggregation results — only how many
    * state stores hold them.
    */
  private def runToMemory(s: SparkSession, agg: DataFrame,
                          mode: String,
                          stateParts: Option[Int] = None): DataFrame = {
    val name = s"graft_sink_${nameSeq.incrementAndGet()}"
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    stateParts.foreach(n => s.conf.set(key, n.toString))
    try {
      val q = agg.writeStream.outputMode(mode)
        .format("memory").queryName(name).start()
      try q.processAllAvailable() finally q.stop()
    } finally s.conf.set(key, prev)
    val sink = s.table(name)
    val rows = java.util.Arrays.asList(sink.collect(): _*)
    val out = s.createDataFrame(rows, sink.schema)
    s.catalog.dropTempView(name)
    out
  }

  /** The watermarked tumbling-hour aggregation s1 and s1b share —
    * ONE pipeline so the complete/append twins (same q22 oracle
    * family) cannot drift.
    */
  private def windowAggTo(s: SparkSession, d: String, mode: String): DataFrame = {
    val agg = readEvents(s, d)
      .withWatermark("ts_us", "1 hour")
      .groupBy(window(col("ts_us"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
           sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
    runToMemory(s, agg, mode, Some(scaledStateParts(s, d)))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:00").as("hour"),
              col("event_type"), col("n"), col("total_value"))
      .orderBy("hour", "event_type")
  }

  // s1: watermarked tumbling-hour aggregation — the streaming twin of
  // batch q22 (same oracle).
  def s1StreamWindow(s: SparkSession, d: String): DataFrame =
    windowAggTo(s, d, "complete")

  // s1b: the same windowed aggregation in APPEND mode — the shape that
  // actually runs unbounded. Complete mode (s1) re-emits every window
  // each batch and never evicts state; append emits a window ONCE,
  // when the watermark passes its end, and the state store drops it —
  // bounded state under an unbounded stream. On the finite test file
  // the sink therefore holds exactly the CLOSED windows: those whose
  // end <= final watermark = floor(max event-time ms) - 1h (Spark
  // tracks event-time stats in milliseconds). The oracle is q22
  // restricted to that subset; the spec proves the emitted set equals
  // the batch rows under the same predicate.
  def s1bStreamWindowAppend(s: SparkSession, d: String): DataFrame =
    windowAggTo(s, d, "append")

  // s2: streaming dedup by key within the watermark (append mode — a
  // second stateful op can't chain after it in complete mode), then a
  // batch per-type count over the deduped sink.
  //
  // Contract note: the oracle is a GLOBAL count(distinct event_id) and
  // matches only when duplicates arrive within the watermark of their
  // first occurrence — a duplicate landing >1h of event time later
  // re-counts (its dedup state was evicted; that bounded state is the
  // whole point). The generator's ids are unique, so the oracle holds
  // trivially here; StreamSourcesSpec feeds a DUPLICATED corpus
  // through this same pipeline to exercise the dedup path for real.
  def s2StreamDedup(s: SparkSession, d: String): DataFrame = {
    val deduped = readEvents(s, d)
      .withWatermark("ts_us", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
    runToMemory(s, deduped, "append", Some(scaledStateParts(s, d)))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_unique"))
      .orderBy("event_type")
  }

  // s3: session windows per user — the streaming twin of batch q21's
  // sessionization. session_window merges an event iff its time <=
  // lastEvent + gap (inclusive end, observed empirically), so gap =
  // 30 min over whole-second timestamps is exactly q21's
  // "`diff > 1800` splits".
  def s3StreamSession(s: SparkSession, d: String): DataFrame = {
    val sess = readEvents(s, d)
      .withColumn("ts_sec", expr("timestamp_seconds(ts_s)"))
      .withWatermark("ts_sec", "1 hour")
      .groupBy(session_window(col("ts_sec"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
    runToMemory(s, sess, "complete", Some(scaledStateParts(s, d)))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"), sum("n_events").as("n_events"))
      .orderBy("user_id")
  }

  // s4: arbitrary stateful processing — per-user running state
  // (event count + max value) via flatMapGroupsWithState with an
  // EVENT-TIME TIMEOUT: updates are emitted on data, and a user's
  // state is dropped one event-hour after their last activity (the
  // timeout path emits nothing — it is pure state expiry). Unbounded
  // keyspace therefore means bounded state: the store holds only
  // users active within the trailing hour of event time. A user who
  // reappears after expiry restarts from zero — the inherent contract
  // of watermark-bounded state (an unexpirable global count is
  // exactly the s4-round-1 anti-pattern this replaces). One batch in
  // the finite test, so the emitted updates equal the batch aggregate
  // (the oracle).
  def s4StreamCustomState(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val ev = readEvents(s, d)
      .withWatermark("ts_us", "1 hour")
      .select(col("user_id"), col("value"), col("ts_us"))
      .as[(Long, Double, java.sql.Timestamp)]
    val updated = ev.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[(Long, Double, java.sql.Timestamp)],
         state: GroupState[(Long, Double)]) =>
          if (state.hasTimedOut) {
            state.remove() // expiry only — emissions happened on data
            Iterator.empty
          } else {
            var (n, m) = state.getOption.getOrElse((0L, Double.MinValue))
            var lastMs = 0L
            rows.foreach { r =>
              n += 1; if (r._2 > m) m = r._2
              if (r._3.getTime > lastMs) lastMs = r._3.getTime
            }
            state.update((n, m))
            // expire 1 event-hour after last activity; clamp above the
            // current watermark (setTimeoutTimestamp rejects the past)
            state.setTimeoutTimestamp(
              math.max(lastMs + 3600000L, state.getCurrentWatermarkMs() + 1))
            Iterator.single((uid, n, m))
          }
      }
      .toDF("user_id", "n_events", "max_value")
    runToMemory(s, updated, "update", Some(scaledStateParts(s, d)))
      .orderBy("user_id")
  }

  // s5: watermarked stream-stream interval join — each purchase
  // matched to the same user's clicks within the preceding hour.
  // Watermarks bound both join-state buffers; the time-interval
  // condition lets Spark expire state, which is what makes the join
  // runnable unbounded. ONE plan builder feeds both sinks: the
  // memory-sink oracle harness (s5 below) and the checkpointed
  // parquet path (streamJoinToParquet) — s5's output is
  // corpus-proportional, the one streaming result here that is NOT a
  // bounded aggregate, so its production landing is the file sink,
  // never the driver.
  private def s5Joined(s: SparkSession, d: String): DataFrame = {
    val clicks = readEvents(s, d)
      .filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
              col("ts_us").as("click_ts"))
      .withWatermark("click_ts", "2 hours")
    val purchases = readEvents(s, d)
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
              col("user_id").as("p_user"), col("ts_us").as("purchase_ts"))
      .withWatermark("purchase_ts", "2 hours")
    purchases.join(clicks,
      col("p_user") === col("user_id") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR") &&
        col("click_ts") <= col("purchase_ts"))
      .select(col("purchase_id"), col("click_id"), col("user_id"))
  }

  def s5StreamStreamJoin(s: SparkSession, d: String): DataFrame =
    runToMemory(s, s5Joined(s, d), "append", Some(scaledStateParts(s, d)))
      .orderBy("purchase_id", "click_id")

  /** s5's production shape: the stream-stream join appended to a
    * checkpointed parquet sink — restart resumes exactly-once from
    * the last committed batch and no join row ever crosses the
    * driver. Returns the sink's DataFrame for verification.
    */
  def streamJoinToParquet(s: SparkSession, d: String,
                          outDir: String, checkpointDir: String): DataFrame =
    runToParquet(s, s5Joined(s, d), outDir, checkpointDir)

  /** Checkpointed streaming file sink — the production shape the
    * memory-sink test harness stands in for: watermarked dedup stream
    * appended to parquet with a checkpoint directory, so a restart
    * resumes exactly-once from the last committed batch. Returns the
    * sink path's DataFrame for verification.
    */
  def streamDedupToParquet(s: SparkSession, d: String,
                           outDir: String, checkpointDir: String): DataFrame = {
    val deduped = readEvents(s, d)
      .withWatermark("ts_us", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .select("event_id", "user_id", "event_type", "value", "ts_us")
    runToParquet(s, deduped, outDir, checkpointDir)
  }

  /** Drive a finite stream into a checkpointed append-mode parquet
    * sink and return the landed files as a DataFrame.
    */
  private def runToParquet(s: SparkSession, df: DataFrame,
                           outDir: String, checkpointDir: String): DataFrame = {
    val q = df.writeStream.outputMode("append")
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .start()
    try q.processAllAvailable() finally q.stop()
    s.read.parquet(outDir)
  }

  // s7: streaming upsert — the reference's registry MERGE (q29/q44's
  // engine) as a continuous pipeline: each micro-batch reduces to
  // per-user partial state (count + argmax-by-event-time latest) and
  // merges into a BUCKET-PARTITIONED parquet registry via
  // foreachBatch. The registry is hash-partitioned on
  // pmod(user_id, nBuckets) and a batch reads and rewrites ONLY the
  // buckets its users hash into — the untouched registry is never
  // scanned or copied, which is what makes a per-batch merge viable
  // when the registry is 100 TB and a micro-batch touches a sliver of
  // it (a full-registry read-union-rewrite per batch would be
  // O(registry) every few seconds). The per-bucket "latest committed
  // version" map is a transactional table's manifest in miniature —
  // and DURABLE (TSV + atomic rename after every batch, reloaded on
  // start), so a restarted driver merges against the pre-crash
  // registry, not an empty view; version paths are keyed by batchId
  // and written with overwrite, so checkpointed batch replay after a
  // crash is idempotent. The merge itself is ASSOCIATIVE state (counts add,
  // latest is max_by on (ts, event_id)) so any micro-batch slicing
  // yields the same registry — the spec proves it by re-running with
  // maxFilesPerTrigger=1 and also asserts the bucket pruning (a
  // single-user batch rewrites exactly one bucket).
  def s7StreamUpsert(s: SparkSession, d: String): DataFrame =
    upsertToRegistry(s, readEvents(s, d),
      java.nio.file.Files.createTempDirectory("graft_s7").toString)

  /** The registry is a [[graft.sources.GraftTable]] since round 9 —
    * the hand-rolled per-bucket TSV manifest this sink carried for
    * seven rounds was the commit log in miniature, and the unified
    * layer supplies every property it approximated, properly: each
    * micro-batch is ONE atomic `replacePartitions` commit of just
    * the buckets its users hash into (`replace@batch-N` tag ⇒ a
    * checkpoint-replayed batch is a no-op instead of relying on
    * same-path overwrite idempotence), the prior state of only the
    * touched buckets is read via log-pruned `readPartitions` (the
    * untouched registry is never listed, planned, or copied), a
    * restarted driver recovers the pre-crash registry from the
    * durable log, and a concurrent reader holding `read()` keeps a
    * consistent snapshot while batches land — the property the TSV
    * swap could not give. The specs that pinned the old mechanism
    * (slicing invariance, bucket pruning, cross-process durability)
    * run unchanged against this one, asserting pruning through the
    * commit log instead of directory names.
    */
  private[graft] def upsertToRegistry(s: SparkSession, stream: DataFrame,
                                      root: String,
                                      nBuckets: Int = 8,
                                      ckptDir: Option[String] = None): DataFrame = {
    val bucket = pmod(col("user_id"), lit(nBuckets.toLong))
    val t = graft.sources.GraftTable.forPath(s, root)
    val ckpt = ckptDir.getOrElse(s"$root/ckpt")
    // replay tags are namespaced PER STREAM: batchIds restart at 0 for
    // every new checkpoint, so a table fed by successive streams (a
    // restarted pipeline with a fresh checkpoint) must not confuse the
    // new stream's batch 0 with the old one's
    val streamNs = java.util.UUID
      .nameUUIDFromBytes(ckpt.getBytes("UTF-8")).toString.take(8)
    val q = stream.writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val fresh = batch.groupBy("user_id").agg(
          count(lit(1)).as("n_events"),
          expr("max_by(struct(ts, event_id, event_type, value), " +
            "struct(ts, event_id))").as("last"))
          .persist()
        // <= nBuckets rows ever reach the driver here
        val touched = fresh.select(bucket.as("b")).distinct()
          .collect().map(_.getLong(0)).sorted
        val merged = t.readPartitions("bucket", touched.toIndexedSeq) match {
          case None => fresh
          case Some(prior) => prior.unionByName(fresh)
            .groupBy("user_id").agg(
              sum("n_events").as("n_events"),
              expr("max_by(last, struct(last.ts, last.event_id))").as("last"))
        }
        t.replacePartitions(merged.withColumn("bucket", bucket),
          "bucket", touched.toIndexedSeq, tag = s"$streamNs-batch-$batchId")
        fresh.unpersist()
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    if (t.latestVersion == 0) {
      import s.implicits._
      Seq.empty[(Long, Long, String, Double)]
        .toDF("user_id", "n_events", "last_type", "last_value")
    } else
      t.read()
        .select(col("user_id"), col("n_events"),
          col("last.event_type").as("last_type"),
          col("last.value").as("last_value"))
        .orderBy("user_id")
  }

  // s6: stream-static join — the enrichment pattern: each streamed
  // event joins a STATIC dimension (per-user first-seen cohort day,
  // batch-computed) broadcast into every micro-batch, then aggregates
  // per (cohort_day, event_type). On a cluster the static side is any
  // slowly-changing dim table; broadcast means zero stream-side
  // shuffle for the join itself.
  def s6StreamStaticJoin(s: SparkSession, d: String): DataFrame = {
    val cohort = graft.Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(min(expr("ts div 86400000000000")).as("cohort_day"))
    val agg = readEvents(s, d)
      .join(broadcast(cohort), Seq("user_id"))
      .groupBy(col("cohort_day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    runToMemory(s, agg, "complete", Some(scaledStateParts(s, d)))
      .orderBy("cohort_day", "event_type")
  }

  // s8: per-window top-k event types — the streaming leaderboard
  // shape. The STREAM side is s1b's bounded-state append pipeline
  // (watermarked hourly counts, window emitted once when it closes);
  // the RANKING runs as a batch window over the CLOSED-window result,
  // partitioned by hour — ranking inside the stream would need a
  // second stateful op over an unbounded keyspace, while ranking the
  // closed aggregate touches only calendar-cardinality rows (on a
  // cluster this is the foreachBatch/downstream-job step over the
  // sink, exactly how s7 post-processes its micro-batches). Same
  // closed-window contract as s1b: window.end <= final watermark.
  def s8StreamTopTypes(s: SparkSession, d: String, k: Int = 3): DataFrame = {
    val agg = readEvents(s, d)
      .withWatermark("ts_us", "1 hour")
      .groupBy(window(col("ts_us"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val closed = runToMemory(s, agg, "append", Some(scaledStateParts(s, d)))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:00").as("hour"),
              col("event_type"), col("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("hour").orderBy(col("n").desc, col("event_type"))
    closed.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .orderBy("hour", "rnk")
  }

  // s9: streaming quality gate with OBSERVED metrics — q57's DQ
  // counters riding the stream itself via Dataset.observe: the
  // violation counts are accumulator-style aggregates computed on the
  // batch's input rows AS THEY FLOW (no second pass, no extra
  // stateful operator, no state store entry), surfaced per
  // micro-batch through StreamingQueryProgress.observedMetrics — the
  // monitoring hook a 100 TB ingest wires to alerting, while the
  // gated rows continue into the real aggregation. The observation
  // is free at any scale: it adds one map-side partial aggregate to
  // a pass the pipeline already makes. Conservation invariant
  // (spec-proven): rows_observed − rows_gated_out == rows aggregated
  // downstream — the gate can't silently drop or double-count.
  def s9StreamDqGate(s: SparkSession, d: String): DataFrame =
    s9StreamDqGateWithMetrics(s, d)._1

  /** The metrics-bearing form: returns (gated per-type aggregate,
    * observed counters summed across micro-batches).
    */
  def s9StreamDqGateWithMetrics(s: SparkSession, d: String)
      : (DataFrame, Map[String, Long]) = {
    val gated = readEvents(s, d)
      .observe("dq",
        count(lit(1)).as("n_rows"),
        sum(when(col("value") < 1.0, 1L).otherwise(0L)).as("n_low_value"))
      .filter(col("value") >= 1.0)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           sum(col("value").cast("decimal(18,2)")).cast("double")
             .as("total_value"))
    val name = s"graft_sink_${nameSeq.incrementAndGet()}"
    // Per-batch counters arrive via a StreamingQueryListener registered
    // BEFORE start() — unlike q.recentProgress (a ring buffer of the
    // last spark.sql.streaming.numRecentProgressUpdates entries, default
    // 100), the listener sees EVERY micro-batch, so the conservation
    // invariant holds for runs of any length. The listener bus is FIFO:
    // the QueryTerminated event is posted after every progress event of
    // the run, so awaiting it (via the latch) guarantees all progress
    // events for this runId were already delivered.
    val metrics = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    val done = new java.util.concurrent.CountDownLatch(1)
    @volatile var runId: java.util.UUID = null
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      // matched by queryName (known before start()) — matching on runId
      // would race the main thread's assignment for a fast first batch
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        if (e.progress.name == name) {
          val m = e.progress.observedMetrics.get("dq")
          if (m != null) {
            metrics.merge("n_rows", m.getAs[Long]("n_rows"), _ + _)
            metrics.merge("n_low_value", m.getAs[Long]("n_low_value"), _ + _)
          }
        }
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        if (e.runId == runId) done.countDown()
    }
    s.streams.addListener(listener)
    try {
      val q = gated.writeStream.outputMode("complete")
        .format("memory").queryName(name).start()
      runId = q.runId
      try q.processAllAvailable() finally q.stop()
      done.await(60, java.util.concurrent.TimeUnit.SECONDS)
    } finally s.streams.removeListener(listener)
    val sink = s.table(name)
    val rows = java.util.Arrays.asList(sink.collect(): _*)
    val out = s.createDataFrame(rows, sink.schema)
    s.catalog.dropTempView(name)
    (out.orderBy("event_type"),
      scala.jdk.CollectionConverters.MapHasAsScala(metrics).asScala.toMap)
  }

  // s10: streaming ingest into Z-ORDERED segments — the write path a
  // 100 TB event lake actually wants: each micro-batch lands as a
  // z-ordered parquet segment via foreachBatch (ZOrderLayout — one
  // range exchange per batch, batch-sized, never corpus-sized), so
  // (user-bucket, day) footer stats are selective from the moment
  // data arrives instead of after a nightly OPTIMIZE rewrite.
  // Segments are per-batch directories — append-only, no concurrent
  // writers, restart-safe (a replayed batch overwrites its own
  // segment id — idempotent, the foreachBatch exactly-once recipe).
  // The queries entry reads the landed segments back and aggregates,
  // so the oracle checks END-TO-END content (stream → layout → read);
  // the layout's pruning claim itself is StreamSourcesSpec's job.
  def s10StreamZorderIngest(s: SparkSession, d: String): DataFrame =
    s10StreamZorderIngestTo(s, d,
      java.nio.file.Files.createTempDirectory("graft_s10").toString)

  def s10StreamZorderIngestTo(s: SparkSession, d: String,
                              segDir: String): DataFrame = {
    // each z-ordered segment lands in the transactional table via
    // ADOPTION (round 9): the layout write runs outside the table,
    // then one directory rename + one tagged commit publish it —
    // readers never observe a partial segment and a checkpoint
    // replay no-ops, the two properties the bare seg-* glob lacked
    val t = graft.sources.GraftTable.forPath(s, s"$segDir/table")
    val ckpt = s"$segDir/ckpt"
    val streamNs = java.util.UUID
      .nameUUIDFromBytes(ckpt.getBytes("UTF-8")).toString.take(8)
    val q = readEvents(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), expr("ts div 86400000000000").as("day"),
        pmod(col("user_id"), lit(64L)).as("ubucket"))
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], id: Long) =>
        val stage = s"$segDir/.stage-$id"
        graft.sources.ZOrderLayout.writeZOrdered(
          batch, col("ubucket"), col("day"), stage, 8)
        t.adoptDir(stage, tag = s"$streamNs-batch-$id")
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    t.read()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("total_value"))
      .orderBy("event_type")
  }

  // s12: streaming point-in-time enrichment — q69's feature-store
  // join as a stream: each streamed purchase joins (left) the SCD2
  // status interval valid AT its event time. The dim is STATIC and
  // broadcast (s6's enrichment pattern — at scale a slowly-changing
  // feature table republished per batch), the interval predicate is
  // a residual on the broadcast join, and intervals partition time
  // so the stream row count is preserved (no fan-out — the invariant
  // that makes left-enrichment safe in append mode). Converges to
  // q69's batch answer and shares its oracle (the s1/q22 contract).
  def s12StreamPitEnrich(s: SparkSession, d: String): DataFrame = {
    val ev = graft.Tables.events(s, d).select(col("event_id"),
      col("user_id"), col("event_type"), expr("ts div 1000").as("ts_us"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts_us", "event_id")
    val dim = ev.filter(col("event_type") =!= "purchase")
      .withColumn("valid_to", lead(col("ts_us"), 1).over(w))
      .select(col("user_id").as("d_user"), col("event_type").as("status"),
        col("ts_us").as("valid_from"), col("valid_to"))
    val joined = readEvents(s, d)
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        expr("ts div 1000").as("purchase_ts_us"))
      .join(broadcast(dim),
        col("user_id") === col("d_user") &&
          col("purchase_ts_us") >= col("valid_from") &&
          (col("valid_to").isNull || col("purchase_ts_us") < col("valid_to")),
        "left")
      .select(col("purchase_id"), col("user_id"), col("purchase_ts_us"),
        col("status"), col("valid_from").as("status_since_us"))
    runToMemory(s, joined, "append", Some(scaledStateParts(s, d)))
      .orderBy("purchase_id")
  }

  // s11: streaming exact dedup against a DURABLE EXTERNAL hash index
  // — the unbounded-key production shape `dropDuplicates` can't be:
  // stream state in the checkpoint grows with every distinct key
  // forever (and dies with the checkpoint), while this index is a
  // bucket-partitioned GraftTable (the unified commit log — one
  // atomic replace commit per micro-batch, checkpoint replays
  // no-op'd by tag) that any batch job can read, rebuild, compact,
  // or time-travel. Each micro-batch:
  // batch-local exact groups (d1's dense_rank-in-h-partition resolve —
  // no text-keyed exchange, PlanInvariants' rule), probe = h-keyed
  // semi/anti split of ONLY the touched buckets' prior rows (the
  // pass-through majority never enters the window), merge counts,
  // rewrite touched buckets as a new version. Arrival order is the
  // keeper rule (first admitted wins); landed ascending-doc_id slices
  // make that d1's min-doc_id — so the STREAMING result converges to
  // the batch answer and shares d1's oracle (the s1/q22 contract).
  private[graft] def streamDedupIndex(s: SparkSession, stream: DataFrame,
                                      root: String, nBuckets: Int = 8,
                                      ckptDir: Option[String] = None): DataFrame = {
    val t = graft.sources.GraftTable.forPath(s, root)
    val bucketOf = pmod(col("h"), lit(nBuckets.toLong))
    val ckpt = ckptDir.getOrElse(s"$root/ckpt")
    val streamNs = java.util.UUID // per-stream tag namespace (s7's rule)
      .nameUUIDFromBytes(ckpt.getBytes("UTF-8")).toString.take(8)
    val q = stream.writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val grpW = org.apache.spark.sql.expressions.Window
          .partitionBy("h").orderBy("text")
        val bl = batch.withColumn("h", xxhash64(col("text")))
          .select(col("h"), col("text"), col("doc_id"))
          .withColumn("grp", dense_rank().over(grpW))
          .groupBy("h", "grp")
          .agg(min(col("doc_id")).as("cand_id"), count(lit(1)).as("n_new"),
            max(col("text")).as("text"))
          .persist()
        val touched = bl.select(bucketOf.as("b")).distinct()
          .collect().map(_.getLong(0)).sorted // <= nBuckets driver rows
        val prior = t.readPartitions("bucket", touched.toIndexedSeq) match {
          case Some(df) => df.select("h", "text", "keep_id", "n_copies")
          case None =>
            import s.implicits._
            Seq.empty[(Long, String, Long, Long)]
              .toDF("h", "text", "keep_id", "n_copies")
        }
        // only h-hit prior rows enter the text-resolve window; the
        // untouched majority of each bucket passes through h-keyed
        val batchH = bl.select("h").distinct()
        val hit = prior.join(batchH, Seq("h"), "left_semi")
        val passThrough = prior.join(batchH, Seq("h"), "left_anti")
        val union = hit.select(col("h"), col("text"), lit(1).as("side"),
            col("keep_id"), col("n_copies"), lit(0L).as("cand_id"),
            lit(0L).as("n_new"))
          .unionByName(bl.select(col("h"), col("text"), lit(0).as("side"),
            lit(-1L).as("keep_id"), lit(0L).as("n_copies"), col("cand_id"),
            col("n_new")))
        val tg = dense_rank().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("h").orderBy("text"))
        val merged = union.withColumn("tg", tg)
          .groupBy("h", "tg")
          .agg(max(col("text")).as("text"),
            max(when(col("side") === 1, col("keep_id"))).as("base_keep"),
            max(when(col("side") === 1, col("n_copies"))).as("base_n"),
            min(when(col("side") === 0, col("cand_id"))).as("cand_id"),
            sum(when(col("side") === 0, col("n_new")).otherwise(0L))
              .as("n_new"))
          .select(col("h"), col("text"),
            coalesce(col("base_keep"), col("cand_id")).as("keep_id"),
            (coalesce(col("base_n"), lit(0L)) + col("n_new")).as("n_copies"))
        t.replacePartitions(
          merged.unionByName(passThrough).withColumn("bucket", bucketOf),
          "bucket", touched.toIndexedSeq, tag = s"$streamNs-batch-$batchId")
        bl.unpersist()
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    if (t.latestVersion == 0) {
      import s.implicits._
      Seq.empty[(Long, Long)].toDF("keep_id", "n_copies")
    } else
      t.read().select(col("keep_id"), col("n_copies")).orderBy("keep_id")
  }

  /** Lands `documents` as three ascending-doc_id parquet slices with
    * increasing mtimes under dir/src — the crawler-drop arrival model
    * s11 and s13 share (maxFilesPerTrigger=1 replays them in order,
    * so "arrived earlier" coincides with "lower doc_id").
    */
  private def landDocSlices(s: SparkSession, d: String,
                            dir: java.nio.file.Path): DataFrame = {
    val src = dir.resolve("src")
    java.nio.file.Files.createDirectory(src)
    val docs = graft.Tables.documents(s, d).select("doc_id", "text")
    val mm = docs.agg(min("doc_id"), max("doc_id")).head
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    val w = (hi - lo) / 3 + 1
    (0 until 3).foreach { i =>
      val stage = dir.resolve(s"stage$i").toString
      docs.filter(col("doc_id") >= lo + i * w &&
          col("doc_id") < lo + (i + 1) * w)
        .coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = src.resolve(s"slice$i.parquet")
      java.nio.file.Files.move(part.toPath, dst)
      dst.toFile.setLastModified(1000000L * (i + 1))
    }
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src.toString)
  }

  /** The declared instance: documents land as three ascending-doc_id
    * slices (mtime-ordered files — the crawler drop s7 also models),
    * processed one file per micro-batch.
    */
  def s11StreamDedupIndex(s: SparkSession, d: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_s11")
    streamDedupIndex(s, landDocSlices(s, d, dir),
      dir.resolve("idx").toString)
  }

  // s13: streaming NEAR-dup admission against a durable MinHash
  // bucket index — s11's fuzzy twin (d32's bucket-index probe run
  // per micro-batch). The index is a bucketed parquet table of
  // (doc_id, band, bkey, sig) rows — the ~stored-signature index
  // d32 documents as what the recurring pass reads of the base —
  // maintained as a GraftTable (s7/s11's unified commit log). Each
  // micro-batch: signatures + 16 band keys for the batch ONLY,
  // probe = read ONLY the buckets the batch's band keys touch
  // (bucket-keyed physical pruning; the untouched index is never
  // read), candidates = equal-(band,bkey) pairs (base rows always
  // count as earlier — already admitted; within-batch pairs orient
  // newer → older by doc_id), verdict per batch doc = d32's rule
  // (admit iff no earlier signature-estimated jaccard >= tau, else
  // best match, ties to lowest earlier id), then the touched buckets
  // are rewritten one version up with the batch's rows appended.
  // Work per batch is O(batch + touched buckets) — the recurring
  // daily pass never re-scans the corpus — and because arrival order
  // is ascending doc_id, the CHAINED stream answer equals batch d32
  // over the same data (s1/q22's convergence contract, proven in
  // StreamSourcesSpec with a synthetically driven cross-batch
  // near-dup).
  private[graft] def streamFuzzyDedup(s: SparkSession, stream: DataFrame,
                                      root: String, tau: Double = 0.5,
                                      nBuckets: Int = 8,
                                      ckptDir: Option[String] = None): DataFrame = {
    val t = graft.sources.GraftTable.forPath(s, root)
    val bucketOf = pmod(col("bkey"), lit(nBuckets.toLong))
    val ckpt = ckptDir.getOrElse(s"$root/ckpt")
    val streamNs = java.util.UUID // per-stream tag namespace (s7's rule)
      .nameUUIDFromBytes(ckpt.getBytes("UTF-8")).toString.take(8)
    val q = stream.writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val bSig = graft.operators.TextOps
          .minhashSigsOf(batch.select("doc_id", "text")).localCheckpoint()
        val bB = graft.operators.TextOps.minhashBuckets(bSig)
          .localCheckpoint()
        val touched = bB.select(bucketOf.as("b")).distinct()
          .collect().map(_.getLong(0)).sorted // <= nBuckets driver rows
        val prior = t.readPartitions("bucket", touched.toIndexedSeq)
        val earlierBatch = bB.join(bSig, "doc_id")
          .select(col("band"), col("bkey"), col("doc_id").as("doc_e"),
            col("sig").as("sig_e"), lit(true).as("e_batch"))
        val earlier = prior match {
          case None => earlierBatch
          case Some(df) => df
            .select(col("band"), col("bkey"), col("doc_id").as("doc_e"),
              col("sig").as("sig_e"), lit(false).as("e_batch"))
            .unionByName(earlierBatch)
        }
        val cand = bB.select(col("band"), col("bkey"), col("doc_id").as("doc_n"))
          .join(earlier, Seq("band", "bkey"))
          .filter(!col("e_batch") || col("doc_e") < col("doc_n"))
          .select("doc_n", "doc_e", "sig_e").distinct()
        val best = cand
          .join(bSig.select(col("doc_id").as("doc_n"), col("sig").as("sig_n")),
            Seq("doc_n"))
          .withColumn("est_jaccard", expr(
            "aggregate(zip_with(sig_n, sig_e, (x, y) -> if(x = y, 1, 0)), " +
              "0, (acc, v) -> acc + v) / 64.0"))
          .filter(col("est_jaccard") >= tau)
          .groupBy("doc_n")
          .agg(expr("max_by(struct(doc_e, est_jaccard), " +
            "struct(est_jaccard, -doc_e))").as("m"))
          .select(col("doc_n").as("doc_id"), col("m.doc_e").as("dup_of"),
            col("m.est_jaccard").as("est_jaccard"))
        batch.select("doc_id").join(best, Seq("doc_id"), "left")
          .select(col("doc_id"), col("dup_of").isNull.as("admit"),
            col("dup_of"), col("est_jaccard"))
          // overwrite, not ErrorIfExists: on a checkpoint replay after a
          // crash the tagged replace commit below no-ops, and the res
          // slice must be an idempotent same-path rewrite too — a
          // "path already exists" throw would permanently fail the
          // stream and undercut the replay-is-a-no-op contract
          .write.mode("overwrite").parquet(s"$root/res/v$batchId")
        // touched buckets carry their prior rows forward + the batch's
        // rows in ONE atomic replace commit; untouched buckets' files
        // stay live untouched
        val add = bB.join(bSig, "doc_id")
          .select(col("doc_id"), col("band"), col("bkey"), col("sig"))
        val merged = prior match {
          case None => add
          case Some(df) =>
            df.select("doc_id", "band", "bkey", "sig").unionByName(add)
        }
        t.replacePartitions(merged.withColumn("bucket", bucketOf),
          "bucket", touched.toIndexedSeq, tag = s"$streamNs-batch-$batchId")
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    val resDir = new java.io.File(s"$root/res")
    if (!resDir.exists) {
      import s.implicits._
      Seq.empty[(Long, Boolean, java.lang.Long, java.lang.Double)]
        .toDF("doc_id", "admit", "dup_of", "est_jaccard")
    } else
      s.read.parquet(resDir.listFiles.filter(_.getName.startsWith("v"))
          .map(_.toString).toIndexedSeq: _*)
        .orderBy("doc_id")
  }

  /** The declared s13 instance: the same three-slice crawler drop as
    * s11, near-dup-gated per micro-batch against the durable index.
    */
  def s13StreamFuzzyDedup(s: SparkSession, d: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_s13")
    streamFuzzyDedup(s, landDocSlices(s, d, dir),
      dir.resolve("idx").toString)
  }

  // s14: streaming ANN SERVING — query vectors ARRIVE as a stream
  // and each micro-batch is answered from the durable IVF-PQ index
  // (AnnIndexExport's artifact) through the identical probe path the
  // batch entry uses (Similarity.e8ProbeIndex: probe-ranked cells,
  // partition-pruned code read, ADC over 9-byte codes, exact
  // re-rank). The index is built ONCE, offline; per batch the CODE
  // read is O(batch queries · nProbe cells) — pruned, never a scan —
  // and the exact re-rank is a broadcast-candidate (Q·kCand keys)
  // probe of the vector table: runtime-Bloom/row-group prunable at
  // scale (RuntimeFilterSpec's recipe), the one corpus-shaped touch
  // in the loop. The index itself is never rewritten (serving is
  // read-only; ingest is e12's append). Because a query's answer depends only on (query,
  // index) — never on which other queries share its batch — the
  // streamed answer set equals the batch answer query-for-query
  // (s1/q22's convergence contract, proven in StreamSourcesSpec
  // against the e8 stored-index path).
  private[graft] def streamAnnServe(s: SparkSession, stream: DataFrame,
                                    d: String, idxDir: String,
                                    root: String): DataFrame = {
    val corpus = graft.operators.Similarity.quantized(s, d)
    val q = stream.writeStream
      .option("checkpointLocation", s"$root/ckpt")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val qs = graft.operators.Similarity.quantize(batch)
        if (!qs.isEmpty)
          graft.operators.Similarity
            .e8ProbeIndex(s, qs, corpus, idxDir)
            // idempotent same-path rewrite on checkpoint replay (the
            // s13 rule): a replayed batch re-derives the identical
            // answer, it must not throw on the existing path
            .write.mode("overwrite").parquet(s"$root/res/v$batchId")
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    val resDir = new java.io.File(s"$root/res")
    if (!resDir.exists) {
      import s.implicits._
      Seq.empty[(Long, Long, Double, Long)]
        .toDF("qid", "nid", "cosine", "rnk")
    } else
      s.read.parquet(resDir.listFiles.filter(_.getName.startsWith("v"))
          .map(_.toString).toIndexedSeq: _*)
        .orderBy("qid", "rnk")
  }

  /** Lands the query vectors (vec_id < 10) as three mtime-ordered
    * single-file parquet slices — the crawler-drop arrival model —
    * and streams them one file per micro-batch.
    */
  private def landQuerySlices(s: SparkSession, d: String,
                              dir: java.nio.file.Path): DataFrame = {
    val src = dir.resolve("src")
    java.nio.file.Files.createDirectory(src)
    val qs = graft.Tables.embeddings(s, d).filter(col("vec_id") < 10)
      .select("vec_id", "embedding")
    (0 until 3).foreach { i =>
      val stage = dir.resolve(s"stage$i").toString
      qs.filter(pmod(col("vec_id"), lit(3L)) === i)
        .coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = src.resolve(s"slice$i.parquet")
      java.nio.file.Files.move(part.toPath, dst)
      dst.toFile.setLastModified(1000000L * (i + 1))
    }
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src.toString)
  }

  /** The declared s14 instance: the index is built offline from the
    * corpus, then the ten standard queries arrive in three
    * micro-batches and are served from it.
    */
  private val s14Index = scala.collection.concurrent.TrieMap.empty[String, String]

  def s14StreamAnnServe(s: SparkSession, d: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_s14")
    // the index builds once per (session, dataset) — serving is the
    // per-call work; repeated invocations probe the stored artifact
    // (read-only) instead of re-paying the offline build per call
    val idx = s14Index.synchronized { s14Index.getOrElseUpdate(
      s.sparkContext.applicationId + "|" + d, {
        val p = dir.resolve("idx").toString
        graft.operators.Similarity.e8WriteIndex(s, d, p)
        p
      }) }
    streamAnnServe(s, landQuerySlices(s, d, dir), d, idx,
      dir.resolve("serve").toString)
  }

  // s15: streaming ingest into the transactional GraftTable — the
  // sink discipline s7/s10/s11 each hand-rolled, now on the unified
  // commit log: each micro-batch lands as ONE atomic tagged commit
  // (appendIdempotent — a checkpoint-replayed batch is a no-op, so
  // the sink is exactly-once without sink-side dedup state), then
  // OPTIMIZE compacts the accreted small files in another atomic
  // commit. Readers resolve snapshots from the log only, so neither
  // the in-flight appends nor the compaction can expose a
  // half-written table — the exposure every per-sink manifest had.
  // Converges to a batch aggregate over documents (the s1/q22
  // contract); GraftTableSpec pins replay idempotence and snapshot
  // isolation under the concurrent writer race.
  // s16: the commit log as a STREAMING SOURCE — s15's inverse (table
  // → stream instead of stream → table), Delta's "stream the table"
  // model through the DSv2 MicroBatchStream in
  // graft.sources.GraftStreamSource: offsets ARE commit versions, so
  // each micro-batch reads exactly the files its version range's
  // append commits added (log-resolved, never listed), through the
  // same vectorized ParquetScan reader factory a batch read builds.
  // The lifecycle here: three append commits land events thirds; the
  // stream drains them through a checkpointed foreachBatch; the
  // re-read union aggregates per type — a source that dropped,
  // duplicated or re-served any commit's rows hash-fails against the
  // whole-table oracle. GraftStreamSpec additionally proves
  // restart-exactly-once, the follow-the-log tail, and the
  // non-append refusal.
  def s16StreamTableFeed(s: SparkSession, d: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_s16")
    val ev = graft.Tables.events(s, d)
      .select("event_id", "event_type", "value")
    val root = dir.resolve("table").toString
    val t = graft.sources.GraftTable.create(s, root,
      ev.filter(pmod(col("event_id"), lit(3)) === 0))           // v1
    t.append(ev.filter(pmod(col("event_id"), lit(3)) === 1))    // v2
    t.append(ev.filter(pmod(col("event_id"), lit(3)) === 2))    // v3
    val res = dir.resolve("res").toString
    val q = s.readStream.format("graft").load(root)
      .writeStream
      .option("checkpointLocation", dir.resolve("ckpt").toString)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        // idempotent same-path rewrite on replay (the s13 rule)
        batch.write.mode("overwrite").parquet(s"$res/v$id")
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    s.read.parquet(new java.io.File(res).listFiles
        .filter(_.getName.startsWith("v")).map(_.toString).toIndexedSeq: _*)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)"))
          .cast("double").as("total_value"))
      .orderBy("event_type")
  }

  // s17: the ROW-LEVEL change feed as a STREAM (Delta's
  // readChangeFeed; q80's batch feed made continuous through
  // graft.sources.GraftCdfStream): a table lives through create →
  // copy-on-write delete → copy-on-write update, and the stream
  // serves every commit's change rows — insert slices from the
  // add-files, delete/pre/post images from the commit-staged cdf
  // files, each stamped with its commit version — through Spark's
  // parquet reader with the constant columns joined row-by-row. The
  // per-type aggregate hash-matches DuckDB replaying the same
  // algebra: a feed that lost a delete image, double-served an
  // insert slice or mis-stamped a version cannot pass.
  def s17StreamCdf(s: SparkSession, d: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_s17")
    val orders = graft.Tables.orders(s, d)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val root = dir.resolve("table").toString
    val t = graft.sources.GraftTable.create(s, root,
      orders.repartitionByRange(8, col("o_orderkey")))            // v1
    t.deleteWhere(pmod(col("o_orderkey"), lit(11)) === 7)         // v2
    t.update(pmod(col("o_orderkey"), lit(9)) === 2,
      Map("o_totalprice" -> (col("o_totalprice") * 3),
        "o_orderstatus" -> lit("C")))                             // v3
    val res = dir.resolve("res").toString
    val q = s.readStream.format("graft")
      .option("readChangeFeed", "true").load(root)
      .writeStream
      .option("checkpointLocation", dir.resolve("ckpt").toString)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        batch.write.mode("overwrite").parquet(s"$res/v$id")
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    s.read.parquet(new java.io.File(res).listFiles
        .filter(_.getName.startsWith("v")).map(_.toString).toIndexedSeq: _*)
      .groupBy("_change_type")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_totalprice").cast("decimal(18,2)"))
          .cast("double").as("total_price"),
        min("o_orderkey").as("min_key"),
        max("o_orderkey").as("max_key"))
      .orderBy("_change_type")
  }

  // s18: s15's transactional ingest through the NATIVE DSv2 sink —
  // `writeStream.format("graft")` with no foreachBatch: each
  // micro-batch lands as one idempotent-tagged epoch commit
  // (GraftStreamingWrite), and the FIRST epoch bootstraps the table
  // (create-on-first-write). Convergent to the same batch aggregate
  // as s15, so the oracle proves the sink neither loses, duplicates
  // nor reorders a single row across the three micro-batches.
  def s18StreamNativeSink(s: SparkSession, d: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_s18")
    val src = landDocSlices(s, d, dir)
    val root = dir.resolve("table").toString
    val q = src
      .select(col("doc_id"), octet_length(col("text")).as("n_bytes"))
      .writeStream.format("graft")
      .option("checkpointLocation", dir.resolve("ckpt").toString)
      .start(root)
    try q.processAllAvailable() finally q.stop()
    graft.sources.GraftTable.forPath(s, root).read()
      .groupBy(pmod(col("doc_id"), lit(10L)).as("doc_bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_bytes")).as("total_bytes"))
      .orderBy("doc_bucket")
  }

  // s19: INCREMENTAL RAG INGESTION as a stream — p8's pipeline the
  // way a retrieval stack actually runs it: every arriving doc batch
  // chunks (d13's stride), dedups WITHIN the batch (min
  // (doc, chunk_idx) per 32-byte digest), then probes the STORED
  // chunk index for digests already admitted — only genuinely-new
  // chunks append (one idempotent-tagged commit per batch). The
  // probe is O(batch) against the digest column (stats/bloom-prunable
  // at scale); the base is never re-chunked or re-shuffled. Because
  // slices arrive in doc_id order and each batch admits its min
  // owner, the converged table equals batch p8's keeper rule exactly
  // — the oracle replays that algebra, so a chunk lost, duplicated
  // or re-owned across restarts cannot pass.
  def s19StreamRagIngest(s: SparkSession, d: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_s19")
    val src = landDocSlices(s, d, dir)
    val t = graft.sources.GraftTable.forPath(s, dir.resolve("chunks").toString)
    val ckpt = dir.resolve("ckpt").toString
    val streamNs = java.util.UUID
      .nameUUIDFromBytes(ckpt.getBytes("UTF-8")).toString.take(8)
    val q = src.writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val chunks = batch
          .withColumn("toks", expr("filter(split(text, ' '), x -> x != '')"))
          .filter(size(col("toks")) >= 1)
          .select(col("doc_id"),
            posexplode(expr(
              "transform(sequence(0, (size(toks)-1) div 24), " +
                "i -> array_join(slice(toks, 24*i+1, 32), ' '))")))
          .select(col("doc_id"), col("pos").cast("long").as("chunk_idx"),
            sha2(col("col"), 256).as("sha"),
            expr("cast(size(filter(split(col, ' '), x -> x != '')) as bigint)")
              .as("n_chunk_tokens"))
        val w = org.apache.spark.sql.expressions.Window.partitionBy("sha")
        val inBatch = chunks
          .withColumn("keeper",
            min(struct(col("doc_id"), col("chunk_idx"))).over(w))
          .filter(col("keeper.doc_id") === col("doc_id") &&
            col("keeper.chunk_idx") === col("chunk_idx"))
          .drop("keeper")
        val fresh =
          if (t.latestVersion == 0) inBatch
          else inBatch.join(t.read().select("sha"), Seq("sha"), "left_anti")
        t.appendIdempotent(fresh, s"$streamNs-batch-$id")
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    t.read().select("doc_id", "chunk_idx", "n_chunk_tokens")
      .orderBy("doc_id", "chunk_idx")
  }

  // s20: INCREMENTAL BACKFILL via Trigger.AvailableNow — the
  // batch/stream unification every scheduled ingest job runs: each
  // invocation plans its OWN termination (process everything that
  // exists in bounded maxFilesPerTrigger micro-batches, commit the
  // checkpoint, exit — no processAllAvailable babysitter, no
  // always-on cluster), and the NEXT invocation resumes from the
  // checkpoint reading only files landed since. Run 1 ingests the
  // initial three drops and self-terminates; a fourth drop lands;
  // run 2 — same checkpoint, same sink — ingests exactly that one
  // file (asserted: the log advances by precisely its commits, and
  // the AvailableNow query terminates on its own). The converged
  // graft table equals one batch read of all four drops — the
  // oracle replays that. At 100 TB this is the nightly-catch-up
  // shape: cost is O(new files) per invocation, bounded batches
  // cap executor memory, and exactly-once across the restart
  // boundary comes from the checkpoint + the sink's tagged epochs.
  def s20StreamBackfill(s: SparkSession, d: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_s20")
    val srcDir = dir.resolve("src")
    java.nio.file.Files.createDirectory(srcDir)
    val docs = graft.Tables.documents(s, d).select("doc_id", "text")
    val mm = docs.agg(min("doc_id"), max("doc_id")).head
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    val w = (hi - lo) / 4 + 1
    def land(i: Int): Unit = {
      val stage = dir.resolve(s"stage$i").toString
      docs.filter(col("doc_id") >= lo + i * w &&
          col("doc_id") < lo + (i + 1) * w)
        .coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        srcDir.resolve(s"slice$i.parquet"))
      ()
    }
    (0 until 3).foreach(land)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val root = dir.resolve("table").toString
    def runOnce(): Unit = {
      val q = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
        .select(col("doc_id"), octet_length(col("text")).as("n_bytes"))
        .writeStream.format("graft")
        .option("checkpointLocation", dir.resolve("ckpt").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start(root)
      // the AvailableNow contract: the query plans its own end —
      // await, never stop()
      q.awaitTermination()
    }
    runOnce()
    val t = graft.sources.GraftTable.forPath(s, root)
    val afterFirst = t.latestVersion
    require(afterFirst > 0, "first backfill run committed nothing")
    land(3)
    runOnce()
    val advanced = t.latestVersion - afterFirst
    require(advanced == 1,
      s"second backfill run should commit exactly the one new file's " +
        s"batch, committed $advanced")
    t.read()
      .groupBy(pmod(col("doc_id"), lit(10L)).as("doc_bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_bytes")).as("total_bytes"))
      .orderBy("doc_bucket")
  }

  // s21: STREAMING UPSERT through the transactional clause merge —
  // the Delta foreachBatch recipe (`stream.foreachBatch { (b, id) =>
  // t.mergeInto(b, …, tag = epoch) }`, round 17): each micro-batch
  // lands as ONE idempotent-tagged merge commit — matched keys
  // update copy-on-write, new keys insert — so a checkpoint-replayed
  // batch no-ops at the tag ledger instead of double-applying (the
  // exactly-once-across-restart discipline s18 pins for appends,
  // here for UPSERTS; the crash-replay twin is spec-pinned in
  // GraftMergeIntoSpec). The registry bootstraps with the 'O'
  // orders; the stream re-prices every 3rd key (×2 — integer factor,
  // the decimal-tie rule) across three ascending key-range slices;
  // non-'O' keys INSERT carrying their source status. Convergence =
  // the one-batch answer, which the oracle replays: a lost batch, a
  // double-applied replay, or an update/insert mis-route cannot
  // hash-match. s7's hand-rolled bucket merge is the
  // pre-transactional ancestor; this is what a migrating Delta user
  // writes on day one. At 100 TB each epoch costs O(matched slice +
  // batch) — the CoW probe prunes at the log, never the table.
  def s21StreamMerge(s: SparkSession, d: String): DataFrame = {
    import graft.sources.MergeClauses._
    val dir = java.nio.file.Files.createTempDirectory("graft_s21")
    val orders = graft.Tables.orders(s, d)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val root = dir.resolve("table").toString
    val t = graft.sources.GraftTable.create(s, root,
      orders.filter(col("o_orderstatus") === "O")
        .repartitionByRange(8, col("o_orderkey")))              // v1
    // land the re-price stream: every 3rd key, three ascending
    // key-range slices (the s11/s15 crawler-drop shape)
    val src = dir.resolve("src")
    java.nio.file.Files.createDirectory(src)
    val upd = orders.filter(pmod(col("o_orderkey"), lit(3L)) === 0)
      .select(col("o_orderkey"), col("o_orderstatus").as("src_status"),
        (col("o_totalprice") * 2).as("new_price"))
    val mm = upd.agg(min("o_orderkey"), max("o_orderkey")).head
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    val w = (hi - lo) / 3 + 1
    (0 until 3).foreach { i =>
      val stage = dir.resolve(s"stage$i").toString
      upd.filter(col("o_orderkey") >= lo + i * w &&
          col("o_orderkey") < lo + (i + 1) * w)
        .coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = src.resolve(s"slice$i.parquet")
      java.nio.file.Files.move(part.toPath, dst)
      dst.toFile.setLastModified(1000000L * (i + 1)); ()
    }
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("src_status", StringType),
      StructField("new_price", DoubleType)))
    val ckpt = dir.resolve("ckpt").toString
    val streamNs = java.util.UUID // per-stream tag namespace (s7's rule)
      .nameUUIDFromBytes(ckpt.getBytes("UTF-8")).toString.take(8)
    val q = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src.toString)
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        t.mergeInto(batch, Seq("o_orderkey"),
          matched = Seq(MatchedUpdate(None,
            Map("o_totalprice" -> expr("s.new_price")))),
          notMatched = Seq(NotMatchedInsert(None,
            Map("o_orderkey" -> expr("s.o_orderkey"),
              "o_orderstatus" -> expr("s.src_status"),
              "o_totalprice" -> expr("s.new_price")))),
          tag = s"$streamNs-batch-$id")
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    t.read()
  }

  def s15StreamTableIngest(s: SparkSession, d: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_s15")
    val src = landDocSlices(s, d, dir)
    val t = graft.sources.GraftTable.forPath(s, dir.resolve("table").toString)
    val ckpt = dir.resolve("ckpt").toString
    val streamNs = java.util.UUID // per-stream tag namespace (s7's rule)
      .nameUUIDFromBytes(ckpt.getBytes("UTF-8")).toString.take(8)
    val q = src
      .select(col("doc_id"), octet_length(col("text")).as("n_bytes"))
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        t.appendIdempotent(batch, s"$streamNs-batch-$id")
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    t.compact(64L * 1024 * 1024) // OPTIMIZE the micro-batch accretion
    t.read()
      .groupBy(pmod(col("doc_id"), lit(10L)).as("doc_bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_bytes")).as("total_bytes"))
      .orderBy("doc_bucket")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s18_stream_native_sink" -> (s18StreamNativeSink _),
    "s19_stream_rag_ingest" -> (s19StreamRagIngest _),
    "s20_stream_backfill" -> (s20StreamBackfill _),
    "s15_stream_table_ingest" -> (s15StreamTableIngest _),
    "s21_stream_merge" -> (s21StreamMerge _),
    "s16_stream_table_feed" -> (s16StreamTableFeed _),
    "s17_stream_cdf" -> (s17StreamCdf _),
    "s11_stream_dedup_index" -> (s11StreamDedupIndex _),
    "s13_stream_fuzzy_dedup" -> (s13StreamFuzzyDedup _),
    "s14_stream_ann_serve" -> (s14StreamAnnServe _),
    "s12_stream_pit_enrich" -> (s12StreamPitEnrich _),
    "s6_stream_static_join" -> (s6StreamStaticJoin _),
    "s9_stream_dq_gate" -> (s9StreamDqGate _),
    "s10_stream_zorder_ingest" -> (s10StreamZorderIngest _),
    "s8_stream_top_types" -> ((s: SparkSession, d: String) => s8StreamTopTypes(s, d)),
    "s5_stream_stream_join" -> (s5StreamStreamJoin _),
    "s4_stream_custom_state" -> (s4StreamCustomState _),
    "s1_stream_window" -> (s1StreamWindow _),
    "s1b_stream_window_append" -> (s1bStreamWindowAppend _),
    "s2_stream_dedup" -> (s2StreamDedup _),
    "s3_stream_session" -> (s3StreamSession _),
    "s7_stream_upsert" -> (s7StreamUpsert _),
  )

  val oracles: Map[String, String] = Map(
    // the transactional ingest converges to a batch aggregate over
    // documents — commits, replay-dedup, and OPTIMIZE are all
    // content-neutral
    // the streamed foreachBatch merge converges to the one-batch
    // upsert: 'O' rows re-price where the stream touched them,
    // non-'O' touched keys insert with their source status
    "s21_stream_merge" ->
      """SELECT o_orderkey, o_orderstatus,
        |  CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 2
        |       ELSE o_totalprice END AS o_totalprice
        |FROM orders WHERE o_orderstatus = 'O'
        |UNION ALL
        |SELECT o_orderkey, o_orderstatus, o_totalprice * 2
        |FROM orders WHERE o_orderstatus <> 'O' AND o_orderkey % 3 = 0
        |ORDER BY o_orderkey""".stripMargin,
    "s15_stream_table_ingest" ->
      """SELECT doc_id % 10 AS doc_bucket, COUNT(*) AS n_docs,
        |  CAST(SUM(strlen(text)) AS BIGINT) AS total_bytes
        |FROM documents GROUP BY 1 ORDER BY doc_bucket""".stripMargin,
    // the incremental chunk index converges to batch p8's keeper rule
    // (slices arrive in doc_id order; per-batch min owner + stored
    // digest probe = global min owner)
    "s19_stream_rag_ingest" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS w
        |  FROM documents),
        |ch AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
        |    array_to_string(w[24*i+1 : 24*i+32], ' ') AS chunk_text,
        |    CAST(len(w[24*i+1 : 24*i+32]) AS BIGINT) AS n_chunk_tokens
        |  FROM t, unnest(range(0, (len(w)-1)//24 + 1)) AS u(i)
        |  WHERE len(w) >= 1)
        |SELECT doc_id, chunk_idx, n_chunk_tokens FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY chunk_text
        |    ORDER BY doc_id, chunk_idx) AS rn
        |  FROM ch) z WHERE rn = 1
        |ORDER BY doc_id, chunk_idx""".stripMargin,
    // the native sink converges to the identical aggregate: epoch
    // commits, bootstrap and the tag ledger are all content-neutral
    "s18_stream_native_sink" ->
      """SELECT doc_id % 10 AS doc_bucket, COUNT(*) AS n_docs,
        |  CAST(SUM(strlen(text)) AS BIGINT) AS total_bytes
        |FROM documents GROUP BY 1 ORDER BY doc_bucket""".stripMargin,
    "s20_stream_backfill" ->
      """SELECT doc_id % 10 AS doc_bucket, COUNT(*) AS n_docs,
        |  CAST(SUM(strlen(text)) AS BIGINT) AS total_bytes
        |FROM documents GROUP BY 1 ORDER BY doc_bucket""".stripMargin,
    "s16_stream_table_feed" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST("value" AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "s17_stream_cdf" ->
      """WITH corpus AS (
        |  SELECT o_orderkey AS k, o_totalprice AS p FROM orders),
        |del AS (SELECT k, p FROM corpus WHERE k % 11 = 7),
        |surv AS (SELECT k, p FROM corpus WHERE k % 11 <> 7),
        |upd AS (SELECT k, p FROM surv WHERE k % 9 = 2),
        |images AS (
        |  SELECT 'insert' AS ct, k, p FROM corpus
        |  UNION ALL SELECT 'delete', k, p FROM del
        |  UNION ALL SELECT 'update_preimage', k, p FROM upd
        |  UNION ALL SELECT 'update_postimage', k, p * 3 FROM upd)
        |SELECT ct AS _change_type, count(*) AS n_rows,
        |  CAST(sum(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        |  min(k) AS min_key, max(k) AS max_key
        |FROM images GROUP BY ct ORDER BY ct""".stripMargin,
    // the streaming index converges to d1's batch answer (the
    // s1/q22 contract): first-admitted == min doc_id under the
    // ascending-slice landing order
    "s11_stream_dedup_index" ->
      """SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin,
    // shares q69's oracle: the streamed enrichment converges to the
    // batch PIT join
    "s12_stream_pit_enrich" ->
      graft.operators.Events.oracles("q69_pit_join"),
    "s10_stream_zorder_ingest" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "s9_stream_dq_gate" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events WHERE "value" >= 1.0
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // (user_id, ts) is unique at every shipped SF (checked), so
    // arg_max on ts alone is deterministic here; the Spark side still
    // tie-breaks on (ts, event_id) for safety on other data
    "s7_stream_upsert" ->
      """SELECT user_id, COUNT(*) AS n_events,
        |  arg_max(event_type, ts) AS last_type,
        |  arg_max("value", ts) AS last_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "s6_stream_static_join" ->
      """WITH c AS (
        |  SELECT user_id,
        |    MIN(CAST(floor(epoch(ts) / 86400) AS BIGINT)) AS cohort_day
        |  FROM events GROUP BY user_id)
        |SELECT c.cohort_day, e.event_type, COUNT(*) AS n
        |FROM events e JOIN c ON e.user_id = c.user_id
        |GROUP BY 1, 2 ORDER BY cohort_day, event_type""".stripMargin,
    "s5_stream_stream_join" ->
      """SELECT p.event_id AS purchase_id, c.event_id AS click_id, c.user_id
        |FROM events p JOIN events c
        |  ON p.user_id = c.user_id
        | AND p.event_type = 'purchase' AND c.event_type = 'click'
        | AND epoch_us(c.ts) >= epoch_us(p.ts) - 3600000000
        | AND epoch_us(c.ts) <= epoch_us(p.ts)
        |ORDER BY purchase_id, click_id""".stripMargin,
    "s4_stream_custom_state" ->
      """SELECT user_id, COUNT(*) AS n_events, MAX(value) AS max_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    // identical to q22's oracle: the streaming window agg must converge
    // to the batch answer.
    "s1_stream_window" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
        |  event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin,
    // q22 restricted to CLOSED windows: append mode emits a window
    // only once the watermark (floor-to-ms max event time minus the
    // 1h delay) passes its end.
    // s1b's closed-window predicate + calendar-bounded rank
    "s8_stream_top_types" ->
      """WITH mx AS (
        |  SELECT MAX(epoch_us(ts) // 1000) AS mt_ms FROM events),
        |w AS (
        |  SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
        |    event_type, COUNT(*) AS n
        |  FROM events, mx
        |  WHERE epoch_ms(date_trunc('hour', ts)) + 3600000 <= mt_ms - 3600000
        |  GROUP BY 1, 2)
        |SELECT hour, event_type, n, rnk FROM (
        |  SELECT hour, event_type, n,
        |    ROW_NUMBER() OVER (PARTITION BY hour ORDER BY n DESC, event_type) AS rnk
        |  FROM w) t
        |WHERE rnk <= 3 ORDER BY hour, rnk""".stripMargin,
    "s1b_stream_window_append" ->
      """WITH mx AS (
        |  SELECT MAX(epoch_us(ts) // 1000) AS mt_ms FROM events)
        |SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
        |  event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events, mx
        |WHERE epoch_ms(date_trunc('hour', ts)) + 3600000 <= mt_ms - 3600000
        |GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin,
    "s2_stream_dedup" ->
      """SELECT event_type, COUNT(DISTINCT event_id) AS n_unique
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // q21's sessionization semantics: > 1800 s gap starts a session.
    "s3_stream_session" ->
      """WITH e AS (
        |  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
        |  FROM events),
        |marked AS (
        |  SELECT user_id, event_id, ts_s,
        |    CASE WHEN lag(ts_s) OVER w IS NULL
        |           OR ts_s - lag(ts_s) OVER w > 1800 THEN 1 ELSE 0 END AS new_sess
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_s, event_id)),
        |sessions AS (
        |  SELECT user_id,
        |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_s, event_id
        |                        ROWS UNBOUNDED PRECEDING) AS sess_id
        |  FROM marked)
        |SELECT user_id, CAST(MAX(sess_id) AS BIGINT) AS n_sessions,
        |  COUNT(*) AS n_events
        |FROM sessions GROUP BY user_id ORDER BY user_id""".stripMargin,
  )
}
