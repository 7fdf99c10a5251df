package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Schema-typed loaders for the driver-generated tables (TESTDATA.md).
  *
  * All operators read through here so the scan is a plain parquet
  * relation Catalyst can push filters/projections into. No caching at
  * this layer: at 100 TB the tables don't fit, and re-reading a pruned
  * parquet scan is cheaper than spilling a cache.
  */
object Tables {
  private def p(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame     = p(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = p(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = p(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = p(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = p(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = p(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = p(s, d, "lineitem")
  /** `events.ts` lands as long EPOCH NANOS regardless of how the
    * generator encoded it — the contract every events operator (and
    * every events oracle, via DuckDB `epoch(ts)`) is written against.
    * Two encodings exist in the wild: parquet TIMESTAMP(NANOS) (which
    * Spark 4 refuses to read as a timestamp; `nanosAsLong` surfaces it
    * as the raw long we want) and TIMESTAMP(MICROS) without the UTC
    * flag (reads as TIMESTAMP_NTZ; converted here to nanos via
    * unix_micros — exact, no rounding, and tz-neutral because every
    * graft session pins spark.sql.session.timeZone=UTC). Normalizing
    * at the loader keeps the whole operator suite encoding-agnostic.
    *
    * CAVEAT: `nanosAsLong` is a SESSION conf (parquet converters offer
    * no per-read option), so this loader mutates shared session state
    * — after the first events() call, any OTHER nanos-timestamp
    * parquet in the session also reads as LongType instead of failing
    * loudly. Acceptable here because events is the only nanos table
    * and every graft session reads it; a multi-tenant session embedding
    * this library should set the conf at build time instead.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = p(s, d, "events")
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    raw.schema("ts").dataType match {
      case LongType => raw
      case TimestampNTZType | TimestampType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.expr(
            "unix_micros(cast(ts as timestamp_ltz)) * 1000L"))
      case other =>
        throw new IllegalStateException(s"unsupported events.ts type: $other")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = p(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = p(s, d, "embeddings")

  /** Scan-parallelism floor for CPU-HEAVY per-row operators (round
    * 18, guide §2.5 "input skew — one huge unsplittable file …
    * repartition immediately after the read"): a small table lands as
    * ONE parquet file under maxPartitionBytes, so a per-row codec /
    * regex tower runs on a single core no matter how many the session
    * has. When the NATURAL split count (bytes / maxPartitionBytes)
    * is below the session's parallelism (the `widen` gate), hash-
    * repartition to min(defaultParallelism, rows/minRowsPerSlice) —
    * sized by footer metadata, no job. At real scale the natural
    * splits exceed the core count and this is the identity: no
    * shuffle is ever added to a big scan. The exchange HASHES on
    * `keys`, NOT round-robin: a keyless repartition first pays a LOCAL
    * SORT of its input inside the unsplittable scan task
    * (spark.sql.execution.sortBeforeRepartition, SPARK-23207 — the
    * sort is there so retried tasks reproduce their row assignment),
    * which measured as a multi-second single-core penalty at ×10;
    * hashing a unique key spreads identically with no sort and stays
    * deterministic under retries. A GROUP key instead (scan →
    * groupBy(key) shapes, with minRowsPerSlice 1) lets the downstream
    * aggregate reuse the partitioning — one exchange total, partial
    * AND final agg parallel behind it. Row sets are unchanged.
    */
  def widen(s: SparkSession, d: String, name: String, df: DataFrame,
            keys: Seq[String], minRowsPerSlice: Long = 256L): DataFrame = {
    val path = new org.apache.hadoop.fs.Path(s"$d/$name.parquet")
    lazy val natural = splits(s, path.getFileSystem(
      s.sparkContext.hadoopConfiguration).getContentSummary(path).getLength)
    val par = s.sparkContext.defaultParallelism.toLong
    if (!Gate.small(s, "widen", par - 1)(natural)) df
    else {
      val rows = parquetRowCount(s, s"$d/$name.parquet")
      val target = math.min(par, math.max(1L, rows / minRowsPerSlice)).toInt
      if (target <= natural) df
      else df.repartition(target, keys.map(org.apache.spark.sql.functions.col): _*)
    }
  }

  /** Scan splits `bytes` of input land in: ⌈bytes / maxPartitionBytes⌉. */
  def splits(s: SparkSession, bytes: Long): Long = {
    val maxSplit = s.sessionState.conf.filesMaxPartitionBytes
    math.max(1L, (bytes + maxSplit - 1) / maxSplit)
  }

  /** Exact row count of a parquet table from FILE FOOTERS — a driver-
    * side metadata read (O(files) footer fetches, one listing), NOT a
    * Spark job: sizing decisions made at plan-build time (e9's
    * hyperplane width, every footer-count [[Gate]]) must not cost a
    * corpus scan before the query starts. At 100 TB the same number
    * comes from the table catalog's stats or the ingest manifest
    * (IncrementalFiles tracks exactly these files); and consumers
    * like e9Bits only need log-accuracy, so a bounded sample of
    * footers would also do — exactness here is a convenience, not a
    * requirement.
    */
  def parquetRowCount(s: SparkSession, path: String): Long = {
    val conf = s.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(conf)
    val files =
      if (fs.getFileStatus(root).isFile) Array(fs.getFileStatus(root))
      else fs.listStatus(root).filter(st => st.isFile &&
        st.getPath.getName.endsWith(".parquet"))
    files.map { st =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromStatus(st, conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    }.sum
  }
}
