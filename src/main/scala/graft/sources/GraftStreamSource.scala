package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.SupportsRead
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan}
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, MicroBatchStream, Offset, ReadAllAvailable, ReadLimit, ReadMaxBytes, ReadMaxFiles, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The GraftTable commit log as a Structured Streaming SOURCE
  * (s16's machinery) — Delta/Iceberg's "stream the table" model:
  *
  * {{{
  *   spark.readStream.format("graft").load(root)
  *     .writeStream.option("checkpointLocation", …)…
  * }}}
  *
  * Offsets are log POSITIONS — (commit version, file index within the
  * commit's path-sorted adds): micro-batch (start, end] serves exactly
  * the files between the two positions — resolved from the log, never
  * by listing. Because commits are immutable and the intra-commit sort
  * is total, a (start, end] slice is DETERMINISTIC forever: Spark's
  * checkpointed offset log + this source's position arithmetic give
  * exactly-once delivery across restarts with no source-side state at
  * all (the replay-safety [[GraftTable.changesSince]] proved in batch,
  * as a stream).
  *
  * ADMISSION CONTROL (Delta's maxFilesPerTrigger/maxBytesPerTrigger):
  * without a cap, a version-0 bootstrap — or a catch-up after
  * downtime — plans ONE micro-batch covering everything that landed,
  * which at 100 TB defeats checkpointed incremental recovery (a
  * failure at 99% replays the whole batch). `option
  * ("maxFilesPerTrigger", n)` / `option("maxBytesPerTrigger", b)`
  * bound each micro-batch to n files / b log-recorded bytes (always
  * admitting at least one file so the stream can never stall on an
  * oversized file), turning the bootstrap into a SEQUENCE of bounded,
  * individually-checkpointed batches. The file-granular offset is
  * what makes the cap sound: a batch may end mid-commit and the next
  * one resumes at exactly that file.
  *
  * The rows are read through Spark's own vectorized parquet reader:
  * the reader FACTORY comes from the same ParquetScan the batch path
  * builds (pushed filters and pruned columns intact), and each
  * micro-batch plans its partitions from a slice-scoped ParquetTable
  * over just that batch's files — so a 1000-executor stream reads a
  * commit's files with the identical split/locality logic a batch
  * read would use.
  *
  * Non-append commits in a streamed range (compact/overwrite/replace)
  * REFUSE rather than re-serving rewritten rows as new — the same
  * honesty rule as the batch change feed; `option("startingVersion",
  * v)` starts the stream past historical rewrites (0 = serve the
  * whole table as the first batch).
  */
class GraftScanWithStream(under: Scan, spark: SparkSession, root: String,
                          options: CaseInsensitiveStringMap) extends Scan {
  override def readSchema(): StructType = under.readSchema()
  override def description(): String = s"graft(${under.description()})"
  override def toBatch: Batch = under.toBatch
  override def toMicroBatchStream(checkpointLocation: String)
      : MicroBatchStream =
    new GraftMicroBatchStream(spark, root, options, under)
}

/** A log position: `index == -1` means every append file of commits
  * ≤ `version` is served (the commit-boundary shape — its json
  * round-trip is the bare number, so pre-admission-control
  * checkpoints deserialize unchanged); `index >= 0` means all commits
  * < `version` are fully served plus the FIRST `index` files of
  * commit `version`'s path-sorted adds (the mid-commit shape an
  * admission cap can end a batch at). Delta's DeltaSourceOffset is
  * the design reference for the (version, index) form.
  */
case class GraftOffset(version: Long, index: Long = -1L) extends Offset {
  override def json(): String =
    if (index < 0L) version.toString
    else s"""{"version":$version,"index":$index}"""
}

object GraftOffset {
  private val JsonRe =
    """\s*\{\s*"version"\s*:\s*(\d+)\s*,\s*"index"\s*:\s*(\d+)\s*\}\s*""".r
  def fromJson(json: String): GraftOffset = json match {
    case JsonRe(v, i) => GraftOffset(v.toLong, i.toLong)
    case bare => GraftOffset(bare.trim.toLong)
  }
}

/** The ADMISSION arithmetic both streaming sources share (the table
  * stream and the CDF stream rate-limit identically): walk per-version
  * path-sorted file lists from a start position, admit until a cap
  * binds, canonicalize commit boundaries; and slice the file window a
  * (start, end] offset pair names.
  */
private[sources] object GraftAdmission {

  /** The effective (maxFiles, maxBytes) caps: the engine's ReadLimit
    * vocabulary intersected with the source's own options.
    * Trigger.Once hands allAvailable regardless of the default limit —
    * Spark's documented escape hatch; honor it.
    */
  def capsOf(limit: ReadLimit, maxFiles: Option[Int],
             maxBytes: Option[Long]): (Option[Int], Option[Long]) =
    limit match {
      case f: ReadMaxFiles => (Some(f.maxFiles()), maxBytes)
      case b: ReadMaxBytes => (maxFiles, Some(b.maxBytes()))
      case c: CompositeReadLimit =>
        val fs = c.getReadLimits.collect { case f: ReadMaxFiles => f.maxFiles() }
        val bs = c.getReadLimits.collect { case b: ReadMaxBytes => b.maxBytes() }
        (fs.minOption.orElse(maxFiles), bs.minOption.orElse(maxBytes))
      case _: ReadAllAvailable => (None, None)
      case _ => (maxFiles, maxBytes)
    }

  /** The options' caps as Spark's ReadLimit (the default limit the
    * engine plans with).
    */
  def defaultLimit(maxFiles: Option[Int],
                   maxBytes: Option[Long]): ReadLimit = {
    val ls = maxFiles.map(ReadLimit.maxFiles(_)).toSeq ++
      maxBytes.map(ReadLimit.maxBytes(_)).toSeq
    ls match {
      case Seq() => ReadLimit.allAvailable()
      case Seq(one) => one
      case many => ReadLimit.compositeLimit(many.toArray)
    }
  }

  /** Walk `perV` (per-version path-sorted (file, bytes)) from the
    * position `s0`, admitting files until a cap binds. Returns
    * (position reached, capBound): when capBound is false the caller
    * advances the boundary to the true latest version itself (its
    * version enumeration may omit trailing metadata-only commits).
    * At-least-one rule: the bytes cap never blocks a batch's FIRST
    * file. Ends are canonicalized — never index == 0 or
    * index == nFiles — so uncapped runs emit the legacy bare-number
    * offsets and old/new checkpoints interoperate.
    */
  def walk(s0: GraftOffset, perV: Iterator[(Long, Seq[(String, Long)])],
           fCap: Option[Int], bCap: Option[Long]): (GraftOffset, Boolean) = {
    var admitted = 0L
    var bytes = 0L
    var pos: GraftOffset = s0
    var stopped = false
    // explicit while, not foreach: once the cap binds the iterator is
    // never pulled again — with the lazy per-version sources this
    // keeps each trigger O(admitted commits), not O(backlog), so a
    // capped bootstrap over a long history does linear total work
    while (!stopped && perV.hasNext) {
      val (v, files) = perV.next()
      val skip = if (s0.index >= 0L && v == s0.version) s0.index.toInt else 0
      var i = skip
      val it = files.iterator.drop(skip)
      while (!stopped && it.hasNext) {
        val b = it.next()._2
        if (fCap.exists(admitted >= _) ||
            bCap.exists(c => admitted > 0L && bytes + b > c))
          stopped = true
        else { admitted += 1L; bytes += b; i += 1 }
      }
      if (!stopped) pos = GraftOffset(v)
      else if (i > 0) pos = GraftOffset(v, i.toLong)
    }
    (pos, stopped)
  }

  /** The per-version window of files strictly between two positions
    * (mid-commit bounds honored on both ends); entries may come back
    * empty.
    */
  def window[A](s0: GraftOffset, e0: GraftOffset,
                v: Long, files: Seq[A]): Seq[A] = {
    val from = if (s0.index >= 0L && v == s0.version) s0.index.toInt else 0
    val until =
      if (e0.index >= 0L && v == e0.version) e0.index.toInt
      else files.length
    files.slice(from, until)
  }
}

class GraftMicroBatchStream(spark: SparkSession, root: String,
                            options: CaseInsensitiveStringMap,
                            template: Scan)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  // Trigger.AvailableNow (Spark's bounded catch-up-then-stop): pin the
  // run's TARGET version at query start; the admission walk then
  // drains up to it in capped batches and the query terminates there —
  // commits landing after the pin belong to the next run.
  private var availableNowCap: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit = {
    availableNowCap = Some(table.latestVersion)
  }

  private val table = GraftTable.forPath(spark, root)
  private val starting =
    Option(options.get("startingVersion")).map(_.toLong).getOrElse(0L)
  private val maxFiles =
    Option(options.get("maxFilesPerTrigger")).map(_.toInt)
  private val maxBytes =
    Option(options.get("maxBytesPerTrigger")).map(_.toLong)
  maxFiles.foreach(n => require(n > 0, s"maxFilesPerTrigger must be > 0: $n"))
  maxBytes.foreach(b => require(b > 0, s"maxBytesPerTrigger must be > 0: $b"))

  override def initialOffset(): Offset = GraftOffset(starting)
  override def deserializeOffset(json: String): Offset =
    GraftOffset.fromJson(json)
  override def commit(end: Offset): Unit = () // offsets live in Spark's log
  override def stop(): Unit = ()

  /** The options' caps as Spark's ReadLimit vocabulary, so the engine
    * (and AvailableNow's catch-up planner) sees the same bounds the
    * source enforces.
    */
  override def getDefaultReadLimit: ReadLimit =
    GraftAdmission.defaultLimit(maxFiles, maxBytes)

  override def reportLatestOffset(): Offset =
    GraftOffset(availableNowCap.getOrElse(table.latestVersion))

  /** Legacy single-arg form (MicroBatchStream's contract): the engine
    * calls the two-arg admission form when SupportsAdmissionControl is
    * implemented, but keep this total — uncapped latest.
    */
  override def latestOffset(): Offset = GraftOffset(table.latestVersion)

  /** The admission walk: starting at `start`'s position, admit
    * path-sorted files version by version until a cap binds, and
    * return the position reached. Ends are CANONICALIZED to the
    * commit-boundary shape whenever a commit's files are exhausted
    * (never `index == 0` or `index == nFiles`), so an uncapped run
    * emits exactly the bare-number offsets the pre-admission source
    * did — old and new checkpoints interoperate both ways.
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s0 = start.asInstanceOf[GraftOffset]
    val latest = availableNowCap.getOrElse(table.latestVersion)
    val floor = if (s0.index < 0L) s0.version else s0.version - 1L
    if (latest <= floor) return s0
    val (fCap, bCap) = GraftAdmission.capsOf(limit, maxFiles, maxBytes)
    if (fCap.isEmpty && bCap.isEmpty)
      return GraftOffset(latest) // uncapped: everything in one batch
    val perV = table.appendSliceVersions(floor, latest)
    val (pos, capBound) = GraftAdmission.walk(s0, perV, fCap, bCap)
    // perV covers every version in range (metadata-only included), so
    // an un-capped walk has already advanced pos to the latest
    if (capBound) pos else GraftOffset(latest)
  }

  override def planInputPartitions(start: Offset,
                                   end: Offset): Array[InputPartition] = {
    val s0 = start.asInstanceOf[GraftOffset]
    val e0 = end.asInstanceOf[GraftOffset]
    val files = filesBetween(s0, e0)
    if (files.isEmpty) return Array.empty
    // partitioned tables stream their partition COLUMNS too (the
    // snapshot table's restoration contract): the slice plans through
    // the same LOG-BACKED partition-value index the snapshot scan
    // uses, then prunes to the template's read schema — so the
    // PartitionedFiles this slice emits carry partition values of
    // exactly the arity the template's reader factory expects.
    val at = table.snapshot(e0.version)
    val pcs = at.partMeta
    val payload = at.schema
    val label = s"graft-stream:$root@(${s0.json()},${e0.json()}]"
    val slice =
      if (pcs.isEmpty || payload.isEmpty)
        org.apache.spark.sql.graft.shim
          .parquetTable(label, spark, options, files.map(_._1))
      else {
        val partSchema = org.apache.spark.sql.types.StructType(pcs.map(p =>
          org.apache.spark.sql.types.StructField(p.col, p.tpe)).toArray)
        org.apache.spark.sql.graft.shim.partitionedParquetTable(
          label, spark, options, files, payload.get, partSchema,
          dir => GraftTable.partDirValues(pcs, dir))
      }
    val sb = slice.asInstanceOf[SupportsRead].newScanBuilder(options)
    sb match {
      case p: org.apache.spark.sql.connector.read
          .SupportsPushDownRequiredColumns =>
        p.pruneColumns(template.readSchema())
      case _ => ()
    }
    sb.build().toBatch.planInputPartitions()
  }

  /** The files strictly between two positions — per-version
    * path-sorted, mid-commit bounds honored on both ends.
    */
  private def filesBetween(s0: GraftOffset,
                           e0: GraftOffset): Seq[(String, Long)] = {
    val floor = if (s0.index < 0L) s0.version else s0.version - 1L
    if (e0.version <= floor && e0.index < 0L) return Seq.empty
    table.appendSliceVersions(floor, e0.version).toSeq.flatMap {
      case (v, files) => GraftAdmission.window(s0, e0, v, files)
    }
  }

  /** ONE factory serves every micro-batch: ParquetScan's reader
    * factory binds (schema, pushed filters, conf) — never a file
    * list — so the slice-planned partitions above feed it directly.
    */
  override def createReaderFactory(): PartitionReaderFactory =
    template.toBatch.createReaderFactory()
}
