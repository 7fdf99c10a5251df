package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** The ROW-LEVEL change feed as a Structured Streaming source
  * (Delta's `readChangeFeed` stream; s17's machinery):
  *
  * {{{
  *   spark.readStream.format("graft")
  *     .option("readChangeFeed", "true")
  *     .option("startingVersion", 0)
  *     .load(root)   // payload…, _change_type, _commit_version
  * }}}
  *
  * Offsets are commit versions (GraftStreamSource's rule); each
  * micro-batch serves the commits in its version range as CHANGE
  * ROWS:
  *   - append commits stream their added files as `insert` rows;
  *   - merge/update/delete commits stream the pre/post/delete images
  *     staged at commit time (the `cdf/` files);
  *   - compact/zorder/constraint commits are content-neutral — no rows;
  *   - whole-scope rewrites (overwrite/replace/restore) REFUSE, the
  *     batch feed's honesty rule.
  *
  * Both row shapes ride Spark's own parquet reader: two template
  * scans (append slices: payload + path-restored partition keys via
  * the log-backed index; image files: payload + stored keys +
  * _change_type) supply the reader factories, and a tagging wrapper
  * appends the constant columns (`_change_type` for add-slices,
  * `_commit_version` for both) per partition — row-based (columnar
  * off), since the constants join row-by-row.
  */
object GraftCdfStream {
  val Options = "readChangeFeed"

  /** payload schema + the two CDF metadata columns. */
  def cdfSchema(payload: StructType): StructType =
    payload.add(GraftTable.ChangeTypeCol, StringType)
      .add(GraftTable.VersionCol, LongType)
}

/** `partCols` are the table's recorded partition keys (empty on flat
  * tables): their values ride file PATHS on append slices (restored
  * through the log-backed partitioned index) and STORED COLUMNS on
  * DML image files (the DML read restored them), so both slice
  * shapes serve `payload ++ partCols` uniformly.
  */
class GraftCdfStreamTable(spark: SparkSession, path: String,
                          payload: StructType,
                          partCols: Seq[GraftTable.PartMeta] = Seq.empty)
    extends Table
    with SupportsRead {
  private val full = StructType(payload.fields ++ partCols.map(p =>
    org.apache.spark.sql.types.StructField(p.col, p.tpe)))
  override def name(): String = s"graft-cdf:$path"
  override def schema(): StructType = GraftCdfStream.cdfSchema(full)
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = () => new Scan {
    override def readSchema(): StructType = schema()
    override def description(): String = name()
    override def toMicroBatchStream(checkpointLocation: String)
        : MicroBatchStream =
      new GraftCdfMicroBatchStream(spark, path, payload, partCols, options)
  }
}

/** An input partition tagged with its constant CDF columns: the
  * change type to append (None when the underlying rows carry their
  * own `_change_type` — the cdf image files) and the commit version.
  */
case class CdfTaggedPartition(inner: InputPartition,
                              changeType: Option[String],
                              version: Long) extends InputPartition {
  override def preferredLocations(): Array[String] =
    inner.preferredLocations()
}

class GraftCdfMicroBatchStream(spark: SparkSession, root: String,
                               payload: StructType,
                               partCols: Seq[GraftTable.PartMeta],
                               options: CaseInsensitiveStringMap)
    extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming
      .SupportsTriggerAvailableNow {

  // Trigger.AvailableNow pins the run's target version at query start
  // (the table-stream source's contract)
  private var availableNowCap: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit = {
    availableNowCap = Some(table.latestVersion)
  }

  private val table = GraftTable.forPath(spark, root)
  private val starting =
    Option(options.get("startingVersion")).map(_.toLong).getOrElse(0L)
  // ADMISSION CONTROL — the same option surface as the table stream
  // (a CDF bootstrap from version 0 is just as corpus-sized): offsets
  // are file-granular positions into each version's path-sorted CDF
  // slice, so a bounded batch may end mid-commit and the next one
  // resumes at exactly that file. Splitting a DML commit's images
  // across batches keeps exactly-once (immutable files, total sort) —
  // CDF consumers are change-log-ordered, not commit-atomic.
  private val maxFiles =
    Option(options.get("maxFilesPerTrigger")).map(_.toInt)
  private val maxBytes =
    Option(options.get("maxBytesPerTrigger")).map(_.toLong)
  maxFiles.foreach(n => require(n > 0, s"maxFilesPerTrigger must be > 0: $n"))
  maxBytes.foreach(b => require(b > 0, s"maxBytesPerTrigger must be > 0: $b"))
  private val partSchema = StructType(partCols.map(p =>
    org.apache.spark.sql.types.StructField(p.col, p.tpe)).toArray)
  // image files STORE the partition columns (the DML restore wrote
  // them), so the image schema reads them as plain columns
  private val imageSchema = StructType(
    payload.fields ++ partSchema.fields)
    .add(GraftTable.ChangeTypeCol, StringType)

  override def initialOffset(): Offset = GraftOffset(starting)
  override def latestOffset(): Offset = GraftOffset(table.latestVersion)
  override def deserializeOffset(json: String): Offset =
    GraftOffset.fromJson(json)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def getDefaultReadLimit
      : org.apache.spark.sql.connector.read.streaming.ReadLimit =
    GraftAdmission.defaultLimit(maxFiles, maxBytes)

  override def reportLatestOffset(): Offset =
    GraftOffset(availableNowCap.getOrElse(table.latestVersion))

  override def latestOffset(start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit)
      : Offset = {
    val s0 = start.asInstanceOf[GraftOffset]
    val latest = availableNowCap.getOrElse(table.latestVersion)
    val floor = if (s0.index < 0L) s0.version else s0.version - 1L
    if (latest <= floor) return s0
    val (fCap, bCap) = GraftAdmission.capsOf(limit, maxFiles, maxBytes)
    if (fCap.isEmpty && bCap.isEmpty) return GraftOffset(latest)
    val perV = table.cdfSliceVersions(floor, latest).map(s => (s._1, s._2))
    val (pos, capBound) = GraftAdmission.walk(s0, perV, fCap, bCap)
    // cdfSliceVersions OMITS content-neutral versions, so an un-capped walk
    // must still advance the boundary past a metadata-only tail
    if (capBound) pos else GraftOffset(latest)
  }

  /** A slice scan over DML image `files` read at `schema` (empty
    * list is fine — the explicit schema spares inference).
    */
  private def scanOf(files: Seq[String], schema: StructType): Scan =
    org.apache.spark.sql.graft.shim
      .parquetTable(s"graft-cdf-slice:$root", spark,
        CaseInsensitiveStringMap.empty(), files, Some(schema))
      .asInstanceOf[SupportsRead]
      .newScanBuilder(CaseInsensitiveStringMap.empty()).build()

  /** A slice scan over append `files`: on a partitioned table the
    * keys live in the file paths — the log-backed partitioned index
    * restores them (the table-stream source's machinery), so the
    * scan's output is payload ++ partCols.
    */
  private def appendScanOf(files: Seq[(String, Long)]): Scan = {
    val t =
      if (partCols.isEmpty)
        org.apache.spark.sql.graft.shim.parquetTable(
          s"graft-cdf-slice:$root", spark,
          CaseInsensitiveStringMap.empty(), files.map(_._1), Some(payload))
      else
        org.apache.spark.sql.graft.shim.partitionedParquetTable(
          s"graft-cdf-slice:$root", spark,
          CaseInsensitiveStringMap.empty(), files, payload, partSchema,
          dir => GraftTable.partDirValues(partCols, dir))
    t.asInstanceOf[SupportsRead]
      .newScanBuilder(CaseInsensitiveStringMap.empty()).build()
  }

  override def planInputPartitions(start: Offset,
                                   end: Offset): Array[InputPartition] = {
    val s0 = start.asInstanceOf[GraftOffset]
    val e0 = end.asInstanceOf[GraftOffset]
    val floor = if (s0.index < 0L) s0.version else s0.version - 1L
    table.cdfSliceVersions(floor, e0.version).toSeq.flatMap {
      case (v, files, changeType) =>
        val window = GraftAdmission.window(s0, e0, v, files)
        if (window.isEmpty) Array.empty[InputPartition]
        else {
          val scan =
            if (changeType.isDefined) appendScanOf(window)
            else scanOf(window.map(_._1), imageSchema)
          scan.toBatch.planInputPartitions()
            .map(p => CdfTaggedPartition(p, changeType, v)
              : InputPartition)
        }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new CdfTaggingReaderFactory(
      appendScanOf(Seq.empty).toBatch.createReaderFactory(),
      scanOf(Seq.empty, imageSchema).toBatch.createReaderFactory())
}

/** Routes each tagged partition to the right parquet reader factory
  * (payload-shaped add files vs image files that already carry
  * `_change_type`) and appends the constant columns row-by-row.
  */
class CdfTaggingReaderFactory(payloadFactory: PartitionReaderFactory,
                              imageFactory: PartitionReaderFactory)
    extends PartitionReaderFactory {

  override def supportColumnarReads(partition: InputPartition): Boolean =
    false // constants join row-by-row

  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[CdfTaggedPartition]
    val inner = p.changeType match {
      case Some(_) => payloadFactory.createReader(p.inner)
      case None => imageFactory.createReader(p.inner)
    }
    val tail = p.changeType match {
      case Some(ct) => // append (_change_type, _commit_version)
        new GenericInternalRow(Array[Any](UTF8String.fromString(ct),
          p.version))
      case None => // rows carry _change_type; append _commit_version
        new GenericInternalRow(Array[Any](p.version))
    }
    new PartitionReader[InternalRow] {
      private val joined = new JoinedRow()
      override def next(): Boolean = inner.next()
      override def get(): InternalRow = joined(inner.get(), tail)
      override def close(): Unit = inner.close()
    }
  }
}
