package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex, LogicalRelation, PartitionPath, PartitionSpec, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.FileTable
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** THE file index every reader of a GraftTable's data files plans
  * through — `readMeta` (every verb read, rewrite and batch feed),
  * the DSv2 snapshot scan and its stats re-prune, and both streams'
  * micro-batch slices. Delta's TahoeFileIndex design: the commit log
  * already knows every file's path, size and partition values, so
  * building the index lists and stats NOTHING — Spark's own
  * `InMemoryFileIndex` over the files, its status cache pre-filled
  * from the log, and a user-specified `PartitionSpec` whose values
  * [[GraftTable.partDirValues]] decodes from each file's value-dir
  * chain (empty for flat tables). No directory inference either:
  * staged (`data/<uuid>/k=v`), converted (`k=v` at the root) and
  * cloned (absolute external paths) layouts all restore uniformly,
  * and pruning on the keys happens on the driver, before any footer
  * is opened.
  *
  * `files` are (absolute path, bytes) from the log; `keys` the
  * partition columns to serve, in layout order.
  */
private[graft] object LogFileIndex {

  def apply(spark: SparkSession, files: Seq[(String, Long)],
            keys: Seq[GraftTable.PartMeta]): PartitioningAwareFileIndex = {
    val conf = spark.sessionState.newHadoopConf()
    val statuses = files.map { case (p, bytes) =>
      val path = new Path(p)
      new FileStatus(bytes, false, 1, 128L * 1024 * 1024, 0L,
        path.getFileSystem(conf).makeQualified(path))
    }
    val byPath = statuses.map(st => st.getPath -> Array(st)).toMap
    // the log is the source of truth: a refresh re-reads this cache
    val cache = new FileStatusCache {
      override def getLeafFiles(p: Path): Option[Array[FileStatus]] =
        byPath.get(p)
      override def putLeafFiles(p: Path, fs: Array[FileStatus]): Unit = ()
      override def invalidateAll(): Unit = ()
    }
    val spec = PartitionSpec(partitionSchema(keys),
      if (keys.isEmpty) Nil
      else statuses.map(_.getPath.getParent).distinct.map(dir =>
        PartitionPath(InternalRow.fromSeq(
          GraftTable.partDirValues(keys, dir.toString)), dir)))
    new InMemoryFileIndex(spark, statuses.map(_.getPath), Map.empty,
      None, cache, Some(spec))
  }

  def partitionSchema(keys: Seq[GraftTable.PartMeta]): StructType =
    StructType(keys.map(k => StructField(k.col, k.tpe)))

  /** The V1 DataFrame over [[apply]]'s index — `_metadata.file_path`
    * and `row_index` stay resolvable (the deletion-vector anti-join
    * keys on them). `dataSchema` None (a legacy log) infers from the
    * footers.
    */
  def frame(spark: SparkSession, files: Seq[(String, Long)],
            dataSchema: Option[StructType],
            keys: Seq[GraftTable.PartMeta]): DataFrame = {
    val index = apply(spark, files, keys)
    val data = dataSchema.orElse(inferSchema(spark, Map.empty,
      index.allFiles())).getOrElse(sys.error(
        "no recorded schema (legacy log) and no file to infer one from"))
    org.apache.spark.sql.graft.shim.dataFrame(spark, LogicalRelation(
      HadoopFsRelation(index, index.partitionSchema,
        org.apache.spark.sql.graft.shim.nullable(data), None,
        new ParquetFileFormat, Map.empty)(spark)))
  }

  /** The read-only DSv2 table over [[apply]]'s index: Spark's own
    * ParquetScanBuilder (vectorized reads, pushdown, column and
    * partition pruning). `payload` None infers from the footers.
    */
  def table(name: String, spark: SparkSession,
            options: CaseInsensitiveStringMap, files: Seq[(String, Long)],
            payload: Option[StructType],
            keys: Seq[GraftTable.PartMeta]): FileTable =
    new LogFileTable(name, spark, options, apply(spark, files, keys),
      payload)

  private def inferSchema(spark: SparkSession, options: Map[String, String],
                          files: Seq[FileStatus]): Option[StructType] =
    new ParquetFileFormat().inferSchema(spark, options, files)

  private class LogFileTable(tableName: String, spark: SparkSession,
                             options: CaseInsensitiveStringMap,
                             index: PartitioningAwareFileIndex,
                             payload: Option[StructType])
      extends FileTable(
        spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
        options, Seq.empty,
        payload.map(p => StructType(p.fields ++ index.partitionSchema.fields))) {

    override lazy val fileIndex: PartitioningAwareFileIndex = index

    override def name(): String = tableName

    override def formatName: String = "parquet"

    override def inferSchema(files: Seq[FileStatus]): Option[StructType] = {
      import scala.jdk.CollectionConverters._
      LogFileIndex.inferSchema(spark, options.asCaseSensitiveMap.asScala.toMap,
        files)
    }

    override def newScanBuilder(opts: CaseInsensitiveStringMap)
        : org.apache.spark.sql.connector.read.ScanBuilder =
      ParquetScanBuilder(
        spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
        fileIndex, schema, dataSchema, mergedOptions(opts))

    override def newWriteBuilder(
        info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
        : org.apache.spark.sql.connector.write.WriteBuilder =
      throw new UnsupportedOperationException(
        "graft snapshots are read-only at the file level — write " +
          "through the commit-log verbs")

    override def fallbackFileFormat
        : Class[_ <: org.apache.spark.sql.execution.datasources.FileFormat] =
      classOf[ParquetFileFormat]
  }
}
