package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge. Spark 4 moved these conversions behind
  * `private[sql]` (`org.apache.spark.sql.classic.ExpressionUtils`,
  * columnNodeSupport.scala); a library adding native Catalyst
  * expressions still needs them, hence this package-located shim —
  * the same technique third-party Spark extensions use.
  */
object shim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Column → CONVERTED Catalyst tree. `expression(c)` returns a lazy
    * `ColumnNodeExpression` wrapper (fine for plans, opaque to
    * pattern-matching); this runs the session converter so stats
    * evaluation sees the real And/LessThan/Literal shapes.
    */
  def catalystExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** DataFrame over an analyzed logical plan (`Dataset.ofRows` is
    * `private[sql]`) — the SQL MERGE bridge turns the parsed source
    * relation back into the DataFrame the merge verb consumes.
    */
  def dataFrame(spark: SparkSession,
                plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  def registerFunction(spark: SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, builder, "built-in")

  /** Construct Spark's own v2 ParquetTable over an explicit file
    * list — `private[sql]` (this package is inside org.apache.spark
    * .sql, so the access is compile-legal), used by the `graft`
    * DataSource to serve a GraftTable snapshot through the REAL
    * parquet scan: vectorized reader, filter pushdown, column
    * pruning — none of which a hand-rolled RDD[Row] relation keeps.
    */
  def parquetTable(name: String, spark: SparkSession,
                   options: org.apache.spark.sql.util.CaseInsensitiveStringMap,
                   paths: Seq[String],
                   schema: Option[org.apache.spark.sql.types.StructType] = None)
      : org.apache.spark.sql.connector.catalog.Table =
    org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable(
      name, spark, options, paths, schema,
      classOf[org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat])

  /** All-fields-nullable view of a schema (`StructType.asNullable` is
    * `private[sql]`): recorded table schemas must not impose a
    * written DataFrame's non-null flags on later parquet reads.
    */
  def nullable(st: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = st.asNullable

  /** Drain the async listener bus so `statusTracker` reflects every
    * event already posted — needed by specs that assert on job COUNTS
    * (e.g. "plan construction launched zero jobs"); without the drain
    * a zero-assertion can pass vacuously on delivery lag.
    */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Post an operator's own event (`listenerBus` is `private[spark]`):
    * how [[graft.Gate]] records its decisions.
    */
  def postEvent(spark: SparkSession,
                e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
    spark.sparkContext.listenerBus.post(e)

  /** A v2 parquet Table over an explicit file list WITH log-served
    * hive-partition values — Delta's TahoeFileIndex design: the
    * commit log already knows every file's path, size, and partition
    * values, so the index performs NO filesystem listing and NO
    * directory-structure inference (Spark's own inference requires
    * partition dirs contiguous under one root, which a staged
    * `data/<uuid>/country=X/` layout and a converted-then-DML'd table
    * both violate — and listing value dirs would resurrect
    * logically-removed files). Partition pruning on the restored
    * columns happens in [[GraftLogFileIndex.listFiles]] via Spark's
    * standard partition-filter machinery, driver-side, before any
    * footer is opened.
    *
    * `files` are (absolute path, bytes) from the log; `valuesOf`
    * maps a file's PARENT DIRECTORY path to the partition values
    * (Catalyst-encoded, aligned with `partitionSchema`).
    */
  def partitionedParquetTable(name: String, spark: SparkSession,
                              options: org.apache.spark.sql.util.CaseInsensitiveStringMap,
                              files: Seq[(String, Long)],
                              payloadSchema: org.apache.spark.sql.types.StructType,
                              partitionSchema: org.apache.spark.sql.types.StructType,
                              valuesOf: String => Seq[Any])
      : org.apache.spark.sql.connector.catalog.Table =
    new GraftPartitionedParquetTable(name, spark, options, files,
      payloadSchema, partitionSchema, valuesOf)
}

/** Log-backed file index: see [[shim.partitionedParquetTable]]. */
private[graft] class GraftLogFileIndex(
    spark: SparkSession,
    files: Seq[(String, Long)],
    partSchema: org.apache.spark.sql.types.StructType,
    valuesOf: String => Seq[Any])
    extends org.apache.spark.sql.execution.datasources
      .PartitioningAwareFileIndex(
        spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
        Map.empty, None) {
  import org.apache.hadoop.fs.{FileStatus, Path}

  private val statuses: Seq[(Path, FileStatus)] = files.map {
    case (p, bytes) =>
      val path = new Path(p)
      (path, new FileStatus(bytes, false, 1, 128L * 1024 * 1024, 0L, path))
  }

  private val byDir: Map[Path, Array[FileStatus]] =
    statuses.groupBy(_._1.getParent).view
      .mapValues(_.map(_._2).toArray).toMap

  override val rootPaths: Seq[Path] = byDir.keys.toSeq

  override def partitionSpec()
      : org.apache.spark.sql.execution.datasources.PartitionSpec =
    org.apache.spark.sql.execution.datasources.PartitionSpec(
      partSchema,
      byDir.keys.toSeq.sortBy(_.toString).map { dir =>
        org.apache.spark.sql.execution.datasources.PartitionPath(
          org.apache.spark.sql.catalyst.InternalRow
            .fromSeq(valuesOf(dir.toString)),
          dir)
      })

  override def leafFiles
      : scala.collection.mutable.LinkedHashMap[Path, FileStatus] = {
    val m = scala.collection.mutable.LinkedHashMap.empty[Path, FileStatus]
    statuses.foreach { case (p, st) => m += p -> st }
    m
  }

  override def leafDirToChildrenFiles: Map[Path, Array[FileStatus]] = byDir

  override def refresh(): Unit = () // the log is the source of truth
}

/** Read-only FileTable over [[GraftLogFileIndex]]: the real
  * ParquetScanBuilder (vectorized reads, pushdown, pruning,
  * partition-filter pruning) over log-resolved files with
  * log-served partition values.
  */
private[graft] class GraftPartitionedParquetTable(
    tableName: String,
    sparkSession2: SparkSession,
    options2: org.apache.spark.sql.util.CaseInsensitiveStringMap,
    files: Seq[(String, Long)],
    payloadSchema: org.apache.spark.sql.types.StructType,
    partSchema: org.apache.spark.sql.types.StructType,
    valuesOf: String => Seq[Any])
    extends org.apache.spark.sql.execution.datasources.v2.FileTable(
      sparkSession2.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      options2, Seq.empty,
      Some(org.apache.spark.sql.types.StructType(
        payloadSchema.fields ++ partSchema.fields))) {

  override lazy val fileIndex
      : org.apache.spark.sql.execution.datasources
        .PartitioningAwareFileIndex =
    new GraftLogFileIndex(sparkSession2, files, partSchema, valuesOf)

  override def name(): String = tableName

  override def formatName: String = "parquet"

  override def inferSchema(
      files: Seq[org.apache.hadoop.fs.FileStatus])
      : Option[org.apache.spark.sql.types.StructType] =
    Some(payloadSchema) // schema always comes from the log

  override def newScanBuilder(
      opts: org.apache.spark.sql.util.CaseInsensitiveStringMap)
      : org.apache.spark.sql.connector.read.ScanBuilder =
    org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder(
      sparkSession2.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      fileIndex, schema, dataSchema, opts)

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    throw new UnsupportedOperationException(
      "graft partitioned snapshots are read-only at the file level — " +
        "write through the commit-log verbs")

  override def fallbackFileFormat
      : Class[_ <: org.apache.spark.sql.execution.datasources.FileFormat] =
    classOf[org.apache.spark.sql.execution.datasources.parquet
      .ParquetFileFormat]
}
