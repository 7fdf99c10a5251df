package graft.sources

import java.io.{ObjectInputStream, ObjectOutputStream}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** `df.writeStream.format("graft").start(root)` — the NATIVE DSv2
  * streaming sink for [[GraftTable]], replacing the foreachBatch +
  * appendIdempotent discipline (s15) with the capability a SQL user
  * expects. Semantics are IDENTICAL because the commit path is the
  * same one:
  *
  *   - executors stage each epoch's rows as immutable parquet files
  *     under the table's data dir, through Spark's own parquet
  *     OutputWriter (vectorized-compatible files, real compression);
  *     nothing is visible until a commit references it;
  *   - the driver's epoch commit lands ALL of the epoch's staged
  *     files as ONE idempotent-tagged append — the tag is
  *     `(queryId, epochId)`, so a checkpoint-replayed epoch after
  *     restart is a NO-OP (its re-staged files are deleted, the
  *     ledger answer stands) — exactly-once across crash-replay
  *     without sink-side dedup state;
  *   - schema compatibility and CHECK constraints are enforced per
  *     epoch before the commit (a violating micro-batch aborts its
  *     epoch; the table never holds it).
  *
  * Scale shape: staging cost is proportional to the EPOCH, commit
  * cost is O(files-in-epoch) driver metadata (footer stats read +
  * one log write). The query never lists the table. Append output
  * mode only — Complete/Update need a replace-class commit per epoch
  * (use foreachBatch + overwrite/replacePartitions for those).
  *
  * Writing to a root with NO committed log yet BOOTSTRAPS the table:
  * the first epoch commit records the stream's schema (Delta's
  * create-on-first-write convention).
  */
private[sources] class GraftWriteBuilder(spark: SparkSession, path: String,
                                         info: LogicalWriteInfo,
                                         allowBatch: Boolean = false)
    extends WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsTruncate
    with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite {

  // INSERT OVERWRITE arrives as truncate() + write: the batch commit
  // becomes a serializable whole-set replace instead of an append
  private var overwrite = false
  override def truncate(): WriteBuilder = { overwrite = true; this }
  // under partitionOverwriteMode=dynamic the analyzer plans
  // OverwritePartitionsDynamic instead: replace exactly the incoming
  // value-dir chains (Spark's dynamic overwrite contract)
  private var dynamic = false
  override def overwriteDynamicPartitions(): WriteBuilder = {
    dynamic = true; this
  }

  override def build(): Write = new Write
      with RequiresDistributionAndOrdering {
    // partitioned tables CLUSTER incoming rows on the keys before
    // the writers see them, so each task opens O(its own values)
    // files instead of every task opening every partition's file —
    // the dynamic-partition write discipline at 1000 executors
    private val partCols = GraftTable.forPath(spark, path).snapshot().partMeta
    override def requiredDistribution
        : org.apache.spark.sql.connector.distributions.Distribution =
      if (partCols.isEmpty)
        org.apache.spark.sql.connector.distributions.Distributions
          .unspecified()
      else
        org.apache.spark.sql.connector.distributions.Distributions
          .clustered(partCols.map(p =>
            org.apache.spark.sql.connector.expressions.Expressions
              .identity(p.col): org.apache.spark.sql.connector
              .expressions.Expression).toArray)
    override def requiredOrdering
        : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
      Array.empty
    override def toStreaming: StreamingWrite = {
      if (overwrite || dynamic) throw new UnsupportedOperationException(
        "graft streaming writes are APPEND-mode only (Complete/Update " +
          "need a replace per epoch — use foreachBatch + overwrite/" +
          "replacePartitions)")
      new GraftStreamingWrite(spark, path, info.schema(),
        info.queryId())
    }
    /** SQL `INSERT INTO` / `INSERT OVERWRITE` / CTAS through
      * [[GraftCatalog]]. Deliberately NOT reachable from the
      * path-based format (`allowBatch=false` there): df.write keeps
      * its documented v1 fallback into the atomic-commit save modes.
      */
    override def toBatch: BatchWrite =
      if (allowBatch) new GraftBatchWrite(spark, path, info.schema(),
        overwrite, dynamic)
      else throw new UnsupportedOperationException(
        "graft v2 batch writes are catalog-scoped (INSERT INTO / " +
          "CTAS); df.write.format(\"graft\") rides the v1 commit path")
  }
}

/** Shared partition-aware staging setup for the v2 writes: splits
  * the incoming logical schema into payload vs the table's recorded
  * keys, and chooses the writer factory — flat single-file-per-task,
  * or the dynamic-partition writer that routes each row under its
  * escaped value-dir chain.
  */
private object GraftPartitionedStaging {
  def partCols(t: GraftTable): Seq[GraftTable.PartMeta] =
    t.snapshot().partMeta

  /** (payload schema, key (name, type, ordinal-in-full) list) — the
    * incoming schema must carry every recorded key with its recorded
    * type; refuses otherwise.
    */
  def split(full: StructType, keys: Seq[GraftTable.PartMeta])
      : (StructType, Seq[(String, org.apache.spark.sql.types.DataType, Int)]) = {
    val keyInfo = keys.map { k =>
      val i = full.fields.indexWhere(_.name.equalsIgnoreCase(k.col))
      require(i >= 0,
        s"partitioned write needs key column '${k.col}' in the input " +
          s"(have: ${full.fieldNames.mkString(", ")})")
      require(full.fields(i).dataType == k.tpe,
        s"partition column '${k.col}' is recorded as " +
          s"${k.tpe.catalogString}; the input carries " +
          full.fields(i).dataType.catalogString)
      (k.col, k.tpe, i)
    }
    val payload = StructType(full.fields.filterNot(f =>
      keys.exists(_.col.equalsIgnoreCase(f.name))))
    (payload, keyInfo)
  }
}

/** One SQL batch write = one atomic commit: executors stage parquet
  * under the table root (never visible until referenced), the driver
  * lands every staged file as ONE append — or, for INSERT OVERWRITE,
  * ONE serializable whole-set replace. Constraints gate the batch;
  * abort deletes the staged files.
  */
private class GraftBatchWrite(spark: SparkSession, path: String,
                              schema: StructType, overwrite: Boolean,
                              dynamic: Boolean = false)
    extends BatchWrite {
  private val t = GraftTable.forPath(spark, path)
  private val keys = GraftPartitionedStaging.partCols(t)
  // partitioned tables: the insert provides payload + keys; the
  // staged files hold the PAYLOAD (keys ride the value dirs)
  private val (payload, keyInfo) =
    if (keys.isEmpty) (schema, Seq.empty)
    else GraftPartitionedStaging.split(schema, keys)
  // fail fast at planning on an incompatible insert schema (an
  // overwrite may legitimately change the schema, like the verb —
  // though a partitioned overwrite keeps the recorded key layout;
  // a DYNAMIC overwrite behaves like an append here: other
  // partitions' files survive, so the schema must stay compatible)
  if (!overwrite) t.validateAppendSchema(payload)

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.DataWriterFactory = {
    val sub = s"data/${java.util.UUID.randomUUID.toString.take(12)}"
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    // an overwrite RESETS column mapping with the live set, so its
    // files stage under the new schema's own (logical) names; appends
    // stage under the active physical names
    val physical =
      if (overwrite) payload else t.physicalWriteSchema(payload)
    val factory = new ParquetFileFormat()
      .prepareWrite(spark, job, Map.empty, physical)
    if (keys.isEmpty)
      new GraftStagedWriterFactory(path, sub, physical, factory,
        new SerializableConf(job.getConfiguration))
    else
      new GraftPartitionedWriterFactory(path, sub, schema, physical,
        keyInfo, factory, new SerializableConf(job.getConfiguration))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val staged = messages.toSeq.flatMap {
      case GraftStagedFile(rel) => Seq(rel)
      case GraftStagedFiles(rels) => rels
      case _ => Seq.empty
    }
    t.commitStagedFiles(staged, payload, tag = None, overwrite = overwrite,
      dynamic = dynamic)
    ()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.toSeq.flatMap {
      case GraftStagedFile(rel) => Seq(rel)
      case GraftStagedFiles(rels) => rels
      case _ => Seq.empty
    }.foreach(t.deleteStaged)
}

private class GraftStreamingWrite(spark: SparkSession, path: String,
                                  schema: StructType, queryId: String)
    extends StreamingWrite {

  private val t = GraftTable.forPath(spark, path)
  private val keys = GraftPartitionedStaging.partCols(t)
  private val (payload, keyInfo) =
    if (keys.isEmpty) (schema, Seq.empty)
    else GraftPartitionedStaging.split(schema, keys)
  // fail fast at query START on an incompatible stream schema — not
  // epochs later at the first commit (bootstrap: no recorded schema
  // yet, anything goes)
  t.validateAppendSchema(payload)

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : StreamingDataWriterFactory = {
    // one staging namespace per query RUN; files name their epoch,
    // partition and task attempt, so retries never collide and only
    // committed files are ever referenced by the log
    val sub = s"data/${java.util.UUID.randomUUID.toString.take(12)}"
    new Path(path, sub) // validated lazily by the writers
    val job = Job.getInstance(
      spark.sessionState.newHadoopConf())
    // stage under PHYSICAL names (column mapping); rows carry no
    // names, so only the parquet file schema translates
    val physical = t.physicalWriteSchema(payload)
    val factory = new ParquetFileFormat()
      .prepareWrite(spark, job, Map.empty, physical)
    if (keys.isEmpty)
      new GraftStagedWriterFactory(path, sub, physical, factory,
        new SerializableConf(job.getConfiguration))
    else
      new GraftPartitionedWriterFactory(path, sub, schema, physical,
        keyInfo, factory, new SerializableConf(job.getConfiguration))
  }

  /** The EPOCH COMMIT: every staged file of `epochId`, as one
    * idempotent-tagged append. Replay ⇒ staged duplicates deleted,
    * no second commit.
    */
  override def commit(epochId: Long,
                      messages: Array[WriterCommitMessage]): Unit = {
    val staged = messages.toSeq.flatMap {
      case GraftStagedFile(rel) => Seq(rel)
      case GraftStagedFiles(rels) => rels
      case _ => Seq.empty
    }
    t.commitStreamEpoch(staged, s"stream:$queryId:$epochId", payload)
    ()
  }

  override def abort(epochId: Long,
                     messages: Array[WriterCommitMessage]): Unit =
    messages.toSeq.flatMap {
      case GraftStagedFile(rel) => Seq(rel)
      case GraftStagedFiles(rels) => rels
      case _ => Seq.empty
    }.foreach(t.deleteStaged)
}

/** One staged parquet file, named by its table-relative path. */
private case class GraftStagedFile(rel: String) extends WriterCommitMessage

/** A dynamic-partition task's staged files (one per value-dir chain
  * it wrote).
  */
private case class GraftStagedFiles(rels: Seq[String])
    extends WriterCommitMessage

private class GraftStagedWriterFactory(root: String, sub: String,
                                       schema: StructType,
                                       factory: OutputWriterFactory,
                                       conf: SerializableConf)
    extends StreamingDataWriterFactory
    with org.apache.spark.sql.connector.write.DataWriterFactory {

  private def mk(partitionId: Int, taskId: Long,
                 slot: String): DataWriter[InternalRow] = {
    val ctx = new TaskAttemptContextImpl(conf.value,
      new TaskAttemptID(new TaskID(new JobID("graft-stage", 0),
        TaskType.MAP, partitionId), (taskId % Int.MaxValue).toInt))
    val rel = s"$sub/part-$slot-$partitionId-$taskId" +
      factory.getFileExtension(ctx)
    new GraftStreamDataWriter(root, rel, schema, factory, ctx, conf.value)
  }

  // streaming: files name their epoch so replays never collide
  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    mk(partitionId, taskId, epochId.toString)

  // batch: one slot per write job (the sub dir is already unique)
  override def createWriter(partitionId: Int,
                            taskId: Long): DataWriter[InternalRow] =
    mk(partitionId, taskId, "b")
}

private class GraftStreamDataWriter(root: String, rel: String,
                                    schema: StructType,
                                    factory: OutputWriterFactory,
                                    ctx: TaskAttemptContextImpl,
                                    conf: Configuration)
    extends DataWriter[InternalRow] {
  private val out = factory.newInstance(s"$root/$rel", schema, ctx)
  private var rows = 0L

  override def write(record: InternalRow): Unit = {
    out.write(record); rows += 1
  }

  override def commit(): WriterCommitMessage = {
    out.close()
    GraftStagedFile(rel)
  }

  override def abort(): Unit = {
    try out.close() catch { case scala.util.control.NonFatal(_) => () }
    val p = new Path(s"$root/$rel")
    val fs = p.getFileSystem(conf)
    if (fs.exists(p)) fs.delete(p, false)
    ()
  }

  override def close(): Unit = ()
}

/** DYNAMIC-PARTITION staging (the v2 write over a partitioned
  * table): each task routes every row under its escaped value-dir
  * chain — one open OutputWriter per distinct chain the task sees
  * (the clustered distribution the Write requires keeps that
  * O(task's own values), not O(all values)) — and writes the
  * PAYLOAD projection (keys ride the dirs, the layer's invariant).
  * Chain rendering matches partitionBy's exactly: Spark's own
  * `getPartitionValueString` (hive escaping; null AND empty string →
  * the default-partition sentinel), dates as ISO `LocalDate`.
  */
private class GraftPartitionedWriterFactory(
    root: String, sub: String,
    fullSchema: StructType, payloadPhysical: StructType,
    keyInfo: Seq[(String, org.apache.spark.sql.types.DataType, Int)],
    factory: OutputWriterFactory, conf: SerializableConf)
    extends StreamingDataWriterFactory
    with org.apache.spark.sql.connector.write.DataWriterFactory {

  private def mk(partitionId: Int, taskId: Long,
                 slot: String): DataWriter[InternalRow] = {
    val ctx = new TaskAttemptContextImpl(conf.value,
      new TaskAttemptID(new TaskID(new JobID("graft-stage", 0),
        TaskType.MAP, partitionId), (taskId % Int.MaxValue).toInt))
    new GraftPartitionedDataWriter(root, sub,
      s"part-$slot-$partitionId-$taskId", fullSchema, payloadPhysical,
      keyInfo, factory, ctx, conf.value)
  }

  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    mk(partitionId, taskId, epochId.toString)

  override def createWriter(partitionId: Int,
                            taskId: Long): DataWriter[InternalRow] =
    mk(partitionId, taskId, "b")
}

private class GraftPartitionedDataWriter(
    root: String, sub: String, fileStem: String,
    fullSchema: StructType, payloadPhysical: StructType,
    keyInfo: Seq[(String, org.apache.spark.sql.types.DataType, Int)],
    factory: OutputWriterFactory,
    ctx: TaskAttemptContextImpl, conf: Configuration)
    extends DataWriter[InternalRow] {
  import org.apache.spark.sql.types._

  // payload projection: the ordinals of every non-key column, bound
  // against the FULL incoming row (generated once per task)
  private val proj = {
    val keyIdx = keyInfo.map(_._3).toSet
    org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(
      fullSchema.fields.zipWithIndex.collect {
        case (f, i) if !keyIdx.contains(i) =>
          org.apache.spark.sql.catalyst.expressions
            .BoundReference(i, f.dataType, nullable = true)
      }.toIndexedSeq)
  }

  private def token(row: InternalRow, dt: DataType, i: Int): String = {
    val v: String =
      if (row.isNullAt(i)) null
      else dt match {
        case StringType => row.getUTF8String(i).toString
        case LongType => row.getLong(i).toString
        case IntegerType => row.getInt(i).toString
        case ShortType => row.getShort(i).toString
        case ByteType => row.getByte(i).toString
        case DateType =>
          java.time.LocalDate.ofEpochDay(row.getInt(i).toLong).toString
        case other => throw new IllegalStateException(
          s"unsupported partition type ${other.catalogString}")
      }
    // Spark's own rendering: hive escaping, null/empty → sentinel
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .getPartitionValueString(v)
  }

  private val open = scala.collection.mutable.LinkedHashMap
    .empty[String, (String, org.apache.spark.sql.execution.datasources.OutputWriter)]
  private var ext: String = null

  override def write(record: InternalRow): Unit = {
    val chain = keyInfo.map { case (c, dt, i) =>
      s"$c=${token(record, dt, i)}"
    }.mkString("/")
    val (_, w) = open.getOrElseUpdate(chain, {
      if (ext == null) ext = factory.getFileExtension(ctx)
      val rel = s"$sub/$chain/$fileStem$ext"
      (rel, factory.newInstance(s"$root/$rel", payloadPhysical, ctx))
    })
    w.write(proj(record))
  }

  override def commit(): WriterCommitMessage = {
    open.values.foreach(_._2.close())
    GraftStagedFiles(open.values.map(_._1).toSeq)
  }

  override def abort(): Unit = {
    open.values.foreach { case (rel, w) =>
      try w.close() catch { case scala.util.control.NonFatal(_) => () }
      val p = new Path(s"$root/$rel")
      val fs = p.getFileSystem(conf)
      if (fs.exists(p)) fs.delete(p, false)
      ()
    }
  }

  override def close(): Unit = ()
}

/** Hadoop Configuration is not java-serializable; this carries it
  * task-ward by its own key-value wire format (what Spark's internal
  * SerializableConfiguration does).
  */
private class SerializableConf(@transient var value: Configuration)
    extends Serializable {
  private def writeObject(out: ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
}
