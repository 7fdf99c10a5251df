package graft.sources

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.Table
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** `spark.read.format("graft")` — the SQL-user surface of
  * [[GraftTable]]: resolve a committed snapshot from the table's log
  * (latest, or `versionAsOf`), then serve it through Spark's OWN v2
  * parquet table over the resolved file list — so the scan is the
  * real ParquetScan with vectorized reads, filter pushdown and column
  * pruning intact (a hand-rolled BaseRelation/RDD[Row] bridge would
  * silently drop all three; GraftDataSourceSpec asserts PushedFilters
  * on the plan to keep that true). Discovery goes through the
  * standard `DataSourceRegister` service file, so
  *
  * {{{
  *   spark.read.format("graft").load(root)                       // latest snapshot
  *   spark.read.format("graft").option("versionAsOf", 2).load(root) // time travel
  * }}}
  *
  * and `CREATE TABLE t USING graft OPTIONS (path '…')` all work with
  * no imports. Snapshot isolation holds by construction: the file
  * list is pinned when the relation resolves, and removed files stay
  * on disk (GraftTable's logical removes), so a concurrent
  * compact/overwrite can't perturb a running query.
  */
class GraftDataSource extends org.apache.spark.sql.connector.catalog.TableProvider
    with DataSourceRegister
    with org.apache.spark.sql.sources.CreatableRelationProvider {

  override def shortName(): String = "graft"

  /** The WRITE path rides the v1 bridge (Spark uses it when a v2
    * provider doesn't implement SupportsWrite — the standard split
    * for log-managed formats): `df.write.format("graft")
    * .mode(...).save(root)` maps straight onto the table's atomic
    * verbs — Append → `append` (one commit), Overwrite →
    * `overwrite`/create (one commit replacing the live set),
    * ErrorIfExists/Ignore honor an existing log. Every mode is ONE
    * atomic commit; a reader can never observe a half-written save.
    */
  override def createRelation(sqlContext: org.apache.spark.sql.SQLContext,
                              mode: org.apache.spark.sql.SaveMode,
                              parameters: Map[String, String],
                              data: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.sources.BaseRelation = {
    import org.apache.spark.sql.SaveMode._
    val path = parameters.getOrElse("path",
      sys.error("the graft format needs a table root: .save(<root>)"))
    val t = GraftTable.forPath(data.sparkSession, path)
    val exists = t.latestVersion > 0
    // `.partitionBy(cols…)` arrives in the v1 bridge as the encoded
    // `__partition_columns` option (Spark's own convention for v1
    // relation providers) — route it into the PARTITIONED verbs
    // instead of silently landing a flat layout with the keys as
    // data columns (measured: without this the intent is dropped
    // without a warning — the exact pattern a Delta user migrates
    // with, `df.write.format(…).partitionBy("date").save(root)`)
    val partCols: Seq[String] =
      parameters.get(GraftDataSource.PartitioningColumnsKey)
        .map { j =>
          val r = new com.fasterxml.jackson.databind.ObjectMapper()
            .readTree(j)
          (0 until r.size).map(i => r.get(i).asText)
        }.getOrElse(Seq.empty)
    // Delta's per-write overwrite scoping options (round 15):
    // .option("replaceWhere", "<partition predicate>") replaces
    // exactly the matched chains; .option("partitionOverwriteMode",
    // "dynamic") replaces exactly the incoming batch's chains. Both
    // require Overwrite mode — on any other mode the intent would be
    // silently dropped, so refuse loudly (Delta's rule).
    val replaceWhereOpt = parameters.get("replaceWhere")
    val dynamicOpt = parameters.get("partitionOverwriteMode")
      .map { m =>
        require(m.equalsIgnoreCase("dynamic") ||
          m.equalsIgnoreCase("static"),
          s"partitionOverwriteMode must be static or dynamic, got '$m'")
        m.equalsIgnoreCase("dynamic")
      }.getOrElse(false)
    if ((replaceWhereOpt.isDefined || dynamicOpt) && mode != Overwrite)
      throw new IllegalArgumentException(
        "replaceWhere / partitionOverwriteMode=dynamic require " +
          "mode(\"overwrite\") — on any other SaveMode the scoping " +
          "intent would be silently dropped")
    require(replaceWhereOpt.isEmpty || !dynamicOpt,
      "replaceWhere and partitionOverwriteMode=dynamic are mutually " +
        "exclusive — one names the scope, the other discovers it")
    // appends must match the table's schema (names + types, order
    // free): a mismatched commit would poison every later read —
    // s.read.parquet over a mixed file list silently takes ONE
    // file's schema (Delta rejects this at write time; so do we).
    // Partitioned appends validate through appendPartitioned's own
    // payload-schema + key-consistency gates instead.
    if (exists && mode == Append && partCols.isEmpty) {
      def sig(sch: StructType) =
        sch.fields.map(f => (f.name, f.dataType)).sortBy(_._1).toSeq
      val existing = t.read().schema
      require(sig(existing) == sig(data.schema),
        s"schema mismatch appending to graft table at $path: table has " +
          s"${existing.simpleString}, batch has ${data.schema.simpleString}")
    }
    def land(): Unit =
      if (partCols.isEmpty) { t.append(data); () }
      else { t.appendPartitioned(data, partCols, null); () }
    mode match {
      case Append if partCols.nonEmpty => t.appendPartitioned(data, partCols, null)
      case Append                     => t.append(data)
      case Overwrite if replaceWhereOpt.isDefined || dynamicOpt =>
        // scoped overwrite of a table that does not exist yet would
        // hit the verbs on an empty log (latestVersion 0, no recorded
        // layout) and fail with a baffling message — refuse explicitly
        if (!exists) throw new IllegalStateException(
          s"no graft table at $path — replaceWhere / " +
            "partitionOverwriteMode=dynamic scope an overwrite of an " +
            "EXISTING table; create it first (plain overwrite/append)")
        if (replaceWhereOpt.isDefined)
          t.replaceWhere(
            org.apache.spark.sql.functions.expr(replaceWhereOpt.get), data)
        else t.overwritePartitionsDynamic(data)
      case Overwrite if exists && partCols.nonEmpty =>
        t.overwritePartitioned(data, partCols)
      case Overwrite if exists        => t.overwrite(data)
      case Overwrite                  => land()
      case ErrorIfExists if exists =>
        throw new IllegalStateException(s"graft table already exists at $path")
      case ErrorIfExists              => land()
      case Ignore if exists           => ()
      case Ignore                     => land()
    }
    // the relation handed back is the committed snapshot
    val outer = sqlContext
    new org.apache.spark.sql.sources.BaseRelation {
      override def sqlContext: org.apache.spark.sql.SQLContext = outer
      override def schema: StructType = data.schema
    }
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftDataSource.resolveTable(options).schema()

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    GraftDataSource.resolveTable(new CaseInsensitiveStringMap(properties))

  override def supportsExternalMetadata(): Boolean = false
}

/** Marker every DSv2 snapshot of a graft table carries: names the
  * table ROOT so plan rewrites (SQL UPDATE / MERGE INTO — see
  * [[GraftRowLevelSql]]) can route back into the commit-log verbs
  * without parsing display names.
  */
trait GraftSnapshotTable {
  def tablePath: String
}

object GraftDataSource {

  /** Spark's v1-bridge option key carrying `.partitionBy` columns as
    * a JSON string array (DataSourceUtils.PARTITIONING_COLUMNS_KEY —
    * the constant is `private[sql]`, the WIRE KEY is Spark's stable
    * v1-provider convention).
    */
  private[sources] val PartitioningColumnsKey = "__partition_columns"

  /** A READ-ONLY view of the snapshot table. Deliberately not
    * SupportsWrite even though the underlying ParquetTable is: a v2
    * batch write would drop parquet files straight onto the resolved
    * paths BEHIND the commit log — advertising only BATCH_READ makes
    * `df.write.format("graft")` take Spark's documented v1 fallback
    * into [[createRelation]], where every mode is an atomic commit.
    * MICRO_BATCH_READ serves the commit log as a streaming source
    * ([[GraftMicroBatchStream]]): batch scans delegate untouched
    * (pushdown intact through the shim's DelegatingScanBuilder),
    * streaming scans ride the same built ParquetScan's reader
    * factory over per-version micro-batch slices.
    *
    * SupportsDelete gives the table SQL row-level DELETE — but NOT a
    * second mutation path: `DELETE FROM gt.`/root`` WHERE …` routes
    * the (fully-translatable) condition into
    * [[GraftTable.deleteWhere]]'s copy-on-write commit, the same
    * stats-pruned touched-file rewrite the verb runs. A condition
    * Spark cannot express as source filters is REFUSED at
    * canDeleteWhere (the engine then errors instead of silently
    * deleting the wrong rows). TRUNCATE maps to delete-everything —
    * one commit, time-travel intact.
    */
  private class ReadOnlySnapshot(underlying: Table, spark: SparkSession,
                                 path: String,
                                 fileMeta: Seq[(String, Long, Option[String])],
                                 readRefusal: Option[String] = None,
                                 batchWritable: Boolean = false,
                                 tableOver: Option[
                                   (Seq[(String, Long)], String) => Table] =
                                   None,
                                 partitionNames: Seq[String] = Seq.empty)
      extends Table
      with org.apache.spark.sql.connector.catalog.SupportsRead
      with org.apache.spark.sql.connector.catalog.SupportsDelete
      with org.apache.spark.sql.connector.catalog.SupportsWrite
      with GraftSnapshotTable {
    override def tablePath: String = path
    override def name(): String = underlying.name()
    override def schema(): StructType = underlying.schema()
    // report the recorded keys as identity transforms: DESCRIBE
    // shows the layout and INSERT ... PARTITION resolves
    override def partitioning()
        : Array[org.apache.spark.sql.connector.expressions.Transform] =
      partitionNames.map(c =>
        org.apache.spark.sql.connector.expressions.Expressions
          .identity(c)).toArray
    // STREAMING_WRITE but deliberately NOT BATCH_WRITE: batch saves
    // keep the documented v1 fallback into createRelation (atomic
    // commits per SaveMode); streaming rides the native epoch-commit
    // sink (GraftStreamingWrite — exactly-once via the tag ledger)
    override def capabilities(): util.Set[
        org.apache.spark.sql.connector.catalog.TableCapability] = {
      import org.apache.spark.sql.connector.catalog.TableCapability._
      val caps = java.util.EnumSet.of(BATCH_READ, MICRO_BATCH_READ,
        STREAMING_WRITE)
      // catalog-resolved tables additionally take SQL INSERT INTO /
      // INSERT OVERWRITE / CTAS through the v2 batch write (one
      // staged-files commit); the path-based format deliberately
      // does NOT advertise BATCH_WRITE so df.write keeps its v1
      // atomic-commit fallback
      if (batchWritable) {
        caps.add(BATCH_WRITE); caps.add(TRUNCATE)
        // partitionOverwriteMode=dynamic: INSERT OVERWRITE replaces
        // exactly the incoming value-dir chains (one 'replace' commit)
        caps.add(OVERWRITE_DYNAMIC)
        // MERGE ... WITH SCHEMA EVOLUTION (round 16): Spark's
        // ResolveMergeIntoSchemaEvolution gates on this capability,
        // then routes the additive changes through the catalog's
        // alterTable (→ GraftTable.addColumn, a metadata commit) and
        // re-resolves the merge against the evolved schema — so the
        // clause rewrite itself needs no special casing
        caps.add(AUTOMATIC_SCHEMA_EVOLUTION); ()
      }
      caps
    }

    override def newWriteBuilder(
        info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
        : org.apache.spark.sql.connector.write.WriteBuilder =
      new GraftWriteBuilder(spark, path, info, allowBatch = batchWritable)

    /** LOG-LEVEL DATA SKIPPING for the SQL/DataFrame read path: once
      * Spark pushes the data filters, drop every file whose logged
      * min/max stats cannot satisfy them (FileStats.mayMatch —
      * conservative; files without stats are kept) and serve the scan
      * from a ParquetTable over the SURVIVORS, with the captured
      * pushdown replayed. At millions of files this prunes in the
      * driver during planning, before any footer is opened — Delta's
      * stats-skipping read, and the same evaluator `readWhere` and
      * the DML verbs use. No-op when nothing prunes.
      */
    private def reprune(filters: Seq[
        org.apache.spark.sql.catalyst.expressions.Expression])
        : Option[org.apache.spark.sql.connector.read.ScanBuilder] = {
      val pred = filters.reduceOption(
        org.apache.spark.sql.catalyst.expressions.And)
      pred.flatMap { p =>
        val survivors = fileMeta.collect {
          case (f, b, st) if FileStats.mayMatch(st, p) => (f, b)
        }
        if (survivors.size >= fileMeta.size) None
        else {
          val label =
            s"${underlying.name()}@skip${fileMeta.size - survivors.size}"
          // partitioned snapshots rebuild through the log-backed
          // index factory so the restored columns keep serving
          val t2 = tableOver.map(f => f(survivors, label)).getOrElse(
            org.apache.spark.sql.graft.shim.parquetTable(
              label, spark, CaseInsensitiveStringMap.empty(),
              survivors.map(_._1), Some(underlying.schema())))
          Some(t2
            .asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsRead]
            .newScanBuilder(CaseInsensitiveStringMap.empty()))
        }
      }
    }

    override def newScanBuilder(options: CaseInsensitiveStringMap)
        : org.apache.spark.sql.connector.read.ScanBuilder = {
      readRefusal.foreach(msg =>
        throw new UnsupportedOperationException(msg))
      new org.apache.spark.sql.graft.DelegatingScanBuilder(
        underlying
          .asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsRead]
          .newScanBuilder(options),
        under => new GraftScanWithStream(under, spark, path, options),
        // option("dataSkipping", false) opts a read out (A/B runs,
        // stats-distrust debugging) — skipping stays the default
        if (options.getBoolean("dataSkipping", true)) reprune
        else _ => None)
    }

    override def canDeleteWhere(
        filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
      filters.forall(f => filterToColumn(f).isDefined)

    override def deleteWhere(
        filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
      val pred = filters.flatMap(filterToColumn).toSeq match {
        case Seq() => org.apache.spark.sql.functions.lit(true)
        case cs => cs.reduce(_ && _)
      }
      GraftTable.forPath(spark, path).deleteWhere(pred)
      ()
    }

    override def truncateTable(): Boolean = {
      GraftTable.forPath(spark, path)
        .deleteWhere(org.apache.spark.sql.functions.lit(true))
      true
    }
  }

  /** v1 source Filter → Column, total on the shapes SQL DELETE can
    * push; None (⇒ canDeleteWhere false ⇒ Spark refuses the DELETE)
    * on anything else.
    */
  private def filterToColumn(f: org.apache.spark.sql.sources.Filter)
      : Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.sources._
    f match {
      case EqualTo(a, v)            => Some(col(a) === lit(v))
      case EqualNullSafe(a, v)      => Some(col(a) <=> lit(v))
      case GreaterThan(a, v)        => Some(col(a) > lit(v))
      case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
      case LessThan(a, v)           => Some(col(a) < lit(v))
      case LessThanOrEqual(a, v)    => Some(col(a) <= lit(v))
      case In(a, vs)                => Some(col(a).isin(vs.toIndexedSeq: _*))
      case IsNull(a)                => Some(col(a).isNull)
      case IsNotNull(a)             => Some(col(a).isNotNull)
      case StringStartsWith(a, v)   => Some(col(a).startsWith(v))
      case StringEndsWith(a, v)     => Some(col(a).endsWith(v))
      case StringContains(a, v)     => Some(col(a).contains(v))
      case And(l, r) =>
        for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc && rc
      case Or(l, r) =>
        for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc || rc
      case Not(c)                   => filterToColumn(c).map(!_)
      case _: AlwaysTrue            => Some(lit(true))
      case _: AlwaysFalse           => Some(lit(false))
      case _                        => None
    }
  }

  /** Placeholder for a root with no committed log yet: schema-less and
    * unscannable (reading it errors with the real reason), but enough
    * of a Table for the WRITE flow to pass through to the v1 commit
    * path that will create the log.
    */
  private class EmptyTable(path: String) extends Table
      with org.apache.spark.sql.connector.catalog.SupportsRead
      with org.apache.spark.sql.connector.catalog.SupportsWrite {
    override def name(): String = s"graft:$path@empty"
    override def schema(): StructType = new StructType()
    // STREAMING_WRITE on a not-yet-created table BOOTSTRAPS it: the
    // first epoch commit records the stream's schema (Delta's
    // create-on-first-write convention for streaming sinks)
    override def capabilities(): util.Set[
        org.apache.spark.sql.connector.catalog.TableCapability] =
      java.util.EnumSet.of(
        org.apache.spark.sql.connector.catalog.TableCapability.BATCH_READ,
        org.apache.spark.sql.connector.catalog.TableCapability
          .STREAMING_WRITE)
    override def newScanBuilder(options: CaseInsensitiveStringMap)
        : org.apache.spark.sql.connector.read.ScanBuilder =
      throw new IllegalStateException(s"no graft table at $path (empty log)")
    override def newWriteBuilder(
        info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
        : org.apache.spark.sql.connector.write.WriteBuilder =
      new GraftWriteBuilder(SparkSession.active, path, info)
  }

  private[sources] def resolveTable(options: CaseInsensitiveStringMap): Table = {
    val spark = SparkSession.active
    val path = options.get("path")
    require(path != null && path.nonEmpty,
      "the graft format needs a table root: .load(<root>) or option(\"path\", …)")
    if (options.getBoolean(GraftCdfStream.Options, false)) {
      // the ROW-LEVEL change feed as a stream: payload schema from the
      // log (falling back to inference for legacy logs)
      val t = GraftTable.forPath(spark, path)
      val at = t.snapshot()
      require(at.version > 0, s"no graft table at $path (empty log)")
      // append slices stream their files as raw parquet under the
      // payload schema, so a live column mapping would serve renamed
      // columns as null — refuse, like the raw snapshot scan. A stream
      // resolved at identity never reaches a mapped commit: the slice
      // walk refuses rename/add/drop (`colmap:` commits). Deletion
      // vectors do not block: the feed serves each commit's own adds
      // and images, never the live set.
      require(at.colmap.isIdentity,
        s"readChangeFeed stream refused: graft table at $path " +
          s"(v${at.version}) has the active reader feature " +
          s"${GraftTable.Features.ColumnMapping}, which the stream's " +
          "raw-parquet slices cannot apply — read the batch " +
          "GraftTable.changeFeed() instead")
      val payload = at.schema.getOrElse(t.readVersion(at.version).schema)
      // partitioned tables serve their keys too: append slices
      // restore them from paths through the log-backed index, DML
      // image files store them as columns (the DML read restored them)
      return new GraftCdfStreamTable(spark, path, payload, at.partMeta)
    }
    val version = Option(options.get("versionAsOf")).map(_.toLong)
      .orElse(Option(options.get("timestampAsOf")).map { ts =>
        GraftTable.forPath(spark, path).versionAt(ts.toLong).getOrElse(
          throw new IllegalArgumentException(
            s"no commit at or before timestampAsOf=$ts (epoch millis) in $path"))
      })
    snapshotTable(spark, path, version, options)
  }

  /** The read-only snapshot Table for `path` at `versionOpt` (or
    * latest) — shared by the format reader and [[GraftCatalog]]'s
    * `VERSION AS OF` loadTable.
    */
  private[sources] def snapshotTable(spark: SparkSession, path: String,
                                     versionOpt: Option[Long],
                                     options: CaseInsensitiveStringMap,
                                     batchWritable: Boolean = false)
      : Table = {
    val t = GraftTable.forPath(spark, path)
    val at = versionOpt.fold(t.snapshot())(t.snapshot)
    val version = versionOpt.getOrElse(at.version)
    if (version <= 0) new EmptyTable(path)
    else {
      // READER-FEATURE gates (Delta's protocol discipline): this path
      // serves the snapshot's RAW parquet files — live deletion
      // vectors would resurrect deleted rows, a non-identity column
      // mapping would surface physical names. Refusal is raised at
      // SCAN construction (newScanBuilder), not table resolution, so
      // the WRITE surfaces (the streaming sink, SQL DML routing)
      // still resolve the table; the verb API reads apply both.
      val readRefusal: Option[String] =
        t.rawReadRefusal(at, "graft raw-parquet scan")
      val meta = at.files.toSeq.sortBy(_._1)
        .map { case (p, m) => (t.absOf(p), m.bytes, m.stats) }
      // HIVE-PARTITIONED snapshots serve the partition columns too
      // (Delta's contract — the values live in the paths, and a read
      // that silently dropped the key column would lose data): the
      // recorded partmeta keys append to the schema and a LOG-BACKED
      // file index (no listing, no directory inference — Delta's
      // TahoeFileIndex design) serves each file's partition values
      // parsed from its value-dir chain, so staged (data/<uuid>/k=v),
      // converted (k=v at root) and cloned (absolute external paths)
      // layouts all restore uniformly.
      val pcs = at.partMeta
      val payload = at.schema
      val tableOver: Option[(Seq[(String, Long)], String) => Table] =
        if (pcs.isEmpty || payload.isEmpty) None
        else {
          val partSchema = StructType(pcs.map(p =>
            org.apache.spark.sql.types.StructField(p.col, p.tpe)).toArray)
          Some((fs, label) =>
            org.apache.spark.sql.graft.shim.partitionedParquetTable(
              label, spark, options, fs, payload.get, partSchema,
              dir => GraftTable.partDirValues(pcs, dir)))
        }
      val underlying = tableOver.map(f =>
          f(meta.map(m => (m._1, m._2)), s"graft:$path@v$version"))
        .getOrElse(org.apache.spark.sql.graft.shim.parquetTable(
          s"graft:$path@v$version", spark, options, meta.map(_._1),
          payload))
      new ReadOnlySnapshot(underlying, spark, path, meta, readRefusal,
        // time-travel snapshots are never insert targets
        batchWritable && versionOpt.isEmpty, tableOver, pcs.map(_.col))
    }
  }
}
