package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** SQL TABLE FUNCTIONS over the commit log — the operational
  * introspection surface (Delta's `DESCRIBE HISTORY` / `DESCRIBE
  * DETAIL` family) as plain `SELECT`-able relations, injected by
  * [[graft.GraftExtensions]]:
  *
  * {{{
  *   SELECT * FROM graft_history('/data/t')         -- the audit trail
  *   SELECT * FROM graft_files('/data/t')           -- live files + stats
  *   SELECT * FROM graft_vacuum_plan('/data/t')     -- vacuum DRY RUN
  *   SELECT * FROM graft_vacuum_plan('/data/t', 4)  --   retain 4 versions
  * }}}
  *
  * All three are DRIVER-SIDE metadata reads (O(log), bounded by
  * versions × checkpoint interval — no cluster job, no file scan)
  * materialized as local relations during analysis; at 100 TB the
  * cost is reading O(checkpointEvery) log files, never the table.
  */
object GraftTvf {

  private def pathArg(args: Seq[Expression], fn: String): String =
    args.headOption.collect {
      case l: Literal if l.value != null => l.value.toString
    }.getOrElse(throw new IllegalArgumentException(
      s"$fn needs a table root string literal as its first argument"))

  /** An integral-typed literal's long value, or None — matching on
    * the literal's TYPE, not `toString.toLong`: a decimal or string
    * literal (`graft_vacuum_plan(root, 1, 1.5)`) must earn the
    * declared "must be an integer literal" error, not a raw
    * NumberFormatException out of the parse.
    */
  private def integralValue(l: Literal): Option[Long] = l.dataType match {
    case org.apache.spark.sql.types.ByteType |
         org.apache.spark.sql.types.ShortType |
         org.apache.spark.sql.types.IntegerType |
         org.apache.spark.sql.types.LongType if l.value != null =>
      Some(l.value.toString.toLong)
    case _ => None
  }

  private def intArg(args: Seq[Expression], i: Int,
                     default: Int): Int =
    if (args.length <= i) default
    else args(i) match {
      case l: Literal if integralValue(l).isDefined =>
        integralValue(l).get.toInt
      case other => throw new IllegalArgumentException(
        s"argument ${i + 1} must be an integer literal, got $other")
    }

  private def longArg(args: Seq[Expression], i: Int,
                      default: Long): Long =
    if (args.length <= i) default
    else args(i) match {
      case l: Literal if integralValue(l).isDefined => integralValue(l).get
      case other => throw new IllegalArgumentException(
        s"argument ${i + 1} must be an integer literal, got $other")
    }

  private def plan(df: DataFrame): LogicalPlan =
    df.queryExecution.analyzed

  /** (version, action, n_added, n_removed, bytes_added,
    * committed_at_ms) — [[GraftTable.history]] as SQL.
    */
  def history(args: Seq[Expression]): LogicalPlan = {
    val s = SparkSession.active
    plan(GraftTable.forPath(s, pathArg(args, "graft_history")).history())
  }

  /** (path, bytes, n_rows, has_dv) for every live file at the latest
    * version, row counts from the logged stats (null on legacy adds).
    */
  def files(args: Seq[Expression]): LogicalPlan = {
    val s = SparkSession.active
    import s.implicits._
    val t = GraftTable.forPath(s, pathArg(args, "graft_files"))
    plan(t.liveFileMeta().toDF("path", "bytes", "n_rows", "has_dv"))
  }

  /** The vacuum DRY RUN as SQL: (kind, path, bytes) for every
    * reclaimable artifact — data/cdf/dv parquet past the grace
    * window plus `commit`/`checkpoint` log files behind the
    * retention horizon. Reclaims nothing. The orphan grace defaults
    * to the vacuum VERB's 10 minutes (overridable as the third
    * argument, milliseconds) so the dry run reports exactly what
    * `GRAFT VACUUM` would delete — a zero grace would list a
    * concurrent writer's in-flight staged files as reclaimable.
    */
  def vacuumPlan(args: Seq[Expression]): LogicalPlan = {
    val s = SparkSession.active
    import s.implicits._
    val t = GraftTable.forPath(s, pathArg(args, "graft_vacuum_plan"))
    val p = t.vacuumPlan(retainVersions = intArg(args, 1, 2),
      orphanGraceMillis = longArg(args, 2, 10L * 60 * 1000))
    val rows =
      p.files.map { case (rel, b) => ("file", rel, b) } ++
        p.commits.map(v => ("commit", f"v$v%012d", 0L)) ++
        p.checkpoints.map(v => ("checkpoint", f"ckpt-v$v%012d", 0L))
    plan(rows.toDF("kind", "path", "bytes"))
  }

  /** (feature, recorded, active) for the latest version — the
    * protocol row next to the ACTIVE state, so an operator can see
    * at a glance why a raw reader refuses (recorded && active) or
    * what a [[GraftTable.dropFeature]] would accept (recorded &&
    * !active). Driver-side O(log), like the others.
    */
  def protocol(args: Seq[Expression]): LogicalPlan = {
    val s = SparkSession.active
    import s.implicits._
    val t = GraftTable.forPath(s, pathArg(args, "graft_protocol"))
    val at = t.snapshot()
    val rec = at.protocol
    val act = at.activeReaderFeatures
    val rows = (rec ++ act).toSeq.sorted
      .map(f => (f, rec.contains(f), act.contains(f)))
    plan(rows.toDF("feature", "recorded", "active"))
  }

  /** (column, type, value, n_files, bytes) per live partition of the
    * latest version — the partition layer's introspection: values are
    * the LOGICAL (unescaped) forms, parsed from the logged relpaths
    * with the recorded partmeta type; a flat table returns no rows.
    * Driver-side O(live files), no filesystem listing, no scan.
    */
  def partitions(args: Seq[Expression]): LogicalPlan = {
    val s = SparkSession.active
    import s.implicits._
    val t = GraftTable.forPath(s, pathArg(args, "graft_partitions"))
    plan(t.partitionSummary().toDF(
      "column", "type", "value", "n_files", "bytes"))
  }

  /** (version, action, info) per commit — the free-form operation
    * parameters a verb recorded (round 17: mergeInto's source
    * strategy + row metrics), Delta's DESCRIBE HISTORY
    * operationParameters column without touching graft_history's
    * stable schema. NULL info for commits that recorded nothing.
    * Driver-side O(versions) log reads, no scan.
    */
  def commitInfo(args: Seq[Expression]): LogicalPlan = {
    val s = SparkSession.active
    import s.implicits._
    val t = GraftTable.forPath(s, pathArg(args, "graft_commit_info"))
    val rows = t.versions().map { v =>
      val c = t.readCommit(v)
      (v, c.action, c.info.orNull)
    }
    plan(rows.toDF("version", "action", "info"))
  }

  /** The injection tuples for [[graft.GraftExtensions]]. */
  def tableFunctions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => LogicalPlan)] = Seq(
    (FunctionIdentifier("graft_commit_info"),
      new ExpressionInfo("graft", null, "graft_commit_info",
        "graft_commit_info(root) - per-commit operation parameters", ""),
      commitInfo _),
    (FunctionIdentifier("graft_protocol"),
      new ExpressionInfo("graft", null, "graft_protocol",
        "graft_protocol(root) - recorded vs active reader features", ""),
      protocol _),
    (FunctionIdentifier("graft_partitions"),
      new ExpressionInfo("graft", null, "graft_partitions",
        "graft_partitions(root) - live partition values with file counts", ""),
      partitions _),
    (FunctionIdentifier("graft_history"),
      new ExpressionInfo("graft", null, "graft_history",
        "graft_history(root) - the commit log audit trail", ""),
      history _),
    (FunctionIdentifier("graft_files"),
      new ExpressionInfo("graft", null, "graft_files",
        "graft_files(root) - live files with logged stats", ""),
      files _),
    (FunctionIdentifier("graft_vacuum_plan"),
      new ExpressionInfo("graft", null, "graft_vacuum_plan",
        "graft_vacuum_plan(root[, retainVersions[, graceMillis]]) - vacuum dry run", ""),
      vacuumPlan _))
}
