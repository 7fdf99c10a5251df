package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.GraftTable
import graft.sources.MergeClauses._

/** lakehouse_ingest: a closed loop of one client committing Excel-
  * upsert-shaped batches to the `orders` table landed as a GraftTable,
  * with serving reads and the two streaming ingest entries beside them.
  * Every commit is replayed on a reference model kept here, and every
  * read and the final table are checked against it.
  */
final class Ingest(spark: SparkSession, data: String, runDir: String,
                   rec: Recorder, seed: Long) extends Workload {
  import Ingest._

  private val rng = new scala.util.Random(seed)
  private val root = s"$runDir/ingest/orders_t"
  private var t: GraftTable = _
  /** key -> (custkey, status, price, epoch day, priority) */
  private val model = mutable.LongMap.empty[(Long, String, Double, Int, String)]
  private var nextKey = 0L
  private var compactTarget = 0L
  private val ref = new References(spark, data, runDir)
  private val stats = mutable.ArrayBuffer.empty[CommitStats]
  private val readFrac = mutable.ArrayBuffer.empty[Double]
  private var cycles = 0

  private def table(): DataFrame = t.read().select(Columns.map(col): _*)

  /** The stream's and the lifecycle read's reference runs share nothing
    * with the ingest table, so they warm up beside its landing and its
    * untimed warm-up cycle. */
  def setup(): Unit = Warmup.inParallel("orders_t" +: (Streams ++ LogReads)) {
    case "orders_t" => land(); cycle(timed = false)
    case q => ref.collect(q)
  }

  private def land(): Unit = {
    val orders = graft.Tables.orders(spark, data)
      .withColumn("o_orderdate", col("o_orderdate").cast("date"))
      .select(Columns.map(col): _*)
    t = GraftTable.create(spark, root, orders.repartitionByRange(16, col("o_orderkey")))
    orders.collect().foreach(r => model(r.getLong(0)) = fromRow(r))
    nextKey = model.keys.max + 1
    compactTarget = t.liveFiles().map(_._2).min * 3 / 2
  }

  def round(): Unit = cycle(timed = true)

  /** A cycle (about 12 s on 4 cores) holds one sample of each kind, and
    * a one-cycle run's figures followed the box's speed in that window:
    * two cycles halve the weight of any one stretch of it. */
  override def minRounds: Int = 2

  private def rowBytes(r: (Long, String, Double, Int, String)): Long =
    28L + r._2.length + r._5.length

  private def newRow(): (Long, String, Double, Int, String) =
    (rng.nextInt(15000).toLong, Statuses(rng.nextInt(3)),
      math.round(rng.between(1000.0, 500000.0) * 100) / 100.0,
      FirstDay + rng.nextInt(2400), Priorities(rng.nextInt(5)))

  private def frame(rows: Seq[(Long, (Long, String, Double, Int, String))]): DataFrame =
    spark.createDataFrame(rows.map { case (k, r) => toRow(k, r) }.asJava, Schema)

  private def modelDigest(keys: Iterable[Long]): Digest.D =
    Digest.ofRows(keys.flatMap(k => model.get(k).map(toRow(k, _))))

  private def liveKeysIn(lo: Long, hi: Long): Seq[Long] = (lo until hi).filter(model.contains)

  /** A commit: runs the verb, applies `apply` to the model, and keeps
    * the file, byte and row figures of the commit. */
  private def commit(kind: String, timed: Boolean, srcRows: Long, srcBytes: Long,
                     changes: Option[Boolean])(verb: => Long)(apply: => Long): Unit = {
    val before = snapshot()
    val v0 = t.latestVersion
    val (op, _) = rec.op(kind, "GraftTable")(())(_ => verb)(_ => 0L,
      v => changes.forall(_ == (v > v0)) && v >= v0)
    val changed = apply
    val after = snapshot()
    if (timed) stats += CommitStats(cycles, kind, op, srcRows max changed, srcBytes,
      (after.files.keySet -- before.files.keySet).size,
      (before.files.keySet -- after.files.keySet).size,
      (after.files -- before.files.keySet).values.sum, changed,
      after.tableBytes - before.tableBytes, after.logBytes - before.logBytes,
      before.files.size)
  }

  private def snapshot(): Snap = {
    val files = t.liveFileMeta().map { case (p, _, rows, _) => p -> rows.getOrElse(0L) }.toMap
    Snap(files, du(new java.io.File(root)), du(new java.io.File(root, "_graft_log")))
  }

  /** Row changes since the cycle began, by change-feed type. */
  private val changes = mutable.Map.empty[String, Long].withDefaultValue(0L)

  /** MERGE: matched update plus not-matched insert, of keys from the
    * recent range (a few files) or scattered over the table (most). */
  private def merge(timed: Boolean, scattered: Boolean): Unit = {
    val recentLo = math.max(0L, nextKey - RecentKeys)
    val existing = if (scattered) {
      val pool = model.keys.toIndexedSeq
      Seq.fill(MergeMatched)(pool(rng.nextInt(pool.size))).distinct
    } else rng.shuffle(liveKeysIn(recentLo, nextKey)).take(MergeMatched)
    val fresh = (0 until MergeNew).map(i => nextKey + i)
    val src = (existing ++ fresh).map(k => k -> newRow())
    commit(if (scattered) "merge_scattered" else "merge_recent", timed,
      src.size, src.map(r => rowBytes(r._2)).sum, Some(true)) {
      t.mergeInto(frame(src), Seq("o_orderkey"),
        matched = Seq(MatchedUpdate(None, Map(
          "o_totalprice" -> expr("s.o_totalprice"),
          "o_orderstatus" -> expr("s.o_orderstatus")))),
        notMatched = Seq(NotMatchedInsert(None,
          Columns.map(c => c -> expr(s"s.$c")).toMap)))
    } {
      src.foreach { case (k, r) =>
        model.get(k) match {
          case Some(m) =>
            model(k) = m.copy(_2 = r._2, _3 = r._3)
            changes("update_preimage") += 1; changes("update_postimage") += 1
          case None => model(k) = r; changes("insert") += 1
        }
      }
      nextKey += MergeNew
      src.size.toLong
    }
  }

  /** One cycle: two merges (recent, then scattered), an update, a delete
    * and an append, with a compaction; serving reads between them. */
  private def cycle(timed: Boolean): Unit = {
    val v0 = t.latestVersion
    changes.clear()
    val recentLo = math.max(0L, nextKey - RecentKeys)
    merge(timed, scattered = false)

    // READ WHERE over a recent key range
    val rLo = recentLo + rng.nextInt(RecentKeys - RangeKeys)
    val pred = col("o_orderkey") >= rLo && col("o_orderkey") < rLo + RangeKeys
    val rw = read("read_where")(t.readWhere(pred).select(Columns.map(col): _*).collect().toSeq)(
      (rows: Seq[Row]) => Digest.ofRows(rows) == modelDigest(rLo until rLo + RangeKeys))
    if (timed && rw.traced) readFrac += t.prunedFiles(pred).size.toDouble / t.liveFiles().size

    // UPDATE the open orders of a recent range
    val uLo = recentLo + rng.nextInt(RecentKeys - RangeKeys)
    val uKeys = liveKeysIn(uLo, uLo + RangeKeys).filter(k => model(k)._2 == "O")
    commit("update", timed, 0L, uKeys.map(k => rowBytes(model(k))).sum, Some(uKeys.nonEmpty)) {
      t.update(col("o_orderkey") >= uLo && col("o_orderkey") < uLo + RangeKeys &&
        col("o_orderstatus") === "O",
        Map("o_totalprice" -> (col("o_totalprice") + 1.0), "o_orderstatus" -> lit("F")))
    } {
      uKeys.foreach { k => val m = model(k); model(k) = m.copy(_2 = "F", _3 = m._3 + 1.0) }
      changes("update_preimage") += uKeys.size; changes("update_postimage") += uKeys.size
      uKeys.size.toLong
    }

    // full READ aggregate
    read("read")(table().agg(count(lit(1)), sum(col("o_totalprice").cast("decimal(18,2)")),
      sum(col("o_orderkey"))).head)((r: Row) =>
      r.getLong(0) == model.size &&
        r.getDecimal(1).compareTo(model.values.map(m =>
          BigDecimal(m._3).setScale(2, BigDecimal.RoundingMode.HALF_UP)).sum.bigDecimal) == 0 &&
        r.getLong(2) == model.keys.sum)

    // DELETE the low-priority orders of a recent range
    val dLo = recentLo + rng.nextInt(RecentKeys - RangeKeys)
    val dKeys = liveKeysIn(dLo, dLo + RangeKeys).filter(k => model(k)._5 == "5-LOW")
    commit("delete", timed, 0L, dKeys.map(k => rowBytes(model(k))).sum, Some(dKeys.nonEmpty)) {
      t.deleteWhere(col("o_orderkey") >= dLo && col("o_orderkey") < dLo + RangeKeys &&
        col("o_orderpriority") === "5-LOW")
    } {
      dKeys.foreach(model.remove)
      changes("delete") += dKeys.size
      dKeys.size.toLong
    }

    // APPEND new orders
    val app = (0 until AppendRows).map(i => (nextKey + i) -> newRow())
    commit("append", timed, app.size, app.map(r => rowBytes(r._2)).sum, Some(true)) {
      t.append(frame(app))
    } {
      app.foreach { case (k, r) => model(k) = r }
      nextKey += AppendRows
      changes("insert") += app.size
      app.size.toLong
    }

    merge(timed, scattered = true)

    // CHANGE FEED of this cycle's commits
    val expect = changes.toMap.filter(_._2 > 0)
    read("change_feed")(t.changeFeed(v0).map(_.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap).getOrElse(Map.empty))(
      (m: Map[String, Long]) => m == expect)

    read("count_rows")(t.countRows())((n: Option[Long]) => n.contains(model.size.toLong))

    commit("compact", timed, 0L, 0L, None)(t.compact(compactTarget))(0L)

    // the lifecycle table's log-resolved reads, and the streaming ingest
    // entries; their warm-up already ran in setup
    if (timed) (LogReads ++ Streams).foreach { q =>
      rec.op(q, Main.moduleOf(q))(ref.build(q))(_.collect())(
        _.length.toLong, (rows: Array[Row]) => Digest.ofRows(rows) == ref.digests(q))
    }
    if (timed) cycles += 1
  }

  private def read[T](kind: String)(act: => T)(check: T => Boolean): Op =
    rec.op(kind, "GraftTable")(())(_ => act)(_ => 1L, check)._1

  /** The final table must equal the model, row for row. */
  override def finish(): Int =
    if (Digest.ofRows(table().collect()) == modelDigest(model.keys)) 0 else 1

  def endToEnd(ops: Seq[Op]): Map[String, Double] =
    latency(ops.filter(o => Commits(o.kind))) + ("pass_s" -> passS(ops))

  /** Commit figures over the first cycle only, so that they repeat
    * exactly for a seed whatever the machine's speed. */
  private def counted = stats.filter(_.cycle == 0)

  def report(ops: Seq[Op]): Map[String, Double] = {
    val l = latency(ops.filter(o => Commits(o.kind)))
    val commitS = stats.filterNot(_.op.traced).map(_.op.wallMs).sum / 1000.0
    Map("ingest.commit_p50_ms" -> l("p50_ms"), "ingest.commit_tail_ms" -> l("tail_ms"),
      "ingest.commit_tail_pct" -> l("tail_pct"), "ingest.commits" -> l("n"),
      "ingest.read_p50_ms" -> Stats.median(ops.filter(o => Reads(o.kind)).map(_.wallMs)),
      "ingest.stream_p50_ms" -> Stats.median(ops.filter(o => Streams.contains(o.kind)).map(_.wallMs)),
      "ingest.rows_per_s" -> stats.filterNot(_.op.traced).map(_.srcRows).sum / commitS,
      "ingest.bytes_per_source_byte" ->
        counted.map(_.tableBytes).sum.toDouble / counted.map(_.srcBytes).sum)
  }

  override def layerExtras(ops: Seq[Op]): Map[String, Double] = {
    val tr = stats.filter(_.op.traced).toSeq
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val verbs = Map("merge" -> Set("merge_recent", "merge_scattered"),
      "update" -> Set("update"), "delete" -> Set("delete"), "append" -> Set("append"),
      "compact" -> Set("compact"), "read_where" -> Set("read_where"),
      "read" -> Set("read"), "change_feed" -> Set("change_feed"))
    val rep = report(ops.filterNot(_.traced))
    verbs.map { case (v, ks) =>
      s"GraftTable.${v}_ms" -> mean(ops.filter(o => o.traced && ks(o.kind)).map(_.wallMs))
    } ++ Map(
      "GraftTable.files_added_per_commit" -> mean(tr.map(_.added.toDouble)),
      "GraftTable.files_removed_per_commit" -> mean(tr.map(_.removed.toDouble)),
      "GraftTable.rows_rewritten_per_changed_row" ->
        counted.filter(_.kind != "compact").map(_.rowsAdded).sum.toDouble /
          counted.filter(_.kind != "compact").map(_.changed).sum,
      "GraftTable.bytes_written_per_commit" -> mean(tr.map(_.tableBytes.toDouble)),
      "GraftTable.log_bytes_per_commit" -> mean(tr.map(_.logBytes.toDouble)),
      "GraftTable.files_read_frac" -> mean(readFrac.toSeq),
      "GraftTable.live_files" -> mean(tr.map(_.liveFiles.toDouble)),
      "ingest.read_p50_ms" -> rep("ingest.read_p50_ms"),
      "ingest.stream_p50_ms" -> rep("ingest.stream_p50_ms"),
      "ingest.rows_per_s" -> rep("ingest.rows_per_s"),
      "ingest.bytes_per_source_byte" -> rep("ingest.bytes_per_source_byte"))
  }

  override def oracleChecks: Map[String, Map[String, String]] = ref.oracles.toMap
}

object Ingest {
  val Columns = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
    "o_orderdate", "o_orderpriority")
  val Schema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", DateType), StructField("o_orderpriority", StringType)))
  val Commits = Set("merge_recent", "merge_scattered", "update", "delete",
    "append", "compact")
  val LogReads = Seq("q74_time_travel")
  val Reads = Set("read_where", "read", "change_feed", "count_rows") ++ LogReads
  val Streams = Seq("s18_stream_native_sink")
  val Statuses = Seq("F", "O", "P")
  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val FirstDay: Int = java.time.LocalDate.parse("1995-01-01").toEpochDay.toInt
  /** Batch sizes. Neither the repository nor the tag registry it
    * reproduces gives an Excel-upload size. Only the merge size comes
    * from an earlier measurement: a prototype of this workload timed a
    * scattered 2000-key merge at 2.7-3.8 s on 4 cores. Everything else
    * is an assumption:
    *   - a merge's 2000 source rows split 4:1 into matched and new keys;
    *   - the "recent" range is the newest 6000 keys (three merges wide);
    *   - a range read, update or delete spans 2000 keys, a merge's width;
    *   - an append adds 200 rows;
    *   - the table is compacted once per cycle. */
  val MergeMatched = 1600
  val MergeNew = 400
  val RecentKeys = 6000
  val RangeKeys = 2000
  val AppendRows = 200

  final case class Snap(files: Map[String, Long], tableBytes: Long, logBytes: Long)
  final case class CommitStats(cycle: Int, kind: String, op: Op, srcRows: Long,
                               srcBytes: Long, added: Int, removed: Int,
                               rowsAdded: Long, changed: Long, tableBytes: Long,
                               logBytes: Long, liveFiles: Int)

  def fromRow(r: Row): (Long, String, Double, Int, String) =
    (r.getLong(1), r.getString(2), r.getDouble(3),
      r.getDate(4).toLocalDate.toEpochDay.toInt, r.getString(5))

  def toRow(k: Long, r: (Long, String, Double, Int, String)): Row =
    Row(k, r._1, r._2, r._3, java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(r._4)), r._5)

  def du(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(du).sum
    else if (f.exists) f.length else 0L
}
