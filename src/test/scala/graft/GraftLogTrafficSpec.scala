package graft

import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path}
import org.apache.spark.sql.functions._
import graft.sources.{GraftTable, MergeClauses}
import java.nio.file.Files

/** The `file` scheme's LocalFileSystem, counting every listing of a
  * GraftTable log directory (`_graft_log`) JVM-wide.
  */
class LogCountingFileSystem extends LocalFileSystem {
  override def listStatus(f: Path): Array[FileStatus] = {
    if (f.getName == "_graft_log") LogCountingFileSystem.listings.incrementAndGet()
    super.listStatus(f)
  }
}

object LogCountingFileSystem {
  val listings = new java.util.concurrent.atomic.AtomicLong
}

/** The `file` scheme's LocalFileSystem, recording every listing and
  * status lookup of a GraftTable data path (`…/data/…`) JVM-wide.
  */
class DataTrafficFileSystem extends LocalFileSystem {
  override def listStatus(f: Path): Array[FileStatus] = {
    DataTrafficFileSystem.note("listStatus", f)
    super.listStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus = {
    DataTrafficFileSystem.note("getFileStatus", f)
    super.getFileStatus(f)
  }
}

object DataTrafficFileSystem {
  val calls = new java.util.concurrent.ConcurrentLinkedQueue[String]
  def note(op: String, f: Path): Unit =
    if (f.toString.contains("/data/") || f.getName == "data") {
      calls.add(s"$op $f"); ()
    }
}

class GraftLogTrafficSpec extends SparkSpec {

  /** Log-directory listings `f` makes. */
  private def listings[T](f: => T): Long = {
    val before = LogCountingFileSystem.listings.get
    f
    LogCountingFileSystem.listings.get - before
  }

  test("each verb lists the log once to pin its base and once per commit attempt") {
    val hc = spark.sparkContext.hadoopConfiguration
    val keys = Seq("fs.file.impl", "fs.file.impl.disable.cache")
    val saved = keys.map(k => k -> Option(hc.get(k)))
    hc.set("fs.file.impl", classOf[LogCountingFileSystem].getName)
    hc.setBoolean("fs.file.impl.disable.cache", true)
    try {
      val root = Files.createTempDirectory("graft_traffic").toString + "/t"
      def rows(lo: Long, hi: Long) = spark.range(lo, hi)
        .select(col("id").as("k"), (col("id") % 7).as("v"))
      val t0 = GraftTable.create(spark, root, rows(0, 2000).repartition(4))
      (1 to 9).foreach(i => t0.append(rows(2000 + i * 10, 2010 + i * 10)))
      // every measurement runs on a fresh instance: nothing memoized
      def fresh() = GraftTable.forPath(spark, root)
      val counts = Seq(
        "merge" -> listings(fresh().merge(rows(1990, 2030), "k")),
        "mergeInto" -> listings(fresh().mergeInto(
          rows(100, 120).withColumn("v", lit(99L)), Seq("k"),
          matched = Seq(MergeClauses.MatchedUpdate(None, Map("v" -> col("s.v")))))),
        "update" -> listings(fresh().update(col("k") < 50,
          Map("v" -> (col("v") + 1)))),
        "deleteWhere" -> listings(fresh().deleteWhere(col("k") >= 1900 &&
          col("k") < 1950)),
        "append" -> listings(fresh().append(rows(5000, 5010))),
        "compact" -> listings(fresh().compact(1L << 20)),
        "read" -> listings(fresh().read().count()),
        "readWhere" -> listings(fresh().readWhere(col("k") < 10).count()),
        "liveFiles" -> listings(fresh().liveFiles()))
      println("log listings per call: " +
        counts.map { case (n, c) => s"$n=$c" }.mkString(" "))
      val bound = Map("read" -> 1L, "readWhere" -> 1L, "liveFiles" -> 1L)
        .withDefaultValue(2L)
      counts.foreach { case (verb, n) =>
        assert(n <= bound(verb), s"$verb listed the log $n times")
      }
      assert(fresh().read().count() == 2000 + 90 + 10 - 50 + 10)
    } finally saved.foreach {
      case (k, Some(v)) => hc.set(k, v)
      case (k, None) => hc.unset(k)
    }
  }

  test("each change feed lists the log once, however many commits it serves") {
    val hc = spark.sparkContext.hadoopConfiguration
    val keys = Seq("fs.file.impl", "fs.file.impl.disable.cache")
    val saved = keys.map(k => k -> Option(hc.get(k)))
    hc.set("fs.file.impl", classOf[LogCountingFileSystem].getName)
    hc.setBoolean("fs.file.impl.disable.cache", true)
    try {
      val root = Files.createTempDirectory("graft_feed_traffic").toString + "/t"
      def rows(lo: Long, hi: Long) = spark.range(lo, hi)
        .select(col("id").as("k"), (col("id") % 7).as("v"))
      val t0 = GraftTable.create(spark, root, rows(0, 200))
      (1 to 9).foreach(i => t0.append(rows(200 + i * 10, 210 + i * 10)))
      val appended = t0.latestVersion
      t0.update(col("k") < 20, Map("v" -> (col("v") + 1)))
      def fresh() = GraftTable.forPath(spark, root)
      var fed = Seq.empty[Long]
      val counts = Seq(
        "changeFeed" -> listings {
          fed :+= fresh().changeFeed(1).get.count() },
        "changesSince" -> listings {
          fed :+= fresh().changesSince(1, untilVersion = appended).get.count() })
      println("log listings per feed: " +
        counts.map { case (n, c) => s"$n=$c" }.mkString(" "))
      counts.foreach { case (feed, n) =>
        assert(n <= 1L, s"$feed listed the log $n times")
      }
      assert(fed == Seq(90L + 40L, 90L))
    } finally saved.foreach {
      case (k, Some(v)) => hc.set(k, v)
      case (k, None) => hc.unset(k)
    }
  }

  test("planning a read lists and stats no data file and runs no Spark job") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.connector.catalog.SupportsRead
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val hc = spark.sparkContext.hadoopConfiguration
    val keys = Seq("fs.file.impl", "fs.file.impl.disable.cache")
    val saved = keys.map(k => k -> Option(hc.get(k)))
    val base = Files.createTempDirectory("graft_plan_traffic").toString
    val root = base + "/flat"
    val proot = base + "/part"
    // 40 files each: above Spark's 32-path parallel-listing threshold
    def rows(lo: Long, hi: Long) = spark.range(lo, hi)
      .select(col("id").as("k"), (col("id") % 7).as("v"))
    val t0 = GraftTable.create(spark, root, rows(0, 4000).repartition(40))
    t0.append(rows(4000, 4010).coalesce(1))
    GraftTable.forPath(spark, proot).appendPartitioned(
      rows(0, 4000).withColumn("g", col("k") % 4).repartition(10), "g")
    assert(t0.readVersion(1).inputFiles.length == 40 &&
      GraftTable.forPath(spark, proot).liveFiles().size == 40)
    hc.set("fs.file.impl", classOf[DataTrafficFileSystem].getName)
    hc.setBoolean("fs.file.impl.disable.cache", true)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    try {
      // planning only: the physical plan's file index size
      def plan(df: DataFrame): Int =
        "InMemoryFileIndex\\((\\d+) paths".r
          .findAllMatchIn(df.queryExecution.executedPlan.toString)
          .map(_.group(1).toInt).sum
      def streamBatch(): Int = {
        val opts = new CaseInsensitiveStringMap(java.util.Map.of("path", root))
        val stream = new graft.sources.GraftDataSource()
          .getTable(null, Array.empty, opts)
          .asInstanceOf[SupportsRead].newScanBuilder(opts).build()
          .toMicroBatchStream(base + "/ck")
        stream.planInputPartitions(stream.initialOffset(),
          stream.latestOffset()).length
      }
      def fresh(r: String) = GraftTable.forPath(spark, r)
      org.apache.spark.sql.graft.shim.drainListenerBus(spark)
      spark.sparkContext.addSparkListener(listener)
      DataTrafficFileSystem.calls.clear()
      val planned = Seq(
        "read" -> plan(fresh(root).read()),
        "readWhere" -> plan(fresh(root).readWhere(col("k") < 10)),
        "readVersion" -> plan(fresh(root).readVersion(1)),
        "readPartitionedColumn" -> plan(
          fresh(proot).readPartitionedColumn("g", Seq(0L, 1L)).get),
        "load" -> plan(spark.read.format("graft").load(root)),
        "stream batch" -> streamBatch())
      org.apache.spark.sql.graft.shim.drainListenerBus(spark)
      println("planned files per read: " +
        planned.map { case (n, c) => s"$n=$c" }.mkString(" "))
      val want = Map("read" -> 41, "readVersion" -> 40,
        "readPartitionedColumn" -> 20, "load" -> 41)
      planned.foreach { case (n, c) =>
        assert(want.get(n).forall(_ == c) && c > 0, s"$n planned $c")
      }
      val calls = DataTrafficFileSystem.calls.toArray.toSeq
      assert(calls.size == 0, s"${calls.size} data-path calls while planning, " +
        s"e.g. ${calls.take(3).mkString("; ")}")
      assert(jobs.get == 0, s"${jobs.get} Spark jobs while planning")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      saved.foreach {
        case (k, Some(v)) => hc.set(k, v)
        case (k, None) => hc.unset(k)
      }
    }
  }
}
