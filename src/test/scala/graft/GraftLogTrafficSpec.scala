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
}
