package graft

import org.apache.spark.sql.functions._
import graft.sources.GraftTable
import java.nio.file.Files

class GraftSnapshotSpec extends SparkSpec {

  private def freshRoot() =
    Files.createTempDirectory("graft_snapshot").toString + "/t"

  test("a tag another instance committed after this one read its tags is a replay") {
    val root = freshRoot()
    val batch = spark.range(10).toDF("id")
    val a = GraftTable.create(spark, root, batch)
    assert(a.appendIdempotent(batch, "t0").isDefined) // A has read its tags
    val b = GraftTable.forPath(spark, root)
    assert(b.appendIdempotent(batch, "t1").isDefined)
    assert(a.appendIdempotent(batch, "t1").isEmpty, "A re-committed t1")
    assert(a.read().count() == 30)
    assert(GraftTable.forPath(spark, root).history()
      .filter(col("action") === "append@t1").count() == 1)
  }

  test("instances racing one tag: exactly one commit carries it") {
    val root = freshRoot()
    val batch = spark.range(10).toDF("id")
    GraftTable.create(spark, root, batch)
    val n = 4
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    try {
      val results = (1 to n).map { _ =>
        val t = GraftTable.forPath(spark, root)
        pool.submit(new java.util.concurrent.Callable[Option[Long]] {
          def call(): Option[Long] = { start.await(); t.appendIdempotent(batch, "race") }
        })
      }
      start.countDown()
      val won = results.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      assert(won.count(_.isDefined) == 1, s"winners: $won")
    } finally pool.shutdownNow()
    val t = GraftTable.forPath(spark, root)
    assert(t.versions().map(t.readCommit(_).action)
      .count(_ == "append@race") == 1)
    assert(t.read().count() == 20)
    // a replay leaves none of the data it staged behind
    val staged = Files.walk(java.nio.file.Paths.get(root, "data")).toArray
      .map(_.toString).filter(_.endsWith(".parquet")).toSet
    assert(staged == t.liveFiles().map(f => s"$root/${f._1}").toSet)
  }

  test("a fresh instance on a clone keeps the source's tags, past the clone's checkpoint and vacuum") {
    val batch = spark.range(10).toDF("id")
    val src = GraftTable.create(spark, freshRoot(), batch)
    assert(src.appendIdempotent(batch, "epoch-7").isDefined)
    val cloneRoot = freshRoot()
    src.cloneTo(cloneRoot)
    // a stream repointed at the clone opens the table afresh
    def replayIsNoop(): Unit = {
      val n = GraftTable.forPath(spark, cloneRoot).read().count()
      assert(GraftTable.forPath(spark, cloneRoot)
        .appendIdempotent(batch, "epoch-7").isEmpty, "epoch re-landed on the clone")
      assert(GraftTable.forPath(spark, cloneRoot).read().count() == n)
    }
    replayIsNoop()
    // each commit from a fresh instance, the v8 checkpoint included
    while (GraftTable.forPath(spark, cloneRoot).latestVersion < 9)
      GraftTable.forPath(spark, cloneRoot).append(batch)
    replayIsNoop()
    GraftTable.forPath(spark, cloneRoot).vacuum(retainVersions = 2, orphanGraceMillis = 0L)
    replayIsNoop()
  }

  test("an untagged action containing '@' commits every time") {
    val t = GraftTable.create(spark, freshRoot(),
      spark.range(40).selectExpr("id", "id % 5 as `a@b`").repartition(4))
    val z1 = t.compactZOrder("a@b", "id", 2)
    assert(t.compactZOrder("a@b", "id", 2) == z1 + 1)
    val c1 = t.addColumn("x@y", org.apache.spark.sql.types.IntegerType)
    t.dropColumn("x@y")
    assert(t.addColumn("x@y", org.apache.spark.sql.types.IntegerType) == c1 + 2)
    assert(t.read().count() == 40)
  }

  test("a forward-built snapshot equals the cold fold at every version, across checkpoints and vacuum") {
    val li = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey", "l_quantity").limit(400).cache()
    li.count()
    val rnd = new scala.util.Random(11)
    def slice() = {
      val m = rnd.nextInt(4) + 2; val r = rnd.nextInt(m)
      li.filter(col("l_orderkey") % m === r)
    }
    val root = freshRoot()
    val t = GraftTable.create(spark, root, slice().repartition(3))
    def step(i: Int): Unit = rnd.nextInt(12) match {
      case 0 => t.append(slice())
      case 1 => t.overwrite(slice().repartition(2))
      case 2 => t.compact(1L << 30)
      case 3 =>
        val vs = t.versions()
        t.restore(vs(rnd.nextInt(vs.size)))
      case 4 =>
        val m = rnd.nextInt(4) + 2
        t.deleteWhere(col("l_orderkey") % m === rnd.nextInt(m))
      case 5 =>
        val m = rnd.nextInt(4) + 2
        t.update(col("l_orderkey") % m === rnd.nextInt(m),
          Map("l_quantity" -> (col("l_quantity") + 1.0)))
      case 6 =>
        val m = rnd.nextInt(4) + 2
        t.deleteWhere(col("l_orderkey") % m === rnd.nextInt(m), mor = true)
      case 7 => t.purge()
      case 8 =>
        t.renameColumn("l_quantity", "qty")
        t.renameColumn("qty", "l_quantity")
      case 9 =>
        if (t.constraints().isEmpty) t.addConstraint("pos", "l_orderkey >= 0")
        else t.dropConstraint("pos")
      case 10 =>
        if (t.bloomIndex().isEmpty) t.setBloomIndex(Seq("l_partkey"), 1024)
        else t.dropBloomIndex()
      case 11 => t.appendIdempotent(slice(), s"walk$i")
    }
    // `t` committed every version itself, so its snapshot is its memo
    // folded forward; a fresh instance folds cold
    def check(v: Long): Unit =
      assert(t.snapshot(v) == GraftTable.forPath(spark, root).snapshot(v),
        s"snapshot v$v differs from the cold fold")
    var i = 0
    while (t.latestVersion < 18) { i += 1; step(i); check(t.latestVersion) }
    // a version behind the vacuum horizon, memoized on its own instance
    val old = GraftTable.forPath(spark, root)
    old.snapshot(2L)
    t.vacuum(retainVersions = 3, orphanGraceMillis = 0L)
    val horizon = t.versions().head
    assert(horizon > 2L)
    intercept[IllegalArgumentException](old.readVersion(2L))
    while (t.latestVersion < 27) { i += 1; step(i); check(t.latestVersion) }
    // every surviving version: one warm instance walks them in order
    // (each snapshot built forward from the previous), each compared
    // with a fresh instance's cold fold
    val warm = GraftTable.forPath(spark, root)
    warm.versions().foreach { v =>
      assert(warm.snapshot(v) == GraftTable.forPath(spark, root).snapshot(v),
        s"warm snapshot v$v differs from the cold fold")
    }
    li.unpersist()
    ()
  }
}
