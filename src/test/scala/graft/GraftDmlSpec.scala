package graft

import org.apache.spark.sql.functions._
import graft.sources.GraftTable
import java.nio.file.Files

/** Round-10 GraftTable surfaces: log-level data skipping from the
  * per-file stats in add-actions, copy-on-write MERGE/DELETE with
  * touched-file-only rewrites, row-level CDF images, additive schema
  * evolution, the vacuum-safe tag ledger, and empty-live-set reads.
  */
class GraftDmlSpec extends SparkSpec {

  private def multiset(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap

  private def freshRoot() =
    Files.createTempDirectory("graft_dml").toString + "/t"

  /** orders projected to a stable 3-column registry, range-staged on
    * the key so files carry disjoint key ranges (what stats skipping
    * prunes on).
    */
  private def registry() = Tables.orders(spark, sf)
    .select("o_orderkey", "o_orderstatus", "o_totalprice")
    .repartitionByRange(8, col("o_orderkey"))

  private def rangedTable() = GraftTable.create(spark, freshRoot(), registry())

  test("add-actions carry footer stats; a selective predicate plans strictly fewer files") {
    val t = rangedTable()
    val c = t.readCommit(1)
    assert(c.adds.nonEmpty && c.adds.forall(_.stats.isDefined),
      "staged adds lost their footer stats")
    // a point-range predicate on the range-staged key prunes
    val keyMax = Tables.orders(spark, sf)
      .agg(max("o_orderkey")).head.getLong(0)
    val pred = col("o_orderkey") <= lit(keyMax / 10)
    val pruned = t.prunedFiles(pred)
    assert(pruned.nonEmpty && pruned.size < t.liveFiles().size,
      s"no log-level skipping: planned ${pruned.size} of ${t.liveFiles().size}")
    // skipping is an optimization, never the filter: results identical
    assert(multiset(t.readWhere(pred)) ==
      multiset(t.read().filter(pred)), "readWhere diverged from full filter")
    // a predicate outside every file's range plans zero files
    assert(t.prunedFiles(col("o_orderkey") > lit(keyMax + 1)).isEmpty)
    assert(t.readWhere(col("o_orderkey") > lit(keyMax + 1)).count() == 0)
    // string stats prune too (status is F/O/P)
    assert(t.prunedFiles(col("o_orderstatus") === "Z").isEmpty)
    // and an unsupported predicate shape conservatively keeps all
    assert(t.prunedFiles(length(col("o_orderstatus")) === 1).size ==
      t.liveFiles().size)
  }

  test("the DSv2 scan skips files at the log level from pushed filters") {
    val t = rangedTable() // 8 range-staged files with disjoint key ranges
    val keyMax = Tables.orders(spark, sf)
      .agg(max("o_orderkey")).head.getLong(0)
    val pred = col("o_orderkey") <= lit(keyMax / 10)
    val pruned = spark.read.format("graft").load(t.root).filter(pred)
    // the replacement scan's file index holds only the stats
    // survivors — the planned path count in the plan is the evidence
    def plannedPaths(d: org.apache.spark.sql.DataFrame): Int =
      "InMemoryFileIndex\\((\\d+) paths".r
        .findFirstMatchIn(d.queryExecution.executedPlan.toString)
        .map(_.group(1).toInt)
        .getOrElse(sys.error("no file index in plan:\n" +
          d.queryExecution.executedPlan))
    val total = t.liveFiles().size
    assert(plannedPaths(pruned) < total,
      s"no log-level skip: planned ${plannedPaths(pruned)} of $total")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("LessThanOrEqual"),
      "pruning cost the scan its parquet pushdown")
    assert(multiset(pruned) == multiset(t.read().filter(pred)),
      "the pruned scan answered differently")
    // unfiltered read: nothing to skip, the full file list plans
    val full = spark.read.format("graft").load(t.root)
    assert(plannedPaths(full) == total)
    assert(full.count() == t.read().count())
    // a predicate outside every file's range: all files skipped,
    // empty answer, no error
    val none = spark.read.format("graft").load(t.root)
      .filter(col("o_orderkey") > lit(keyMax + 1))
    assert(none.count() == 0)
    // SQL through the catalog prunes the same way
    spark.conf.set("spark.sql.catalog.gts",
      classOf[graft.sources.GraftCatalog].getName)
    val viaSql = spark.sql(
      s"SELECT * FROM gts.`${t.root}` WHERE o_orderkey <= ${keyMax / 10}")
    assert(plannedPaths(viaSql) < total)
    assert(multiset(viaSql) == multiset(t.read().filter(pred)))
  }

  test("deleteWhere rewrites ONLY touched files; untouched bytes stay live byte-identical") {
    val t = rangedTable()
    val before = t.liveFiles()
    val preAll = multiset(t.read())
    val keyMax = Tables.orders(spark, sf)
      .agg(max("o_orderkey")).head.getLong(0)
    val pred = col("o_orderkey") <= lit(keyMax / 10) &&
      col("o_orderstatus") === "O"
    val want = multiset(t.read().filter(!pred))
    val v = t.deleteWhere(pred)
    assert(v == 2, "deleteWhere must publish exactly one commit")
    assert(multiset(t.read()) == want, "post-delete state wrong")
    // copy-on-write: files whose key range the predicate cannot reach
    // were never rewritten — same identity (path AND bytes) still live
    val after = t.liveFiles().toSet
    val untouched = before.filterNot { case (p, _) =>
      t.readCommit(2).removes.contains(p) }
    assert(untouched.nonEmpty && untouched.forall(after.contains),
      "an untouched file was rewritten by deleteWhere")
    assert(t.readCommit(2).removes.size < before.size,
      "deleteWhere rewrote every file — no stats/probe pruning happened")
    // time travel across the DML still serves the pre-delete rows
    assert(multiset(t.readVersion(1)) == preAll)
    // no-match predicate: no new commit
    assert(t.deleteWhere(col("o_orderkey") > lit(keyMax + 1)) == 2)
  }

  test("merge updates matched keys per strategy, inserts the rest, rewrites only touched files") {
    val t = rangedTable()
    val before = t.liveFiles()
    val keyMax = Tables.orders(spark, sf)
      .agg(max("o_orderkey")).head.getLong(0)
    // a batch confined to the low key decade + some brand-new keys,
    // plus one stored key whose payload is NULL (UpdateWins keeps the
    // stored value) and a batch-only column (ignored without
    // mergeSchema)
    val nullKey = Tables.orders(spark, sf)
      .filter(col("o_orderkey") <= keyMax / 10 &&
        pmod(col("o_orderkey"), lit(3)) === 1)
      .agg(min("o_orderkey")).head.getLong(0)
    val updates = Tables.orders(spark, sf)
      .filter(col("o_orderkey") <= keyMax / 10 &&
        pmod(col("o_orderkey"), lit(3)) === 0)
      .select(col("o_orderkey"), (col("o_totalprice") * 2).as("o_totalprice"))
      .unionByName(spark.range(1, 4)
        .select((lit(keyMax) + col("id") * 7).as("o_orderkey"),
          lit(999.5).as("o_totalprice")))
      .unionByName(spark.range(1)
        .select(lit(nullKey).as("o_orderkey"),
          lit(null).cast("double").as("o_totalprice")))
      .withColumn("o_note", lit("batch-only"))
    val base = t.read()
    val storedPrice = base.filter(col("o_orderkey") === nullKey)
      .select("o_totalprice").head.getDouble(0)
    val want = multiset(graft.operators.Upsert.merge(
      base, updates, "o_orderkey"))
    val v = t.merge(updates, "o_orderkey")
    assert(multiset(t.read()) == want,
      "merge diverged from the reference full-table merge semantics")
    assert(t.read().filter(col("o_orderkey") === nullKey)
      .select("o_totalprice").head.getDouble(0) == storedPrice,
      "a null batch field must keep the stored value")
    assert(!t.read().columns.contains("o_note"),
      "a batch-only column must be ignored without mergeSchema")
    // copy-on-write: only low-range files (and none of the high-range
    // ones) were swapped; the new keys land in the rewrite commit
    val removed = t.readCommit(v).removes.toSet
    assert(removed.nonEmpty && removed.size < before.size,
      "merge rewrote every file — no key-range pruning happened")
    val after = t.liveFiles().toSet
    assert(before.filterNot(f => removed.contains(f._1))
      .forall(after.contains), "an untouched file was rewritten by merge")
  }

  test("update rewrites only touched files; post-images survive predicate-falsifying SETs") {
    val t = rangedTable()
    val before = t.liveFiles()
    val keyMax = Tables.orders(spark, sf)
      .agg(max("o_orderkey")).head.getLong(0)
    // the SET falsifies its own predicate (status O -> U): the
    // post-image derivation must not lose the updated rows
    val pred = col("o_orderkey") <= lit(keyMax / 8) &&
      col("o_orderstatus") === "O"
    val nMatch = t.read().filter(pred).count()
    assert(nMatch > 0)
    val want = multiset(t.read().select(col("o_orderkey"),
      when(pred, "U").otherwise(col("o_orderstatus")).as("o_orderstatus"),
      when(pred, col("o_totalprice") + 5).otherwise(col("o_totalprice"))
        .as("o_totalprice")))
    val v = t.update(pred, Map(
      "o_orderstatus" -> lit("U"),
      "o_totalprice" -> (col("o_totalprice") + 5)))
    assert(v == 2 && t.readCommit(2).action == "update")
    assert(multiset(t.read()) == want, "post-update state wrong")
    // copy-on-write: files outside the key range never rewritten
    val removed = t.readCommit(2).removes.toSet
    assert(removed.nonEmpty && removed.size < before.size,
      "update rewrote every file")
    assert(before.filterNot(f => removed.contains(f._1))
      .forall(t.liveFiles().toSet.contains))
    // CDF: pre/post pairs for exactly the matched rows, post carries
    // the new values even though the predicate no longer matches them
    val feed = t.changeFeed(1).get
    val pre = feed.filter(col("_change_type") === "update_preimage")
    val post = feed.filter(col("_change_type") === "update_postimage")
    assert(pre.count() == nMatch && post.count() == nMatch)
    assert(post.filter(col("o_orderstatus") === "U").count() == nMatch)
    assert(multiset(post.select("o_orderkey", "o_totalprice")) ==
      multiset(pre.select(col("o_orderkey"),
        (col("o_totalprice") + 5).as("o_totalprice"))))
    // no-match update: no commit; unknown SET column refuses
    assert(t.update(col("o_orderkey") > keyMax + 1,
      Map("o_totalprice" -> lit(0.0))) == 2)
    intercept[IllegalArgumentException] {
      t.update(lit(true), Map("nope" -> lit(1)))
    }
    ()
  }

  test("DML commits inherit the serializable conflict abort") {
    val t = rangedTable()
    // replicate merge's window deterministically: its remove-set is
    // computed against a snapshot, then a concurrent commit advances
    // the table before the DML commit publishes
    val base = t.latestVersion
    val removes = t.liveFiles().map(_._1).take(2)
    t.append(registry().limit(5)) // the concurrent commit
    intercept[java.util.ConcurrentModificationException] {
      t.commit("merge", Seq.empty, removes, basedOn = Some(base))
    }
    ()
  }

  test("changeFeed serves row-level images across append/merge/delete/compact") {
    val t = rangedTable()                                     // v1 insert
    val keyMax = Tables.orders(spark, sf)
      .agg(max("o_orderkey")).head.getLong(0)
    val updates = Tables.orders(spark, sf)
      .filter(col("o_orderkey") <= keyMax / 20)
      .select(col("o_orderkey"), (col("o_totalprice") + 1).as("o_totalprice"))
      .unionByName(spark.range(1, 3)
        .select((lit(keyMax) + col("id") * 11).as("o_orderkey"),
          lit(7.5).as("o_totalprice")))
    val nMatched = t.read()
      .filter(col("o_orderkey") <= keyMax / 20).count()
    val v2 = t.merge(updates, "o_orderkey")                   // v2 merge
    val delPred = col("o_orderkey") > keyMax / 20 &&
      col("o_orderkey") <= keyMax / 10 && col("o_orderstatus") === "F"
    val nDeleted = t.read().filter(delPred).count()
    val v3 = t.deleteWhere(delPred)                           // v3 delete
    assert(v2 == 2 && v3 == 3)
    t.compact(1L << 30)                                       // v4 neutral
    val feed = t.changeFeed(1).get
    val byType = feed.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType.getOrElse("update_preimage", 0L) == nMatched)
    assert(byType.getOrElse("update_postimage", 0L) == nMatched)
    assert(byType.getOrElse("insert", 0L) == 2)
    assert(byType.getOrElse("delete", 0L) == nDeleted)
    // post-images really carry the updated values
    val post = feed.filter(col("_change_type") === "update_postimage")
    val pre = feed.filter(col("_change_type") === "update_preimage")
    assert(multiset(post.select("o_orderkey", "o_totalprice")) ==
      multiset(pre.select(col("o_orderkey"),
        (col("o_totalprice") + 1).as("o_totalprice"))))
    // versions are stamped, compaction contributed nothing
    assert(feed.select("_commit_version").distinct().collect()
      .map(_.getLong(0)).toSet == Set(2L, 3L))
    // replaying the feed over v1 reproduces the table (CDF is complete)
    val replayed = t.readVersion(1)
      .join(pre.select("o_orderkey"), Seq("o_orderkey"), "left_anti")
      .join(feed.filter(col("_change_type") === "delete")
        .select("o_orderkey"), Seq("o_orderkey"), "left_anti")
      .unionByName(post.drop("_change_type", "_commit_version"))
      .unionByName(feed.filter(col("_change_type") === "insert")
        .drop("_change_type", "_commit_version"))
    assert(multiset(replayed) == multiset(t.read()),
      "replaying the change feed did not reproduce the current state")
    // whole-scope rewrites still refuse
    t.overwrite(registry().limit(10))
    intercept[IllegalStateException] { t.changeFeed(1) }
    ()
  }

  test("mergeSchema appends evolve additively; old versions keep their schema") {
    val t = GraftTable.create(spark, freshRoot(),
      Tables.orders(spark, sf).select("o_orderkey", "o_totalprice"))
    val widened = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_totalprice"),
        col("o_orderstatus").as("status"))
    // exact-schema enforcement without the flag
    intercept[IllegalArgumentException] { t.append(widened) }
    t.append(widened, mergeSchema = true)
    // latest: union schema; rows from v1 files read null in the new col
    val cur = t.read()
    assert(cur.columns.toSeq == Seq("o_orderkey", "o_totalprice", "status"))
    assert(cur.filter(col("status").isNull).count() ==
      t.readVersion(1).count())
    // time travel predates the evolution: old schema exactly
    assert(t.readVersion(1).columns.toSeq == Seq("o_orderkey", "o_totalprice"))
    // a type CHANGE is refused even with the flag
    intercept[IllegalArgumentException] {
      t.append(Tables.orders(spark, sf)
        .select(col("o_orderkey"), col("o_totalprice").cast("string"),
          col("o_orderstatus").as("status")), mergeSchema = true)
    }
    ()
  }

  test("DML composes with schema evolution: updates fill widened columns across old files") {
    val t = GraftTable.create(spark, freshRoot(),
      Tables.orders(spark, sf).select("o_orderkey", "o_totalprice")
        .filter(col("o_orderkey") % 2 === 0))
    // widen, landing only odd keys with the new column populated
    t.append(Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_totalprice"),
        col("o_orderstatus").as("status"))
      .filter(col("o_orderkey") % 2 === 1), mergeSchema = true)
    val nOld = t.read().filter(col("status").isNull).count()
    assert(nOld > 0)
    // UPDATE back-fills the widened column on the pre-evolution rows
    // (their files read as null there; the rewrite materializes it)
    val v = t.update(col("status").isNull, Map("status" -> lit("LEGACY")))
    assert(t.read().filter(col("status").isNull).count() == 0)
    assert(t.read().filter(col("status") === "LEGACY").count() == nOld)
    // the CDF images carry the union schema with correct pre-nulls
    val feed = t.changeFeed(v - 1, untilVersion = v).get
    assert(feed.filter(col("_change_type") === "update_preimage" &&
      col("status").isNull).count() == nOld)
    // DELETE on the widened column prunes/probes correctly too
    val before = t.read().count()
    t.deleteWhere(col("status") === "LEGACY")
    assert(t.read().count() == before - nOld)
    // a feed RANGE crossing the evolution boundary serves: the
    // pre-evolution insert slice null-fills the widened column
    val crossing = t.changeFeed(0).get
    assert(crossing.columns.contains("status"))
    assert(crossing.filter(col("_change_type") === "insert").count() ==
      t.readVersion(2).count())
    ()
  }

  test("merge refuses a batch holding two rows for one stored key and commits nothing") {
    val t = rangedTable()
    val v = t.latestVersion
    val before = multiset(t.read())
    val key = Tables.orders(spark, sf).agg(min("o_orderkey")).head.getLong(0)
    // two batch rows hit one stored row: which value wins is not
    // defined, so the merge refuses instead of keeping both rows
    val dup = spark.range(2).select(lit(key).as("o_orderkey"),
      (col("id") + 1.5).as("o_totalprice"))
    val e = intercept[IllegalArgumentException] { t.merge(dup, "o_orderkey") }
    assert(e.getMessage.contains("multiple source rows"), e.getMessage)
    assert(t.latestVersion == v, "a refused merge committed")
    assert(multiset(t.read()) == before, "a refused merge changed the table")
  }

  test("merge with an empty update batch is a no-op, not an empty commit") {
    val t = rangedTable()
    val v = t.latestVersion
    val empty = Tables.orders(spark, sf)
      .filter(lit(false))
      .select(col("o_orderkey"), col("o_totalprice"))
    assert(t.merge(empty, "o_orderkey") == v, "empty merge committed")
    assert(t.latestVersion == v)
  }

  test("a legitimately empty version reads as an empty DataFrame with the recorded schema") {
    val t = GraftTable.create(spark, freshRoot(),
      Tables.orders(spark, sf).select("o_orderkey", "o_orderstatus").limit(100))
    val v = t.deleteWhere(lit(true))
    val empty = t.read()
    assert(empty.count() == 0)
    assert(empty.columns.toSeq == Seq("o_orderkey", "o_orderstatus"))
    // and the table is still writable + time-travelable past the hole
    assert(t.readVersion(1).count() == 100)
    t.append(Tables.orders(spark, sf)
      .select("o_orderkey", "o_orderstatus").limit(7))
    assert(t.read().count() == 7 && t.latestVersion == v + 1)
  }

  test("the checkpoint tag ledger keeps replay-idempotence across vacuum") {
    val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
      .limit(1200).cache()
    li.count()
    val root = freshRoot()
    val t = GraftTable.forPath(spark, root)
    // 10 tagged batches: the checkpoint at v8 carries tags batch-0..7
    (0 until 10).foreach { i =>
      assert(t.appendIdempotent(li.filter(col("l_orderkey") % 10 === i),
        s"batch-$i").contains(i + 1L))
    }
    // vacuum drops the commits below the horizon — the tags must NOT
    // be forgotten with them (pre-round-10 they were: a checkpoint
    // replay of an old batch would re-commit duplicate rows)
    t.vacuum(retainVersions = 1, orphanGraceMillis = 0)
    val t2 = GraftTable.forPath(spark, root) // fresh handle, cold cache
    (0 until 10).foreach { i =>
      assert(t2.appendIdempotent(li.limit(5), s"batch-$i").isEmpty,
        s"vacuum forgot committed tag batch-$i — duplicate commit")
    }
    assert(multiset(t2.read()) == multiset(li))
    li.unpersist()
    ()
  }

  test("partitioned tables: DML restores the partition column and keeps pruned reads") {
    val bd = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_quantity"),
        pmod(col("l_partkey"), lit(4L)).as("pb"))
    val t = GraftTable.forPath(spark, freshRoot())
    t.appendPartitioned(bd, "pb")
    val all = t.readPartitionedColumn("pb", Seq(0L, 1L, 2L, 3L)).get
    // DELETE with a predicate ON the partition column (restored from
    // the path), rewritten files land back under their value dirs
    val want = multiset(all.filter(!(col("pb") === 2L &&
      col("l_orderkey") % 3 === 0)))
    t.deleteWhere(col("pb") === 2L && col("l_orderkey") % 3 === 0)
    assert(t.liveFiles().forall(_._1.contains("/pb=")),
      "partitioned delete staged flat files — pruned reads broken")
    assert(multiset(t.readPartitionedColumn("pb", Seq(0L, 1L, 2L, 3L)).get)
      == want)
    // only pb=2 files were touched
    assert(t.readCommit(t.latestVersion).removes.forall(_.contains("/pb=2/")),
      "delete rewrote files outside the predicate's partition")
    // UPDATE referencing the partition column; SET on it refuses
    val want2 = multiset(t.readPartitionedColumn("pb", Seq(0L, 1L, 2L, 3L))
      .get.select(col("l_orderkey"),
        when(col("pb") === 1L, col("l_quantity") + 100)
          .otherwise(col("l_quantity")).as("l_quantity"), col("pb")))
    t.update(col("pb") === 1L, Map("l_quantity" -> (col("l_quantity") + 100)))
    assert(multiset(t.readPartitionedColumn("pb", Seq(0L, 1L, 2L, 3L))
      .get.select("l_orderkey", "l_quantity", "pb")) == want2)
    intercept[IllegalArgumentException] {
      t.update(lit(true), Map("pb" -> lit(9L)))
    }
    // merge would move rows across partitions — refused with guidance
    val e = intercept[IllegalArgumentException] {
      t.merge(bd.limit(5).select("l_orderkey", "l_quantity"), "l_orderkey")
    }
    assert(e.getMessage.contains("replacePartitions"))
    ()
  }

  test("replacePartitions refuses rows outside the declared partition scope") {
    val bd = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_quantity"),
        pmod(col("l_partkey"), lit(4L)).as("pb"))
    val t = GraftTable.forPath(spark, freshRoot())
    t.appendPartitioned(bd, "pb")
    val before = multiset(t.readPartitionedColumn("pb", Seq(0L, 1L, 2L, 3L)).get)
    // rows with pb ∈ {0,1} declared as a pb=0-only replace: refused
    intercept[IllegalArgumentException] {
      t.replacePartitions(bd.filter(col("pb").isin(0L, 1L)), "pb", Seq(0L))
    }
    // the aborted replace left no commit and no content change
    assert(t.latestVersion == 1)
    assert(multiset(t.readPartitionedColumn("pb", Seq(0L, 1L, 2L, 3L)).get)
      == before)
    // the well-scoped replace still works
    assert(t.replacePartitions(bd.filter(col("pb") === 0L), "pb", Seq(0L))
      .contains(2L))
  }

  test("tableStats answers COUNT(*) from the log without opening a file") {
    val t = rangedTable()
    val want = t.read().count()
    val (rows, bytes, files) = t.tableStats()
    assert(rows.contains(want), s"metadata count $rows != scan count $want")
    assert(bytes == t.liveFiles().map(_._2).sum)
    assert(files == t.liveFiles().size)
    // the metadata count tracks DML exactly
    val keyMax = Tables.orders(spark, sf)
      .agg(max("o_orderkey")).head.getLong(0)
    t.deleteWhere(col("o_orderkey") <= keyMax / 10)
    assert(t.countRows().contains(t.read().count()))
    // and that no Spark JOB ran for the metadata answer
    org.apache.spark.sql.graft.shim.drainListenerBus(spark)
    val jobsBefore = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    t.tableStats()
    org.apache.spark.sql.graft.shim.drainListenerBus(spark)
    val jobsAfter = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    assert(jobsAfter == jobsBefore, "tableStats launched a Spark job")
  }

  test("disjoint-file DML commits commute; scope overlap aborts (file-granular conflicts)") {
    val t = rangedTable()
    val keyMax = Tables.orders(spark, sf)
      .agg(max("o_orderkey")).head.getLong(0)
    // stage "our" DML against the CURRENT snapshot: scope = the high
    // key range's files (read candidates + the one file we rewrite)
    val base = t.latestVersion
    val files = t.liveFiles().map(_._1).sorted
    val ourScope = files.takeRight(2)
    // a concurrent DML lands first, touching ONLY the low key range
    val vDel = t.deleteWhere(col("o_orderkey") <= lit(keyMax / 10))
    val lowTouched = t.readCommit(vDel).removes
    assert(lowTouched.nonEmpty &&
      lowTouched.toSet.intersect(ourScope.toSet).isEmpty,
      "test setup: the concurrent delete must touch only low files")
    // disjoint scopes commute: our commit proceeds past the advance
    val v = t.commit("delete", Seq.empty, ourScope.takeRight(1),
      basedOn = Some(base), tolerateAppends = true,
      readFiles = ourScope)
    assert(v == vDel + 1, "disjoint-file DML did not commute")
    // READ-set overlap aborts even when the write sets are disjoint:
    // the concurrent delete rewrote a file our probe scanned
    val base2 = t.latestVersion
    val vDel2 = t.deleteWhere(col("o_orderkey") > lit(keyMax / 4) &&
      col("o_orderkey") <= lit(keyMax / 2) &&
      pmod(col("o_orderkey"), lit(2)) === 0)
    assert(vDel2 > base2, "test setup: the concurrent delete must commit")
    val rewritten2 = t.readCommit(vDel2).removes
    assert(rewritten2.nonEmpty)
    intercept[java.util.ConcurrentModificationException] {
      t.commit("delete", Seq.empty, Seq.empty, basedOn = Some(base2),
        tolerateAppends = true, readFiles = rewritten2.take(1))
    }
    // dv-mark overlap aborts: a concurrent MoR delete attached a dv to
    // a file in our scope — our staged positions/supersede are stale
    val t2 = rangedTable()
    val base3 = t2.latestVersion
    val vMor = t2.deleteWhere(col("o_orderkey") <= lit(keyMax / 10) &&
      pmod(col("o_orderkey"), lit(3)) === 1, mor = true)
    val dvTargets = t2.readCommit(vMor).dvs.map(_._1)
    assert(dvTargets.nonEmpty, "test setup: MoR delete staged no dv")
    intercept[java.util.ConcurrentModificationException] {
      t2.commit("delete", Seq.empty, dvTargets.take(1),
        basedOn = Some(base3), tolerateAppends = true)
    }
    // and an OPTIMIZE elsewhere in the table commutes with our DML
    val t3 = rangedTable()
    val base4 = t3.latestVersion
    val f3 = t3.liveFiles().map(_._1).sorted
    t3.commit("compact", Seq.empty, f3.take(1), basedOn = Some(base4),
      tolerateAppends = true) // a compact of the low file only
    val v4 = t3.commit("delete", Seq.empty, f3.takeRight(1),
      basedOn = Some(base4), tolerateAppends = true,
      readFiles = f3.takeRight(2))
    assert(v4 == base4 + 2, "DML did not commute with a disjoint compact")
    ()
  }

  test("DML tolerates concurrent blind appends (WriteSerializable), aborts on rewrites") {
    val t = rangedTable()
    val base = t.latestVersion
    val removes = t.liveFiles().map(_._1).take(2)
    t.append(registry().limit(5)) // concurrent blind append
    // a DML commit (tolerateAppends) proceeds: its removes name
    // specific files the append cannot have invalidated
    val v = t.commit("delete", Seq.empty, removes, basedOn = Some(base),
      tolerateAppends = true)
    assert(v == base + 2)
    // a non-append interloper (compact) still aborts the DML
    val base2 = t.latestVersion
    val removes2 = t.liveFiles().map(_._1).take(1)
    t.compact(1L << 30)
    intercept[java.util.ConcurrentModificationException] {
      t.commit("merge", Seq.empty, removes2, basedOn = Some(base2),
        tolerateAppends = true)
    }
    // and a schema-evolving append is a conflict too (committing the
    // staged files under the old schema would narrow the table)
    val t2 = GraftTable.create(spark, freshRoot(),
      Tables.orders(spark, sf).select("o_orderkey", "o_totalprice"))
    val b2 = t2.latestVersion
    val r2 = t2.liveFiles().map(_._1).take(1)
    t2.append(Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_totalprice"),
        col("o_orderstatus").as("status")), mergeSchema = true)
    intercept[java.util.ConcurrentModificationException] {
      t2.commit("delete", Seq.empty, r2, basedOn = Some(b2),
        tolerateAppends = true)
    }
    ()
  }

  test("SQL DELETE FROM / TRUNCATE route through the copy-on-write commit") {
    val root = freshRoot()
    GraftTable.create(spark, root, registry())
    spark.conf.set("spark.sql.catalog.gtd",
      classOf[graft.sources.GraftCatalog].getName)
    val keyMax = Tables.orders(spark, sf)
      .agg(max("o_orderkey")).head.getLong(0)
    val want = multiset(spark.read.format("graft").load(root)
      .filter(!(col("o_orderkey") <= keyMax / 10 &&
        col("o_orderstatus") === "O")))
    spark.sql(s"DELETE FROM gtd.`$root` WHERE o_orderkey <= ${keyMax / 10}" +
      " AND o_orderstatus = 'O'")
    val t = GraftTable.forPath(spark, root)
    assert(t.latestVersion == 2, "SQL DELETE must publish exactly one commit")
    assert(t.readCommit(2).action == "delete",
      "SQL DELETE must ride the copy-on-write delete commit")
    assert(multiset(t.read()) == want)
    assert(multiset(spark.sql(s"SELECT * FROM gtd.`$root`")) == want)
    // time travel across the SQL delete still serves the old rows
    assert(spark.sql(s"SELECT count(*) AS n FROM gtd.`$root` VERSION AS OF 1")
      .head.getLong(0) == registry().count())
    // TRUNCATE: delete-everything as one commit, history intact
    spark.sql(s"TRUNCATE TABLE gtd.`$root`")
    assert(t.read().count() == 0 && t.latestVersion == 3)
    assert(t.readVersion(1).count() == registry().count())
    ()
  }

  test("object-store schemes without atomic rename are refused at publish") {
    // a scheme outside the whitelist must fail fast (its rename is
    // check-then-copy: two racing writers could both "win" a version
    // and a commit is silently lost); the escape hatch conf re-enables
    // single-writer use. Exercised via a local-disk filesystem that
    // reports an object-store-style scheme.
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.set("fs.fakes3.impl", classOf[FakeObjectStoreFs].getName)
    val dir = Files.createTempDirectory("graft_fakes3").toString
    val df = Tables.orders(spark, sf)
      .select("o_orderkey", "o_orderstatus").limit(3)
    val e = intercept[IllegalArgumentException] {
      GraftTable.forPath(spark, s"fakes3://$dir/t").append(df)
    }
    assert(e.getMessage.contains("atomic single-winner rename"),
      e.getMessage)
    // the explicit opt-in accepts single-writer-only operation
    hconf.setBoolean("graft.logstore.unsafe", true)
    try {
      val t = GraftTable.forPath(spark, s"fakes3://$dir/t2")
      t.append(df)
      assert(t.read().count() == 3)
    } finally hconf.unset("graft.logstore.unsafe")
  }

  test("SQL UPDATE routes through the copy-on-write update commit") {
    val root = freshRoot()
    GraftTable.create(spark, root, registry())
    spark.conf.set("spark.sql.catalog.gtu",
      classOf[graft.sources.GraftCatalog].getName)
    val keyMax = Tables.orders(spark, sf)
      .agg(max("o_orderkey")).head.getLong(0)
    val cut = keyMax / 10
    // SET expressions evaluate against the OLD row (SQL semantics)
    val want = multiset(registry()
      .withColumn("o_totalprice",
        when(col("o_orderkey") <= cut, col("o_totalprice") * 2)
          .otherwise(col("o_totalprice")))
      .withColumn("o_orderstatus",
        when(col("o_orderkey") <= cut, lit("X"))
          .otherwise(col("o_orderstatus"))))
    spark.sql(s"UPDATE gtu.`$root` SET o_totalprice = o_totalprice * 2, " +
      s"o_orderstatus = 'X' WHERE o_orderkey <= $cut")
    val t = GraftTable.forPath(spark, root)
    assert(t.latestVersion == 2, "SQL UPDATE must publish exactly one commit")
    assert(t.readCommit(2).action == "update",
      "SQL UPDATE must ride the copy-on-write update commit")
    assert(multiset(t.read()) == want)
    assert(multiset(spark.sql(s"SELECT * FROM gtu.`$root`")) == want)
    // time travel across the SQL update still serves the old rows
    assert(multiset(spark.sql(
      s"SELECT * FROM gtu.`$root` VERSION AS OF 1")) == multiset(registry()))
    ()
  }

  test("SQL MERGE INTO routes through the key-pruned merge commit") {
    import spark.implicits._
    val root = freshRoot()
    GraftTable.create(spark, root, registry())
    spark.conf.set("spark.sql.catalog.gtm",
      classOf[graft.sources.GraftCatalog].getName)
    val keyMax = Tables.orders(spark, sf)
      .agg(max("o_orderkey")).head.getLong(0)
    // batch: re-price a contiguous low-key slice (so the exact probe
    // leaves high-range files untouched) + two brand-new keys
    val batch = registry().filter(col("o_orderkey") <= keyMax / 10)
      .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
      .unionByName(Seq(
        (keyMax + 10, "N", 1.5), (keyMax + 11, "N", 2.5)
      ).toDF("o_orderkey", "o_orderstatus", "o_totalprice"))
    batch.createOrReplaceTempView("merge_batch")
    val want = multiset(graft.operators.Upsert.merge(
      registry(), batch, "o_orderkey"))
    spark.sql(s"MERGE INTO gtm.`$root` t USING merge_batch s " +
      "ON t.o_orderkey = s.o_orderkey " +
      "WHEN MATCHED THEN UPDATE SET * " +
      "WHEN NOT MATCHED THEN INSERT *")
    val t = GraftTable.forPath(spark, root)
    assert(t.latestVersion == 2, "SQL MERGE must publish exactly one commit")
    assert(t.readCommit(2).action == "merge")
    assert(multiset(t.read()) == want)
    // copy-on-write: untouched files stay live across the merge
    val before = t.readCommit(1).adds.map(_.path).toSet
    val after = t.liveFiles().map(_._1).toSet
    assert(before.intersect(after).nonEmpty,
      "merge rewrote every file — key pruning is dead")

    // update-only MERGE (no NOT MATCHED): new keys must NOT insert
    val upd2 = Seq((keyMax + 999, "Z", 9.9),
      (batch.agg(min(col("o_orderkey"))).head.getLong(0), "Z", 9.9))
      .toDF("o_orderkey", "o_orderstatus", "o_totalprice")
    upd2.createOrReplaceTempView("merge_batch2")
    spark.sql(s"MERGE INTO gtm.`$root` t USING merge_batch2 s " +
      "ON t.o_orderkey = s.o_orderkey " +
      "WHEN MATCHED THEN UPDATE SET *")
    val now = t.read()
    assert(now.filter(col("o_orderkey") === keyMax + 999).count() == 0,
      "update-only MERGE inserted an unmatched key")
    assert(now.filter(col("o_orderstatus") === "Z").count() == 1)
    ()
  }

  test("untranslatable SQL MERGE shapes are refused, never reinterpreted") {
    import spark.implicits._
    val root = freshRoot()
    GraftTable.create(spark, root, registry())
    spark.conf.set("spark.sql.catalog.gtr",
      classOf[graft.sources.GraftCatalog].getName)
    Seq((1L, "A", 1.0)).toDF("o_orderkey", "o_orderstatus", "o_totalprice")
      .createOrReplaceTempView("refuse_batch")
    def refusal(sql: String, needle: String): Unit = {
      val e = intercept[Throwable](spark.sql(sql))
      def chain(t: Throwable): Seq[String] =
        if (t == null) Seq.empty
        else Option(t.getMessage).toSeq ++ chain(t.getCause)
      val msgs = chain(e).mkString(" | ")
      assert(msgs.contains("cannot translate") && msgs.contains(needle),
        s"wrong refusal for: $sql -> $msgs")
    }
    // no equi key at all (round 17: renamed keys and residual
    // conjuncts route; an ON that gives the CoW probe NOTHING to
    // prune on still refuses)
    refusal(s"MERGE INTO gtr.`$root` t USING refuse_batch s " +
      "ON t.o_orderkey < s.o_orderkey " +
      "WHEN MATCHED THEN UPDATE SET *", "equality to prune on")
    refusal(s"MERGE INTO gtr.`$root` t USING refuse_batch s " +
      "ON t.o_orderkey + s.o_orderkey = 2 " +
      "WHEN MATCHED THEN UPDATE SET *", "equality to prune on")
    // the table is untouched by every refusal
    assert(GraftTable.forPath(spark, root).latestVersion == 1)
    ()
  }

  test("DML schema evolution: merge and replaceWhere accept an additive batch; type conflicts refuse (round 16)") {
    import spark.implicits._
    // merge with a NEW column (Delta's schema.autoMerge): the batch
    // carries o_note — matched/inserted rows materialize it, every
    // other row null-fills, untouched files stay byte-identical
    val root = freshRoot()
    val t = GraftTable.create(spark, root, Seq(
      (1L, 10.0), (2L, 20.0), (50L, 500.0), (60L, 600.0))
      .toDF("id", "price").repartitionByRange(2, col("id")))   // v1
    val before = t.liveFileMeta().map(f => (f._1, f._2)).toSet
    val batch = Seq((1L, 11.0, "edited"), (3L, 33.0, "new"))
      .toDF("id", "price", "note")
    // (without the flag, Upsert.merge's documented contract IGNORES
    // batch-only columns — no evolution; with it the column lands)
    t.merge(batch, "id", mergeSchema = true)                   // v2
    assert(multiset(t.read()) == multiset(Seq(
      (1L, 11.0, Option("edited")), (2L, 20.0, Option.empty[String]),
      (3L, 33.0, Option("new")), (50L, 500.0, Option.empty[String]),
      (60L, 600.0, Option.empty[String])).toDF("id", "price", "note")),
      "evolved merge must null-fill the new column outside the batch")
    // the high-range file held no matched key: byte-identical
    assert(before.intersect(t.liveFileMeta().map(f => (f._1, f._2)).toSet)
      .nonEmpty, "merge evolution rewrote untouched files")
    // type conflict refuses loudly even with the flag
    val bad = Seq((1L, "not-a-double", "x")).toDF("id", "price", "note")
    val e = intercept[IllegalArgumentException] {
      t.merge(bad, "id", mergeSchema = true)
    }
    assert(e.getMessage.contains("cannot change column"), e.getMessage)
    // replaceWhere: additive batch refuses without the flag, evolves
    // with it; untouched partition files stay byte-identical
    val root2 = freshRoot()
    val t2 = GraftTable.forPath(spark, root2)
    t2.appendPartitioned(Seq((1L, 1.0, "a"), (2L, 2.0, "b"))
      .toDF("id", "price", "seg"), "seg")                      // v1
    val evolved = Seq((9L, 9.0, "a", "fresh"))
      .toDF("id", "price", "seg", "note")
    val e2 = intercept[IllegalArgumentException] {
      t2.replaceWhere(col("seg") === "a", evolved)
    }
    assert(e2.getMessage.contains("mergeSchema"), e2.getMessage)
    val bBefore = t2.liveFileMeta().map(f => (f._1, f._2)).toSet
      .filter(_._1.contains("/seg=b/"))
    t2.replaceWhere(col("seg") === "a", evolved,
      mergeSchema = true)                                      // v2
    assert(bBefore.subsetOf(t2.liveFileMeta().map(f => (f._1, f._2)).toSet),
      "replaceWhere evolution restaged the untouched partition")
    // serving shape: evolved payload columns first, the hive key LAST
    // (the DSv2 partitioned read restores it at the end)
    assert(multiset(spark.read.format("graft").load(root2)) == multiset(
      Seq((9L, 9.0, Option("fresh"), "a"),
        (2L, 2.0, Option.empty[String], "b"))
        .toDF("id", "price", "note", "seg")),
      "evolved replaceWhere must serve the new column, null-filled " +
        "on the untouched partition")
    ()
  }

  test("SQL MERGE full clause surface: conditional transitions, matched DELETE, NOT MATCHED BY SOURCE (round 16)") {
    import spark.implicits._
    val root = freshRoot()
    GraftTable.create(spark, root, Seq(
      (1L, "PENDING", 10.0), (2L, "APPROVED", 20.0),
      (3L, "PENDING", 30.0), (4L, "REJECTED", 40.0),
      (5L, "PENDING", 50.0))
      .toDF("id", "status", "price"))                         // v1
    spark.conf.set("spark.sql.catalog.gtc",
      classOf[graft.sources.GraftCatalog].getName)
    // the reference's approval flow as ONE statement: only PENDING
    // rows may flip; REJECTED matched rows purge; brand-new eligible
    // rows insert; rows the batch no longer names close out
    Seq((1L, "APPROVED", 11.0), (4L, "X", 0.0), (6L, "NEW", 60.0),
      (7L, "NEW", 3.0))
      .toDF("id", "status", "price")
      .createOrReplaceTempView("cond_batch")
    spark.sql(s"MERGE INTO gtc.`$root` t USING cond_batch s " +
      "ON t.id = s.id " +
      "WHEN MATCHED AND t.status = 'REJECTED' THEN DELETE " +
      "WHEN MATCHED AND t.status = 'PENDING' THEN " +
      "  UPDATE SET status = s.status, price = s.price " +
      "WHEN NOT MATCHED AND s.price >= 10.0 THEN " +
      "  INSERT (id, status, price) VALUES (s.id, s.status, s.price) " +
      "WHEN NOT MATCHED BY SOURCE AND t.status = 'PENDING' THEN " +
      "  UPDATE SET status = 'EXPIRED'")
    val t = GraftTable.forPath(spark, root)
    assert(t.latestVersion == 2, "one statement, one commit")
    assert(multiset(t.read()) == multiset(Seq(
      (1L, "APPROVED", 11.0),  // PENDING matched → flipped
      (2L, "APPROVED", 20.0),  // matched, neither cond → unchanged
      (3L, "EXPIRED", 30.0),   // unnamed PENDING → closed
      (5L, "EXPIRED", 50.0),   // unnamed PENDING → closed
      (6L, "NEW", 60.0))       // eligible insert; 7 skipped; 4 purged
      .toDF("id", "status", "price")))
    ()
  }

  /** A five-row registry plus one row whose price is NULL. */
  private def smallRegistry() = {
    import spark.implicits._
    GraftTable.create(spark, freshRoot(), Seq[(Long, String, Option[Double])](
      (1L, "PENDING", Some(10.0)), (2L, "APPROVED", Some(20.0)),
      (3L, "PENDING", Some(30.0)), (4L, "REJECTED", Some(40.0)),
      (5L, "PENDING", Some(50.0)), (6L, "PENDING", None))
      .toDF("id", "status", "price"))
  }

  test("an update violating a CHECK constraint refuses before staging: no commit, no CDF images") {
    val t = smallRegistry()                                   // v1
    t.addConstraint("price_pos", "price IS NULL OR price > 0") // v2
    val live = t.liveFileMeta().toSet
    val (refused, refusedJobs) = jobLabels(scala.util.Try(
      t.update(col("id") === 1L, Map("price" -> lit(-1.0)))))
    val e = refused.failed.getOrElse(fail("the CHECK violation must refuse"))
    assert(e.getMessage.contains("price_pos"), e.getMessage)
    assert(refusedJobs.contains("update: file probe"), refusedJobs)
    assert(!refusedJobs.exists(_.startsWith("update: stage")), refusedJobs)
    assert(t.latestVersion == 2L && t.liveFileMeta().toSet == live,
      "a refused update must commit nothing")
    // the same update within the constraint runs every labelled pass
    val (v3, jobs) = jobLabels(
      t.update(col("id") === 1L, Map("price" -> lit(1.0))))
    assert(v3 == 3L)
    assert(Seq("update: file probe", "update: stage rewrite",
      "update: stage CDF images").forall(jobs.contains), jobs)
    ()
  }

  test("update and deleteWhere change images equal the hand-computed pre/post/delete rows") {
    import spark.implicits._
    val t = smallRegistry()                                   // v1
    val vu = t.update(col("status") === "PENDING" && col("id") <= 3L,
      Map("status" -> lit("DONE"), "price" -> (col("price") + 1)))
    // price >= 40 is NULL on id 6: that row survives and has no image
    val vd = t.deleteWhere(col("price") >= 40.0)
    assert(vu == 2L && vd == 3L)
    val feed = t.changeFeed(1).get
      .select("id", "status", "price", "_change_type", "_commit_version")
    assert(multiset(feed) == multiset(
      Seq[(Long, String, Option[Double], String, Long)](
        (1L, "PENDING", Some(10.0), "update_preimage", 2L),
        (3L, "PENDING", Some(30.0), "update_preimage", 2L),
        (1L, "DONE", Some(11.0), "update_postimage", 2L),
        (3L, "DONE", Some(31.0), "update_postimage", 2L),
        (4L, "REJECTED", Some(40.0), "delete", 3L),
        (5L, "PENDING", Some(50.0), "delete", 3L))
        .toDF("id", "status", "price", "_change_type", "_commit_version")))
    assert(multiset(t.read()) == multiset(
      Seq[(Long, String, Option[Double])](
        (1L, "DONE", Some(11.0)), (2L, "APPROVED", Some(20.0)),
        (3L, "DONE", Some(31.0)), (6L, "PENDING", None))
        .toDF("id", "status", "price")))
    ()
  }
}

/** Local-disk filesystem masquerading as an object store (a scheme
  * with no atomic rename) — lets the LogStore-whitelist refusal be
  * exercised without any real store.
  */
class FakeObjectStoreFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "fakes3"
  override def getUri: java.net.URI = java.net.URI.create("fakes3:///")
}
