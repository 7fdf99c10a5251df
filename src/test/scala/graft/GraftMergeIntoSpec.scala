package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.{GraftTable, MergeClauses}
import graft.sources.MergeClauses._
import java.nio.file.Files

/** Conditional multi-clause MERGE (round-16 verdict item 1): the full
  * Delta clause surface — `WHEN MATCHED AND cond THEN UPDATE/DELETE`
  * (ordered, first-match-wins), conditional `WHEN NOT MATCHED INSERT`
  * with NULL-fill for absent columns, and `WHEN NOT MATCHED BY SOURCE
  * THEN UPDATE/DELETE` — on the copy-on-write commit: only files
  * really holding an affected row rewrite; per-outcome CDF images;
  * Delta's multiple-match refusal.
  */
class GraftMergeIntoSpec extends SparkSpec {

  private def multiset(df: DataFrame) =
    df.collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap

  private def fresh(tag: String) =
    Files.createTempDirectory(tag).toString + "/t"

  import spark.implicits._

  /** An approval registry (the reference's flow): id, status, price. */
  private def registry = Seq(
    (1L, "PENDING", 10.0), (2L, "APPROVED", 20.0),
    (3L, "PENDING", 30.0), (4L, "REJECTED", 40.0),
    (5L, "PENDING", 50.0))
    .toDF("id", "status", "price")

  test("WHEN MATCHED AND cond THEN UPDATE: only eligible rows transition; ineligible matched rows carry through") {
    val root = fresh("graft_mi_cond")
    val t = GraftTable.forPath(spark, root)
    t.append(registry)                                        // v1
    // approve ids 1,2,4 — but only PENDING rows may flip
    val batch = Seq((1L, "APPROVED"), (2L, "SHIPPED"), (4L, "APPROVED"))
      .toDF("id", "status")
    val v = t.mergeInto(batch, Seq("id"),
      matched = Seq(MatchedUpdate(Some(expr("t.status = 'PENDING'")),
        Map("status" -> expr("s.status")))))
    assert(v == 2L)
    assert(multiset(t.read()) == multiset(Seq(
      (1L, "APPROVED", 10.0),  // PENDING → flipped
      (2L, "APPROVED", 20.0),  // matched but not PENDING → unchanged
      (3L, "PENDING", 30.0),   // unmatched → unchanged
      (4L, "REJECTED", 40.0),  // matched but not PENDING → unchanged
      (5L, "PENDING", 50.0)).toDF("id", "status", "price")))
    ()
  }

  test("ordered matched clauses first-match-wins: conditional DELETE then unconditional UPDATE") {
    val root = fresh("graft_mi_ord")
    val t = GraftTable.forPath(spark, root)
    t.append(registry)                                        // v1
    val batch = Seq((1L, 11.0), (2L, 22.0), (4L, 44.0)).toDF("id", "price")
    t.mergeInto(batch, Seq("id"),
      matched = Seq(
        MatchedDelete(Some(expr("t.status = 'REJECTED'"))),
        MatchedUpdate(None, Map("price" -> expr("s.price")))))
    assert(multiset(t.read()) == multiset(Seq(
      (1L, "PENDING", 11.0), (2L, "APPROVED", 22.0),
      (3L, "PENDING", 30.0), (5L, "PENDING", 50.0))
      .toDF("id", "status", "price")),
      "REJECTED matched row must DELETE (first clause), others UPDATE")
    ()
  }

  test("conditional NOT MATCHED INSERT: only eligible source rows land; absent columns NULL-fill") {
    val root = fresh("graft_mi_ins")
    val t = GraftTable.forPath(spark, root)
    t.append(registry)                                        // v1
    val batch = Seq((6L, 60.0), (7L, 3.0), (1L, 99.0)).toDF("id", "price")
    t.mergeInto(batch, Seq("id"),
      notMatched = Seq(NotMatchedInsert(Some(expr("s.price >= 10.0")),
        Map("id" -> expr("s.id"), "price" -> expr("s.price")))))
    // id 6 inserts (eligible, status NULL-fills); 7 skipped (< 10);
    // 1 matched — no matched clause, row unchanged
    val got = t.read()
    assert(got.count() == 6)
    val r6 = got.filter(col("id") === 6L).collect()
    assert(r6.length == 1 && r6.head.isNullAt(1) &&
      r6.head.getDouble(2) == 60.0,
      "insert must NULL-fill the unspecified status column")
    assert(got.filter(col("id") === 7L).isEmpty)
    assert(got.filter(col("id") === 1L).head.getDouble(2) == 10.0,
      "a matched row with no matched clause must carry through unchanged")
    ()
  }

  test("WHEN NOT MATCHED BY SOURCE: conditional UPDATE and DELETE close out rows absent from the batch") {
    val root = fresh("graft_mi_bys")
    val t = GraftTable.forPath(spark, root)
    t.append(registry)                                        // v1
    // batch names ids 1,2 — every other row either closes (PENDING →
    // EXPIRED) or deletes (REJECTED); matched rows update price
    val batch = Seq((1L, 100.0), (2L, 200.0)).toDF("id", "price")
    t.mergeInto(batch, Seq("id"),
      matched = Seq(MatchedUpdate(None, Map("price" -> expr("s.price")))),
      notMatchedBySource = Seq(
        BySourceDelete(Some(expr("t.status = 'REJECTED'"))),
        BySourceUpdate(Some(expr("t.status = 'PENDING'")),
          Map("status" -> lit("EXPIRED")))))
    assert(multiset(t.read()) == multiset(Seq(
      (1L, "PENDING", 100.0), (2L, "APPROVED", 200.0),
      (3L, "EXPIRED", 30.0), (5L, "EXPIRED", 50.0))
      .toDF("id", "status", "price")),
      "by-source clauses must close unmatched target rows (4 deleted)")
    ()
  }

  test("copy-on-write: files holding no affected row stay byte-identical; multiple-match refuses") {
    val root = fresh("graft_mi_cow")
    val t = GraftTable.forPath(spark, root)
    // range-staged: ids 1-100 across 4 files with disjoint ranges
    val wide = spark.range(1, 101)
      .select(col("id"), lit("PENDING").as("status"),
        (col("id") * 1.0).as("price"))
      .repartitionByRange(4, col("id"))
    t.append(wide)                                            // v1
    val before = t.liveFileMeta().map(f => (f._1, f._2)).toSet
    // batch touches only ids 1-5 (one file's range)
    val batch = Seq((1L, "APPROVED"), (3L, "APPROVED")).toDF("id", "status")
    t.mergeInto(batch, Seq("id"),
      matched = Seq(MatchedUpdate(Some(expr("t.status = 'PENDING'")),
        Map("status" -> expr("s.status")))))
    val after = t.liveFileMeta().map(f => (f._1, f._2)).toSet
    val surviving = before.intersect(after)
    assert(surviving.size >= 3,
      s"stats prune failed: only ${surviving.size} of 4 files survived " +
        "a 2-key merge that touches one range")
    assert(t.read().filter(col("status") === "APPROVED").count() == 2)
    // Delta's multiple-match refusal: duplicate source keys that hit
    // a target row cannot deterministically update
    val dup = Seq((10L, "A"), (10L, "B")).toDF("id", "status")
    val e = intercept[Exception] {
      t.mergeInto(dup, Seq("id"),
        matched = Seq(MatchedUpdate(None,
          Map("status" -> expr("s.status")))))
    }
    assert(e.getMessage.contains("multiple source rows"), e.getMessage)
    ()
  }

  test("per-outcome CDF images: update pre/post pairs, delete, insert in one merge commit") {
    val root = fresh("graft_mi_cdf")
    val t = GraftTable.forPath(spark, root)
    t.append(registry)                                        // v1
    val batch = Seq((1L, "APPROVED", 10.5), (4L, "X", 0.0),
      (6L, "NEW", 60.0)).toDF("id", "status", "price")
    val v = t.mergeInto(batch, Seq("id"),
      matched = Seq(
        MatchedDelete(Some(expr("t.status = 'REJECTED'"))),
        MatchedUpdate(None, Map("status" -> expr("s.status"),
          "price" -> expr("s.price")))),
      notMatched = Seq(NotMatchedInsert(None,
        Map("id" -> expr("s.id"), "status" -> expr("s.status"),
          "price" -> expr("s.price")))))
    val feed = t.changeFeed(v - 1, v).get // range is (since, until]
    val byType = feed.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType == Map("update_preimage" -> 1L,
      "update_postimage" -> 1L, "delete" -> 1L, "insert" -> 1L),
      s"per-outcome image counts wrong: $byType")
    val pre = feed.filter(col("_change_type") === "update_preimage").head
    val post = feed.filter(col("_change_type") === "update_postimage").head
    assert(pre.getAs[String]("status") == "PENDING" &&
      post.getAs[String]("status") == "APPROVED")
    assert(feed.filter(col("_change_type") === "delete").head
      .getAs[Long]("id") == 4L)
    assert(feed.filter(col("_change_type") === "insert").head
      .getAs[Long]("id") == 6L)
    ()
  }

  test("partitioned tables merge: chain pruning on partition keys, byte-identical untouched chains, key-move restage (round 16)") {
    val root = fresh("graft_mi_part")
    val t = GraftTable.forPath(spark, root)
    // bucket = the partition key; (bucket, id) the composite ON key
    val wide = spark.range(0, 400).select(
      (col("id") % 4).as("bucket"), col("id"),
      lit("PENDING").as("status"), (col("id") * 1.0).as("price"))
    t.appendPartitioned(wide, "bucket")                       // v1
    val before = t.liveFileMeta().map(f => (f._1, f._2)).toSet
    import spark.implicits._
    // the batch names only bucket 1 — chain pruning must keep every
    // other bucket's files byte-identical (never read, never restaged)
    val batch = Seq((1L, 5L, "APPROVED"), (1L, 9L, "APPROVED"),
      (1L, 401L, "NEW")).toDF("bucket", "id", "status")
    t.mergeInto(batch, Seq("bucket", "id"),
      matched = Seq(MatchedUpdate(Some(expr("t.status = 'PENDING'")),
        Map("status" -> expr("s.status")))),
      notMatched = Seq(NotMatchedInsert(None,
        Map("bucket" -> expr("s.bucket"), "id" -> expr("s.id"),
          "status" -> expr("s.status"), "price" -> lit(0.0)))))  // v2
    val after = t.liveFileMeta().map(f => (f._1, f._2)).toSet
    val others = before.filterNot(_._1.contains("/bucket=1/"))
    assert(others.subsetOf(after),
      "a bucket-1 merge restaged files of other buckets")
    // updates landed, insert landed under its chain, pruned read works
    val b1 = t.readPartitionedColumn("bucket", Seq(1L)).get
    assert(b1.filter(col("status") === "APPROVED").count() == 2)
    assert(b1.filter(col("id") === 401L).head.getAs[String]("status") == "NEW")
    assert(t.read().count() == 401)
    // SET on the partition key MOVES the row to its new chain
    val mv = Seq((2L, 6L)).toDF("bucket", "id")
    t.mergeInto(mv, Seq("bucket", "id"),
      matched = Seq(MatchedUpdate(None, Map("bucket" -> lit(9L)))))  // v3
    assert(t.readPartitionedColumn("bucket", Seq(9L)).get
      .filter(col("id") === 6L).count() == 1,
      "a partition-key SET must land the row under its NEW value dir")
    assert(t.readPartitionedColumn("bucket", Seq(2L)).get
      .filter(col("id") === 6L).isEmpty)
    assert(t.read().count() == 401, "the move must not copy the row")
    ()
  }

  test("SQL MERGE INTO a hive-partitioned catalog table routes through the partitioned clause merge (round 16)") {
    import spark.implicits._
    val root = fresh("graft_mi_psql")
    spark.conf.set("spark.sql.catalog.gmp",
      classOf[graft.sources.GraftCatalog].getName)
    spark.sql(s"CREATE TABLE gmp.`$root` (id BIGINT, price DOUBLE, " +
      "seg STRING) PARTITIONED BY (seg)")                     // v1
    Seq((1L, 10.0, "a"), (2L, 20.0, "a"), (3L, 30.0, "b"))
      .toDF("id", "price", "seg").createOrReplaceTempView("pm_src0")
    spark.sql(s"INSERT INTO gmp.`$root` SELECT * FROM pm_src0") // v2
    Seq((1L, 11.0, "a"), (4L, 40.0, "b"))
      .toDF("id", "price", "seg").createOrReplaceTempView("pm_batch")
    spark.sql(s"MERGE INTO gmp.`$root` t USING pm_batch s ON t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET price = s.price " +
      "WHEN NOT MATCHED THEN INSERT (id, price, seg) " +
      "VALUES (s.id, s.price, s.seg)")                        // v3
    assert(multiset(spark.sql(s"SELECT * FROM gmp.`$root`")) ==
      multiset(Seq((1L, 11.0, "a"), (2L, 20.0, "a"),
        (3L, 30.0, "b"), (4L, 40.0, "b")).toDF("id", "price", "seg")))
    ()
  }

  test("mergeSchema: a SET/INSERT naming a new column evolves the schema; SQL WITH SCHEMA EVOLUTION routes (round 16)") {
    val root = fresh("graft_mi_evo")
    val t = GraftTable.create(spark, Seq(root).head, Seq(
      (1L, 10.0), (2L, 20.0), (50L, 500.0))
      .toDF("id", "price").repartitionByRange(2, col("id")))  // v1
    val batch = Seq((1L, 11.0, "edited"), (7L, 70.0, "new"))
      .toDF("id", "price", "note")
    batch.createOrReplaceTempView("evo_batch")
    // without the flag: loud refusal naming the escape hatch
    val e = intercept[Exception] {
      t.mergeInto(batch, Seq("id"),
        matched = Seq(MatchedUpdate(None,
          Map("price" -> expr("s.price"), "note" -> expr("s.note")))))
    }
    assert(e.getMessage.contains("mergeSchema"), e.getMessage)
    // with it: the column lands, typed from its defining expression;
    // unmatched rows null-fill; untouched files stay byte-identical
    val before = t.liveFileMeta().map(f => (f._1, f._2)).toSet
    t.mergeInto(batch, Seq("id"),
      matched = Seq(MatchedUpdate(None,
        Map("price" -> expr("s.price"), "note" -> expr("s.note")))),
      notMatched = Seq(NotMatchedInsert(None,
        Map("id" -> expr("s.id"), "price" -> expr("s.price"),
          "note" -> expr("s.note")))),
      mergeSchema = true)                                     // v2
    assert(multiset(t.read()) == multiset(Seq(
      (1L, 11.0, Option("edited")), (2L, 20.0, Option.empty[String]),
      (7L, 70.0, Option("new")), (50L, 500.0, Option.empty[String]))
      .toDF("id", "price", "note")))
    assert(before.intersect(t.liveFileMeta().map(f => (f._1, f._2)).toSet)
      .nonEmpty, "evolution rewrote untouched files")
    // the SQL statement form routes the same way
    val root2 = fresh("graft_mi_evo_sql")
    spark.conf.set("spark.sql.catalog.gme",
      classOf[graft.sources.GraftCatalog].getName)
    spark.sql(s"CREATE TABLE gme.`$root2` (id BIGINT, price DOUBLE)")
    Seq((1L, 1.0), (2L, 2.0)).toDF("id", "price")
      .createOrReplaceTempView("evo_base")
    spark.sql(s"INSERT INTO gme.`$root2` SELECT * FROM evo_base")
    spark.sql(s"MERGE WITH SCHEMA EVOLUTION INTO gme.`$root2` t " +
      "USING evo_batch s ON t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET price = s.price, note = s.note " +
      "WHEN NOT MATCHED THEN INSERT (id, price, note) " +
      "VALUES (s.id, s.price, s.note)")
    assert(multiset(spark.sql(s"SELECT * FROM gme.`$root2`")) ==
      multiset(Seq((1L, 11.0, Option("edited")),
        (2L, 2.0, Option.empty[String]), (7L, 70.0, Option("new")))
        .toDF("id", "price", "note")))
    ()
  }

  test("unconditional SET-all mergeInto matches merge (the upsert shape both express)") {
    val rootA = fresh("graft_mi_eq_a")
    val rootB = fresh("graft_mi_eq_b")
    val ta = GraftTable.forPath(spark, rootA)
    val tb = GraftTable.forPath(spark, rootB)
    ta.append(registry); tb.append(registry)
    val batch = Seq((1L, "APPROVED", 11.0), (6L, "NEW", 66.0))
      .toDF("id", "status", "price")
    ta.merge(batch, "id")
    tb.mergeInto(batch, Seq("id"),
      matched = Seq(MatchedUpdate(None,
        Map("status" -> expr("s.status"), "price" -> expr("s.price")))),
      notMatched = Seq(NotMatchedInsert(None,
        Map("id" -> expr("s.id"), "status" -> expr("s.status"),
          "price" -> expr("s.price")))))
    assert(multiset(ta.read()) == multiset(tb.read()),
      "mergeInto(SET-all) must equal merge() on the same batch")
    ()
  }

  test("by-source-only merge with a dup-keyed source must not duplicate kept rows (ADVICE r17)") {
    val root = fresh("graft_mi_dupkeep")
    val t = GraftTable.forPath(spark, root)
    t.append(registry)                                        // v1
    // ids 1 and 3 each matched by TWO source rows; no matched clause,
    // so they are 'keep' — the left-outer rewrite must collapse the
    // join multiplicity, not emit them twice
    val batch = Seq((1L, "a"), (1L, "b"), (3L, "c"), (3L, "d"))
      .toDF("id", "note")
    t.mergeInto(batch, Seq("id"),
      notMatchedBySource = Seq(
        BySourceUpdate(Some(expr("t.status = 'REJECTED'")),
          Map("status" -> lit("CLOSED")))))
    assert(multiset(t.read()) == multiset(Seq(
      (1L, "PENDING", 10.0), (2L, "APPROVED", 20.0),
      (3L, "PENDING", 30.0), (4L, "CLOSED", 40.0),
      (5L, "PENDING", 50.0)).toDF("id", "status", "price")),
      "matched keep rows duplicated through the dup-keyed source join")
    ()
  }

  test("renamed ON keys: sourceKeys maps the source column onto the target key name (verb + SQL)") {
    val root = fresh("graft_mi_ren")
    val t = GraftTable.forPath(spark, root)
    t.append(registry)                                        // v1
    val batch = Seq((1L, 111.0), (6L, 66.0)).toDF("ext_id", "price")
    t.mergeInto(batch, Seq("id"),
      matched = Seq(MatchedUpdate(None, Map("price" -> expr("s.price")))),
      notMatched = Seq(NotMatchedInsert(None,
        Map("id" -> expr("s.id"), "price" -> expr("s.price")))),
      sourceKeys = Seq("ext_id"))
    assert(multiset(t.read()) == multiset(Seq(
      (1L, Option("PENDING"), 111.0), (2L, Option("APPROVED"), 20.0),
      (3L, Option("PENDING"), 30.0), (4L, Option("REJECTED"), 40.0),
      (5L, Option("PENDING"), 50.0), (6L, Option.empty[String], 66.0))
      .toDF("id", "status", "price")))
    // ambiguous rename refuses loudly: the source already has an `id`
    val clash = Seq((1L, 2L, 9.0)).toDF("ext_id", "id", "price")
    val e = intercept[IllegalArgumentException] {
      t.mergeInto(clash, Seq("id"),
        matched = Seq(MatchedUpdate(None, Map("price" -> expr("s.price")))),
        sourceKeys = Seq("ext_id"))
    }
    assert(e.getMessage.contains("ambiguous"))
    ()
  }

  test("key type alignment: a string-typed upload key casts to the table key type up front; uncastable keys insert NULL (round 17)") {
    val root = fresh("graft_mi_cast")
    val t = GraftTable.forPath(spark, root)
    t.append(registry)                                        // v1
    // the Excel-upload reality: header-mapped batch, string-typed key
    val batch = Seq(("1", 111.0), ("6", 66.0), ("oops", 1.0))
      .toDF("ext_id", "price")
    t.mergeInto(batch, Seq("id"),
      matched = Seq(MatchedUpdate(None, Map("price" -> expr("s.price")))),
      notMatched = Seq(NotMatchedInsert(None,
        Map("id" -> expr("s.id"), "price" -> expr("s.price")))),
      sourceKeys = Seq("ext_id"))
    assert(multiset(t.read()) == multiset(Seq(
      (Option(1L), Option("PENDING"), 111.0),   // "1" casts, matches
      (Option(2L), Option("APPROVED"), 20.0),
      (Option(3L), Option("PENDING"), 30.0),
      (Option(4L), Option("REJECTED"), 40.0),
      (Option(5L), Option("PENDING"), 50.0),
      (Option(6L), Option.empty[String], 66.0), // "6" casts, inserts
      // "oops" is uncastable → NULL key → never equi-matches →
      // inserts with a NULL id (Delta's non-ANSI cast semantics)
      (Option.empty[Long], Option.empty[String], 1.0))
      .toDF("id", "status", "price")))
    ()
  }

  test("non-equi residual ON: equi keys prune, the residual decides matched-ness on all three sides") {
    val root = fresh("graft_mi_resid")
    val t = GraftTable.forPath(spark, root)
    t.append(registry)                                        // v1
    // residual: only rows priced under 35 count as matched. id 1
    // (10.0) matches → update; id 5 (50.0) equi-matches but FAILS the
    // residual → not matched, so its source row INSERTS alongside it
    // and the by-source clause sees the target row as unmatched; id 4
    // (REJECTED, unmatched by source under the full condition) closes
    val batch = Seq((1L, 11.0), (5L, 55.0), (9L, 99.0))
      .toDF("id", "price")
    t.mergeInto(batch, Seq("id"),
      matched = Seq(MatchedUpdate(None, Map("price" -> expr("s.price")))),
      notMatched = Seq(NotMatchedInsert(None,
        Map("id" -> expr("s.id"), "price" -> expr("s.price")))),
      notMatchedBySource = Seq(
        BySourceUpdate(Some(expr("t.status = 'REJECTED'")),
          Map("status" -> lit("CLOSED")))),
      residual = Some(expr("t.price < 35.0")))
    assert(multiset(t.read()) == multiset(Seq(
      (1L, Option("PENDING"), 11.0),   // full match → updated
      (2L, Option("APPROVED"), 20.0),  // no source row, price < 35: kept
      (3L, Option("PENDING"), 30.0),
      (4L, Option("CLOSED"), 40.0),    // by-source close-out
      (5L, Option("PENDING"), 50.0),   // equi-matched, residual failed
      (5L, Option.empty[String], 55.0), // … so the source row inserted
      (9L, Option.empty[String], 99.0))
      .toDF("id", "status", "price")))
    ()
  }

  test("SQL MERGE ON with no equi key refuses loudly; renamed + residual routes (round 17)") {
    val root = fresh("graft_mi_sqlren")
    val t = GraftTable.forPath(spark, root)
    t.append(registry)                                        // v1
    spark.conf.set("spark.sql.catalog.gme2",
      classOf[graft.sources.GraftCatalog].getName)
    Seq((1L, 111.0), (4L, 444.0)).toDF("ext_id", "price")
      .createOrReplaceTempView("mi_sqlren_batch")
    // renamed equi key + residual conjunct, one statement
    spark.sql(s"MERGE INTO gme2.`$root` t USING mi_sqlren_batch s " +
      "ON t.id = s.ext_id AND t.status = 'PENDING' " +
      "WHEN MATCHED THEN UPDATE SET price = s.price")
    assert(multiset(t.read()) == multiset(Seq(
      (1L, "PENDING", 111.0), (2L, "APPROVED", 20.0),
      (3L, "PENDING", 30.0), (4L, "REJECTED", 40.0),
      (5L, "PENDING", 50.0)).toDF("id", "status", "price")),
      "the residual must stop the non-PENDING match from updating")
    // no equi key at all: nothing to prune on — refuse, never run a
    // different statement than the user wrote
    val e = intercept[UnsupportedOperationException] {
      spark.sql(s"MERGE INTO gme2.`$root` t USING mi_sqlren_batch s " +
        "ON t.price < s.price " +
        "WHEN MATCHED THEN UPDATE SET price = s.price")
    }
    assert(e.getMessage.contains("equality"))
    ()
  }

  test("size-aware source strategy: broadcast and shuffle regimes commit identical tables; choice recorded in commit info") {
    val rootA = fresh("graft_mi_bc")
    val rootB = fresh("graft_mi_sh")
    val ta = GraftTable.forPath(spark, rootA)
    val tb = GraftTable.forPath(spark, rootB)
    ta.append(registry); tb.append(registry)
    val batch = Seq((1L, "APPROVED", 11.0), (6L, "NEW", 66.0))
      .toDF("id", "status", "price")
    def clauses = (Seq(MatchedUpdate(None,
      Map("status" -> expr("s.status"), "price" -> expr("s.price")))),
      Seq(NotMatchedInsert(None,
        Map("id" -> expr("s.id"), "status" -> expr("s.status"),
          "price" -> expr("s.price")))))
    val (m, nm) = clauses
    val va = ta.mergeInto(batch, Seq("id"), matched = m, notMatched = nm)
    assert(ta.commitInfo(va).exists(_.contains(
      "mergeSourceStrategy=broadcast")),
      s"endpoint-sized batch should broadcast: ${ta.commitInfo(va)}")
    // force the over-ceiling regime: the at-scale gate side → shuffle joins
    spark.conf.set(Gate.AtScaleKey, "true")
    try {
      val vb = tb.mergeInto(batch, Seq("id"), matched = m, notMatched = nm)
      assert(tb.commitInfo(vb).exists(_.contains(
        "mergeSourceStrategy=shuffle")),
        s"over-ceiling source should shuffle: ${tb.commitInfo(vb)}")
    } finally spark.conf.unset(Gate.AtScaleKey)
    assert(multiset(ta.read()) == multiset(tb.read()),
      "the two regimes must commit identical tables")
    ()
  }

  test("a tagged merge's CDF images serve through the feed: merge@tag classifies as a merge (round 17)") {
    val root = fresh("graft_mi_tagcdf")
    val t = GraftTable.forPath(spark, root)
    t.append(registry)                                        // v1
    val batch = Seq((1L, 111.0), (6L, 66.0)).toDF("id", "price")
    t.mergeInto(batch, Seq("id"),
      matched = Seq(MatchedUpdate(None, Map("price" -> expr("s.price")))),
      notMatched = Seq(NotMatchedInsert(None,
        Map("id" -> expr("s.id"), "price" -> expr("s.price")))),
      tag = "cdf-epoch-1")                  // v2, action merge@cdf-epoch-1
    val feed = t.changeFeed(1).getOrElse(
      fail("tagged merge contributed nothing to the feed"))
    val byType = feed.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType == Map("update_preimage" -> 1L,
      "update_postimage" -> 1L, "insert" -> 1L),
      s"tagged merge images mis-served: $byType")
    ()
  }

  test("renamed key + residual on a hive-partitioned target: chain pruning stays sound, untouched chains byte-identical (round 17)") {
    val root = fresh("graft_mi_resid_part")
    val t = GraftTable.forPath(spark, root)
    t.appendPartitioned(Seq(
      (1L, 10.0, "F"), (2L, 20.0, "F"),
      (3L, 30.0, "O"), (4L, 4000.0, "O"),
      (5L, 50.0, "P"))
      .toDF("id", "price", "status"), "status")               // v1
    def live() = t.liveFiles().toSet
    val before = live()
    // renamed key + residual: only sub-1000 'O' rows may re-price;
    // id 4 equi-matches but fails the residual → keeps its price AND
    // its source row inserts (status NULL → the hive null dir)
    val batch = Seq((3L, 333.0), (4L, 444.0)).toDF("ext_id", "p")
    t.mergeInto(batch, Seq("id"),
      matched = Seq(MatchedUpdate(None, Map("price" -> expr("s.p")))),
      notMatched = Seq(NotMatchedInsert(None,
        Map("id" -> expr("s.id"), "price" -> expr("s.p")))),
      sourceKeys = Seq("ext_id"),
      residual = Some(expr("t.price < 1000.0")))              // v2
    def serve() = spark.read.format("graft").load(root)
    assert(multiset(serve().select("id", "price", "status")) ==
      multiset(Seq(
        (1L, 10.0, Option("F")), (2L, 20.0, Option("F")),
        (3L, 333.0, Option("O")),    // full match → updated in place
        (4L, 4000.0, Option("O")),   // residual failed → untouched
        (4L, 444.0, Option.empty[String]), // … source row inserted
        (5L, 50.0, Option("P")))
        .toDF("id", "price", "status")))
    // chains the merge never matched stay byte-identical (F, P);
    // only the O chain rewrote (plus the null-dir insert)
    val untouched = before.filter(f =>
      f._1.contains("/status=F/") || f._1.contains("/status=P/"))
    assert(untouched.subsetOf(live()),
      "unmatched chains must not restage")
    assert(live().exists(_._1.contains("__HIVE_DEFAULT_PARTITION__")) ||
      serve().filter(col("status").isNull).count() == 1)
    ()
  }

  test("merge operation metrics land in the commit info; graft_commit_info serves them (round 17)") {
    val root = fresh("graft_mi_metrics")
    val t = GraftTable.forPath(spark, root)
    t.append(registry)                                        // v1
    val batch = Seq((1L, 11.0), (4L, 44.0), (6L, 66.0)).toDF("id", "price")
    val v = t.mergeInto(batch, Seq("id"),
      matched = Seq(
        MatchedDelete(Some(expr("t.status = 'REJECTED'"))),
        MatchedUpdate(None, Map("price" -> expr("s.price")))),
      notMatched = Seq(NotMatchedInsert(None,
        Map("id" -> expr("s.id"), "price" -> expr("s.price")))))
    // id 1 updates, id 4 (REJECTED) deletes, id 6 inserts
    val info = t.commitInfo(v).getOrElse(fail("no info line on the merge"))
    assert(info.contains("rowsUpdated=1") &&
      info.contains("rowsDeleted=1") && info.contains("rowsInserted=1"),
      s"wrong operation metrics: $info")
    assert(info.contains("mergeSourceStrategy=broadcast"), info)
    // the SQL face: per-commit operation parameters as a TVF
    val rows = spark.sql(
      s"SELECT version, action, info FROM graft_commit_info('$root') " +
        "ORDER BY version").collect()
    assert(rows.length == 2)
    assert(rows(0).getString(2) == null, "append recorded no info")
    assert(rows(1).getLong(0) == v && rows(1).getString(1) == "merge" &&
      rows(1).getString(2) == info)
    ()
  }

  test("tagged mergeInto: a replayed tag no-ops across a fresh table handle (the foreachBatch recipe)") {
    val root = fresh("graft_mi_tag")
    val t = GraftTable.forPath(spark, root)
    t.append(registry)                                        // v1
    val batch = Seq((1L, 111.0), (6L, 66.0)).toDF("id", "price")
    def applyIt(h: GraftTable): Long = h.mergeInto(batch, Seq("id"),
      matched = Seq(MatchedUpdate(None, Map("price" -> expr("s.price")))),
      notMatched = Seq(NotMatchedInsert(None,
        Map("id" -> expr("s.id"), "price" -> expr("s.price")))),
      tag = "epoch-7")
    val v = applyIt(t)
    assert(v == 2L)
    val before = multiset(t.read())
    // same handle replay
    assert(applyIt(t) == 2L, "in-handle replay must no-op")
    // restart-shaped replay: a FRESH handle resolves the tag ledger
    // from the log (checkpoint + later commits), not from caches
    val t2 = GraftTable.forPath(spark, root)
    assert(applyIt(t2) == 2L, "cross-restart replay must no-op")
    assert(t2.latestVersion == 2L)
    assert(multiset(t2.read()) == before)
    ()
  }

  test("lossy source key types refuse; lossless widenings still align (ADVICE r17)") {
    val root = fresh("graft_mi_losscast")
    val t = GraftTable.forPath(spark, root)
    t.append(registry)                                        // id: LONG
    // DOUBLE 5.5 would truncate to 5 under the old try_cast and
    // silently update row 5 — Delta's widened ON matches NOTHING
    val dbl = Seq((5.5, "HIJACK")).toDF("id", "status")
    val e = intercept[IllegalArgumentException] {
      t.mergeInto(dbl, Seq("id"), matched =
        Seq(MatchedUpdate(None, Map("status" -> expr("s.status")))))
    }
    assert(e.getMessage.contains("can change the value"), e.getMessage)
    assert(t.read().filter(col("id") === 5L).head.getString(1) == "PENDING",
      "the refused merge must not have touched any row")
    // INT -> LONG widening is lossless and keeps the aligned fast path
    val ints = Seq((5, "APPROVED")).toDF("id", "status")
    t.mergeInto(ints, Seq("id"), matched =
      Seq(MatchedUpdate(None, Map("status" -> expr("s.status")))))
    assert(t.read().filter(col("id") === 5L).head.getString(1) == "APPROVED")
    ()
  }

  test("a session that disabled broadcast joins gets no forced merge broadcast (ADVICE r17)") {
    val root = fresh("graft_mi_nobc")
    val t = GraftTable.forPath(spark, root)
    t.append(registry)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val v = t.mergeInto(Seq((1L, "APPROVED")).toDF("id", "status"),
        Seq("id"), matched =
          Seq(MatchedUpdate(None, Map("status" -> expr("s.status")))))
      assert(t.commitInfo(v).exists(_.contains("mergeSourceStrategy=shuffle")),
        s"disabled session threshold must mean no forced broadcast: " +
          s"${t.commitInfo(v)}")
      assert(t.read().filter(col("id") === 1L).head.getString(1) == "APPROVED")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    ()
  }

  test("writer-feature gate: a log naming an unknown w: feature refuses commits, keeps reads (round 18)") {
    val root = fresh("graft_mi_wfeat")
    val t = GraftTable.forPath(spark, root)
    t.append(registry)                                        // v1
    // a FUTURE writer's commit: activates a writer feature this
    // binary has never heard of (hand-written log line, the Delta
    // forward-compat drill)
    val body = s"graft-commit\t2\tfuture:op\t${System.currentTimeMillis()}\n" +
      "protocol\t[\"w:futureMagic\"]\n"
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$root/_graft_log/v${"%012d".format(2)}.txt"),
      body.getBytes("UTF-8"))
    val t2 = GraftTable.forPath(spark, root)
    assert(t2.read().count() == 5, "w: features must never gate reads")
    val e = intercept[IllegalArgumentException] {
      t2.append(Seq((9L, "NEW", 1.0)).toDF("id", "status", "price"))
    }
    assert(e.getMessage.contains("w:futureMagic") &&
      e.getMessage.contains("writer features"), e.getMessage)
    ()
  }

  test("ON pairing one source column with two target keys routes the second equality to residual (ADVICE r17); the verb refuses duplicates loudly") {
    val root = fresh("graft_mi_dupkey")
    val t = GraftTable.forPath(spark, root)
    t.append(Seq((1L, 1L, "P", 10.0), (2L, 3L, "P", 20.0),
      (4L, 4L, "P", 40.0)).toDF("id", "sid", "status", "price"))
    spark.conf.set("spark.sql.catalog.gmdk",
      classOf[graft.sources.GraftCatalog].getName)
    Seq((1L, 111.0), (2L, 222.0), (4L, 444.0)).toDF("a", "price")
      .createOrReplaceTempView("mi_dupkey_batch")
    // Delta accepts this shape: matched ⇔ id = a AND sid = a
    spark.sql(s"MERGE INTO gmdk.`$root` t USING mi_dupkey_batch s " +
      "ON t.id = s.a AND t.sid = s.a " +
      "WHEN MATCHED THEN UPDATE SET price = s.price")
    assert(multiset(t.read()) == multiset(Seq(
      (1L, 1L, "P", 111.0),   // both equalities hold → updated
      (2L, 3L, "P", 20.0),    // sid ≠ a → residual fails → untouched
      (4L, 4L, "P", 444.0))   // both hold → updated
      .toDF("id", "sid", "status", "price")))
    // the direct verb refuses the duplicate mapping with the recipe
    val e = intercept[IllegalArgumentException] {
      t.mergeInto(spark.table("mi_dupkey_batch"), Seq("id", "sid"),
        sourceKeys = Seq("a", "a"), matched =
          Seq(MatchedUpdate(None, Map("price" -> expr("s.price")))))
    }
    assert(e.getMessage.contains("multiple merge keys"), e.getMessage)
    ()
  }

  test("multiple-match refusal is decided from the source: unique keys skip the per-row check, dup keys take it") {
    val root = fresh("graft_mi_refusal")
    val t = GraftTable.forPath(spark, root)
    t.append(registry)                                        // v1
    def mergeOf(batch: DataFrame) = t.mergeInto(batch, Seq("id"),
      matched = Seq(MatchedUpdate(None, Map("price" -> expr("s.price")))),
      notMatched = Seq(NotMatchedInsert(None, Map("id" -> expr("s.id"),
        "status" -> lit("NEW"), "price" -> expr("s.price")))))
    val DupCheck = "merge: dup refusal + metrics"
    // (a) unique source keys: no per-target-row check, exact metrics
    val (v2, uniqueJobs) = jobLabels(mergeOf(
      Seq((1L, 11.0), (3L, 33.0), (6L, 66.0)).toDF("id", "price")))
    assert(v2 == 2L)
    assert(!uniqueJobs.contains(DupCheck), uniqueJobs)
    assert(uniqueJobs.contains("merge: operation metrics"), uniqueJobs)
    val info2 = t.commitInfo(v2).getOrElse(fail("no info line on the merge"))
    assert(info2.contains("rowsUpdated=2") && info2.contains("rowsDeleted=0") &&
      info2.contains("rowsInserted=1"), info2)
    // (b) duplicate keys absent from the table: not a multiple match —
    // the per-row check runs, nothing refuses, both rows insert
    val (v3, dupAbsentJobs) = jobLabels(mergeOf(
      Seq((2L, 22.0), (7L, 70.0), (7L, 71.0)).toDF("id", "price")))
    assert(v3 == 3L)
    assert(dupAbsentJobs.contains(DupCheck), dupAbsentJobs)
    val info3 = t.commitInfo(v3).getOrElse(fail("no info line on the merge"))
    assert(info3.contains("rowsUpdated=1") && info3.contains("rowsInserted=2"),
      info3)
    assert(multiset(t.read()) == multiset(Seq(
      (1L, "PENDING", 11.0), (2L, "APPROVED", 22.0),
      (3L, "PENDING", 33.0), (4L, "REJECTED", 40.0),
      (5L, "PENDING", 50.0), (6L, "NEW", 66.0),
      (7L, "NEW", 70.0), (7L, "NEW", 71.0))
      .toDF("id", "status", "price")))
    // (c) duplicate keys hitting one stored row refuse before staging
    val live = t.liveFileMeta().toSet
    val (refused, refusedJobs) = jobLabels(scala.util.Try(mergeOf(
      Seq((5L, 1.0), (5L, 2.0)).toDF("id", "price"))))
    val e = refused.failed.getOrElse(fail("a multiple match must refuse"))
    assert(e.getMessage.contains("multiple source rows"), e.getMessage)
    assert(refusedJobs.contains(DupCheck), refusedJobs)
    assert(!refusedJobs.exists(_.startsWith("merge: stage")), refusedJobs)
    assert(t.latestVersion == v3 && t.liveFileMeta().toSet == live,
      "a refused merge must commit nothing")
    ()
  }
}
