package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.{GraftTable, HeaderMapper}
import java.nio.file.Files

/** COLUMN MAPPING (Delta's column-mapping feature): rename/drop as
  * metadata-only commits over a logical→physical name indirection.
  * Files are never rewritten; old versions time-travel under their
  * epoch-correct names; DML, stats skipping and the streaming sink
  * keep working through the mapping; dropped data can never
  * resurrect under a re-added name.
  */
class GraftColMapSpec extends SparkSpec {

  private def multiset(df: DataFrame) =
    df.collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap

  private def fresh(tag: String) =
    Files.createTempDirectory(s"graft_$tag").toString + "/t"

  private def seed(): DataFrame = Tables.orders(spark, sf)
    .select("o_orderkey", "o_orderstatus", "o_totalprice")
    .repartitionByRange(6, col("o_orderkey"))

  test("rename is metadata-only: zero files touched, epoch-correct time travel, DML and skipping intact") {
    val root = fresh("rename")
    val t = GraftTable.create(spark, root, seed())          // v1
    val filesV1 = t.liveFiles().map(_._1).toSet
    t.renameColumn("o_totalprice", "price_usd")             // v2
    assert(t.liveFiles().map(_._1).toSet == filesV1,
      "rename touched data files — it must be metadata-only")
    assert(t.read().schema.fieldNames.toSeq ==
      Seq("o_orderkey", "o_orderstatus", "price_usd"))
    // values identical, name changed
    assert(multiset(t.read().withColumnRenamed("price_usd", "o_totalprice"))
      == multiset(seed()))
    // time travel returns the OLD name at the old version
    assert(t.readVersion(1).schema.fieldNames.toSeq ==
      Seq("o_orderkey", "o_orderstatus", "o_totalprice"))
    // appends under the NEW logical name land in the same table
    val extraKey = Tables.orders(spark, sf)
      .agg(max("o_orderkey")).head.getLong(0) + 1
    import spark.implicits._
    t.append(Seq((extraKey, "Z", 9.99))
      .toDF("o_orderkey", "o_orderstatus", "price_usd"))    // v3
    assert(t.read().filter(col("price_usd") === 9.99).count() == 1)
    // stats skipping prunes through the mapping (predicate on the
    // RENAMED column against stats keyed by the physical name)
    val keyMax = extraKey - 1
    val pruned = t.prunedFiles(col("o_orderkey") <= keyMax / 10)
    assert(pruned.nonEmpty && pruned.size < t.liveFiles().size,
      s"skipping dead after rename: ${pruned.size} of ${t.liveFiles().size}")
    // copy-on-write DML through the renamed column
    t.update(col("price_usd") === 9.99,
      Map("price_usd" -> lit(1.0), "o_orderstatus" -> lit("Y"))) // v4
    assert(t.read().filter(col("o_orderstatus") === "Y")
      .select("price_usd").head.getDouble(0) == 1.0)
    t.deleteWhere(col("o_orderkey") === extraKey)           // v5
    assert(t.read().count() == seed().count())
    // rename BACK restores identity mapping
    t.renameColumn("price_usd", "o_totalprice")             // v6
    assert(t.columnMapping().forall { case (l, p) => l == p })
    assert(multiset(t.read()) == multiset(seed()))
    ()
  }

  test("drop tombstones the physical column: a re-added name never resurrects old data") {
    import spark.implicits._
    val root = fresh("drop")
    val t = GraftTable.create(spark, root,
      Seq((1L, "secret1", 10L), (2L, "secret2", 20L))
        .toDF("id", "payload", "score"))                    // v1
    t.dropColumn("payload")                                 // v2
    assert(t.read().schema.fieldNames.toSeq == Seq("id", "score"))
    // time travel still shows the dropped column at v1
    assert(t.readVersion(1).schema.fieldNames.contains("payload"))
    // re-add the SAME logical name via additive evolution
    t.append(Seq((3L, 30L, "fresh3")).toDF("id", "score", "payload"),
      mergeSchema = true)                                   // v3
    val back = t.read().orderBy("id").collect()
    assert(back.length == 3)
    // rows 1/2 predate the re-add: their payload MUST be null — the
    // tombstone maps the new logical 'payload' to a fresh physical
    // column the old files do not contain
    val byId = back.map(r => r.getLong(0) -> r).toMap
    assert(byId(1L).isNullAt(back.head.fieldIndex("payload")),
      "dropped data resurrected under a re-added column name")
    assert(byId(2L).isNullAt(back.head.fieldIndex("payload")))
    assert(byId(3L).getString(back.head.fieldIndex("payload")) == "fresh3")
    ()
  }

  test("reader-feature gate: raw DSv2 path refuses a mapped table and reopens at identity") {
    val root = fresh("gate")
    val t = GraftTable.create(spark, root, seed())
    t.renameColumn("o_orderstatus", "status")
    val e = intercept[Throwable] {
      spark.read.format("graft").load(root).count()
    }
    def chain(x: Throwable): Seq[String] =
      if (x == null) Seq.empty
      else Option(x.getMessage).toSeq ++ chain(x.getCause)
    assert(chain(e).mkString(" ").contains("columnMapping"),
      s"wrong refusal: ${chain(e)}")
    // the verb path serves it fine
    assert(t.read().columns.contains("status"))
    // renaming back restores the identity mapping and the raw path
    t.renameColumn("status", "o_orderstatus")
    assert(spark.read.format("graft").load(root).count() == seed().count())
    ()
  }

  test("rename/drop refusals: constraint references, last column") {
    import spark.implicits._
    val root2 = fresh("refuse2")
    val t2 = GraftTable.create(spark, root2,
      Seq((1L, 5L)).toDF("id", "score"))
    t2.addConstraint("pos_score", "score >= 0")
    intercept[IllegalArgumentException](t2.renameColumn("score", "pts"))
    intercept[IllegalArgumentException](t2.dropColumn("score"))
    t2.dropConstraint("pos_score")
    t2.renameColumn("score", "pts") // allowed once the constraint is gone
    t2.dropColumn("id")             // fine: one column remains
    intercept[IllegalArgumentException](t2.dropColumn("pts")) // last col
    ()
  }

  test("restore across a rename boundary returns epoch-correct names") {
    val root = fresh("restore")
    val t = GraftTable.create(spark, root, seed())          // v1
    t.renameColumn("o_totalprice", "price_usd")             // v2
    t.deleteWhere(col("o_orderkey") % 7 === 0)              // v3
    t.restore(1)                                            // v4: pre-rename
    assert(t.read().schema.fieldNames.toSeq ==
      Seq("o_orderkey", "o_orderstatus", "o_totalprice"),
      "restore must reinstate the restored version's column names")
    assert(multiset(t.read()) == multiset(seed()))
    ()
  }

  test("streaming sink stages physical names: writeStream into a renamed table") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft_cm_sink")
    val root = dir.resolve("t").toString
    import spark.implicits._
    val t = GraftTable.create(spark, root,
      Seq((-1L, 0.0)).toDF("l_orderkey", "l_quantity"))
    t.renameColumn("l_quantity", "qty")
    // land one parquet slice as the file-stream source
    val src = dir.resolve("src")
    Files.createDirectory(src)
    val li = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_quantity").as("qty")).limit(500)
    val stageDir = dir.resolve("stage").toString
    li.coalesce(1).write.parquet(stageDir)
    val part = new java.io.File(stageDir).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.move(part.toPath, src.resolve("slice0.parquet"))
    val schema = StructType(Seq(StructField("l_orderkey", LongType),
      StructField("qty", DoubleType)))
    val q = spark.readStream.schema(schema).parquet(src.toString)
      .writeStream.format("graft")
      .option("checkpointLocation", dir.resolve("ckpt").toString)
      .start(root)
    try q.processAllAvailable() finally q.stop()
    assert(t.read().count() == 501)
    assert(multiset(t.read().filter(col("l_orderkey") =!= -1L)) ==
      multiset(li), "streamed rows lost through the mapping")
    ()
  }

  test("SQL ALTER TABLE DDL routes into metadata-only commits") {
    import spark.implicits._
    val root = fresh("ddl")
    val t = GraftTable.create(spark, root,
      Seq((1L, "a", 10.0), (2L, "b", 20.0))
        .toDF("tag_no", "description", "price"))            // v1
    spark.conf.set("spark.sql.catalog.gddl",
      classOf[graft.sources.GraftCatalog].getName)
    val files = t.liveFiles().map(_._1).toSet
    spark.sql(s"ALTER TABLE gddl.`$root` RENAME COLUMN description TO item_desc")
    spark.sql(s"ALTER TABLE gddl.`$root` ADD COLUMN qty BIGINT")
    assert(t.read().schema.fieldNames.toSeq ==
      Seq("tag_no", "item_desc", "price", "qty"))
    assert(t.read().filter(col("qty").isNull).count() == 2,
      "existing rows must read null in an ALTER-added column")
    spark.sql(s"ALTER TABLE gddl.`$root` DROP COLUMN price")
    assert(t.read().schema.fieldNames.toSeq ==
      Seq("tag_no", "item_desc", "qty"))
    assert(t.liveFiles().map(_._1).toSet == files,
      "ALTER DDL must be metadata-only — it touched data files")
    // CHECK constraints through the property convention
    spark.sql(s"ALTER TABLE gddl.`$root` SET TBLPROPERTIES " +
      "('constraint.has_tag' = 'tag_no > 0')")
    assert(t.constraints() == Map("has_tag" -> "tag_no > 0"))
    intercept[IllegalArgumentException] {
      t.append(Seq((-5L, "x", 1L)).toDF("tag_no", "item_desc", "qty"))
    }
    spark.sql(s"ALTER TABLE gddl.`$root` UNSET TBLPROPERTIES " +
      "('constraint.has_tag')")
    assert(t.constraints().isEmpty)
    // unsupported DDL refuses loudly, the table untouched
    val v = t.latestVersion
    val e = intercept[Throwable] {
      spark.sql(s"ALTER TABLE gddl.`$root` ALTER COLUMN qty TYPE INT")
    }
    def chain(x: Throwable): Seq[String] =
      if (x == null) Seq.empty
      else Option(x.getMessage).toSeq ++ chain(x.getCause)
    val msg = chain(e).mkString(" ").toLowerCase
    assert(msg.contains("not supported") || msg.contains("cannot") ||
      msg.contains("supported ddl"), chain(e).mkString(" | "))
    assert(t.latestVersion == v)
    ()
  }

  test("the HeaderMapper upload flow survives a registry column rename") {
    import spark.implicits._
    // the reference's motivating scenario (map_excel_to_db_columns,
    // app.py:5999): the registry's column gets renamed upstream; the
    // next workbook upload must still land on it — fuzzy headers map
    // to the RENAMED registry schema and the merge commits through
    // the mapping with zero old files rewritten
    val root = fresh("headermap")
    val t = GraftTable.create(spark, root,
      Seq((100L, "old desc", "A"), (200L, "keep", "B"))
        .toDF("tag_no", "description", "status"))
    t.renameColumn("description", "item_description")
    val targets = t.read().schema.fieldNames.toSeq
    val headers = Seq("Tag No.", "Item  Description", "STATUS")
    val m = HeaderMapper.mapHeaders(headers, targets, Some("tag_no"))
    assert(m("Tag No.") == "tag_no" &&
      m("Item  Description") == "item_description" && m("STATUS") == "status")
    val upload = Seq((100L, "new desc", "A"), (300L, "brand new", "C"))
      .toDF("Tag No.", "Item  Description", "STATUS")
    val renamed = m.foldLeft(upload) { case (df, (h, c)) =>
      df.withColumnRenamed(h, c) }
    val before = t.liveFiles().map(_._1).toSet
    t.merge(renamed, "tag_no")
    assert(t.read().count() == 3)
    assert(t.read().filter(col("tag_no") === 100L)
      .select("item_description").head.getString(0) == "new desc")
    assert(t.read().filter(col("tag_no") === 200L)
      .select("item_description").head.getString(0) == "keep")
    // and the physical files still store the ORIGINAL name: old files
    // were readable without rewrite, so at least the merge's rewrite
    // is the only file change
    assert(t.liveFiles().map(_._1).toSet != before)
    ()
  }

  test("column mapping works on a hive-partitioned table: readers translate, DML rewrites, partition column protected") {
    val root = fresh("pcm")
    val t = GraftTable.forPath(spark, root)
    t.appendPartitioned(seed()
      .withColumn("bucket", pmod(col("o_orderkey"), lit(4L))), "bucket")
    val want2 = multiset(seed()
      .filter(pmod(col("o_orderkey"), lit(4L)) === 2)
      .withColumn("bucket", pmod(col("o_orderkey"), lit(4L))))
    // rename a payload column: metadata-only, partition-subset
    // readers serve the LOGICAL name with values intact
    val filesBefore = t.liveFiles().map(_._1).toSet
    t.renameColumn("o_totalprice", "price_usd")
    assert(t.liveFiles().map(_._1).toSet == filesBefore,
      "rename on a partitioned table touched files")
    val pruned = t.readPartitionedColumn("bucket", Seq(2L)).get
    assert(pruned.schema.fieldNames.toSeq ==
      Seq("o_orderkey", "o_orderstatus", "price_usd", "bucket"))
    assert(multiset(pruned.withColumnRenamed("price_usd", "o_totalprice"))
      == want2, "pruned read after rename lost rows or values")
    // appends under the NEW logical name land partitioned (staged
    // under the constant physical name)
    import spark.implicits._
    val extraKey = Tables.orders(spark, sf)
      .agg(max("o_orderkey")).head.getLong(0) + 1
    t.appendPartitioned(Seq((extraKey, "Z", 9.99, extraKey % 4))
      .toDF("o_orderkey", "o_orderstatus", "price_usd", "bucket"), "bucket")
    assert(t.readPartitions("bucket", Seq(extraKey % 4)).get
      .filter(col("price_usd") === 9.99).count() == 1)
    // copy-on-write DML through the renamed column stays
    // partition-preserving
    t.deleteWhere(col("o_orderkey") === extraKey)
    assert(t.read().filter(col("price_usd") === 9.99).count() == 0)
    assert(t.readPartitionedColumn("bucket", Seq(2L)).isDefined)
    // drop translates too: the column vanishes from subset reads,
    // files untouched
    t.dropColumn("o_orderstatus")
    assert(t.readPartitions("bucket", Seq(2L)).get
      .schema.fieldNames.toSeq == Seq("o_orderkey", "price_usd"))
    // the partition column's NAME is protected: a payload column may
    // not take it (path-restored values would mask real data)
    intercept[IllegalArgumentException] {
      t.renameColumn("price_usd", "bucket")
    }
    intercept[IllegalArgumentException] { t.addColumn("bucket",
      org.apache.spark.sql.types.LongType) }
    ()
  }

  // ---- column mapping × every reader and rewrite ----------------------
  //
  // Two fixtures, each after rename s→label, a re-add of the old name
  // `s` (a fresh physical column: `s` is still the physical name of
  // `label`), a plain addColumn `x`, and one append under the new
  // names: rows k < 8 read label=v<k>, s=null, x=null; rows 8, 9 read
  // label=v<k>, s=n<k>, x=10k. The partitioned fixture keys on g = k % 2.

  /** The model rows of keys `ks` as (payload…[, g]) multisets. */
  private def model(ks: Seq[Long], keys: Boolean): Map[Seq[Any], Int] =
    ks.map { k =>
      Seq[Any](k, s"v$k", k % 3, k * 1.5, if (k >= 8) s"n$k" else null,
        if (k >= 8) k * 10 else null) ++ (if (keys) Seq(k % 2) else Nil)
    }.groupBy(identity).view.mapValues(_.length).toMap

  private val payloadCols = Seq("k", "label", "m", "p", "s", "x")

  private def content(df: DataFrame, keys: Boolean = false) =
    multiset(df.select((payloadCols ++ (if (keys) Seq("g") else Nil))
      .map(col): _*))

  /** Builds the fixture at `root`; returns the version of its last
    * metadata commit (the feeds read from there: only the append).
    */
  private def buildFixture(root: String, partitioned: Boolean): Long = {
    import spark.implicits._
    val t = GraftTable.forPath(spark, root)
    def old(lo: Long, hi: Long) = (lo until hi)
      .map(k => (k, s"v$k", k % 3, k * 1.5, k % 2))
      .toDF("k", "s", "m", "p", "g").repartition(2)
    def land(df: DataFrame) =
      if (partitioned) t.appendPartitioned(df, "g")
      else t.append(df.drop("g"))
    land(old(0, 6))                                         // v1
    land(old(6, 8))                                         // v2
    t.renameColumn("s", "label")                            // v3
    t.addColumn("s", org.apache.spark.sql.types.StringType) // v4
    val meta = t.addColumn("x", org.apache.spark.sql.types.LongType) // v5
    land((8L until 10L).map(k => (k, s"v$k", k % 3, k * 1.5, s"n$k", k * 10, k % 2))
      .toDF("k", "label", "m", "p", "s", "x", "g"))         // v6
    meta
  }

  private lazy val fixtures: Map[Boolean, (String, Long)] =
    Seq(false, true).map { partitioned =>
      val root = fresh(if (partitioned) "cmfix_p" else "cmfix_f")
      partitioned -> (root, buildFixture(root, partitioned))
    }.toMap

  /** A private copy of a fixture (for verbs that commit). */
  private def copyOf(partitioned: Boolean): GraftTable = {
    val src = java.nio.file.Paths.get(fixtures(partitioned)._1)
    val dst = java.nio.file.Paths.get(fresh("cmcopy"))
    val walk = Files.walk(src)
    try walk.forEach { p =>
      val q = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else { Files.copy(p, q); () }
    } finally walk.close()
    GraftTable.forPath(spark, dst.toString)
  }

  private val all = (0L until 10L)

  test("column mapping × reads: read, readWhere, readPartitions and readPartitionedColumn serve renamed and re-added columns") {
    Seq(false, true).foreach { partitioned =>
      val t = GraftTable.forPath(spark, fixtures(partitioned)._1)
      assert(t.read().columns.toSeq == payloadCols, t.read().columns.toSeq)
      assert(content(t.read()) == model(all, keys = false), s"read($partitioned)")
      assert(content(t.readWhere(col("k") >= 7)) ==
        model(all.filter(_ >= 7), keys = false), s"readWhere($partitioned)")
    }
    val t = GraftTable.forPath(spark, fixtures(true)._1)
    assert(t.readPartitions("g", Seq(1L)).get.columns.toSeq == payloadCols)
    assert(content(t.readPartitions("g", Seq(1L)).get) ==
      model(all.filter(_ % 2 == 1), keys = false))
    val withKey = t.readPartitionedColumn("g", Seq(0L, 1L)).get
    assert(withKey.columns.toSeq == payloadCols :+ "g")
    assert(content(withKey, keys = true) == model(all, keys = true))
    ()
  }

  test("column mapping × DML: update and deleteWhere keep every column") {
    Seq(false, true).foreach { partitioned =>
      val t = copyOf(partitioned)
      t.update(col("k") === 9 || col("k") === 1, Map("s" -> lit("u")))
      t.deleteWhere(col("k") === 8 || col("k") === 2)
      val want = model(all.filterNot(Set(8L, 2L)), keys = false).map {
        case (r, n) if r.head == 9L || r.head == 1L => (r.updated(4, "u"), n)
        case e => e
      }
      assert(content(t.read()) == want, s"dml($partitioned)")
    }
  }

  test("column mapping × compact is content-neutral") {
    val t = copyOf(partitioned = false)
    val files = t.liveFiles().size
    t.compact(1L << 30)
    assert(t.liveFiles().size < files, "compact rewrote nothing")
    assert(content(t.read()) == model(all, keys = false))
  }

  test("column mapping × compactZOrder is content-neutral") {
    val t = copyOf(partitioned = false)
    t.compactZOrder("k", "m", 1)
    assert(t.liveFiles().size == 1)
    assert(content(t.read()) == model(all, keys = false))
  }

  test("column mapping × compactPartitioned is content-neutral") {
    val t = copyOf(partitioned = true)
    val files = t.liveFiles().size
    t.compactPartitioned("g", 1L << 30)
    assert(t.liveFiles().size < files, "compactPartitioned rewrote nothing")
    assert(content(t.readPartitionedColumn("g", Seq(0L, 1L)).get, keys = true) ==
      model(all, keys = true))
  }

  test("column mapping × compactPartitionsWhere is content-neutral") {
    val t = copyOf(partitioned = true)
    val files = t.liveFiles().size
    t.compactPartitionsWhere(Seq("g" -> Seq("1")), 1L << 30)
    assert(t.liveFiles().size < files, "compactPartitionsWhere rewrote nothing")
    assert(content(t.readPartitionedColumn("g", Seq(0L, 1L)).get, keys = true) ==
      model(all, keys = true))
  }

  test("column mapping × zorderPartitions is content-neutral") {
    val t = copyOf(partitioned = true)
    val before = t.latestVersion
    assert(t.zorderPartitions(Seq("g" -> Seq("1")), "k", "m", 1) > before)
    assert(content(t.readPartitionedColumn("g", Seq(0L, 1L)).get, keys = true) ==
      model(all, keys = true))
  }

  test("column mapping × changeFeed serves the append under logical names") {
    Seq(false, true).foreach { partitioned =>
      val (root, meta) = fixtures(partitioned)
      val f = GraftTable.forPath(spark, root).changeFeed(meta).get
      assert(f.filter(col("_change_type") =!= "insert").isEmpty)
      assert(content(f, keys = partitioned) == model(Seq(8L, 9L), keys = partitioned),
        s"changeFeed($partitioned)")
    }
  }

  test("column mapping × changesSince serves the append under logical names") {
    Seq(false, true).foreach { partitioned =>
      val (root, meta) = fixtures(partitioned)
      val f = GraftTable.forPath(spark, root).changesSince(meta).get
      // read()'s shape: payload columns, no partition keys
      assert(f.columns.toSeq == payloadCols, f.columns.toSeq)
      assert(content(f) == model(Seq(8L, 9L), keys = false),
        s"changesSince($partitioned)")
    }
  }

  test("the readChangeFeed stream refuses while column mapping is active") {
    val e = intercept[IllegalArgumentException] {
      spark.readStream.format("graft").option("readChangeFeed", "true")
        .load(fixtures(false)._1)
    }
    assert(e.getMessage.contains("columnMapping"), e.getMessage)
  }

  test("a merge-on-read table's readChangeFeed stream still serves") {
    import spark.implicits._
    val root = fresh("cmmor")
    val t = GraftTable.create(spark, root,
      (0L until 20L).map(k => (k, s"v$k")).toDF("k", "s").coalesce(1)) // v1
    t.deleteWhere(col("k") === 3, mor = true)               // v2: a dv
    assert(t.hasDvAsOf(t.latestVersion))
    val got = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val q = spark.readStream.format("graft").option("readChangeFeed", "true")
      .load(root)
      .writeStream.option("checkpointLocation", fresh("cmmor_ck"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) =>
        got ++= b.select("k", "s", "_change_type", "_commit_version")
          .collect().map(_.toSeq)
        ()
      }.start()
    try q.awaitTermination() finally q.stop()
    val want = t.changeFeed(0).get
      .select("k", "s", "_change_type", "_commit_version")
      .collect().map(_.toSeq)
    assert(got.groupBy(identity).view.mapValues(_.size).toMap ==
      want.groupBy(identity).view.mapValues(_.size).toMap)
    assert(got.count(_(2) == "delete") == 1 && got.size == 21)
  }
}
