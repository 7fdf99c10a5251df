package graft

import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions

/** Regression for the round-1 codegen defect: RollingHash's generated
  * locals were not freshName'd, so TWO rolling_hash calls compiled
  * into one whole-stage-codegen scope redeclared the same Java locals
  * — Janino failure, silent interpreted fallback (hard failure under
  * CODEGEN_ONLY). This pins both calls in one projection while
  * forbidding fallback.
  */
class CodegenSpec extends SparkSpec {

  test("custom aggregates work from pure SQL after registration") {
    GraftFunctions.register(spark)
    Tables.lineitem(spark, sf).createOrReplaceTempView("li_sql")
    val row = spark.sql(
      """SELECT l_returnflag, kmv_distinct(l_partkey) AS approx,
        |  topk_by_score(CAST(l_quantity AS DOUBLE), l_orderkey) AS top
        |FROM li_sql GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
      .collect()
    assert(row.length == 3)
    row.foreach { r =>
      assert(r.getLong(1) > 0)
      val top = r.getSeq[org.apache.spark.sql.Row](2)
      assert(top.length == 5)
      // rank-ordered: scores non-increasing
      assert(top.map(_.getDouble(0)).sliding(2).forall(p => p(0) >= p(1)))
    }
  }

  test("bloom_contains is exact-on-members under CODEGEN_ONLY") {
    val key = "spark.sql.codegen.factoryMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "CODEGEN_ONLY")
    try {
      GraftFunctions.register(spark)
      // build a filter over part keys 0..99, probe with 0..199: every
      // member MUST hit (no false negatives, the Bloom guarantee);
      // non-members may rarely FP but at 2^20 bits/100 entries ~never
      spark.range(0, 100).createOrReplaceTempView("bloom_in")
      spark.range(0, 200).createOrReplaceTempView("bloom_probe")
      val hits = spark.sql(
        """SELECT p.id, bloom_contains(b.bits, p.id) AS hit
          |FROM bloom_probe p CROSS JOIN
          |  (SELECT bloom_agg(id) AS bits FROM bloom_in) b""".stripMargin)
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      (0L until 100L).foreach(i => assert(hits(i), s"false negative on $i"))
      val fps = (100L until 200L).count(hits)
      assert(fps <= 2, s"$fps false positives of 100 at 2^20 bits")
      // the filter is self-describing (word 0 = numHashes, so a probe
      // can never run a different k than the build), and degenerate
      // arrays probe false instead of dividing by zero
      val hdr = spark.sql(
        """SELECT element_at(bits, 1) AS k,
          |  bloom_contains(slice(bits, 1, 0), CAST(7 AS BIGINT)) AS empty_hit,
          |  bloom_contains(slice(bits, 1, 1), CAST(7 AS BIGINT)) AS hdr_only_hit
          |FROM (SELECT bloom_agg(id) AS bits FROM bloom_in)""".stripMargin).head
      assert(hdr.getLong(0) == 5L, "header word should carry numHashes")
      assert(!hdr.getBoolean(1), "empty array must probe false, not divide by zero")
      assert(!hdr.getBoolean(2), "header-only array must probe false")
      // CMS under the same codegen gate: 10 distinct values, 100 hits
      // each, width 8192 >> 10 so every estimate is exact; degenerate
      // arrays estimate 0
      spark.range(0, 1000).selectExpr("id % 10 AS v")
        .createOrReplaceTempView("cms_in")
      val cms = spark.sql(
        """SELECT p.v, cms_estimate(c.cms, p.v) AS est,
          |  cms_estimate(slice(c.cms, 1, 0), p.v) AS empty_est
          |FROM (SELECT DISTINCT id % 10 AS v FROM range(0, 10)) p
          |CROSS JOIN (SELECT cms_agg(v) AS cms FROM cms_in) c""".stripMargin)
        .collect()
      cms.foreach { r =>
        assert(r.getLong(1) == 100L, s"CMS estimate off for ${r.getLong(0)}")
        assert(r.getLong(2) == 0L, "degenerate CMS array must estimate 0")
      }
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("SQL surface validates arity, literal params, and input types") {
    GraftFunctions.register(spark)
    // extra args must error, never be silently dropped (topk_by_score
    // with an ignored k=10 would return top-5 — wrong results)
    intercept[Exception] {
      spark.sql("SELECT rolling_hash('a', 'b')").collect()
    }
    // wrong element type fails ANALYSIS, not silent garbage: a
    // double-array fed to the float-array cosine used to read half of
    // each slot under codegen
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT cosine_sim(array(0.1d, 0.2d), array(0.3d, 0.4d))")
        .collect()
    }
    // the optional literal k is honored, not ignored
    val topk = spark.sql(
      """SELECT topk_by_score(CAST(id AS DOUBLE), id, 3) AS t
        |FROM range(10)""".stripMargin)
      .head.getSeq[org.apache.spark.sql.Row](0)
    assert(topk.length == 3, s"topk_by_score(.., 3) returned ${topk.length}")
    // mismatched embedding dims yield null, not a truncated cosine
    val mismatch = spark.sql(
      "SELECT cosine_sim(array(CAST(1.0 AS FLOAT)), " +
        "array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c").head
    assert(mismatch.isNullAt(0), "dim mismatch must be null")
  }

  test("two rolling_hash calls share a codegen scope under CODEGEN_ONLY") {
    val key = "spark.sql.codegen.factoryMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "CODEGEN_ONLY")
    try {
      val r = Tables.documents(spark, sf).limit(10)
        .select(
          GraftFunctions.rolling_hash(col("text")).as("h1"),
          GraftFunctions.rolling_hash(upper(col("text"))).as("h2"))
        .collect()
      assert(r.length == 10)
      assert(r.forall(row => !row.isNullAt(0) && !row.isNullAt(1)))
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("bpe_count_approx equals the regex segmenter form, CODEGEN_ONLY") {
    val key = "spark.sql.codegen.factoryMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "CODEGEN_ONLY")
    try {
      // corpus rows plus adversarial edges: runs at boundaries,
      // punctuation clusters, multi-space, empty, non-ASCII incl. a
      // surrogate pair (one code point -> one cost unit)
      import spark.implicits._
      val edge = Seq("", "    ", "abc123!?", "a1b2c3", "....",
        "abcdefgh 12345678", "café über", "a😀b",
        "x" * 97 + " " + "9" * 13).toDF("text")
      val corpus = Tables.documents(spark, sf).select("text")
        .unionByName(edge)
      val r = corpus.select(
        GraftFunctions.bpe_count_approx(col("text")).as("fused"),
        expr("aggregate(regexp_extract_all(text, " +
          "'[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]', 0), " +
          "0L, (acc, m) -> acc + (length(m) + 3) div 4)").as("regex"))
        .collect()
      assert(r.nonEmpty)
      r.foreach(row => assert(row.getLong(0) == row.getLong(1),
        s"fused=${row.getLong(0)} regex=${row.getLong(1)}"))
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("strided_dhash equals the retired HOF phash at every width, CODEGEN_ONLY") {
    val key = "spark.sql.codegen.factoryMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "CODEGEN_ONLY")
    try {
      import graft.operators.Similarity
      // the whole corpus at three widths: the one-pass expression must
      // be bit-identical to the SQL arithmetic the DuckDB oracle
      // replays (ascii(substring(...)) comparisons over code points)
      for (bits <- Seq(16, 28, 52)) {
        def m(df: org.apache.spark.sql.DataFrame) = df.collect()
          .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("phash")).toMap
        val fast = m(Similarity.m8Phash(spark, sf, bits))
        val hof = m(Similarity.m8PhashHof(spark, sf, bits))
        assert(fast == hof, s"strided_dhash diverges from HOF at bits=$bits")
      }
      // adversarial shapes the corpus lacks: empty, shorter than the
      // sample count, multi-byte code points (é, €, CJK), a surrogate
      // pair (🙂), and text exactly at the stride boundary
      import spark.implicits._
      val edge = Seq((1L, ""), (2L, "a"), (3L, "ab"), (4L, "aéz€b"),
        (5L, "🙂x🙂yé"), (6L, "abc".repeat(29)), (7L, "z".repeat(17)),
        (8L, "日本語のテキストです"))
        .toDF("doc_id", "text")
      val both = edge.select(col("doc_id"),
        graft.functions.GraftFunctions.strided_dhash(col("text"), 16).as("f"),
        expr(("aggregate(sequence(0, 15), 0L, (acc, i) -> acc + " +
          "if(ascii(substring(text, least(1 + i * greatest(1, " +
          "length(text) div 17), length(text)), 1)) < " +
          "ascii(substring(text, least(1 + (i + 1) * greatest(1, " +
          "length(text) div 17), length(text)), 1)), " +
          "shiftleft(1L, cast(i as int)), 0L))")).as("h"))
        .collect()
      both.foreach(r => assert(r.getLong(1) == r.getLong(2),
        s"edge doc ${r.getLong(0)}: ${r.getLong(1)} != ${r.getLong(2)}"))
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("gear_cuts generated code matches eval and tiles under CODEGEN_ONLY") {
    val key = "spark.sql.codegen.factoryMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "CODEGEN_ONLY")
    try {
      GraftFunctions.register(spark)
      val rows = Tables.documents(spark, sf)
        .select(col("doc_id"), col("text"),
          GraftFunctions.gear_cuts(col("text").cast("binary")).as("cuts"))
        .collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        val n = r.getString(1).length
        val cuts = r.getSeq[Int](2)
        // replay the boundary rule in plain Scala against the codegen path
        val b = r.getString(1).getBytes("UTF-8")
        val expect = scala.collection.mutable.ArrayBuffer.empty[Int]
        var i = 1
        while (i < b.length) {
          val h = (((b(i - 1) & 0xffL) * 256L + (b(i) & 0xffL) + 1L) *
            2654435761L) % 2147483648L
          if (h < 33554432L) expect += (i + 1)
          i += 1
        }
        if (b.length > 0 && (expect.isEmpty || expect.last != b.length))
          expect += b.length
        assert(cuts == expect.toSeq, s"doc ${r.getLong(0)} cut positions")
        assert(cuts.lastOption.contains(n), s"doc ${r.getLong(0)} must end at $n")
        assert(cuts == cuts.sorted && cuts.distinct == cuts, "cuts ordered, unique")
      }
      // the fused manifest expression must agree with cuts + digests
      val md = java.security.MessageDigest.getInstance("SHA-256")
      Tables.documents(spark, sf).limit(20)
        .select(col("text"),
          GraftFunctions.gear_chunks(col("text").cast("binary")).as("ch"))
        .collect().foreach { r =>
          val b = r.getString(0).getBytes("UTF-8")
          val ch = r.getSeq[org.apache.spark.sql.Row](1)
          assert(ch.map(_.getInt(1)).sum == b.length, "manifest tiles the blob")
          ch.foreach { c =>
            val (off, len) = (c.getInt(0), c.getInt(1))
            md.reset()
            md.update(b, off - 1, len)
            assert(java.util.Arrays.equals(c.getAs[Array[Byte]](2), md.digest()),
              s"sha mismatch at off=$off len=$len")
          }
        }
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("pq_encode_codes / adc_dot bit-equal the HOF formulation, codegen-only") {
    import graft.operators.Similarity
    val key = "spark.sql.codegen.factoryMode"
    val prev = spark.conf.getOption(key)
    // CODEGEN_ONLY: a doGenCode bug fails loudly instead of silently
    // falling back to the interpreted eval the equivalence also tests
    spark.conf.set(key, "CODEGEN_ONLY")
    try {
      val (m, ksub) = (8, 16)
      val emb = Similarity.quantized(spark, sf)
      val books = Similarity.pqCodebooks(spark, emb, m, ksub,
        iters = 3, sampleSize = 512)
      val subDim = books(0)(0).length
      val cents = Similarity.pqCentsDf(spark, books)
      val fused = Similarity.pqEncode(emb, cents, m, subDim)
        .collect().map(r => r.getLong(0) ->
          (r.getSeq[Long](1), r.getLong(2))).toMap
      // the pre-r19 HOF formulation, verbatim (transform over
      // array_max over zip_with/aggregate-scored structs)
      val crows = cents.select(col("sub"), col("cid"), col("cvec"), col("h2"))
        .collect()
      val bArr = Array.fill(m, ksub)(Seq.empty[Double])
      val hArr = Array.fill(m, ksub)(0.0)
      crows.foreach { r =>
        bArr(r.getInt(0))(r.getLong(1).toInt) = r.getSeq[Double](2)
        hArr(r.getInt(0))(r.getLong(1).toInt) = r.getDouble(3)
      }
      val bLit = typedLit(bArr.map(_.toSeq).toSeq)
      val hLit = typedLit(hArr.map(_.toSeq).toSeq)
      val codesHof = transform(sequence(lit(0), lit(m - 1)), sub => {
        val cb = bLit(sub)
        val h2s = hLit(sub)
        val qslice = slice(col("q"), sub * lit(subDim) + lit(1), lit(subDim))
        val scored = transform(sequence(lit(0), lit(ksub - 1)), c =>
          struct(
            (aggregate(
              zip_with(qslice, cb(c), (a, b) => a.cast("double") * b),
              lit(0.0), (acc, v) => acc + v) - h2s(c)).as("sc"),
            (-c).cast("long").as("ncid")))
        -array_max(scored).getField("ncid")
      })
      val ref = emb.select(col("vec_id"), codesHof.as("codes"), col("nrm"))
        .collect().map(r => r.getLong(0) ->
          (r.getSeq[Long](1), r.getLong(2))).toMap
      assert(fused.keySet == ref.keySet)
      assert(fused.nonEmpty, "empty corpus would make the test vacuous")
      fused.foreach { case (id, v) =>
        assert(v == ref(id), s"codes diverge on vec_id=$id") }
      // adc_dot vs the HOF aggregate over the REAL LUT frame, exact
      // double equality (same left-fold order is the claim)
      val qs = emb.filter(col("vec_id") < 10)
      val luts = Similarity.pqLuts(qs, cents, m, subDim)
      val codesDf = Similarity.pqEncode(emb, cents, m, subDim)
      val both = codesDf.crossJoin(broadcast(luts))
        .select(col("qid"), col("vec_id"),
          GraftFunctions.adc_dot(col("codes"), col("lut")).as("fused"),
          expr(s"aggregate(sequence(1, $m), cast(0.0 as double), (acc, s) -> " +
            "acc + element_at(element_at(lut, s), " +
            "cast(element_at(codes, s) + 1 as int)))").as("hof"))
        .collect()
      assert(both.nonEmpty)
      both.foreach { r =>
        assert(java.lang.Double.compare(r.getDouble(2), r.getDouble(3)) == 0,
          s"adc diverges on (qid=${r.getLong(0)}, vec=${r.getLong(1)})") }
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("text, vector and extension-SQL expressions reduce alike compiled or interpreted") {
    // cosine_sim, minhash_sig_long, simhash64, shingle_hashes_pos and
    // long_dot have no other CODEGEN_ONLY check; rolling_hash also
    // resolves through the injected GraftExtensions SQL path
    def reductions(): Seq[Any] = {
      val docs = Tables.documents(spark, sf)
      val e = Tables.embeddings(spark, sf)
      val toks = docs
        .select(expr("filter(split(text, ' '), x -> x != '')").as("toks"))
      def xorOf(arr: org.apache.spark.sql.Column) =
        toks.select(arr.as("g"))
          .select(expr("aggregate(g, 0L, (a, v) -> a ^ v)").as("x"))
          .agg(expr("bit_xor(x)")).head.getLong(0)
      Seq[Any](
        docs.select(GraftFunctions.rolling_hash(col("text")).as("h"))
          .agg(sum("h")).head.getLong(0),
        e.crossJoin(e.select(col("embedding").as("e2")).limit(1))
          .select(GraftFunctions.cosine_sim(col("embedding"), col("e2")).as("c"))
          .agg(sum("c")).head.getDouble(0),
        xorOf(GraftFunctions.minhash_sig_long(
          GraftFunctions.shingle_hashes(col("toks"), 3), 64)),
        toks.select(GraftFunctions.simhash64(col("toks")).as("h"))
          .agg(expr("bit_xor(h)")).head.getLong(0),
        xorOf(GraftFunctions.shingle_hashes_pos(col("toks"), 5)),
        e.select(expr("transform(embedding, x -> " +
            "cast(floor(cast(x as double) * 1000) as bigint))").as("q"))
          .select(GraftFunctions.long_dot(col("q"), col("q")).as("dd"))
          .agg(expr("bit_xor(dd)")).head.getLong(0),
        spark.sql("SELECT rolling_hash('graft') AS h").head.getLong(0))
    }
    // CODEGEN_ONLY with fallback off fails on a doGenCode bug instead
    // of interpreting; NO_CODEGEN without whole-stage codegen is the
    // interpreted reference
    def under(confs: (String, String)*): Seq[Any] = {
      val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try reductions()
      finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    val compiled = under("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false")
    val interpreted = under("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false")
    assert(compiled == interpreted)
    assert(compiled.count(_ != 0L) >= 6, s"degenerate reductions: $compiled")
  }
}
