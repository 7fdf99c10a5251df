package graft

import org.apache.spark.sql.functions._
import graft.operators.{Pipeline, Similarity, TextOps}
import graft.functions.GraftFunctions

class TextSimSpec extends SparkSpec {

  test("text/similarity queries return rows") {
    (TextOps.queries ++ Similarity.queries).foreach { case (name, fn) =>
      assert(fn(spark, sf).count() > 0, s"$name returned no rows")
    }
  }

  test("minhash LSH finds the high-jaccard pairs the exact join finds") {
    val exact = TextOps.d2NgramJaccard(spark, sf).collect()
      .filter(_.getAs[Double]("jaccard") >= 0.9)
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val lsh = TextOps.d6MinhashLsh(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(exact.nonEmpty, "corpus has no near-dup pairs to test against")
    val missed = exact -- lsh
    assert(missed.isEmpty, s"LSH missed high-jaccard pairs: $missed")
  }

  test("d2 df-cap is unhit at test SF: capped pair set == uncapped") {
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
                 r.getAs[Double]("jaccard"))).toSet
    val capped = pairs(TextOps.d2NgramJaccard(spark, sf))
    val uncapped = pairs(TextOps.d2NgramJaccardCapped(spark, sf, Long.MaxValue))
    assert(capped == uncapped,
      s"df cap dropped pairs at test SF: ${uncapped -- capped}")
  }

  test("d2's prefix-filtered plan is exact: prefix+verify pairs == naive pairs") {
    // the scale plan (AllPairs prefix filter + exact verification)
    // must produce the SAME pair set as the naive one-exchange form
    // at any size — the filter is lossless for jaccard >= 0.8 under
    // the global hash order, and verification counts the true
    // intersection; this is what lets the plan switch stay invisible
    // to the DuckDB oracle
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
                 r.getAs[Double]("jaccard"))).toSet
    val naive = pairs(TextOps.d2NgramJaccard(spark, sf))
    val prefix = pairs(TextOps.d2NgramJaccardPrefix(spark, sf, 1000L))
    assert(prefix == naive,
      s"prefix plan diverged: missing=${naive -- prefix} extra=${prefix -- naive}")
    assert(naive.nonEmpty)
    // ... and stays bit-identical when the df cap BINDS (ADVICE r12:
    // dfCap is a public parameter — both plans define it on FULL
    // document frequency, excluding over-cap shingles from `shared`
    // while keeping full set sizes in the denominator). dfCap=3
    // genuinely bites on this corpus: assert it changes the answer
    // so the agreement below is not vacuous.
    val naive3 = pairs(TextOps.d2NgramJaccardCapped(spark, sf, 3L))
    val prefix3 = pairs(TextOps.d2NgramJaccardPrefix(spark, sf, 3L))
    assert(prefix3 == naive3,
      s"binding-cap divergence: missing=${naive3 -- prefix3} " +
        s"extra=${prefix3 -- naive3}")
    assert(naive3 != naive, "dfCap=3 did not bind — the test is vacuous")
  }

  test("d36's scale pair source (LSH-verified) matches the exact d2 pairs at test SF") {
    // above the plan-switch threshold d36 clusters from d6's banded-
    // LSH candidates verified by true intersection; its oracle models
    // the exact pair set, so at any oracle SF the two sources must
    // agree — both on the pair set itself and on the survivor set it
    // induces
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
                 r.getAs[Double]("jaccard"))).toSet
    val exact = pairs(TextOps.d2NgramJaccard(spark, sf))
    val lsh = pairs(TextOps.lshVerifiedPairs(spark, sf))
    assert(lsh == exact,
      s"LSH-verified diverged: missing=${exact -- lsh} extra=${lsh -- exact}")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    val viaLsh = rows(TextOps.d36From(spark, sf,
      TextOps.lshVerifiedPairs(spark, sf)))
    val viaExact = rows(TextOps.d36From(spark, sf,
      TextOps.d2NgramJaccard(spark, sf)))
    assert(viaLsh == viaExact,
      "d36's survivor set diverged between pair sources at test SF")
    assert(viaLsh.nonEmpty)
  }

  test("d7 multi-index finds exactly the brute-force ham<=7 pairs") {
    val sh = Tables.documents(spark, sf)
      .withColumn("toks", expr("filter(split(text, ' '), x -> x != '')"))
      .filter(size(col("toks")) >= 1)
      .select(col("doc_id"), GraftFunctions.simhash64(col("toks")).as("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (ida, ha) <- sh; (idb, hb) <- sh
      if ida < idb && java.lang.Long.bitCount(ha ^ hb) <= 7
    } yield (ida, idb)).toSet
    val lsh = TextOps.d7Simhash(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(lsh == brute,
      s"missed: ${brute -- lsh}; spurious: ${lsh -- brute}")
  }

  test("shingle_hashes_pos matches shingle_hashes' set under CODEGEN_ONLY") {
    // the positional variant must agree with the set variant on
    // membership (same token-hash + rolling-combiner core) and emit
    // exactly tokens-n+1 entries in order; CODEGEN_ONLY makes a
    // doGenCode bug fail loudly instead of interpreting silently
    val key = "spark.sql.codegen.factoryMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "CODEGEN_ONLY")
    try {
      Tables.documents(spark, sf)
        .withColumn("toks", expr("filter(split(text, ' '), x -> x != '')"))
        .filter(size(col("toks")) >= 3)
        .select(size(col("toks")).as("m"),
          GraftFunctions.shingle_hashes(col("toks"), 3).as("set"),
          GraftFunctions.shingle_hashes_pos(col("toks"), 3).as("seq"))
        .collect().foreach { r =>
          val m = r.getInt(0)
          val set = r.getSeq[Long](1).toSet
          val seqv = r.getSeq[Long](2)
          assert(seqv.length == m - 2, s"expected ${m - 2} grams, got ${seqv.length}")
          assert(seqv.toSet == set, "positional hashes diverged from the set variant")
        }
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("d22 interval-merge coverage equals the per-position brute force") {
    // the lag-window union-of-intervals sum exists to avoid exploding
    // each 5-gram into 5 position rows; prove it computes the same
    // covered-token count as that brute per-position distinct count
    val g = TextOps.grams5(spark, sf)
    val dup = g.groupBy("gh").agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2).select("gh")
    val brute = g.join(dup, Seq("gh"), "left_semi")
      .select(col("doc_id"), explode(expr("sequence(pos, pos + 4)")).as("cp"))
      .groupBy("doc_id").agg(countDistinct(col("cp")).as("covered"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = TextOps.d22SpanDedup(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("covered_tokens"))
      .filter(_._2 > 0).toMap
    assert(brute.nonEmpty, "corpus has no duplicated spans to test against")
    assert(got == brute,
      s"interval-merge diverged from brute coverage on ${(got.toSet diff brute.toSet).take(5)}")
  }

  test("hierarchical prefix sum is grp-invariant and equals the naive window") {
    import org.apache.spark.sql.expressions.Window
    val t = Tables.documents(spark, sf)
      .withColumn("toks", expr("filter(split(text, ' '), x -> x != '')"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"))
      .filter(col("n_tokens") >= 1)
    def offs(grp: Long): Map[Long, Long] =
      TextOps.exclusivePrefixSum(t, "doc_id", "n_tokens", "off", grp)
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("off")).toMap
    // grp=4 forces >= 4 recursion levels at 500 docs; grp=1e9 is the
    // single-level base case; both must equal the global-window form
    val deep = offs(4)
    val flat = offs(1000000000L)
    val naive = t.withColumn("off", coalesce(
        sum("n_tokens").over(Window.orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("off")).toMap
    assert(deep == naive, "deep recursion diverged from the naive window")
    assert(flat == naive, "base case diverged from the naive window")
  }

  test("e5 shingle-df cut is unhit at test SF: cut == uncut top-k") {
    // dfCutMul=0 keeps every shingle (df·0 <= N always); identical
    // results prove the 100 TB posting-length bound drops nothing at
    // this corpus size — d2's cap argument, restated for retrieval
    def rows(m: Long) = TextOps.e5SparseRetrieval(spark, sf, 5, m).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val cut = rows(10)
    assert(cut.nonEmpty, "e5 returned no retrieval results")
    assert(cut == rows(0), "df cut dropped retrieval results at test SF")
  }

  test("d24 semantic dedup follows the dominated within-cluster rule exactly") {
    val out = Similarity.d24SemanticDedup(spark, sf).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("cid"),
        r.getAs[Boolean]("kept"),
        Option(r.getAs[java.lang.Long]("dup_of")).map(_.toLong)))
    // re-derive the quantized vectors and brute-force every
    // within-cluster pair with the identical integer-dot arithmetic;
    // everything downstream of the clustering must match bit-exactly
    val qv = Tables.embeddings(spark, sf)
      .withColumn("q", expr(
        "transform(embedding, x -> cast(floor(cast(x as double) * 1000) as bigint))"))
      .select("vec_id", "q").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    def cos(a: Array[Long], b: Array[Long]): Double = {
      var dot = 0L; var na = 0L; var nb = 0L; var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      dot.toDouble / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
    }
    val byCluster = out.groupBy(_._2)
    var dropsSeen = 0
    out.foreach { case (v, cid, kept, dupOf) =>
      val dominating = byCluster(cid).map(_._1).filter(_ < v)
        .filter(u => cos(qv(u), qv(v)) >= 0.4).sorted
      assert(kept == dominating.isEmpty,
        s"vec $v kept=$kept but dominating set is $dominating")
      assert(dupOf == dominating.headOption,
        s"vec $v dup_of=$dupOf but min dominating is ${dominating.headOption}")
      if (!kept) dropsSeen += 1
    }
    assert(dropsSeen > 0, "no vector was dropped — tau too high to observe")
  }

  test("rolling_hash matches the reference recurrence and registers for SQL") {
    def ref(s: String): Long =
      s.foldLeft(0L)((h, c) => (h * 31 + c.toLong) % 1000000007L)
    GraftFunctions.register(spark)
    val got = spark.sql("SELECT rolling_hash('spark graft') AS h").head.getLong(0)
    assert(got == ref("spark graft"))
    val viaCol = Tables.documents(spark, sf).limit(5)
      .select(col("text"), GraftFunctions.rolling_hash(col("text")).as("h"))
      .collect()
    viaCol.foreach(r => assert(r.getLong(1) == ref(r.getString(0))))
  }

  test("cosine_sim matches a hand-computed cosine") {
    val rows = Tables.embeddings(spark, sf).filter(col("vec_id") < 2)
      .orderBy("vec_id").collect()
    val a = rows(0).getAs[Seq[Float]]("embedding").toArray
    val b = rows(1).getAs[Seq[Float]]("embedding").toArray
    val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
    val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
    val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
    val expected = dot / (na * nb)
    val got = Tables.embeddings(spark, sf).filter(col("vec_id") === 0)
      .crossJoin(Tables.embeddings(spark, sf).filter(col("vec_id") === 1)
        .select(col("embedding").as("e2")))
      .select(GraftFunctions.cosine_sim(col("embedding"), col("e2")).as("c"))
      .head.getDouble(0)
    assert(math.abs(got - expected) < 1e-12)
  }

  test("e2 LSH ANN cosines agree with e1 brute force on shared pairs") {
    val brute = Similarity.e1KnnBrute(spark, sf).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid")) -> r.getAs[Double]("cosine"))
      .toMap
    val lsh = Similarity.e2KnnLsh(spark, sf).collect()
    val shared = lsh.flatMap { r =>
      brute.get((r.getAs[Long]("qid"), r.getAs[Long]("nid")))
        .map(c => (c, r.getAs[Double]("cosine")))
    }
    assert(shared.nonEmpty, "no overlap between LSH and brute-force top-k")
    // e1 quantizes embeddings to 3 decimals for oracle exactness, so
    // its cosines differ from e2's full-precision floats by O(1e-3).
    shared.foreach { case (c1, c2) => assert(math.abs(c1 - c2) < 5e-3) }
    // multi-probe (1-flip neighbors) recall floor: 0.60 measured here
    val recall = shared.length.toDouble / brute.size
    assert(recall >= 0.4, f"multi-probe LSH recall $recall%.2f below floor")
  }

  test("oracle range() caps hold: docs <= 2048 bytes, embedding dim == 64") {
    // the m2 oracle enumerates frames with range(0, 32) and the
    // e1/e3 oracles enumerate components with range(1, 65); if the
    // data generator ever outgrew these bounds the compare would fail
    // with silent row-count mismatches blamed on the engine — assert
    // the assumptions here instead.
    val maxChars = Tables.documents(spark, sf)
      .agg(max(length(col("text")))).head.getInt(0)
    assert(maxChars <= 32 * 64, s"doc of $maxChars bytes exceeds the m2 oracle's 32-frame cap")
    val dims = Tables.embeddings(spark, sf)
      .select(size(col("embedding")).as("dim")).distinct().collect().map(_.getInt(0))
    assert(dims.sameElements(Array(64)),
      s"embedding dims ${dims.mkString(",")} != 64 (e1/e3 oracle range cap)")
  }

  test("e6 MMR trace equals an independent in-memory greedy replay") {
    val got = Similarity.e6MmrRerank(spark, sf).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("rnk")) ->
        (r.getAs[Long]("nid"), r.getAs[Double]("score"))).toMap
    // replay: quantized vectors in memory, same arithmetic
    val vecs = Tables.embeddings(spark, sf).collect().map { r =>
      r.getAs[Long]("vec_id") ->
        r.getSeq[Float](1).map(x => math.floor(x.toDouble * 1000).toLong).toArray
    }.toMap
    def cos(a: Array[Long], b: Array[Long]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot.toDouble / (math.sqrt(a.map(x => x * x).sum.toDouble) *
        math.sqrt(b.map(x => x * x).sum.toDouble))
    }
    val qids = vecs.keys.filter(_ < 10).toSeq.sorted
    qids.foreach { qid =>
      val rel = vecs.keys.filter(_ != qid).map(n => n -> cos(vecs(qid), vecs(n)))
      val cand = rel.toSeq.sortBy { case (n, r) => (-r, n) }.take(20)
      val relMap = cand.toMap
      var sel = List(cand.head._1)
      assert(got((qid, 1L))._1 == cand.head._1, s"q$qid rank-1")
      (2 to 5).foreach { t =>
        val pick = cand.filterNot(c => sel.contains(c._1)).map { case (n, r) =>
          val msim = sel.map(s0 => cos(vecs(n), vecs(s0))).max
          (n, 0.5 * r - 0.5 * msim)
        }.minBy { case (n, sc) => (-sc, n) }
        val (gn, gs) = got((qid, t.toLong))
        assert(gn == pick._1, s"q$qid rank-$t pick: got $gn want ${pick._1}")
        assert(gs == pick._2, s"q$qid rank-$t score")
        sel = sel :+ pick._1
      }
      // diversity: the MMR set's worst-case internal similarity never
      // exceeds the pure-relevance top-5's (the property MMR buys)
      val top5 = cand.take(5).map(_._1)
      def maxPair(xs: Seq[Long]) = (for {
        a <- xs; b <- xs if a < b } yield cos(vecs(a), vecs(b))).max
      assert(maxPair(sel) <= maxPair(top5) + 1e-12, s"q$qid not diversified")
    }
  }

  test("d8 multi-probe near-dup recalls most brute-force pairs") {
    val embs = Tables.embeddings(spark, sf).select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val truth = (for { (ia, ea) <- embs; (ib, eb) <- embs
      if ia < ib && cos(ea, eb) >= 0.4 } yield (ia, ib)).toSet
    val got = Similarity.d8EmbeddingNearDup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.subsetOf(truth), s"false positives: ${got -- truth}")
    val recall = (truth & got).size.toDouble / truth.size
    assert(recall >= 0.5, f"d8 recall $recall%.2f below floor")
  }

  test("e4 IVF recalls half of e1's neighbors with bit-equal cosines") {
    val brute = Similarity.e1KnnBrute(spark, sf).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid")) -> r.getAs[Double]("cosine"))
      .toMap
    val ivf = Similarity.e4KnnIvf(spark, sf).collect()
    val shared = ivf.flatMap { r =>
      brute.get((r.getAs[Long]("qid"), r.getAs[Long]("nid")))
        .map(c => (c, r.getAs[Double]("cosine")))
    }
    // both paths score with the same quantized LongDot arithmetic, so
    // overlapping pairs must agree to the bit
    shared.foreach { case (c1, c2) => assert(c1 == c2) }
    // trained k-means centroids measure 0.72 here; 0.5 floors against
    // data-generator drift without flaking
    val recall = shared.length.toDouble / brute.size
    assert(recall >= 0.5, f"IVF recall $recall%.2f below floor (nProbe=4)")
  }

  test("e7 PQ shortlist recalls e1 neighbors; re-ranked cosines bit-equal") {
    val brute = Similarity.e1KnnBrute(spark, sf).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid")) -> r.getAs[Double]("cosine"))
      .toMap
    val pq = Similarity.e7PqAnn(spark, sf).collect()
    val shared = pq.flatMap { r =>
      brute.get((r.getAs[Long]("qid"), r.getAs[Long]("nid")))
        .map(c => (c, r.getAs[Double]("cosine")))
    }
    // the re-rank scores with the same quantized LongDot arithmetic as
    // e1, so overlapping pairs must agree to the bit — only the
    // SHORTLIST (which pairs survive ADC) is approximate
    shared.foreach { case (c1, c2) => assert(c1 == c2) }
    val recall = shared.length.toDouble / brute.size
    info(f"e7 recall@5 vs e1: $recall%.2f (kCand=50)")
    // 0.5 floors against data-generator drift without flaking
    assert(recall >= 0.5, f"PQ recall $recall%.2f below floor (kCand=50)")
    // determinism: training, encode, and ADC are all hash-seeded exact
    // arithmetic — a second run must reproduce the trace bit-for-bit
    val again = Similarity.e7PqAnn(spark, sf).collect()
    assert(pq.map(_.toString).toSeq == again.map(_.toString).toSeq,
      "e7 is not deterministic across runs")
  }

  test("e8 IVF-PQ recalls e1 neighbors through BOTH approximations") {
    val brute = Similarity.e1KnnBrute(spark, sf).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid")) -> r.getAs[Double]("cosine"))
      .toMap
    val ivfpq = Similarity.e8KnnIvfPq(spark, sf).collect()
    val shared = ivfpq.flatMap { r =>
      brute.get((r.getAs[Long]("qid"), r.getAs[Long]("nid")))
        .map(c => (c, r.getAs[Double]("cosine")))
    }
    // exact re-rank arithmetic is shared with e1: bit-equality again
    shared.foreach { case (c1, c2) => assert(c1 == c2) }
    val recall = shared.length.toDouble / brute.size
    info(f"e8 recall@5 vs e1: $recall%.2f (nProbe=4, kCand=50)")
    // two stacked approximations: floor at the conjunction of e4's and
    // e7's observed floors, with drift slack
    assert(recall >= 0.4, f"IVF-PQ recall $recall%.2f below floor")
  }

  test("d16 bloom decontamination never misses a d11-contaminated doc") {
    // Bloom membership is one-sided: false positives allowed, false
    // negatives impossible — so d16's flag set must contain d11's
    // (the oracled equi-join twin), with per-doc counts >= the true
    // shared-shingle counts.
    val joined = TextOps.d11Contamination(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_shared_shingles"))
      .toMap
    val bloomed = TextOps.d16BloomDecontaminate(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_flagged_shingles"))
      .toMap
    assert(joined.nonEmpty, "corpus has no contaminated docs to test against")
    joined.foreach { case (id, n) =>
      assert(bloomed.contains(id), s"bloom missed contaminated doc $id")
      assert(bloomed(id) >= n, s"bloom undercounted shingles for doc $id")
    }
    // deterministic hashing + 2^20 bits over ~1e3-1e4 held-out shingles:
    // expected FP docs ≈ 0; tolerate a sliver so a generator change
    // doesn't flake the suite
    val fps = bloomed.keySet -- joined.keySet
    assert(fps.size <= math.max(1, joined.size / 20),
      s"bloom FP doc rate too high: ${fps.size} of ${bloomed.size}")
  }

  test("d1 hash-keyed dedup is exact under forced hash collisions") {
    // ground truth: the oracle's shape — group by FULL text
    val truth = Tables.documents(spark, sf)
      .groupBy("text")
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .collect().map(r => (r.getAs[Long]("keep_id"), r.getAs[Long]("n_copies")))
      .toSet
    // the real hash, a 4-bucket hash (distinct texts MUST collide),
    // and a constant (EVERY text collides): the survivor resolve
    // branch must reproduce exact per-text dedup in all three
    val hashes = Seq(
      xxhash64(col("text")),
      pmod(xxhash64(col("text")), lit(4L)),
      lit(7L))
    hashes.foreach { h =>
      val got = TextOps.d1DedupExactHashed(spark, sf, h).collect()
        .map(r => (r.getAs[Long]("keep_id"), r.getAs[Long]("n_copies"))).toSet
      assert(got == truth, s"hash-keyed dedup diverged under hash $h")
    }
  }

  test("pipeline dedup keeps min-doc_id per distinct text under collisions") {
    val docs = Tables.documents(spark, sf)
    // duplicate every text under a higher doc_id so the duplicate
    // branch (not just the unique-hash fast path) carries real load
    val doubled = docs.unionByName(
      docs.withColumn("doc_id", col("doc_id") + 1000000L))
    val expect = docs.select("doc_id").collect().map(_.getLong(0)).toSet
    val hashes = Seq(
      xxhash64(col("text")),
      pmod(xxhash64(col("text")), lit(4L)),
      lit(7L))
    hashes.foreach { h =>
      val kept = Pipeline.dedupKeepFirstHashed(doubled, h)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept == expect, s"pipeline dedup diverged under hash $h")
    }
  }

  test("d18 cluster labels are consistent fixpoints of the d2 pair set") {
    val pairs = TextOps.d2NgramJaccard(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    val cl = TextOps.d18DupClusters(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster")).toMap
    assert(pairs.nonEmpty, "no near-dup pairs to cluster at test SF")
    // every edge's endpoints share a cluster
    pairs.foreach { case (a, b) =>
      assert(cl(a) == cl(b), s"pair ($a,$b) split across clusters")
    }
    // the canonical member is its own label, and labels are minima
    cl.values.toSet.foreach { c: Long => assert(cl(c) == c) }
    cl.foreach { case (d_, c) => assert(c <= d_) }
  }

  test("p3 removes exactly the non-canonical near-dup members") {
    val docs = Tables.documents(spark, sf).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val dropped = TextOps.d18DupClusters(spark, sf).collect()
      .filter(r => r.getAs[Long]("doc_id") != r.getAs[Long]("cluster"))
      .map(_.getAs[Long]("doc_id")).toSet
    val kept = graft.operators.Pipeline.p3NeardupCorpus(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(dropped.nonEmpty, "no near-dups to remove at test SF")
    assert(kept == docs -- dropped)
  }

  test("d19 split partitions the corpus deterministically") {
    val rows = TextOps.d19Split(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split"))
    assert(rows.map(_._1).distinct.length == rows.length)
    val sizes = rows.groupBy(_._2).view.mapValues(_.length).toMap
    assert(Set("train", "val", "test").subsetOf(sizes.keySet),
      s"missing splits: $sizes")
    // deterministic: a second run assigns identically
    val again = TextOps.d19Split(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split"))
    assert(rows.sameElements(again))
  }

  test("d25 LM score matches an in-memory unigram model exactly") {
    val texts = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val toks = texts.view.mapValues(_.split(" ").filter(_.nonEmpty)).toMap
    val cf = toks.values.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val rows = TextOps.d25LmScore(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("doc_id")).toSet ==
      toks.filter(_._2.nonEmpty).keySet)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val expect = toks(id).map(cf).sum
      assert(r.getAs[Long]("sum_cf") == expect, s"doc $id corpus-freq sum")
      assert(r.getAs[Long]("n_tokens") == toks(id).length.toLong)
      assert(r.getAs[Double]("mean_cf") ==
        expect.toDouble / toks(id).length, s"doc $id mean")
    }
  }

  test("d26 rebalance keeps all of the smallest language, rate-bounds the rest") {
    val langCnt = Tables.documents(spark, sf).groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val minCnt = langCnt.values.min
    val rows = TextOps.d26MixtureRebalance(spark, sf).collect()
    val kept = rows.groupBy(_.getAs[String]("lang")).view.mapValues(_.length.toLong)
    // a language already at the minimum passes the threshold for every
    // bucket value, so it survives whole
    langCnt.filter(_._2 == minCnt).keys.foreach { l =>
      assert(kept.getOrElse(l, 0L) == minCnt, s"min-count lang $l not fully kept")
    }
    kept.foreach { case (l, k) => assert(k <= langCnt(l)) }
    // every kept row satisfies the integer keep rule
    rows.foreach { r =>
      assert(r.getAs[Long]("bucket") * r.getAs[Long]("lang_count") <
        r.getAs[Long]("target_count") * 1000000L)
    }
    val again = TextOps.d26MixtureRebalance(spark, sf).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    assert(rows.map(_.getAs[Long]("doc_id")).toSet == again, "must be deterministic")
  }

  test("d21 CMS heavy hitters cover d10's exact top-10, never undercounting") {
    val exact = TextOps.d10VocabTopK(spark, sf).collect()
      .map(r => r.getAs[String]("token") -> r.getAs[Long]("n"))
    val hh = TextOps.d21HeavyHitters(spark, sf).collect()
      .map(r => r.getAs[String]("token") -> r.getAs[Long]("est_count")).toMap
    assert(exact.length >= 10, "corpus vocabulary too small to test")
    exact.take(10).foreach { case (t, n) =>
      assert(hh.contains(t), s"heavy hitter '$t' missing from CMS top-k")
      assert(hh(t) >= n, s"CMS undercounted '$t': ${hh(t)} < $n")
    }
  }

  test("d21 Misra-Gries eviction path still surfaces the heaviest tokens") {
    // localM = 16 → capacity 128 ≪ per-partition vocab, so the
    // decrement-all eviction actually runs (the default capacity 1600
    // exceeds the test corpus vocabulary and never evicts); MG
    // guarantees any token with partition frequency > n/128 survives,
    // which the corpus' heaviest stop-words easily clear
    val exact = TextOps.d10VocabTopK(spark, sf).collect()
      .map(r => r.getAs[String]("token") -> r.getAs[Long]("n"))
    val hh = TextOps.d21HeavyHitters(spark, sf, k = 10, localM = 16).collect()
      .map(r => r.getAs[String]("token") -> r.getAs[Long]("est_count")).toMap
    exact.take(3).foreach { case (t, n) =>
      assert(hh.contains(t), s"top token '$t' lost by MG eviction")
      assert(hh(t) >= n, s"CMS undercounted '$t' under eviction")
    }
  }

  test("m1 digest matches MessageDigest on the raw text") {
    val r = Similarity.m1BinaryMeta(spark, sf).limit(1).collect().head
    val text = Tables.documents(spark, sf)
      .filter(col("doc_id") === r.getAs[Long]("doc_id")).head.getAs[String]("text")
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val hex = md.digest(text.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(r.getAs[String]("sha_hex") == hex)
    assert(r.getAs[Long]("n_bytes") == text.getBytes("UTF-8").length.toLong)
  }

  test("a custom BlobDecoder plugs into m1-m4 without touching the operators") {
    // the pluggable-decode contract: a user's real codec replaces the
    // stub by argument — shapes identical, values the decoder's own
    object TestDecoder extends graft.operators.BlobDecoder {
      override def dimensions(blob: Array[Byte]) = (640L, 480L)
      override def frames(blob: Array[Byte]) =
        Iterator(blob.take(8), blob.takeRight(8))
      override val featureBins = 4
      override def features(blob: Array[Byte]) =
        Array(blob.length.toLong, 0L, 0L, 1L)
    }
    val m1 = Similarity.m1BinaryMeta(spark, sf, TestDecoder).collect()
    assert(m1.nonEmpty && m1.forall(r =>
      r.getAs[Long]("width") == 640L && r.getAs[Long]("height") == 480L))
    // digests stay REAL under any decoder (operator logic, not decode)
    assert(m1.forall(_.getAs[String]("sha_hex").length == 64))
    val m2 = Similarity.m2FrameSample(spark, sf, TestDecoder)
    assert(m2.groupBy("doc_id").count().collect()
      .forall(_.getAs[Long]("count") == 2L),
      "custom decoder emits exactly two frames per blob")
    val m3 = Similarity.m3FeatureExtract(spark, sf, TestDecoder)
    assert(m3.select("bin").distinct().collect()
      .map(_.getLong(0)).toSet.subsetOf(Set(0L, 3L)),
      "custom 4-bin features: only bins 0 and 3 are non-zero")
    val m4 = Similarity.m4Resize(spark, sf, TestDecoder).collect()
    // 640x480 in a 32x32 box -> 32x24, for every blob
    assert(m4.forall(r => r.getAs[Long]("out_w") == 32L &&
      r.getAs[Long]("out_h") == 24L))
    // and the default path is the stub, bit-identical to passing it
    // explicitly (the oracle pins the stub's arithmetic)
    val viaDefault = Similarity.m1BinaryMeta(spark, sf).collect().map(_.toSeq)
    val viaStub = Similarity
      .m1BinaryMeta(spark, sf, graft.operators.StubDecoder)
      .collect().map(_.toSeq)
    assert(viaDefault.toSeq == viaStub.toSeq)
  }

  test("m5 blob dedup groups agree exactly with d1's text dedup") {
    // text and blob are byte-identical here, so the SHA-256 grouping
    // must reproduce d1's (keeper, copies) group set exactly — a
    // cross-check between the two independent dedup paths (xxhash64 +
    // collision resolve vs crypto digest)
    val m5 = Similarity.m5BlobDedup(spark, sf).collect()
    val m5Groups = m5.map(r =>
      (r.getAs[Long]("keeper_id"), r.getAs[Long]("n_copies"))).distinct.toSet
    val d1 = TextOps.d1DedupExact(spark, sf).collect()
      .map(r => (r.getAs[Long]("keep_id"), r.getAs[Long]("n_copies"))).toSet
    assert(m5Groups == d1, "m5 digest groups diverge from d1 text groups")
    // every doc points at a keeper <= itself
    m5.foreach { r =>
      assert(r.getAs[Long]("keeper_id") <= r.getAs[Long]("doc_id"))
    }
    // the sf0.001 corpus has no byte-identical docs, so drive the
    // duplicate path on a synthetic documents table: 2 triplicates +
    // 2 singletons
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("m5spec").toString
    Seq((1L, "aa bb", "en", "s", 5L), (2L, "aa bb", "en", "s", 5L),
        (5L, "aa bb", "en", "s", 5L), (3L, "cc", "en", "s", 2L),
        (4L, "dd ee ff", "en", "s", 8L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$tmp/documents.parquet")
    val syn = Similarity.m5BlobDedup(spark, tmp).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("keeper_id"), r.getAs[Long]("n_copies"))).toMap
    assert(syn == Map(1L -> ((1L, 3L)), 2L -> ((1L, 3L)), 5L -> ((1L, 3L)),
      3L -> ((3L, 1L)), 4L -> ((4L, 1L))))
  }

  test("e9 knn graph replays exactly in memory and recalls brute force") {
    // collect the quantized vectors + hyperplane buckets AS COMPUTED
    // (the bucket expression is e2's, already spec'd); the replay pins
    // the symmetric multi-probe candidate rule, the exact quantized
    // scoring, and top-k (score desc, id asc) tie-breaking — the
    // whole graph, not a sampled recall floor
    val base = Tables.embeddings(spark, sf)
      .withColumn("q", org.apache.spark.sql.functions.expr(
        "transform(embedding, x -> cast(floor(cast(x as double) * 1000) as bigint))"))
    val withB = Similarity.queries("e9_knn_graph")(spark, sf) // the real graph
    val vecs = base.selectExpr("vec_id", "q").collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Long](1).toArray).toMap
    // buckets recomputed through the SAME production expression at
    // the SAME adaptive width the operator derives from the count
    val bits = Similarity.e9Bits(Tables.embeddings(spark, sf).count())
    val buckets = Tables.embeddings(spark, sf)
      .withColumn("bucket", Similarity.bucketExpr(bits))
      .selectExpr("vec_id", "bucket").collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("bucket")).toMap
    def cos(a: Array[Long], b: Array[Long]): Double = {
      var dot = 0L; var na = 0L; var nb = 0L; var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot.toDouble / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
    }
    val expected = vecs.keys.toSeq.flatMap { qid =>
      val pb = (0 until bits).map(k => buckets(qid) ^ (1 << k)).toSet +
        buckets(qid)
      val cand = vecs.keys.filter(n => n != qid && pb.contains(buckets(n)))
      cand.map(n => (n, cos(vecs(qid), vecs(n)))).toSeq
        .sortBy { case (n, c) => (-c, n) }.take(3).zipWithIndex
        .map { case ((n, c), i) => (qid, n, c, i + 1L) }
    }.toSet
    val got = withB.collect().map(r => (r.getAs[Long]("qid"),
      r.getAs[Long]("nid"), r.getAs[Double]("cosine"),
      r.getAs[Long]("rnk"))).toSet
    assert(got == expected, "e9 graph diverges from in-memory replay")
    // blocking quality: against the full brute-force top-3 the probed
    // graph must recall a solid fraction (multi-probe's whole point)
    val brute = vecs.keys.toSeq.flatMap { qid =>
      vecs.keys.filter(_ != qid)
        .map(n => (n, cos(vecs(qid), vecs(n)))).toSeq
        .sortBy { case (n, c) => (-c, n) }.take(3).map(p => (qid, p._1))
    }.toSet
    val hits = got.map(t => (t._1, t._2)).count(brute.contains)
    val recall = hits.toDouble / brute.size
    assert(recall >= 0.4, f"e9 recall vs brute force $recall%.2f < 0.4")
  }

  test("e11 graph-ANN beam search replays exactly in memory") {
    // replay the WHOLE query path: the symmetrized top-8 graph under
    // e9's blocking rule, the 16-node xxhash64 entry set, and 3 beam
    // rounds with exact quantized scoring and (score desc, id asc)
    // tie-breaking — then pin recall vs brute force
    val base = Tables.embeddings(spark, sf)
      .withColumn("q", org.apache.spark.sql.functions.expr(
        "transform(embedding, x -> cast(floor(cast(x as double) * 1000) as bigint))"))
    val vecs = base.selectExpr("vec_id", "q").collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Long](1).toArray).toMap
    val bits = Similarity.e9Bits(Tables.embeddings(spark, sf).count())
    val buckets = Tables.embeddings(spark, sf)
      .withColumn("bucket", Similarity.bucketExpr(bits))
      .selectExpr("vec_id", "bucket").collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("bucket")).toMap
    def cos(a: Array[Long], b: Array[Long]): Double = {
      var dot = 0L; var na = 0L; var nb = 0L; var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot.toDouble / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
    }
    // offline: top-8 per node over multi-probe candidates, symmetrized
    val knn: Seq[(Long, Long)] = vecs.keys.toSeq.flatMap { src =>
      val pb = (0 until bits).map(kk => buckets(src) ^ (1 << kk)).toSet +
        buckets(src)
      vecs.keys.filter(n => n != src && pb.contains(buckets(n)))
        .map(n => (n, cos(vecs(src), vecs(n)))).toSeq
        .sortBy { case (n, c) => (-c, n) }.take(8).map(p => (src, p._1))
    }
    val adj: Map[Long, Set[Long]] =
      (knn ++ knn.map(e => (e._2, e._1))).toSet
        .groupBy((e: (Long, Long)) => e._1)
        .map { case (s2, es) => s2 -> es.map(_._2) }
    // entry set: smallest xxhash64(vec_id), computed through Spark so
    // the hash matches the operator bit-for-bit
    val entries = Tables.embeddings(spark, sf)
      .selectExpr("vec_id", "xxhash64(vec_id) as hk")
      .orderBy("hk").limit(16).collect().map(_.getAs[Long]("vec_id")).toSet
    val qids = vecs.keys.filter(_ < 10).toSeq
    val expected = qids.flatMap { qid =>
      def cut(c: Iterable[(Long, Double)], n: Int) =
        c.toSeq.sortBy { case (id, sc) => (-sc, id) }.take(n)
      var bm = cut(entries.filter(_ != qid)
        .map(n => n -> cos(vecs(qid), vecs(n))), 8)
      for (_ <- 1 to 3) {
        val exp2 = bm.flatMap(b => adj.getOrElse(b._1, Set.empty[Long]))
          .filter(_ != qid).map(n => n -> cos(vecs(qid), vecs(n)))
        bm = cut((bm ++ exp2).toMap, 8)
      }
      cut(bm.toMap, 5).zipWithIndex.map { case ((n, c), i) =>
        (qid, n, c, i + 1L) }
    }.toSet
    val got = Similarity.queries("e11_graph_ann")(spark, sf).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid"),
        r.getAs[Double]("cosine"), r.getAs[Long]("rnk"))).toSet
    assert(got == expected, "e11 beam search diverges from in-memory replay")
    // the graph walk must recall a solid fraction of the brute top-5
    val brute = qids.flatMap { qid =>
      vecs.keys.filter(_ != qid)
        .map(n => (n, cos(vecs(qid), vecs(n)))).toSeq
        .sortBy { case (n, c) => (-c, n) }.take(5).map(p => (qid, p._1))
    }.toSet
    val hits = got.map(t => (t._1, t._2)).count(brute.contains)
    val recall = hits.toDouble / brute.size
    assert(recall >= 0.4, f"e11 recall vs brute force $recall%.2f < 0.4")
  }

  test("e13 ANN report recalls match a recount from the methods' own outputs") {
    def pairs(name: String) = Similarity.queries(name)(spark, sf).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid"))).toSet
    val brute = pairs("e1_knn_brute")
    val rep = Similarity.queries("e13_ann_report")(spark, sf).collect()
    val got = rep.map(r => r.getAs[String]("method") ->
        (r.getAs[Long]("n_returned"), r.getAs[Long]("n_hits"),
          r.getAs[Double]("recall_at_5"))).toMap
    assert(got.keySet == Set("e2_knn_lsh", "e4_knn_ivf", "e7_pq_ann",
      "e8_knn_ivfpq", "e11_graph_ann"))
    got.foreach { case (m, (nRet, nHits, recall)) =>
      val mine = pairs(m)
      assert(nRet == mine.size.toLong, s"$m n_returned")
      assert(nHits == (mine & brute).size.toLong, s"$m n_hits")
      assert(math.abs(recall - (mine & brute).size.toDouble / brute.size)
        < 1e-12, s"$m recall")
      assert(recall >= 0.0 && recall <= 1.0)
    }
    // cost columns: stored-index methods bill a real build and a real
    // artifact (bytes recomputed from the very dirs the report used);
    // inline methods bill zero build and zero artifact, and every
    // query path took observable wall-clock
    val costs = rep.map(r => r.getAs[String]("method") ->
      (r.getAs[Double]("build_time_s"), r.getAs[Double]("query_time_s"),
        r.getAs[Long]("index_bytes"))).toMap
    val arts = Similarity.e13IndexDirs(spark, sf)
    assert(costs("e8_knn_ivfpq")._3 == Similarity.dirBytes(arts.e8Dir),
      "e8 index_bytes != artifact size on disk")
    assert(costs("e11_graph_ann")._3 == Similarity.dirBytes(arts.e11Dir),
      "e11 index_bytes != artifact size on disk")
    assert(costs("e7_pq_ann")._3 == Similarity.dirBytes(arts.e7Dir),
      "e7 index_bytes != artifact size on disk")
    Seq("e7_pq_ann", "e8_knn_ivfpq", "e11_graph_ann").foreach { m =>
      assert(costs(m)._1 > 0 && costs(m)._3 > 0, s"$m missing build/bytes")
    }
    Seq("e2_knn_lsh", "e4_knn_ivf").foreach { m =>
      assert(costs(m)._1 == 0.0 && costs(m)._3 == 0L,
        s"$m is inline — must bill no stored build/artifact")
    }
    costs.values.foreach { case (_, q, _) => assert(q > 0, "query_time_s") }
    // the exact-rerank methods must dominate the raw-estimate one on
    // this corpus only if they do — no fabricated ordering asserted;
    // but SOMETHING must recall above the family's spec floors
    assert(got.values.exists(_._3 >= 0.4), "no method recalls >= 0.4")
  }

  test("d28 incremental dedup drops base-known and batch-dup texts only") {
    import spark.implicits._
    val nw = Seq((10L, "x"), (11L, "z"), (12L, "z"), (13L, "w"), (14L, "x"))
      .toDF("doc_id", "text")
    val base = Seq((1L, "x"), (2L, "y")).toDF("doc_id", "text")
    val got = TextOps.d28IncrementalDedup(nw, base).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_copies")).toMap
    // "x" is known to the base (both copies drop, keeper included);
    // "z" dedups within the batch to its min id; "w" is genuinely new
    assert(got == Map(11L -> 2L, 13L -> 1L))
    // empty base: pure within-batch dedup
    val noBase = TextOps.d28IncrementalDedup(nw,
        Seq.empty[(Long, String)].toDF("doc_id", "text")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_copies")).toMap
    assert(noBase == Map(10L -> 2L, 11L -> 2L, 13L -> 1L))
  }

  test("d29 containment subsumes d2 and catches the asymmetric case") {
    // subsumption: containment >= jaccard, so every d2 pair appears
    // in d29 (both directions) at the same tau
    val d2 = TextOps.d2NgramJaccard(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val d29 = TextOps.d29Containment(spark, sf).collect()
      .map(r => (r.getAs[Long]("contained"), r.getAs[Long]("container"))).toSet
    d2.foreach { case (a, b) =>
      assert(d29.contains((a, b)) && d29.contains((b, a)),
        s"d2 pair ($a,$b) missing from containment set")
    }
    // the case Jaccard cannot catch: a short doc wholly inside a long
    // one (jaccard 3/9 = 0.33, containment 1.0)
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("d29spec").toString
    Seq((1L, "a b c d e", "en", "s", 9L),
        (2L, "a b c d e f g h i j k", "en", "s", 21L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$tmp/documents.parquet")
    val syn = TextOps.d29Containment(spark, tmp).collect()
    assert(syn.map(r => (r.getAs[Long]("contained"),
      r.getAs[Long]("container"), r.getAs[Double]("containment"))).toSeq ==
      Seq((1L, 2L, 1.0)), "asymmetric containment not detected")
    assert(TextOps.d2NgramJaccard(spark, tmp).collect().isEmpty,
      "jaccard unexpectedly caught the subset pair — test premise broken")
  }

  test("d27 interpolated bigram scores match an in-memory model") {
    val toks = Tables.documents(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("text").split(" ").filter(_.nonEmpty).toList).toMap
    val uf = toks.values.flatten.groupBy(identity).view.mapValues(_.size.toLong)
    val allBigrams = toks.values.toList
      .flatMap(l => l.zip(l.tail).map { case (a, b) => s"$a $b" })
    val bf = allBigrams.groupBy(identity).view.mapValues(_.size.toLong)
    val got = TextOps.d27BigramLm(spark, sf).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val l = toks(r.getAs[Long]("doc_id"))
      val pairs = l.zip(l.tail)
      val sumBf = pairs.map { case (a, b) => bf(s"$a $b") }.sum
      val sumUf = pairs.map { case (_, b) => uf(b) }.sum
      assert(r.getAs[Long]("n_bigrams") == pairs.length.toLong)
      assert(r.getAs[Long]("sum_bf") == sumBf, s"doc ${r.get(0)} sum_bf")
      assert(r.getAs[Long]("sum_uf") == sumUf, s"doc ${r.get(0)} sum_uf")
      assert(r.getAs[Double]("interp_score") ==
        (sumBf * 10 + sumUf).toDouble / pairs.length)
    }
    // docs with < 2 tokens are correctly absent
    assert(got.length == toks.count(_._2.length >= 2))
  }

  test("e9 plan construction launches no job on the at-scale branch (footer sizing)") {
    // ADVICE r18: the old callsite-string filter was vacuous — the
    // driver twin's gated take(cap+1) collect carries no
    // callSite.short, so the filter never saw it. Count JobStart
    // EVENTS instead, with the driver twin disabled (Gate.AtScaleKey
    // forces the at-scale branch): on that branch plan construction
    // must be fully lazy — footer reads only (a 1-footer `parquet at`
    // job per spark.read.parquet is schema inference, not a corpus
    // action).
    // The driver twin's one bounded collect at construction is the
    // documented, allowed exception — pinned equal to this branch by
    // the "forced distributed" test below.
    // classify jobs by their STAGE names (always carry the creation
    // callsite), not the callSite.short job property (absent on the
    // collect the old filter was meant to catch)
    spark.conf.set(Gate.AtScaleKey, "true")
    try {
      val (_, trace) = graft.tools.Trace.capture(spark)(
        assert(Similarity.queries("e9_knn_graph")(spark, sf) != null))
      val all = trace.jobs.flatMap(_.stages).toList
      val bad = all.filterNot(_.startsWith("parquet at"))
      assert(bad.isEmpty,
        s"at-scale e9 plan construction must be lazy (footer/schema " +
          s"reads only), saw stages: $all")
    } finally spark.conf.unset(Gate.AtScaleKey)
    // the footer-metadata count the width derives from is exact
    assert(Tables.parquetRowCount(spark, s"$sf/embeddings.parquet") ==
      Tables.embeddings(spark, sf).count())
  }

  test("e9/e11: forced-distributed branch equals the driver twin") {
    // ADVICE r18: the twins' caps exceed every test corpus, so the
    // at-scale branches were dead code under test. Force them
    // (Gate.AtScaleKey) and pin bit-for-bit equality against the
    // default (twin) output.
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.toString)
    val twinE9 = rows(Similarity.queries("e9_knn_graph")(spark, sf))
    val twinE11 = rows(Similarity.queries("e11_graph_ann")(spark, sf))
    spark.conf.set(Gate.AtScaleKey, "true")
    try {
      val distE9 = rows(Similarity.queries("e9_knn_graph")(spark, sf))
      assert(distE9 === twinE9, "e9 distributed branch drifted from twin")
      val distE11 = rows(Similarity.queries("e11_graph_ann")(spark, sf))
      assert(distE11 === twinE11, "e11 distributed build drifted from twin")
    } finally {
      spark.conf.unset(Gate.AtScaleKey)
    }
  }

  test("d27 collision sentinel raises instead of silently merging counts") {
    import org.apache.spark.sql.functions.lit
    // a constant hash puts EVERY bigram (and token) under one key: the
    // min/max sentinels differ, so the guard must raise — proving a
    // 2^-64 collision can never silently merge two types' counts
    val ex = intercept[Exception] {
      TextOps.d27BigramLmHashed(spark, sf, _ => lit(42L)).collect()
    }
    def messages(t: Throwable): List[String] =
      if (t == null) Nil
      else Option(t.getMessage).toList ::: messages(t.getCause)
    assert(messages(ex).exists(_.contains("hash collision")),
      s"expected the d27 collision guard, got: $ex")
  }

  test("p5 ensemble verdict is the conjunction of its three component signals") {
    val p5 = Pipeline.queries("p5_quality_ensemble")(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("quality"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("sum_cf"),
        r.getAs[Long]("score_sum"), r.getAs[Boolean]("keep")))
    // component cross-checks: d3's quality, d25's LM sums, d31's score
    val d3q = TextOps.d3TextStats(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("quality")).toMap
    val d25 = TextOps.d25LmScore(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("sum_cf"))).toMap
    val d31 = TextOps.d31QualityClassifier(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("score_sum")).toMap
    // corpus totals for the relative LM threshold
    val toks = Tables.documents(spark, sf).select("text").collect()
      .flatMap(_.getString(0).split(" ").filter(_.nonEmpty))
    val wTotal = toks.length.toLong
    val vTotal = toks.distinct.length.toLong
    p5.foreach { case (id, q, n, scf, ssum, keep) =>
      assert(q == d3q(id), s"doc $id quality != d3")
      assert((n, scf) == d25(id), s"doc $id LM sums != d25")
      assert(ssum == d31(id), s"doc $id classifier sum != d31")
      assert(keep == (q >= 2 && scf * vTotal >= n * wTotal && ssum > 0),
        s"doc $id verdict inconsistent")
    }
    assert(p5.exists(_._6) && p5.exists(!_._6),
      "degenerate ensemble: both verdicts should occur")
  }

  test("d32 incremental minhash == d6 restricted to batch pairs; injected near-dup caught") {
    import org.apache.spark.sql.functions.col
    val all = Tables.documents(spark, sf)
    val batchIds = all.filter(col("source") === "src19")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // incremental ≡ full: d32's pair set must EQUAL d6's full-corpus
    // pairs restricted to batch-involving ones (same bands, same sigs)
    val expect = TextOps.queries("d6_minhash_lsh")(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        BigDecimal(r.getAs[java.math.BigDecimal]("est_jaccard"))))
      .flatMap { case (a, b, e) =>
        (batchIds(a), batchIds(b)) match {
          case (true, true)  => Seq((b, a, e)) // newer (larger id) -> older
          case (true, false) => Seq((a, b, e)) // base is earlier regardless of id
          case (false, true) => Seq((b, a, e))
          case _             => Nil
        }
      }.toSet
    val batch = all.filter(col("source") === "src19").select("doc_id", "text")
    val base = all.filter(col("source") =!= "src19").select("doc_id", "text")
    val got = TextOps.d32Pairs(batch, base).collect()
      .map(r => (r.getAs[Long]("doc_n"), r.getAs[Long]("doc_e"),
        BigDecimal(r.getAs[java.math.BigDecimal]("est_jaccard")))).toSet
    assert(got == expect,
      s"incremental pair set diverges from restricted d6: got ${got.size}, expect ${expect.size}")
    // verdicts: every batch doc appears once; admit == no pair
    val verdicts = TextOps.queries("d32_incremental_minhash")(spark, sf).collect()
    assert(verdicts.map(_.getAs[Long]("doc_id")).toSet == batchIds)
    val dupped = got.map(_._1)
    verdicts.foreach { r =>
      assert(r.getAs[Boolean]("admit") == !dupped(r.getAs[Long]("doc_id")))
    }
    // cross path live: a near-dup of a batch doc injected into the
    // base (one word changed) must block that doc's admission
    import spark.implicits._
    val donor = batch.orderBy("doc_id").head
    val mutated = donor.getString(1).split(" ")
      .zipWithIndex.map { case (w, i) => if (i == 0) "zzz" else w }.mkString(" ")
    val v2 = TextOps.d32IncrementalMinhash(batch,
        base.unionByName(Seq((999999L, mutated)).toDF("doc_id", "text")))
      .collect().find(_.getAs[Long]("doc_id") == donor.getLong(0)).get
    assert(!v2.getAs[Boolean]("admit"), "injected near-dup not caught")
  }

  test("m8 block-LSH finds exactly the brute ham<=2 phash pairs; hash discriminates") {
    val ph = Similarity.m8Phash(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    // the gradient hash must actually spread (the aHash it replaced
    // collapsed every doc to one value -> all-pairs "near dups")
    assert(ph.map(_._2).distinct.length > ph.length / 4,
      s"degenerate phash: ${ph.map(_._2).distinct.length} distinct of ${ph.length}")
    val brute = (for {
      (ida, ha) <- ph; (idb, hb) <- ph
      if ida < idb && java.lang.Long.bitCount(ha ^ hb) <= 2
    } yield (ida, idb)).toSet
    val lsh = Similarity.queries("m8_phash_neardup")(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(lsh == brute,
      s"missed: ${(brute -- lsh).take(5)}; spurious: ${(lsh -- brute).take(5)}")
    assert(brute.nonEmpty, "no near-dup pairs to exercise")
    // the scale dial: at a wider width the same machinery still finds
    // exactly the brute pairs (the dup-free corpus has ~none there —
    // equality must hold regardless)
    val ph32 = Similarity.m8Phash(spark, sf, bits = 32).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val brute32 = (for {
      (ida, ha) <- ph32; (idb, hb) <- ph32
      if ida < idb && java.lang.Long.bitCount(ha ^ hb) <= 2
    } yield (ida, idb)).toSet
    val lsh32 = Similarity.m8PhashNeardup(spark, sf, bits = 32).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(lsh32 == brute32, "wider-width LSH diverged from brute")
  }

  test("m8 width is derived from the footer count and bounds bucket population") {
    // the declared (adaptive) query IS the explicit run at the
    // footer-derived width — the dial turns itself
    val n = graft.Tables.parquetRowCount(spark, s"$sf/documents.parquet")
    assert(n == spark.read.parquet(s"$sf/documents.parquet").count())
    val w = Similarity.m8Bits(n)
    val declared = Similarity.queries("m8_phash_neardup")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val explicit = Similarity.m8PhashNeardup(spark, sf, bits = w).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(declared == explicit, "adaptive width != footer-derived width")
    // sizing contract: multiple of 4 in [16, 60]; once past the
    // density floor the expected per-block bucket population N/2^(w/4)
    // stays <= 64 (candidates per block ~ 64N — linear), and the
    // width never over-shoots (half the key space would leave
    // buckets > 64... i.e. w is the SMALLEST such multiple of 4)
    val probes = Seq(1L, 500L, 5000L, 50000L, 5000000L, 5L * 1000 * 1000 * 1000)
    probes.foreach { m =>
      val b = Similarity.m8Bits(m)
      assert(b % 4 == 0 && b >= 16 && b <= 60, s"m8Bits($m)=$b out of contract")
      if (b < 60)
        assert(m.toDouble / math.pow(2, b / 4) <= 64.0,
          s"m8Bits($m)=$b leaves bucket population > 64")
      if (b > 16)
        assert(m.toDouble / math.pow(2, b / 4 - 1) > 64.0,
          s"m8Bits($m)=$b wider than needed")
    }
    assert(Similarity.m8Bits(500L) == 16, "sf0.01 must sit on the density floor")
    // monotone in N
    assert(probes.map(Similarity.m8Bits) == probes.map(Similarity.m8Bits).sorted)
  }

  test("e10 diversity sample replays exactly and flattens cell density") {
    val k = 10; val iters = 5; val quota = 5
    val assigned = Similarity.e10Assigned(spark, sf, k, iters).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("cell"),
        r.getAs[Double]("centrality")))
    // replay the per-cell quota cut in memory: most-central first,
    // ties to lower vec_id
    val expect = assigned.groupBy(_._2).toList.flatMap { case (cell, vs) =>
      vs.toList.sortBy { case (id, _, c) => (-c, id) }.take(quota)
        .zipWithIndex.map { case ((id, _, _), i) => (id, cell, (i + 1).toLong) }
    }.toSet
    val got = Similarity.queries("e10_diversity_sample")(spark, sf).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("cell"),
        r.getAs[Long]("rank_in_cell"))).toSet
    assert(got == expect, s"selection diverges: got ${got.size}, expect ${expect.size}")
    // density flattening: every cell contributes min(quota, |cell|),
    // and at least one cell was actually capped (dense region pruned)
    val cellSizes = assigned.groupBy(_._2).view.mapValues(_.length).toMap
    val keptSizes = got.groupBy(_._2).view.mapValues(_.size).toMap
    cellSizes.foreach { case (cell, n) =>
      assert(keptSizes.getOrElse(cell, 0) == math.min(quota, n), s"cell $cell quota")
    }
    assert(cellSizes.values.exists(_ > quota), "no cell dense enough to cap")
  }

  test("m7 CDC chunks tile each doc and survive a prefix insertion") {
    // chunks must exactly tile the document (offsets contiguous from
    // 1, lengths summing to n_chars)
    val rows = Similarity.queries("m7_cdc_chunks")(spark, sf).collect()
    val nchars = Tables.documents(spark, sf).select("doc_id", "n_chars")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.groupBy(_.getAs[Long]("doc_id")).foreach { case (id, ch) =>
      var expectOff = 1L
      ch.sortBy(_.getAs[Long]("chunk_idx")).foreach { c =>
        assert(c.getAs[Long]("off") == expectOff, s"doc $id gap at $expectOff")
        expectOff += c.getAs[Long]("len")
      }
      assert(expectOff - 1 == nchars(id), s"doc $id cover")
    }
    // the CDC property: an insertion at the head shifts every byte,
    // yet every chunk digest past the edit region is preserved —
    // fixed-size blocking would share NOTHING
    import spark.implicits._
    // non-repeating, pair-diverse content: a periodic string would
    // make every chunk byte-identical, and low-pair-diversity prose
    // can miss every boundary pair entirely at the window-2 test size
    val rnd = new scala.util.Random(7)
    val alphabet = ('a' to 'z') ++ ('0' to '9') ++ Seq(' ', '.', ',')
    val base = Seq.fill(2400)(alphabet(rnd.nextInt(alphabet.length))).mkString
    val edited = "INSERTED-PREFIX " + base
    val ch = Similarity.cdcChunks(
      Seq((1L, base), (2L, edited)).toDF("doc_id", "text")
        .select(col("doc_id"), col("text").cast("binary").as("blob")))
      .collect()
    def shas(id: Long): Seq[String] = ch.filter(_.getLong(0) == id)
      .sortBy(_.getAs[Long]("chunk_idx"))
      .map(_.getAs[Array[Byte]]("sha").map("%02x".format(_)).mkString).toSeq
    val (sBase, sEdit) = (shas(1L), shas(2L))
    assert(sBase.length >= 5, s"degenerate chunking: ${sBase.length} chunks")
    assert((sBase.toSet intersect sEdit.toSet).size >= sBase.length - 2,
      s"CDC lost downstream chunks: ${(sBase.toSet diff sEdit.toSet).size} of ${sBase.length} unshared")
  }

  test("d30 BPE pair counts match an in-memory single-level count") {
    // the operator counts pairs two-level (vocab first, then pairs
    // weighted by word count); the naive single-level count over every
    // token occurrence must agree exactly — that equivalence IS the
    // scale claim (the corpus-sized pass never explodes pairs)
    val toks = Tables.documents(spark, sf).select("text").collect()
      .flatMap(_.getString(0).split(" ").filter(_.nonEmpty))
    val naive = toks.filter(_.length >= 2)
      .flatMap(w => w.sliding(2))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val expect = naive.toSeq.sortBy { case (p, n) => (-n, p) }.take(50)
    val got = TextOps.d30BpePairs(spark, sf).collect()
      .map(r => r.getAs[String]("pair") -> r.getAs[Long]("n")).toSeq
    assert(got == expect, s"top-50 BPE pairs diverge: got=${got.take(5)} expect=${expect.take(5)}")
  }

  test("d33 BPE training replays the greedy merge loop in memory") {
    // full in-memory replay: R rounds of count-pairs -> argmax ->
    // greedy left-to-right merge over the (word, cnt) vocab
    val vocab0 = Tables.documents(spark, sf).select("text").collect()
      .flatMap(_.getString(0).split(" ").filter(_.nonEmpty))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
      .map { case (w, c) => w.map(_.toString).toList -> c }
    def greedyMerge(syms: List[String], l: String, r: String): List[String] =
      syms.foldLeft(List.empty[String]) { (acc, x) =>
        acc match {
          case h :: t if h == l && x == r => (l + r) :: t
          case _ => x :: acc
        }
      }.reverse
    var vocab = vocab0
    val expect = (1 to 8).map { round =>
      val counts = vocab.toSeq.flatMap { case (syms, c) =>
        syms.zip(syms.tail).map(p => p -> c)
      }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      val ((l, r), n) = counts.toSeq
        .minBy { case ((l, r), n) => (-n, l, r) }
      vocab = vocab.map { case (syms, c) => greedyMerge(syms, l, r) -> c }
      (round.toLong, l, r, l + r, n)
    }
    val got = TextOps.queries("d33_bpe_train")(spark, sf).collect()
      .map(r => (r.getAs[Long]("merge_round"), r.getAs[String]("left_sym"),
        r.getAs[String]("right_sym"), r.getAs[String]("merged"),
        r.getAs[Long]("n"))).toSeq
    assert(got == expect, s"merge table diverges:\n got=$got\n exp=$expect")
    // round 1 IS d30's top pair (same counts before any merge exists)
    val d30top = TextOps.d30BpePairs(spark, sf).collect().head
    assert(got.head._4 == d30top.getAs[String]("pair") &&
      got.head._5 == d30top.getAs[Long]("n"),
      "round-1 winner disagrees with d30's top pair count")
    // training must actually compound: some later round merges a
    // symbol PRODUCED by an earlier round (else 4 rounds degenerate
    // to 4 independent pair counts and the loop is untested)
    val produced = got.map(_._4).toSet
    assert(got.tail.exists(m => produced.contains(m._2) ||
      produced.contains(m._3)),
      "no round consumed a merged symbol — loop not exercised")
  }

  test("d34 BPE encode replays train-then-encode in memory") {
    // train 8 rounds in memory (the d33 replay), then encode every
    // word with the learned merges and aggregate per doc — the full
    // tokenizer loop the operator pair implements
    def greedyMerge(syms: List[String], l: String, r: String): List[String] =
      syms.foldLeft(List.empty[String]) { (acc, x) =>
        acc match {
          case h :: t if h == l && x == r => (l + r) :: t
          case _ => x :: acc
        }
      }.reverse
    val docWords = Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("text").split(" ").filter(_.nonEmpty).toSeq).toMap
    var vocab = docWords.values.flatten
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
      .map { case (w, c) => w.map(_.toString).toList -> c }
    val wordSyms = scala.collection.mutable.Map.empty[String, List[String]] ++
      docWords.values.flatten.toSet.map((w: String) =>
        w -> w.map(_.toString).toList)
    for (_ <- 1 to 8) {
      val counts = vocab.toSeq.flatMap { case (syms, c) =>
        syms.zip(syms.tail).map(p => p -> c)
      }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      if (counts.nonEmpty) {
        val ((l, r), _) = counts.toSeq
          .minBy { case ((a, b), n) => (-n, a, b) }
        vocab = vocab.map { case (syms, c) => greedyMerge(syms, l, r) -> c }
        wordSyms.keys.foreach(w =>
          wordSyms(w) = greedyMerge(wordSyms(w), l, r))
      }
    }
    val expect = docWords.map { case (id, ws) =>
      (id, ws.size.toLong, ws.map(w => wordSyms(w).size.toLong).sum)
    }.toSet
    val got = TextOps.queries("d34_bpe_encode")(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_words"),
        r.getAs[Long]("n_tokens"))).toSet
    assert(got == expect, "encode diverges from the in-memory replay")
    // merges must actually compress: total tokens strictly fewer than
    // total characters-as-symbols (else the 8 merges did nothing)
    val totalChars = docWords.values.flatten.map(_.length.toLong).sum
    val totalToks = got.toSeq.map(_._3).sum
    assert(totalToks < totalChars,
      s"BPE encode did not compress: $totalToks tokens vs $totalChars chars")
  }

  test("d31 classifier scores replay the hashed linear model exactly") {
    val A = 2654435761L; val M = 1000003L; val B = 512
    def rh(s: String): Long = {
      var h = 0L; var i = 0
      while (i < s.length) { h = (h * 31 + s.charAt(i)) % 1000000007L; i += 1 }
      h
    }
    def weight(b: Long): Long = (b * A) % M - M / 2
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").filter(_.nonEmpty))
      .filter(_._2.nonEmpty).toMap
    val rows = TextOps.d31QualityClassifier(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("doc_id")).toSet == docs.keySet)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val ws = docs(id).map(t => weight(rh(t) % B))
      assert(r.getAs[Long]("n_tokens") == ws.length.toLong, s"doc $id n")
      assert(r.getAs[Long]("score_sum") == ws.sum, s"doc $id sum")
      assert(r.getAs[Double]("score") == ws.sum.toDouble / ws.length, s"doc $id score")
      assert(r.getAs[Boolean]("keep") == (ws.sum > 0), s"doc $id keep")
    }
    // the model must actually discriminate: both classes present
    val keeps = rows.map(_.getAs[Boolean]("keep")).toSet
    assert(keeps == Set(true, false), s"degenerate classifier: $keeps")
  }
}
