package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Gate, Tables}
import graft.functions.GraftFunctions

/** Text-analysis + deduplication suite over `documents` (SURVEY.md
  * §2.3/§2.5): the LLM-training-data operators, re-expressing the
  * reference's dedup/merge passes (`app.py:243-303, 1612-1737`) for
  * text corpora. Everything stays in whole-stage codegen: tokenization
  * and shingling are higher-order array functions, hashing is
  * `xxhash64`, fingerprints a custom codegen'd expression.
  */
object TextOps {

  /** Exact `documents` row count from the footers (no job) — what
    * the text family's footer-count gates measure.
    */
  private def docCount(s: SparkSession, d: String): Long =
    Tables.parquetRowCount(s, s"$d/documents.parquet")

  /** documents + non-empty token array (split on single space). */
  private def docs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("toks", expr("filter(split(text, ' '), x -> x != '')"))

  /** distinct word-3-gram shingle HASHES per doc (docs with >= 3
    * tokens) — the fused ShingleHashes expression; no shingle strings
    * are ever materialized (see Expressions.scala).
    */
  private def shingled(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .filter(size(col("toks")) >= 3)
      .withColumn("shingles", GraftFunctions.shingle_hashes(col("toks"), 3))
      .withColumn("sz", size(col("shingles")).cast("long"))

  /** [[shingled]] behind the scan-parallelism floor (r19): the
    * MINHASH bases (d6's signature cache, lshVerifiedPairs'
    * checkpoint) run 64 hash passes over every shingle INSIDE the
    * unsplittable scan task — m9's heavy-per-row profile, an order
    * heavier than the tokenize-only paths whose widen r18 measured
    * as a ×10 loss and reverted. Identity at real scale (widen's
    * gate). Kept ONLY for the minhash consumers; the plain tokenize/
    * shingle consumers keep the un-widened scan.
    */
  private def shingledW(s: SparkSession, d: String): DataFrame =
    if (Gate.small(s, "d6.widenMinhash", 19999L)(docCount(s, d)))
      // below 20k docs the exchange costs more than the serial
      // minhash (measured sf0.1 d6 0.85 -> 1.16 s un-gated) — the
      // same footer count d36's pair source switches on, so the
      // sf0.1 plan stays bit-identical to round start
      shingled(s, d)
    else
      Tables.widen(s, d, "documents", Tables.documents(s, d), Seq("doc_id"))
        .withColumn("toks", expr("filter(split(text, ' '), x -> x != '')"))
        .filter(size(col("toks")) >= 3)
        .withColumn("shingles", GraftFunctions.shingle_hashes(col("toks"), 3))
        .withColumn("sz", size(col("shingles")).cast("long"))

  // d1: exact dedup by content — keep the min doc_id per text, keyed
  // by xxhash64(text) so the corpus-wide exchange moves 16-byte
  // (hash, doc_id) rows instead of full document text (~1000× less
  // shuffle volume at 100 TB). Exactness is preserved by a survivor
  // collision check: only hash groups with >1 member can hide a
  // collision, and those few docs — the actual duplicates plus any
  // 2^-64 collisions — are re-resolved by FULL TEXT within their
  // hash partition (dense_rank over text inside the h-partition, so
  // no exchange is ever keyed on text; PlanInvariants enforces this
  // for every query). `hash` is injectable so the spec can force
  // collisions (hash ≡ const) and prove the resolve path is exact.
  def d1DedupExact(s: SparkSession, d: String): DataFrame =
    d1DedupExactHashed(s, d, xxhash64(col("text")))

  private[graft] def d1DedupExactHashed(
      s: SparkSession, d: String,
      hash: org.apache.spark.sql.Column): DataFrame = {
    val docs = Tables.documents(s, d).withColumn("h", hash)
    // corpus-wide pass: 16-byte shuffle rows, map-side combined
    val groups = docs.select(col("h"), col("doc_id"))
      .groupBy("h")
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
    val multiH = groups.filter(col("n_copies") > 1).select("h")
    // unique-hash groups are exact already (one text ⇒ one survivor);
    // anti join vs the (small) duplicated-hash set is map-only once
    // AQE broadcasts it
    val single = groups.join(multiH, Seq("h"), "left_anti")
      .select("keep_id", "n_copies")
    // duplicate-hash docs: co-locate by h (text moves ONLY for these
    // rows), number distinct texts within the partition, re-aggregate
    // on the 16-byte (h, grp) key
    val grpW = org.apache.spark.sql.expressions.Window
      .partitionBy("h").orderBy("text")
    val collided = docs.join(multiH, Seq("h"), "left_semi")
      .select(col("h"), col("text"), col("doc_id"))
      .withColumn("grp", dense_rank().over(grpW))
      .groupBy("h", "grp")
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select("keep_id", "n_copies")
    // no final orderBy (g2's standing rule, r18): the survivor list is
    // corpus-sized, the oracle compare sorts rows on both sides, and a
    // global sort here costs a range exchange purely for presentation
    single.unionByName(collided)
  }

  // d2: n-gram Jaccard near-dup pairs via shared-shingle candidate
  // join. This is the exact (quadratic-in-collisions) baseline; d6 is
  // the LSH scale path. The join fans out by shingle, so candidate
  // cost is sum of squared bucket sizes, not corpus².
  def d2NgramJaccard(s: SparkSession, d: String): DataFrame =
    d2NgramJaccardCapped(s, d, dfCap = 1000L)

  /** `dfCap` is the scale governor: candidate cost is Σ(df²) over
    * shingles, so one boilerplate 3-gram appearing in B documents
    * alone creates B² candidate pairs — at corpus scale that single
    * term dwarfs everything else. Shingles with document frequency
    * above the cap are dropped from the candidate index BEFORE the
    * self-join, bounding per-shingle cost at cap². Correctness
    * argument: a shingle shared by >cap documents carries no
    * discriminative signal for a 0.8-Jaccard pair decision (it
    * "matches" essentially everything), so dropping it only
    * underestimates similarity for pairs whose overlap is mostly
    * corpus-wide boilerplate — precisely the pairs a near-dup pass
    * should not merge. At test SFs the cap is provably unhit (max df
    * is 25 at sf0.1, TextSimSpec asserts capped == uncapped), so the
    * DuckDB oracle — which does not model the cap — stays bit-exact.
    *
    * The cap is defined on FULL document frequency in BOTH plans
    * (ADVICE r12): the prefix plan excludes over-cap shingles from
    * its whole universe via a linear pre-pass, so the two plans'
    * outputs are bit-identical even when the cap binds — `shared`
    * counts sub-cap shingles only, denominators use full set sizes,
    * in either plan (PropertySpec pins this with a deliberately
    * binding cap).
    */
  /** AllPairs/PPJoin-style PREFIX-FILTERED plan (Bayardo et al.
    * WWW'07; Chaudhuri SSJoin): the original one-exchange form
    * generated a candidate row for EVERY co-occurring shingle —
    * Σdf² pairs before the pair aggregate, measured 113 M rows at
    * the 100× probe (SCALE_r11's d36 riser; the df cap never bound
    * because the perturbed corpus tops out at df ≈ 24 — the volume
    * is the MIDDLE of the df distribution, not boilerplate).
    *
    * Prefix filter (LOSSLESS for Jaccard ≥ t under any global
    * element order): if J(A,B) ≥ t then |A∩B| ≥ t·max(|A|,|B|), so
    * the first |A| − ⌈t·|A|⌉ + 1 elements of A (ascending hash
    * order) and likewise B's prefix MUST intersect — candidates come
    * from prefix postings only (~(1−t)+ of the volume, so the pair
    * fan-out shrinks by ~(1−t)² = 25× at t = 0.8), plus the size
    * filter 5·min(sa,sb) ≥ 4·max (J ≥ 0.8 forces size ratio ≥ 0.8)
    * inside the explode. Verification is EXACT: candidates join back
    * to both docs' sorted shingle arrays and count the true
    * intersection with codegen'd array_intersect — same integers,
    * same one double division as before, so the DuckDB oracle (which
    * models the naive all-pairs form) is bit-identical. ⌈0.8·sz⌉ is
    * computed as (4·sz+4) div 5 — pure integer arithmetic, no
    * 0.8-double rounding at the boundary.
    *
    * Shuffle accounting at 100 TB: prefix postings exchange (~20% of
    * the old one) + the candidate distinct + two doc_id-keyed
    * verification joins against the shingle-array corpus — all
    * hash-keyed, all linear; nothing quadratic survives except the
    * true near-dup output itself.
    */
  def d2NgramJaccardCapped(s: SparkSession, d: String, dfCap: Long): DataFrame = {
    // STATS-BASED PLAN SWITCH (what a CBO does, keyed off the same
    // footer-metadata count e9Bits uses — no Spark job): below the
    // threshold the naive form's single exchange beats the prefix
    // plan's verification joins (measured 1.3 s vs 2.6 s at 5k docs
    // and 2.1 s vs 3.3 s at 50k); above it the Σdf² pair fan-out
    // dominates everything (113 M candidate rows vs 8 M at 500k docs
    // — 17 s vs 9 s) and the prefix plan wins, with the gap widening
    // every decade. The threshold sits between the measured 50k-doc
    // (naive wins) and 500k-doc (prefix wins) points. Both plans
    // produce bit-identical pairs (the filter is lossless and
    // verification exact — TextSimSpec asserts equality), so the
    // switch is invisible to the oracle.
    if (!Gate.small(s, "d2.prefixPlan", 150000L)(docCount(s, d)))
      d2NgramJaccardPrefix(s, d, dfCap)
    else sharedShinglePairs(s, d, dfCap)
      .withColumn("jaccard",
        col("shared").cast("double") / (col("sa") + col("sb") - col("shared")))
      .filter(col("jaccard") >= 0.8)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** d6's banded-LSH candidates EXACTLY VERIFIED at Jaccard ≥ 0.8 —
    * the corpus-linear pair source d36 switches to at scale: the
    * 16-band × 4-row bucket join emits only colliding pairs (≈ the
    * true near-dups plus noise), each then checked by true shingle
    * intersection, so false positives are impossible and misses are
    * bounded by the LSH S-curve (2.2e-4 at J = 0.8, 4e-8 at J = 0.9).
    * Output schema matches d2 exactly.
    */
  private[graft] def lshVerifiedPairs(s: SparkSession, d: String): DataFrame = {
    val base = shingledW(s, d)
      .withColumn("sig", GraftFunctions.minhash_sig_long(col("shingles"), 64))
      .select(col("doc_id"), col("sz"), col("shingles"), col("sig"))
      .localCheckpoint()
    val buckets = base.select(col("doc_id"), explode(expr(
        "transform(sequence(0, 15), b -> struct(b as band, " +
          "xxhash64(element_at(sig, 4*b+1), element_at(sig, 4*b+2), " +
          "element_at(sig, 4*b+3), element_at(sig, 4*b+4)) as bkey))")).as("bb"))
      .select(col("doc_id"), col("bb.band"), col("bb.bkey"))
    val cand = buckets.select(col("band"), col("bkey"), col("doc_id").as("doc_a"))
      .join(buckets.select(col("band"), col("bkey"), col("doc_id").as("doc_b")),
            Seq("band", "bkey"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    // ShingleHashes emits the sorted-distinct arrays the verification
    // needs
    verifiedPairs(s, d, cand, base, "shingles")
  }

  /** The exact Jaccard ≥ 0.8 verification both candidate sources
    * share (the d2 prefix plan, [[lshVerifiedPairs]]): each
    * (doc_a, doc_b) candidate joins back to both docs' sorted-
    * distinct shingle array `arr` and full size `sz` in `base`.
    *
    * Join STRATEGY (measured at the 100× probe, SCALE_r13): the
    * default sort-merge join SORTS millions of array-carrying
    * candidate rows twice — the stage was 6–12 s of the query. Below
    * ~1M docs the shingle-array side fits an executor broadcast
    * (500k docs ≈ 160 MB measured) and both joins go exchange-free
    * on the candidate side (6.4 s → 4.0 s); above it, a
    * shuffled-hash hint at least keeps the array rows out of sort
    * buffers. Strategy only — same rows either way.
    *
    * `shared` via the zero-allocation sorted-merge count:
    * ArrayIntersect's per-row OpenHashSet + output array dominated the
    * verification stage at the 100× probe. The bail threshold
    * under-estimates the J ≥ 0.8 requirement by a full unit, so every
    * SURVIVING pair runs the merge to completion (exact count, exact
    * jaccard — oracle-identical) and every bailed pair was going to
    * be filtered anyway.
    */
  private def verifiedPairs(s: SparkSession, d: String, cands: DataFrame,
                            base: DataFrame, arr: String): DataFrame = {
    val small = Gate.small(s, "text.verifyBroadcast", 1000000L)(docCount(s, d))
    def side(id: String, sh: String, sz: String) = {
      val p = base.select(col("doc_id").as(id), col(arr).as(sh), col("sz").as(sz))
      if (small) broadcast(p) else p.hint("shuffle_hash")
    }
    cands
      .join(side("doc_a", "sha", "sa"), Seq("doc_a"))
      .join(side("doc_b", "shb", "sb"), Seq("doc_b"))
      .withColumn("shared",
        GraftFunctions.sorted_intersect_count(col("sha"), col("shb"),
          expr("greatest(0L, (4 * (sa + sb)) div 9 - 1)")))
      .withColumn("jaccard",
        col("shared").cast("double") / (col("sa") + col("sb") - col("shared")))
      .filter(col("jaccard") >= 0.8)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  private[graft] def d2NgramJaccardPrefix(s: SparkSession, d: String,
                                          dfCap: Long): DataFrame = {
    // the sorted shingle corpus feeds THREE consumers (prefix
    // postings + both verification sides); without materialization
    // each re-runs scan→tokenize→shingle→sort (measured ~2.5 s × 2
    // extra at 500k docs). localCheckpoint once (g13b's hygiene) —
    // at cluster scale this is the staged intermediate a real
    // pipeline lands anyway, and it is O(corpus), not O(pairs).
    val base0 = shingled(s, d)
      .withColumn("sorted", sort_array(col("shingles")))
      .select(col("doc_id"), col("sz"), col("sorted"))
      .localCheckpoint()
    // FULL-df cap pre-pass (ADVICE r12): the naive plan's capped
    // collector drops every shingle whose FULL document frequency
    // exceeds dfCap from the similarity evidence — so this plan must
    // exclude exactly those shingles from its ENTIRE universe
    // (candidate prefixes AND the verified intersection), or the two
    // plans' outputs diverge the moment the cap binds. One linear
    // map-side-combined count over distinct shingles, collecting
    // ONLY the over-cap keys (≤ Σdf/cap of them — boilerplate terms,
    // driver-bounded); at every test/bench SF the set is empty and
    // the remainder of the plan is byte-identical to the uncapped
    // form. Jaccard keeps the naive plan's mixed-universe arithmetic
    // exactly: `shared` counts sub-cap shingles only, the denominator
    // uses FULL set sizes.
    val overCap: Array[Long] = base0
      .select(explode(col("sorted")).as("shh"))
      .groupBy("shh").agg(count(lit(1)).as("df"))
      .filter(col("df") > dfCap)
      .select("shh").collect().map(_.getLong(0))
    val base = (if (overCap.isEmpty) base0
      else base0.withColumn("sorted",
        array_except(col("sorted"), lit(overCap))))
      .withColumn("szc", size(col("sorted")).cast("long"))
    // prefix postings over the CAPPED arrays: for J ≥ 0.8 in the
    // naive plan's arithmetic, shared ≥ (4/9)(szF_a+szF_b) ≥
    // (4/9)(szc_a+szc_b) ≥ 0.8·max(szc) — so the capped-size prefix
    // (first szc − ⌈0.8·szc⌉ + 1 elements), the capped-size ratio
    // filter and the capped-size overlap threshold below are all
    // lossless. Positions ride along for the PPJoin POSITIONAL
    // filter (Xiao et al. WWW'08): a pair meeting at 1-based prefix
    // positions (i, j) shares at most min(i,j) + min(szc_a−i,
    // szc_b−j) elements (common elements before the meeting point
    // number ≤ min(i,j)−1, from it on ≤ 1 + the shorter remainder),
    // so pairs that cannot reach α = ⌈(4/9)(szc_a+szc_b)⌉ die before
    // the array_intersect — the r12 decade-2 riser was exactly this
    // candidate volume.
    val pref = base
      .withColumn("plen",
        expr("cast(szc - (szc * 4 + 4) div 5 + 1 as int)"))
      .select(col("doc_id"), col("szc"),
        posexplode(expr("slice(sorted, 1, plen)")).as(Seq("pos", "shh")))
    val cands = pref.groupBy("shh")
      .agg(GraftFunctions.capped_collect_pos(
        col("doc_id"), col("szc"), col("pos").cast("long"),
        math.min(dfCap, (Int.MaxValue - 1).toLong).toInt).as("members"))
      .filter(col("members").isNotNull)
      .withColumn("a", explode(col("members")))
      .withColumn("b", explode(expr(
        "filter(members, m -> m.doc_id > a.doc_id " +
          "AND m.sz * 5 >= a.sz * 4 AND a.sz * 5 >= m.sz * 4 " +
          "AND least(a.pos, m.pos) + 1 + " +
          "    least(a.sz - a.pos - 1, m.sz - m.pos - 1) >= " +
          "    (4 * (a.sz + m.sz) + 8) div 9)")))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // sorted-distinct by ShingleHashes' contract, as the verification
    // needs; array_except preserves that
    verifiedPairs(s, d, cands, base, "sorted")
  }

  /** The shared-shingle pair aggregate (doc_a < doc_b, shared count,
    * set sizes) d2's Jaccard and d29's containment both read — one
    * implementation so the two similarity decisions can't drift.
    */
  private def sharedShinglePairs(s: SparkSession, d: String,
                                 dfCap: Long): DataFrame = {
    // group-by-shingle-then-emit-pairs, not a self-join: ONE exchange
    // on the shingle's 64-bit hash (8-byte shuffle keys; collisions at
    // 2^-64 are noise next to the 0.8 threshold) collects each
    // shingle's posting list, the df cap drops oversized lists, and
    // candidate pairs are generated in-place with codegen'd array
    // functions. The cap bounds BOTH the collect_list buffer (<= cap
    // entries per key) and the per-shingle pair fan-out (<= cap²) —
    // the two quantities that blow up on boilerplate shingles.
    // PIN the shingle exchange at the session's shuffle-partition
    // count (r19, guide §2.5): AQE's coalescing is BYTES-based, and
    // this stage's work is Σdf² pair fan-out — quadratic in its input
    // — so a small postings shuffle (2 MB at sf0.1) coalesces to 2
    // tasks that then emit 1.1M pairs nearly serially (measured: the
    // pair-emit stage ran 2 tasks / 2.7 s-of-32-cores). An explicit
    // repartition(n, shh) is AQE-coalesce-exempt and the groupBy
    // reuses it (same key, same count ⇒ ONE exchange total); at real
    // scale the shuffle exceeds the advisory size and AQE would keep
    // ~n partitions anyway, so this only removes the small-input
    // under-provisioning, never adds an exchange.
    val nPairParts = s.sessionState.conf.numShufflePartitions
    val postings = shingled(s, d)
      .select(col("doc_id"), col("sz"), explode(col("shingles")).as("shh"))
      .repartition(nPairParts, col("shh"))
      .groupBy("shh")
      // capped collector: overflowing groups evaluate to null without
      // ever buffering more than cap+1 entries (see Expressions.scala)
      .agg(GraftFunctions.capped_collect_pairs(
             col("doc_id"), col("sz"),
             math.min(dfCap, (Int.MaxValue - 1).toLong).toInt).as("members"))
      .filter(col("members").isNotNull)
    postings
      .withColumn("a", explode(col("members")))
      .withColumn("b", explode(expr("filter(members, m -> m.doc_id > a.doc_id)")))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared"),
           max(col("a.sz")).as("sa"), max(col("b.sz")).as("sb"))
  }

  // d29: shingle CONTAINMENT — the asymmetric decision Jaccard can't
  // make: a short document wholly quoted inside a long one has tiny
  // Jaccard (union is dominated by the long doc) but containment
  // |A∩B|/|A| ≈ 1 — exactly the boilerplate/quotation/subset-dup
  // case a corpus dedup must catch (Broder's containment sketch
  // motivation). Same one-exchange candidate machinery as d2 (the
  // dfCap bounds hold unchanged); each undirected pair emits up to
  // two DIRECTED rows (contained -> container). Since
  // containment >= jaccard always (|A| <= |union|), d29 at tau
  // subsumes d2's pair set at the same tau — spec-proven.
  def d29Containment(s: SparkSession, d: String,
                     tau: Double = 0.8): DataFrame = {
    val p = sharedShinglePairs(s, d, dfCap = 1000L)
    val ab = p.select(col("doc_a").as("contained"),
        col("doc_b").as("container"), col("shared"),
        col("sa").as("sz_contained"),
        (col("shared").cast("double") / col("sa")).as("containment"))
    val ba = p.select(col("doc_b").as("contained"),
        col("doc_a").as("container"), col("shared"),
        col("sb").as("sz_contained"),
        (col("shared").cast("double") / col("sb")).as("containment"))
    ab.unionByName(ba)
      .filter(col("containment") >= tau)
  }

  // d3: per-doc quality stats (token count, stopword ratio, score).
  def d3TextStats(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("n_stop", expr(
        "cast(size(filter(toks, x -> x IN ('the', 'a', 'data', 'row'))) as bigint)"))
      .withColumn("stop_ratio",
        col("n_stop").cast("double") / col("n_tokens"))
      .withColumn("quality",
        (when(col("n_tokens").between(12, 80), 1).otherwise(0) +
         when(col("stop_ratio") < 0.3, 1).otherwise(0) +
         when(col("n_chars") >= 200, 1).otherwise(0)).cast("long"))
      .select(col("doc_id"), col("n_tokens"), col("n_stop"),
              col("stop_ratio"), col("quality"))

  // d4: marker-word language-ID heuristic (n-gram profile degenerates
  // to marker counting on this synthetic corpus), scored against the
  // labeled lang column.
  def d4LangId(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .withColumn("n_en", expr(
        "cast(size(filter(toks, x -> x IN ('the', 'a'))) as bigint)"))
      .withColumn("predicted",
        when(col("n_en") >= 2, "en").otherwise("unk"))
      .select(col("doc_id"), col("lang"), col("predicted"),
              (col("lang") === "en" && col("predicted") === "en").as("hit"))

  // d5: rolling-hash fingerprint via the custom codegen'd expression;
  // oracle reproduces the recurrence with DuckDB list_reduce.
  def d5Fingerprint(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
              GraftFunctions.rolling_hash(col("text")).as("fingerprint"))

  // d6: MinHash (64 perms via seeded xxhash64) + 16×4 banded LSH.
  // Linear fan-out: 16 bucket rows per doc; candidates only within
  // equal (band, bucket-hash); est jaccard = matching signature
  // fraction. Rows-only check (hash family not SQL-expressible);
  // d2's oracle covers the semantics on the same corpus.
  def d6MinhashLsh(s: SparkSession, d: String): DataFrame = {
    // cached: sig feeds the bucket explode AND two candidate lookups
    // (~15% warm win). Safe against accumulation: a single per-query
    // persist is reclaimed by the ContextCleaner once the returned
    // DataFrame is unreferenced (the leak ADVICE flagged on g1 was
    // references held across loop iterations, which never GC).
    val sig = shingledW(s, d)
      .withColumn("sig", GraftFunctions.minhash_sig_long(col("shingles"), 64))
      .select(col("doc_id"), col("sig"))
      .cache()
    val buckets = sig.select(col("doc_id"), explode(expr(
        "transform(sequence(0, 15), b -> struct(b as band, " +
          "xxhash64(element_at(sig, 4*b+1), element_at(sig, 4*b+2), " +
          "element_at(sig, 4*b+3), element_at(sig, 4*b+4)) as bkey))")).as("bb"))
      .select(col("doc_id"), col("bb.band"), col("bb.bkey"))
    val cand = buckets.select(col("band"), col("bkey"), col("doc_id").as("doc_a"))
      .join(buckets.select(col("band"), col("bkey"), col("doc_id").as("doc_b")),
            Seq("band", "bkey"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    cand
      .join(sig.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), Seq("doc_a"))
      .join(sig.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), Seq("doc_b"))
      .withColumn("est_jaccard", expr(
        "aggregate(zip_with(sig_a, sig_b, (x, y) -> if(x = y, 1, 0)), 0, (acc, v) -> acc + v) / 64.0"))
      .filter(col("est_jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"))
  }

  // d7: 64-bit SimHash + near-dup pairs within Hamming distance 7,
  // candidates via a two-block-combination multi-index (Manku-style).
  //
  // Why not single blocks: k+1=8 blocks of 8 bits satisfies the
  // pigeonhole for ham<=7 but yields only 8·256 = 2,048 buckets TOTAL
  // — a key space that does not grow with the corpus, so intra-bucket
  // candidate cost is ~N²/2048 (all-pairs with a constant discount).
  // Instead: 9 blocks (widths 8,7,…,7), keys = all C(9,2)=36 ordered
  // block PAIRS. Generalized pigeonhole: ham<=7 dirties at most 7 of
  // the 9 blocks, leaving >=2 clean, so some pair of blocks matches
  // exactly — recall for ham<=7 stays guaranteed, while each pair key
  // spans 14-15 bits (36·~2^15 ≈ 1.2M buckets, growing with key
  // width). Fan-out is 36 rows/doc (linear); a 64-bit-hash bucket
  // collision can only add a spurious candidate, which the exact
  // hamming filter then rejects. Rows-only check; TextSimSpec proves
  // the pair set equals brute-force ham<=7 on the test corpus.
  def d7Simhash(s: SparkSession, d: String): DataFrame = {
    val offsets = Array(0, 8, 15, 22, 29, 36, 43, 50, 57)
    val widths = Array(8, 7, 7, 7, 7, 7, 7, 7, 7)
    def blk(i: Int) =
      s"(shiftright(simhash, ${offsets(i)}) & ${(1L << widths(i)) - 1}L)"
    val pairKeys = (for { i <- 0 until 9; j <- i + 1 until 9 } yield
      s"xxhash64(${i * 9 + j}, ${blk(i)}, ${blk(j)})").mkString(", ")
    val sh = docs(s, d)
      .filter(size(col("toks")) >= 1)
      .withColumn("simhash", GraftFunctions.simhash64(col("toks")))
      .select(col("doc_id"), col("simhash"))
      .cache() // single per-query persist — ContextCleaner reclaims (see d6)
    val keys = sh.select(col("doc_id"), col("simhash"),
        explode(expr(s"array($pairKeys)")).as("bkey"))
    keys.select(col("bkey"), col("doc_id").as("doc_a"), col("simhash").as("ha"))
      .join(keys.select(col("bkey"), col("doc_id").as("doc_b"), col("simhash").as("hb")),
            Seq("bkey"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
              expr("bit_count(ha ^ hb)").cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= 7)
  }

  // d9: token counting beyond whitespace (the LLM-pipeline mandate's
  // "BPE-ish regex" counter). Pieces = regex lexer runs (letter runs,
  // digit runs, single punctuation) and each run contributes
  // ceil(len/4) subword units — the "~4 chars per token" BPE rule of
  // thumb — so long words count as multiple tokens the way a trained
  // tokenizer would split them. Pattern stays in the RE2 ∩ Java-regex
  // dialect so the DuckDB oracle runs the identical lexer.
  def d9TokenCount(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("ws_tokens",
        expr("cast(size(filter(split(text, ' '), x -> x != '')) as bigint)"))
      .withColumn("bpe_tokens", expr(
        "aggregate(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]', 0), " +
          "0L, (acc, m) -> acc + (length(m) + 3) div 4)"))
      .select(col("doc_id"), col("ws_tokens"), col("bpe_tokens"))

  // d10: corpus vocabulary — top-100 tokens by frequency with a total
  // order (count desc, token asc). orderBy+limit plans as
  // TakeOrderedAndProject: each partition keeps its own top-100, the
  // driver merges — no global sort, the tokenizer-training shape that
  // still works when the vocab candidate space is billions of types.
  def d10VocabTopK(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(explode(col("toks")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(100)

  // d11: benchmark-contamination detection — the decontamination pass
  // every training pipeline runs before a data release: flag training
  // documents sharing any 3-gram shingle with the held-out set (here
  // a deterministic 2% sample stands in for the benchmark). Join is
  // keyed on 64-bit shingle hashes like d2; at 100 TB the benchmark
  // side is small enough to broadcast, making this a map-only pass.
  def d11Contamination(s: SparkSession, d: String): DataFrame = {
    val sh = shingled(s, d)
      .select(col("doc_id"), explode(col("shingles")).as("shh"))
    val bench = sh.filter(col("doc_id") % 50 === 0)
      .select(col("shh"), col("doc_id").as("bench_id"))
    sh.filter(col("doc_id") % 50 =!= 0)
      .join(bench, Seq("shh"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("shh")).as("n_shared_shingles"),
           min(col("bench_id")).as("first_bench_hit"))
  }

  // d37: CONTAMINATION RATE — the graded form of d11's binary flag
  // (the GPT-3/PaLM decontamination rule scores the FRACTION of a
  // training doc's n-grams that appear in the held-out set, then
  // thresholds): per training doc, its distinct 4-gram count, how
  // many of them the benchmark set contains, and the ratio. The
  // benchmark's distinct-shingle set is the only thing joined
  // against — at 100 TB it is fixed-size (the eval suite) and
  // broadcasts, making the pass map-only over the corpus; here the
  // deterministic %23 slice stands in, so the join stays hash-keyed
  // and AQE-broadcast like d11/e5.
  // d38: TOKENIZER FERTILITY by language — the multilingual-pipeline
  // health metric (tokens per word, chars per token): a language the
  // tokenizer fragments shows fertility far above the corpus mean
  // and silently eats context budget, so mixture designers track it
  // per lang before weighting. Reuses d9's two tokenizers verbatim
  // (whitespace words + the BPE-ish regex segmenter), aggregates as
  // exact longs per language, and divides ONCE at the end — one
  // map-side-combinable pass over the corpus, output is |langs| rows.
  def d38TokenizerFertility(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("ws",
        expr("cast(size(filter(split(text, ' '), x -> x != '')) as bigint)"))
      // fused one-pass segmenter (BpeCountApprox — same arithmetic as
      // the regexp_extract_all + aggregate form, spec-pinned equal,
      // but no per-segment string materialization: SCALE_r11 measured
      // the regex lexer as d38's 7.1×-decade-2 data-linear term)
      .withColumn("bpe", GraftFunctions.bpe_count_approx(col("text")))
      .withColumn("chars", length(col("text")).cast("long"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("ws").as("ws_tokens"),
        sum("bpe").as("bpe_tokens"),
        sum("chars").as("n_chars"))
      .withColumn("fertility",
        col("bpe_tokens").cast("double") / col("ws_tokens").cast("double"))
      .withColumn("chars_per_token",
        col("n_chars").cast("double") / col("bpe_tokens").cast("double"))
      .orderBy("lang")

  // d39: DATASET CARD — the per-source release profile every corpus
  // publication carries (docs, token mass, language mix, exact-dup
  // share): one groupBy over the corpus plus a |sources×langs|-sized
  // majority-language window — the second pass aggregates counts,
  // never rows. All ratios divide exact longs once at the end, so
  // the card is hash-stable. At 100 TB: two map-combinable
  // aggregations; nothing corpus-sized crosses the exchange except
  // the per-(source,lang) count rows.
  def d39DatasetCard(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d)
      .withColumn("ws",
        expr("cast(size(filter(split(text, ' '), x -> x != '')) as bigint)"))
      .withColumn("chars", length(col("text")).cast("long"))
    // exact distinct-text count per source WITHOUT a text-keyed
    // exchange (countDistinct(text) would group the corpus' text
    // bytes): d1's discipline — count per (source, xxhash64(text)),
    // unique-hash groups are distinct already, and only the
    // hash-collided rows move their text to split within the hash
    // partition. PlanInvariantsSpec enforces this shape globally.
    val hdocs = base.withColumn("h", xxhash64(col("text")))
    val perH = hdocs.groupBy("source", "h").agg(count(lit(1)).as("nh"))
    val multiKeys = perH.filter(col("nh") > 1).select("source", "h")
    val singles = perH.join(multiKeys, Seq("source", "h"), "left_anti")
      .groupBy("source").agg(count(lit(1)).as("u1"))
    val grpW = Window.partitionBy("source", "h").orderBy("text")
    val collided = hdocs.join(multiKeys, Seq("source", "h"), "left_semi")
      .select(col("source"), col("h"), col("text"))
      .withColumn("grp", dense_rank().over(grpW))
      .groupBy("source", "h").agg(max("grp").cast("long").as("ng"))
      .groupBy("source").agg(sum("ng").as("u2"))
    val uniq = singles.join(collided, Seq("source"), "full_outer")
      .select(col("source"),
        (coalesce(col("u1"), lit(0L)) + coalesce(col("u2"), lit(0L)))
          .as("n_unique_texts"))
    val bySrc = base.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("lang")).as("n_langs"),
      sum("ws").as("ws_tokens"),
      sum("chars").as("n_chars"))
      .join(uniq, "source")
    val w = Window.partitionBy("source")
      .orderBy(col("n").desc, col("lang"))
    val top = base.groupBy("source", "lang").agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("source"), col("lang").as("top_lang"),
        col("n").as("top_lang_docs"))
    bySrc.join(top, "source")
      .withColumn("dup_share",
        (col("n_docs") - col("n_unique_texts")).cast("double") /
          col("n_docs").cast("double"))
      .withColumn("top_lang_share",
        col("top_lang_docs").cast("double") / col("n_docs").cast("double"))
      .withColumn("mean_chars",
        col("n_chars").cast("double") / col("n_docs").cast("double"))
      .select("source", "n_docs", "n_langs", "top_lang", "top_lang_share",
        "dup_share", "ws_tokens", "mean_chars")
      .orderBy("source")
  }

  // d42: N-GRAM NOVELTY — the memorization-risk metric: per doc, the
  // fraction of its DISTINCT 4-grams appearing in no other document
  // (corpus df == 1). Low novelty means the doc is assembled from
  // corpus-common n-grams (template/boilerplate — a model reproducing
  // it memorized nothing); high novelty marks unique text whose
  // verbatim reproduction IS memorization — the score train-data
  // audits rank by. Cost: one shingle-hash df aggregate (8-byte
  // exchange keys, map-side combined) + the join back, both corpus-
  // linear; the ratio divides exact longs once. Hash-shingled like
  // d2/d37 (the oracle replays with strings — identical join result
  // absent 64-bit collisions, the blessed precedent).
  def d42NgramNovelty(s: SparkSession, d: String): DataFrame = {
    val sh = docs(s, d).filter(size(col("toks")) >= 4)
      .withColumn("g",
        explode(GraftFunctions.shingle_hashes(col("toks"), 4)))
      .select("doc_id", "g")
    val df4 = sh.groupBy("g").agg(count(lit(1)).as("df"))
    sh.join(df4, "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        count(when(col("df") === 1, 1)).as("n_novel"))
      .withColumn("novelty",
        col("n_novel").cast("double") / col("n_grams").cast("double"))
  }

  // d40: LEAKAGE-SAFE train/val/test split — the eval-hygiene rule
  // naive random splits break: two copies of one document must land
  // in the SAME split or the test set leaks into training through
  // duplicates. Assignment is therefore by DUP CLUSTER, not by doc:
  // each exact-text group moves wholesale with its keeper's
  // (min doc_id) deterministic hash — pmod(keeper, 10) → 8/1/1
  // train/val/test. The output carries the proof: `leaked_texts`
  // counts texts spanning >1 split and the oracle hashes it, so a
  // broken assignment cannot match even if the split sizes happen
  // to. One text-keyed exchange (d1's shape — xxhash-prunable at
  // scale) plus answer-sized aggregates; nothing corpus-sized
  // crosses a second exchange.
  def d40LeakageSafeSplit(s: SparkSession, d: String): DataFrame = {
    // cluster on xxhash64(text), never on text (d1's discipline,
    // PlanInvariantsSpec-enforced): unique-hash docs are their own
    // cluster; collided hashes split into exact-text groups inside
    // the hash partition (dense_rank over text there is fine — the
    // EXCHANGE is keyed on the 8-byte hash), so only duplicated-hash
    // rows ever move their text bytes.
    val docsB = Tables.documents(s, d)
      .withColumn("ws",
        expr("cast(size(filter(split(text, ' '), x -> x != '')) as bigint)"))
      .withColumn("h", xxhash64(col("text")))
    val multiH = docsB.groupBy("h").agg(count(lit(1)).as("nh"))
      .filter(col("nh") > 1).select("h")
    val grpW = Window.partitionBy("h").orderBy("text")
    val collided = docsB.join(multiH, Seq("h"), "left_semi")
      .withColumn("grp", dense_rank().over(grpW).cast("long"))
      .select("h", "grp", "doc_id", "ws")
    val single = docsB.join(multiH, Seq("h"), "left_anti")
      .select(col("h"), lit(1L).as("grp"), col("doc_id"), col("ws"))
    val kW = Window.partitionBy("h", "grp")
    val assigned = single.unionByName(collided)
      .withColumn("keeper", min(col("doc_id")).over(kW))
      .withColumn("split",
        when(pmod(col("keeper"), lit(10)) < 8, "train")
          .when(pmod(col("keeper"), lit(10)) === 8, "val")
          .otherwise("test"))
    val leaks = assigned.groupBy("h", "grp")
      .agg(countDistinct(col("split")).as("ns"))
      .agg(count(when(col("ns") > 1, 1)).as("leaked_texts"))
    assigned.groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("h"), col("grp")).as("n_clusters"),
        sum("ws").as("ws_tokens"))
      .crossJoin(broadcast(leaks))
      .orderBy("split")
  }

  def d37ContaminationScore(s: SparkSession, d: String): DataFrame = {
    val sh4 = docs(s, d).filter(size(col("toks")) >= 4)
      .withColumn("shingles", GraftFunctions.shingle_hashes(col("toks"), 4))
      .select(col("doc_id"), explode(col("shingles")).as("g"))
    val bench = sh4.filter(pmod(col("doc_id"), lit(23)) === 7)
      .select("g").distinct()
    val train = sh4.filter(pmod(col("doc_id"), lit(23)) =!= 7)
    val perDoc = train.groupBy("doc_id")
      .agg(count(lit(1)).as("n_ngrams"))
    val bad = train.join(bench, Seq("g"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_contaminated"))
    perDoc.join(bad, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_ngrams"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
        (coalesce(col("n_contaminated"), lit(0L)).cast("double") /
          col("n_ngrams")).as("contamination_rate"))
  }

  // d36: QUALITY-KEEP near-dup dedup — p3 keeps each near-dup
  // cluster's MIN-id member; production corpora keep the BEST one
  // (a crawl usually holds the same article once well-formatted and
  // N times mangled): d18's clusters + the d3 quality vote pick the
  // survivor (quality desc, ties to min doc_id), every other member
  // drops. Costs exactly p3's plan plus one broadcastable join of
  // the cluster membership (|near-dup docs|, tiny vs the corpus)
  // against per-doc quality — the map-only annotate pass.
  //
  // Scale control (SCALE_r11 flagged d36 at 5.0×/decade, 27.4 s at
  // 100×): the riser is CANDIDATE PAIR VOLUME — the shared-shingle
  // join emits Σdf² rows (113 M at the 100× probe; the df cap never
  // binds because the corpus tops out at df ≈ 24). Above the same
  // footer-count threshold d2's plan switch uses, d36 swaps its pair
  // source for d6's banded-LSH candidates EXACTLY VERIFIED
  // (lshVerifiedPairs): candidate volume becomes the bucket-collision
  // set (~the true near-dup pairs plus noise the exact intersection
  // rejects), which is corpus-linear, not Σdf². Recall is the
  // 16-band × 4-row S-curve (≥ 0.9998 at J = 0.8, → 1 as J → 1) —
  // TextSimSpec pins LSH-fed ≡ exact-fed at test SF, so every oracle
  // ever run sees identical output; at 100 TB the 2e-4 miss rate on
  // threshold-grazing pairs is the standard trade every production
  // fuzzy-dedup (Lee et al., SlimPajama) makes.
  def d36QualityDedup(s: SparkSession, d: String): DataFrame = {
    val small = Gate.small(s, "d36.lshPairs", 20000L)(docCount(s, d))
    d36From(s, d,
      if (small) d2NgramJaccard(s, d) else lshVerifiedPairs(s, d))
  }

  private[graft] def d36From(s: SparkSession, d: String,
                             pairs: DataFrame): DataFrame = {
    val quality = graft.operators.Pipeline
      .annotate(Tables.documents(s, d))
      .select(col("doc_id"), col("lang"), col("quality"))
    val clusters = d18ClustersFromPairs(pairs)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster").orderBy(col("quality").desc, col("doc_id"))
    val losers = clusters.join(quality, Seq("doc_id"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") > 1).select("doc_id")
    quality.join(losers, Seq("doc_id"), "left_anti")
    // corpus-sized output: no presentation sort (g2's rule, r18)
  }

  // d12: PII detection + redaction — the scrubbing pass every
  // training-data release runs (emails, phone numbers) as codegen'd
  // regexp_replace/extract_all, patterns kept in the RE2 ∩ Java
  // dialect so the DuckDB oracle runs the identical scrubber. The
  // synthetic corpus contains no PII, so the query first derives a
  // contact line from doc_id (deterministic, in-query — no data is
  // synthesized outside the tables); the redaction itself is generic.
  private val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val phonePat = "\\+1-[0-9]{3}-[0-9]{4}"
  def d12PiiRedact(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("ct", concat(col("text"),
        lit(" reach user"), col("doc_id"), lit("@example.com or +1-555-"),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
      .select(col("doc_id"),
        size(regexp_extract_all(col("ct"), lit(emailPat), lit(0)))
          .cast("long").as("n_emails"),
        size(regexp_extract_all(col("ct"), lit(phonePat), lit(0)))
          .cast("long").as("n_phones"),
        regexp_replace(regexp_replace(col("ct"), lit(emailPat), lit("<EMAIL>")),
          lit(phonePat), lit("<PHONE>")).as("redacted"))

  // d13: context-window chunking — split each document into 32-token
  // chunks on a 24-token stride (8-token overlap), the RAG/pretraining
  // windowing pass. Map-only (no shuffle before the output sort): the
  // chunk list is built per-row with codegen'd array functions and
  // posexploded, so at 100 TB this is a pure scan→scan pipeline whose
  // output is ~1.3× the corpus.
  def d13ChunkTokens(s: SparkSession, d: String): DataFrame =
    docs(s, d).filter(size(col("toks")) >= 1)
      .select(col("doc_id"),
        posexplode(expr(
          "transform(sequence(0, (size(toks)-1) div 24), " +
            "i -> array_join(slice(toks, 24*i+1, 32), ' '))")))
      .select(col("doc_id"), col("pos").cast("long").as("chunk_idx"),
        col("col").as("chunk_text"),
        expr("cast(size(filter(split(col, ' '), x -> x != '')) as bigint)")
          .as("n_chunk_tokens"))

  // d14: deterministic per-stratum quota sampling — the mixture
  // reweighting step of a pretraining data recipe: downsample the
  // over-represented stratum (en) to 2/5, keep others at 4/5, and
  // emit the inverse-rate loss weight. Keyed on doc_id mod so the
  // oracle is exact; at 100 TB key on xxhash64(doc_id) for
  // uniformity — same plan, still a map-only filter.
  def d14QuotaSample(s: SparkSession, d: String): DataFrame = {
    val rate = when(col("lang") === "en", lit(2)).otherwise(lit(4))
    Tables.documents(s, d)
      .filter(pmod(col("doc_id"), lit(5)) < rate)
      .select(col("doc_id"), col("lang"), col("source"),
        (lit(5).cast("double") / rate).as("weight"))
  }

  // d15: repetition scoring (the Gopher/MassiveText repetition rules):
  // duplicate-token fraction, duplicate-2-gram fraction — both via the
  // fused distinct-shingle-hash expression, no n-gram strings — and
  // top-token fraction via a (doc, token) partial agg; a doc is
  // `repetitive` past either threshold. Two corpus-wide aggs, both
  // map-side combined. Oracle contract: dtok/d2g count distinct 64-bit
  // shingle HASHES while the DuckDB oracle counts distinct strings —
  // same 2^-64 in-document collision tradeoff as d2, noise next to the
  // 0.15/0.2 thresholds and unhit at any tested SF.
  def d15Repetition(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d).filter(size(col("toks")) >= 2)
      .withColumn("n", size(col("toks")).cast("long"))
      .withColumn("dtok",
        size(GraftFunctions.shingle_hashes(col("toks"), 1)).cast("long"))
      .withColumn("d2g",
        size(GraftFunctions.shingle_hashes(col("toks"), 2)).cast("long"))
      .select("doc_id", "n", "dtok", "d2g", "toks")
    val top = base.select(col("doc_id"), explode(col("toks")).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max(col("c")).as("top_cnt"))
    val fracDup2g = lit(1.0) - col("d2g").cast("double") / (col("n") - 1)
    val topFrac = col("top_cnt").cast("double") / col("n")
    base.join(top, Seq("doc_id"))
      .select(col("doc_id"), col("n").as("n_tokens"),
        (lit(1.0) - col("dtok").cast("double") / col("n")).as("frac_dup_tokens"),
        fracDup2g.as("frac_dup_2grams"),
        topFrac.as("top_token_frac"),
        (topFrac > 0.15 || fracDup2g > 0.2).as("repetitive"))
  }

  // d16: Bloom-filter decontamination — d11's semantics re-shaped for
  // 100 TB: instead of JOINING the corpus' shingles against the
  // held-out set (a corpus-wide shuffle), build a Bloom filter over
  // the held-out shingles (small side; one bit-array reduce),
  // broadcast the finished bits as a one-row cross join, and probe
  // membership in a map-only pass — zero shuffle of the training
  // corpus before the final per-doc count. One-sided error: may
  // overcount shared shingles (FP rate ~(n·k/m)^k ≈ 1e-11 here) but
  // never misses one, so no contaminated doc escapes — TextSimSpec
  // proves d16 ⊇ d11 per-doc. Rows-only (bit-array internals aren't
  // SQL-expressible); d11 is the oracled equi-join twin.
  def d16BloomDecontaminate(s: SparkSession, d: String): DataFrame = {
    val sh = shingled(s, d)
      .select(col("doc_id"), explode(col("shingles")).as("shh"))
    val bloom = sh.filter(col("doc_id") % 50 === 0)
      .agg(GraftFunctions.bloom_agg(col("shh"), 1 << 20, 5).as("bits"))
    sh.filter(col("doc_id") % 50 =!= 0)
      .crossJoin(broadcast(bloom))
      .filter(GraftFunctions.bloom_contains(col("bits"), col("shh")))
      .groupBy("doc_id")
      .agg(countDistinct(col("shh")).as("n_flagged_shingles"))
    // corpus-sized output: no presentation sort (g2's rule, r18)
  }

  // d17: text normalization — the canonicalization pass that runs
  // before dedup/tokenization in every corpus pipeline: lowercase,
  // strip non-alphanumerics, collapse whitespace runs, trim. Pure
  // map; regexes in the RE2 ∩ Java dialect and replacements global in
  // both engines (DuckDB needs the explicit 'g' flag the oracle sets).
  def d17Normalize(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("norm_text",
        trim(regexp_replace(regexp_replace(lower(col("text")),
          lit("[^a-z0-9 ]"), lit("")), lit(" +"), lit(" "))))
      .select(col("doc_id"), col("norm_text"),
        length(col("text")).cast("long").as("n_chars_raw"),
        length(col("norm_text")).cast("long").as("n_chars_norm"))

  /** HTML/markup boilerplate strip (round 16 — the missing FIRST step
    * of the cleaning family: every web-crawl corpus runs tag-strip /
    * entity-decode / main-content BEFORE d17's normalization). Pure
    * codegen'd string arithmetic in the RE2 ∩ Java regex dialect (no
    * backreferences, no lookaround — both engines replay identically):
    *   1. script/style blocks drop WITH their content (two passes —
    *      a backreference `</\1>` would leave the RE2 dialect);
    *   2. comments drop;
    *   3. block-level tags become newlines (they delimit text blocks);
    *   4. every remaining tag becomes a space;
    *   5. the five ubiquitous entities decode, `&amp;` LAST (decoding
    *      it first would double-decode `&amp;lt;`);
    *   6. runs of spaces/tabs collapse;
    *   7. line-level main-content heuristic: lines under `minLine`
    *      chars after trim (nav crumbs, headings, footers) drop.
    * Known regex-stripper limit, deterministic in both engines: a
    * literal '>' inside a quoted attribute value ends the tag early
    * (HtmlStripSpec pins the behavior).
    */
  private[graft] def htmlStrip(html: Column, minLine: Int): Column = {
    val noScript = regexp_replace(html,
      lit("(?is)<script[^>]*>.*?</script>"), lit(""))
    val noStyle = regexp_replace(noScript,
      lit("(?is)<style[^>]*>.*?</style>"), lit(""))
    val noComment = regexp_replace(noStyle,
      lit("(?s)<!--.*?-->"), lit(""))
    val blocks = regexp_replace(noComment,
      lit("(?i)</?(p|div|h[1-6]|li|ul|ol|table|tr|td|nav|footer|header|br|section|article)[^>]*>"),
      lit("\n"))
    val noTags = regexp_replace(blocks, lit("<[^>]*>"), lit(" "))
    val ent = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (acc, (e, v)) =>
        regexp_replace(acc, lit(e), lit(v)) }
    val collapsed = regexp_replace(ent, lit("[ \t]+"), lit(" "))
    array_join(
      filter(transform(split(collapsed, "\n"), x => trim(x)),
        x => length(x) >= minLine), "\n")
  }

  // d43: the strip ORACLED — documents wrap into a deterministic HTML
  // template in-query (head/style/script boilerplate, nav crumbs, an
  // id comment, an h1, the text body, an entity-seeded tail, a
  // footer — both engines build the SAME string), so the oracle
  // proves construction AND strip: DuckDB replays every regex with
  // the 'g' flag and the same lambda line filter. Boilerplate lines
  // (nav/h1/footer) are short and drop at the line heuristic; the
  // body and the entity tail survive. A wrong pass order (entities
  // before tags, &amp; early), a leaked script body, or a mis-split
  // block tag cannot hash-match.
  /** The synthetic crawl envelope d43 and p10 share: every document's
    * text wrapped in the html boilerplate a real crawler sees (head
    * noise, nav crumbs, comments, the entity tail, footer).
    */
  private[graft] def crawlEnvelope(docId: Column, text: Column): Column =
    concat(
      lit("<html><head><title>T</title><style>body {color: red}</style>"),
      lit("<script type=\"text/javascript\">var x = 1 < 2;</script></head><body>"),
      lit("<nav>Home | About | Contact</nav>"),
      lit("<!-- doc "), docId.cast("string"), lit(" -->"),
      lit("<div class=\"main\"><h1>Doc "), docId.cast("string"),
      lit("</h1><p>"), text,
      lit("</p><p>Entity tail kept past the line filter: &lt;tag&gt; &quot;quoted&quot; &#39;s&#39;&nbsp;and &amp;co done</p></div>"),
      lit("<footer>(c) corp</footer></body></html>"))

  def d43HtmlStrip(s: SparkSession, d: String): DataFrame = {
    Tables.documents(s, d)
      .withColumn("html", crawlEnvelope(col("doc_id"), col("text")))
      .select(col("doc_id"),
        htmlStrip(col("html"), 25).as("main_text"),
        length(col("html")).cast("long").as("n_chars_html"))
      .withColumn("n_chars_main", length(col("main_text")).cast("long"))
    // no presentation sort (g2's rule, r18): the output carries the
    // full stripped text — range-exchanging the corpus payload for
    // row order alone is exactly the scale cost the rule exists for
  }

  // d18: near-dup CLUSTERING — pairs are not an actionable dedup
  // decision; clusters are. The d2 pair set (oracled) becomes a graph
  // (each pair an edge-bucket) and g1's distributed min-label
  // propagation labels each member with its component's min doc_id —
  // the canonical survivor. This is the MinHash→LSH→components shape
  // every corpus fuzzy-dedup runs (at 100 TB feed d6's pairs in; same
  // plan). Oracled by a recursive-CTE closure over the identical d2
  // pair SQL — component sizes are small by construction (near-dup
  // groups), so the quadratic closure is oracle-tractable.
  def d18DupClusters(s: SparkSession, d: String): DataFrame =
    d18ClustersFromPairs(d2NgramJaccard(s, d))

  /** The cluster stage over ANY (doc_a, doc_b) pair source — d18
    * feeds it the exact d2 pairs; d36 feeds it LSH-verified pairs at
    * scale (see [[d36QualityDedup]]).
    */
  private[graft] def d18ClustersFromPairs(src: DataFrame): DataFrame = {
    val pairs = src.select("doc_a", "doc_b")
    // struct edge key, not xxhash64: a 64-bit hash collision between
    // two distinct pairs would silently fuse unrelated clusters —
    // real at the ~2^32-edge birthday bound a 100 TB corpus reaches.
    val pid = struct(col("doc_a"), col("doc_b"))
    val memb = pairs.select(col("doc_a").as("user_id"), pid.as("g"))
      .unionByName(pairs.select(col("doc_b").as("user_id"), pid.as("g")))
    Events.g1ConnectedComponents(memb)
      .select(col("user_id").as("doc_id"), col("component").as("cluster"))
  }

  // d19: deterministic train/val/test split — 80/10/10 by a keyed
  // multiplicative hash (pure integer arithmetic so the oracle is
  // bit-exact; swap in xxhash64(content) at 100 TB for content-stable
  // assignment — same map-only plan). The split must be a pure
  // function of the key, never RNG, or re-runs leak val into train.
  def d19Split(s: SparkSession, d: String): DataFrame = {
    // (id mod M)·A mod M — algebraically identical to (id·A) mod M by
    // the modular-product rule, but the intermediate tops out at
    // M·A ≈ 2.7e12, so NO doc_id overflows signed 64-bit (the naive
    // id·A wraps silently in Spark past id ~ 3.5e9, skewing buckets).
    val bucket =
      pmod(pmod(col("doc_id"), lit(1000L)) * lit(2654435761L), lit(1000L))
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), bucket.as("bucket"),
        when(bucket < 800, "train").when(bucket < 900, "val")
          .otherwise("test").as("split"))
  }

  // d20: TF-IDF term weighting — per-(doc, token) term frequency,
  // per-token document frequency, and the raw inverse-frequency ratio
  // tf·N/df (the log is left to the consumer: ln() is not bit-stable
  // across engines, integer multiply + one IEEE division is). Two
  // partial aggs + a token-keyed join (df side broadcastable when the
  // vocab fits; AQE decides) + a broadcast 1-row N. The sparse
  // (doc, token, weight) triple is the retrieval/feature shape.
  def d20Tfidf(s: SparkSession, d: String): DataFrame = {
    val w = docs(s, d).select(col("doc_id"), explode(col("toks")).as("token"))
    val tf = w.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val dfreq = w.groupBy("token").agg(countDistinct(col("doc_id")).as("df"))
    val n = w.select(countDistinct(col("doc_id")).as("n"))
    tf.join(dfreq, "token")
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("token"), col("tf"), col("df"),
        ((col("tf") * col("n")).cast("double") / col("df")).as("tfidf_ratio"))
  }

  // d25: unigram-LM document scoring — the corpus-frequency quality
  // proxy (a cheap stand-in for a KenLM perplexity filter): score each
  // doc by the MEAN CORPUS FREQUENCY of its tokens; docs full of rare
  // garbage (boilerplate hashes, mojibake) score low, docs of common
  // well-formed words score high. Two aggs + one token-keyed join —
  // d20's exact plan shape (the "LM" is the unigram count table, built
  // and applied in the same pass). All counts are exact longs; the one
  // IEEE division happens last (d20's documented bit-stability
  // pattern — the log / normalization is the consumer's choice).
  def d25LmScore(s: SparkSession, d: String): DataFrame = {
    val w = docs(s, d).select(col("doc_id"), explode(col("toks")).as("token"))
    val cf = w.groupBy("token").agg(count(lit(1)).as("cf"))
    w.join(cf, "token")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("cf")).as("sum_cf"))
      .select(col("doc_id"), col("n_tokens"), col("sum_cf"),
        (col("sum_cf").cast("double") / col("n_tokens")).as("mean_cf"))
    // corpus-sized output: no presentation sort (g2's rule, r18)
  }

  // d28: INCREMENTAL dedup — the shape a growing corpus actually
  // runs: dedup today's batch against itself AND against the already-
  // deduped base WITHOUT re-touching the base corpus-wide (d1 re-run
  // on base+batch re-shuffles 100 TB to admit a few GB). Within-batch
  // uses d1's machinery (hash groups + text-resolve only inside
  // multi-member hash groups — no text-keyed exchange ever,
  // PlanInvariants' rule). Cross-batch probes the base's HASH index:
  // the first join is (h)-keyed 16-byte rows; base TEXT is fetched
  // via a semi join ONLY for the (rare) hash-hit groups and compared
  // exactly, so a 2^-64 collision can't false-drop a genuinely new
  // document and base bytes never move at scale. At 100 TB the base
  // side is a persisted (h)-bucketed index artifact (one column),
  // making the whole pass O(batch).
  def d28IncrementalDedup(newDocs: DataFrame, baseDocs: DataFrame): DataFrame = {
    val nw = newDocs.withColumn("h", xxhash64(col("text")))
    val base = baseDocs.withColumn("h", xxhash64(col("text")))
    // within-batch survivors (d1's collision-exact path on the batch)
    val groups = nw.select(col("h"), col("doc_id")).groupBy("h")
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
    val multiH = groups.filter(col("n_copies") > 1).select("h")
    val single = groups.join(multiH, Seq("h"), "left_anti")
      .select("h", "keep_id", "n_copies")
    val grpW = org.apache.spark.sql.expressions.Window
      .partitionBy("h").orderBy("text")
    val collided = nw.join(multiH, Seq("h"), "left_semi")
      .select(col("h"), col("text"), col("doc_id"))
      .withColumn("grp", dense_rank().over(grpW))
      .groupBy("h", "grp")
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select("h", "keep_id", "n_copies")
    val survivors = single.unionByName(collided)
    // cross-batch: text moves ONLY for hash-hit groups, and the
    // text-equality confirm runs INSIDE the h partition (dense_rank
    // over text, d1's resolve pattern) — a text===text join predicate
    // would become a text-keyed shuffle (Catalyst lifts the equality
    // into the join keys; PlanInvariants rejects exactly that)
    val baseHits = base
      .join(nw.select("h").distinct(), Seq("h"), "left_semi")
      .select(col("h"), col("text"), lit(-1L).as("doc_id"), lit(1).as("side"))
    val nwHits = nw
      .join(baseHits.select("h").distinct(), Seq("h"), "left_semi")
      .select(col("h"), col("text"), col("doc_id"), lit(0).as("side"))
    val textGrp = dense_rank().over(
      org.apache.spark.sql.expressions.Window.partitionBy("h").orderBy("text"))
    // HashPartitioning(h) satisfies the (h, grp) window requirement —
    // one exchange serves both windows
    val baseFlag = max(col("side")).over(
      org.apache.spark.sql.expressions.Window.partitionBy("h", "grp"))
    val dropCross = nwHits.unionByName(baseHits)
      .withColumn("grp", textGrp)
      .withColumn("has_base", baseFlag)
      .filter(col("side") === 0 && col("has_base") === 1)
      .select(col("doc_id").as("keep_id")).distinct()
    survivors.join(dropCross, Seq("keep_id"), "left_anti")
      .select(col("keep_id").as("doc_id"), col("n_copies"))
  }

  /** The oracled instance: the latest source (src19) arrives as the
    * new batch against everything else as the deduped base.
    */
  def d28IncrementalDedupQ(s: SparkSession, d: String): DataFrame = {
    val all = Tables.documents(s, d)
    d28IncrementalDedup(
      all.filter(col("source") === "src19").select("doc_id", "text"),
      all.filter(col("source") =!= "src19").select("doc_id", "text"))
  }

  // d32: INCREMENTAL MinHash-LSH near-dedup — d6's fuzzy dedup in
  // d28's daily-batch shape: today's batch is signed and bucketed
  // (O(batch)); the base corpus contributes its LSH buckets as the
  // probe index — at 100 TB that index is a STORED table the ingest
  // pipeline maintains (signatures + 16 band keys per doc, ~200 bytes
  // — the only thing the pass reads of the base), so the join touches
  // base buckets ONLY where a batch doc lands (bucket-keyed semi
  // probe), never the base corpus. Candidates are (batch ×
  // earlier-doc) pairs: base docs always count as earlier (already
  // admitted, whatever their ids); within-batch pairs orient newer →
  // older by id. Verdict per batch doc: admit iff no earlier doc's
  // signature-estimated jaccard ≥ τ, else the best match (highest
  // est, ties → lowest earlier id). Rows-only (hash-family); the spec
  // proves the pair set EQUALS d6's full-corpus pairs restricted to
  // batch-involving pairs (same bands, same signatures — incremental
  // ≡ full, the IVM guarantee d6-style) and drives an injected
  // near-dup through the cross path.
  private[graft] def minhashBuckets(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"), explode(expr(
        "transform(sequence(0, 15), b -> struct(b as band, " +
          "xxhash64(element_at(sig, 4*b+1), element_at(sig, 4*b+2), " +
          "element_at(sig, 4*b+3), element_at(sig, 4*b+4)) as bkey))")).as("bb"))
      .select(col("doc_id"), col("bb.band"), col("bb.bkey"))

  private[graft] def minhashSigsOf(df: DataFrame): DataFrame =
    df.withColumn("toks", expr("filter(split(text, ' '), x -> x != '')"))
      .filter(size(col("toks")) >= 3)
      .withColumn("shingles", GraftFunctions.shingle_hashes(col("toks"), 3))
      .withColumn("sig", GraftFunctions.minhash_sig_long(col("shingles"), 64))
      .select(col("doc_id"), col("sig"))

  private[graft] def d32Pairs(batch: DataFrame, base: DataFrame,
                              tau: Double = 0.5): DataFrame = {
    // eager localCheckpoint of the BATCH signatures (small by the
    // incremental contract): they feed the bucket explode and the
    // candidate re-join, and checkpoint blocks are GC-reclaimed after
    // the query — a cache() entry would pin executor storage for the
    // session (round-7 ADVICE; same hygiene as g14/g16).
    val bSig = minhashSigsOf(batch).localCheckpoint()
    val eSig = minhashSigsOf(base) // at scale: the stored index table
    val bB = minhashBuckets(bSig)
    val earlier = minhashBuckets(eSig)
      .withColumn("e_batch", lit(false))
      .unionByName(bB.withColumn("e_batch", lit(true)))
      .select(col("band"), col("bkey"), col("doc_id").as("doc_e"), col("e_batch"))
    val cand = bB.select(col("band"), col("bkey"), col("doc_id").as("doc_n"))
      .join(earlier, Seq("band", "bkey"))
      .filter(!col("e_batch") || col("doc_e") < col("doc_n"))
      .select("doc_n", "doc_e").distinct()
    val allSig = eSig.unionByName(bSig)
    cand
      .join(bSig.select(col("doc_id").as("doc_n"), col("sig").as("sig_n")),
        Seq("doc_n"))
      .join(allSig.select(col("doc_id").as("doc_e"), col("sig").as("sig_e")),
        Seq("doc_e"))
      .withColumn("est_jaccard", expr(
        "aggregate(zip_with(sig_n, sig_e, (x, y) -> if(x = y, 1, 0)), " +
          "0, (acc, v) -> acc + v) / 64.0"))
      .filter(col("est_jaccard") >= tau)
      .select(col("doc_n"), col("doc_e"), col("est_jaccard"))
  }

  def d32IncrementalMinhash(batch: DataFrame, base: DataFrame): DataFrame = {
    val best = d32Pairs(batch, base)
      .groupBy("doc_n")
      .agg(expr("max_by(struct(doc_e, est_jaccard), " +
        "struct(est_jaccard, -doc_e))").as("m"))
      .select(col("doc_n").as("doc_id"), col("m.doc_e").as("dup_of"),
        col("m.est_jaccard").as("est_jaccard"))
    batch.select("doc_id")
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), col("dup_of").isNull.as("admit"),
        col("dup_of"), col("est_jaccard"))
  }

  /** The declared instance: src19 arrives as the new batch (d28's
    * convention) against everything else as the admitted base.
    */
  def d32IncrementalMinhashQ(s: SparkSession, d: String): DataFrame = {
    val all = Tables.documents(s, d)
    d32IncrementalMinhash(
      all.filter(col("source") === "src19").select("doc_id", "text"),
      all.filter(col("source") =!= "src19").select("doc_id", "text"))
  }

  // d27: interpolated bigram LM scoring — d25's unigram quality proxy
  // upgraded one order: each document is scored by its adjacent token
  // PAIRS' corpus frequencies, interpolated with the successor
  // token's unigram frequency (fixed 10:1 integer weights — the
  // Jelinek-Mercer mixture a KenLM backoff model applies with floats,
  // kept in exact bigint arithmetic with the ONE IEEE division last,
  // d20's bit-stability pattern). Plan: one corpus pass emits
  // positional bigrams (map-only transform+explode, no self-join);
  // two count aggs build the bigram and unigram model tables KEYED ON
  // 8-byte xxhash64 — the model exchange never moves pair strings
  // (d1's trick), and the occurrence side shuffles as fixed-width
  // (doc_id, hb, hu) rows with the strings left map-side. Exactness
  // under 2^-64 collisions: each model group carries min/max string
  // sentinels (map-side combined — volume is distinct types per
  // partition, the model's own size); a group whose sentinels differ
  // hides two types under one key and RAISES rather than silently
  // merging counts (the spec forces this path with an injected
  // constant hash). The 100 TB recovery for a raised collision is
  // d1's resolve: dense_rank over the string inside the h partition
  // for the collided keys only.
  def d27BigramLm(s: SparkSession, d: String): DataFrame =
    d27BigramLmHashed(s, d, xxhash64(_))

  private[graft] def d27BigramLmHashed(
      s: SparkSession, d: String,
      hash: org.apache.spark.sql.Column => org.apache.spark.sql.Column)
      : DataFrame = {
    val t = docs(s, d).filter(size(col("toks")) >= 2)
    val bg = t.select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(toks)-2), " +
          "i -> struct(concat(toks[i], ' ', toks[i+1]) AS bigram, " +
          "toks[i+1] AS nxt))")).as("b"))
      .select(col("doc_id"),
        hash(col("b.bigram")).as("hb"), hash(col("b.nxt")).as("hu"),
        col("b.bigram"), col("b.nxt"))
    def guarded(cnt: org.apache.spark.sql.Column, lo: org.apache.spark.sql.Column,
                hi: org.apache.spark.sql.Column, what: String) =
      when(lo === hi, cnt).otherwise(raise_error(concat(
        lit(s"d27 $what hash collision: '"), lo, lit("' vs '"), hi,
        lit("' — resolve collided keys via d1's in-partition dense_rank"))))
    val bf = bg.groupBy("hb").agg(count(lit(1)).as("cnt"),
        min(col("bigram")).as("lo"), max(col("bigram")).as("hi"))
      .select(col("hb"), guarded(col("cnt"), col("lo"), col("hi"), "bigram").as("bf"))
    val uf = docs(s, d).select(explode(col("toks")).as("token"))
      .select(hash(col("token")).as("hu"), col("token"))
      .groupBy("hu").agg(count(lit(1)).as("cnt"),
        min(col("token")).as("lo"), max(col("token")).as("hi"))
      .select(col("hu"), guarded(col("cnt"), col("lo"), col("hi"), "token").as("uf"))
    bg.select("doc_id", "hb", "hu")
      .join(bf, "hb")
      .join(uf, "hu")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
           sum(col("bf")).as("sum_bf"), sum(col("uf")).as("sum_uf"))
      .select(col("doc_id"), col("n_bigrams"), col("sum_bf"), col("sum_uf"),
        ((col("sum_bf") * 10 + col("sum_uf")).cast("double") /
          col("n_bigrams")).as("interp_score"))
    // corpus-sized output: no presentation sort (g2's rule, r18)
  }

  // d26: domain-mixture rebalancing — downsample every language to the
  // smallest language's count so the training mixture is uniform (the
  // DoReMi/pile-construction reweighting step, here with equal target
  // weights). The keep decision is a PURE FUNCTION of (doc_id, rates):
  // keep iff hash-bucket/1e6 < min_cnt/cnt, i.e.
  // bucket * cnt < min_cnt * 1e6 in exact integer arithmetic (d19's
  // multiplicative hash; swap in xxhash64(text) at 100 TB for
  // content-stable sampling). Expected kept ≈ min_cnt per language —
  // rate-based, so no per-language global sort/limit exists anywhere:
  // one tiny count agg broadcast back over a map-only filter.
  // Overflow bounds: the hash side is id-unbounded (the (id mod M)·A
  // form below caps the intermediate at M·A ≈ 2.7e15 — the naive id·A
  // wraps past id ~ 3.5e9); the filter side needs cnt < 9.2e12
  // docs/lang (bucket < 1e6 × lang_count < 2^63).
  def d26MixtureRebalance(s: SparkSession, d: String): DataFrame = {
    val cnts = Tables.documents(s, d).groupBy("lang")
      .agg(count(lit(1)).as("lang_count"))
    val minc = cnts.agg(min(col("lang_count")).as("target_count"))
    val bucket =
      pmod(pmod(col("doc_id"), lit(1000000L)) * lit(2654435761L),
           lit(1000000L))
    Tables.documents(s, d)
      .join(broadcast(cnts), "lang")
      .crossJoin(broadcast(minc))
      .withColumn("bucket", bucket)
      .filter(col("bucket") * col("lang_count") <
              col("target_count") * lit(1000000L))
      .select(col("doc_id"), col("lang"), col("lang_count"),
              col("target_count"), col("bucket"))
  }

  // d21: Count-Min heavy hitters — d10's vocabulary question at the
  // scale where the exact groupBy(token) stops being the right plan:
  // a 100 TB corpus has billions of distinct types, and the exact
  // top-k moves every one through a key-partitioned exchange. Here
  // NOTHING shuffles on token: the CMS builds in one map-side pass
  // (mergeable counter matrix, broadcast back as one row), candidates
  // come from per-partition local top-m (bounded memory, no
  // exchange), and each candidate's frequency is estimated map-side
  // from the broadcast sketch. One-sided error: CMS never
  // under-counts, so a true heavy hitter can only rank HIGHER —
  // recall depends on the candidate pass (a token must be locally
  // heavy somewhere; m = 10·k covers real corpus skew comfortably,
  // and the spec asserts exact-top-10 coverage with est ≥ truth).
  // Rows-only: sketch internals aren't SQL-expressible; d10 is the
  // oracled exact twin.
  def d21HeavyHitters(s: SparkSession, d: String,
                      k: Int = 20, localM: Int = 200): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val toks = docs(s, d).select(explode(col("toks")).as("token"))
      .withColumn("th", xxhash64(col("token")))
    val schema = StructType(Seq(
      StructField("token", StringType, nullable = false),
      StructField("th", LongType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    // Misra-Gries summary, capacity 8·localM: BOUNDED memory per
    // partition whatever the type count (an exact per-partition
    // HashMap would hold every distinct token — the unbounded state
    // this operator exists to avoid). Guarantee: any token with
    // partition frequency > n/capacity survives the summary, so
    // corpus heavy hitters are locally heavy somewhere and reach the
    // candidate set; the CMS estimate then rescores them exactly
    // (one-sided). Counts here are only for surviving the summary —
    // never reported.
    val cand = toks.mapPartitions { rows =>
      val capacity = 8 * localM
      val counts = scala.collection.mutable.HashMap.empty[String, (Long, Long)]
      rows.foreach { r =>
        val t = r.getString(0); val th = r.getLong(1)
        counts.get(t) match {
          case Some((c, _)) => counts(t) = (c + 1, th)
          case None if counts.size < capacity => counts(t) = (1L, th)
          case None => // full: decrement all, evict zeros (Misra-Gries)
            val dead = scala.collection.mutable.ArrayBuffer.empty[String]
            counts.foreach { case (k, (c, h)) =>
              if (c == 1L) dead += k else counts(k) = (c - 1, h)
            }
            dead.foreach(counts.remove)
        }
      }
      counts.toSeq.sortBy { case (t, (c, _)) => (-c, t) }
        .take(localM).iterator
        .map { case (t, (_, th)) => org.apache.spark.sql.Row(t, th) }
    }(enc).distinct()
    val sketch = toks.agg(GraftFunctions.cms_agg(col("th"), 4, 8192).as("cms"))
    cand.crossJoin(broadcast(sketch))
      .select(col("token"),
        GraftFunctions.cms_estimate(col("cms"), col("th")).as("est_count"))
      .orderBy(col("est_count").desc, col("token"))
      .limit(k)
  }

  // d22: duplicated-SPAN detection — d1/d2 decide at document
  // granularity; the span pass finds the boilerplate INSIDE otherwise
  // distinct documents (headers, licence blocks, templated sentences)
  // the way substring-level dedup (Lee et al., "Deduplicating
  // Training Data Makes Language Models Better") does. A word-5-gram
  // at position i is duplicated iff its hash occurs in >= 2 distinct
  // documents; per document we report the duplicated-gram count and
  // the exact number of token positions covered by at least one
  // duplicated gram. 100 TB shape: postings are (doc_id, pos,
  // 8-byte hash) — linear, one hash-keyed exchange for the df pass
  // and one semi join back; coverage is a UNION-OF-INTERVALS sum via
  // lag over the per-doc window (high-cardinality partition key), so
  // the k-wide spans never explode into per-position rows. Hashing:
  // Spark groups 5-grams by the fused positional ShingleHashesPos
  // expression (one hash per token + rolling combiner, zero
  // gram-string materialization) while the oracle groups the strings
  // — bit-parity rests on the same 2^-64 no-collision argument
  // d2/d15 document.
  private[graft] def grams5(s: SparkSession, d: String): DataFrame =
    docs(s, d).filter(size(col("toks")) >= 5)
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"),
        posexplode(GraftFunctions.shingle_hashes_pos(col("toks"), 5)))
      .select(col("doc_id"), col("n_tokens"),
        col("pos").cast("long").as("pos"), col("col").as("gh"))

  def d22SpanDedup(s: SparkSession, d: String): DataFrame = {
    val g = grams5(s, d)
    val dup = g.groupBy("gh")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2).select("gh")
    val dg = g.join(dup, Seq("gh"), "left_semi")
    // covered = Σ min(5, pos - prev_pos): exact union length of the
    // equal-width intervals [pos, pos+4], no per-position fan-out
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val cov = dg.withColumn("gap", col("pos") - lag("pos", 1).over(w))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_dup_grams"),
        sum(when(col("gap").isNull || col("gap") > 5, lit(5L))
          .otherwise(col("gap"))).as("covered_tokens"))
    g.groupBy(col("doc_id"), col("n_tokens"))
      .agg(count(lit(1)).as("n_grams"))
      .join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("n_grams"),
        coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        (coalesce(col("covered_tokens"), lit(0L)).cast("double") /
          col("n_tokens")).as("dup_frac"))
    // corpus-sized output: no presentation sort (g2's rule, r18)
  }

  /** Scale-safe EXCLUSIVE prefix sum of `valCol` in `keyCol` order
    * (keys: non-negative longs), appended as `outCol`. A single
    * `ORDER BY key` running-sum window funnels the corpus through one
    * task; here every window partitions on `key div grp` — each holds
    * <= grp rows of the level below — and the per-group totals
    * (corpus/grp rows) recurse through the same construction until
    * <= grp remain, where the base offsets come from a
    * broadcast-hinted theta self-join over that bounded frame (a
    * deliberate <= grp² nested loop; a GLOBAL window even there would
    * trip the unbounded-window invariant). Depth is log_grp(N) — 3
    * levels cover a trillion rows at grp=8192 — and level l touches
    * corpus/grp^l rows, so the total work beyond the base scan is a
    * geometric tail. The per-group totals are localCheckpoint'ed
    * (g1's iteration pattern): they are corpus/grp rows — cheap to
    * hold — and without it every level's count() action plus the
    * recursion would re-run the level-below window once per level;
    * checkpointed, each level's window runs at most twice (once into
    * its totals, once in the final join-back), whatever the depth.
    */
  private[graft] def exclusivePrefixSum(df: DataFrame, keyCol: String,
                                        valCol: String, outCol: String,
                                        grp: Long): DataFrame = {
    val within = df.withColumn("_g", expr(s"($keyCol) div $grp"))
      .withColumn("_within", coalesce(
        sum(col(valCol)).over(Window.partitionBy("_g").orderBy(keyCol)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val totals = within.groupBy("_g").agg(sum(col(valCol)).as("_tot"))
      .localCheckpoint()
    val offs =
      if (totals.count() <= grp)
        totals.join(
            broadcast(totals.select(col("_g").as("_g2"), col("_tot").as("_tot2"))),
            col("_g2") < col("_g"), "left")
          .groupBy("_g")
          .agg(coalesce(sum("_tot2"), lit(0L)).as("_goff"))
      else
        exclusivePrefixSum(
            totals.select(col("_g").as("_k"), col("_tot").as("_v")),
            "_k", "_v", "_goff", grp)
          .select(col("_k").as("_g"), col("_goff"))
    within.join(offs, "_g")
      .withColumn(outCol, col("_within") + col("_goff"))
      .drop("_g", "_within")
  }

  // d23: sequence packing — the pretraining batcher: documents are
  // concatenated in doc_id order and cut into fixed 256-token context
  // windows (GPT-style packing; a document whose tokens straddle a
  // cut spans two packs). Each doc's placement is pure arithmetic on
  // its EXCLUSIVE prefix token count, computed by the hierarchical
  // prefix sum above — the one operator here whose naive form (a
  // global ORDER BY running-sum window) is inherently
  // single-partition. Oracle: DuckDB's global running sum IS that
  // naive form, tractable at test SF.
  def d23PackSequences(s: SparkSession, d: String,
                       budget: Long = 256, grp: Long = 64): DataFrame = {
    val t = docs(s, d)
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"))
      .filter(col("n_tokens") >= 1)
    exclusivePrefixSum(t, "doc_id", "n_tokens", "start_off", grp)
      .select(col("doc_id"), col("n_tokens"), col("start_off"),
        expr(s"start_off div $budget").as("pack_id"),
        pmod(col("start_off"), lit(budget)).as("pack_pos"),
        (expr(s"start_off div $budget") =!=
          expr(s"(start_off + n_tokens - 1) div $budget")).as("spans_packs"))
  }

  // e5: sparse retrieval (SURVEY §2.4) — the RAG / contamination-
  // lookup shape: for each query document, the top-k corpus documents
  // by number of shared word-3-gram shingles, restricted to
  // DISCRIMINATIVE shingles (df·10 <= N, an integer-exact cut — the
  // corpus' unigram vocabulary is ~31 types, so tokens can't
  // discriminate; shingles do, which is the same reason d2/d11 key on
  // them). The cut is provably unhit at test SF (every shingle
  // survives — spec'd like d2's cap) but at 100 TB it is the Σ(df²)
  // bound: a boilerplate shingle would otherwise connect every query
  // to every document. Postings move as 8-byte shingle hashes; the
  // query-side join is hash-keyed with AQE free to broadcast when the
  // query set is genuinely small; the final top-k is the bounded
  // TopKByScore partial aggregate, so nothing corpus-proportional
  // crosses the last exchange. Scores are exact
  // integer overlap counts — the cast to double inside the aggregate
  // is lossless below 2^53 and ties break (score desc, nid asc) in
  // both engines. Hash-vs-string grouping carries d2's 2^-64
  // collision argument.
  /** (doc_id, g) distinct-shingle postings — e5's candidate feed and
    * the input `graft.sources.IndexExport` materializes for serving.
    */
  private[graft] def shinglePostings(s: SparkSession, d: String): DataFrame =
    shingled(s, d).select(col("doc_id"), explode(col("shingles")).as("g"))

  def e5SparseRetrieval(s: SparkSession, d: String, k: Int = 5,
                        dfCutMul: Long = 10): DataFrame = {
    val sh = shinglePostings(s, d)
    val n = sh.select(countDistinct(col("doc_id")).as("n"))
    val keep = sh.groupBy("g").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(n))
      .filter(col("df") * dfCutMul <= col("n")).select("g")
    val t = sh.join(keep, Seq("g"), "left_semi")
    val q = t.filter(col("doc_id") % 25 === 0)
      .select(col("g"), col("doc_id").as("qid"))
    // no broadcast hint: this test instantiation's query set is a
    // corpus fraction (doc_id % 25), so a forced broadcast would grow
    // with the data; the join keys on the 8-byte hash and AQE
    // broadcasts exactly when the real query set IS small
    val scored = t.join(q, Seq("g"))
      .filter(col("doc_id") =!= col("qid"))
      .groupBy(col("qid"), col("doc_id").as("nid"))
      .agg(count(lit(1)).as("score"))
    scored.groupBy("qid")
      .agg(GraftFunctions.top_k(col("score").cast("double"), col("nid"), k).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("qid"), col("t.id").as("nid"),
        col("t.score").cast("long").as("score"),
        (col("pos") + 1).cast("long").as("rnk"))
      .orderBy("qid", "rnk")
  }

  // d30: BPE merge-pair counting — the inner loop of byte-pair-
  // encoding tokenizer training (count adjacent symbol pairs, merge
  // the winner, repeat). One round shown; iterations repeat the same
  // plan on the merged vocab. The scale design is the two-level
  // aggregation: the corpus collapses to the (word, cnt) VOCAB first
  // (map-side combinable, vocab-bounded — the corpus-sized pass moves
  // words once), and pair generation runs over distinct words only,
  // weighted by cnt — pair counts are then a second vocab-bounded agg
  // over a tiny symbol-pair domain, never a corpus-sized explode.
  // Top-k is TakeOrderedAndProject (per-partition top-k, driver
  // merge); ties break (n desc, pair asc) in both engines.
  def d30BpePairs(s: SparkSession, d: String, k: Int = 50): DataFrame = {
    val vocab = docs(s, d).select(explode(col("toks")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
    vocab.filter(length(col("word")) >= 2)
      .select(col("cnt"), explode(expr(
        "transform(sequence(1, length(word) - 1)," +
          " i -> substring(word, i, 2))")).as("pair"))
      .groupBy("pair").agg(sum(col("cnt")).as("n"))
      .orderBy(col("n").desc, col("pair")).limit(k)
  }

  // d33: the full BPE TRAINING loop — R rounds of (count adjacent
  // symbol pairs over the vocab → pick the winner → merge it
  // everywhere → recount), the part that actually trains a tokenizer
  // (d30 is one round's count). Merge application is GREEDY
  // left-to-right non-overlapping — the fold below replaces the
  // accumulator's tail symbol when (tail, current) is the winning
  // pair, which IS the greedy scan: a merged symbol L||R can never
  // re-match as L, so overlaps are impossible and merges move
  // strictly rightward. g12's fixed-round contract: every round is
  // vocab-bounded (the corpus collapses to (word, cnt) ONCE — d30's
  // two-level design — and all R rounds run over distinct words
  // weighted by cnt, never re-touching the corpus), the winner pick
  // is a 1-row driver action per round (the BPE sync point — R
  // bounded, answer-sized), and the evolving vocab is eagerly
  // localCheckpoint'ed so round r never recomputes rounds 1..r-1.
  // Output: the trained merge table (round, left_sym, right_sym,
  // merged, n). Fully ORACLED: DuckDB unrolls the R rounds, applying
  // each merge with a recursive leftmost-replace — provably the same
  // greedy result, since a merge never creates a new (L, R)
  // adjacency to its left.
  def d33BpeTrain(s: SparkSession, d: String, rounds: Int = 8): DataFrame = {
    import s.implicits._
    var vocab = docs(s, d).select(explode(col("toks")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .select(split(col("word"), "").as("syms"), col("cnt"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, String, String, Long)]
    var r = 1
    var dry = false
    while (r <= rounds && !dry) {
      val win = vocab.filter(size(col("syms")) >= 2)
        .select(col("cnt"), explode(expr(
          "transform(sequence(1, size(syms) - 1), i -> " +
            "struct(element_at(syms, i) as l, element_at(syms, i + 1) as r))"))
          .as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("n"))
        .orderBy(col("n").desc, col("l"), col("r"))
        .limit(1).collect()
      if (win.isEmpty) dry = true
      else {
        val l = win(0).getString(0); val rt = win(0).getString(1)
        merges += ((r.toLong, l, rt, l + rt, win(0).getLong(2)))
        vocab = vocab.select(aggregate(col("syms"),
            expr("cast(array() as array<string>)"),
            (acc, x) =>
              when(size(acc) === 0, array(x))
                .when(element_at(acc, -1) === lit(l) && x === lit(rt),
                  concat(slice(acc, lit(1), size(acc) - 1),
                    array(lit(l + rt))))
                .otherwise(concat(acc, array(x)))).as("syms"),
          col("cnt"))
          .localCheckpoint()
      }
      r += 1
    }
    merges.toSeq.toDF("merge_round", "left_sym", "right_sym", "merged", "n")
      .orderBy("merge_round")
  }

  /** BATCHED merge selection for d33 — the fix for serial training's
    * driver-side bottleneck: a real tokenizer trains 30k-50k merges,
    * and one driver-synced job pair PER merge is 60k+ Spark jobs and
    * a checkpoint chain that deep. Each round instead takes the top
    * P+1 candidates (one answer-sized collect) and accepts the
    * longest prefix that is (a) pairwise SYMBOL-DISJOINT and (b)
    * separated from the first non-accepted candidate by a STRICT
    * count gap — then applies the whole batch in ONE vocab rewrite.
    *
    * Why that prefix is provably equal to serial greedy, merge for
    * merge: within the batch, disjoint symbols mean the merges touch
    * disjoint symbol instances, so application commutes and the j-th
    * accepted pair's count at its serial step equals its round-start
    * count (recorded n is identical). Any pair whose count a batch
    * merge CAN change shares a symbol with it, so it was not accepted
    * — and since acceptance stops at the FIRST conflict, every such
    * pair ranks below the cut, i.e. strictly below every accepted
    * count (the gap rule); new pairs created by a merge (x, l||r)
    * inherit ≤ the count of a conflicting old pair (x, l), so they
    * are strictly below the cut too. Serial greedy therefore picks
    * exactly the accepted pairs, in order, with the same tie-break —
    * BpeSpec pins P=1 ≡ serial and P=4 ≡ serial bit-for-bit.
    *
    * Driver jobs per trained merge drop ~|batch|×; the checkpoint
    * chain shortens identically. Batches are data-dependent: skewed
    * count tails (many ties) shrink them — the spec's corpus averages
    * >1, and `rounds` still bounds total merges exactly.
    */
  /** UTF-8 binary string order — Spark's UTF8String comparison, so
    * driver-side (l, r) tie-breaks replay orderBy(l, r) exactly.
    */
  private def utf8Lt(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    while (i < x.length && i < y.length) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  /** The batched-greedy ACCEPTANCE rule shared by the Spark and
    * driver trainer paths (see [[d33BpeTrainBatched]]): longest
    * pairwise symbol-disjoint prefix capped at `want`, then the
    * strict-count-gap trim at the cut.
    */
  private def bpeAcceptPrefix(
      cands: Array[(String, String, Long)], want: Int)
      : scala.collection.mutable.ArrayBuffer[(String, String, Long)] = {
    val acc = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    val used = scala.collection.mutable.Set.empty[String]
    var i = 0
    var stopped = false
    while (i < cands.length && acc.size < want && !stopped) {
      val (l, r, _) = cands(i)
      if (used.contains(l) || used.contains(r)) stopped = true
      else { acc += cands(i); used += l; used += r; i += 1 }
    }
    if (i < cands.length) {
      val nCut = cands(i)._3
      while (acc.size > 1 && acc.last._3 == nCut) acc.remove(acc.size - 1)
    }
    acc
  }

  /** The greedy left-to-right batch apply shared by the driver paths
    * — the 6-line SQL fold's exact twin: empty-acc seeds, a merged
    * symbol replaces (last, x) when any accepted pair matches (at
    * most one can — batch symbols are pairwise disjoint), else append.
    */
  private def bpeApplyBatch(syms: Array[String],
                            batch: Seq[(String, String, String)])
      : Array[String] = {
    val acc = scala.collection.mutable.ArrayBuffer.empty[String]
    syms.foreach { x =>
      val hit = acc.nonEmpty &&
        batch.exists { case (l, r, _) => acc.last == l && x == r }
      if (hit) {
        val m = batch.find { case (l, r, _) => acc.last == l && x == r }.get._3
        acc(acc.size - 1) = m
      } else acc += x
    }
    acc.toArray
  }

  /** Driver-side pair count + top-(want+1) selection — the Spark
    * candidate aggregate's exact twin: exact long sums, ordered by
    * (n desc, l, r) in UTF-8 binary string order.
    */
  private def bpeTopPairs(lv: Array[(Array[String], Long)], topN: Int)
      : Array[(String, String, Long)] = {
    val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
    lv.foreach { case (syms, cnt) =>
      var i = 1
      while (i < syms.length) {
        val k = (syms(i - 1), syms(i))
        counts.update(k, counts.getOrElse(k, 0L) + cnt)
        i += 1
      }
    }
    counts.toArray.sortWith { case (((l1, r1), n1), ((l2, r2), n2)) =>
      if (n1 != n2) n1 > n2
      else if (l1 != l2) utf8Lt(l1, l2)
      else utf8Lt(r1, r2)
    }.take(topN).map { case ((l, r), n) => (l, r, n) }
  }

  def d33BpeTrainBatched(s: SparkSession, d: String, rounds: Int = 8,
                         batchP: Int = 4,
                         batchTrace:
                           scala.collection.mutable.Buffer[Int] = null)
      : DataFrame = {
    import s.implicits._
    var vocab = docs(s, d).select(explode(col("toks")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .select(split(col("word"), "").as("syms"), col("cnt"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, String, String, Long)]
    var dry = false
    // DRIVER FAST PATH (round 18 — the bounded-collect gate g1/g13b
    // use; the checkpointed vocab is distinct words, small at any
    // tested SF): below the cap every training round is pure driver
    // work — same pair counts (exact long sums), same (n desc, l, r)
    // UTF-8 order, same acceptance prefix, same greedy fold —
    // replacing 2 Spark jobs + one checkpoint per round. BpeSpec pins
    // this path's output ≡ the UNTOUCHED Spark serial trainer
    // bit-for-bit; GateSpec's forced sweep runs the Spark loop.
    Gate.collect(s, "bpe.twin", vocab.select(col("syms"), col("cnt")),
                 500000) match {
      case Some(rows) =>
        var lv: Array[(Array[String], Long)] =
          rows.map(r => (r.getSeq[String](0).toArray, r.getLong(1)))
        while (merges.size < rounds && !dry) {
          val want = math.min(batchP, rounds - merges.size)
          val cands = bpeTopPairs(lv, want + 1)
          if (cands.isEmpty) dry = true
          else {
            val acc = bpeAcceptPrefix(cands, want)
            val base = merges.size.toLong
            acc.zipWithIndex.foreach { case ((l, r, n), j) =>
              merges += ((base + j + 1, l, r, l + r, n))
            }
            if (batchTrace != null) batchTrace += acc.size
            val batch = acc.map { case (l, r, _) => (l, r, l + r) }.toSeq
            lv = lv.map { case (syms, cnt) =>
              (bpeApplyBatch(syms, batch), cnt) }
          }
        }
        return merges.toSeq
          .toDF("merge_round", "left_sym", "right_sym", "merged", "n")
          .orderBy("merge_round")
      case None => ()
    }
    while (merges.size < rounds && !dry) {
      val want = math.min(batchP, rounds - merges.size)
      val cands = vocab.filter(size(col("syms")) >= 2)
        .select(col("cnt"), explode(expr(
          "transform(sequence(1, size(syms) - 1), i -> " +
            "struct(element_at(syms, i) as l, element_at(syms, i + 1) as r))"))
          .as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("n"))
        .orderBy(col("n").desc, col("l"), col("r"))
        .limit(want + 1).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      if (cands.isEmpty) dry = true
      else {
        // longest pairwise-disjoint prefix + strict count gap — the
        // shared acceptance rule (driver twin uses the same helper)
        val acc = bpeAcceptPrefix(cands, want)
        val base = merges.size.toLong
        acc.zipWithIndex.foreach { case ((l, r, n), j) =>
          merges += ((base + j + 1, l, r, l + r, n))
        }
        if (batchTrace != null) batchTrace += acc.size
        // ONE greedy fold applies the whole disjoint batch: a symbol
        // matches at most one accepted pair on each side, and merged
        // symbols are new, so the single left-to-right scan is
        // exactly the serial composition
        val batch = acc.map { case (l, r, _) => (l, r, l + r) }.toSeq
        vocab = vocab.select(aggregate(col("syms"),
            expr("cast(array() as array<string>)"),
            (a, x) => {
              val start = when(size(a) === 0, array(x))
              batch.foldLeft(start) { case (w, (l, r, m)) =>
                w.when(element_at(a, -1) === lit(l) && x === lit(r),
                  concat(slice(a, lit(1), size(a) - 1), array(lit(m))))
              }.otherwise(concat(a, array(x)))
            }).as("syms"),
          col("cnt"))
          .localCheckpoint()
      }
    }
    merges.toSeq.toDF("merge_round", "left_sym", "right_sym", "merged", "n")
      .orderBy("merge_round")
  }

  // d34: BPE ENCODE — applying the d33-trained merge table to the
  // corpus, the half of the tokenizer loop that actually runs at
  // 100 TB (training is a once-per-corpus driver loop; encoding is
  // the every-document pass whose output feeds token budgets, chunking
  // and packing). Two-level like d30/d33: the corpus collapses to
  // DISTINCT words once, the R merges (a driver-side ≤R-row model —
  // the trained artifact) replay over that vocab-bounded table with
  // the SAME greedy fold training used (one code path would be better
  // still, but the fold is 6 lines and the spec replays both), and
  // the per-doc answer is a word-keyed join of corpus tokens against
  // the (word → token count) table — vocab-sized, broadcast when it
  // fits, AQE's call — plus one per-doc aggregate. The corpus is
  // touched exactly twice (tokenize, count-join); all R rounds run
  // over distinct words. Fully ORACLED: DuckDB replays the training
  // chain (d33's generator) with the word key carried through, then
  // the same join + aggregate.
  def d34BpeEncode(s: SparkSession, d: String, rounds: Int = 8): DataFrame = {
    val merges = d33BpeTrainBatched(s, d, rounds).collect()
      .map(r => (r.getAs[String]("left_sym"), r.getAs[String]("right_sym")))
    var vocab = docs(s, d).select(explode(col("toks")).as("word"))
      .distinct()
      .select(col("word"), split(col("word"), "").as("syms"))
      .localCheckpoint()
    // DRIVER FAST PATH (round 18 — same gate as the trainer): each
    // Spark round was an eager checkpoint over the distinct-word
    // vocab; below the cap the R merges replay SEQUENTIALLY (merge k
    // can feed merge k+1) over collected syms with the same greedy
    // fold, and the (word → token count) table returns as a local
    // relation for the corpus join. The corpus-side join + per-doc
    // aggregate stay distributed.
    val wtok = Gate.collect(s, "bpe.twin",
        vocab.select(col("word"), col("syms")), 500000) match {
      case Some(rows) =>
        import s.implicits._
        rows.map { r =>
          var syms = r.getSeq[String](1).toArray
          merges.foreach { case (l, rt) =>
            syms = bpeApplyBatch(syms, Seq((l, rt, l + rt)))
          }
          (r.getString(0), syms.length.toLong)
        }.toSeq.toDF("word", "w_tokens")
      case None =>
        merges.foreach { case (l, rt) =>
          vocab = vocab.select(col("word"), aggregate(col("syms"),
              expr("cast(array() as array<string>)"),
              (acc, x) =>
                when(size(acc) === 0, array(x))
                  .when(element_at(acc, -1) === lit(l) && x === lit(rt),
                    concat(slice(acc, lit(1), size(acc) - 1),
                      array(lit(l + rt))))
                  .otherwise(concat(acc, array(x)))).as("syms"))
            .localCheckpoint()
        }
        vocab.select(col("word"),
          size(col("syms")).cast("long").as("w_tokens"))
    }
    docs(s, d).select(col("doc_id"), explode(col("toks")).as("word"))
      .join(wtok, Seq("word"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum(col("w_tokens")).as("n_tokens"))
    // corpus-sized output: no presentation sort (g2's rule, r18)
  }

  /** d34's oracle: d33's unrolled training chain with the word key
    * carried through every round's recursive replace, then the word
    * token counts join back to the corpus tokens per doc.
    */
  private[graft] def d34OracleSql(rounds: Int = 8): String = {
    val v0 =
      """v0 AS MATERIALIZED (
        |  SELECT word, chr(31) || array_to_string(list_transform(
        |      range(1, length(word) + 1), i -> word[i:i]), chr(31))
        |    || chr(31) AS s, cnt
        |  FROM (SELECT word, COUNT(*) AS cnt FROM (
        |    SELECT unnest(list_filter(string_split(text, ' '), x -> x != ''))
        |      AS word FROM documents) GROUP BY word))""".stripMargin
    def round(r: Int): String = {
      val pat = s"(SELECT chr(31) || l || chr(31) || r || chr(31) FROM w$r)"
      s"""p$r AS MATERIALIZED (
         |  SELECT pr[1] AS l, pr[2] AS r, CAST(SUM(cnt) AS BIGINT) AS n
         |  FROM (SELECT cnt, unnest(list_transform(range(1, len(ls)),
         |      i -> [ls[i], ls[i + 1]])) AS pr
         |    FROM (SELECT list_filter(string_split(s, chr(31)), x -> x != '')
         |      AS ls, cnt FROM v${r - 1}))
         |  GROUP BY 1, 2),
         |w$r AS MATERIALIZED (
         |  SELECT l, r, n FROM p$r ORDER BY n DESC, l, r LIMIT 1),
         |v$r AS MATERIALIZED (
         |  SELECT word, s, cnt FROM (
         |    WITH RECURSIVE st$r AS (
         |      SELECT word, s, cnt FROM v${r - 1}
         |      UNION ALL
         |      SELECT word, substr(s, 1, pos - 1) || chr(31)
         |          || (SELECT l || r FROM w$r) || chr(31)
         |          || substr(s, pos + length($pat)), cnt
         |      FROM (SELECT word, s, cnt, instr(s, $pat) AS pos FROM st$r)
         |      WHERE pos > 0)
         |    SELECT word, s, cnt FROM st$r WHERE instr(s, $pat) = 0))""".stripMargin
    }
    // NB: plain concat — an outer stripMargin would eat one pipe from
    // the round bodies' `||` continuation lines (already stripped)
    s"WITH $v0,\n${(1 to rounds).map(round).mkString(",\n")},\n" +
      s"tok AS MATERIALIZED (\n" +
      s"  SELECT word, CAST(len(list_filter(string_split(s, chr(31)),\n" +
      s"    x -> x != '')) AS BIGINT) AS w_tokens FROM v$rounds),\n" +
      "docw AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '),\n" +
      "  x -> x != '')) AS word FROM documents)\n" +
      "SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,\n" +
      "  CAST(SUM(w_tokens) AS BIGINT) AS n_tokens\n" +
      "FROM docw JOIN tok USING (word)\n" +
      "GROUP BY doc_id ORDER BY doc_id"
  }

  /** d33's oracle, generated for `rounds` unrolled rounds: each round
    * recounts pairs over the evolving vocab (symbols encoded as a
    * chr(31)-delimited string, ␟a␟b␟…␟), picks the winner with the
    * same (n DESC, l, r) total order, and applies the merge with a
    * recursive LEFTMOST-replace — equivalent to the Spark fold's
    * greedy scan because a merge never creates a new (L,R) adjacency
    * to its left, so leftmost-repeat and one greedy pass agree.
    */
  private[graft] def d33OracleSql(rounds: Int = 8): String = {
    // every CTE is MATERIALIZED: without it DuckDB re-inlines each
    // round's recursive CTE inside the next round's recursion (CTEs
    // are views by default), which both explodes cost exponentially
    // across rounds AND mis-binds the nested recursions' working
    // tables (observed: phantom merges no round's winner produced).
    // Unique st$r names for the same reason.
    val v0 =
      """v0 AS MATERIALIZED (
        |  SELECT chr(31) || array_to_string(list_transform(
        |      range(1, length(word) + 1), i -> word[i:i]), chr(31))
        |    || chr(31) AS s, cnt
        |  FROM (SELECT word, COUNT(*) AS cnt FROM (
        |    SELECT unnest(list_filter(string_split(text, ' '), x -> x != ''))
        |      AS word FROM documents) GROUP BY word))""".stripMargin
    def round(r: Int): String = {
      val pat = s"(SELECT chr(31) || l || chr(31) || r || chr(31) FROM w$r)"
      s"""p$r AS MATERIALIZED (
         |  SELECT pr[1] AS l, pr[2] AS r, CAST(SUM(cnt) AS BIGINT) AS n
         |  FROM (SELECT cnt, unnest(list_transform(range(1, len(ls)),
         |      i -> [ls[i], ls[i + 1]])) AS pr
         |    FROM (SELECT list_filter(string_split(s, chr(31)), x -> x != '')
         |      AS ls, cnt FROM v${r - 1}))
         |  GROUP BY 1, 2),
         |w$r AS MATERIALIZED (
         |  SELECT l, r, n FROM p$r ORDER BY n DESC, l, r LIMIT 1),
         |v$r AS MATERIALIZED (
         |  SELECT s, cnt FROM (
         |    WITH RECURSIVE st$r AS (
         |      SELECT s, cnt FROM v${r - 1}
         |      UNION ALL
         |      SELECT substr(s, 1, pos - 1) || chr(31)
         |          || (SELECT l || r FROM w$r) || chr(31)
         |          || substr(s, pos + length($pat)), cnt
         |      FROM (SELECT s, cnt, instr(s, $pat) AS pos FROM st$r)
         |      WHERE pos > 0)
         |    SELECT s, cnt FROM st$r WHERE instr(s, $pat) = 0))""".stripMargin
    }
    val out = (1 to rounds).map(r =>
      s"SELECT CAST($r AS BIGINT) AS merge_round, l AS left_sym, " +
        s"r AS right_sym, l || r AS merged, n FROM w$r")
      .mkString("\nUNION ALL\n")
    s"WITH $v0,\n${(1 to rounds).map(round).mkString(",\n")}\n" +
      s"$out\nORDER BY merge_round"
  }

  // d31: hashed bag-of-words linear classifier INFERENCE — the
  // fastText-shaped quality-filter apply step (the train side is
  // offline; at 100 TB you apply a frozen model to every doc). The
  // model is a B-row (bucket, weight) table — built here from a
  // closed-form multiplicative hash so the oracle replays it exactly;
  // a real trained table has the identical plan — BROADCAST to every
  // executor, so scoring is one map-only pass over tokens + a per-doc
  // partial aggregate: no corpus-sized exchange carries anything
  // wider than (doc_id, token-bucket). Token→bucket is the codegen'd
  // rolling_hash (d5's recurrence, replayed bit-exactly in SQL);
  // weight sums are exact longs, the one IEEE division last (d20's
  // bit-stability pattern).
  def d31QualityClassifier(s: SparkSession, d: String,
                           nBuckets: Int = 512): DataFrame = {
    val A = 2654435761L; val M = 1000003L
    val weights = s.range(nBuckets).select(col("id").as("b"),
      (pmod(col("id") * A, lit(M)) - lit(M / 2)).as("w"))
    docs(s, d).select(col("doc_id"), explode(col("toks")).as("token"))
      .withColumn("b",
        pmod(GraftFunctions.rolling_hash(col("token")), lit(nBuckets.toLong)))
      .join(broadcast(weights), "b")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("w")).as("score_sum"))
      .select(col("doc_id"), col("n_tokens"), col("score_sum"),
        (col("score_sum").cast("double") / col("n_tokens")).as("score"),
        (col("score_sum") > 0).as("keep"))
      .orderBy("doc_id")
  }

  // d41: QUALITY PRUNE CURVE — the threshold-sweep every filtering
  // pipeline plots before committing to a cutoff: docs and token
  // mass per fixed-width score band of d31's classifier, with the
  // cumulative-from-the-top retention ("keep everything scoring
  // above X costs Y% of tokens"). Bands are fixed-width
  // (floor(score/100)), NOT ntile deciles: a decile needs a global
  // sort of the corpus into one partition, a band is map-side
  // arithmetic — one groupBy exchange of |bands| rows, then an
  // answer-sized cumulative window. Score is an exact-long ratio
  // (d31's), so banding and the retention floats replay bit-exact
  // in DuckDB.
  def d41QualityPruneCurve(s: SparkSession, d: String): DataFrame = {
    val scored = d31QualityClassifier(s, d)
      .withColumn("band",
        floor(col("score") / lit(100.0)).cast("long"))
    val per = scored.groupBy("band")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"))
    // cumulative-from-the-top over the band table: a hinted
    // broadcast theta-join, NOT a global window — the band domain is
    // fixed by d31's weight modulus (|score| < 500001 ⇒ ≤ ~10k
    // bands regardless of corpus size), so the |bands|² pair space
    // is corpus-independent and the plan never funnels corpus rows
    // through one task (PlanInvariantsSpec would flag the window
    // form).
    val perB = per.select(col("band").as("b2"),
      col("n_docs").as("nd2"), col("n_tokens").as("nt2"))
    per.join(broadcast(perB), col("b2") >= col("band"))
      .groupBy("band", "n_docs", "n_tokens")
      .agg(sum("nd2").as("cum_docs"), sum("nt2").as("cum_tokens"))
      .crossJoin(broadcast(
        per.agg(sum(col("n_tokens")).as("total_tokens"))))
      .withColumn("token_retention",
        col("cum_tokens").cast("double") / col("total_tokens").cast("double"))
      .select("band", "n_docs", "n_tokens", "cum_docs", "cum_tokens",
        "token_retention")
      .orderBy(col("band").desc)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d41_quality_prune_curve" ->
      ((s: SparkSession, d: String) => d41QualityPruneCurve(s, d)),
    "d30_bpe_pairs" -> ((s: SparkSession, d: String) => d30BpePairs(s, d)),
    "d33_bpe_train" -> ((s: SparkSession, d: String) => d33BpeTrainBatched(s, d)),
    "d34_bpe_encode" -> ((s: SparkSession, d: String) => d34BpeEncode(s, d)),
    "d31_quality_classifier" -> ((s: SparkSession, d: String) => d31QualityClassifier(s, d)),
    "e5_sparse_retrieval" -> ((s: SparkSession, d: String) => e5SparseRetrieval(s, d)),
    "d22_span_dedup" -> (d22SpanDedup _),
    "d23_pack_sequences" -> ((s: SparkSession, d: String) => d23PackSequences(s, d)),
    "d21_heavy_hitters" -> ((s: SparkSession, d: String) => d21HeavyHitters(s, d)),
    "d20_tfidf" -> (d20Tfidf _),
    "d17_normalize" -> (d17Normalize _),
    "d43_html_strip" -> (d43HtmlStrip _),
    "d18_dup_clusters" -> (d18DupClusters _),
    "d19_split" -> (d19Split _),
    "d12_pii_redact" -> (d12PiiRedact _),
    "d13_chunk_tokens" -> (d13ChunkTokens _),
    "d14_quota_sample" -> (d14QuotaSample _),
    "d15_repetition" -> (d15Repetition _),
    "d16_bloom_decontaminate" -> (d16BloomDecontaminate _),
    "d25_lm_score" -> (d25LmScore _),
    "d26_mixture_rebalance" -> (d26MixtureRebalance _),
    "d27_bigram_lm" -> (d27BigramLm _),
    "d28_incremental_dedup" -> (d28IncrementalDedupQ _),
    "d32_incremental_minhash" -> (d32IncrementalMinhashQ _),
    "d29_containment" -> ((s: SparkSession, d: String) => d29Containment(s, d)),
    "d9_token_count" -> (d9TokenCount _),
    "d10_vocab_topk" -> (d10VocabTopK _),
    "d11_contamination" -> (d11Contamination _),
    "d37_contamination_score" -> (d37ContaminationScore _),
    "d38_tokenizer_fertility" -> (d38TokenizerFertility _),
    "d39_dataset_card" -> (d39DatasetCard _),
    "d40_leakage_safe_split" -> (d40LeakageSafeSplit _),
    "d42_ngram_novelty" -> (d42NgramNovelty _),
    "d36_quality_dedup" -> (d36QualityDedup _),
    "d1_dedup_exact" -> (d1DedupExact _),
    "d2_dedup_ngram_jaccard" -> (d2NgramJaccard _),
    "d3_text_stats" -> (d3TextStats _),
    "d4_langid" -> (d4LangId _),
    "d5_fingerprint" -> (d5Fingerprint _),
    "d6_minhash_lsh" -> (d6MinhashLsh _),
    "d7_simhash" -> (d7Simhash _),
  )

  /** d6/d7/d16/d21 intentionally omitted: hash-family / bit-array /
    * sketch results aren't SQL-expressible; the driver records
    * rows-only checks for them (d16's containment vs d11 and d21's
    * coverage of d10's exact top-10 are spec-proven instead).
    */
  /** The d43 strip CTE chain shared by the d43/p10 oracles: envelope
    * (`h`) through the five strip stages; `s5` exposes
    * (doc_id, html, main_text).
    */
  private[graft] val D43StripCte: String =
    """h AS (
      |  SELECT doc_id,
      |    '<html><head><title>T</title><style>body {color: red}</style>'
      |    || '<script type="text/javascript">var x = 1 < 2;</script></head><body>'
      |    || '<nav>Home | About | Contact</nav>'
      |    || '<!-- doc ' || CAST(doc_id AS VARCHAR) || ' -->'
      |    || '<div class="main"><h1>Doc ' || CAST(doc_id AS VARCHAR)
      |    || '</h1><p>' || text
      |    || '</p><p>Entity tail kept past the line filter: &lt;tag&gt; &quot;quoted&quot; &#39;s&#39;&nbsp;and &amp;co done</p></div>'
      |    || '<footer>(c) corp</footer></body></html>' AS html
      |  FROM documents),
      |s1 AS (SELECT doc_id, html,
      |  regexp_replace(regexp_replace(regexp_replace(html,
      |    '(?is)<script[^>]*>.*?</script>', '', 'g'),
      |    '(?is)<style[^>]*>.*?</style>', '', 'g'),
      |    '(?s)<!--.*?-->', '', 'g') AS t FROM h),
      |s2 AS (SELECT doc_id, html,
      |  regexp_replace(regexp_replace(t,
      |    '(?i)</?(p|div|h[1-6]|li|ul|ol|table|tr|td|nav|footer|header|br|section|article)[^>]*>',
      |    chr(10), 'g'), '<[^>]*>', ' ', 'g') AS t FROM s1),
      |s3 AS (SELECT doc_id, html,
      |  replace(replace(replace(replace(replace(replace(t,
      |    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
      |    '&#39;', chr(39)), '&nbsp;', ' '), '&amp;', '&') AS t FROM s2),
      |s4 AS (SELECT doc_id, html,
      |  regexp_replace(t, '[ \t]+', ' ', 'g') AS t FROM s3),
      |s5 AS (SELECT doc_id, html,
      |  array_to_string(list_filter(list_transform(
      |    string_split(t, chr(10)), x -> trim(x)),
      |    x -> length(x) >= 25), chr(10)) AS main_text FROM s4)""".stripMargin

  /** The d2-pair CTE block shared by the d18/p3 oracles (identical to
    * d2's own oracle up to the pair projection).
    */
  private[graft] val D2PairsCte: String =
    """t AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(range(0, len(w)-2),
      |      i -> array_to_string(w[i+1:i+3], ' '))) AS sh
      |  FROM (SELECT doc_id,
      |          list_filter(string_split(text, ' '), x -> x != '') AS w
      |        FROM documents)
      |  WHERE len(w) >= 3),
      |s AS (SELECT doc_id, unnest(sh) AS g, len(sh) AS sz FROM t),
      |p AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared,
      |    MAX(a.sz) AS sa, MAX(b.sz) AS sb
      |  FROM s a JOIN s b ON a.g = b.g AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |pr AS (
      |  SELECT doc_a, doc_b FROM p
      |  WHERE CAST(shared AS DOUBLE) / (sa + sb - shared) >= 0.8),
      |e AS (SELECT doc_a AS x, doc_b AS y FROM pr
      |      UNION SELECT doc_b, doc_a FROM pr),
      |reach(x, y) AS (
      |  SELECT x, y FROM e
      |  UNION
      |  SELECT r.x, e2.y FROM reach r JOIN e e2 ON r.y = e2.x)""".stripMargin

  val oracles: Map[String, String] = Map(
    "d33_bpe_train" -> d33OracleSql(8),
    "d34_bpe_encode" -> d34OracleSql(8),
    "d30_bpe_pairs" ->
      """WITH v AS (
        |  SELECT word, COUNT(*) AS cnt FROM (
        |    SELECT unnest(list_filter(string_split(text, ' '), x -> x != ''))
        |      AS word
        |    FROM documents) GROUP BY word),
        |p AS (
        |  SELECT cnt, unnest(list_transform(range(1, length(word)),
        |      i -> word[i:i+1])) AS pair
        |  FROM v WHERE length(word) >= 2)
        |SELECT pair, CAST(SUM(cnt) AS BIGINT) AS n
        |FROM p GROUP BY pair ORDER BY n DESC, pair LIMIT 50""".stripMargin,
    "d41_quality_prune_curve" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split(text, ' '), x -> x != '')) AS token
        |  FROM documents),
        |h AS (
        |  SELECT doc_id,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |        list_transform(range(1, length(token) + 1),
        |                       i -> CAST(unicode(token[i]) AS BIGINT))),
        |      (h, c) -> (h * 31 + c) % 1000000007) % 512 AS b
        |  FROM t),
        |w AS (SELECT b, (b * 2654435761) % 1000003 - 500001 AS w
        |      FROM (SELECT unnest(range(0, 512)) AS b)),
        |sc AS (
        |  SELECT doc_id, COUNT(*) AS n_tokens,
        |    CAST(SUM(w.w) AS BIGINT) AS score_sum
        |  FROM h JOIN w ON h.b = w.b GROUP BY doc_id),
        |band AS (
        |  SELECT CAST(floor((CAST(score_sum AS DOUBLE) / n_tokens) / 100.0)
        |              AS BIGINT) AS band,
        |    doc_id, n_tokens
        |  FROM sc),
        |per AS (
        |  SELECT band, COUNT(*) AS n_docs,
        |    CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
        |  FROM band GROUP BY band),
        |cum AS (
        |  SELECT band, n_docs, n_tokens,
        |    CAST(SUM(n_docs) OVER (ORDER BY band DESC
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_docs,
        |    CAST(SUM(n_tokens) OVER (ORDER BY band DESC
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
        |    CAST((SELECT SUM(n_tokens) FROM per) AS BIGINT) AS total_tokens
        |  FROM per)
        |SELECT band, n_docs, n_tokens, cum_docs, cum_tokens,
        |  CAST(cum_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE)
        |    AS token_retention
        |FROM cum ORDER BY band DESC""".stripMargin,
    "d31_quality_classifier" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split(text, ' '), x -> x != '')) AS token
        |  FROM documents),
        |h AS (
        |  SELECT doc_id,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |        list_transform(range(1, length(token) + 1),
        |                       i -> CAST(unicode(token[i]) AS BIGINT))),
        |      (h, c) -> (h * 31 + c) % 1000000007) % 512 AS b
        |  FROM t),
        |w AS (SELECT b, (b * 2654435761) % 1000003 - 500001 AS w
        |      FROM (SELECT unnest(range(0, 512)) AS b)),
        |sc AS (
        |  SELECT doc_id, COUNT(*) AS n_tokens,
        |    CAST(SUM(w.w) AS BIGINT) AS score_sum
        |  FROM h JOIN w ON h.b = w.b GROUP BY doc_id)
        |SELECT doc_id, n_tokens, score_sum,
        |  CAST(score_sum AS DOUBLE) / n_tokens AS score,
        |  score_sum > 0 AS keep
        |FROM sc ORDER BY doc_id""".stripMargin,
    "e5_sparse_retrieval" ->
      """WITH t0 AS (
        |  SELECT doc_id, list_distinct(list_transform(range(0, len(w)-2),
        |    i -> array_to_string(w[i+1:i+3], ' '))) AS sh
        |  FROM (SELECT doc_id,
        |          list_filter(string_split(text, ' '), x -> x != '') AS w
        |        FROM documents)
        |  WHERE len(w) >= 3),
        |s AS (SELECT doc_id, unnest(sh) AS g FROM t0),
        |n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM s),
        |df AS (SELECT g, COUNT(*) AS df FROM s GROUP BY 1),
        |keep AS (SELECT g FROM df CROSS JOIN n WHERE df.df * 10 <= n.n),
        |t AS (SELECT * FROM s WHERE g IN (SELECT g FROM keep)),
        |sc AS (
        |  SELECT q.doc_id AS qid, c.doc_id AS nid, COUNT(*) AS score
        |  FROM t q JOIN t c ON q.g = c.g
        |  WHERE q.doc_id % 25 = 0 AND c.doc_id <> q.doc_id
        |  GROUP BY 1, 2),
        |r AS (
        |  SELECT qid, nid, score,
        |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS rnk
        |  FROM sc)
        |SELECT qid, nid, score, CAST(rnk AS BIGINT) AS rnk
        |FROM r WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin,
    "d22_span_dedup" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS w
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
        |    CAST(i AS BIGINT) AS pos, array_to_string(w[i+1:i+5], ' ') AS gm
        |  FROM t, unnest(range(0, len(w) - 4)) AS u(i)
        |  WHERE len(w) >= 5),
        |dup AS (SELECT gm FROM g GROUP BY gm HAVING COUNT(DISTINCT doc_id) >= 2),
        |c AS (
        |  SELECT doc_id, pos,
        |    pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS gap
        |  FROM g WHERE gm IN (SELECT gm FROM dup)),
        |cov AS (
        |  SELECT doc_id, COUNT(*) AS n_dup_grams,
        |    CAST(SUM(CASE WHEN gap IS NULL OR gap > 5 THEN 5 ELSE gap END)
        |         AS BIGINT) AS covered_tokens
        |  FROM c GROUP BY doc_id),
        |base AS (SELECT doc_id, n_tokens, COUNT(*) AS n_grams FROM g GROUP BY 1, 2)
        |SELECT b.doc_id, b.n_tokens, b.n_grams,
        |  COALESCE(cov.n_dup_grams, 0) AS n_dup_grams,
        |  COALESCE(cov.covered_tokens, 0) AS covered_tokens,
        |  CAST(COALESCE(cov.covered_tokens, 0) AS DOUBLE) / b.n_tokens AS dup_frac
        |FROM base b LEFT JOIN cov ON b.doc_id = cov.doc_id
        |ORDER BY b.doc_id""".stripMargin,
    "d23_pack_sequences" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split(text, ' '), x -> x != ''))
        |         AS BIGINT) AS n_tokens
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS start_off
        |  FROM t WHERE n_tokens >= 1)
        |SELECT doc_id, n_tokens, start_off,
        |  start_off // 256 AS pack_id,
        |  start_off % 256 AS pack_pos,
        |  (start_off // 256 <> (start_off + n_tokens - 1) // 256) AS spans_packs
        |FROM p ORDER BY doc_id""".stripMargin,
    "d20_tfidf" ->
      """WITH w AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split(text, ' '), x -> x != '')) AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM w GROUP BY 1, 2),
        |df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM w GROUP BY 1),
        |n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM w)
        |SELECT tf.doc_id, tf.token AS token, tf.tf, df.df,
        |  CAST(tf.tf * n.n AS DOUBLE) / df.df AS tfidf_ratio
        |FROM tf JOIN df ON tf.token = df.token CROSS JOIN n
        |ORDER BY tf.doc_id, tf.token""".stripMargin,
    "d17_normalize" ->
      """SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(lower(text),
        |    '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS norm_text,
        |  CAST(length(text) AS BIGINT) AS n_chars_raw,
        |  CAST(length(trim(regexp_replace(regexp_replace(lower(text),
        |    '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS BIGINT) AS n_chars_norm
        |FROM documents ORDER BY doc_id""".stripMargin,
    "d43_html_strip" ->
      ("WITH " + D43StripCte + "\n" +
        """SELECT doc_id, main_text,
          |  CAST(length(html) AS BIGINT) AS n_chars_html,
          |  CAST(length(main_text) AS BIGINT) AS n_chars_main
          |FROM s5 ORDER BY doc_id""".stripMargin),
    "d18_dup_clusters" ->
      s"""WITH RECURSIVE $D2PairsCte
         |SELECT x AS doc_id, LEAST(x, MIN(y)) AS cluster
         |FROM reach GROUP BY x ORDER BY doc_id""".stripMargin,
    "d19_split" ->
      """SELECT doc_id, lang,
        |  (doc_id % 1000 * 2654435761) % 1000 AS bucket,
        |  CASE WHEN (doc_id % 1000 * 2654435761) % 1000 < 800 THEN 'train'
        |       WHEN (doc_id % 1000 * 2654435761) % 1000 < 900 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,
    "d12_pii_redact" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    text || ' reach user' || doc_id || '@example.com or +1-555-' ||
        |      lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS ct
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(ct,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
        |    AS n_emails,
        |  CAST(len(regexp_extract_all(ct,
        |    '\+1-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones,
        |  regexp_replace(regexp_replace(ct,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\+1-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS redacted
        |FROM t ORDER BY doc_id""".stripMargin,
    "d13_chunk_tokens" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS w
        |  FROM documents)
        |SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
        |  array_to_string(w[24*i+1 : 24*i+32], ' ') AS chunk_text,
        |  CAST(len(w[24*i+1 : 24*i+32]) AS BIGINT) AS n_chunk_tokens
        |FROM t, unnest(range(0, (len(w)-1)//24 + 1)) AS u(i)
        |WHERE len(w) >= 1
        |ORDER BY doc_id, chunk_idx""".stripMargin,
    "d14_quota_sample" ->
      """SELECT doc_id, lang, source,
        |  CAST(5 AS DOUBLE) / (CASE WHEN lang = 'en' THEN 2 ELSE 4 END)
        |    AS weight
        |FROM documents
        |WHERE doc_id % 5 < (CASE WHEN lang = 'en' THEN 2 ELSE 4 END)
        |ORDER BY doc_id""".stripMargin,
    "d15_repetition" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS w
        |  FROM documents),
        |u AS (
        |  SELECT doc_id, CAST(len(w) AS BIGINT) AS n,
        |    CAST(len(list_distinct(w)) AS BIGINT) AS dtok,
        |    CAST(len(list_distinct(list_transform(range(0, len(w)-1),
        |      i -> array_to_string(w[i+1:i+2], ' ')))) AS BIGINT) AS d2g,
        |    w
        |  FROM t WHERE len(w) >= 2),
        |c AS (
        |  SELECT doc_id, token, COUNT(*) AS c
        |  FROM (SELECT doc_id, unnest(w) AS token FROM u) GROUP BY 1, 2),
        |m AS (SELECT doc_id, MAX(c) AS top_cnt FROM c GROUP BY 1)
        |SELECT u.doc_id, n AS n_tokens,
        |  1 - CAST(dtok AS DOUBLE)/n AS frac_dup_tokens,
        |  1 - CAST(d2g AS DOUBLE)/(n-1) AS frac_dup_2grams,
        |  CAST(top_cnt AS DOUBLE)/n AS top_token_frac,
        |  (CAST(top_cnt AS DOUBLE)/n > 0.15 OR
        |   1 - CAST(d2g AS DOUBLE)/(n-1) > 0.2) AS repetitive
        |FROM u JOIN m ON u.doc_id = m.doc_id ORDER BY u.doc_id""".stripMargin,
    "d10_vocab_topk" ->
      """SELECT token, COUNT(*) AS n FROM (
        |  SELECT unnest(list_filter(string_split(text, ' '), x -> x != ''))
        |    AS token
        |  FROM documents)
        |GROUP BY token ORDER BY n DESC, token LIMIT 100""".stripMargin,
    "d36_quality_dedup" ->
      s"""WITH RECURSIVE ${D2PairsCte},
        |cl AS (
        |  SELECT x AS doc_id, LEAST(x, MIN(y)) AS cluster
        |  FROM reach GROUP BY x),
        |q AS (
        |  SELECT doc_id, lang,
        |    CAST((CASE WHEN len(toks) BETWEEN 12 AND 80 THEN 1 ELSE 0 END) +
        |      (CASE WHEN CAST(len(list_filter(toks,
        |          x -> x IN ('the','a','data','row'))) AS DOUBLE)
        |          / len(toks) < 0.3 THEN 1 ELSE 0 END) +
        |      (CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS quality
        |  FROM (SELECT doc_id, lang, n_chars,
        |          list_filter(string_split(text, ' '), x -> x != '') AS toks
        |        FROM documents)),
        |losers AS (
        |  SELECT doc_id FROM (
        |    SELECT cl.doc_id,
        |      ROW_NUMBER() OVER (PARTITION BY cl.cluster
        |        ORDER BY q.quality DESC, cl.doc_id) AS rn
        |    FROM cl JOIN q USING (doc_id)) z WHERE rn > 1)
        |SELECT doc_id, lang, quality FROM q
        |WHERE doc_id NOT IN (SELECT doc_id FROM losers)
        |ORDER BY doc_id""".stripMargin,
    "d42_ngram_novelty" ->
      """WITH t0 AS (
        |  SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> x != '') AS w
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    unnest(list_distinct(list_transform(range(0, len(w)-3),
        |      i -> array_to_string(w[i+1:i+4], ' ')))) AS g
        |  FROM t0 WHERE len(w) >= 4),
        |df AS (SELECT g, COUNT(*) AS df FROM sh GROUP BY g)
        |SELECT sh.doc_id, COUNT(*) AS n_grams,
        |  COUNT(*) FILTER (WHERE df.df = 1) AS n_novel,
        |  CAST(COUNT(*) FILTER (WHERE df.df = 1) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) AS novelty
        |FROM sh JOIN df USING (g)
        |GROUP BY sh.doc_id ORDER BY sh.doc_id""".stripMargin,
    "d40_leakage_safe_split" ->
      """WITH a AS (
        |  SELECT doc_id, text,
        |    CAST(len(list_filter(string_split(text, ' '), x -> x != ''))
        |         AS BIGINT) AS ws,
        |    MIN(doc_id) OVER (PARTITION BY text) AS keeper
        |  FROM documents),
        |asg AS (
        |  SELECT doc_id, text, ws,
        |    CASE WHEN keeper % 10 < 8 THEN 'train'
        |         WHEN keeper % 10 = 8 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM a),
        |lk AS (
        |  SELECT COUNT(*) FILTER (WHERE ns > 1) AS leaked_texts FROM (
        |    SELECT text, COUNT(DISTINCT split) AS ns FROM asg GROUP BY text))
        |SELECT split, COUNT(*) AS n_docs,
        |  COUNT(DISTINCT text) AS n_clusters,
        |  CAST(SUM(ws) AS BIGINT) AS ws_tokens, lk.leaked_texts
        |FROM asg CROSS JOIN lk
        |GROUP BY split, lk.leaked_texts ORDER BY split""".stripMargin,
    "d38_tokenizer_fertility" ->
      """WITH t AS (
        |  SELECT lang,
        |    CAST(len(list_filter(string_split(text, ' '), x -> x != ''))
        |         AS BIGINT) AS ws,
        |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'),
        |                     m -> CAST((length(m) + 3) // 4 AS BIGINT))),
        |      (a, b) -> a + b) AS BIGINT) AS bpe,
        |    CAST(length(text) AS BIGINT) AS chars
        |  FROM documents)
        |SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(ws) AS BIGINT) AS ws_tokens,
        |  CAST(SUM(bpe) AS BIGINT) AS bpe_tokens,
        |  CAST(SUM(chars) AS BIGINT) AS n_chars,
        |  CAST(SUM(bpe) AS DOUBLE) / CAST(SUM(ws) AS DOUBLE) AS fertility,
        |  CAST(SUM(chars) AS DOUBLE) / CAST(SUM(bpe) AS DOUBLE)
        |    AS chars_per_token
        |FROM t GROUP BY lang ORDER BY lang""".stripMargin,
    "d39_dataset_card" ->
      """WITH base AS (
        |  SELECT source, lang, text,
        |    CAST(len(list_filter(string_split(text, ' '), x -> x != ''))
        |         AS BIGINT) AS ws,
        |    CAST(length(text) AS BIGINT) AS chars
        |  FROM documents),
        |by_src AS (
        |  SELECT source, COUNT(*) AS n_docs,
        |    COUNT(DISTINCT text) AS n_unique_texts,
        |    COUNT(DISTINCT lang) AS n_langs,
        |    CAST(SUM(ws) AS BIGINT) AS ws_tokens,
        |    CAST(SUM(chars) AS BIGINT) AS n_chars
        |  FROM base GROUP BY source),
        |top AS (
        |  SELECT source, lang AS top_lang, n AS top_lang_docs FROM (
        |    SELECT source, lang, COUNT(*) AS n,
        |      ROW_NUMBER() OVER (PARTITION BY source
        |        ORDER BY COUNT(*) DESC, lang) AS rn
        |    FROM base GROUP BY source, lang) t WHERE rn = 1)
        |SELECT b.source, b.n_docs, b.n_langs, t.top_lang,
        |  CAST(t.top_lang_docs AS DOUBLE) / CAST(b.n_docs AS DOUBLE)
        |    AS top_lang_share,
        |  CAST(b.n_docs - b.n_unique_texts AS DOUBLE)
        |    / CAST(b.n_docs AS DOUBLE) AS dup_share,
        |  b.ws_tokens,
        |  CAST(b.n_chars AS DOUBLE) / CAST(b.n_docs AS DOUBLE) AS mean_chars
        |FROM by_src b JOIN top t ON t.source = b.source
        |ORDER BY b.source""".stripMargin,
    "d37_contamination_score" ->
      """WITH t0 AS (
        |  SELECT doc_id, list_distinct(list_transform(range(0, len(w)-3),
        |    i -> array_to_string(w[i+1:i+4], ' '))) AS sh
        |  FROM (SELECT doc_id,
        |          list_filter(string_split(text, ' '), x -> x != '') AS w
        |        FROM documents)
        |  WHERE len(w) >= 4),
        |s AS (SELECT doc_id, unnest(sh) AS g FROM t0),
        |bench AS (SELECT DISTINCT g FROM s WHERE doc_id % 23 = 7),
        |train AS (SELECT * FROM s WHERE doc_id % 23 <> 7),
        |agg AS (
        |  SELECT doc_id, COUNT(*) AS n_ngrams,
        |    CAST(SUM(CASE WHEN g IN (SELECT g FROM bench)
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated
        |  FROM train GROUP BY 1)
        |SELECT doc_id, n_ngrams, n_contaminated,
        |  CAST(n_contaminated AS DOUBLE) / n_ngrams AS contamination_rate
        |FROM agg ORDER BY doc_id""".stripMargin,
    "d11_contamination" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(0, len(w)-2),
        |      i -> array_to_string(w[i+1:i+3], ' '))) AS sh
        |  FROM (SELECT doc_id,
        |          list_filter(string_split(text, ' '), x -> x != '') AS w
        |        FROM documents)
        |  WHERE len(w) >= 3),
        |s AS (SELECT doc_id, unnest(sh) AS g FROM t),
        |b AS (SELECT g, doc_id AS bench_id FROM s WHERE doc_id % 50 = 0),
        |tr AS (SELECT doc_id, g FROM s WHERE doc_id % 50 <> 0)
        |SELECT tr.doc_id, COUNT(DISTINCT tr.g) AS n_shared_shingles,
        |  MIN(bench_id) AS first_bench_hit
        |FROM tr JOIN b ON tr.g = b.g
        |GROUP BY 1 ORDER BY doc_id""".stripMargin,
    "d25_lm_score" ->
      """WITH w AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split(text, ' '), x -> x != '')) AS token
        |  FROM documents),
        |cf AS (SELECT token, COUNT(*) AS cf FROM w GROUP BY 1)
        |SELECT w.doc_id, COUNT(*) AS n_tokens,
        |  CAST(SUM(cf.cf) AS BIGINT) AS sum_cf,
        |  CAST(CAST(SUM(cf.cf) AS BIGINT) AS DOUBLE) / COUNT(*) AS mean_cf
        |FROM w JOIN cf ON w.token = cf.token
        |GROUP BY w.doc_id ORDER BY doc_id""".stripMargin,
    "d29_containment" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(0, len(w)-2),
        |      i -> array_to_string(w[i+1:i+3], ' '))) AS sh
        |  FROM (SELECT doc_id,
        |          list_filter(string_split(text, ' '), x -> x != '') AS w
        |        FROM documents)
        |  WHERE len(w) >= 3),
        |s AS (SELECT doc_id, unnest(sh) AS g, len(sh) AS sz FROM t),
        |p AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared,
        |    MAX(a.sz) AS sa, MAX(b.sz) AS sb
        |  FROM s a JOIN s b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |dir AS (
        |  SELECT doc_a AS contained, doc_b AS container,
        |    CAST(shared AS BIGINT) AS shared, CAST(sa AS BIGINT)
        |      AS sz_contained,
        |    CAST(shared AS DOUBLE) / sa AS containment FROM p
        |  UNION ALL
        |  SELECT doc_b, doc_a, CAST(shared AS BIGINT), CAST(sb AS BIGINT),
        |    CAST(shared AS DOUBLE) / sb FROM p)
        |SELECT contained, container, shared, sz_contained, containment
        |FROM dir WHERE containment >= 0.8
        |ORDER BY contained, container""".stripMargin,
    "d28_incremental_dedup" ->
      """WITH nw AS (SELECT doc_id, text FROM documents WHERE source = 'src19'),
        |base AS (SELECT text FROM documents WHERE source <> 'src19'),
        |grp AS (SELECT text, MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
        |        FROM nw GROUP BY text)
        |SELECT g.doc_id, g.n_copies FROM grp g
        |WHERE NOT EXISTS (SELECT 1 FROM base b WHERE b.text = g.text)
        |ORDER BY doc_id""".stripMargin,
    "d27_bigram_lm" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS l
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i+1]))
        |      AS bigram,
        |    unnest(list_transform(range(1, len(l)), i -> l[i+1])) AS nxt
        |  FROM t WHERE len(l) >= 2),
        |bf AS (SELECT bigram, COUNT(*) AS bf FROM bg GROUP BY 1),
        |uf AS (SELECT unnest(l) AS token FROM t),
        |uc AS (SELECT token, COUNT(*) AS uf FROM uf GROUP BY 1)
        |SELECT bg.doc_id, COUNT(*) AS n_bigrams,
        |  CAST(SUM(bf.bf) AS BIGINT) AS sum_bf,
        |  CAST(SUM(uc.uf) AS BIGINT) AS sum_uf,
        |  CAST(CAST(SUM(bf.bf) AS BIGINT) * 10 + CAST(SUM(uc.uf) AS BIGINT)
        |       AS DOUBLE) / COUNT(*) AS interp_score
        |FROM bg JOIN bf USING (bigram) JOIN uc ON bg.nxt = uc.token
        |GROUP BY bg.doc_id ORDER BY doc_id""".stripMargin,
    "d26_mixture_rebalance" ->
      """WITH c AS (SELECT lang, COUNT(*) AS lang_count FROM documents GROUP BY 1),
        |m AS (SELECT MIN(lang_count) AS target_count FROM c)
        |SELECT d.doc_id, d.lang, c.lang_count, m.target_count,
        |  (d.doc_id % 1000000 * 2654435761) % 1000000 AS bucket
        |FROM documents d JOIN c USING (lang) CROSS JOIN m
        |WHERE (d.doc_id % 1000000 * 2654435761) % 1000000 * c.lang_count
        |      < m.target_count * 1000000
        |ORDER BY doc_id""".stripMargin,
    "d9_token_count" ->
      """SELECT doc_id,
        |  CAST(len(list_filter(string_split(text, ' '), x -> x != ''))
        |       AS BIGINT) AS ws_tokens,
        |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'),
        |                   m -> CAST((length(m) + 3) // 4 AS BIGINT))),
        |    (a, b) -> a + b) AS BIGINT) AS bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "d1_dedup_exact" ->
      """SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin,
    "d2_dedup_ngram_jaccard" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(0, len(w)-2),
        |      i -> array_to_string(w[i+1:i+3], ' '))) AS sh
        |  FROM (SELECT doc_id,
        |          list_filter(string_split(text, ' '), x -> x != '') AS w
        |        FROM documents)
        |  WHERE len(w) >= 3),
        |s AS (SELECT doc_id, unnest(sh) AS g, len(sh) AS sz FROM t),
        |p AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared,
        |    MAX(a.sz) AS sa, MAX(b.sz) AS sb
        |  FROM s a JOIN s b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b,
        |  CAST(shared AS DOUBLE) / (sa + sb - shared) AS jaccard
        |FROM p WHERE CAST(shared AS DOUBLE) / (sa + sb - shared) >= 0.8
        |ORDER BY doc_a, doc_b""".stripMargin,
    "d3_text_stats" ->
      """WITH t AS (
        |  SELECT doc_id, n_chars,
        |    list_filter(string_split(text, ' '), x -> x != '') AS w
        |  FROM documents),
        |u AS (
        |  SELECT doc_id, n_chars, CAST(len(w) AS BIGINT) AS n_tokens,
        |    CAST(len(list_filter(w, x -> x IN ('the', 'a', 'data', 'row')))
        |         AS BIGINT) AS n_stop
        |  FROM t)
        |SELECT doc_id, n_tokens, n_stop,
        |  CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio,
        |  CAST((CASE WHEN n_tokens BETWEEN 12 AND 80 THEN 1 ELSE 0 END) +
        |       (CASE WHEN CAST(n_stop AS DOUBLE) / n_tokens < 0.3 THEN 1 ELSE 0 END) +
        |       (CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END) AS BIGINT) AS quality
        |FROM u ORDER BY doc_id""".stripMargin,
    "d4_langid" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    CAST(len(list_filter(list_filter(string_split(text, ' '),
        |      x -> x != ''), x -> x IN ('the', 'a'))) AS BIGINT) AS n_en
        |  FROM documents)
        |SELECT doc_id, lang,
        |  CASE WHEN n_en >= 2 THEN 'en' ELSE 'unk' END AS predicted,
        |  (lang = 'en' AND n_en >= 2) AS hit
        |FROM t ORDER BY doc_id""".stripMargin,
    "d5_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, length(text) + 1),
        |                     i -> CAST(unicode(text[i]) AS BIGINT))),
        |    (h, c) -> (h * 31 + c) % 1000000007) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin,
  )
}
