package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.GraftFunctions

/** The composed training-data pipeline (SURVEY.md §2.3/§2.5 put
  * together): exact-dedup → quality gate → fingerprint — the
  * clean-corpus pass an LLM data pipeline runs before tokenization.
  * One query end-to-end so the whole chain is oracle-checked; each
  * stage is also available standalone (d1/d3/d5).
  *
  * Scale shape: dedup is one shuffle on the content key, the quality
  * gate is a pure map, the fingerprint a codegen'd expression — the
  * pipeline adds nothing beyond d1's shuffle.
  */
object Pipeline {

  /** Survivors of exact dedup: the min doc_id per text value, keyed by
    * xxhash64(text) like d1 so no corpus-wide exchange carries (or is
    * keyed on) document text. Unique-hash docs — at a realistic dup
    * rate, almost all of the corpus — pass through with ZERO shuffle
    * (anti join against the small duplicated-hash set, broadcast by
    * AQE); only duplicate-hash docs co-locate by h for the full-text
    * survivor pick. A hash collision lands both texts in the resolve
    * branch where the per-text first-row filter keeps one survivor
    * per DISTINCT text — exact, as the collision-forcing spec proves.
    */
  def dedupKeepFirst(docs: DataFrame): DataFrame =
    dedupKeepFirstHashed(docs, xxhash64(col("text")))

  private[graft] def dedupKeepFirstHashed(
      docs: DataFrame, hash: org.apache.spark.sql.Column): DataFrame = {
    val withH = docs.withColumn("h", hash)
    val dupH = withH.select(col("h"), col("doc_id"))
      .groupBy("h").agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).select("h")
    val uniques = withH.join(dupH, Seq("h"), "left_anti")
    // within the h-partition, rows sorted by (text, doc_id): the first
    // row of each distinct-text run is the min-doc_id survivor
    val w = Window.partitionBy("h").orderBy("text", "doc_id")
    val dupWinners = withH.join(dupH, Seq("h"), "left_semi")
      .withColumn("prev_text", lag("text", 1).over(w))
      .filter(col("prev_text").isNull || col("prev_text") =!= col("text"))
      .drop("prev_text")
    uniques.unionByName(dupWinners).drop("h")
  }

  /** Token/quality annotation (same formula as d3). */
  def annotate(docs: DataFrame): DataFrame =
    docs
      .withColumn("toks", expr("filter(split(text, ' '), x -> x != '')"))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("stop_ratio",
        expr("cast(size(filter(toks, x -> x IN ('the', 'a', 'data', 'row'))) as bigint)")
          .cast("double") / col("n_tokens"))
      .withColumn("quality",
        (when(col("n_tokens").between(12, 80), 1).otherwise(0) +
         when(col("stop_ratio") < 0.3, 1).otherwise(0) +
         when(col("n_chars") >= 200, 1).otherwise(0)).cast("long"))

  // p1: the full pass — dedup, keep quality >= 2, fingerprint.
  def p1CleanCorpus(s: SparkSession, d: String): DataFrame =
    annotate(dedupKeepFirst(Tables.documents(s, d)))
      .filter(col("quality") >= 2)
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("quality"),
              GraftFunctions.rolling_hash(col("text")).as("fingerprint"))
      .orderBy("doc_id")

  // p10: the WEB-CRAWL corpus pass end-to-end (round 17 — d43
  // composed into the cleaning family): strip the crawl envelope
  // (d43) → normalize (d17) → exact dedup keep-first on the
  // NORMALIZED text (d1's rule, one step stronger: case/punctuation
  // variants of one page are one page) → d3's quality gate over the
  // stripped text → d5's fingerprint of the normalized text. p1's
  // exact plan profile (3 shuffles / 2 bhj: the dedup's dup-count
  // agg — map-side partial, tiny reduce — the survivor window over
  // ONLY the duplicated-hash subset, and the oracle orderBy; the
  // dup-set anti/semi joins broadcast), so the pipeline is
  // corpus-linear — the 100 TB web-crawl shape (strip/normalize
  // never widen rows; SCALE_r17 probes the decades).
  def p10WebCorpus(s: SparkSession, d: String): DataFrame = {
    // widen: the 12-regex strip tower is per-row CPU — a single-file
    // landing would run it on ONE core (round 18; identity at scale)
    val stripped = Tables.widen(s, d, "documents", Tables.documents(s, d), Seq("doc_id"))
      .withColumn("html",
        TextOps.crawlEnvelope(col("doc_id"), col("text")))
      .select(col("doc_id"),
        TextOps.htmlStrip(col("html"), 25).as("main_text"))
    // materialize the stripped+normalized corpus ONCE (round 18,
    // guide §1.2/§2.3): dedupKeepFirst fans its input into THREE
    // consumers (dup-hash agg, unique anti join, dup-winner window)
    // and the quality filter inlines its references again — without
    // a barrier the 12-regex strip tower re-runs per consumer (the
    // r18 before-plan shows the tower in three Scan subtrees and ~5×
    // inside the pushed filter condition). localCheckpoint is the
    // repo's standing convention for a multiply-consumed expensive
    // intermediate (d2 prefix plan, e11 adjacency); it is O(corpus)
    // local blocks — the corpus text still never shuffles.
    val normed = stripped.withColumn("text",
      trim(regexp_replace(regexp_replace(lower(col("main_text")),
        lit("[^a-z0-9 ]"), lit("")), lit(" +"), lit(" "))))
      .localCheckpoint()
    annotate(dedupKeepFirst(normed)
        .withColumn("n_chars", length(col("main_text")).cast("long")))
      .filter(col("quality") >= 2)
      .select(col("doc_id"), col("n_tokens"), col("quality"),
        GraftFunctions.rolling_hash(col("text")).as("fingerprint"))
    // corpus-sized output: no presentation sort (g2's rule, r18)
  }

  // p2: the fuller pretrain-data pass — dedup, language gate (d4's
  // marker heuristic), quality gate, BPE-ish token budget (d9's
  // counter; drops fragments and over-long docs), fingerprint. Every
  // stage after the single dedup shuffle is a pure map, so the whole
  // pipeline costs one shuffle end-to-end.
  def p2PretrainCorpus(s: SparkSession, d: String): DataFrame =
    annotate(dedupKeepFirst(Tables.documents(s, d)))
      .withColumn("n_en",
        expr("cast(size(filter(toks, x -> x IN ('the', 'a'))) as bigint)"))
      .filter(col("n_en") >= 2) // predicted 'en' (d4)
      .filter(col("quality") >= 2)
      .withColumn("bpe_tokens", expr(
        "aggregate(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]', 0), " +
          "0L, (acc, m) -> acc + (length(m) + 3) div 4)"))
      .filter(col("bpe_tokens").between(20, 90)) // token budget
      .select(col("doc_id"), col("n_tokens"), col("bpe_tokens"), col("quality"),
              GraftFunctions.rolling_hash(col("text")).as("fingerprint"))
      .orderBy("doc_id")

  // p3: near-dup REMOVAL end-to-end — the fuzzy-dedup pass (pairs →
  // clusters → keep the canonical min-doc_id member) applied to the
  // corpus: d18's cluster labels decide, non-canonical members drop
  // via an anti join (broadcastable: the drop set is |near-dup docs| -
  // |clusters|, tiny relative to the corpus). p1/p2 remove EXACT
  // dups; this removes the near-dups they can't see.
  def p3NeardupCorpus(s: SparkSession, d: String): DataFrame = {
    val drop = TextOps.d18DupClusters(s, d)
      .filter(col("doc_id") =!= col("cluster")).select("doc_id")
    Tables.documents(s, d)
      .join(drop, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy("doc_id")
  }

  // p4: the INCREMENTAL corpus pass — what p1 looks like once the
  // corpus already exists and only a new batch arrives: d28's
  // incremental dedup admits genuinely-new texts (O(batch): the base
  // is probed through its hash index, never re-shuffled), then the
  // quality gate and fingerprint run map-only on the admitted
  // survivors. The semi join back to the batch is doc_id-keyed
  // (16-byte rows; the survivor id set is ≤ the batch). This is the
  // daily-crawl shape: p1 is the one-time backfill, p4 is every day
  // after.
  def p4IncrementalCorpus(s: SparkSession, d: String): DataFrame = {
    val nw = Tables.documents(s, d).filter(col("source") === "src19")
    val surv = TextOps.d28IncrementalDedupQ(s, d).select("doc_id")
    annotate(nw.join(surv, Seq("doc_id"), "left_semi"))
      .filter(col("quality") >= 2)
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("quality"),
              GraftFunctions.rolling_hash(col("text")).as("fingerprint"))
      .orderBy("doc_id")
  }

  // p5: ENSEMBLE quality gate — the three independent quality signals
  // a curation pipeline actually combines (heuristic stats ≡ d3,
  // corpus-LM frequency ≡ d25, trained linear classifier ≡ d31)
  // voted into one verdict, computed in ONE token pass: the exploded
  // tokens join the corpus-frequency table (token-keyed) AND the
  // broadcast classifier weights in the same flow, then collapse to
  // one row per doc. The LM threshold is RELATIVE in exact integers —
  // keep iff sum_cf·V ≥ n_tokens·W (doc's mean token frequency ≥ the
  // corpus's mean frequency per type, W/V) — no float division ever
  // compares (at 100 TB the cross-multiply moves to decimal(38,0),
  // same plan). Verdict: heuristic quality ≥ 2 AND the LM vote AND
  // classifier score_sum > 0.
  def p5QualityEnsemble(s: SparkSession, d: String): DataFrame = {
    val A = 2654435761L; val M = 1000003L; val B = 512
    val weights = s.range(B).select(col("id").as("b"),
      (pmod(col("id") * A, lit(M)) - lit(M / 2)).as("w"))
    val toks = Tables.documents(s, d)
      .withColumn("toks", expr("filter(split(text, ' '), x -> x != '')"))
      .select(col("doc_id"), explode(col("toks")).as("token"))
    val cf = toks.groupBy("token").agg(count(lit(1)).as("cf"))
    val tot = cf.agg(sum(col("cf")).as("w_total"),
      count(lit(1)).as("v_total"))
    val sig = toks
      .withColumn("b",
        pmod(GraftFunctions.rolling_hash(col("token")), lit(B.toLong)))
      .join(broadcast(weights), "b")
      .join(cf, "token")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("cf")).as("sum_cf"),
        sum(col("w")).as("score_sum"))
    val heur = annotate(Tables.documents(s, d))
      .select(col("doc_id"), col("quality"))
    sig.join(heur, Seq("doc_id")).crossJoin(broadcast(tot))
      .select(col("doc_id"), col("quality"), col("n_tokens"),
        col("sum_cf"), col("score_sum"),
        (col("quality") >= 2 &&
          col("sum_cf") * col("v_total") >= col("n_tokens") * col("w_total") &&
          col("score_sum") > 0).as("keep"))
      .orderBy("doc_id")
  }

  // p6: the composed MULTIMODAL pipeline — the m-family end-to-end,
  // the blob-side twin of p1: blob ingest → m7 CDC chunk manifest →
  // m5-style dedup at CHUNK granularity (keeper = first
  // (doc_id, chunk_idx) per chunk digest; per-doc owned-bytes is the
  // post-dedup storage bill) → m8 perceptual near-dup gate (a doc
  // with a lower-id ham≤2 neighbor is dropped — its chunks stay
  // countable, its row doesn't survive) → m1 stub-decode metadata on
  // the survivors. One exchange per stage: the chunk pass is
  // map-only codegen (GearChunks), dedup is ONE digest-keyed window
  // (32-byte keys — m5's rule), the per-doc rollup is one
  // doc_id-keyed aggregate, the gate is an anti join against the
  // answer-sized near-dup set, and the metadata is a pure map.
  // Fully ORACLED: every stage is the integer arithmetic its
  // standalone oracle already replays (m7 + m5 + m8 + m1 composed in
  // one DuckDB query).
  def p6MediaCorpus(s: SparkSession, d: String): DataFrame = {
    val bin = Tables.documents(s, d)
      .select(col("doc_id"), col("text").cast("binary").as("blob"))
    val chunks = Similarity.cdcChunks(bin) // doc_id, chunk_idx, off, len, sha
    val w = Window.partitionBy("sha")
    val owned = chunks
      .withColumn("keeper",
        min(struct(col("doc_id"), col("chunk_idx"))).over(w))
      .select(col("doc_id"), col("len"),
        (col("keeper.doc_id") === col("doc_id") &&
          col("keeper.chunk_idx") === col("chunk_idx")).as("owns"))
    val perDoc = owned.groupBy("doc_id").agg(
      count(lit(1)).as("n_chunks"),
      sum(when(col("owns"), 1L).otherwise(0L)).as("owned_chunks"),
      sum(col("len")).as("n_bytes"),
      sum(when(col("owns"), col("len")).otherwise(0L)).as("owned_bytes"))
    val nearDup = Similarity.m8PhashNeardup(s, d)
      .select(col("doc_b").as("doc_id")).distinct()
    perDoc.join(nearDup, Seq("doc_id"), "left_anti")
      .select(col("doc_id"),
        (col("n_bytes") % 64 + 16).as("width"),   // m1's stub decode
        (col("n_bytes") % 48 + 12).as("height"),
        col("n_chunks"), col("owned_chunks"),
        col("n_bytes"), col("owned_bytes"))
    // corpus-sized output: no presentation sort (g2's rule, r18)
  }

  // p7: the composed LAKEHOUSE corpus pipeline — the round-10 table
  // layer end-to-end, the way a production corpus actually lives:
  //   1. three idempotent-tagged APPEND commits land the documents
  //      (a checkpoint-replayed batch would no-op — s15's rule);
  //   2. a CHECK constraint arrives mid-stream (metadata-only commit,
  //      row-neutral for every feed) and gates the later appends;
  //   3. a copy-on-write DELETE takes down a doc_id slice (the GDPR/
  //      opt-out pass), touching only the files that hold it;
  //   4. a copy-on-write UPDATE re-tags a language slice;
  //   5. the final SNAPSHOT (resolved from the log, never a listing)
  //      flows into the p1 exact-dedup and a per-lang rollup.
  // Every stage is a commit the log can audit/time-travel; the final
  // aggregate hash-matches DuckDB replaying the same algebra straight
  // off the parquet — a leaked delete, a lost update, a double-landed
  // batch or a wrong snapshot cannot pass.
  private val lake = scala.collection.concurrent.TrieMap.empty[String, graft.sources.GraftTable]

  /** The p7 lifecycle build, SINGLE-WINNER under a lock: two threads
    * (or two sessions of one JVM) racing the cache must never each
    * run the DML sequence — one builds, the rest reuse. After the
    * final commit the build ASSERTS its own algebra (r10's one driver
    * hash mismatch never reproduced locally; these requires turn any
    * recurrence from a silent wrong answer into a loud, attributed
    * error): the metadata-only row count must equal |docs| − |%13==5
    * slice| (a leaked delete or double-landed batch cannot pass) and
    * the re-tagged language slice must count |%17==3 ∧ %13≠5| (a lost
    * update cannot pass). The table root + per-version history go to
    * stderr so a divergent driver run leaves evidence.
    */
  private def p7Build(s: SparkSession, d: String): graft.sources.GraftTable = {
    val root = java.nio.file.Files
      .createTempDirectory("graft_p7").toString + "/docs"
    val docs = Tables.documents(s, d)
      .select("doc_id", "text", "lang", "n_chars")
    val t0 = graft.sources.GraftTable.forPath(s, root)
    t0.appendIdempotent(docs.filter(col("doc_id") % 3 === 0), "b0") // v1
    t0.addConstraint("has_text", "n_chars >= 0")                    // v2
    t0.appendIdempotent(docs.filter(col("doc_id") % 3 === 1), "b1") // v3
    t0.appendIdempotent(docs.filter(col("doc_id") % 3 === 2), "b2") // v4
    t0.appendIdempotent(docs.filter(col("doc_id") % 3 === 2), "b2") // replay: no-op
    t0.deleteWhere(pmod(col("doc_id"), lit(13)) === 5)              // v5
    t0.update(pmod(col("doc_id"), lit(17)) === 3,
      Map("lang" -> lit("xx")))                                     // v6
    // self-audit: one aggregate over the source gives every expected
    // count; failures name the table root so the run is attributable
    val exp = docs.agg(
      count(lit(1)).as("n"),
      sum(when(pmod(col("doc_id"), lit(13)) === 5, 1L).otherwise(0L)),
      sum(when(pmod(col("doc_id"), lit(17)) === 3 &&
               pmod(col("doc_id"), lit(13)) =!= 5, 1L).otherwise(0L))
    ).head()
    val (nDocs, nDel, nXx) = (exp.getLong(0), exp.getLong(1), exp.getLong(2))
    val live = t0.countRows()
    require(live.contains(nDocs - nDel),
      s"p7 lifecycle drift at $root: metadata row count $live after " +
        s"delete+update, expected ${nDocs - nDel} (= $nDocs docs − " +
        s"$nDel deleted); history:\n" +
        t0.history().collect().mkString("\n"))
    val gotXx = t0.read().filter(col("lang") === "xx").count()
    require(gotXx == nXx,
      s"p7 lifecycle drift at $root: ${gotXx} rows re-tagged 'xx', " +
        s"expected $nXx; history:\n" + t0.history().collect().mkString("\n"))
    System.err.println(s"[graft p7] built $root: v${t0.latestVersion}, " +
      s"rows=${live.get}, xx=$gotXx (expected ${nDocs - nDel}/$nXx)")
    t0
  }

  def p7LakehouseCorpus(s: SparkSession, d: String): DataFrame = {
    val key = s.sparkContext.applicationId + "|" + d
    val t = lake.synchronized { lake.getOrElseUpdate(key, p7Build(s, d)) }
    dedupKeepFirst(t.read())
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").as("total_chars"),
        min("doc_id").as("first_doc"))
      .orderBy("lang")
  }

  // p8: the RAG INGESTION pipeline — what a retrieval stack runs
  // before embedding: d13's strided chunking (24-token stride,
  // 32-token window) → EXACT CHUNK DEDUP (m5's digest rule at chunk
  // grain: survivor = min (doc_id, chunk_idx) per distinct chunk
  // text, keyed on the 32-byte sha so the corpus-wide exchange never
  // carries chunk text and a hash collision cannot fuse two distinct
  // chunks) → per-chunk serving metadata: owner doc's language, the
  // chunk token count, and the rolling-hash fingerprint that keys
  // the embedding cache (re-embedding only NEW chunks is the whole
  // economics of incremental RAG ingestion). One window exchange at
  // chunk grain + one doc_id-keyed join; oracled end-to-end.
  def p8RagCorpus(s: SparkSession, d: String): DataFrame = {
    val chunks = TextOps.d13ChunkTokens(s, d)
    val w = Window.partitionBy("sha")
    val owned = chunks
      .withColumn("sha", sha2(col("chunk_text"), 256))
      .withColumn("keeper",
        min(struct(col("doc_id"), col("chunk_idx"))).over(w))
      .filter(col("keeper.doc_id") === col("doc_id") &&
        col("keeper.chunk_idx") === col("chunk_idx"))
    owned
      .join(Tables.documents(s, d).select(col("doc_id"), col("lang")),
        Seq("doc_id"))
      .select(col("doc_id"), col("chunk_idx"), col("n_chunk_tokens"),
        col("lang"),
        GraftFunctions.rolling_hash(col("chunk_text")).as("embed_key"))
      .orderBy("doc_id", "chunk_idx")
  }

  // p9: GOVERNED RELEASE — the pre-publication pass a dataset
  // release runs end-to-end, composing the round's governance
  // operators: exact dedup (d1's min-doc_id keeper rule), benchmark
  // DECONTAMINATION (any survivor sharing a 4-gram shingle with the
  // held-out slice is dropped, and the held-out slice itself never
  // ships — d11/d37's rule), leakage-safe SPLIT assignment (d40's
  // discipline; survivors ARE cluster keepers, so assignment is
  // direct arithmetic on doc_id), and the per-split release card.
  // Cost shape: one hash-keyed dedup exchange, one shingle pass with
  // the benchmark side broadcast (map-only probe at scale), then
  // answer-sized aggregates — the corpus crosses exactly two
  // exchanges end-to-end.
  def p9ReleaseCorpus(s: SparkSession, d: String): DataFrame = {
    val kept = dedupKeepFirst(Tables.documents(s, d))
      .withColumn("toks", expr("filter(split(text, ' '), x -> x != '')"))
    val sh = kept.filter(size(col("toks")) >= 4)
      .withColumn("g",
        explode(GraftFunctions.shingle_hashes(col("toks"), 4)))
      .select("doc_id", "g")
    val bench = sh.filter(pmod(col("doc_id"), lit(23)) === 7)
      .select("g").distinct()
    val contaminated = sh.filter(pmod(col("doc_id"), lit(23)) =!= 7)
      .join(broadcast(bench), Seq("g"), "left_semi")
      .select("doc_id").distinct()
    kept.filter(pmod(col("doc_id"), lit(23)) =!= 7)
      .join(contaminated, Seq("doc_id"), "left_anti")
      .withColumn("ws", size(col("toks")).cast("long"))
      .withColumn("split",
        when(pmod(col("doc_id"), lit(10)) < 8, "train")
          .when(pmod(col("doc_id"), lit(10)) === 8, "val")
          .otherwise("test"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"), sum("ws").as("ws_tokens"))
      .orderBy("split")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p9_release_corpus" -> (p9ReleaseCorpus _),
    "p8_rag_corpus" -> (p8RagCorpus _),
    "p7_lakehouse_corpus" -> (p7LakehouseCorpus _),
    "p6_media_corpus" -> (p6MediaCorpus _),
    "p1_clean_corpus" -> (p1CleanCorpus _),
    "p10_web_corpus" -> (p10WebCorpus _),
    "p2_pretrain_corpus" -> (p2PretrainCorpus _),
    "p3_neardup_corpus" -> (p3NeardupCorpus _),
    "p4_incremental_corpus" -> (p4IncrementalCorpus _),
    "p5_quality_ensemble" -> (p5QualityEnsemble _),
  )

  val oracles: Map[String, String] = Map(
    // d13's chunk algebra + first-(doc,idx)-per-distinct-chunk dedup
    // + lang join + the rolling-hash fingerprint, composed
    "p9_release_corpus" ->
      """WITH k AS (
        |  SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY text),
        |kd AS (
        |  SELECT d.doc_id, d.text,
        |    list_filter(string_split(d.text, ' '), x -> x != '') AS w
        |  FROM documents d JOIN k USING (doc_id)),
        |sh AS (
        |  SELECT doc_id,
        |    unnest(list_distinct(list_transform(range(0, len(w)-3),
        |      i -> array_to_string(w[i+1:i+4], ' ')))) AS g
        |  FROM kd WHERE len(w) >= 4),
        |bench AS (SELECT DISTINCT g FROM sh WHERE doc_id % 23 = 7),
        |cont AS (
        |  SELECT DISTINCT doc_id FROM sh
        |  WHERE doc_id % 23 <> 7 AND g IN (SELECT g FROM bench)),
        |rel AS (
        |  SELECT doc_id, CAST(len(w) AS BIGINT) AS ws,
        |    CASE WHEN doc_id % 10 < 8 THEN 'train'
        |         WHEN doc_id % 10 = 8 THEN 'val' ELSE 'test' END AS split
        |  FROM kd
        |  WHERE doc_id % 23 <> 7
        |    AND doc_id NOT IN (SELECT doc_id FROM cont))
        |SELECT split, COUNT(*) AS n_docs,
        |  CAST(SUM(ws) AS BIGINT) AS ws_tokens
        |FROM rel GROUP BY split ORDER BY split""".stripMargin,
    "p8_rag_corpus" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS w
        |  FROM documents),
        |ch AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
        |    array_to_string(w[24*i+1 : 24*i+32], ' ') AS chunk_text,
        |    CAST(len(w[24*i+1 : 24*i+32]) AS BIGINT) AS n_chunk_tokens
        |  FROM t, unnest(range(0, (len(w)-1)//24 + 1)) AS u(i)
        |  WHERE len(w) >= 1),
        |own AS (
        |  SELECT * FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY chunk_text
        |      ORDER BY doc_id, chunk_idx) AS rn
        |    FROM ch) z WHERE rn = 1)
        |SELECT o.doc_id, o.chunk_idx, o.n_chunk_tokens, dd.lang,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, length(o.chunk_text) + 1),
        |                     i -> CAST(unicode(o.chunk_text[i]) AS BIGINT))),
        |    (h, c) -> (h * 31 + c) % 1000000007) AS embed_key
        |FROM own o JOIN documents dd ON dd.doc_id = o.doc_id
        |ORDER BY o.doc_id, o.chunk_idx""".stripMargin,
    // the lakehouse lifecycle replayed as plain algebra: delete slice
    // removed, update slice re-tagged, exact dedup keeps the min
    // doc_id per distinct text, per-lang rollup
    "p7_lakehouse_corpus" ->
      """WITH corpus AS (
        |  SELECT doc_id, text,
        |    CASE WHEN doc_id % 17 = 3 THEN 'xx' ELSE lang END AS lang,
        |    n_chars
        |  FROM documents WHERE doc_id % 13 <> 5),
        |keep AS (
        |  SELECT * FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY text
        |      ORDER BY doc_id) AS rn
        |    FROM corpus) WHERE rn = 1)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  min(doc_id) AS first_doc
        |FROM keep GROUP BY lang ORDER BY lang""".stripMargin,
    // m7's chunk replay + m5's keeper rule at chunk grain + m8's
    // brute Hamming gate + m1's stub arithmetic, composed
    "p6_media_corpus" ->
      """WITH b AS (
        |  SELECT doc_id, text, length(text) AS n FROM documents
        |  WHERE length(text) > 0),
        |ends AS (
        |  SELECT doc_id, text, unnest(list_distinct(list_append(
        |    list_filter(range(2, n + 1), i ->
        |      (((unicode(text[i-1:i-1]) * 256 + unicode(text[i:i]) + 1)
        |        * 2654435761) % 2147483648) < 33554432), n))) AS e
        |  FROM b),
        |ch AS (
        |  SELECT doc_id, e,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY e) AS chunk_idx,
        |    COALESCE(LAG(e) OVER (PARTITION BY doc_id ORDER BY e), 0) AS pe,
        |    text
        |  FROM ends),
        |h AS (
        |  SELECT doc_id, chunk_idx, CAST(e - pe AS BIGINT) AS len,
        |    sha256(text[pe+1:e]) AS sha
        |  FROM ch),
        |own AS (
        |  SELECT doc_id, len,
        |    ROW_NUMBER() OVER (PARTITION BY sha ORDER BY doc_id, chunk_idx)
        |      = 1 AS owns
        |  FROM h),
        |perdoc AS (
        |  SELECT doc_id, COUNT(*) AS n_chunks,
        |    CAST(SUM(CASE WHEN owns THEN 1 ELSE 0 END) AS BIGINT)
        |      AS owned_chunks,
        |    CAST(SUM(len) AS BIGINT) AS n_bytes,
        |    CAST(SUM(CASE WHEN owns THEN len ELSE 0 END) AS BIGINT)
        |      AS owned_bytes
        |  FROM own GROUP BY doc_id),
        |cfg AS (
        |  SELECT LEAST(60, GREATEST(16, 4 * (CASE WHEN t <= 1 THEN 0
        |    ELSE length(bin(t - 1)) END))) AS bits
        |  FROM (SELECT (count(*) + 63) // 64 AS t FROM documents)),
        |ph AS (
        |  SELECT doc_id, CAST(list_sum(list_transform(range(0, bits), i ->
        |    CASE WHEN
        |      unicode(text[LEAST(1 + i * GREATEST(1, length(text) // (bits + 1)),
        |                         length(text))
        |               :LEAST(1 + i * GREATEST(1, length(text) // (bits + 1)),
        |                         length(text))])
        |      <
        |      unicode(text[LEAST(1 + (i + 1) * GREATEST(1, length(text) // (bits + 1)),
        |                         length(text))
        |               :LEAST(1 + (i + 1) * GREATEST(1, length(text) // (bits + 1)),
        |                         length(text))])
        |    THEN (CAST(1 AS BIGINT) << CAST(i AS INT)) ELSE 0 END))
        |    AS BIGINT) AS phash
        |  FROM documents, cfg),
        |nd AS (
        |  SELECT DISTINCT b.doc_id
        |  FROM ph a JOIN ph b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.phash, b.phash)) <= 2)
        |SELECT doc_id, n_bytes % 64 + 16 AS width, n_bytes % 48 + 12 AS height,
        |  n_chunks, owned_chunks, n_bytes, owned_bytes
        |FROM perdoc WHERE doc_id NOT IN (SELECT doc_id FROM nd)
        |ORDER BY doc_id""".stripMargin,
    "p5_quality_ensemble" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split(text, ' '), x -> x != '')) AS token
        |  FROM documents),
        |cf AS (SELECT token, COUNT(*) AS cf FROM t GROUP BY token),
        |tot AS (SELECT CAST(SUM(cf) AS BIGINT) AS w_total,
        |               COUNT(*) AS v_total FROM cf),
        |h AS (
        |  SELECT doc_id, token,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |        list_transform(range(1, length(token) + 1),
        |                       i -> CAST(unicode(token[i]) AS BIGINT))),
        |      (h, c) -> (h * 31 + c) % 1000000007) % 512 AS b
        |  FROM t),
        |w AS (SELECT b, (b * 2654435761) % 1000003 - 500001 AS w
        |      FROM (SELECT unnest(range(0, 512)) AS b)),
        |sig AS (
        |  SELECT h.doc_id, COUNT(*) AS n_tokens,
        |    CAST(SUM(cf.cf) AS BIGINT) AS sum_cf,
        |    CAST(SUM(w.w) AS BIGINT) AS score_sum
        |  FROM h JOIN w ON h.b = w.b JOIN cf ON h.token = cf.token
        |  GROUP BY h.doc_id),
        |hq AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN len(toks) BETWEEN 12 AND 80 THEN 1 ELSE 0 END +
        |      CASE WHEN CAST(len(list_filter(toks,
        |          x -> x IN ('the','a','data','row'))) AS DOUBLE)
        |          / len(toks) < 0.3 THEN 1 ELSE 0 END +
        |      CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END AS BIGINT) AS quality
        |  FROM (SELECT doc_id, n_chars,
        |          list_filter(string_split(text, ' '), x -> x != '') AS toks
        |        FROM documents))
        |SELECT sig.doc_id, hq.quality, sig.n_tokens, sig.sum_cf,
        |  sig.score_sum,
        |  (hq.quality >= 2
        |    AND sig.sum_cf * tot.v_total >= sig.n_tokens * tot.w_total
        |    AND sig.score_sum > 0) AS keep
        |FROM sig JOIN hq USING (doc_id) CROSS JOIN tot
        |ORDER BY doc_id""".stripMargin,
    "p3_neardup_corpus" ->
      s"""WITH RECURSIVE ${TextOps.D2PairsCte},
         |cl AS (
         |  SELECT x AS doc_id, LEAST(x, MIN(y)) AS cluster
         |  FROM reach GROUP BY x)
         |SELECT doc_id, lang, source FROM documents
         |WHERE doc_id NOT IN (SELECT doc_id FROM cl WHERE doc_id <> cluster)
         |ORDER BY doc_id""".stripMargin,
    "p2_pretrain_corpus" ->
      """WITH kept AS (
        |  SELECT * FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        |    FROM documents) t WHERE rn = 1),
        |ann AS (
        |  SELECT doc_id, text, n_chars,
        |    CAST(len(list_filter(string_split(text, ' '), x -> x != ''))
        |         AS BIGINT) AS n_tokens,
        |    CAST(len(list_filter(list_filter(string_split(text, ' '),
        |           x -> x != ''), x -> x IN ('the', 'a', 'data', 'row')))
        |         AS BIGINT) AS n_stop,
        |    CAST(len(list_filter(list_filter(string_split(text, ' '),
        |           x -> x != ''), x -> x IN ('the', 'a')))
        |         AS BIGINT) AS n_en,
        |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'),
        |                     m -> CAST((length(m) + 3) // 4 AS BIGINT))),
        |      (a, b) -> a + b) AS BIGINT) AS bpe_tokens
        |  FROM kept),
        |scored AS (
        |  SELECT doc_id, text, n_tokens, n_en, bpe_tokens,
        |    CAST((CASE WHEN n_tokens BETWEEN 12 AND 80 THEN 1 ELSE 0 END) +
        |         (CASE WHEN CAST(n_stop AS DOUBLE) / n_tokens < 0.3
        |               THEN 1 ELSE 0 END) +
        |         (CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS quality
        |  FROM ann)
        |SELECT doc_id, n_tokens, bpe_tokens, quality,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, length(text) + 1),
        |                     i -> CAST(unicode(text[i]) AS BIGINT))),
        |    (h, c) -> (h * 31 + c) % 1000000007) AS fingerprint
        |FROM scored
        |WHERE n_en >= 2 AND quality >= 2 AND bpe_tokens BETWEEN 20 AND 90
        |ORDER BY doc_id""".stripMargin,
    "p4_incremental_corpus" ->
      """WITH nw AS (
        |  SELECT * FROM documents WHERE source = 'src19'),
        |surv AS (
        |  SELECT MIN(doc_id) AS doc_id FROM nw
        |  WHERE text NOT IN (SELECT text FROM documents WHERE source <> 'src19')
        |  GROUP BY text),
        |ann AS (
        |  SELECT n.doc_id, n.lang, n.text, n.n_chars,
        |    CAST(len(list_filter(string_split(n.text, ' '), x -> x != ''))
        |         AS BIGINT) AS n_tokens,
        |    CAST(len(list_filter(list_filter(string_split(n.text, ' '),
        |           x -> x != ''), x -> x IN ('the', 'a', 'data', 'row')))
        |         AS BIGINT) AS n_stop
        |  FROM nw n JOIN surv USING (doc_id)),
        |scored AS (
        |  SELECT doc_id, lang, text, n_tokens,
        |    CAST((CASE WHEN n_tokens BETWEEN 12 AND 80 THEN 1 ELSE 0 END) +
        |         (CASE WHEN CAST(n_stop AS DOUBLE) / n_tokens < 0.3
        |               THEN 1 ELSE 0 END) +
        |         (CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS quality
        |  FROM ann)
        |SELECT doc_id, lang, n_tokens, quality,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, length(text) + 1),
        |                     i -> CAST(unicode(text[i]) AS BIGINT))),
        |    (h, c) -> (h * 31 + c) % 1000000007) AS fingerprint
        |FROM scored WHERE quality >= 2 ORDER BY doc_id""".stripMargin,
    // d43's strip chain + d17's normalization + p1's dedup/gate/
    // fingerprint algebra, composed end-to-end
    "p10_web_corpus" ->
      ("WITH " + TextOps.D43StripCte + ",\n" +
        """n AS (
          |  SELECT doc_id, main_text,
          |    trim(regexp_replace(regexp_replace(lower(main_text),
          |      '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS text
          |  FROM s5),
          |kept AS (
          |  SELECT * FROM (
          |    SELECT *, ROW_NUMBER() OVER (PARTITION BY text
          |      ORDER BY doc_id) AS rn
          |    FROM n) t WHERE rn = 1),
          |ann AS (
          |  SELECT doc_id, text, length(main_text) AS n_chars,
          |    CAST(len(list_filter(string_split(text, ' '), x -> x != ''))
          |         AS BIGINT) AS n_tokens,
          |    CAST(len(list_filter(list_filter(string_split(text, ' '),
          |           x -> x != ''), x -> x IN ('the', 'a', 'data', 'row')))
          |         AS BIGINT) AS n_stop
          |  FROM kept),
          |scored AS (
          |  SELECT doc_id, text, n_tokens,
          |    CAST((CASE WHEN n_tokens BETWEEN 12 AND 80 THEN 1 ELSE 0 END) +
          |         (CASE WHEN CAST(n_stop AS DOUBLE) / n_tokens < 0.3
          |               THEN 1 ELSE 0 END) +
          |         (CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END) AS BIGINT)
          |      AS quality
          |  FROM ann)
          |SELECT doc_id, n_tokens, quality,
          |  list_reduce(
          |    list_prepend(CAST(0 AS BIGINT),
          |      list_transform(range(1, length(text) + 1),
          |                     i -> CAST(unicode(text[i]) AS BIGINT))),
          |    (h, c) -> (h * 31 + c) % 1000000007) AS fingerprint
          |FROM scored WHERE quality >= 2 ORDER BY doc_id""".stripMargin),
    "p1_clean_corpus" ->
      """WITH kept AS (
        |  SELECT * FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        |    FROM documents) t WHERE rn = 1),
        |ann AS (
        |  SELECT doc_id, lang, text, n_chars,
        |    CAST(len(list_filter(string_split(text, ' '), x -> x != ''))
        |         AS BIGINT) AS n_tokens,
        |    CAST(len(list_filter(list_filter(string_split(text, ' '),
        |           x -> x != ''), x -> x IN ('the', 'a', 'data', 'row')))
        |         AS BIGINT) AS n_stop
        |  FROM kept),
        |scored AS (
        |  SELECT doc_id, lang, text, n_tokens,
        |    CAST((CASE WHEN n_tokens BETWEEN 12 AND 80 THEN 1 ELSE 0 END) +
        |         (CASE WHEN CAST(n_stop AS DOUBLE) / n_tokens < 0.3
        |               THEN 1 ELSE 0 END) +
        |         (CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS quality
        |  FROM ann)
        |SELECT doc_id, lang, n_tokens, quality,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, length(text) + 1),
        |                     i -> CAST(unicode(text[i]) AS BIGINT))),
        |    (h, c) -> (h * 31 + c) % 1000000007) AS fingerprint
        |FROM scored WHERE quality >= 2 ORDER BY doc_id""".stripMargin,
  )
}
