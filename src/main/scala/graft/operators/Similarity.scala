package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._
import graft.{Gate, Tables}
import graft.functions.GraftFunctions

/** Similarity search + multimodal plumbing (SURVEY.md §2.4/§2.8).
  *
  * The ANN family, cheapest index to most composed: e1 brute force
  * (exactness baseline), e2 hyperplane LSH, e4 trained IVF, e7
  * product quantization (ADC over 9-byte codes), e8 IVF-PQ (both
  * composed — the billion-scale shape), plus e5 sparse/lexical
  * retrieval, e6 MMR diversification over any of their candidate
  * sets, and d24 semantic dedup reusing e4's quantizer. Every
  * approximate path re-ranks with the same exact arithmetic as e1,
  * so approximation lives only in candidate CHOICE (spec'd per
  * operator as a recall floor + bit-equal shared cosines).
  *
  * Oracle-checked paths quantize floats to integers
  * (floor(x·1000) — exact, rounding-mode-free) so every dot product
  * and norm is exact 64-bit arithmetic and the final IEEE divisions
  * are bit-identical across engines. The un-quantized float path is
  * the custom codegen'd `CosineSim` expression (e2, bench).
  */
object Similarity {

  /** embeddings + quantized vector `q` and its squared norm. */
  private[graft] def quantized(s: SparkSession, d: String): DataFrame =
    quantize(Tables.embeddings(s, d))

  /** The fixed-point quantization applied to an arbitrary
    * (vec_id, embedding) frame — ONE definition shared by the corpus
    * path above and s14's streamed query batches, so a streamed query
    * scores bit-identically to the same query asked in batch.
    */
  private[graft] def quantize(df: DataFrame): DataFrame =
    df.withColumn("q", expr(
        "transform(embedding, x -> cast(floor(cast(x as double) * 1000) as bigint))"))
      .withColumn("nrm", expr("aggregate(q, 0L, (acc, v) -> acc + v * v)"))

  /** scored (qid, nid, cosine) → rank-ordered top-k rows per qid via
    * the bounded TopKByScore aggregate. Partial aggregation keeps <= k
    * rows per qid per map partition, so the exchange moves
    * O(partitions · Q · k) — never the scored corpus (the window form
    * it replaces funneled all N·Q rows onto Q reducer partitions).
    */
  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame =
    scored
      .groupBy(col("qid"))
      .agg(GraftFunctions.top_k(col("cosine"), col("nid"), k).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("qid"), col("t.id").as("nid"), col("t.score").as("cosine"),
              (col("pos") + 1).cast("long").as("rnk"))
  // no trailing sort (g2's rule, r18): rnk already carries the rank;
  // e9 feeds the whole CORPUS through this as qid, so the sort was a
  // corpus-grain range exchange purely for presentation

  // e1: brute-force cosine top-k for a query set — the exactness
  // baseline. Queries broadcast; corpus scanned once; O(Q·N) fused
  // higher-order expressions, no explode; final top-k is a mergeable
  // bounded aggregate (no full-corpus shuffle).
  def e1KnnBrute(s: SparkSession, d: String): DataFrame = {
    val emb = quantized(s, d)
    val qs = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("q").as("qq"), col("nrm").as("qn"))
    val scored = emb.select(col("vec_id").as("nid"), col("q"), col("nrm"))
      .crossJoin(broadcast(qs))
      .filter(col("nid") =!= col("qid"))
      .withColumn("dot", GraftFunctions.long_dot(col("q"), col("qq")))
      .withColumn("cosine",
        col("dot").cast("double") /
          (sqrt(col("nrm").cast("double")) * sqrt(col("qn").cast("double"))))
    topKPerQuery(scored, 5)
  }

  // e14: FILTERED vector search — the metadata-predicate k-NN every
  // retrieval stack needs ("nearest neighbors among docs WHERE …"):
  // the predicate applies BEFORE scoring, so it pushes into the
  // parquet scan and only the matching corpus slice is ever scored —
  // cost O(Q·|filter|), never O(Q·N)-then-post-filter (which
  // under-fills k whenever the filter is selective). Exact and
  // oracled; at index scale the same predicate rides the stored IVF
  // cells (e4/e8's layout carries the payload columns, so the cell
  // probe just gains the filter — partition-pruned and pushed).
  def e14FilteredKnn(s: SparkSession, d: String): DataFrame = {
    val emb = quantized(s, d)
    val qs = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("q").as("qq"), col("nrm").as("qn"))
    val scored = emb
      .filter(pmod(col("label"), lit(3)) === 1) // the metadata predicate
      .select(col("vec_id").as("nid"), col("q"), col("nrm"))
      .crossJoin(broadcast(qs))
      .filter(col("nid") =!= col("qid"))
      .withColumn("dot", GraftFunctions.long_dot(col("q"), col("qq")))
      .withColumn("cosine",
        col("dot").cast("double") /
          (sqrt(col("nrm").cast("double")) * sqrt(col("qn").cast("double"))))
    topKPerQuery(scored, 5)
  }

  // e15: HYBRID RETRIEVAL via reciprocal-rank fusion — the standard
  // two-arm serving stack (dense cosine + sparse lexical overlap)
  // fused with RRF: score(q,n) = Σ_arms 1/(60 + rank_arm). Each arm
  // is an existing exact ranking (e1's codegen'd cosine, e5's
  // df-capped shingle overlap) over the SAME bounded query batch, so
  // the whole pipeline is oracled end-to-end — rank algebra included.
  // Scale shape: the query batch broadcasts (it is answer-sized —
  // the online serving case), each arm is one corpus-linear pass,
  // and the fusion is a per-(q,n) two-row aggregate over the two
  // K-bounded rank lists — nothing corpus-sized crosses an exchange
  // after the arms' own bounded top-K aggregates.
  def e15HybridRrf(s: SparkSession, d: String): DataFrame = {
    val armK = 10
    // dense arm (e1's algebra, top-armK)
    val emb = quantized(s, d)
    val qsD = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("q").as("qq"), col("nrm").as("qn"))
    val dense = topKPerQuery(
      emb.select(col("vec_id").as("nid"), col("q"), col("nrm"))
        .crossJoin(broadcast(qsD))
        .filter(col("nid") =!= col("qid"))
        .withColumn("dot", GraftFunctions.long_dot(col("q"), col("qq")))
        .withColumn("cosine",
          col("dot").cast("double") /
            (sqrt(col("nrm").cast("double")) * sqrt(col("qn").cast("double")))),
      armK)
    // sparse arm (e5's algebra, same query ids, top-armK)
    val sh = TextOps.shinglePostings(s, d)
    val n = sh.select(countDistinct(col("doc_id")).as("n"))
    val keep = sh.groupBy("g").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(n))
      .filter(col("df") * 10 <= col("n")).select("g")
    val t = sh.join(keep, Seq("g"), "left_semi")
    val qsS = t.filter(col("doc_id") < 10)
      .select(col("g"), col("doc_id").as("qid"))
    val sparse = t.join(broadcast(qsS), Seq("g"))
      .filter(col("doc_id") =!= col("qid"))
      .groupBy(col("qid"), col("doc_id").as("nid"))
      .agg(count(lit(1)).as("score"))
      .groupBy("qid")
      .agg(GraftFunctions.top_k(col("score").cast("double"), col("nid"),
        armK).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("qid"), col("t.id").as("nid"),
        (col("pos") + 1).cast("long").as("rnk"))
    // RRF fusion over the two bounded rank lists, final top-5
    val fused = dense.select(col("qid"), col("nid"), col("rnk"))
      .unionByName(sparse)
      .groupBy("qid", "nid")
      .agg(sum(lit(1.0) / (lit(60.0) + col("rnk"))).as("rrf"))
    fused.groupBy("qid")
      .agg(GraftFunctions.top_k(col("rrf"), col("nid"), 5).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("qid"), col("t.id").as("nid"), col("t.score").as("rrf"),
        (col("pos") + 1).cast("long").as("rnk"))
      .orderBy("qid", "rnk")
  }

  // e16: two-stage RERANK CASCADE — the production retrieval shape
  // (FAISS/ScaNN's "coarse scorer prunes, exact scorer reranks"):
  // stage 1 scores the WHOLE corpus with an 8-of-64-dim prefix dot —
  // 1/8 of e1's quantization + dot compute (and with a dims-split
  // vector layout, 1/8 of the bytes too; parquet stores the array
  // column whole, so here the win is compute — the ADC/PQ cost
  // model, kept exact so DuckDB can replay it) — and keeps
  // top-C=50 candidates per query via the
  // bounded top_k aggregate (O(partitions·Q·C) exchange, never the
  // scored corpus). Stage 2 computes the full 64-dim cosine ONLY on
  // the C survivors — Q·C rows, answer-scale — and reranks to the
  // final top-5. At 100 TB the cascade is the point: the corpus-wide
  // pass is the cheap one, and the expensive exact scorer never sees
  // more than C rows per query. Hash-exact oracled end-to-end
  // (ROW_NUMBER replay in DuckDB; both stages tie-break by id, the
  // top_k rule).
  def e16RerankCascade(s: SparkSession, d: String): DataFrame = {
    // qp quantizes ONLY the 8-dim slice (transform over slice, not
    // slice of the full-width transform — Catalyst can't rewrite the
    // latter, which would pay e1's full quantization in the corpus
    // pass); bit-identical values either way, 1/8 the stage-1 compute
    val emb = quantized(s, d).withColumn("qp", expr(
      "transform(slice(embedding, 1, 8), " +
        "x -> cast(floor(cast(x as double) * 1000) as bigint))"))
    val qs = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("q").as("qq"),
        col("nrm").as("qn"), col("qp").as("qqp"))
    val C = 50
    // stage 1: prefix dot over the first 8 dims, top-C per query
    val cands = topKPerQuery(
      emb.select(col("vec_id").as("nid"), col("qp"))
        .crossJoin(broadcast(qs.select(col("qid"), col("qqp"))))
        .filter(col("nid") =!= col("qid"))
        .withColumn("cosine",
          GraftFunctions.long_dot(col("qp"), col("qqp")).cast("double")),
      C).select("qid", "nid")
    // stage 2: exact full-width cosine on the survivors only
    val full = cands
      .join(emb.select(col("vec_id").as("nid"), col("q"), col("nrm")), "nid")
      .join(broadcast(qs.select(col("qid"), col("qq"), col("qn"))), "qid")
      .withColumn("dot", GraftFunctions.long_dot(col("q"), col("qq")))
      .withColumn("cosine",
        col("dot").cast("double") /
          (sqrt(col("nrm").cast("double")) * sqrt(col("qn").cast("double"))))
    topKPerQuery(full, 5)
  }

  // e17: REMOVAL REQUESTS against a served vector index — the
  // right-to-be-forgotten path every production retrieval stack
  // needs and most bolt on late: the index is a transactional
  // GraftTable of exact quantized rows (vec_id, q, nrm, cell), a
  // removal batch is ONE stats-pruned copy-on-write deleteWhere
  // commit on it (only the files whose vec_id range may contain
  // removed ids are touched — at 100 TB the delete costs the
  // removal batch's file coverage, never the index), and the very
  // next serving read answers from the post-delete snapshot with no
  // rebuild, no tombstone side-table, no index downtime. Queries
  // here probe ALL cells (exact — the index stores full-width
  // quantized vectors), so DuckDB replays the answer over the
  // surviving corpus bit-exactly: a leaked deleted vector, or one
  // over-deleted neighbor, flips the hash. Production probes
  // nProbe<cells (e4's path on the same layout); correctness of the
  // removal propagation is what this entry pins.
  private val removalIdx = scala.collection.concurrent.TrieMap
    .empty[String, graft.sources.GraftTable]

  def e17IndexRemoval(s: SparkSession, d: String): DataFrame = {
    import graft.sources.GraftTable
    val t = removalIdx.synchronized {
      removalIdx.getOrElseUpdate(s.sparkContext.applicationId + "|" + d, {
        val root = java.nio.file.Files
          .createTempDirectory("graft_e17").toString + "/idx"
        val rows = quantized(s, d)
          .withColumn("cell", pmod(col("vec_id"), lit(8L)))
          .select("vec_id", "q", "nrm", "cell")
          .repartitionByRange(8, col("vec_id")) // vec_id file stats
        val t0 = GraftTable.create(s, root, rows)            // v1
        t0.deleteWhere(pmod(col("vec_id"), lit(9)) === 2)    // v2: removal
        t0
      })
    }
    val emb = quantized(s, d)
    val qs = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("q").as("qq"), col("nrm").as("qn"))
    val scored = t.read()
      .select(col("vec_id").as("nid"), col("q"), col("nrm"))
      .crossJoin(broadcast(qs))
      .filter(col("nid") =!= col("qid"))
      .withColumn("dot", GraftFunctions.long_dot(col("q"), col("qq")))
      .withColumn("cosine",
        col("dot").cast("double") /
          (sqrt(col("nrm").cast("double")) * sqrt(col("qn").cast("double"))))
    topKPerQuery(scored, 5)
  }

  // e2: LSH-bucketed ANN — the 100 TB path: random-hyperplane signs
  // (hash-derived ±1 weights, no RNG state) bucket the corpus; probes
  // touch one bucket instead of N. Uses the codegen'd CosineSim.
  // Rows-only check; recall vs e1 asserted in SimilaritySpec.
  /** embeddings + 4-bit random-hyperplane LSH bucket (hash-derived
    * ±1 weights — deterministic, no RNG state to distribute).
    */
  private def bucketed(s: SparkSession, d: String, bits: Int = 4): DataFrame =
    Tables.embeddings(s, d).withColumn("bucket", bucketExpr(bits))

  /** The `bits`-hyperplane sign bucket of `embedding` — shared by the
    * e2/d8 4-bit paths and e9's adaptive-width path; one expression so
    * the spec can recompute buckets through the identical formula.
    */
  private[graft] def bucketExpr(bits: Int): org.apache.spark.sql.Column = expr(
    s"aggregate(transform(sequence(0, ${bits - 1}), k -> " +
      "if(aggregate(sequence(0, size(embedding) - 1), cast(0.0 as double), " +
      "   (acc, j) -> acc + cast(element_at(embedding, j + 1) as double) * " +
      "               if((xxhash64(j, k) & 1) = 1, 1.0, -1.0)) >= 0.0, 1, 0)), " +
      "0, (acc, b) -> acc * 2 + b)")

  /** e9's bucket width: enough hyperplane bits that the EXPECTED
    * bucket population stays ~64 — bits grows with ln N, so per-node
    * candidate cost ≈ (bits+1)·64 is ~constant and total work linear,
    * instead of the N²·5/2^bits a FIXED width degrades to.
    */
  private[graft] def e9Bits(n: Long): Int =
    math.max(4, 64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, n / 64)))

  /** Bounded-collect driver twin of the blocked kNN pass the e9 graph
    * and e11's adjacency build share (round 18 — the components/
    * k-core/BPE gate pattern). Below the cap the quantized+bucketed
    * nodes collect ONCE (the quantize/bucket expressions still run
    * distributed inside the collecting job — nothing is re-derived on
    * the driver) and the Hamming≤1 candidate walk, the exact LongDot
    * scoring and the (-score, id) top-k run as local parallel math:
    * the same candidate set the bucket equi-join emits (a neighbor's
    * bucket is within one sign-flip of the node's iff it appears in
    * exactly one probe bucket), the same IEEE double cosine
    * (dot / (sqrt(n_nrm) · sqrt(q_nrm)) — multiplication and sqrt are
    * correctly-rounded, so driver ≡ codegen bit-for-bit), and
    * TopKByScore's exact total order via the identical sortBy
    * expression. Above the cap the bucket join runs unchanged — the
    * at-scale path. Cap ≈ 200k rows × (64 quantized longs + norm)
    * ≈ 100 MB of driver rows, the repo's standing ceiling.
    */
  private case class E9Node(id: Long, q: Array[Long], nrm: Long, bucket: Int)

  private def e9NodesLocal(s: SparkSession, gate: String, emb: DataFrame,
                           cap: Int): Option[Array[E9Node]] =
    Gate.collect(s, gate,
        emb.select(col("vec_id"), col("q"), col("nrm"), col("bucket")), cap)
      .map(_.map(r => E9Node(r.getLong(0), r.getSeq[Long](1).toArray,
        r.getLong(2), r.getInt(3))))

  /** Per-node top-`k` under the multi-probe blocking rule, driver
    * side: returns (qid, [(cosine, nid) …]) in node order, each list
    * in TopKByScore's (score desc, id asc) order.
    */
  private def e9DriverTopK(nodes: Array[E9Node], bits: Int, k: Int)
      : Array[(Long, Array[(Double, Long)])] = {
    val byBucket = new java.util.HashMap[Integer, java.util.ArrayList[Integer]]
    var i = 0
    while (i < nodes.length) {
      byBucket.computeIfAbsent(nodes(i).bucket,
        _ => new java.util.ArrayList[Integer]).add(i)
      i += 1
    }
    val out = new Array[(Long, Array[(Double, Long)])](nodes.length)
    java.util.stream.IntStream.range(0, nodes.length).parallel().forEach { qi =>
      val qn = nodes(qi)
      val cands = scala.collection.mutable.ArrayBuffer.empty[(Double, Long)]
      var b = -1
      while (b < bits) {
        val bucket = if (b < 0) qn.bucket else qn.bucket ^ (1 << b)
        val lst = byBucket.get(bucket)
        if (lst != null) {
          var j = 0
          while (j < lst.size()) {
            val n = nodes(lst.get(j))
            if (n.id != qn.id) {
              var dot = 0L
              var t = 0
              while (t < n.q.length) { dot += n.q(t) * qn.q(t); t += 1 }
              cands += ((dot.toDouble /
                (math.sqrt(n.nrm.toDouble) * math.sqrt(qn.nrm.toDouble)),
                n.id))
            }
            j += 1
          }
        }
        b += 1
      }
      out(qi) = (qn.id, cands.sortBy(t => (-t._1, t._2)).take(k).toArray)
    }
    out
  }

  // Multi-probe: each query searches its own hyperplane bucket AND
  // the four buckets one sign-flip away — the vectors most likely to
  // be near-misses of the hash. 5/16 of the corpus probed instead of
  // 1/16 lifts recall vs e1 from 0.14 to ~0.5 at 5× bounded probe
  // cost (the standard multi-probe LSH trade; at 100 TB more
  // hyperplane bits + the same 1-flip probe set keeps the probed
  // fraction small while preserving the near-miss coverage).
  def e2KnnLsh(s: SparkSession, d: String): DataFrame = {
    val emb = bucketed(s, d)
    val qs = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("bucket"))
      .withColumn("bucket", explode(expr(
        "array(bucket, bucket ^ 1, bucket ^ 2, bucket ^ 4, bucket ^ 8)")))
    val scored = emb.select(col("vec_id").as("nid"), col("embedding"), col("bucket"))
      .join(broadcast(qs), Seq("bucket"))
      .filter(col("nid") =!= col("qid"))
      .withColumn("cosine", GraftFunctions.cosine_sim(col("embedding"), col("qe")))
    topKPerQuery(scored, 5)
  }

  // e9: the corpus k-NN GRAPH — every node's top-3 neighbors, the
  // input artifact semantic dedup (d24), graph clustering and
  // diversity sampling all start from. Brute force is the one O(N²)
  // no blocking can excuse at 100 TB; here candidates come from e2's
  // multi-probe hyperplane buckets applied SYMMETRICALLY: each node
  // probes its own bucket + every one-flip bucket, so a pair is
  // considered iff the neighbor's bucket is within Hamming 1 of the
  // node's — per-node candidate cost is (bits+1)·N/2^bits, and `bits`
  // is sized FROM the corpus count so expected bucket population
  // stays ~64: the probed fraction shrinks as N grows and total work
  // stays linear (a fixed width would quietly degrade to N²·c —
  // SCALE_r6 benches this at 10×). The bucket equi-join is a
  // corpus×corpus hash join keyed on the bucket id — deliberately NOT
  // broadcast — and the final top-k is the bounded TopKByScore
  // partial aggregate, so no exchange ever carries scored-pair
  // volume. Scoring is the exact quantized LongDot (bit-deterministic
  // → the spec replays the whole graph in memory, not just a recall
  // floor). Rows-only: hash-derived hyperplanes aren't
  // SQL-expressible; SimilaritySpec pins exact replay + brute recall.
  def e9KnnGraph(s: SparkSession, d: String): DataFrame = {
    // adaptive width: a FOOTER-metadata count (no Spark job, no corpus
    // scan — SimilaritySpec asserts zero jobs at plan-build) sizes the
    // bucket space so expected population stays ~64 at ANY corpus
    // size (see e9Bits)
    val bits = e9Bits(Tables.parquetRowCount(s, s"$d/embeddings.parquet"))
    val emb = bucketed(s, d, bits)
      .withColumn("q", expr(
        "transform(embedding, x -> cast(floor(cast(x as double) * 1000) as bigint))"))
      .withColumn("nrm", expr("aggregate(q, 0L, (acc, v) -> acc + v * v)"))
    // driver fast path (round 18, [[e9NodesLocal]]): below the cap
    // the whole graph is local parallel math off one bounded collect
    e9NodesLocal(s, "e9.twin", emb, 200000) match {
      case Some(nodes) =>
        import s.implicits._
        return e9DriverTopK(nodes, bits, 3).iterator.flatMap {
          case (qid, top) => top.iterator.zipWithIndex.map {
            case ((sc, nid), i) => (qid, nid, sc, (i + 1).toLong) }
        }.toSeq.toDF("qid", "nid", "cosine", "rnk")
      case None => ()
    }
    val flips = (0 until bits).map(k => s"bucket ^ ${1 << k}")
    val probes = emb
      .select(col("vec_id").as("qid"), col("q").as("qq"),
        col("nrm").as("qn"), col("bucket"))
      .withColumn("bucket", explode(expr(
        ("bucket" +: flips).mkString("array(", ", ", ")"))))
    val scored = emb.select(col("vec_id").as("nid"), col("q"),
        col("nrm"), col("bucket"))
      .join(probes, Seq("bucket"))
      .filter(col("nid") =!= col("qid"))
      .withColumn("dot", GraftFunctions.long_dot(col("q"), col("qq")))
      .withColumn("cosine",
        col("dot").cast("double") /
          (sqrt(col("nrm").cast("double")) * sqrt(col("qn").cast("double"))))
    topKPerQuery(scored, 3)
  }

  // e11: GRAPH-TRAVERSAL ANN — the DiskANN/HNSW query path (beam
  // search over a stored neighborhood graph) re-expressed as R
  // bounded equi-joins. The offline artifact is a DENORMALIZED
  // adjacency: each node's top-`deg` neighbors under e9's symmetric
  // multi-probe blocking rule, symmetrized (an edge either direction
  // serves both endpoints), with the NEIGHBOR'S quantized vector and
  // norm stored inline on the edge row — the DiskANN disk layout,
  // which makes query-time expansion ONE join instead of a second
  // corpus join to fetch payloads. Query answering is beam search:
  // score a fixed entry set (the `entries` nodes with the smallest
  // xxhash64(vec_id) — the k-means trainer's bounded deterministic
  // sample, no RNG state), then `rounds` rounds of
  //   frontier ⋈ adjacency → score neighbors exactly → keep top-beam
  // where the Q·beam-row frontier is BROADCAST, so the adjacency is
  // probed, never shuffled, and the only exchange per round is the
  // candidate-sized (qid, nid) dedupe + the bounded TopKByScore cut —
  // per-round cost O(Q·beam·deg), independent of corpus size. At
  // 100 TB the adjacency is the stored index (AnnIndexExport's
  // pattern) sorted by src, so the broadcast frontier's runtime Bloom
  // filter (RuntimeFilterSpec's conf recipe) prunes row groups and a
  // query batch reads only the neighborhoods it walks; the graph
  // build (one e9 pass + one payload join) is the offline cost,
  // amortized across every query batch — the search itself never
  // scans the corpus, which is what separates this from e1/e2/e4:
  // those bound WORK per query but still touch a corpus-sized scan
  // per batch. Rows-only: hash-derived hyperplanes aren't
  // SQL-expressible; TextSimSpec replays the FULL beam-search trace
  // in memory (entry set, symmetrized top-deg graph, exact quantized
  // scoring, (score desc, id asc) tie-break, per-round beam cut) and
  // pins a recall floor vs brute force.
  /** The quantized, bucketed corpus e9/e11 share, with its adaptive
    * hyperplane width (footer-count sized, no job).
    */
  private[graft] def e11Emb(s: SparkSession, d: String): (Int, DataFrame) = {
    val bits = e9Bits(Tables.parquetRowCount(s, s"$d/embeddings.parquet"))
    (bits, bucketed(s, d, bits)
      .withColumn("q", expr(
        "transform(embedding, x -> cast(floor(cast(x as double) * 1000) as bigint))"))
      .withColumn("nrm", expr("aggregate(q, 0L, (acc, v) -> acc + v * v)")))
  }

  /** e11's offline artifact, un-materialized: the symmetrized top-deg
    * adjacency under e9's multi-probe blocking, neighbor payloads
    * inline — (src, dst, dq, dn). One construction shared by the
    * inline entry, the export, and the stored-≡-inline spec.
    */
  private[graft] def e11BuildAdj(s: SparkSession, emb: DataFrame,
                                 bits: Int, deg: Int): DataFrame = {
    // driver fast path (round 18, [[e9NodesLocal]]): the same local
    // kNN as e9's, then symmetrize + attach neighbor payloads from
    // the collected nodes — column order matches the join the
    // distributed path ends with (dst, src, dq, dn). SMALLER cap
    // than e9's: this twin's OUTPUT is ~2·N·deg edges each carrying
    // a 64-long payload. r18 gated at 4k nodes because LocalRelation
    // encoding was single-threaded (1.22× the distributed build at
    // the ×10 layout's 20k nodes); r19 parallelized the encode
    // (sc.parallelize below) and re-measured: twin 3.08 s vs
    // distributed 6.83 s at 20k nodes — the crossover moved past the
    // largest measurable layout, so the cap is now set by the
    // standing ~100 MB driver-rows ceiling (≈3.9 KB/node with the
    // deg·2 edge payloads ⇒ 25k nodes), not by encode speed.
    e9NodesLocal(s, "e11.twin", emb, 25000) match {
      case Some(nodes) =>
        import s.implicits._
        val edges = scala.collection.mutable.LinkedHashSet.empty[(Long, Long)]
        e9DriverTopK(nodes, bits, deg).foreach { case (src, top) =>
          top.foreach { case (_, dst) =>
            edges += ((src, dst)); edges += ((dst, src)) }
        }
        val byId = nodes.iterator.map(n => n.id -> n).toMap
        // sc.parallelize, NOT a LocalRelation (VERDICT r18 item 4):
        // the twin's output is ~2·N·deg edges each carrying a 64-long
        // payload, and LocalRelation encoding is single-threaded on
        // the driver — the measured reason the twin lost above ~4k
        // nodes. parallelize ships the raw tuples and the InternalRow
        // encode runs as parallel tasks; slices sized so each encodes
        // a few thousand edge rows.
        val rows = edges.iterator.map { case (src, dst) =>
          val n = byId(dst); (dst, src, n.q.toSeq, n.nrm)
        }.toSeq
        val slices = math.max(1, math.min(
          s.sparkContext.defaultParallelism, rows.size / 2048))
        return s.sparkContext.parallelize(rows, slices)
          .toDF("dst", "src", "dq", "dn")
      case None => ()
    }
    val flips = (0 until bits).map(kk => s"bucket ^ ${1 << kk}")
    val probes = emb
      .select(col("vec_id").as("qid"), col("q").as("qq"),
        col("nrm").as("qn"), col("bucket"))
      .withColumn("bucket", explode(expr(
        ("bucket" +: flips).mkString("array(", ", ", ")"))))
    val pairScores = emb.select(col("vec_id").as("nid"), col("q"),
        col("nrm"), col("bucket"))
      .join(probes, Seq("bucket"))
      .filter(col("nid") =!= col("qid"))
      .withColumn("dot", GraftFunctions.long_dot(col("q"), col("qq")))
      .withColumn("cosine",
        col("dot").cast("double") /
          (sqrt(col("nrm").cast("double")) * sqrt(col("qn").cast("double"))))
    val knn = pairScores.groupBy(col("qid"))
      .agg(GraftFunctions.top_k(col("cosine"), col("nid"), deg).as("top"))
      .select(col("qid").as("src"), explode(col("top")).as("t"))
      .select(col("src"), col("t.id").as("dst"))
    knn
      .unionByName(knn.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .join(emb.select(col("vec_id").as("dst"), col("q").as("dq"),
        col("nrm").as("dn")), Seq("dst"))
  }

  /** e11's deterministic entry set: the `entries` nodes with the
    * smallest xxhash64(vec_id), payloads inline.
    */
  private def e11EntryNodes(emb: DataFrame, entries: Int): DataFrame = emb
    .select(col("vec_id").as("nid"), col("q"), col("nrm"),
      xxhash64(col("vec_id")).as("hk"))
    .orderBy("hk").limit(entries).drop("hk")

  /** The beam-search loop, parameterized on `expand` (frontier
    * (qid, src) rows → candidate (qid, nid, q, nrm) rows) so the
    * inline path (checkpointed lineage) and the stored path
    * (partition-pruned artifact scan) answer through ONE search —
    * they cannot drift.
    */
  private def e11Search(s: SparkSession, qs: DataFrame,
                        entryNodes: DataFrame,
                        expand: DataFrame => DataFrame,
                        k: Int, beam: Int, rounds: Int): DataFrame = {
    // ANSWER-SIZED loop state as LOCAL data (round 18, guide §1.2):
    // the frontier is ≤ Q·beam rows and the query set ≤ Q rows by
    // construction, yet the old loop localCheckpointed the frontier
    // (an extra eager job per round) and re-executed the qs lineage —
    // an embeddings-corpus scan — under every per-round broadcast.
    // Collecting both once (bounded collects, the e11FromIndex bucket
    // list's own discipline) makes each round exactly ONE job: the
    // adj ⋈ broadcast(frontier) expand + score + re-beam, collected
    // straight back. Values are untouched — the same score/top-beam
    // plans run, only the materialization boundary moves — so the
    // stored-≡-inline equality (IndexExportSpec) holds unchanged.
    import scala.jdk.CollectionConverters._
    val qsProj = qs.select(col("qid"), col("qq"), col("qn"))
    val qsDf = s.createDataFrame(
      qsProj.collect().toSeq.asJava, qsProj.schema)
    def score(df: DataFrame): DataFrame = df
      .filter(col("nid") =!= col("qid"))
      .withColumn("dot", GraftFunctions.long_dot(col("q"), col("qq")))
      .withColumn("cosine",
        col("dot").cast("double") /
          (sqrt(col("nrm").cast("double")) * sqrt(col("qn").cast("double"))))
      .select(col("qid"), col("nid"), col("cosine"))
    import s.implicits._
    def collectScored(df: DataFrame): Seq[(Long, Long, Double)] =
      df.select(col("qid"), col("nid"), col("cosine")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // driver top-beam: EXACTLY top_k's total order — score desc, id
    // asc (TopKByScore sorts by (-score, id) and takes k) — applied
    // after the same max-per-(qid, nid) combine the old per-round
    // groupBy ran. ≤ Q·beam·deg rows per round, pure driver math on
    // cosines Spark already computed.
    def topBeam(rows: Seq[(Long, Long, Double)]): Seq[(Long, Long, Double)] =
      rows.groupBy(t => (t._1, t._2))
        .map { case ((q, n), g) => (q, n, g.map(_._3).max) }.toSeq
        .groupBy(_._1).toSeq.flatMap { case (_, g) =>
          g.sortBy(t => (-t._3, t._2)).take(beam)
        }
    def localBeam(rows: Seq[(Long, Long, Double)]): DataFrame =
      rows.toDF("qid", "nid", "cosine")
    var frontier =
      topBeam(collectScored(score(entryNodes.crossJoin(broadcast(qsDf)))))
    for (_ <- 1 to rounds) {
      val fDf = localBeam(frontier)
      val expanded = expand(
        fDf.select(col("qid"), col("nid").as("src")))
        .join(broadcast(qsDf), Seq("qid"))
      frontier = topBeam(collectScored(score(expanded)) ++ frontier)
    }
    topKPerQuery(localBeam(frontier), k)
  }

  def e11GraphAnn(s: SparkSession, d: String, k: Int = 5, deg: Int = 8,
                  beam: Int = 8, rounds: Int = 3,
                  entries: Int = 16): DataFrame = {
    val (bits, emb) = e11Emb(s, d)
    // materialize the index ONCE — rounds re-read its blocks, not
    // the graph-build lineage (the g13b iterative-loop convention)
    val adj = e11BuildAdj(s, emb, bits, deg).localCheckpoint()
    val qs = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("q").as("qq"), col("nrm").as("qn"))
    val expand = (frontier: DataFrame) => adj
      .join(broadcast(frontier), Seq("src"))
      .select(col("qid"), col("dst").as("nid"), col("dq").as("q"),
        col("dn").as("nrm"))
    e11Search(s, qs, e11EntryNodes(emb, entries), expand, k, beam, rounds)
  }

  /** e11's offline build, MATERIALIZED (the AnnIndexExport pattern
    * the e11 Scaladoc promises): the symmetrized top-deg adjacency
    * partitioned by src bucket with neighbor payloads inline, the
    * entry set, and a self-describing meta row. Run once per corpus
    * version; every query batch after that is
    * [[e11GraphAnnFromIndex]] — beam search over the artifact, no
    * corpus-sized build per session.
    *
    *   out/adj/sbucket=…/   (src, dst, dq, dn) — sorted by src
    *   out/entries/         (nid, q, nrm)
    *   out/meta/            (deg, n_entries, n_buckets, n_edges)
    */
  def e11WriteGraph(s: SparkSession, d: String, outDir: String,
                    deg: Int = 8, entries: Int = 16,
                    nBuckets: Int = 16): Unit = {
    val (bits, emb) = e11Emb(s, d)
    val adj = e11BuildAdj(s, emb, bits, deg)
      .withColumn("sbucket", pmod(col("src"), lit(nBuckets.toLong)))
    adj.repartition(col("sbucket"))
      .sortWithinPartitions("src")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("sbucket").parquet(s"$outDir/adj")
    e11EntryNodes(emb, entries)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$outDir/entries")
    import s.implicits._
    // count from the WRITTEN files (parquet footer metadata — no
    // scan): counting `adj` itself would re-execute the whole
    // blocked-kNN build a second time
    val nEdges = s.read.parquet(s"$outDir/adj").count()
    Seq((deg, entries, nBuckets, nEdges))
      .toDF("deg", "n_entries", "n_buckets", "n_edges")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$outDir/meta")
  }

  /** e11's query path against the STORED graph — the e8FromIndex
    * analog: beam search where each round's expansion scans ONLY the
    * src-bucket partitions the frontier actually walks (the bucket
    * set is a Q·beam-bounded driver collect, answer-sized like e8's
    * cell set). The adjacency build is never re-paid; the whole query
    * session is corpus-free. Deterministic construction makes this
    * bit-equal to the inline e11 — IndexExportSpec proves it and
    * counts the pruned partitions per round via `probedBuckets`.
    */
  def e11GraphAnnFromIndex(s: SparkSession, d: String, outDir: String,
                           k: Int = 5, beam: Int = 8, rounds: Int = 3,
                           probedBuckets:
                             scala.collection.mutable.Buffer[Int] = null)
      : DataFrame = {
    val meta = s.read.parquet(s"$outDir/meta").head
    val nBuckets = meta.getAs[Int]("n_buckets")
    val adj = s.read.parquet(s"$outDir/adj")
      .withColumn("sbucket", col("sbucket").cast("long"))
    val entryNodes = s.read.parquet(s"$outDir/entries")
    val emb = e11Emb(s, d)._2
    val qs = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("q").as("qq"), col("nrm").as("qn"))
    val expand = (frontier: DataFrame) => {
      // answer-sized: <= Q*beam frontier rows -> <= nBuckets longs
      val buckets = frontier
        .select(pmod(col("src"), lit(nBuckets.toLong)).as("b"))
        .distinct().collect().map(_.getLong(0)).sorted
      if (probedBuckets != null) probedBuckets += buckets.length
      adj.filter(col("sbucket").isin(buckets.toIndexedSeq: _*))
        .join(broadcast(frontier), Seq("src"))
        .select(col("qid"), col("dst").as("nid"), col("dq").as("q"),
          col("dn").as("nrm"))
    }
    e11Search(s, qs, entryNodes, expand, k, beam, rounds)
  }

  // e13: the ANN family's QUALITY-AND-COST REPORT — recall@5,
  // build time, query latency, and stored-artifact bytes of every
  // approximate method against the exact brute-force answer, as one
  // query. An index you haven't measured is an index you can't
  // trust: every recall/latency trade in this family (probe width,
  // nProbe, PQ bits, beam) is tuned against exactly these numbers,
  // so the measurement is a first-class operator, not a test-only
  // artifact (the specs pin FLOORS; this reports the values). e7, e8
  // and e11 are served from their STORED indexes (built once per
  // session via e13IndexDirs — measuring never costs a rebuild),
  // which is also what splits their cost honestly into build vs
  // query; e2/e4 have no stored form, so their query time bills
  // the in-session model work. All report inputs are answer-sized
  // (Q·k rows per method): union, one broadcast membership join
  // against the exact set, one aggregate. Rows-only (every method
  // hangs off trained/hash models, and the timing columns are
  // wall-clock); the spec recomputes recall and index_bytes from the
  // operator's own outputs/artifacts and sanity-bounds the timings.
  /** e13's stored artifacts, built ONCE per (session, dataset) with
    * their build wall-times recorded — measuring quality never costs
    * a rebuild after the first call (the round-8 finding: the report
    * used to rebuild all five indexes inline per invocation).
    */
  private[graft] case class E13Artifacts(e8Dir: String, e8Build: Double,
                                         e11Dir: String, e11Build: Double,
                                         e7Dir: String, e7Build: Double)

  private[graft] val e13Idx =
    scala.collection.concurrent.TrieMap.empty[String, E13Artifacts]

  private[graft] def e13IndexDirs(s: SparkSession, d: String): E13Artifacts =
    e13Idx.getOrElseUpdate(s.sparkContext.applicationId + "|" + d, {
      def timed[T](f: => T): Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      val d8 = java.nio.file.Files
        .createTempDirectory("graft_e13_e8").toString
      val t8 = timed(e8WriteIndex(s, d, d8))
      val d11 = java.nio.file.Files
        .createTempDirectory("graft_e13_e11").toString
      val t11 = timed(e11WriteGraph(s, d, d11))
      val d7 = java.nio.file.Files
        .createTempDirectory("graft_e13_e7").toString
      val t7 = timed(e7WriteIndex(s, d, d7))
      E13Artifacts(d8, t8, d11, t11, d7, t7)
    })

  private[graft] def dirBytes(p: String): Long = {
    val root = new java.io.File(p)
    def walk(f: java.io.File): Long =
      if (f.isFile) f.length
      else Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
    walk(root)
  }

  def e13AnnReport(s: SparkSession, d: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    val arts = e13IndexDirs(s, d)
    val brute = e1KnnBrute(s, d).select(col("qid"), col("nid"))
    // (name, query thunk, build seconds, stored-artifact bytes);
    // e2/e4 carry no stored artifact — their models are in-session
    // (build_time_s = 0, index_bytes = 0) and their query time BILLS
    // the in-session model work, which is the honest comparison
    // against the three methods that serve from a stored index
    // (e7 joined e8/e11 in round 10: its codebook train + encode now
    // amortize into the flat-PQ artifact instead of every query)
    val methods: Seq[(String, () => DataFrame, Double, Long)] = Seq(
      ("e2_knn_lsh", () => e2KnnLsh(s, d), 0.0, 0L),
      ("e4_knn_ivf", () => e4KnnIvf(s, d), 0.0, 0L),
      ("e7_pq_ann", () => e7PqAnnFromIndex(s, d, arts.e7Dir),
        arts.e7Build, dirBytes(arts.e7Dir)),
      ("e8_knn_ivfpq", () => e8KnnIvfPqFromIndex(s, d, arts.e8Dir),
        arts.e8Build, dirBytes(arts.e8Dir)),
      ("e11_graph_ann", () => e11GraphAnnFromIndex(s, d, arts.e11Dir),
        arts.e11Build, dirBytes(arts.e11Dir)))
    // time each query path to ANSWERED (the report's latency axis);
    // the answer-sized rows are re-wrapped so the recall aggregation
    // below consumes the very rows the timer measured
    val measured = methods.map { case (name, thunk, build, bytes) =>
      val t0 = System.nanoTime()
      val df = thunk()
      val rows = df.collect()
      val queryS = (System.nanoTime() - t0) / 1e9
      val back = s.createDataFrame(rows.toSeq.asJava, df.schema)
      (name, back, build, queryS, bytes)
    }
    val approx = measured.map { case (n, df, _, _, _) =>
      df.select(lit(n).as("method"), col("qid"), col("nid"))
    }.reduce(_ unionByName _)
    import s.implicits._
    val meas = measured
      .map { case (n, _, b, q, by) => (n, b, q, by) }
      .toDF("method", "build_time_s", "query_time_s", "index_bytes")
    val denom = brute.select(count(lit(1)).as("n_exact"))
    approx
      .join(broadcast(brute.withColumn("hit", lit(1L))), Seq("qid", "nid"),
        "left")
      .groupBy(col("method"))
      .agg(count(lit(1)).as("n_returned"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .crossJoin(broadcast(denom))
      .join(broadcast(meas), Seq("method"))
      .select(col("method"), col("n_returned"), col("n_hits"),
        (col("n_hits").cast("double") / col("n_exact").cast("double"))
          .as("recall_at_5"),
        col("build_time_s"), col("query_time_s"), col("index_bytes"))
      .orderBy("method")
  }

  /** Centroid-normalized dot of the quantized vector `q` against the
    * double centroid `cvec` — the ONE scoring expression both k-means
    * assignment (training) and the e4 probe path use; they must stay
    * formula-identical or the trained cells and the probed cells
    * disagree.
    */
  private val CentroidDot =
    "aggregate(zip_with(q, cvec, (a, b) -> cast(a as double) * b), " +
      "cast(0.0 as double), (acc, v) -> acc + v)"

  /** Deterministic k-means coarse quantizer — the TRAINED IVF path.
    * Training runs on a FIXED SAMPLE, never the corpus: the
    * `sampleSize` vectors with smallest xxhash64(vec_id) — a
    * pseudo-random subset with no RNG state to distribute, selected
    * by a bounded TakeOrderedAndProject (partial bottom-s per
    * partition, one s-row merge; the corpus is never sorted). Init is
    * the bottom-k of the same ordering, so init ⊆ sample by
    * construction. Then `iters` fixed Lloyd rounds over the sample:
    * assignment is a map-local broadcast argmax using the same
    * centroid-normalized dot the probe path uses; the update sums
    * QUANTIZED longs (exact, order-independent), so the learned
    * centroids are bit-deterministic across partitionings — a float
    * sum here would make every downstream recall measurement flaky.
    * Only k×dim centroid sums reach the driver per round (k-means's
    * standard control loop; the data never does). At test SFs
    * (corpus ≤ s) the sample IS the corpus, so the spec'd recall
    * numbers are unchanged; at 100 TB each Lloyd round scans s rows
    * instead of N (grow s ≈ a few × k·dim alongside k ≈ √N).
    */
  private def kmeansCentroids(s: SparkSession, emb: DataFrame,
                              k: Int, iters: Int,
                              sampleSize: Int = 512): DataFrame = {
    import scala.jdk.CollectionConverters._
    val dim = emb.select(size(col("q"))).head.getInt(0)
    val train = emb
      .select(col("vec_id"), col("q"), xxhash64(col("vec_id")).as("hk"))
      .orderBy("hk").limit(math.max(sampleSize, k))
      .drop("hk")
      .cache()
    def centDf(cs: Array[(Long, Array[Double])]): DataFrame = {
      val rows: java.util.List[Row] =
        cs.map { case (cid, v) => Row(cid, v.toSeq) }.toList.asJava
      val schema = StructType(Seq(
        StructField("cid", LongType, nullable = false),
        StructField("cvec", ArrayType(DoubleType, containsNull = false),
          nullable = false)))
      s.createDataFrame(rows, schema)
        .withColumn("cn", sqrt(expr(
          "aggregate(cvec, cast(0.0 as double), (acc, v) -> acc + v * v)")))
    }
    var cents: Array[(Long, Array[Double])] = train
      .withColumn("hk", xxhash64(col("vec_id")))
      .orderBy("hk").limit(k).collect()
      .zipWithIndex.map { case (r, i) =>
        (i.toLong, r.getSeq[Long](1).map(_.toDouble).toArray) }
    (1 to iters).foreach { _ =>
      val sums = train.crossJoin(broadcast(centDf(cents)))
        .withColumn("score", expr(CentroidDot) / col("cn"))
        .groupBy(col("vec_id"))
        .agg(expr("max_by(struct(cid, q), struct(score, -cid))").as("m"))
        .select(col("m.cid").as("cid"), posexplode(col("m.q")).as(Seq("pos", "v")))
        .groupBy("cid", "pos")
        .agg(sum(col("v")).as("sv"), count(lit(1)).as("cnt"))
        .collect()
      // empty cells simply drop out (deterministic)
      cents = sums.groupBy(_.getAs[Long]("cid")).toArray.sortBy(_._1)
        .map { case (cid, rs) =>
          val arr = new Array[Double](dim)
          rs.foreach(r => arr(r.getAs[Int]("pos")) =
            r.getAs[Long]("sv").toDouble / r.getAs[Long]("cnt"))
          (cid, arr)
        }
    }
    train.unpersist()
    centDf(cents)
  }

  // e4: IVF ANN — the other classic scale path next to LSH (e2): a
  // small coarse quantizer partitions the corpus into inverted lists;
  // a query exactly scores only the nProbe nearest cells' lists. The
  // quantizer is a real trained one: deterministic seeded k-means
  // over a bounded hash-sample (kmeansCentroids above — training cost
  // is O(s·C) per round, independent of corpus size; at 100 TB grow
  // k ≈ √N and s with it, the plan below is unchanged). Costs:
  // assignment is one O(N·C)
  // broadcast pass, C tiny; probing touches nProbe/C of the corpus;
  // final top-k is the bounded partial aggregate. Rows-only (centroid
  // ranking isn't SQL-oracle-friendly); TextSimSpec asserts recall vs
  // e1 and bit-equal cosines on shared pairs (both paths score with
  // the same quantized LongDot arithmetic). nProbe is the recall/cost
  // dial; trained centroids beat the retired per-label ones at every
  // probe fraction (labels barely structured the embedding space):
  // recall vs e1 over 10 cells, nProbe 2→0.50, 3→0.64, 4→0.72,
  // 5→0.80, 6→0.82 (label centroids sat at 0.38/0.52/0.64/0.72/0.80).
  /** Map-local cell assignment — argmax as an AGGREGATE, not a
    * window: the crossJoin is map-local (centroids broadcast), so
    * partial max_by collapses to one row per vector before the
    * exchange — the shuffle moves N rows, not N·C sorted ones.
    * Tie-break: lowest cell id. Shared by e4's inverted lists and
    * d24's semantic-dedup clusters.
    */
  private def assignCells(emb: DataFrame, cents: DataFrame): DataFrame =
    emb.crossJoin(broadcast(cents))
      .withColumn("score", expr(CentroidDot) / col("cn"))
      .groupBy(col("vec_id"))
      .agg(expr("max_by(struct(cid, q, nrm), struct(score, -cid))").as("m"))
      .select(col("vec_id"), col("m.cid").as("cid"),
              col("m.q").as("q"), col("m.nrm").as("nrm"))

  def e4KnnIvf(s: SparkSession, d: String, nProbe: Int = 4,
               k: Int = 10, iters: Int = 5): DataFrame = {
    val emb = quantized(s, d)
    val cellCents = kmeansCentroids(s, emb, k, iters)
    def scored(df: DataFrame): DataFrame =
      df.crossJoin(broadcast(cellCents))
        // centroid-normalized dot (shared with training); dividing by
        // |q| is rank-invariant per vector, so it's skipped
        .withColumn("score", expr(CentroidDot) / col("cn"))
    val lists = assignCells(emb, cellCents).withColumnRenamed("vec_id", "nid")
    // probes: tiny query set — the ranking window touches Q·C rows
    val probes = scored(emb.filter(col("vec_id") < 10))
      .withColumn("rn", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("score").desc, col("cid"))))
      .filter(col("rn") <= nProbe)
      .select(col("vec_id").as("qid"), col("cid"))
    val qvecs = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("q").as("qq"), col("nrm").as("qn"))
    val candidates = lists.join(broadcast(probes), Seq("cid"))
      .filter(col("nid") =!= col("qid"))
      .join(broadcast(qvecs), Seq("qid"))
      .withColumn("dot", GraftFunctions.long_dot(col("q"), col("qq")))
      .withColumn("cosine",
        col("dot").cast("double") /
          (sqrt(col("nrm").cast("double")) * sqrt(col("qn").cast("double"))))
    topKPerQuery(candidates, 5)
  }

  /** e6: MMR-diversified re-ranking (Maximal Marginal Relevance) —
    * retrieval that hates redundancy: from each query's top-`kCand`
    * brute candidates, greedily pick `kOut` results maximizing
    * 0.5·relevance − 0.5·max-similarity-to-already-picked. Greedy
    * selection is inherently sequential in k, so the k steps are
    * UNROLLED as fixed bounded sub-plans (g9's fixed-iteration
    * pattern): every step joins frames of ≤ Q·kCand rows — the
    * expensive part (scoring the corpus) happened once in the e1
    * candidate pass; at 100 TB the unrolled tail is noise next to it.
    * All cosines use the exact quantized LongDot arithmetic e1/e4
    * share, so relevance, pair similarity, and the MMR combination
    * are bit-identical in DuckDB and the greedy trace hash-matches —
    * a rare thing for a "heuristic" operator. Ties: higher mmr, then
    * lower nid (encoded in both engines' ranking).
    */
  def e6MmrRerank(s: SparkSession, d: String,
                  kCand: Int = 20, kOut: Int = 5): DataFrame = {
    val emb = quantized(s, d)
    val qs = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("q").as("qq"), col("nrm").as("qn"))
    val scored = emb.select(col("vec_id").as("nid"), col("q"), col("nrm"))
      .crossJoin(broadcast(qs))
      .filter(col("nid") =!= col("qid"))
      .withColumn("rel",
        GraftFunctions.long_dot(col("q"), col("qq")).cast("double") /
          (sqrt(col("nrm").cast("double")) * sqrt(col("qn").cast("double"))))
    // bounded candidate set: Q·kCand rows, with vectors re-attached
    // for the pairwise sims (broadcast: the candidate frame is tiny)
    val cand = topKPerQuery(scored.withColumnRenamed("rel", "cosine"), kCand)
      .select(col("qid"), col("nid"), col("cosine").as("rel"))
    val withVec = emb.select(col("vec_id").as("nid"),
        col("q").as("cq"), col("nrm").as("cn"))
      .join(broadcast(cand), "nid")
    val pairs = withVec.select(col("qid"), col("nid").as("a"),
        col("cq").as("qa"), col("cn").as("na"))
      .join(broadcast(withVec.select(col("qid"), col("nid").as("b"),
        col("cq").as("qb"), col("cn").as("nb"))), Seq("qid"))
      .filter(col("a") =!= col("b"))
      .withColumn("sim",
        GraftFunctions.long_dot(col("qa"), col("qb")).cast("double") /
          (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))))
      .select(col("qid"), col("a"), col("b"), col("sim"))
      .cache()
    val c = cand.cache()
    def pick(scoresDf: DataFrame, rnk: Int): DataFrame =
      scoresDf.withColumn("rn", row_number().over(
          Window.partitionBy("qid").orderBy(col("score").desc, col("nid"))))
        .filter(col("rn") === 1)
        .select(col("qid"), col("nid"), col("score"), lit(rnk.toLong).as("rnk"))
    var selected = pick(c.withColumn("score", col("rel")), 1)
    (2 to kOut).foreach { t =>
      val selKeys = selected.select(col("qid"), col("nid").as("b"))
      val msim = pairs.join(selKeys, Seq("qid", "b"))
        .groupBy(col("qid"), col("a").as("nid"))
        .agg(max(col("sim")).as("msim"))
      val stepScores = c.join(msim, Seq("qid", "nid"))
        .join(selected.select(col("qid"), col("nid")), Seq("qid", "nid"),
          "left_anti")
        .withColumn("score", lit(0.5) * col("rel") - lit(0.5) * col("msim"))
      selected = selected.unionByName(pick(stepScores, t))
    }
    selected.orderBy("qid", "rnk")
  }

  /** Per-subspace L2 codebooks for e7's product quantizer — the same
    * deterministic machinery as [[kmeansCentroids]] (bounded
    * hash-sample, hash-ordered init, exact long-sum updates, only
    * m·ksub·subDim centroid sums ever reaching the driver) but with
    * the L2 assignment PQ needs: argmin ‖x−c‖² ⇔ argmax (x·c − ‖c‖²/2),
    * evaluated for all m subspaces in ONE exploded pass per Lloyd
    * round. A cell that loses every member keeps its previous
    * centroid (codebooks stay DENSE — downstream LUT indexing is
    * positional in cid). Returns driver-side [sub][cid][dim] arrays:
    * m·ksub·subDim doubles (≤ 8 KB here) — a codebook is a model
    * artifact, broadcast-sized by construction.
    */
  private[graft] def pqCodebooks(s: SparkSession, emb: DataFrame,
                          m: Int, ksub: Int, iters: Int,
                          sampleSize: Int): Array[Array[Array[Double]]] = {
    // DRIVER-SIDE training (round 18, guide §1.2 per-task work): the
    // sample is ≤ max(sampleSize, ksub) rows — 512 here — yet the old
    // loop ran 2 + 2·iters Spark jobs over it (sample, init,
    // assign+sum per iteration), pure scheduler overhead measured as
    // the bulk of e7's in-session build. ONE bounded TakeOrdered
    // collects the sample; the Lloyd iterations replay the identical
    // arithmetic in driver loops — the same sequential-fold dot
    // (CentroidDot's zip_with left fold), the same score = dot − h2,
    // the same (score, −cid) argmax tie-break (ascending-cid scan
    // with strict >), exact integer component sums / count means, and
    // empty clusters keeping their previous centroid — so the books
    // are BIT-IDENTICAL to the distributed loop's (stored-vs-inline
    // index equality in IndexExportSpec keeps holding).
    val trainRows = emb
      .select(col("vec_id"), col("q"), xxhash64(col("vec_id")).as("hk"))
      .orderBy("hk").limit(math.max(sampleSize, ksub))
      .collect()
    require(trainRows.nonEmpty, "empty embedding corpus")
    val dim = trainRows.head.getSeq[Long](1).length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val subDim = dim / m
    // sample arrives hk-ascending from TakeOrdered; the init set is
    // the first ksub in that same order (the old second orderBy(hk))
    val train: Array[Array[Long]] =
      trainRows.map(_.getSeq[Long](1).toArray)
    var books: Array[Array[Array[Double]]] = Array.tabulate(m) { sub =>
      train.take(ksub).map(
        _.slice(sub * subDim, (sub + 1) * subDim).map(_.toDouble))
    }
    (1 to iters).foreach { _ =>
      // per (sub, cid): exact long component sums + member count
      val sv = Array.fill(m, ksub)(new Array[Long](subDim))
      val cnt = Array.fill(m, ksub)(0L)
      train.foreach { q =>
        var sub = 0
        while (sub < m) {
          val off = sub * subDim
          // argmax over ascending cid with strict >: ties keep the
          // smaller cid — max_by(struct(score, -cid)) exactly
          var best = -1
          var bestScore = Double.NegativeInfinity
          var cid = 0
          while (cid < ksub) {
            val c = books(sub)(cid)
            val h2 = c.map(v => v * v).sum / 2.0
            var acc = 0.0
            var i = 0
            while (i < subDim) { acc += q(off + i).toDouble * c(i); i += 1 }
            val score = acc - h2
            if (score > bestScore) { bestScore = score; best = cid }
            cid += 1
          }
          var i = 0
          while (i < subDim) { sv(sub)(best)(i) += q(off + i); i += 1 }
          cnt(sub)(best) += 1
          sub += 1
        }
      }
      books = Array.tabulate(m) { sub =>
        Array.tabulate(ksub) { cid =>
          if (cnt(sub)(cid) == 0L) books(sub)(cid).clone()
          else sv(sub)(cid).map(_.toDouble / cnt(sub)(cid))
        }
      }
    }
    books
  }

  // e7: product-quantization ANN (PQ with ADC scoring — the FAISS
  // IVFPQ memory path, and the reason billion-scale ANN fits in RAM):
  // each vector is ENCODED as m=8 one-byte codebook ids + its norm —
  // 32× smaller than the 64-float vector — and query scoring reads
  // ONLY codes: the query precomputes an m×ksub lookup table of
  // subspace dots, and each candidate's estimated dot is m table adds
  // (dot(q,x) ≈ Σ_sub lut[sub][code_sub], the ADC decomposition).
  // At 100 TB the encode below is the one-time map-shaped job whose
  // output is the stored codes column (like the inverted-index sink
  // stores postings); the per-query full pass then touches 9 bytes
  // per vector, not 256, and the exact-vector fetch is a
  // broadcast-candidate join touching Q·kCand rows. Shortlist by
  // estimated cosine, then EXACT re-rank with the shared quantized
  // LongDot arithmetic — so the returned cosines are bit-identical
  // to e1's for overlapping pairs (spec'd, like e4), and only the
  // candidate CHOICE is approximate. Rows-only: trained codebooks
  // aren't SQL-expressible; TextSimSpec floors recall vs e1 and
  // checks the bit-equality.
  /** Codebooks → one broadcast-sized frame (sub, cid, cvec, h2) with
    * h2 = ‖c‖²/2, the L2-argmin rewrite's constant.
    */
  private[graft] def pqCentsDf(s: SparkSession,
                        books: Array[Array[Array[Double]]]): DataFrame = {
    import scala.jdk.CollectionConverters._
    val rows: java.util.List[Row] = (for {
      sub <- books.indices; cid <- books(sub).indices
    } yield Row(sub, cid.toLong, books(sub)(cid).toSeq,
        books(sub)(cid).map(v => v * v).sum / 2.0)).asJava
    s.createDataFrame(rows, StructType(Seq(
      StructField("sub", IntegerType, nullable = false),
      StructField("cid", LongType, nullable = false),
      StructField("cvec", ArrayType(DoubleType, containsNull = false),
        nullable = false),
      StructField("h2", DoubleType, nullable = false))))
  }

  private def pqSliced(df: DataFrame, m: Int, subDim: Int): DataFrame = df
    .withColumn("sub", explode(sequence(lit(0), lit(m - 1))))
    .withColumn("q", expr(s"slice(q, sub * $subDim + 1, $subDim)"))

  /** ENCODE as a PURE MAP (round 18, guide §2.4 — remove shuffles
    * outright): the codebook is m·ksub tiny rows, so it rides into
    * the scan as a LITERAL nested array and each vector computes all
    * m argmax codes in one codegen'd expression — the old
    * explode-to-N·m + broadcast-join + two-aggregate form paid two
    * corpus-proportional exchanges for what is per-row arithmetic.
    * Identical algebra: the same sequential-fold dot (CentroidDot's
    * zip_with left fold), score = dot − h2 (h2 read from the same
    * cents frame), and argmax by (score, −cid) via array_max over
    * (sc, −cid) structs — ties still resolve to the smallest cid.
    * Output (vec_id, m codes, norm) is unchanged — the stored-index
    * round-trip (IndexExportSpec) and e8's routing join see the same
    * rows. Works identically for in-session and STORED centroids
    * (the cents collect is a bounded m·ksub-row read either way).
    */
  private[graft] def pqEncode(emb: DataFrame, cents: DataFrame,
                       m: Int, subDim: Int): DataFrame = {
    val crows = cents.select(col("sub"), col("cid"), col("cvec"), col("h2"))
      .collect()
    val ksub = crows.map(_.getLong(1)).max.toInt + 1
    // flat [sub][cid][i] / [sub][cid] layouts for the fused expression
    // (r19, guide §1.2 per-task work: the old HOF tower — transform
    // over array_max over zip_with/aggregate-scored structs — ran
    // every element through interpreted lambda dispatch and allocated
    // a slice + ksub structs per row; PqEncodeCodes is the identical
    // algebra as one codegen'd primitive loop, pinned bit-equal by
    // the HOF-equivalence spec)
    val books = new Array[Double](m * ksub * subDim)
    val h2s = new Array[Double](m * ksub)
    crows.foreach { r =>
      val sub = r.getInt(0); val cid = r.getLong(1).toInt
      val cv = r.getSeq[Double](2)
      var i = 0
      while (i < subDim) {
        books((sub * ksub + cid) * subDim + i) = cv(i); i += 1
      }
      h2s(sub * ksub + cid) = r.getDouble(3)
    }
    emb.select(col("vec_id"),
      GraftFunctions.pq_encode_codes(col("q"), books, h2s, m, ksub, subDim)
        .as("codes"), col("nrm"))
  }

  /** Query LUTs: dots of each query SUBVECTOR against every codebook
    * entry — Q·m·ksub rows total, assembled into a positional
    * [sub][cid] table per query (codebooks are dense, so position
    * == cid by construction).
    */
  private[graft] def pqLuts(qs: DataFrame, cents: DataFrame,
                     m: Int, subDim: Int): DataFrame =
    pqSliced(qs.select(col("vec_id").as("qid"), col("q")), m, subDim)
      .join(broadcast(cents), Seq("sub"))
      .withColumn("dot", expr(CentroidDot))
      .groupBy(col("qid"), col("sub"))
      .agg(expr("transform(array_sort(collect_list(struct(cid, dot))), " +
        "x -> x.dot)").as("lrow"))
      .groupBy(col("qid"))
      .agg(expr("transform(array_sort(collect_list(struct(sub, lrow))), " +
        "x -> x.lrow)").as("lut"))
      .join(qs.select(col("vec_id").as("qid"), col("nrm").as("qn")), Seq("qid"))

  /** ADC: estimated cosine from m table adds — reads codes and norms
    * only, never vectors. `scored` must carry (vec_id, codes, nrm)
    * and the broadcast (qid, lut, qn).
    */
  private[graft] def adcCosine(m: Int) =
    // r19: fused AdcDot loop replaces the per-add lambda dispatch +
    // double element_at of the HOF aggregate — same ascending-sub
    // left-fold, same doubles (HOF-equivalence spec'd). m rides in
    // codes.length (always m by construction).
    GraftFunctions.adc_dot(col("codes"), col("lut")) /
    (sqrt(col("nrm").cast("double")) * sqrt(col("qn").cast("double")))

  /** Exact re-rank of a Q·kCand shortlist: broadcast the candidate
    * ids, fetch true vectors map-side, score with the shared exact
    * LongDot arithmetic.
    */
  private def exactRerank(emb: DataFrame, short: DataFrame,
                          qs: DataFrame, k: Int): DataFrame = {
    val cand = emb.select(col("vec_id").as("nid"), col("q"), col("nrm"))
      .join(broadcast(short), Seq("nid"))
      .join(broadcast(qs.select(col("vec_id").as("qid"), col("q").as("qq"),
        col("nrm").as("qn"))), Seq("qid"))
      .withColumn("cosine",
        GraftFunctions.long_dot(col("q"), col("qq")).cast("double") /
          (sqrt(col("nrm").cast("double")) * sqrt(col("qn").cast("double"))))
    topKPerQuery(cand, k)
  }

  /** The e7 QUERY path given (codes, codebooks) from anywhere —
    * in-session (e7PqAnn) or the stored artifact (e7PqAnnFromIndex):
    * LUT build, ADC estimate over the codes, exact re-rank.
    */
  private def e7Answer(s: SparkSession, emb: DataFrame, codes: DataFrame,
                       cents: DataFrame, m: Int, subDim: Int,
                       kCand: Int): DataFrame = {
    val qs = emb.filter(col("vec_id") < 10)
    val luts = pqLuts(qs, cents, m, subDim)
    val est = codes.crossJoin(broadcast(luts))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cosine", adcCosine(m))
      .select(col("qid"), col("vec_id").as("nid"), col("cosine"))
    val short = topKPerQuery(est, kCand).select(col("qid"), col("nid"))
    exactRerank(emb, short, qs, 5)
  }

  def e7PqAnn(s: SparkSession, d: String, m: Int = 8, ksub: Int = 16,
              kCand: Int = 50): DataFrame = {
    val emb = quantized(s, d)
    val books = pqCodebooks(s, emb, m, ksub, iters = 3, sampleSize = 512)
    val subDim = books(0)(0).length
    val cents = pqCentsDf(s, books)
    val codes = pqEncode(emb, cents, m, subDim)
    e7Answer(s, emb, codes, cents, m, subDim, kCand)
  }

  /** e7's OFFLINE build: train the codebooks, encode the corpus, and
    * persist both as the flat-PQ artifact (FAISS IndexPQ's stored
    * form) — one codebook train + one encode pass per corpus version,
    * after which queries never pay model work again.
    */
  def e7WriteIndex(s: SparkSession, d: String, outDir: String,
                   m: Int = 8, ksub: Int = 16): Unit = {
    val emb = quantized(s, d)
    val books = pqCodebooks(s, emb, m, ksub, iters = 3, sampleSize = 512)
    val subDim = books(0)(0).length
    val cents = pqCentsDf(s, books)
    graft.sources.AnnIndexExport.writePqIndex(
      pqEncode(emb, cents, m, subDim), cents, outDir, m, subDim)
  }

  /** e7 served from the STORED artifact: codes + codebooks read back
    * (codes through the commit log), zero training on the query path.
    * Bit-equal to the in-session e7PqAnn (IndexExportSpec): the
    * deterministic trainer makes stored and inline codebooks
    * identical, and the scoring path is shared.
    */
  def e7PqAnnFromIndex(s: SparkSession, d: String, outDir: String,
                       kCand: Int = 50): DataFrame = {
    val emb = quantized(s, d)
    val meta = graft.sources.AnnIndexExport.readMeta(s, outDir).head
    val (m, subDim) = (meta.getAs[Int]("m"), meta.getAs[Int]("sub_dim"))
    val cents = graft.sources.AnnIndexExport.readPqCentroids(s, outDir)
    val codes = graft.sources.AnnIndexExport.readPqCodes(s, outDir)
    e7Answer(s, emb, codes, cents, m, subDim, kCand)
  }

  // e8: IVF-PQ — the two approximations COMPOSED, the full
  // billion-scale index shape (FAISS IVFPQ): e4's trained coarse
  // quantizer routes each query to its nProbe nearest cells, and
  // within those cells candidates are scored from e7's 9-byte codes
  // by ADC — so a query touches nProbe/C of the corpus AND reads only
  // codes while doing it; exact vectors are fetched just for the
  // Q·kCand re-rank. Both trainings run on the bounded hash-sample
  // (shared kmeansCentroids/pqCodebooks machinery). The one
  // corpus-keyed join (codes ⋈ cell assignments on vec_id) is the
  // offline index-build step — at 100 TB its output is the stored
  // (cell, codes, norm) table, amortized over every query. Rows-only
  // (two trained models aren't SQL-expressible); spec floors recall
  // vs e1 and asserts the re-ranked cosines bit-equal e1's on shared
  // pairs — approximation lives ONLY in candidate choice.
  def e8KnnIvfPq(s: SparkSession, d: String, nProbe: Int = 4,
                 kCells: Int = 10, m: Int = 8, ksub: Int = 16,
                 kCand: Int = 50): DataFrame = {
    val emb = quantized(s, d)
    // coarse stage (shared with e4)
    val cellCents = kmeansCentroids(s, emb, kCells, iters = 5)
    val lists = assignCells(emb, cellCents)
      .select(col("vec_id"), col("cid").as("cell"))
    // fine stage (shared with e7)
    val books = pqCodebooks(s, emb, m, ksub, iters = 3, sampleSize = 512)
    val subDim = books(0)(0).length
    val cents = pqCentsDf(s, books)
    val codes = pqEncode(emb, cents, m, subDim)
    // offline index build: codes + cell routing in one stored table
    val index = codes.join(lists, Seq("vec_id"))
    val qs = emb.filter(col("vec_id") < 10)
    // probe ranking (e4's): top-nProbe cells per query by the shared
    // centroid-normalized dot
    val probes = qs.crossJoin(broadcast(cellCents))
      .withColumn("score", expr(CentroidDot) / col("cn"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("score").desc, col("cid"))))
      .filter(col("rn") <= nProbe)
      .select(col("vec_id").as("qid"), col("cid").as("cell"))
    val luts = pqLuts(qs, cents, m, subDim)
    // probed candidates scored from codes only — the broadcast probe
    // join gates the corpus to nProbe/C before any scoring work
    val est = index.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .join(broadcast(luts), Seq("qid"))
      .withColumn("cosine", adcCosine(m))
      .select(col("qid"), col("vec_id").as("nid"), col("cosine"))
    val short = topKPerQuery(est, kCand).select(col("qid"), col("nid"))
    exactRerank(emb, short, qs, 5)
  }

  /** e8's offline index build, MATERIALIZED: train both quantizers,
    * encode, route, and export the (cell, codes, norm) table + the
    * trained models via [[graft.sources.AnnIndexExport]]. Run once
    * per corpus version; every query after that is
    * [[e8KnnIvfPqFromIndex]].
    */
  def e8WriteIndex(s: SparkSession, d: String, outDir: String,
                   kCells: Int = 10, m: Int = 8, ksub: Int = 16): Unit =
    e8WriteIndexFrom(s, quantized(s, d), outDir, kCells, m, ksub)

  /** The same offline build from an explicit (already-quantized)
    * vector set — the BASE-corpus build of the incremental path:
    * e12's contract is that the stored quantizers are trained on
    * whatever corpus version existed at build time and then FROZEN.
    */
  private[graft] def e8WriteIndexFrom(s: SparkSession, emb: DataFrame,
                                      outDir: String, kCells: Int = 10,
                                      m: Int = 8, ksub: Int = 16): Unit = {
    val cellCents = kmeansCentroids(s, emb, kCells, iters = 5)
    val lists = assignCells(emb, cellCents)
      .select(col("vec_id"), col("cid").as("cell"))
    val books = pqCodebooks(s, emb, m, ksub, iters = 3, sampleSize = 512)
    val subDim = books(0)(0).length
    val cents = pqCentsDf(s, books)
    val index = pqEncode(emb, cents, m, subDim).join(lists, Seq("vec_id"))
    graft.sources.AnnIndexExport.writeIndex(index, cellCents, cents,
      outDir, m, subDim)
  }

  /** Encode + route `emb` through the quantizers STORED at `outDir`
    * (nothing retrains) → (vec_id, codes, nrm, cell) rows in the
    * index's own format. Shared by the append path and the
    * incremental-≡-full spec, so the two sides can't drift.
    */
  private[graft] def e8EncodeWith(s: SparkSession, emb: DataFrame,
                                  outDir: String): DataFrame = {
    import graft.sources.AnnIndexExport
    val meta = AnnIndexExport.readMeta(s, outDir).head
    val m = meta.getAs[Int]("m")
    val subDim = meta.getAs[Int]("sub_dim")
    val cellCents = AnnIndexExport.readCellCentroids(s, outDir)
    val cents = AnnIndexExport.readPqCentroids(s, outDir)
    val lists = assignCells(emb, cellCents)
      .select(col("vec_id"), col("cid").as("cell"))
    pqEncode(emb, cents, m, subDim).join(lists, Seq("vec_id"))
      .select(col("vec_id"), col("codes"), col("nrm"), col("cell"))
  }

  /** INCREMENTAL index maintenance — FAISS `add()` re-expressed: a
    * batch of new vectors joins the stored index by encoding +
    * routing through the FROZEN stored quantizers and committing
    * cell-partitioned code rows through the index's GraftTable —
    * O(batch) work against an O(N) artifact as ONE ATOMIC commit
    * (with a `tag`, a replayed/retried batch is a no-op — the
    * round-8 advice's failure mode is structurally gone: no partial
    * append is ever visible, no retry can duplicate vec_ids). No
    * existing row is touched, no model retrains. The meta row's
    * n_vecs is RECOUNTED from the committed index (never oldN +
    * batch arithmetic), so meta can't drift from the rows.
    */
  def e8AppendToIndex(s: SparkSession, batch: DataFrame,
                      outDir: String, tag: String = null): Unit = {
    import graft.sources.{AnnIndexExport, GraftTable}
    val meta = AnnIndexExport.readMeta(s, outDir).head
    val m = meta.getAs[Int]("m")
    val subDim = meta.getAs[Int]("sub_dim")
    AnnIndexExport.appendIndexRows(s, e8EncodeWith(s, batch, outDir),
      outDir, tag) match {
      case None => () // replayed batch: index AND meta already consistent
      case Some(v) =>
        // count ONLY the committed batch's files (footer metadata) —
        // a full-index recount per O(batch) append would be O(N) and
        // defeat the incremental contract. n_vecs = prior meta +
        // committed-batch rows; the rows are always authoritative
        // (a crash between this commit and the meta rewrite leaves
        // n_vecs one batch behind until the next append/rebuild —
        // advisory metadata, the IndexExport self-description rule)
        val added = GraftTable.forPath(s, s"$outDir/index")
          .readCommit(v).adds.map(f => s"$outDir/index/${f.path}")
        val nNew = s.read.parquet(added: _*).count()
        val nVecs = meta.getAs[Long]("n_vecs") + nNew
        import s.implicits._
        Seq((m, subDim, nVecs)).toDF("m", "sub_dim", "n_vecs")
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(s"$outDir/meta")
    }
  }

  /** Build the e12 artifact: base index (80% of the corpus, models
    * trained there) + one appended batch (the remaining 20%, frozen
    * models). Returns the index dir — factored out so the spec can
    * inspect the artifact the query entry used.
    */
  private val e12Built = scala.collection.concurrent.TrieMap.empty[String, String]

  private[graft] def e12Build(s: SparkSession, d: String): String =
    // built once per (session, dataset) — repeated bench/verify/audit
    // invocations re-read the stored artifact instead of re-paying the
    // offline build and leaking a temp dir per call (the Lakehouse
    // lifecycle's amortization rule)
    e12Built.getOrElseUpdate(s.sparkContext.applicationId + "|" + d, {
      val dir = java.nio.file.Files.createTempDirectory("graft_e12_")
        .toString
      val emb = quantized(s, d)
      e8WriteIndexFrom(s, emb.filter(col("vec_id") % 5 =!= 3), dir)
      e8AppendToIndex(s, emb.filter(col("vec_id") % 5 === 3), dir)
      dir
    })

  // e12: INCREMENTAL ANN — the ANN member of the incremental family
  // (d28 exact dedup, d32 MinHash, p4 corpus, s11/s13 streams): a
  // daily batch of new vectors joins a 100 TB index as O(batch)
  // encode-and-append against the FROZEN stored quantizers, not a
  // retrain-and-rebuild — FAISS add()'s contract. Queries then read
  // the appended index through the identical e8KnnIvfPqFromIndex
  // path: nProbe cells pruned at the scan, ADC over 9-byte codes,
  // exact re-rank. Rows-only (trained models aren't
  // SQL-expressible); IndexExportSpec proves the incremental ≡ full
  // contract — the appended index's rows are bit-equal to a one-shot
  // frozen-model encode of base ∪ batch, so every query over the
  // appended artifact equals the rebuild's answer.
  def e12IncrementalAnn(s: SparkSession, d: String): DataFrame =
    e8KnnIvfPqFromIndex(s, d, e12Build(s, d))

  /** e8's query path against the STORED index: no training, no
    * encoding — models and codes come back from the export, and the
    * probed cells are pushed as a PARTITION filter so the scan reads
    * ONLY the nProbe cells' files (the cell set is a Q·nProbe-bounded
    * driver collect — answer-sized, like e9's footer count). Training
    * is deterministic, so this path is bit-equal to the inline e8 —
    * IndexExportSpec proves round-trip equality and the pruned scan.
    */
  def e8KnnIvfPqFromIndex(s: SparkSession, d: String, outDir: String,
                          nProbe: Int = 4, kCand: Int = 50): DataFrame = {
    val emb = quantized(s, d)
    e8ProbeIndex(s, emb.filter(col("vec_id") < 10), emb, outDir,
      nProbe, kCand)
  }

  /** The stored-index probe path for an ARBITRARY query set `qs`
    * (quantized() columns: vec_id, q, nrm), re-ranked against
    * `corpus` — factored so the batch entry (e8KnnIvfPqFromIndex) and
    * the streaming server (s14) answer through ONE code path: each
    * query's answer depends only on the query and the index, never on
    * which other queries share its batch — the property that makes
    * the streamed answer equal the batch answer query-for-query.
    */
  private[graft] def e8ProbeIndex(s: SparkSession, qs: DataFrame,
                                  corpus: DataFrame, outDir: String,
                                  nProbe: Int = 4,
                                  kCand: Int = 50): DataFrame = {
    import graft.sources.AnnIndexExport
    val meta = AnnIndexExport.readMeta(s, outDir).head
    val pm = meta.getAs[Int]("m")
    val subDim = meta.getAs[Int]("sub_dim")
    val cellCents = AnnIndexExport.readCellCentroids(s, outDir)
    val cents = AnnIndexExport.readPqCentroids(s, outDir)
    val probes = qs.crossJoin(broadcast(cellCents))
      .withColumn("score", expr(CentroidDot) / col("cn"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("score").desc, col("cid"))))
      .filter(col("rn") <= nProbe)
      .select(col("vec_id").as("qid"), col("cid").as("cell"))
    val cellSet = probes.select("cell").distinct()
      .collect().map(_.getLong(0)).sorted // <= Q * nProbe driver rows
    val luts = pqLuts(qs, cents, pm, subDim)
    // pruned at the index's COMMIT LOG: only the probed cells' files
    // are ever planned or opened. All-empty probed cells (k-means can
    // produce empty cells) is a VALID no-candidates outcome, not an
    // error — the query returns no neighbors, matching the old
    // isin-filter semantics
    val est = AnnIndexExport.readCells(s, outDir, cellSet.toIndexedSeq)
      .getOrElse(AnnIndexExport.readIndex(s, outDir).limit(0))
      .join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .join(broadcast(luts), Seq("qid"))
      .withColumn("cosine", adcCosine(pm))
      .select(col("qid"), col("vec_id").as("nid"), col("cosine"))
    val short = topKPerQuery(est, kCand).select(col("qid"), col("nid"))
    exactRerank(corpus, short, qs, 5)
  }

  // e10: cluster-balanced diversity subsampling — the embedding-space
  // pruning step of a training-data pipeline (SemDeDup/DataComp
  // shape): cap every k-means cell at a fixed quota so dense regions
  // (near-duplicate content clusters) are downsampled while sparse
  // regions survive intact — the curated set flattens the density
  // profile instead of mirroring it. Within a cell the quota keeps
  // the most CENTRAL members (prototypes; ties → lower vec_id).
  // Scale shape: e4's trained quantizer (bounded-sample k-means)
  // broadcasts; assignment is the one corpus pass (map-local argmax
  // aggregate, N rows through the exchange); the per-cell cut is the
  // bounded TopKByScore partial aggregate — never a per-cell
  // row_number window (no full-cell sort at 100 TB, where a cell is
  // N/C rows). Rows-only (trained centroids aren't SQL-expressible);
  // the spec replays the selection exactly from the operator's own
  // assignment and proves the density-flattening invariant.
  private[graft] def e10Assigned(s: SparkSession, d: String, k: Int,
                                 iters: Int): DataFrame = {
    val emb = quantized(s, d)
    val cents = kmeansCentroids(s, emb, k, iters)
    emb.crossJoin(broadcast(cents))
      .withColumn("score", expr(CentroidDot) / col("cn"))
      .groupBy(col("vec_id"))
      .agg(expr("max_by(struct(cid, score), struct(score, -cid))").as("m"))
      .select(col("vec_id"), col("m.cid").as("cell"),
        col("m.score").as("centrality"))
  }

  def e10DiversitySample(s: SparkSession, d: String, k: Int = 10,
                         iters: Int = 5, quota: Int = 5): DataFrame =
    e10Assigned(s, d, k, iters)
      .groupBy("cell")
      .agg(GraftFunctions.top_k(col("centrality"), col("vec_id"), quota).as("top"))
      .select(col("cell"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("t.id").as("vec_id"), col("cell"),
        (col("pos") + 1).cast("long").as("rank_in_cell"))
      .orderBy("vec_id")

  // e3: per-label centroids — element-wise mean over quantized values;
  // partial aggregation does the heavy lifting before the shuffle.
  def e3Centroids(s: SparkSession, d: String): DataFrame =
    quantized(s, d)
      .select(col("label"), posexplode(col("q")).as(Seq("pos", "v")))
      .groupBy(col("label"), (col("pos") + 1).cast("long").as("i"))
      .agg((sum(col("v")).cast("double") / count(lit(1)) / 1000.0).as("centroid"))
      .orderBy("label", "i")

  // m1: multimodal plumbing — documents as opaque binary blobs with
  // typed metadata. The byte-level work (digest, decode) runs in
  // mapPartitions over batched rows, the shape a real image/audio
  // decoder needs; decode goes through the PLUGGABLE [[BlobDecoder]]
  // contract, default [[StubDecoder]] (deterministic arithmetic the
  // oracle reproduces — no codec libs in this container, SURVEY §2.8).
  def m1BinaryMeta(s: SparkSession, d: String,
                   dec: BlobDecoder = StubDecoder): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("n_bytes", LongType, nullable = false),
      StructField("sha_hex", StringType, nullable = false),
      StructField("width", LongType, nullable = false),
      StructField("height", LongType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    val bin = Tables.documents(s, d)
      .select(col("doc_id"), col("text").cast("binary").as("blob"))
    val out = bin.mapPartitions { rows =>
      val md = java.security.MessageDigest.getInstance("SHA-256")
      rows.map { r =>
        val id = r.getLong(0)
        val blob = r.getAs[Array[Byte]](1)
        md.reset()
        val hex = md.digest(blob).map("%02x".format(_)).mkString
        val (w, h) = dec.dimensions(blob)
        Row(id, blob.length.toLong, hex, w, h)
      }
    }(enc)
    out
  }

  // m9: the REAL codec inside an ORACLED path (VERDICT r13 item 5) —
  // m1-m4 stay pinned to StubDecoder's arithmetic, so until this
  // entry the JDK ImageIoDecoder never sat inside a hash-matched
  // query. The plan GENERATES a deterministic tiny PNG per document
  // (gray level g(x,y) = (doc_id·31 + x·7 + y·13) mod 256 — gray
  // pixels make ITU-601 luminance ≡ g exactly), ENCODES it with the
  // JDK PNG writer, then decodes it back through [[ImageIoDecoder]]:
  // header-only dimensions + the real luminance histogram. The DuckDB
  // oracle replays the GENERATING formula (it cannot decode PNG), so
  // a wrong encode, a wrong decode, or a wrong histogram bin all
  // hash-mismatch. Everything runs map-side in ONE mapPartitions pass
  // (blob bytes never shuffle — the m-family's 100 TB discipline);
  // the 16-bin explode happens in-plan after the decode.
  def m9ImageioHistogram(s: SparkSession, d: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("width", LongType, nullable = false),
      StructField("height", LongType, nullable = false),
      StructField("bin", LongType, nullable = false),
      StructField("n_px", LongType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    // widen: the codec pass is per-row CPU; a single-file landing
    // otherwise pins the whole encode/decode sweep to ONE core
    // (round 18 — identity at real scale, see Tables.widen)
    val out = Tables.widen(s, d, "documents",
        Tables.documents(s, d).select(col("doc_id")), Seq("doc_id"))
      .mapPartitions { rows =>
        val dec = new ImageIoDecoder(featureBins = 16)
        rows.flatMap { r =>
          val id = r.getLong(0)
          val w = (id % 7 + 8).toInt
          val h = (id % 5 + 6).toInt
          val img = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val g = ((id * 31 + x * 7 + y * 13) % 256).toInt
              img.setRGB(x, y, (g << 16) | (g << 8) | g)
              x += 1
            }
            y += 1
          }
          val os = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", os)
          val blob = os.toByteArray
          val (dw, dh) = dec.dimensions(blob) // real header parse
          val hist = dec.features(blob)       // real decode + histogram
          hist.iterator.zipWithIndex.map { case (n, b) =>
            Row(id, dw, dh, b.toLong, n)
          }
        }
      }(enc)
    // no final orderBy (g2's rule, round 18): the output is 16 rows
    // per document — corpus-sized and growing linearly — so a global
    // sort would add a full exchange purely for presentation. The
    // oracle compare sorts rows on both sides; the histogram SET is
    // the operator's contract.
    out
  }

  // m5: exact MEDIA dedup — byte-identical blobs collapsed by SHA-256
  // (the multimodal counterpart of d1: re-crawled images / re-encoded
  // copies of the same file). The digest is computed map-side in the
  // same mapPartitions batch a real decoder runs in, and the ONE
  // exchange is keyed on the digest: 32-byte (digest, id) rows, never
  // blob bytes — at 100 TB of media that is the difference between
  // shuffling KBs and shuffling the corpus. Unlike d1's xxhash64,
  // SHA-256 needs no collision-resolve path (2^-128 birthday bound —
  // cryptographically impossible), which is exactly why content-
  // addressed stores use it. keeper/n_copies come from a window over
  // the digest partition — same exchange, no second join.
  def m5BlobDedup(s: SparkSession, d: String): DataFrame = {
    // the digest stays raw BinaryType through the exchange (32 bytes;
    // hex-encoding it first would shuffle 64-char strings — 2× the key
    // width on a corpus-sized exchange for presentation's sake)
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("sha", BinaryType, nullable = false),
      StructField("n_bytes", LongType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    val hashed = Tables.documents(s, d)
      .select(col("doc_id"), col("text").cast("binary").as("blob"))
      .mapPartitions { rows =>
        val md = java.security.MessageDigest.getInstance("SHA-256")
        rows.map { r =>
          val blob = r.getAs[Array[Byte]](1)
          md.reset()
          Row(r.getLong(0), md.digest(blob), blob.length.toLong)
        }
      }(enc)
    val w = Window.partitionBy("sha")
    hashed
      .withColumn("keeper_id", min(col("doc_id")).over(w))
      .withColumn("n_copies", count(lit(1)).over(w))
      .select(col("doc_id"), col("keeper_id"), col("n_copies"), col("n_bytes"))
    // corpus-sized output: no presentation sort (g2's rule, r18)
  }

  // m6: blob ⇄ base64 column transforms — the reference serves stored
  // images to its UI as base64 strings (`get-image-base64`,
  // app.py:1293); here that's one codegen'd expression pair
  // (functions.base64 / unbase64). Spark's base64 MIME-chunks lines at
  // 76 chars when spark.sql.chunkBase64String.enabled (the Spark 4
  // default); the translate() strips the CRLFs so the emitted string
  // is canonical RFC 4648 in ANY session — the same form DuckDB's
  // base64() emits, which is what makes the round trip
  // oracle-expressible (unbase64 decodes both forms). Map-only: no
  // exchange, no UDF; encoding 100 TB of blobs is embarrassingly
  // parallel scan work. roundtrip_ok pins decode(encode(x)) == x IN
  // THE PLAN, so a regression in either direction fails the hash
  // match, not just a spec.
  def m6Base64(s: SparkSession, d: String): DataFrame = {
    def enc(c: org.apache.spark.sql.Column) =
      translate(base64(c), "\r\n", "")
    Tables.documents(s, d)
      .select(col("doc_id"), col("text").cast("binary").as("blob"))
      .select(col("doc_id"), enc(col("blob")).as("b64"),
        (unbase64(enc(col("blob"))) === col("blob")).as("roundtrip_ok"))
      .orderBy("doc_id")
  }

  // m7: content-defined chunking (CDC) — the blob-level delta-dedup
  // primitive (rsync/LBFS/FastCDC shape): chunk boundaries are a pure
  // function of LOCAL content, so an insertion early in a re-crawled
  // blob shifts every fixed-size block but leaves every downstream
  // CDC boundary — and therefore every downstream chunk digest —
  // intact; m5 then dedups at chunk granularity instead of whole-blob.
  // The boundary rule is a gear hash over a 2-byte window — boundary
  // iff the mixed pair hash lands in the LOW 1/64 of the 31-bit range
  // (multiplicative hashing mixes into the HIGH bits; a `mod 64 == 0`
  // cut would read the unmixed low bits, which collapse to a bijection
  // of the second byte alone — degenerate, one chunk per doc).
  // ~64-byte expected chunks; a production deployment widens the
  // window to 48-64 bytes and adds min/max clamps — identical plan,
  // bigger constant. Window-2 keeps the oracle an exact per-char SQL
  // replay (d5's precedent).
  // FULLY DECLARATIVE: the codegen'd GearChunks expression computes
  // the whole chunk MANIFEST (off, len, sha) in ONE blob traversal —
  // the entire byte pass stays inside whole-stage codegen with no
  // mapPartitions and no UDF (unlike m1/m5, whose MessageDigest
  // batch shape stands in for a real decoder), and the blob is
  // dropped BEFORE the explode (a cuts-then-substring form recopies
  // the blob once per chunk through the generator — measured 0.71 s
  // vs 0.49 s at sf0.1; GearCuts remains registered for SQL users
  // who only need boundaries). Digests go raw 32-byte BINARY through
  // the corpus-wide exchange (m5's key-width lesson), hex is
  // presentation in the final select. ASCII-precondition: the oracle
  // walks code points, the operator walks bytes — equal on this
  // corpus (RollingHash's documented assumption).
  private[graft] def cdcChunks(bin: DataFrame): DataFrame =
    bin.select(col("doc_id"),
        posexplode(GraftFunctions.gear_chunks(col("blob"))).as(Seq("k", "c")))
      .select(col("doc_id"), (col("k") + 1).cast("long").as("chunk_idx"),
        col("c.off").cast("long").as("off"),
        col("c.len").cast("long").as("len"),
        col("c.sha").as("sha"))

  def m7CdcChunks(s: SparkSession, d: String): DataFrame = {
    val chunks = cdcChunks(Tables.documents(s, d)
      .select(col("doc_id"), col("text").cast("binary").as("blob")))
    val w = Window.partitionBy("sha")
    chunks.withColumn("n_copies", count(lit(1)).over(w))
      .select(col("doc_id"), col("chunk_idx"), col("off"), col("len"),
        lower(hex(col("sha"))).as("sha_hex"), col("n_copies"))
    // chunk-grain (~6× corpus) output: no presentation sort (g2's
    // rule, r18)
  }

  // d8: embedding-cosine near-dup pairs — candidates from the e2
  // hyperplane buckets (pairs must share a bucket), exact CosineSim
  // after. The corpus has no true near-dups (max pairwise cosine
  // ~0.51), so tau = 0.4 keeps the operator observable; at 100 TB the
  // bucket join is the whole point (no corpus x corpus pass).
  // Rows-only (hash-derived hyperplanes aren't SQL-expressible).
  // Candidates are pairs whose buckets are equal OR one sign-flip
  // apart (side a explodes its 1-flip probe set; ham<=1 in the 4-bit
  // signature). One hyperplane splitting a near-dup pair no longer
  // hides it: recall vs brute force goes 0.21 -> 0.59 on this corpus
  // at 5× bounded candidate cost (spec asserts the floor). Exact
  // CosineSim still decides membership. At 100 TB: more hyperplane
  // bits, same 1-flip probe set — probed fraction shrinks while
  // near-miss coverage holds.
  def d8EmbeddingNearDup(s: SparkSession, d: String): DataFrame = {
    val emb = bucketed(s, d)
    emb.select(col("bucket"), col("vec_id").as("id_a"), col("embedding").as("emb_a"))
      .withColumn("bucket", explode(expr(
        "array(bucket, bucket ^ 1, bucket ^ 2, bucket ^ 4, bucket ^ 8)")))
      .join(emb.select(col("bucket"), col("vec_id").as("id_b"), col("embedding").as("emb_b")),
            Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine", GraftFunctions.cosine_sim(col("emb_a"), col("emb_b")))
      .filter(col("cosine") >= 0.4)
      .select(col("id_a"), col("id_b"), col("cosine"))
      .distinct()
      .orderBy("id_a", "id_b")
  }

  // d24: semantic dedup — SemDeDup re-expressed: exact dedup (d1)
  // and MinHash (d6) can't see paraphrases whose wording differs;
  // the semantic pass drops embedding-space near-duplicates instead.
  // Cluster with the e4 coarse quantizer (k-means trained on a
  // bounded hash-sample), then WITHIN each cluster drop every vector
  // whose cosine to a lower-id member is >= tau — the
  // overlap-dominated parallel variant of SemDeDup's per-cluster
  // sweep (greedy is order-serial; same documented divergence as
  // g7's NMS). 100 TB: the pairwise pass is per-cell — with k ≈ √N
  // centroids a cell holds ~√N vectors, so the quadratic work is
  // Σ n_c² ≈ N^1.5 spread across cells, never a corpus×corpus join;
  // the one corpus exchange is keyed on the 8-byte cell id. Scoring
  // is the exact quantized long-dot arithmetic e1/e4 share, so the
  // spec can brute-verify the dominated rule bit-exactly. Rows-only
  // (k-means clustering isn't SQL-expressible).
  def d24SemanticDedup(s: SparkSession, d: String, k: Int = 10,
                       tau: Double = 0.4, iters: Int = 5): DataFrame = {
    val emb = quantized(s, d)
    val assigned = assignCells(emb, kmeansCentroids(s, emb, k, iters))
    val pairs = assigned
      .select(col("cid"), col("vec_id").as("id_a"),
              col("q").as("qa"), col("nrm").as("na"))
      .join(assigned.select(col("cid"), col("vec_id").as("id_b"),
              col("q").as("qb"), col("nrm").as("nb")), Seq("cid"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine",
        GraftFunctions.long_dot(col("qa"), col("qb")).cast("double") /
          (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))))
      .filter(col("cosine") >= tau)
    val dropped = pairs.groupBy(col("id_b").as("vec_id"))
      .agg(min(col("id_a")).as("dup_of"), max(col("cosine")).as("max_cos"))
    assigned.select("vec_id", "cid")
      .join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"), col("dup_of").isNull.as("kept"),
              col("dup_of"), col("max_cos"))
      .orderBy("vec_id")
  }

  // m2: multimodal frame sampler — each decoder-emitted frame becomes
  // a row with its digest, from mapPartitions (the batched shape a
  // video frame-sampler needs); frames come from the [[BlobDecoder]]
  // (StubDecoder: 64-byte slices, the documented deterministic fake).
  def m2FrameSample(s: SparkSession, d: String,
                    dec: BlobDecoder = StubDecoder): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("frame_idx", LongType, nullable = false),
      StructField("frame_sha", StringType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    val bin = Tables.documents(s, d)
      .select(col("doc_id"), col("text").cast("binary").as("blob"))
    bin.mapPartitions { rows =>
      val md = java.security.MessageDigest.getInstance("SHA-256")
      rows.flatMap { r =>
        val id = r.getLong(0)
        val blob = r.getAs[Array[Byte]](1)
        dec.frames(blob).zipWithIndex.map { case (frame, i) =>
          md.reset()
          val hex = md.digest(frame).map("%02x".format(_)).mkString
          Row(id, i.toLong, hex)
        }
      }
    }(enc)
  }

  // m3: multimodal feature extraction — a fixed-width feature vector
  // per blob (StubDecoder: a 16-bin byte histogram; a real extractor
  // returns a CLIP pooled embedding or color histogram through the
  // same contract). Runs in mapPartitions like m1/m2 (batched decoder
  // shape); emitted as (doc_id, bin, n) rows so downstream joins/aggs
  // stay columnar. The stub is deterministic, so the oracle
  // reproduces it with unicode() arithmetic (byte == code point on
  // the ASCII corpus).
  def m3FeatureExtract(s: SparkSession, d: String,
                       dec: BlobDecoder = StubDecoder): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("bin", LongType, nullable = false),
      StructField("n", LongType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    Tables.documents(s, d)
      .select(col("doc_id"), col("text").cast("binary").as("blob"))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val id = r.getLong(0)
          val hist = dec.features(r.getAs[Array[Byte]](1))
          hist.iterator.zipWithIndex.collect {
            case (c, b) if c > 0 => Row(id, b.toLong, c)
          }
        }
      }(enc)
  }

  // m8: perceptual-hash near-dup detection for blobs — the MEDIA
  // twin of d7's SimHash: a dHash-style 16-bit GRADIENT hash (bit i
  // compares consecutive strided samples — exactly how image dHash
  // compares adjacent downscaled pixels; a histogram aHash is
  // DEGENERATE here because every blob in a homogeneous corpus has
  // the same above-mean bins, collapsing all hashes to one value and
  // the "near-dup" set to all-pairs), then near-dup pairs within
  // Hamming ≤ 2 via 4×4-bit block LSH (pigeonhole: ≤ 2 flipped bits
  // touch ≤ 2 blocks, so ≥ 2 of 4 blocks match exactly — sharing any
  // block key catches every pair; d7's argument at media scale, no
  // corpus×corpus pass). The hash is one codegen'd map expression —
  // no mapPartitions, no UDF. Fully ORACLED: integer arithmetic
  // DuckDB replays, and the oracle states the BRUTE Hamming join, so
  // the LSH must find exactly those pairs.
  // `bits` is the SCALE dial (e9's adaptive-width lesson applied to
  // Hamming LSH): the 4-block candidate join touches Σ over block
  // keys of (bucket size)² ≈ N²/2^(bits/4) pairs per block — a FIXED
  // width is quadratic in N (the round-7 10× probe measured 4.1× at
  // bits=16), so the width now turns ITSELF: bits ≤ 0 (the declared
  // default) derives the fingerprint width from the parquet FOOTER
  // row count (no Spark job — e9's sizing trick) via m8Bits, so a
  // growing corpus widens the fingerprint (more strided samples →
  // more gradient bits → 2^(bits/4) block keys) and total candidate
  // work stays ~4·64·N. The floor of 16 keeps small corpora in a
  // dense hash space where near-collisions still occur; real
  // near-dup blobs match at any width. ham ≤ 2 over 4 blocks is
  // pigeonhole-complete at every width. The DuckDB oracle derives
  // the SAME width from its own count(*) (pure-integer bin-length
  // arithmetic both engines share), so the brute Hamming replay
  // stays hash-exact at every SF.
  private[graft] def m8Bits(n: Long): Int = {
    // smallest multiple of 4 whose 2^(bits/4) block keys keep the
    // EXPECTED per-block bucket population ≤ 64 (candidates per
    // block ≈ N·pop — linear once pop is a constant), floored at 16
    // (hash density for small corpora), capped at 60 (4-block keys
    // must pack in a sign-free Long)
    val target = (math.max(1L, n) + 63) / 64 // ceil(N/64) buckets
    val b = if (target <= 1) 0
            else 64 - java.lang.Long.numberOfLeadingZeros(target - 1)
    math.min(60, math.max(16, 4 * b))
  }

  private[graft] def m8Phash(s: SparkSession, d: String,
                             bits: Int = 0): DataFrame = {
    val w = if (bits > 0) bits
            else m8Bits(Tables.parquetRowCount(s, s"$d/documents.parquet"))
    require(w >= 4 && w <= 60 && w % 4 == 0,
      "bits must be a multiple of 4 in [4, 60]")
    m8PhashAt(s, d, w)
  }

  // the codegen'd one-pass StridedDHash replaces the generated
  // aggregate-over-sequence form (O(bits·len) per row + a Janino
  // compile that grew with the adaptive width); bit-identical —
  // CodegenSpec sweeps the two forms against each other
  private def m8PhashAt(s: SparkSession, d: String, bits: Int): DataFrame =
    Tables.documents(s, d).select(col("doc_id"),
      GraftFunctions.strided_dhash(col("text"), bits).as("phash"))

  /** The retired HOF form of the phash — kept as the SPEC's oracle:
    * the SQL arithmetic DuckDB replays, which StridedDHash must match
    * bit-for-bit at every width (CodegenSpec).
    */
  private[graft] def m8PhashHof(s: SparkSession, d: String,
                                bits: Int): DataFrame = {
    val k = bits + 1
    Tables.documents(s, d).select(col("doc_id"), expr(
      s"aggregate(sequence(0, ${bits - 1}), 0L, (acc, i) -> acc + " +
        s"if(ascii(substring(text, least(1 + i * greatest(1, " +
        s"length(text) div $k), length(text)), 1)) < " +
        s"ascii(substring(text, least(1 + (i + 1) * greatest(1, " +
        s"length(text) div $k), length(text)), 1)), " +
        "shiftleft(1L, cast(i as int)), 0L))").as("phash"))
  }

  def m8PhashNeardup(s: SparkSession, d: String, maxHam: Int = 2,
                     bits: Int = 0): DataFrame = {
    val w = if (bits > 0) bits
            else m8Bits(Tables.parquetRowCount(s, s"$d/documents.parquet"))
    val ph = m8Phash(s, d, w)
    val bb = w / 4 // block width; 4 blocks cover ham <= 2
    val blocks = ph.select(col("doc_id"), col("phash"),
      explode(expr(s"transform(sequence(0, 3), b -> struct(b as blk, " +
        s"(phash div shiftleft(1L, cast($bb * b as int))) % ${1L << bb} as bkey))")).as("bb"))
      .select(col("doc_id"), col("phash"), col("bb.blk"), col("bb.bkey"))
    // a ham≤2 pair shares ≥2 exact block keys, so the equi-join
    // yields it 2-4 times. The dedupe used to be a .distinct() — one
    // MORE exchange over the candidate set; instead each pair is
    // kept only in its CANONICAL (lowest-index) matching block,
    // computable map-side from the xor (block b matches iff its bb
    // bits of ph_a^ph_b are all zero) — zero extra exchange, rows
    // are unique by construction (one row per doc per block).
    blocks.select(col("blk"), col("bkey"), col("doc_id").as("doc_a"),
        col("phash").as("ph_a"))
      .join(blocks.select(col("blk"), col("bkey"), col("doc_id").as("doc_b"),
        col("phash").as("ph_b")), Seq("blk", "bkey"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("xr", expr("ph_a ^ ph_b"))
      .withColumn("hamming", expr("cast(bit_count(xr) as bigint)"))
      .filter(col("hamming") <= maxHam)
      .filter(col("blk") === expr(
        s"element_at(filter(sequence(0, 3), b -> " +
          s"(xr div shiftleft(1L, cast($bb * b as int))) % ${1L << bb} = 0), 1)"))
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  // m4: multimodal resize — scale the decoder's (width, height) to
  // fit a 32×32 box preserving aspect (integer arithmetic), plus a
  // "thumbnail" digest: every k-th code point (k = ceil(len/64))
  // rolling-hashed — the sample-then-summarize shape of a real
  // thumbnailer, with arithmetic the oracle replays exactly.
  // Dimensions come from the [[BlobDecoder]] (m1's contract); the
  // thumbnail sampling is operator logic, not decode.
  def m4Resize(s: SparkSession, d: String,
               dec: BlobDecoder = StubDecoder): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("out_w", LongType, nullable = false),
      StructField("out_h", LongType, nullable = false),
      StructField("thumb_hash", LongType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    Tables.documents(s, d).select(col("doc_id"), col("text"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val text = r.getString(1)
          val n = text.length.toLong
          val (w, h) = dec.dimensions(
            text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          val side = math.max(w, h)
          val k = ((n + 63) / 64).toInt // sample stride
          var hash = 0L
          var i = 0
          while (i < text.length) {
            hash = (hash * 31 + text.charAt(i).toLong) % 1000000007L
            i += k
          }
          Row(id, w * 32 / side, h * 32 / side, hash)
        }
      }(enc)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m3_feature_extract" -> ((s: SparkSession, d: String) => m3FeatureExtract(s, d)),
    "m4_resize" -> ((s: SparkSession, d: String) => m4Resize(s, d)),
    "d8_embedding_neardup" -> (d8EmbeddingNearDup _),
    "d24_semantic_dedup" -> ((s: SparkSession, d: String) => d24SemanticDedup(s, d)),
    "m2_frame_sample" -> ((s: SparkSession, d: String) => m2FrameSample(s, d)),
    "e1_knn_brute" -> (e1KnnBrute _),
    "e14_filtered_knn" -> (e14FilteredKnn _),
    "e15_hybrid_rrf" -> (e15HybridRrf _),
    "e16_rerank_cascade" -> (e16RerankCascade _),
    "e17_index_removal" -> (e17IndexRemoval _),
    "e2_knn_lsh" -> (e2KnnLsh _),
    "e4_knn_ivf" -> ((s: SparkSession, d: String) => e4KnnIvf(s, d)),
    "e6_mmr_rerank" -> ((s: SparkSession, d: String) => e6MmrRerank(s, d)),
    "e7_pq_ann" -> ((s: SparkSession, d: String) => e7PqAnn(s, d)),
    "e8_knn_ivfpq" -> ((s: SparkSession, d: String) => e8KnnIvfPq(s, d)),
    "e3_centroids" -> (e3Centroids _),
    "m1_binary_meta" -> ((s: SparkSession, d: String) => m1BinaryMeta(s, d)),
    "m5_blob_dedup" -> (m5BlobDedup _),
    "m6_base64" -> (m6Base64 _),
    "m7_cdc_chunks" -> (m7CdcChunks _),
    "m8_phash_neardup" -> ((s: SparkSession, d: String) => m8PhashNeardup(s, d)),
    "m9_imageio_histogram" -> (m9ImageioHistogram _),
    "e10_diversity_sample" ->
      ((s: SparkSession, d: String) => e10DiversitySample(s, d)),
    "e9_knn_graph" -> (e9KnnGraph _),
    "e11_graph_ann" -> ((s: SparkSession, d: String) => e11GraphAnn(s, d)),
    "e12_incremental_ann" -> (e12IncrementalAnn _),
    "e13_ann_report" -> (e13AnnReport _),
  )

  /** e6's oracle: the greedy MMR trace unrolled step by step (the
    * same fixed-k unroll the operator itself uses), over the shared
    * exact-integer cosine arithmetic — generated here so step SQL
    * can't drift between iterations.
    */
  private val E6OracleSql: String = {
    val head =
      """WITH v AS (
        |  SELECT vec_id, i,
        |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS q
        |  FROM embeddings, range(1, 65) t(i) WHERE i <= len(embedding)),
        |n AS (SELECT vec_id, CAST(SUM(q * q) AS BIGINT) AS nrm FROM v GROUP BY 1),
        |d AS (
        |  SELECT a.vec_id AS qid, b.vec_id AS nid, CAST(SUM(a.q * b.q) AS BIGINT) AS dot
        |  FROM v a JOIN v b ON a.i = b.i AND a.vec_id < 10 AND b.vec_id <> a.vec_id
        |  GROUP BY 1, 2),
        |relc AS (
        |  SELECT qid, nid,
        |    CAST(dot AS DOUBLE) /
        |      (sqrt(CAST(na.nrm AS DOUBLE)) * sqrt(CAST(nb.nrm AS DOUBLE))) AS rel
        |  FROM d JOIN n na ON na.vec_id = qid JOIN n nb ON nb.vec_id = nid),
        |cand AS (
        |  SELECT qid, nid, rel FROM (
        |    SELECT qid, nid, rel,
        |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rel DESC, nid) AS rn
        |    FROM relc) t WHERE rn <= 20),
        |pd AS (
        |  SELECT a.vec_id AS a, b.vec_id AS b, CAST(SUM(a.q * b.q) AS BIGINT) AS dot
        |  FROM v a JOIN v b ON a.i = b.i AND a.vec_id <> b.vec_id
        |  WHERE a.vec_id IN (SELECT nid FROM cand)
        |    AND b.vec_id IN (SELECT nid FROM cand)
        |  GROUP BY 1, 2),
        |psim AS (
        |  SELECT a, b,
        |    CAST(dot AS DOUBLE) /
        |      (sqrt(CAST(na.nrm AS DOUBLE)) * sqrt(CAST(nb.nrm AS DOUBLE))) AS sim
        |  FROM pd JOIN n na ON na.vec_id = a JOIN n nb ON nb.vec_id = b),
        |s1 AS (
        |  SELECT qid, nid, rel AS score, CAST(1 AS BIGINT) AS rnk FROM (
        |    SELECT qid, nid, rel,
        |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rel DESC, nid) AS rn
        |    FROM cand) t WHERE rn = 1)""".stripMargin
    def step(t: Int): String = {
      val prev = (1 until t).map(i => s"SELECT qid, nid FROM s$i")
        .mkString(" UNION ALL ")
      s""",
         |s$t AS (
         |  SELECT qid, nid, score, CAST($t AS BIGINT) AS rnk FROM (
         |    SELECT qid, nid, score,
         |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS rn
         |    FROM (
         |      SELECT c.qid, c.nid, 0.5 * c.rel - 0.5 * MAX(p.sim) AS score
         |      FROM cand c
         |      JOIN ($prev) sel ON sel.qid = c.qid
         |      JOIN psim p ON p.a = c.nid AND p.b = sel.nid
         |      LEFT JOIN ($prev) x ON x.qid = c.qid AND x.nid = c.nid
         |      WHERE x.nid IS NULL
         |      GROUP BY c.qid, c.nid, c.rel) g) t
         |  WHERE rn = 1)""".stripMargin
    }
    val tail =
      """
        |SELECT qid, nid, score, rnk FROM (
        |  SELECT * FROM s1 UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3
        |  UNION ALL SELECT * FROM s4 UNION ALL SELECT * FROM s5) u
        |ORDER BY qid, rnk""".stripMargin
    head + (2 to 5).map(step).mkString + tail
  }

  /** e2 intentionally omitted (hash-derived hyperplanes aren't
    * SQL-expressible); rows-only check + recall spec.
    */
  val oracles: Map[String, String] = Map(
    "e6_mmr_rerank" -> E6OracleSql,
    "m3_feature_extract" ->
      """WITH cp AS (
        |  SELECT doc_id, unicode(text[i]) AS c
        |  FROM documents, range(1, 2049) t(i)
        |  WHERE i <= length(text))
        |SELECT doc_id,
        |  CAST(LEAST(c // 8, 15) AS BIGINT) AS bin, COUNT(*) AS n
        |FROM cp GROUP BY 1, 2 ORDER BY doc_id, bin""".stripMargin,
    "m4_resize" ->
      """WITH dims AS (
        |  SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n,
        |    CAST(octet_length(CAST(text AS BLOB)) % 64 + 16 AS BIGINT) AS w,
        |    CAST(octet_length(CAST(text AS BLOB)) % 48 + 12 AS BIGINT) AS h,
        |    CAST((length(text) + 63) // 64 AS BIGINT) AS k
        |  FROM documents)
        |SELECT doc_id,
        |  w * 32 // GREATEST(w, h) AS out_w,
        |  h * 32 // GREATEST(w, h) AS out_h,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(0, CAST((n + k - 1) // k AS INTEGER)),
        |                     i -> CAST(unicode(text[CAST(i * k + 1 AS INTEGER)]) AS BIGINT))),
        |    (a, c) -> (a * 31 + c) % 1000000007) AS thumb_hash
        |FROM dims ORDER BY doc_id""".stripMargin,
    "e17_index_removal" ->
      """WITH v AS (
        |  SELECT vec_id, i,
        |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS q
        |  FROM embeddings, range(1, 65) t(i) WHERE i <= len(embedding)),
        |n AS (SELECT vec_id, CAST(SUM(q * q) AS BIGINT) AS nrm FROM v GROUP BY 1),
        |d AS (
        |  SELECT a.vec_id AS qid, b.vec_id AS nid, CAST(SUM(a.q * b.q) AS BIGINT) AS dot
        |  FROM v a JOIN v b ON a.i = b.i AND a.vec_id < 10
        |    AND b.vec_id <> a.vec_id AND b.vec_id % 9 <> 2
        |  GROUP BY 1, 2),
        |c AS (
        |  SELECT qid, nid,
        |    CAST(dot AS DOUBLE) /
        |      (sqrt(CAST(na.nrm AS DOUBLE)) * sqrt(CAST(nb.nrm AS DOUBLE))) AS cosine
        |  FROM d JOIN n na ON na.vec_id = qid JOIN n nb ON nb.vec_id = nid)
        |SELECT qid, nid, cosine, rnk FROM (
        |  SELECT qid, nid, cosine,
        |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rnk
        |  FROM c) t
        |WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin,
    "e16_rerank_cascade" ->
      """WITH v AS (
        |  SELECT vec_id, i,
        |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS q
        |  FROM embeddings, range(1, 65) t(i) WHERE i <= len(embedding)),
        |n AS (SELECT vec_id, CAST(SUM(q * q) AS BIGINT) AS nrm FROM v GROUP BY 1),
        |p AS (
        |  SELECT a.vec_id AS qid, b.vec_id AS nid, CAST(SUM(a.q * b.q) AS BIGINT) AS pdot
        |  FROM v a JOIN v b ON a.i = b.i AND a.i <= 8
        |    AND a.vec_id < 10 AND b.vec_id <> a.vec_id
        |  GROUP BY 1, 2),
        |cand AS (
        |  SELECT qid, nid FROM (
        |    SELECT qid, nid,
        |      ROW_NUMBER() OVER (PARTITION BY qid
        |        ORDER BY CAST(pdot AS DOUBLE) DESC, nid) AS crnk
        |    FROM p) t WHERE crnk <= 50),
        |d AS (
        |  SELECT c.qid, c.nid, CAST(SUM(a.q * b.q) AS BIGINT) AS dot
        |  FROM cand c JOIN v a ON a.vec_id = c.qid
        |    JOIN v b ON b.vec_id = c.nid AND b.i = a.i
        |  GROUP BY 1, 2),
        |cs AS (
        |  SELECT qid, nid,
        |    CAST(dot AS DOUBLE) /
        |      (sqrt(CAST(na.nrm AS DOUBLE)) * sqrt(CAST(nb.nrm AS DOUBLE))) AS cosine
        |  FROM d JOIN n na ON na.vec_id = qid JOIN n nb ON nb.vec_id = nid)
        |SELECT qid, nid, cosine, rnk FROM (
        |  SELECT qid, nid, cosine,
        |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rnk
        |  FROM cs) t
        |WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin,
    "e15_hybrid_rrf" ->
      """WITH v AS (
        |  SELECT vec_id, i,
        |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS q
        |  FROM embeddings, range(1, 65) t(i) WHERE i <= len(embedding)),
        |nm AS (SELECT vec_id, CAST(SUM(q * q) AS BIGINT) AS nrm FROM v GROUP BY 1),
        |dd AS (
        |  SELECT a.vec_id AS qid, b.vec_id AS nid, CAST(SUM(a.q * b.q) AS BIGINT) AS dot
        |  FROM v a JOIN v b ON a.i = b.i AND a.vec_id < 10 AND b.vec_id <> a.vec_id
        |  GROUP BY 1, 2),
        |dc AS (
        |  SELECT qid, nid,
        |    CAST(dot AS DOUBLE) /
        |      (sqrt(CAST(na.nrm AS DOUBLE)) * sqrt(CAST(nb.nrm AS DOUBLE))) AS cosine
        |  FROM dd JOIN nm na ON na.vec_id = qid JOIN nm nb ON nb.vec_id = nid),
        |dr AS (
        |  SELECT qid, nid,
        |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rnk
        |  FROM dc),
        |t0 AS (
        |  SELECT doc_id, list_distinct(list_transform(range(0, len(w)-2),
        |    i -> array_to_string(w[i+1:i+3], ' '))) AS sh
        |  FROM (SELECT doc_id,
        |          list_filter(string_split(text, ' '), x -> x != '') AS w
        |        FROM documents)
        |  WHERE len(w) >= 3),
        |sp AS (SELECT doc_id, unnest(sh) AS g FROM t0),
        |nc AS (SELECT COUNT(DISTINCT doc_id) AS n FROM sp),
        |df AS (SELECT g, COUNT(*) AS df FROM sp GROUP BY 1),
        |keep AS (SELECT g FROM df CROSS JOIN nc WHERE df.df * 10 <= nc.n),
        |tt AS (SELECT * FROM sp WHERE g IN (SELECT g FROM keep)),
        |sc AS (
        |  SELECT q.doc_id AS qid, c.doc_id AS nid, COUNT(*) AS score
        |  FROM tt q JOIN tt c ON q.g = c.g
        |  WHERE q.doc_id < 10 AND c.doc_id <> q.doc_id
        |  GROUP BY 1, 2),
        |sr AS (
        |  SELECT qid, nid,
        |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS rnk
        |  FROM sc),
        |u AS (
        |  SELECT qid, nid, rnk FROM dr WHERE rnk <= 10
        |  UNION ALL
        |  SELECT qid, nid, rnk FROM sr WHERE rnk <= 10),
        |f AS (
        |  SELECT qid, nid, SUM(1.0 / (60.0 + rnk)) AS rrf
        |  FROM u GROUP BY 1, 2)
        |SELECT qid, nid, rrf, CAST(rnk AS BIGINT) AS rnk FROM (
        |  SELECT qid, nid, rrf,
        |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rrf DESC, nid) AS rnk
        |  FROM f) z
        |WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin,
    "e14_filtered_knn" ->
      """WITH v AS (
        |  SELECT vec_id, label, i,
        |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS q
        |  FROM embeddings, range(1, 65) t(i) WHERE i <= len(embedding)),
        |n AS (SELECT vec_id, CAST(SUM(q * q) AS BIGINT) AS nrm FROM v GROUP BY 1),
        |d AS (
        |  SELECT a.vec_id AS qid, b.vec_id AS nid, CAST(SUM(a.q * b.q) AS BIGINT) AS dot
        |  FROM v a JOIN v b ON a.i = b.i AND a.vec_id < 10
        |    AND b.vec_id <> a.vec_id AND b.label % 3 = 1
        |  GROUP BY 1, 2),
        |c AS (
        |  SELECT qid, nid,
        |    CAST(dot AS DOUBLE) /
        |      (sqrt(CAST(na.nrm AS DOUBLE)) * sqrt(CAST(nb.nrm AS DOUBLE))) AS cosine
        |  FROM d JOIN n na ON na.vec_id = qid JOIN n nb ON nb.vec_id = nid)
        |SELECT qid, nid, cosine, rnk FROM (
        |  SELECT qid, nid, cosine,
        |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rnk
        |  FROM c) t
        |WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin,
    "e1_knn_brute" ->
      """WITH v AS (
        |  SELECT vec_id, i,
        |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS q
        |  FROM embeddings, range(1, 65) t(i) WHERE i <= len(embedding)),
        |n AS (SELECT vec_id, CAST(SUM(q * q) AS BIGINT) AS nrm FROM v GROUP BY 1),
        |d AS (
        |  SELECT a.vec_id AS qid, b.vec_id AS nid, CAST(SUM(a.q * b.q) AS BIGINT) AS dot
        |  FROM v a JOIN v b ON a.i = b.i AND a.vec_id < 10 AND b.vec_id <> a.vec_id
        |  GROUP BY 1, 2),
        |c AS (
        |  SELECT qid, nid,
        |    CAST(dot AS DOUBLE) /
        |      (sqrt(CAST(na.nrm AS DOUBLE)) * sqrt(CAST(nb.nrm AS DOUBLE))) AS cosine
        |  FROM d JOIN n na ON na.vec_id = qid JOIN n nb ON nb.vec_id = nid)
        |SELECT qid, nid, cosine, rnk FROM (
        |  SELECT qid, nid, cosine,
        |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rnk
        |  FROM c) t
        |WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin,
    "e3_centroids" ->
      """WITH v AS (
        |  SELECT label, i,
        |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS q
        |  FROM embeddings, range(1, 65) t(i) WHERE i <= len(embedding))
        |SELECT label, i,
        |  CAST(CAST(SUM(q) AS BIGINT) AS DOUBLE) / COUNT(*) / 1000.0 AS centroid
        |FROM v GROUP BY label, i ORDER BY label, i""".stripMargin,
    "m2_frame_sample" ->
      """SELECT doc_id, CAST(i AS BIGINT) AS frame_idx,
        |  sha256(substr(text, i * 64 + 1, 64)) AS frame_sha
        |FROM documents, range(0, 32) t(i)
        |WHERE i < (strlen(text) + 63) // 64
        |ORDER BY doc_id, frame_idx""".stripMargin,
    "m6_base64" ->
      """SELECT doc_id, base64(encode(text)) AS b64,
        |  decode(from_base64(base64(encode(text)))) = text AS roundtrip_ok
        |FROM documents ORDER BY doc_id""".stripMargin,
    "m9_imageio_histogram" ->
      """WITH docs AS (
        |  SELECT doc_id, doc_id % 7 + 8 AS w, doc_id % 5 + 6 AS h
        |  FROM documents),
        |px AS (
        |  SELECT d.doc_id,
        |    ((d.doc_id * 31 + x.i * 7 + y.i * 13) % 256) // 16 AS bin
        |  FROM docs d, range(0, 16) x(i), range(0, 16) y(i)
        |  WHERE x.i < d.w AND y.i < d.h),
        |counts AS (
        |  SELECT doc_id, bin, count(*) AS n_px FROM px GROUP BY 1, 2)
        |SELECT d.doc_id, CAST(d.w AS BIGINT) AS width,
        |  CAST(d.h AS BIGINT) AS height, CAST(b.i AS BIGINT) AS bin,
        |  COALESCE(c.n_px, 0) AS n_px
        |FROM docs d CROSS JOIN range(0, 16) b(i)
        |LEFT JOIN counts c ON c.doc_id = d.doc_id AND c.bin = b.i
        |ORDER BY d.doc_id, bin""".stripMargin,
    "m1_binary_meta" ->
      """SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
        |  sha256(text) AS sha_hex,
        |  CAST(strlen(text) % 64 + 16 AS BIGINT) AS width,
        |  CAST(strlen(text) % 48 + 12 AS BIGINT) AS height
        |FROM documents ORDER BY doc_id""".stripMargin,
    "m5_blob_dedup" ->
      """WITH h AS (
        |  SELECT doc_id, sha256(text) AS sha,
        |    CAST(strlen(text) AS BIGINT) AS n_bytes
        |  FROM documents)
        |SELECT doc_id,
        |  MIN(doc_id) OVER (PARTITION BY sha) AS keeper_id,
        |  COUNT(*) OVER (PARTITION BY sha) AS n_copies,
        |  n_bytes
        |FROM h ORDER BY doc_id""".stripMargin,
    "m8_phash_neardup" ->
      """WITH cfg AS (
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
        |  FROM documents, cfg)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
        |FROM ph a JOIN ph b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.phash, b.phash)) <= 2
        |ORDER BY doc_a, doc_b""".stripMargin,
    "m7_cdc_chunks" ->
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
        |  SELECT doc_id, chunk_idx, CAST(pe + 1 AS BIGINT) AS off,
        |    CAST(e - pe AS BIGINT) AS len, sha256(text[pe+1:e]) AS sha_hex
        |  FROM ch)
        |SELECT doc_id, chunk_idx, off, len, sha_hex,
        |  COUNT(*) OVER (PARTITION BY sha_hex) AS n_copies
        |FROM h ORDER BY doc_id, chunk_idx""".stripMargin,
  )
}
