package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Gate, Tables}

/** Event/time-series operators: the reference's components/lines JSON
  * handling (`app.py:2219-2289`) and its union-find connectivity pass
  * (`app.py:1467-1543`) re-expressed as distributed plans, plus the
  * sessionization/window/funnel set any event pipeline needs.
  *
  * Timestamps are floored to epoch seconds (`unix_timestamp`) before
  * arithmetic so results are integer-exact and independent of the
  * parquet ns- vs micro-precision gap between engines.
  */
object Events {

  private def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(18,2)")

  /** events with `ts` (raw nanos, see Tables.events) floored to epoch
    * seconds (`ts_s`) and truncated to a micros timestamp (`ts_us`).
    */
  private def ev(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select(
      col("event_id"), col("user_id"), col("event_type"), col("value"),
      col("props"), expr("ts div 1000000000").as("ts_s"),
      expr("timestamp_micros(ts div 1000)").as("ts_us"))

  // q21: gap-based sessionization (30-min inactivity). One shuffle on
  // user_id; lag + running sum stay within the partition.
  def q21Sessionize(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_s", "event_id")
    ev(s, d)
      .withColumn("prev", lag("ts_s", 1).over(w))
      .withColumn("new_sess",
        when(col("prev").isNull || col("ts_s") - col("prev") > 1800, 1)
          .otherwise(0))
      .withColumn("sess_id",
        sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id")
      .agg(max("sess_id").as("n_sessions"), count(lit(1)).as("n_events"))
    // user-grain output (linear in users): no presentation sort
    // (g2's rule, r18)
  }

  // q22: tumbling-hour aggregation (batch twin of streaming s1).
  def q22EventWindow(s: SparkSession, d: String): DataFrame =
    ev(s, d)
      .groupBy(date_format(col("ts_us"), "yyyy-MM-dd HH:00").as("hour"),
               col("event_type"))
      .agg(count(lit(1)).as("n"),
           sum(dec(col("value"))).cast("double").as("total_value"))
      // hour×type grain grows with the time span: no presentation
      // sort (g2's rule, r18)

  // q23: JSON prop extraction + bucketed aggregation (reference
  // extract_components_from_json re-expressed).
  def q23JsonExtract(s: SparkSession, d: String): DataFrame =
    ev(s, d)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy((col("k") % 10).as("k_bucket"))
      .agg(count(lit(1)).as("n"),
           (sum(dec(col("value"))).cast("double") / count(lit(1)))
             .as("avg_value"))
      .orderBy("k_bucket")

  // q24: signup→purchase funnel via conditional-min — one aggregation,
  // no self-join.
  def q24Funnel(s: SparkSession, d: String): DataFrame =
    ev(s, d)
      .groupBy("user_id")
      .agg(
        min(when(col("event_type") === "signup", col("ts_s"))).as("first_signup"),
        min(when(col("event_type") === "purchase", col("ts_s"))).as("first_purchase"))
      .filter(col("first_signup").isNotNull && col("first_purchase").isNotNull &&
              col("first_signup") < col("first_purchase"))

  /** User ↔ prop-bucket bipartite membership, the g1 graph — the
    * full, unbounded graph (`user_id`, `g` bucket).
    */
  def membership(s: SparkSession, d: String): DataFrame =
    ev(s, d)
      .select(col("user_id"),
              (get_json_object(col("props"), "$.k").cast("long") % 25).as("g"))
      .distinct()

  // g1: connected components — the reference's union-find
  // (`app.py:1467-1543`) as alternating min-label propagation over the
  // user↔bucket bipartite graph. O(diameter) joins, each a keyed
  // shuffle; converges in ~log(n) rounds (the two-sided min hop is the
  // small-star/large-star step). Deterministic: labels are min user_id.
  //
  // Takes the graph as a parameter: oracle-tractability bounds (the
  // DuckDB transitive closure is quadratic in component size) belong
  // to the test harness, not the operator.
  //
  // Iteration hygiene for long chains: each round's labels are
  // `localCheckpoint`ed (eager) — lineage is truncated so the plan
  // stays O(1)-sized across iterations instead of nesting 20 joins.
  // Superseded rounds' checkpoint blocks are NOT explicitly freeable
  // (Dataset.unpersist only consults the CacheManager, which never
  // registered a localCheckpoint's RDD); they are reclaimed by the
  // ContextCleaner as each round's Dataset goes unreferenced — an
  // acceptable lag because a round's labels are just (user_id, comp)
  // pairs, tiny next to the data. The `prev.unpersist()` calls below
  // free the round-0 CACHED labels and are harmless no-ops afterward.
  def g1ConnectedComponents(graph: DataFrame, maxIter: Int = 20): DataFrame = {
    // SMALL-GRAPH FAST PATH (round 18, guide §1.2 — the distributed
    // algorithm first): the min-label loop costs ~6 jobs/round ×
    // diameter rounds, which on the actual small membership sets the
    // cluster callers feed it (near-dup pairs, snap-edge graphs —
    // thousands of rows) is pure scheduling overhead, measured ~2.7 s
    // of d36's 5.1 s at sf0.1. Below a bounded-collect cap the
    // membership is pulled once (Gate.collect — the same bounded-
    // collect discipline as the merge verb's file lists) and labeled
    // by driver union-find with union-by-min (the root of every set
    // stays its minimum member, so find(u) IS the component's min —
    // exactly the loop's fixpoint). Above the cap the distributed
    // loop runs unchanged: the at-scale path. Labels are identical
    // either way — EventsSpec, GateSpec's forced sweep and the
    // g1/g8/g11/d18 oracles hold on both sides of the gate.
    Gate.collect(graph.sparkSession, "g1.twin",
                 graph.select("user_id", "g"), 1000000) match {
      case Some(head) =>
        val parent = new java.util.HashMap[Long, Long]()
        def find(x: Long): Long = {
          var r = x
          while (parent.get(r) != r) r = parent.get(r)
          var c = x
          while (c != r) { val n = parent.get(c); parent.put(c, r); c = n }
          r
        }
        def union(a: Long, b: Long): Unit = {
          val ra = find(a); val rb = find(b)
          if (ra < rb) parent.put(rb, ra)
          else if (rb < ra) parent.put(ra, rb)
        }
        val bucketRep = new java.util.HashMap[Any, Long]()
        head.foreach { r =>
          val u = r.getLong(0)
          if (!parent.containsKey(u)) parent.put(u, u)
          val g = r.get(1)
          if (bucketRep.containsKey(g)) union(u, bucketRep.get(g))
          else bucketRep.put(g, u)
        }
        val sess = graph.sparkSession
        import sess.implicits._
        val labels = head.iterator.map(_.getLong(0)).toArray.distinct
          .map(u => (u, find(u))).toSeq
        return labels.toDF("user_id", "component")
      case None => ()
    }
    // cache the graph for the iteration ONLY if the caller hasn't: a
    // blanket unpersist at the end would otherwise evict the CALLER's
    // cache of the same plan (cache() is a no-op on an already-cached
    // plan, but unpersist drops the shared entry)
    val ownCache =
      graph.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    val m = if (ownCache) graph.cache() else graph
    var labels = m.select(col("user_id")).distinct()
      .withColumn("comp", col("user_id"))
    var prev: DataFrame = null
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // bucket label = min member label; user label = min over buckets
      val gLab = m.join(labels, "user_id")
        .groupBy("g").agg(min("comp").as("gcomp"))
      val next = m.join(gLab, "g")
        .groupBy("user_id").agg(min("gcomp").as("newcomp"))
        .join(labels, "user_id")
        .select(col("user_id"), least(col("comp"), col("newcomp")).as("comp"))
        .localCheckpoint() // eager: materializes + truncates lineage
      val changed = next.join(labels.withColumnRenamed("comp", "old"), "user_id")
        .filter(col("comp") =!= col("old")).count()
      if (prev != null) prev.unpersist()
      prev = labels
      labels = next
      converged = changed == 0
      iter += 1
    }
    if (prev != null && !(prev eq labels)) prev.unpersist()
    if (ownCache) m.unpersist()
    // propagation advances one hop per round: exhausting maxIter on a
    // long-chain graph would return PARTIALLY-propagated labels —
    // split components with no other symptom. Fail loudly instead.
    require(converged,
      s"connected components did not converge in $maxIter rounds — " +
        "graph diameter exceeds the cap; raise maxIter")
    labels.select(col("user_id"), col("comp").as("component"))
  }

  // g6: linked-objects neighborhood (reference GetLinkedObjects,
  // app.py:7078-7167: the objects connected to a given tag, n hops
  // out). g1 labels WHOLE components; this answers the per-seed
  // neighborhood question: all users reachable from each seed within
  // 2 hops of the shared-bucket graph, with the minimum hop count.
  // Two self-joins keyed on (g) and (user_id) — each a bounded-fanout
  // equi-join (bucket sizes bounded by the bucket domain; AQE splits
  // a hot bucket), never a components-wide traversal.
  def g6LinkedObjects(graph: DataFrame, seeds: DataFrame): DataFrame = {
    // the graph feeds FOUR joins below; uncached, each re-runs the
    // events scan + JSON extraction + distinct. Per-query persist,
    // reclaimed by the ContextCleaner once the result is unreferenced
    // (same argument as d6/d7's signature caches) — it cannot be
    // unpersisted here because the returned DataFrame is lazy.
    val m = graph.cache()
    // hop 1: users sharing any bucket with the seed (incl. the seed)
    val h1 = seeds.join(m, "user_id")
      .select(col("user_id").as("seed"), col("g")).distinct()
      .join(m, "g")
      .select(col("seed"), col("user_id").as("linked")).distinct()
    // hop 2: users sharing any bucket with a hop-1 user
    val h2 = h1.withColumnRenamed("linked", "user_id")
      .join(m, "user_id")
      .select(col("seed"), col("g")).distinct()
      .join(m, "g")
      .select(col("seed"), col("user_id").as("linked")).distinct()
    h1.withColumn("hops", lit(1L))
      .unionByName(h2.withColumn("hops", lit(2L)))
      .groupBy("seed", "linked").agg(min("hops").as("hops"))
      .filter(col("seed") =!= col("linked"))
  }

  // q59: ordered sequence-pattern matching (MATCH_RECOGNIZE-lite) —
  // per user, purchases preceded by a STRICTLY-ORDERED view → click →
  // purchase chain inside a 48-hour window (the funnel q24 can't
  // express: q24 only compares min timestamps, any order). The SQL
  // statement of this pattern is a correlated EXISTS over clicks ×
  // views per purchase — O(purchases · clicks · views) per user; here
  // it is ONE user-keyed exchange and two running-state window passes:
  // (1) at each CLICK, the latest strictly-earlier view (RANGE frame
  // to -1 µs makes "strictly" exact under timestamp ties);
  // (2) at each PURCHASE, the latest strictly-earlier click carries
  // that view timestamp along in a struct. Taking the LATEST click is
  // WLOG: if any (view v, click c) pair satisfies v < c < P with
  // P − v ≤ W, then (its v, the last click c*) does too (v < c ≤ c*),
  // so checking c*'s latest-strict-view ≥ P − W decides existence
  // exactly. O(1) state per row, output bounded by users — the shape
  // that survives a 100 TB event log, vs the oracle's EXISTS which is
  // only tractable because per-user event counts are small.
  def q59SeqPattern(s: SparkSession, d: String,
                    windowUs: Long = 172800000000L): DataFrame = {
    // long µs key (not ev()'s timestamp ts_us): the strict-past RANGE
    // frame and the window-length arithmetic both need a numeric key
    val e = Tables.events(s, d).select(col("user_id"), col("event_type"),
      expr("ts div 1000").as("ts_us"))
    val strictPast = Window.partitionBy("user_id").orderBy("ts_us")
      .rangeBetween(Window.unboundedPreceding, -1)
    val chained = e
      .withColumn("lv", last(
        when(col("event_type") === "view", col("ts_us")), ignoreNulls = true)
        .over(strictPast))
      .withColumn("ci", when(col("event_type") === "click",
        struct(col("ts_us").as("cts"), col("lv").as("vts"))))
      .withColumn("lc", last(col("ci"), ignoreNulls = true).over(strictPast))
    chained.filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_purchases"),
        sum(when(col("lc").isNotNull && col("lc.vts").isNotNull &&
          col("ts_us") - col("lc.vts") <= windowUs, 1L).otherwise(0L))
          .as("n_attributed"))
  }

  // q72: HOPPING (sliding) window aggregation — the windowing family
  // member tumbling q22 and session q21 don't cover: 1-hour windows
  // every 15 minutes, so each event lands in exactly width/slide = 4
  // windows (Spark's multi-assign `window(ts, w, s)` generator —
  // epoch-aligned starts, [start, end) membership). The 4× row
  // amplification happens MAP-SIDE into the partial aggregate — the
  // exchange carries (window, type) partials, never 4× events. Money
  // sums in DECIMAL(18,2) (q1's parity rule); the oracle replays the
  // multi-assignment arithmetically (4 covering starts per event).
  def q72HoppingWindow(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("tts", expr("timestamp_micros(ts div 1000)"))
      .groupBy(window(col("tts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(expr("unix_seconds(window.start)").as("win_start_s"),
        col("event_type"), col("n"), col("total_value"))

  // q67: per-type value-outlier detection (3σ rule) with the whole
  // decision in EXACT integer arithmetic — the monitoring/DQ pass
  // that flags anomalous event values. Doubles never aggregate: each
  // value is fixed to micro-units once (round(v·10⁶), an IEEE
  // multiply + half-up round both engines share bit-for-bit), and the
  // z-test |v−μ| > 3σ is cross-multiplied into (vn−S)² > 9(nQ−S²)
  // over decimal(38,0)/int128 sums — no division, no sqrt, no
  // order-dependent float sum, so the flag is hash-stable (the d20
  // bit-stability pattern pushed all the way through a variance).
  // Scale shape: one partial agg to the per-type stats row (types ≪
  // corpus → broadcast), one map-only flagging pass.
  // Per-row work is pure LONG arithmetic: dev² > 9(nQ−S²) is
  // equivalent to |v6·n − S| > isqrt(9(nQ−S²)) for integer dev, and
  // the integer square root is computed ONCE PER TYPE driver-side in
  // BigInt (the stats row count is #types — a bounded collect), so
  // the corpus-sized flagging pass never touches a BigDecimal. The
  // first cut compared dev² in decimal(38,0) per row: 5.8× at 10×
  // data, all of it Java BigDecimal overhead. Long bounds hold while
  // n·max|v6| < 2⁶³ (~10¹⁸ micro-units·rows — beyond that, shard the
  // stats by day/type or lift dev to decimal); the loud require
  // guards the assumption instead of silently wrapping.
  def q67ValueOutliers(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("event_type"), col("value"))
      .withColumn("v6", round(col("value") * 1000000).cast("long"))
    val stats = ev.groupBy("event_type").agg(
      count(lit(1)).as("n"), sum(col("v6")).as("s"),
      sum(col("v6").cast("decimal(38,0)") * col("v6")).as("q"),
      max(abs(col("v6"))).as("m"))
      .collect() // <= #types rows
    val rows = stats.map { r =>
      val n = BigInt(r.getAs[Long]("n"))
      val sSum = BigInt(r.getAs[Long]("s"))
      val q = BigInt(r.getAs[java.math.BigDecimal]("q").toBigInteger)
      val m = BigInt(r.getAs[Long]("m"))
      // per-row |v6·n − S| and the threshold are both ≤ 2·n·m: the
      // long path is exact iff that fits
      require(2 * n * m < BigInt(Long.MaxValue),
        "stats exceed long-arithmetic range; shard stats or lift to decimal")
      val bound = 9 * (n * q - sSum * sSum)
      require(bound >= 0, "variance bound must be non-negative")
      // floor integer sqrt: dev^2 > bound  <=>  |dev| > isqrt(bound).
      // BigInteger.sqrt (exact floor, JDK 9+) — NOT a ±1 walk from a
      // clamped double seed: near the require() ceiling the true root
      // can sit ~1e18 past the Long-clamped seed, and a unit-step
      // loop from there is a driver hang (round-7 ADVICE).
      val r0 = if (bound > 0) BigInt(bound.bigInteger.sqrt()) else BigInt(0)
      (r.getAs[String]("event_type"), n.toLong, sSum.toLong,
        r0.min(2 * n * m).toLong)
    }
    import s.implicits._
    val thresholds = rows.toSeq.toDF("event_type", "n", "s", "r")
    ev.join(broadcast(thresholds), "event_type")
      .withColumn("is_outlier",
        abs(col("v6") * col("n") - col("s")) > col("r"))
      .select(col("event_id"), col("event_type"), col("value"), col("is_outlier"))
  }

  // g16: common-neighbor link prediction — "which parts DON'T co-sell
  // yet but share many co-sell partners" (the simplest link-prediction
  // score; Adamic-Adar/Jaccard variants divide the same counts). The
  // wedge enumeration is d2's one-exchange pattern: group the
  // symmetric edge set by the shared neighbor, capped-collect each
  // adjacency list (the cap bounds BOTH the aggregation buffer and
  // the per-node pair fan-out — the hub blowup Σdeg² is the quantity
  // that kills this op at scale; the cap is the documented stop-list,
  // provably unhit at test SF like d2's dfCap), emit ordered pairs
  // in-place, count per pair, anti-join the existing edges, bounded
  // top-k. Oracled against the uncapped wedge join.
  def g16CommonNeighbors(s: SparkSession, d: String, cap: Int = 512,
                         k: Int = 100): DataFrame =
    g16Wedges(coPurchaseSymW(s, d, relMinSup(s, d)), cap, k)

  private def g16Wedges(edges: DataFrame, cap: Int,
                        k: Int): DataFrame = {
    // eager localCheckpoint, not cache(): the edge set feeds the
    // wedge AND anti-join passes, but a CacheManager entry would
    // outlive the query (nothing can unpersist a lazily-returned
    // plan). Checkpoint blocks are ContextCleaner-reclaimed once the
    // result is unreferenced (g1's hygiene argument, Events.scala:98).
    // The relative support cut is g15's (no-op at oracle SFs,
    // spec-asserted): without it the sup ≥ 2 graph densifies with
    // order volume and the wedge pass measured 24 s at the 10× probe
    // — the capped collector alone only NULLs >cap hubs, it doesn't
    // thin the mid-degree mass that Σdeg² is made of.
    val e = edges.select("x", "y")
      .localCheckpoint()
    val wedges = e.groupBy("x")
      .agg(graft.functions.GraftFunctions.capped_collect_pairs(
        col("y"), lit(0L), cap).as("nbrs"))
      .filter(col("nbrs").isNotNull)
      .withColumn("a", explode(col("nbrs")))
      .withColumn("b", explode(expr("filter(nbrs, m -> m.doc_id > a.doc_id)")))
      .groupBy(col("a.doc_id").as("part_a"), col("b.doc_id").as("part_b"))
      .agg(count(lit(1)).as("common"))
    val existing = e.select(col("x").as("part_a"), col("y").as("part_b"))
    wedges.join(existing, Seq("part_a", "part_b"), "left_anti")
      .filter(col("common") >= 2)
      .orderBy(col("common").desc, col("part_a"), col("part_b")).limit(k)
  }

  // g15: LINK PREDICTION — Adamic-Adar + Jaccard scores for the
  // non-adjacent pairs of the co-purchase graph (g16's "customers
  // also buy" candidate generator given its standard scoring): each
  // shared neighbor z contributes 1/ln(deg(z)) — rare hubs count
  // more — and Jaccard normalizes common-neighbor count by the
  // union degree. The AA weight is FIXED-POINT quantized
  // (floor(1e9/ln deg) per wedge, summed as exact longs) so the
  // score is summation-order-independent — double-summed floats
  // would hash-flicker across partitionings; the quotient only
  // becomes a double once, at the end, identically in DuckDB.
  // Scale shape: the wedge join's cost is Σdeg², and the co-purchase
  // graph DENSIFIES with corpus size (same parts, more orders ⇒ deg
  // grows ∝ corpus ⇒ Σdeg² grows quadratically — measured 15×/decade
  // before the control). The control is standard k-NN-graph
  // SPARSIFICATION: each node keeps only its `cap` strongest
  // partners (support desc, partner asc — deterministic), kept
  // symmetric by the either-side union, bounding wedge cost at
  // nodes·(2·cap)². Provably a no-op at test SFs (max degree is 6
  // at sf0.1 — EventsSpec asserts capped ≡ uncapped), so the DuckDB
  // oracle needn't model it; at 100 TB the cap is the knob that
  // trades tail-partner wedges for linearity, and AA already weights
  // the dropped hub wedges near zero. The anti-join drops existing
  // edges; TakeOrderedAndProject keeps O(k) rows per partition.
  //
  // The cap is CORPUS-DERIVED (e9Bits' pattern — a footer-metadata
  // row count, no Spark job): a fixed 32 didn't bind until the graph
  // densified past it, so the FIRST scale decade still rode Σdeg²
  // (5.0× measured in SCALE_r11 while the second decade, cap bound,
  // flattened to 2.3×). Degrees grow ∝ orders-per-part ∝ |lineitem|,
  // so the cap tightens as the fact table grows —
  // clamp(1.2e7/|lineitem|, 8, 32): 20–32 at oracle SFs (≤600k rows,
  // where max degree 6 keeps ANY cap ≥ 8 a no-op — spec-asserted),
  // 8 from the first probe decade on, engaging the wedge bound
  // exactly when densification starts instead of a decade later.
  def g15LinkPredict(s: SparkSession, d: String, k: Int = 100,
                     cap: Int = 0): DataFrame =
    g15Scored(s, d, coPurchaseSymW(s, d, relMinSup(s, d)), k, cap)

  private def g15Scored(s: SparkSession, d: String, edges: DataFrame,
                        k: Int, cap: Int = 0): DataFrame = {
    val capN =
      if (cap > 0) cap
      else {
        val l = math.max(1L,
          Tables.parquetRowCount(s, s"$d/lineitem.parquet"))
        math.max(8L, math.min(32L, 12000000L / l)).toInt
      }
    val rnW = Window.partitionBy("x").orderBy(col("sup").desc, col("y"))
    val kept = edges
      .withColumn("rn", row_number().over(rnW))
      .filter(col("rn") <= capN).select("x", "y")
    val e = kept
      .unionByName(kept.select(col("y").as("x"), col("x").as("y")))
      .distinct()
      .localCheckpoint()
    val deg = e.groupBy("x").agg(count(lit(1)).as("deg"))
    // deg-1 hubs can't close a wedge (one neighbor) but ANSI mode
    // evaluates the projection for their rows too — guard ln(1)=0
    val ez = e.join(deg, "x")
      .select(col("x").as("z"), col("y").as("n"),
        expr("if(deg < 2, 0L, " +
          "cast(floor(1000000000.0 / ln(cast(deg as double))) as bigint))")
          .as("aaq"))
    val pairs = ez.alias("l")
      .join(ez.alias("r"),
        col("l.z") === col("r.z") && col("l.n") < col("r.n"))
      .groupBy(col("l.n").as("part_a"), col("r.n").as("part_b"))
      .agg(count(lit(1)).as("common"), sum(col("l.aaq")).as("aa_q"))
    val existing = e.select(col("x").as("part_a"), col("y").as("part_b"))
    pairs.join(existing, Seq("part_a", "part_b"), "left_anti")
      .filter(col("common") >= 2)
      .join(deg.select(col("x").as("part_a"), col("deg").as("deg_a")), "part_a")
      .join(deg.select(col("x").as("part_b"), col("deg").as("deg_b")), "part_b")
      .withColumn("adamic_adar", col("aa_q").cast("double") / lit(1.0e9))
      .withColumn("jaccard", col("common").cast("double") /
        (col("deg_a") + col("deg_b") - col("common")).cast("double"))
      .select("part_a", "part_b", "common", "adamic_adar", "jaccard")
      // the sort is SEMANTIC here — it feeds limit(k) (top-k by
      // score); r18's presentation-sort sweep must not touch it
      .orderBy(col("adamic_adar").desc, col("part_a"), col("part_b"))
      .limit(k)
  }

  // q69: point-in-time (PIT) join — the feature-store correctness
  // primitive: each fact row joins the dimension VERSION that was
  // valid AT fact time (here: each purchase joins the user's activity
  // status at purchase time, the SCD2-interval materialization of
  // q26's as-of semantics — what a feature platform actually stores
  // and serves, and the join q61's SCD2 tables exist to receive).
  // Intervals are lead-chained [valid_from, valid_to) per user —
  // they PARTITION time, so at most one version matches and the join
  // can't fan out. Scale shape vs q50: this range join HAS an equi
  // key (user_id) — the hash join co-locates by user and the interval
  // predicate is a residual filter over each user's few versions,
  // never a bucket-expansion; purchases before any activity survive
  // the left join with a null status.
  def q69PitJoin(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("event_id"), col("user_id"),
      col("event_type"), expr("ts div 1000").as("ts_us"))
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val dim = ev.filter(col("event_type") =!= "purchase")
      .withColumn("valid_to", lead(col("ts_us"), 1).over(w))
      .select(col("user_id").as("d_user"), col("event_type").as("status"),
        col("ts_us").as("valid_from"), col("valid_to"))
    ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts_us").as("purchase_ts_us"))
      .join(dim,
        col("user_id") === col("d_user") &&
          col("purchase_ts_us") >= col("valid_from") &&
          (col("valid_to").isNull || col("purchase_ts_us") < col("valid_to")),
        "left")
      .select(col("purchase_id"), col("user_id"), col("purchase_ts_us"),
        col("status"), col("valid_from").as("status_since_us"))
  }

  // g13: k-core peeling (fixed rounds) — "the parts that co-sell with
  // at least k other REPEAT co-sellers, excluding hangers-on": nodes
  // of degree < k are peeled, degrees recomputed, ROUNDS times — the
  // dense-subgraph extraction step (community cores, spam filtering)
  // next to g10's triangles. The graph is the support-≥2 co-purchase
  // graph (pairs co-occurring in ≥ 2 orders — the market-basket
  // support cut that also bounds edge count; the raw co-purchase
  // graph is near-complete and nothing would peel). Fixed ROUNDS make
  // the semantics a contract the oracle states by unrolling (like
  // g12's hop bound); the full k-core is the same loop run to
  // fixpoint with g1's localCheckpoint hygiene. Per round: one degree
  // aggregate + two semi joins, all keyed on 8-byte part ids.
  def g13KcorePeel(s: SparkSession, d: String, k: Int = 3,
                   rounds: Int = 3): DataFrame = {
    var sym = coPurchaseSym(s, d).cache()
    (1 to rounds).foreach { _ =>
      val keep = sym.groupBy("x").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select("x")
      sym = sym.join(keep, Seq("x"), "left_semi")
        .join(keep.withColumnRenamed("x", "y"), Seq("y"), "left_semi")
    }
    sym.groupBy(col("x").as("p_partkey"))
      .agg(count(lit(1)).as("core_deg"))
  }

  /** The support-≥2 symmetric co-purchase graph g13/g13b peel. */
  private def coPurchaseSym(s: SparkSession, d: String): DataFrame =
    coPurchaseSymW(s, d).select("x", "y")

  /** The RELATIVE support cut g15/g16 share (footer-count derived, no
    * Spark job): 2 at every oracle SF (|lineitem| ≤ 600k ⇒ l/3e5 ≤ 2
    * — spec-asserted no-op), then ∝ order volume, keeping kept-edge
    * density constant instead of letting the sup ≥ 2 graph drift
    * toward complete as every pair eventually co-occurs twice.
    */
  private def relMinSup(s: SparkSession, d: String): Long =
    math.max(2L,
      math.max(1L, Tables.parquetRowCount(s, s"$d/lineitem.parquet"))
        / 300000L)

  /** Same graph with the support count kept as the edge weight
    * (g14's affinity signal).
    */
  /** `minSup` is the market-basket support cut — absolute 2 for the
    * oracled consumers; g15 passes a RELATIVE (corpus-derived) value
    * because an absolute cut stops cutting as order volume grows
    * (every pair eventually co-occurs twice) and the edge set drifts
    * toward complete.
    */
  private def coPurchaseSymW(s: SparkSession, d: String,
                             minSup: Long = 2L): DataFrame =
    // widen by the group key: the per-order aggregate's PARTIAL half
    // otherwise runs inside the unsplittable single-file scan task at
    // small SFs — keying the one exchange on l_orderkey up front lets
    // partial AND final halves parallelize (round 18; identity at
    // real scale; the BUCKETED landing path below is untouched — it
    // already satisfies the clustering with no exchange at all)
    coPurchasePairsFrom(Tables.widen(s, d, "lineitem",
      Tables.lineitem(s, d), Seq("l_orderkey"), minRowsPerSlice = 1L), minSup)

  private def coPurchasePairsFrom(li: DataFrame,
                                  minSup: Long): DataFrame = {
    // ONE corpus exchange, not three: the old distinct + self-join
    // form exchanged lineitem for the distinct (keyed on both
    // columns), re-exchanged both join sides on l_orderkey, then
    // exchanged the 1.5× pair fan-out for the support agg. Collecting
    // each order's part set in the single orderkey-keyed exchange
    // (buffer bounded by items-per-order, single digits) and
    // generating a<b pairs in-place leaves only the (a, b) support
    // agg's exchange — and that one map-side combines. Over a
    // landing BUCKETED by l_orderkey ([[bucketedLineitem]]) even
    // that corpus exchange disappears: the bucketed scan already
    // satisfies the groupBy's clustering, so the only remaining
    // shuffle is the pair-support agg (pair-count-sized, not
    // corpus-sized).
    val e = li
      .groupBy("l_orderkey")
      .agg(collect_set(col("l_partkey")).as("ps"))
      .withColumn("a", explode(col("ps")))
      .withColumn("b", explode(expr("filter(ps, p -> p > a)")))
      .groupBy("a", "b").agg(count(lit(1)).as("sup"))
      .filter(col("sup") >= minSup)
    e.select(col("a").as("x"), col("b").as("y"), col("sup"))
      .unionByName(e.select(col("b").as("x"), col("a").as("y"), col("sup")))
  }

  private val bucketedLiTables =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** lineitem's (l_orderkey, l_partkey) projection landed as a
    * BUCKETED managed table (hash-bucketed + sorted on l_orderkey) —
    * the layout a 100 TB pipeline gives its repeatedly-grouped fact
    * table so the co-purchase builder's per-order aggregate runs
    * with NO exchange (BucketingSpec's contract; the r12 verdict's
    * remaining corpus-linear term in g15/g16). Landed once per
    * (session, dataset) — layout is a one-time migration cost, like
    * the ANN index builds; bucketing changes layout, never
    * semantics, so the bucketed twins' oracles are g15/g16's own.
    */
  private[graft] def bucketedLineitem(s: SparkSession,
                                      d: String): DataFrame = {
    val key = s.sparkContext.applicationId + "|" + d
    val name = bucketedLiTables.synchronized {
      bucketedLiTables.getOrElseUpdate(key,
        graft.tools.BuildCosts.timed("build:li_bucketed_landing") {
        val n = "graft_li_bkt_" +
          java.lang.Long.toHexString(
            org.apache.spark.unsafe.types.UTF8String.fromString(d).hashCode()
              .toLong & 0xffffffffL)
        // a PREVIOUS JVM's landing may have left the warehouse dir
        // behind while the (in-memory) catalog forgot the table —
        // saveAsTable would then fail on the existing path; drop both
        // before landing (single-driver registration, no race)
        s.sql(s"DROP TABLE IF EXISTS $n")
        val wh = new java.io.File(
          java.net.URI.create(
            s.conf.get("spark.sql.warehouse.dir")).getPath, n)
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete(); ()
        }
        if (wh.exists()) rm(wh)
        graft.sources.Readers.writeBucketed(
          Tables.lineitem(s, d).select("l_orderkey", "l_partkey"),
          n, "l_orderkey", 32)
        n
      })
    }
    s.table(name)
  }

  private val coEdgeTables =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** The co-purchase EDGE ARTIFACT (VERDICT r13 item 4): the
    * symmetric weighted pair table — coPurchasePairsFrom over the
    * bucketed lineitem landing — MATERIALIZED once per (session,
    * dataset) as a bucketed managed table keyed on `x`. The r13
    * measurement showed the bucketed-scan twins removed only ~14% of
    * the 100× cost because the dominant term is the corpus-linear
    * pair-support aggregate itself; materializing the AGGREGATED
    * edge table moves that term into a once-per-layout build (the
    * ANN-index precedent: e11 serves queries from a stored pruned
    * adjacency), so every consuming run pays only the
    * pair-table-sized wedge work. Build cost amortizes exactly like
    * the lineitem bucketing one layer down; edge values are
    * identical to the from-scratch form by construction, so the
    * bucketed twins keep hashing against g15/g16's own oracles.
    */
  private[graft] def storedCoPurchaseEdges(s: SparkSession,
                                           d: String): DataFrame = {
    val key = s.sparkContext.applicationId + "|" + d
    val name = coEdgeTables.synchronized {
      coEdgeTables.getOrElseUpdate(key,
        graft.tools.BuildCosts.timed("build:copurchase_edge_artifact") {
        val n = "graft_coedge_bkt_" +
          java.lang.Long.toHexString(
            org.apache.spark.unsafe.types.UTF8String.fromString(d).hashCode()
              .toLong & 0xffffffffL)
        s.sql(s"DROP TABLE IF EXISTS $n")
        val wh = new java.io.File(
          java.net.URI.create(
            s.conf.get("spark.sql.warehouse.dir")).getPath, n)
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete(); ()
        }
        if (wh.exists()) rm(wh)
        graft.sources.Readers.writeBucketed(
          coPurchasePairsFrom(bucketedLineitem(s, d), relMinSup(s, d)),
          n, "x", 32)
        n
      })
    }
    s.table(name)
  }

  /** [[g15LinkPredict]] over the STORED co-purchase edge artifact —
    * same controls, same scores; the corpus-linear pair-support
    * aggregate is paid once at layout time, not per run.
    */
  def g15LinkPredictBucketed(s: SparkSession, d: String,
                             k: Int = 100): DataFrame =
    g15Scored(s, d, storedCoPurchaseEdges(s, d), k)

  /** [[g16CommonNeighbors]] over the stored edge artifact. */
  def g16CommonNeighborsBucketed(s: SparkSession, d: String,
                                 cap: Int = 512,
                                 k: Int = 100): DataFrame =
    g16Wedges(storedCoPurchaseEdges(s, d), cap, k)

  // g14: weighted label propagation — community DETECTION next to
  // g1's component labelling (components answer "connected at all?";
  // LPA answers "which dense neighborhood?" — one co-purchase graph
  // usually IS one component, yet holds many communities). Labels
  // start as own ids; each synchronous round every node adopts the
  // label with the greatest support-weighted neighbor mass, ties to
  // the smaller label — deterministic, so fixed ROUNDS are a semantic
  // contract the oracle states by unrolling (g9/g12/g13's pattern;
  // classic LPA's convergence is order-dependent and NOT a contract).
  // Per round: one edge⋈label join keyed on the 8-byte node id + two
  // partial aggs — the argmax is max(struct(weight, -label)), a
  // map-side-combinable aggregate, NOT a row_number window (no
  // per-node sort, no second exchange at 100 TB).
  def g14LabelProp(s: SparkSession, d: String, rounds: Int = 2): DataFrame = {
    // eager localCheckpoint (not cache): feeds every round, and the
    // blocks are GC-reclaimed after the query instead of pinned in
    // the CacheManager for the session (see g16 / Events.scala:98).
    val e = coPurchaseSymW(s, d).localCheckpoint()
    var lab = e.select(col("x")).distinct().withColumn("lab", col("x"))
    (1 to rounds).foreach { _ =>
      lab = e.join(lab.withColumnRenamed("x", "y"), Seq("y"))
        .groupBy(col("x"), col("lab")).agg(sum(col("sup")).as("sw"))
        .groupBy(col("x"))
        .agg(max(struct(col("sw"), (-col("lab")).as("nl"))).as("m"))
        .select(col("x"), (-col("m.nl")).as("lab"))
    }
    lab.select(col("x").as("p_partkey"), col("lab").as("community"))
  }

  /** g13b: the FULL k-core — g13's peel run to FIXPOINT (the variant a
    * graph user reaches for first; g13's fixed 3 rounds are the
    * oracle-unroll contract). Each round peels every vertex of degree
    * < k and stops when an entire round removes nothing — at that
    * point every remaining vertex has degree ≥ k within the remaining
    * subgraph, the k-core definition. Loop hygiene is g1's:
    * localCheckpoint each round truncates the lineage (without it
    * round R replays rounds 1..R-1), and the per-round `count` that
    * detects convergence is the same action that materializes the
    * checkpoint — one job per round, no extra pass. STILL ORACLED,
    * not rows-only: peeling is monotone (a converged graph is a fixed
    * point of further rounds), so an oracle that unrolls `maxRounds`
    * rounds computes the identical answer whenever convergence takes
    * ≤ maxRounds — and the `require` turns "took longer" into a loud
    * failure instead of a hash drift, so the contract is airtight.
    * At 100 TB: per round one degree agg + two 8-byte-keyed semi
    * joins on a strictly shrinking edge set; rounds are bounded by
    * the peel cascade depth (KcoreSpec shows a chain graph where
    * depth > 3 and the extra rounds really peel).
    */
  def kcorePeelFixpoint(symEdges: DataFrame, k: Int,
                        maxRounds: Int = 12): DataFrame = {
    // SMALL-GRAPH FAST PATH (round 18 — g1's bounded-collect gate):
    // each distributed round is a degree agg + two semi joins + a
    // checkpoint/count job over an edge set that the co-purchase
    // support cut keeps tiny at every bench SF; below the cap the
    // edges are peeled in driver arrays with the IDENTICAL round
    // semantics — simultaneous removal of deg<k vertices per round,
    // convergence when a round removes nothing, the same maxRounds
    // bound refusing loudly (the oracle unrolls that same bound).
    // The edge set is materialized ONCE via the loop's own
    // localCheckpoint + count (both paths need them), and the driver
    // copy collects from the checkpointed BLOCKS — an executeTake
    // over the un-materialized plan measured slower at ×10 (its
    // scaled attempts re-read the aggregate output). Above the cap
    // the distributed loop runs unchanged from the same checkpoint.
    // KcoreSpec's cascade fixtures pass through the same gate, and
    // GateSpec's forced sweep runs the distributed loop.
    val curCkpt = symEdges.localCheckpoint()
    val totalEdges = curCkpt.count()
    if (Gate.small(symEdges.sparkSession, "kcore.twin", 1000000L)(totalEdges)) {
      var edges = curCkpt.select("x", "y").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      var prevEdges = edges.length.toLong
      var converged = prevEdges == 0L
      var iter = 0
      while (!converged && iter < maxRounds) {
        val deg = scala.collection.mutable.HashMap.empty[Long, Long]
        edges.foreach { case (x, _) => deg(x) = deg.getOrElse(x, 0L) + 1 }
        val next = edges.filter { case (x, y) =>
          deg.getOrElse(x, 0L) >= k && deg.getOrElse(y, 0L) >= k
        }
        val nextEdges = next.length.toLong
        converged = nextEdges == prevEdges
        prevEdges = nextEdges
        edges = next
        iter += 1
      }
      require(converged || prevEdges == 0L,
        s"k-core peel did not converge in $maxRounds rounds — raise " +
          "maxRounds (the oracle unrolls this same bound)")
      val coreDeg = scala.collection.mutable.HashMap.empty[Long, Long]
      edges.foreach { case (x, _) =>
        coreDeg(x) = coreDeg.getOrElse(x, 0L) + 1
      }
      val sess = symEdges.sparkSession
      import sess.implicits._
      return coreDeg.toSeq.toDF("p_partkey", "core_deg")
    }
    var cur = curCkpt
    var prevEdges = totalEdges
    var converged = prevEdges == 0L
    var iter = 0
    while (!converged && iter < maxRounds) {
      val keep = cur.groupBy("x").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select("x")
      val next = cur.join(keep, Seq("x"), "left_semi")
        .join(keep.withColumnRenamed("x", "y"), Seq("y"), "left_semi")
        .localCheckpoint()
      val nextEdges = next.count()
      converged = nextEdges == prevEdges
      prevEdges = nextEdges
      cur = next
      iter += 1
    }
    require(converged || prevEdges == 0L,
      s"k-core peel did not converge in $maxRounds rounds — raise " +
        "maxRounds (the oracle unrolls this same bound)")
    cur.groupBy(col("x").as("p_partkey"))
      .agg(count(lit(1)).as("core_deg"))
  }

  def g13bKcoreFixpoint(s: SparkSession, d: String, k: Int = 3): DataFrame =
    kcorePeelFixpoint(coPurchaseSym(s, d), k)

  /** g12: hop-bounded weighted shortest paths (multi-source
    * Bellman-Ford) — the reference's graph DB answers "cheapest route
    * within k connections" over the object graph (`GetLinkedObjects`
    * one capability up: weighted, not just reachable). Exactly
    * `maxHops` relaxation rounds over the SYMMETRIC weighted user
    * graph; after round k the (seed, node) table holds the exact min
    * cost over paths of <= k edges (the Bellman-Ford invariant —
    * union of "stop here" and "extend by one edge", min per node),
    * so the hop bound is a SEMANTIC contract the recursive-CTE oracle
    * states independently, not a convergence heuristic. Integer
    * weights make min() exact. Scale shape: each round is one
    * edge-keyed join + one (seed, node) min-combine — the same
    * bounded-join ladder as g6; at 100 TB rounds run delta-style
    * (only improved entries join the next round) with localCheckpoint
    * lineage truncation like g1, and the frontier is bounded by
    * seeds × reachable nodes, never path count (paths never
    * materialize — the oracle's UNION ALL recursion does, which is
    * why the oracle filters to a small subgraph).
    */
  def g12Sssp(edges: DataFrame, seeds: DataFrame, maxHops: Int = 3): DataFrame = {
    val e = edges.cache() // feeds every round
    var dist = seeds
      .select(col("user_id").as("seed"), col("user_id").as("node"),
        lit(0L).as("cost"))
    (1 to maxHops).foreach { _ =>
      dist = dist
        .unionByName(dist.join(e, col("node") === col("x"))
          .select(col("seed"), col("y").as("node"),
            (col("cost") + col("w")).as("cost")))
        .groupBy("seed", "node").agg(min("cost").as("cost"))
    }
    dist.filter(col("seed") =!= col("node"))
  }

  /** The weighted symmetric user graph for g12: users sharing a prop
    * bucket are adjacent with integer weight 1 + (x + y) % 9 — small
    * enough that a cheap 2-hop detour can beat an expensive direct
    * edge, so the relaxation path is genuinely exercised.
    */
  def g12Graph(s: SparkSession, d: String, maxUser: Int): DataFrame = {
    val m = membership(s, d).filter(col("user_id") < maxUser)
    m.select(col("user_id").as("x"), col("g"))
      .join(m.select(col("user_id").as("y"), col("g")), "g")
      .filter(col("x") =!= col("y"))
      .select("x", "y").distinct()
      .withColumn("w", lit(1L) + (col("x") + col("y")) % 9)
  }

  // q26: as-of join — for each purchase, the user's most recent click
  // at-or-before it. Spark has no ASOF JOIN; rather than a custom
  // SparkPlan, the union+window composition gives the same semantics
  // with ONE shuffle on user_id (a range-join would shuffle both
  // sides too, then pay an O(n·m) in-partition scan).
  def q26AsofJoin(s: SparkSession, d: String): DataFrame = {
    // time key in epoch MICROS: DuckDB's TIMESTAMP is µs-precision, so
    // the oracle can't see sub-µs nanos; both sides key on µs longs.
    val e = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"),
              expr("ts div 1000").as("ts_us"))
    val tagged = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts_us"), lit(0).as("kind"), col("event_id"))
      .unionAll(e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_us"), lit(1).as("kind"), col("event_id")))
    // event_id in the ordering: two clicks in the same microsecond
    // would otherwise make `last()` partition-order-dependent; with it,
    // the match is deterministically max(click_id) among ties (the
    // oracle pre-collapses ties the same way).
    val w = Window.partitionBy("user_id").orderBy("ts_us", "kind", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("click_id",
        last(when(col("kind") === 0, col("event_id")), ignoreNulls = true).over(w))
      .withColumn("click_ts",
        last(when(col("kind") === 0, col("ts_us")), ignoreNulls = true).over(w))
      .filter(col("kind") === 1 && col("click_id").isNotNull)
      .select(col("event_id").as("purchase_id"), col("user_id"),
              col("ts_us").as("purchase_ts"), col("click_id"), col("click_ts"))
  }

  // q50: interval/range join — for each purchase, the count of clicks
  // (any user) in the 10 minutes after it. Spark has no native range
  // join; the naive ON c.ts BETWEEN p.ts AND p.ts+600 plans a
  // BroadcastNestedLoopJoin — O(P·C) compares, a non-starter at scale.
  // Instead both sides are binned into fixed 600 s time buckets and
  // EQUI-joined on the bucket: the interval explodes to the <= 2
  // buckets it overlaps, the point side has exactly one, and the exact
  // predicate refines in-join. Each (purchase, click) pair meets in at
  // most one bucket (the click's own), so no post-join dedup is
  // needed, and a LEFT join keeps zero-click purchases. One keyed
  // exchange; a hot bucket (burst traffic) is AQE's skew-join case.
  //
  // Two SEPARATE parameters: `windowS` is the query's MEANING (clicks
  // within 10 minutes — never tune it) while `bucketWidthS` is the
  // physical partitioning knob. Each interval covers
  // ceil(windowS / bucketWidthS) + 1 buckets at most, so width ~ the
  // window length keeps fan-out <= 2; shrink it only when a bucket's
  // population outgrows a partition, paying proportionally more
  // interval replicas. Any width gives the same answer (the exact
  // windowS predicate refines in-join) — the spec pins that.
  def q50RangeJoin(s: SparkSession, d: String, windowS: Long = 600,
                   bucketWidthS: Long = 600): DataFrame = {
    val e = ev(s, d)
    val p = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("ts_s").as("start_s"))
      .withColumn("bucket",
        explode(sequence(expr(s"start_s div $bucketWidthS"),
                         expr(s"(start_s + ${windowS - 1}) div $bucketWidthS"))))
    val c = e.filter(col("event_type") === "click")
      .select(col("ts_s").as("click_s"),
              expr(s"ts_s div $bucketWidthS").as("bucket"))
    p.join(c,
        p("bucket") === c("bucket") &&
          col("click_s") >= col("start_s") &&
          col("click_s") < col("start_s") + windowS, "left")
      .groupBy("purchase_id", "start_s")
      .agg(count(col("click_s")).as("n_clicks"))
    // purchase-grain output (linear in events): no presentation sort
    // (g2's rule, r18)
  }

  /** g9: PageRank over the user↔bucket bipartite graph (g1's edge
    * set) — importance scoring for the object graph the reference
    * stores in its graph DB. Fixed 3 power iterations with damping
    * 0.85, ALL-INTEGER arithmetic on ranks scaled to 1e12: every
    * contribution is `rank div deg` (long division) and sums are long
    * sums — order-independent and bit-exact, so the oracle replays the
    * recurrence with `//` and hash-matches (a float PageRank differs
    * in last-bit across partition orders). Per iteration: one
    * broadcast-able deg join + one dst-keyed exchange, the classic
    * scalable shape (edges never materialize more than once; no
    * driver-side graph). Node ids: user u -> 2u, bucket g -> 2g+1.
    */
  def g9PageRank(graph: DataFrame, iters: Int = 3): DataFrame = {
    val scale = 1000000000000L
    val edges = graph.select((col("user_id") * 2).as("src"), (col("g") * 2 + 1).as("dst"))
      .unionAll(graph.select((col("g") * 2 + 1).as("src"), (col("user_id") * 2).as("dst")))
    // membership is distinct, so edges are distinct and deg = out-edge
    // count. Cached: feeds every iteration.
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg")).cache()
    val n1 = deg.agg(count(lit(1)).as("n"))
    // r0 = SCALE div n for every node; base = the damped teleport term
    // ((SCALE div n) * 15) div 100 — both derived in-plan from the
    // broadcast 1-row n (no driver-side scalar).
    var ranks = deg.select(col("src").as("node")).crossJoin(broadcast(n1))
      .select(col("node"), expr(s"$scale div n").as("rank"), col("n"))
    (1 to iters).foreach { _ =>
      ranks = edges.join(deg, "src")
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .withColumn("contrib", expr("rank div deg"))
        .groupBy(col("dst").as("node"))
        .agg(sum("contrib").as("sc"), max("n").as("n"))
        .select(col("node"),
          (expr(s"(($scale div n) * 15) div 100") +
            expr("(85 * sc) div 100")).as("rank"), col("n"))
    }
    ranks.select(col("node"), col("rank").as("pagerank"))
  }

  /** g10: per-node triangle counting over the co-purchase graph
    * (parts sharing an order — the market-basket graph every
    * recommender starts from). The classic scalable shape: ORIENT
    * each edge from its (degree, id)-smaller endpoint to the larger,
    * generate wedges only at each edge's SMALLER endpoint, and close
    * them with one more equi-join — every triangle is found exactly
    * once, at its (degree, id)-minimum corner. Costs, in order:
    * per-order pair fan-out is bounded by order size (TPC-H orders
    * hold ≤ 7 items — quadratic only in that constant); edge distinct
    * + degree are 8-byte-keyed exchanges; wedge generation is
    * Σ out-deg² where degree ordering caps out-degree at O(√m) (the
    * arboricity argument from Suri & Vassilvitskii's MapReduce
    * triangle paper) — a 100 TB hub never becomes a wedge APEX, it
    * only receives closure probes, so the skew that kills naive
    * neighborhood-join counting is structurally absent. All joins are
    * integer equi-joins; nothing is ever all-pairs. Oracle: DuckDB
    * counts the same triangles by brute 3-way self-join — exact
    * integer counts, order-free.
    */
  def g10TriangleCount(s: SparkSession, d: String): DataFrame = {
    val items = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val edges = items.select(col("l_orderkey"), col("l_partkey").as("a"))
      .join(items.select(col("l_orderkey"), col("l_partkey").as("b")),
        "l_orderkey")
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
      .cache() // feeds degree, wedge, and closure passes
    val deg = edges.select(col("a").as("n"))
      .unionAll(edges.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
    // orient by the strict total order (deg, id): src ≺ dst
    val withDeg = edges
      .join(deg.select(col("n").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("deg").as("db")), "b")
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val oriented = withDeg.select(
      when(aFirst, col("a")).otherwise(col("b")).as("src"),
      when(aFirst, col("b")).otherwise(col("a")).as("dst"),
      when(aFirst, col("db")).otherwise(col("da")).as("ddst"))
      .cache() // wedge source AND closure probe target
    // wedges: unordered out-neighbor pairs of each apex, emitted
    // (deg, id)-ordered so the closing edge, if present, is exactly
    // the oriented (x, y)
    val l = oriented.select(col("src"), col("dst").as("v"), col("ddst").as("dv"))
    val r = oriented.select(col("src"), col("dst").as("w"), col("ddst").as("dw"))
    val vFirst = col("dv") < col("dw") ||
      (col("dv") === col("dw") && col("v") < col("w"))
    val wedges = l.join(r, "src").filter(col("v") < col("w"))
      .select(col("src").as("apex"),
        when(vFirst, col("v")).otherwise(col("w")).as("x"),
        when(vFirst, col("w")).otherwise(col("v")).as("y"))
    val tris = wedges.join(
      oriented.select(col("src").as("x"), col("dst").as("y")), Seq("x", "y"))
    tris.select(explode(array(col("apex"), col("x"), col("y"))).as("p_partkey"))
      .groupBy("p_partkey").agg(count(lit(1)).as("n_triangles"))
  }

  // q53: time-RANGE sliding window — per event, the user's trailing
  // 1-hour event count and value sum (rate-limit / velocity-check
  // shape). A RANGE frame, unlike q32's ROWS frame, is defined by the
  // ORDER-BY VALUE distance, so gaps and ties are handled by the
  // frame semantics, not row positions. One shuffle on user_id;
  // Spark's RangeFrame evaluation slides both frame edges
  // monotonically forward within the partition (each row enters and
  // leaves the running state once — O(n) amortized, no per-row
  // rescan), so per-user cost is linear in that user's events: the
  // same user-bounded-activity argument as q21. Value sums are
  // quantized to longs (floor(value·1000)) so the window sum is exact
  // integer arithmetic, bit-identical in DuckDB.
  def q53TimeRangeWindow(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts_s"))
      .rangeBetween(-3599, 0)
    ev(s, d)
      .withColumn("vq", expr("cast(floor(value * 1000) as bigint)"))
      .withColumn("n_1h", count(lit(1)).over(w))
      .withColumn("v_1h", sum(col("vq")).over(w))
      .select(col("event_id"), col("user_id"), col("ts_s"),
              col("n_1h"), col("v_1h"))
  }

  // q54: JSON document assembly (reference build_components_json /
  // build_lines_json, app.py:2219-2289 outbound side: every API
  // response and graph-DB push serializes entities to JSON docs
  // row-at-a-time in Python). Here the document is BUILT IN-PLAN:
  // one user-keyed partial aggregate, then map-side codegen'd
  // to_json(struct(...)) — serialization rides the same single
  // exchange as the aggregate, no driver loop, no UDF. Fields are
  // longs/strings only and the array is sorted, so the compact JSON
  // byte strings are identical in DuckDB and the query hash-matches
  // (a double field would diverge on number formatting).
  def q54BuildJson(s: SparkSession, d: String): DataFrame =
    ev(s, d)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"),
           sort_array(collect_set(col("event_type"))).as("types"))
      .select(col("user_id"),
        to_json(struct(col("user_id"), col("n"), col("types"))).as("doc"))

  // q52: cumulative distinct users per day via MERGEABLE HLL sketches
  // — the sketch-reuse pattern that makes "distinct so far" tractable
  // at 100 TB: exact cumulative distinct needs the full user set per
  // day (quadratic state); here each day reduces to a ~KB sketch ONCE
  // (one corpus pass, map-side partial agg), and the cumulative union
  // runs over day×day sketch pairs — calendar-bounded, corpus-free.
  // The triangular join is a deliberate hinted broadcast over the
  // ~30-row daily frame (d23's base-case pattern); sketches make the
  // union associative + idempotent, so the same daily artifacts also
  // serve any other range (weekly, trailing-7d) without rescanning.
  // Rows-only: HLL register contents aren't SQL-expressible; the spec
  // pins estimates to exact counts (2% HLL error at lgK=12) and
  // monotonicity.
  def q52CumulativeDistinct(s: SparkSession, d: String): DataFrame = {
    val daily = ev(s, d)
      .groupBy(date_format(col("ts_us"), "yyyy-MM-dd").as("day"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
    val cum = daily.as("a")
      .join(broadcast(daily.as("b")), col("b.day") <= col("a.day"))
      .groupBy(col("a.day").as("day"))
      .agg(hll_sketch_estimate(hll_union_agg(col("b.sk"))).as("cum_users"))
    daily.select(col("day"), hll_sketch_estimate(col("sk")).as("daily_users"))
      .join(cum, "day")
      .orderBy("day")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q26_asof_join" -> (q26AsofJoin _),
    "q59_seq_pattern" -> ((s: SparkSession, d: String) => q59SeqPattern(s, d)),
    "q52_cumulative_distinct" -> (q52CumulativeDistinct _),
    "q53_time_range_window" -> (q53TimeRangeWindow _),
    "q54_build_json" -> (q54BuildJson _),
    "g10_triangle_count" -> (g10TriangleCount _),
    "q50_range_join" -> ((s: SparkSession, d: String) => q50RangeJoin(s, d)),
    "g9_pagerank" -> ((s: SparkSession, d: String) => g9PageRank(membership(s, d))),
    "q21_sessionize" -> (q21Sessionize _),
    "q22_event_window" -> (q22EventWindow _),
    "q23_json_extract" -> (q23JsonExtract _),
    "q24_funnel" -> (q24Funnel _),
    // user_id < 200 is an ORACLE-tractability bound (DuckDB's recursive
    // closure is quadratic in component size) — it lives here in the
    // harness binding, not in the operator.
    "g1_connected_components" -> ((s: SparkSession, d: String) =>
      g1ConnectedComponents(membership(s, d).filter(col("user_id") < 200))),
    // same user_id < 200 oracle-tractability bound as g1; seeds are
    // the first 20 users (the reference API takes one tag — a seed
    // SET is the batch generalization)
    "g6_linked_objects" -> ((s: SparkSession, d: String) => {
      val m = membership(s, d).filter(col("user_id") < 200)
      g6LinkedObjects(m, m.select("user_id").distinct().filter(col("user_id") < 20))
    }),
    "g13_kcore_peel" -> ((s: SparkSession, d: String) => g13KcorePeel(s, d)),
    "g13b_kcore_fixpoint" ->
      ((s: SparkSession, d: String) => g13bKcoreFixpoint(s, d)),
    "g14_label_prop" -> ((s: SparkSession, d: String) => g14LabelProp(s, d)),
    "q67_value_outliers" -> (q67ValueOutliers _),
    "q72_hopping_window" -> (q72HoppingWindow _),
    "q69_pit_join" -> (q69PitJoin _),
    "g16_common_neighbors" ->
      ((s: SparkSession, d: String) => g16CommonNeighbors(s, d)),
    "g15_link_predict" ->
      ((s: SparkSession, d: String) => g15LinkPredict(s, d)),
    "g15b_link_predict_bucketed" ->
      ((s: SparkSession, d: String) => g15LinkPredictBucketed(s, d)),
    "g16b_common_neighbors_bucketed" ->
      ((s: SparkSession, d: String) => g16CommonNeighborsBucketed(s, d)),
    "g12_sssp" -> ((s: SparkSession, d: String) => {
      val edges = g12Graph(s, d, maxUser = 60)
      g12Sssp(edges,
        edges.select(col("x").as("user_id")).distinct()
          .filter(col("user_id") < 5))
    }),
  )

  /** g13b's oracle, generated: the same support-≥2 graph, `rounds`
    * unrolled peel stages (must equal the operator's maxRounds so the
    * operator's convergence `require` and this unroll are one bound).
    */
  private def g13bOracleSql(k: Int, rounds: Int): String = {
    // AS MATERIALIZED is load-bearing: each stage references its
    // predecessor 3×, so default CTE inlining would expand to 3^rounds
    // scans of the base table
    val head =
      """WITH items AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e0 AS MATERIALIZED (
        |  SELECT a.l_partkey AS a, b.l_partkey AS b, COUNT(*) AS sup
        |  FROM items a JOIN items b
        |    ON b.l_orderkey = a.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2),
        |e AS MATERIALIZED (SELECT a, b FROM e0 WHERE sup >= 2),
        |s0 AS MATERIALIZED (
        |  SELECT a AS x, b AS y FROM e UNION ALL SELECT b, a FROM e)"""
        .stripMargin
    val stages = (1 to rounds).map { i =>
      s""",
         |k$i AS MATERIALIZED (
         |  SELECT x FROM s${i - 1} GROUP BY x HAVING COUNT(*) >= $k),
         |s$i AS MATERIALIZED (
         |  SELECT s${i - 1}.x, s${i - 1}.y FROM s${i - 1}
         |  JOIN k$i ka ON s${i - 1}.x = ka.x
         |  JOIN k$i kb ON s${i - 1}.y = kb.x)""".stripMargin
    }.mkString
    head + stages +
      s"""
         |SELECT x AS p_partkey, COUNT(*) AS core_deg FROM s$rounds
         |GROUP BY x ORDER BY p_partkey""".stripMargin
  }

  /** g14's oracle, generated: the same weighted graph, `rounds`
    * unrolled synchronous majority stages — the argmax stated as a
    * ROW_NUMBER over (weight desc, label asc), the exact tie contract
    * the operator's max(struct(sw, -lab)) encodes.
    */
  private def g14OracleSql(rounds: Int): String = {
    val head =
      """WITH items AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e0 AS MATERIALIZED (
        |  SELECT a.l_partkey AS a, b.l_partkey AS b, COUNT(*) AS sup
        |  FROM items a JOIN items b
        |    ON b.l_orderkey = a.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |e AS MATERIALIZED (
        |  SELECT a AS x, b AS y, sup FROM e0
        |  UNION ALL SELECT b, a, sup FROM e0),
        |l0 AS MATERIALIZED (SELECT DISTINCT x, x AS lab FROM e)"""
        .stripMargin
    val stages = (1 to rounds).map { i =>
      s""",
         |l$i AS MATERIALIZED (
         |  SELECT x, lab FROM (
         |    SELECT e.x, l.lab, SUM(e.sup) AS sw,
         |      ROW_NUMBER() OVER (PARTITION BY e.x
         |        ORDER BY SUM(e.sup) DESC, l.lab) AS rn
         |    FROM e JOIN l${i - 1} l ON e.y = l.x
         |    GROUP BY e.x, l.lab) WHERE rn = 1)""".stripMargin
    }.mkString
    head + stages +
      s"""
         |SELECT x AS p_partkey, lab AS community FROM l$rounds
         |ORDER BY p_partkey""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "g14_label_prop" -> g14OracleSql(rounds = 2),
    "q72_hopping_window" ->
      """WITH e AS (
        |  SELECT event_type, value,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS ts_s FROM events),
        |x AS (
        |  SELECT event_type, value, ((ts_s // 900) - j) * 900 AS win_start_s
        |  FROM e, range(0, 4) t(j))
        |SELECT win_start_s, event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM x GROUP BY 1, 2 ORDER BY win_start_s, event_type""".stripMargin,
    "q69_pit_join" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us
        |  FROM events),
        |dim AS (
        |  SELECT user_id AS d_user, event_type AS status,
        |    ts_us AS valid_from,
        |    LEAD(ts_us) OVER (PARTITION BY user_id
        |      ORDER BY ts_us, event_id) AS valid_to
        |  FROM ev WHERE event_type <> 'purchase'),
        |f AS (
        |  SELECT event_id AS purchase_id, user_id, ts_us AS purchase_ts_us
        |  FROM ev WHERE event_type = 'purchase')
        |SELECT f.purchase_id, f.user_id, f.purchase_ts_us, dim.status,
        |  dim.valid_from AS status_since_us
        |FROM f LEFT JOIN dim
        |  ON f.user_id = dim.d_user
        |  AND f.purchase_ts_us >= dim.valid_from
        |  AND (dim.valid_to IS NULL OR f.purchase_ts_us < dim.valid_to)
        |ORDER BY purchase_id""".stripMargin,
    "g15_link_predict" ->
      """WITH items AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e0 AS MATERIALIZED (
        |  SELECT a.l_partkey AS a, b.l_partkey AS b
        |  FROM items a JOIN items b
        |    ON b.l_orderkey = a.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |e AS MATERIALIZED (
        |  SELECT a AS x, b AS y FROM e0 UNION ALL SELECT b, a FROM e0),
        |deg AS MATERIALIZED (SELECT x, COUNT(*) AS deg FROM e GROUP BY 1),
        |ez AS MATERIALIZED (
        |  SELECT e.x AS z, e.y AS n,
        |    CASE WHEN deg.deg < 2 THEN CAST(0 AS BIGINT)
        |         ELSE CAST(floor(1000000000.0 / ln(CAST(deg.deg AS DOUBLE)))
        |              AS BIGINT) END AS aaq
        |  FROM e JOIN deg ON deg.x = e.x),
        |cn AS (
        |  SELECT l.n AS a, r.n AS b, COUNT(*) AS common,
        |    CAST(SUM(l.aaq) AS BIGINT) AS aa_q
        |  FROM ez l JOIN ez r ON r.z = l.z AND l.n < r.n
        |  GROUP BY 1, 2),
        |ne AS (
        |  SELECT cn.a, cn.b, cn.common, cn.aa_q FROM cn
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM e WHERE e.x = cn.a AND e.y = cn.b))
        |SELECT ne.a AS part_a, ne.b AS part_b, ne.common,
        |  CAST(ne.aa_q AS DOUBLE) / 1000000000.0 AS adamic_adar,
        |  CAST(ne.common AS DOUBLE) /
        |    CAST(da.deg + db.deg - ne.common AS DOUBLE) AS jaccard
        |FROM ne JOIN deg da ON da.x = ne.a JOIN deg db ON db.x = ne.b
        |WHERE ne.common >= 2
        |ORDER BY adamic_adar DESC, part_a, part_b LIMIT 100""".stripMargin,
    "g16_common_neighbors" ->
      """WITH items AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e0 AS MATERIALIZED (
        |  SELECT a.l_partkey AS a, b.l_partkey AS b
        |  FROM items a JOIN items b
        |    ON b.l_orderkey = a.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |e AS MATERIALIZED (
        |  SELECT a AS x, b AS y FROM e0 UNION ALL SELECT b, a FROM e0),
        |cn AS (
        |  SELECT e1.y AS a, e2.y AS b, COUNT(*) AS common
        |  FROM e e1 JOIN e e2 ON e2.x = e1.x AND e1.y < e2.y
        |  GROUP BY 1, 2),
        |ne AS (
        |  SELECT cn.a, cn.b, cn.common FROM cn
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM e WHERE e.x = cn.a AND e.y = cn.b))
        |SELECT a AS part_a, b AS part_b, common FROM ne
        |WHERE common >= 2
        |ORDER BY common DESC, a, b LIMIT 100""".stripMargin,
    "q67_value_outliers" ->
      """WITH e AS (
        |  SELECT event_id, event_type, value,
        |    CAST(round(value * 1000000) AS HUGEINT) AS v6
        |  FROM events),
        |st AS (
        |  SELECT event_type, CAST(COUNT(*) AS HUGEINT) AS n,
        |    CAST(SUM(v6) AS HUGEINT) AS s,
        |    CAST(SUM(v6 * v6) AS HUGEINT) AS q
        |  FROM e GROUP BY event_type)
        |SELECT e.event_id, e.event_type, e.value,
        |  (e.v6 * st.n - st.s) * (e.v6 * st.n - st.s)
        |    > 9 * (st.n * st.q - st.s * st.s) AS is_outlier
        |FROM e JOIN st USING (event_type)
        |ORDER BY event_id""".stripMargin,
    // brute 3-way self-join: states WHAT a triangle is, not how to
    // enumerate one — the Spark side must reproduce it through the
    // degree-ordered orientation, so an orientation bug (a triangle
    // double-counted at two corners, or missed when degrees tie)
    // hash-mismatches.
    "g10_triangle_count" ->
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e AS (
        |  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
        |  FROM items a JOIN items b
        |    ON b.l_orderkey = a.l_orderkey AND a.l_partkey < b.l_partkey),
        |t AS (
        |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM e e1
        |  JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
        |  JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b),
        |n AS (
        |  SELECT x AS p FROM t UNION ALL SELECT y FROM t
        |  UNION ALL SELECT z FROM t)
        |SELECT p AS p_partkey, COUNT(*) AS n_triangles
        |FROM n GROUP BY 1 ORDER BY p_partkey""".stripMargin,
    "q54_build_json" ->
      """SELECT user_id,
        |  CAST(to_json(struct_pack(user_id := user_id, n := n,
        |                           types := types)) AS VARCHAR) AS doc
        |FROM (
        |  SELECT user_id, COUNT(*) AS n,
        |    list_sort(list(DISTINCT event_type)) AS types
        |  FROM events GROUP BY 1) t
        |ORDER BY user_id""".stripMargin,
    "q53_time_range_window" ->
      """SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
        |  COUNT(*) OVER w AS n_1h,
        |  CAST(SUM(CAST(floor(value * 1000) AS BIGINT)) OVER w AS BIGINT) AS v_1h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id
        |             ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
        |             RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    // the oracle states the range join DECLARATIVELY (DuckDB's IEJoin
    // handles the inequality natively) — the Spark side must reproduce
    // it through the bucket decomposition, so bucket bugs (off-by-one
    // at interval edges, double-counted pairs) hash-mismatch.
    "q50_range_join" ->
      """WITH p AS (
        |  SELECT event_id AS purchase_id, CAST(floor(epoch(ts)) AS BIGINT) AS start_s
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT CAST(floor(epoch(ts)) AS BIGINT) AS click_s
        |  FROM events WHERE event_type = 'click')
        |SELECT p.purchase_id, p.start_s, COUNT(c.click_s) AS n_clicks
        |FROM p LEFT JOIN c
        |  ON c.click_s >= p.start_s AND c.click_s < p.start_s + 600
        |GROUP BY 1, 2 ORDER BY purchase_id""".stripMargin,
    "g9_pagerank" ->
      """WITH pairs AS (
        |  SELECT DISTINCT user_id AS u, CAST(props->>'k' AS BIGINT) % 25 AS g
        |  FROM events),
        |edges AS (
        |  SELECT u * 2 AS src, g * 2 + 1 AS dst FROM pairs
        |  UNION ALL
        |  SELECT g * 2 + 1 AS src, u * 2 AS dst FROM pairs),
        |deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY 1),
        |nn AS (SELECT COUNT(*) AS n FROM deg),
        |r0 AS (SELECT src AS node, 1000000000000 // n AS rank FROM deg CROSS JOIN nn),
        |r1 AS (
        |  SELECT e.dst AS node,
        |    CAST((SELECT ((1000000000000 // n) * 15) // 100 FROM nn)
        |      + (85 * SUM(r.rank // d.deg)) // 100 AS BIGINT) AS rank
        |  FROM edges e JOIN deg d ON d.src = e.src JOIN r0 r ON r.node = e.src
        |  GROUP BY e.dst),
        |r2 AS (
        |  SELECT e.dst AS node,
        |    CAST((SELECT ((1000000000000 // n) * 15) // 100 FROM nn)
        |      + (85 * SUM(r.rank // d.deg)) // 100 AS BIGINT) AS rank
        |  FROM edges e JOIN deg d ON d.src = e.src JOIN r1 r ON r.node = e.src
        |  GROUP BY e.dst),
        |r3 AS (
        |  SELECT e.dst AS node,
        |    CAST((SELECT ((1000000000000 // n) * 15) // 100 FROM nn)
        |      + (85 * SUM(r.rank // d.deg)) // 100 AS BIGINT) AS rank
        |  FROM edges e JOIN deg d ON d.src = e.src JOIN r2 r ON r.node = e.src
        |  GROUP BY e.dst)
        |SELECT node, rank AS pagerank FROM r3 ORDER BY node""".stripMargin,
    // the oracle states the pattern declaratively (correlated EXISTS
    // over clicks × views per purchase — tractable only because
    // per-user event counts are small); the Spark side must reproduce
    // it through the two running-state window passes
    "q59_seq_pattern" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events)
        |SELECT p.user_id, COUNT(*) AS n_purchases,
        |  CAST(SUM(CASE WHEN EXISTS (
        |    SELECT 1 FROM e c, e v
        |    WHERE c.user_id = p.user_id AND v.user_id = p.user_id
        |      AND c.event_type = 'click' AND v.event_type = 'view'
        |      AND v.ts_us < c.ts_us AND c.ts_us < p.ts_us
        |      AND p.ts_us - v.ts_us <= 172800000000
        |  ) THEN 1 ELSE 0 END) AS BIGINT) AS n_attributed
        |FROM e p WHERE p.event_type = 'purchase'
        |GROUP BY p.user_id ORDER BY user_id""".stripMargin,
    "q26_asof_join" ->
      """WITH c AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, MAX(event_id) AS click_id
        |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
        |p AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id AS purchase_id
        |  FROM events WHERE event_type = 'purchase')
        |SELECT p.purchase_id, p.user_id, p.ts_us AS purchase_ts,
        |  c.click_id, c.ts_us AS click_ts
        |FROM p ASOF JOIN c
        |  ON p.user_id = c.user_id AND p.ts_us >= c.ts_us
        |ORDER BY purchase_id""".stripMargin,
    "q21_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
        |  FROM events),
        |marked AS (
        |  SELECT user_id, event_id, ts_s,
        |    CASE WHEN lag(ts_s) OVER w IS NULL
        |           OR ts_s - lag(ts_s) OVER w > 1800 THEN 1 ELSE 0 END AS new_sess
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_s, event_id)),
        |sessions AS (
        |  SELECT user_id,
        |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_s, event_id
        |                        ROWS UNBOUNDED PRECEDING) AS sess_id
        |  FROM marked)
        |SELECT user_id, CAST(MAX(sess_id) AS BIGINT) AS n_sessions,
        |  COUNT(*) AS n_events
        |FROM sessions GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q22_event_window" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
        |  event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin,
    "q23_json_extract" ->
      """SELECT CAST(props->>'k' AS BIGINT) % 10 AS k_bucket, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_value
        |FROM events GROUP BY 1 ORDER BY k_bucket""".stripMargin,
    "q24_funnel" ->
      """SELECT user_id,
        |  MIN(CASE WHEN event_type = 'signup'
        |           THEN CAST(floor(epoch(ts)) AS BIGINT) END) AS first_signup,
        |  MIN(CASE WHEN event_type = 'purchase'
        |           THEN CAST(floor(epoch(ts)) AS BIGINT) END) AS first_purchase
        |FROM events GROUP BY user_id
        |HAVING first_signup IS NOT NULL AND first_purchase IS NOT NULL
        |   AND first_signup < first_purchase
        |ORDER BY user_id""".stripMargin,
    "g6_linked_objects" ->
      """WITH pairs AS (
        |  SELECT DISTINCT user_id AS u, CAST(props->>'k' AS BIGINT) % 25 AS g
        |  FROM events WHERE user_id < 200),
        |edges AS (
        |  SELECT DISTINCT a.u AS x, b.u AS y FROM pairs a JOIN pairs b ON a.g = b.g),
        |h1 AS (SELECT x AS seed, y AS linked FROM edges WHERE x < 20),
        |h2 AS (
        |  SELECT DISTINCT h1.seed, e.y AS linked
        |  FROM h1 JOIN edges e ON h1.linked = e.x)
        |SELECT seed, linked, MIN(hops) AS hops FROM (
        |  SELECT seed, linked, CAST(1 AS BIGINT) AS hops FROM h1
        |  UNION ALL
        |  SELECT seed, linked, CAST(2 AS BIGINT) AS hops FROM h2) t
        |WHERE seed <> linked
        |GROUP BY seed, linked ORDER BY seed, linked""".stripMargin,
    // the oracle unrolls the three peel rounds as CTE stages — the
    // fixed-rounds contract stated declaratively
    "g13_kcore_peel" ->
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e0 AS (
        |  SELECT a.l_partkey AS a, b.l_partkey AS b, COUNT(*) AS sup
        |  FROM items a JOIN items b
        |    ON b.l_orderkey = a.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2),
        |e AS (SELECT a, b FROM e0 WHERE sup >= 2),
        |s0 AS (SELECT a AS x, b AS y FROM e UNION ALL SELECT b, a FROM e),
        |k1 AS (SELECT x FROM s0 GROUP BY x HAVING COUNT(*) >= 3),
        |s1 AS (SELECT s0.x, s0.y FROM s0
        |       JOIN k1 ka ON s0.x = ka.x JOIN k1 kb ON s0.y = kb.x),
        |k2 AS (SELECT x FROM s1 GROUP BY x HAVING COUNT(*) >= 3),
        |s2 AS (SELECT s1.x, s1.y FROM s1
        |       JOIN k2 ka ON s1.x = ka.x JOIN k2 kb ON s1.y = kb.x),
        |k3 AS (SELECT x FROM s2 GROUP BY x HAVING COUNT(*) >= 3),
        |s3 AS (SELECT s2.x, s2.y FROM s2
        |       JOIN k3 ka ON s2.x = ka.x JOIN k3 kb ON s2.y = kb.x)
        |SELECT x AS p_partkey, COUNT(*) AS core_deg
        |FROM s3 GROUP BY x ORDER BY p_partkey""".stripMargin,
    // peeling is monotone, so unrolling the operator's maxRounds bound
    // states the FIXPOINT exactly whenever the Spark side's `require`
    // passes (extra unrolled rounds past convergence are identity)
    "g13b_kcore_fixpoint" -> g13bOracleSql(k = 3, rounds = 12),
    // the oracle STATES the semantics — min cost over all paths of
    // <= 3 edges — by enumerating paths recursively; tractable only
    // because the subgraph is small (the Spark side never enumerates
    // paths, which is the point)
    "g12_sssp" ->
      """WITH RECURSIVE pairs AS (
        |  SELECT DISTINCT user_id AS u, CAST(props->>'k' AS BIGINT) % 25 AS g
        |  FROM events WHERE user_id < 60),
        |we AS (
        |  SELECT DISTINCT a.u AS x, b.u AS y,
        |    1 + (a.u + b.u) % 9 AS w
        |  FROM pairs a JOIN pairs b ON a.g = b.g WHERE a.u <> b.u),
        |r AS (
        |  SELECT u AS seed, u AS node, CAST(0 AS BIGINT) AS cost, 0 AS hops
        |  FROM (SELECT DISTINCT u FROM pairs WHERE u < 5) s
        |  UNION ALL
        |  SELECT r.seed, we.y, r.cost + we.w, r.hops + 1
        |  FROM r JOIN we ON r.node = we.x WHERE r.hops < 3)
        |SELECT seed, node, MIN(cost) AS cost
        |FROM r WHERE seed <> node
        |GROUP BY seed, node ORDER BY seed, node""".stripMargin,
    "g1_connected_components" ->
      """WITH RECURSIVE pairs AS (
        |  SELECT DISTINCT user_id AS u, CAST(props->>'k' AS BIGINT) % 25 AS g
        |  FROM events WHERE user_id < 200),
        |edges AS (
        |  SELECT a.u AS x, b.u AS y FROM pairs a JOIN pairs b ON a.g = b.g),
        |reach(x, y) AS (
        |  SELECT x, y FROM edges
        |  UNION
        |  SELECT r.x, e.y FROM reach r JOIN edges e ON r.y = e.x)
        |SELECT x AS user_id, MIN(y) AS component
        |FROM reach GROUP BY x ORDER BY user_id""".stripMargin,
  )

  /** Bucketing is LAYOUT, not semantics: the bucketed twins answer
    * with their originals' oracles verbatim — any divergence is a
    * bucketed-path bug, exactly what the shared oracle catches.
    */
  val bucketedOracles: Map[String, String] = Map(
    "g15b_link_predict_bucketed" -> oracles("g15_link_predict"),
    "g16b_common_neighbors_bucketed" -> oracles("g16_common_neighbors"))
}
