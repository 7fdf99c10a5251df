package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Gate, Tables}

/** Geometry operators: the reference's imperative P&ID post-processing
  * (point-in-box / nearest-box association `app.py:2016-2130,
  * 329-583`; duplicate-line envelope merge `app.py:243-303`)
  * re-expressed as declarative joins/aggregations.
  *
  * The driver tables carry no coordinates, so points/boxes/lines are
  * synthesized DETERMINISTICALLY from events/part/lineitem with pure
  * integer arithmetic — both engines derive identical geometry, so
  * every operator is oracle-checked.
  *
  * Scale design: containment/nearest use a grid-cell equi-join
  * (explode each box/probe into covered cells, hash-join on cell,
  * exact predicate after) — the O(n·m) nested-loop the reference runs
  * per image becomes a keyed shuffle that scales linearly; cell size
  * bounds the fan-out (<= 4 cells/box, 9 cells/probe).
  */
object Geometry {

  /** points: px,py in [0,100) derived from event ids. Widened: the
    * cell-join probe stage (hash probe + containment + the pair
    * emit) otherwise runs inside the unsplittable single-file events
    * scan task at small SFs (round 18, Tables.widen — identity at
    * real scale).
    */
  private def points(s: SparkSession, d: String): DataFrame =
    Tables.widen(s, d, "events", Tables.events(s, d), Seq("event_id")).select(
      col("event_id"),
      ((col("event_id") % 1000) / lit(10)).as("px"),
      (((col("event_id") * 7919) % 1000) / lit(10)).as("py"))

  /** boxes: [x1,x2]×[y1,y2] with side 2..12 derived from part. */
  private def boxes(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d).select(
      col("p_partkey"),
      (((col("p_partkey") * 131) % 900) / lit(10)).as("x1"),
      (((col("p_partkey") * 241) % 900) / lit(10)).as("y1"),
      (col("p_size") % 10 + 2).cast("double").as("w"),
      ((col("p_size") * 3) % 10 + 2).cast("double").as("h"))
      .withColumn("x2", col("x1") + col("w"))
      .withColumn("y2", col("y1") + col("h"))

  /** axis-aligned segments derived from lineitem (parity → direction). */
  private def lines(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d).select(
      col("l_orderkey"), col("l_linenumber"),
      ((col("l_orderkey") % 500) / lit(5)).as("ax"),
      ((col("l_partkey") % 500) / lit(5)).as("ay"),
      (col("l_linenumber") % 2 === 0).as("horiz"),
      col("l_quantity").as("len"))

  private val Cell = 16.0

  /** g2's finer grid (round 18, guide §2.3 — shuffle/probe fewer
    * rows): candidate pairs in a point↔box cell join number
    * N_p·N_b·((w̄+C)/100)² for cell size C in the fixed [0,100)²
    * space — C=16 gives 0.053·N_p·N_b probes vs the ~0.005 true-hit
    * floor (w̄≈7). C=4 cuts candidates ~4.4× to 0.012·N_p·N_b for a
    * ≤4×4-cell box explode (bounded: max side 12 ⇒ ⌈12/4⌉+1). Only
    * g2 probes ONE cell per point, so only g2 can take the finer
    * grid free; g3 NEEDS Cell > its 15-radius for 3×3 coverage, and
    * the box↔box joins (g7/g11) re-pair across cells quadratically
    * in cells-per-box (their optimum stays near 16). Correctness is
    * cell-size-independent: a point inside a box always shares the
    * box's covering cell at ANY common cell size.
    */
  private val CellG2 = 4.0

  /** Explode a box DF into every grid cell it overlaps (≤4 cells at
    * the default Cell size) — the shared candidate-generation step of
    * g2/g5/g7. All three completeness arguments (a point inside a
    * box, an endpoint within Tol, two overlapping boxes) assume THIS
    * exact bucketing; keep it in one place.
    */
  private def boxCells(b: DataFrame, cell: Double = Cell): DataFrame = b
    .withColumn("cx", explode(expr(
      s"sequence(cast(floor(x1 / $cell) as int), cast(floor(x2 / $cell) as int))")))
    .withColumn("cy", explode(expr(
      s"sequence(cast(floor(y1 / $cell) as int), cast(floor(y2 / $cell) as int))")))

  // g2: point-in-box containment as a grid-bucketed equi-join. Each
  // box lands in every cell it overlaps; each point in exactly one
  // cell, so no post-join dedup is needed. No final orderBy: the
  // output is ~9M pairs at sf0.1 (and grows linearly), so a global
  // sort would dwarf the join itself purely for presentation — the
  // oracle compare sorts rows on both sides (tools/check.py), and a
  // pair SET is the operator's actual contract. Small-output queries
  // keep their orderBy; this one's plan ends at the filter, the plan
  // you'd want at 100 TB.
  def g2PointInBox(s: SparkSession, d: String): DataFrame = {
    // stats-gated broadcast (the footer-count Gate): the
    // finer explode quadruples the box-cell row count, which can tip
    // the planner's ESTIMATE past autoBroadcast and fall back to a
    // sort-merge join on ~625 cell keys — strictly worse than
    // broadcasting the ≤4×-exploded box side, which stays a few
    // hundred MB up to ~10M boxes. Above that, leave the strategy to
    // the planner (the cell-keyed shuffle join parallelizes 625 ways).
    val bcOk = Gate.small(s, "g2.boxBroadcast", 10000000L)(
      Tables.parquetRowCount(s, s"$d/part.parquet"))
    val b0 = boxCells(boxes(s, d), CellG2)
    val b = if (bcOk) broadcast(b0) else b0
    val p = points(s, d)
      .withColumn("cx", expr(s"cast(floor(px / $CellG2) as int)"))
      .withColumn("cy", expr(s"cast(floor(py / $CellG2) as int)"))
    p.join(b, Seq("cx", "cy"))
      .filter(col("px") >= col("x1") && col("px") <= col("x2") &&
              col("py") >= col("y1") && col("py") <= col("y2"))
      .select(col("event_id"), col("p_partkey"))
  }

  // g3: nearest box center within radius 15 (reference find_nearest_box
  // with max_distance) — probe the 3×3 neighborhood of the point's
  // cell (cell 16 > radius 15 guarantees coverage), exact distance +
  // deterministic argmin after.
  def g3NearestBox(s: SparkSession, d: String): DataFrame = {
    val b = boxes(s, d)
      .withColumn("bx", (col("x1") + col("x2")) * 0.5)
      .withColumn("by", (col("y1") + col("y2")) * 0.5)
      .withColumn("cx", expr(s"cast(floor(bx / $Cell) as int)"))
      .withColumn("cy", expr(s"cast(floor(by / $Cell) as int)"))
      .select("p_partkey", "bx", "by", "cx", "cy")
    val p = points(s, d)
      .withColumn("dx", explode(expr("sequence(-1, 1)")))
      .withColumn("dy", explode(expr("sequence(-1, 1)")))
      .withColumn("cx", expr(s"cast(floor(px / $Cell) as int) + dx"))
      .withColumn("cy", expr(s"cast(floor(py / $Cell) as int) + dy"))
    val w = Window.partitionBy("event_id")
      .orderBy(col("dist"), col("p_partkey"))
    p.join(b, Seq("cx", "cy"))
      .withColumn("dist", sqrt(
        (col("px") - col("bx")) * (col("px") - col("bx")) +
        (col("py") - col("by")) * (col("py") - col("by"))))
      .filter(col("dist") <= 15.0)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("event_id"), col("p_partkey"), col("dist"))
      .orderBy("event_id")
  }

  // g4: duplicate/collinear segment merge (reference
  // remove_duplicate_lines → envelope): same-orientation segments on
  // the same coordinate merge to their envelope — a grouped agg, one
  // shuffle, in place of the reference's O(n²) pairwise scan.
  def g4LineDedup(s: SparkSession, d: String): DataFrame =
    lines(s, d)
      .withColumn("coord", when(col("horiz"), col("ay")).otherwise(col("ax")))
      .withColumn("lo", when(col("horiz"), col("ax")).otherwise(col("ay")))
      .groupBy(col("horiz"), col("coord"))
      .agg(min(col("lo")).as("span_min"),
           max(col("lo") + col("len")).as("span_max"),
           count(lit(1)).as("n_merged"))
      .orderBy("horiz", "coord")

  private val Tol = 5.0

  // g5: snap/extend segments to boxes (reference `app.py:329-583`:
  // extend each detected line endpoint to the nearest component box
  // within tolerance, so lines "connect" to the symbols they touch).
  // For each segment endpoint (start and end), the candidate boxes are
  // those whose FACING edge lies strictly beyond the endpoint along
  // the segment's axis, within Tol, and whose perpendicular span
  // contains the endpoint; the snap target is the nearest such edge
  // (ties broken by p_partkey). Same grid-cell equi-join machinery as
  // g2/g3: boxes explode into covered cells, endpoints probe the ≤4
  // cells within Tol, exact predicate after the hash join — the
  // per-image nested loop becomes one keyed shuffle. The final argmin
  // window partitions by (line, endpoint) — bounded candidate groups,
  // not a low-cardinality key.
  def g5LineSnap(s: SparkSession, d: String): DataFrame = {
    val b = boxCells(boxes(s, d))
    val ep = lines(s, d)
      .withColumn("endpt", explode(expr("sequence(0, 1)")))
      .withColumn("ex", when(col("horiz"),
          when(col("endpt") === 1, col("ax") + col("len")).otherwise(col("ax")))
        .otherwise(col("ax")))
      .withColumn("ey", when(col("horiz"), col("ay"))
        .otherwise(when(col("endpt") === 1, col("ay") + col("len")).otherwise(col("ay"))))
      .withColumn("cx", explode(expr(
        s"sequence(cast(floor((ex - $Tol) / $Cell) as int), cast(floor((ex + $Tol) / $Cell) as int))")))
      .withColumn("cy", explode(expr(
        s"sequence(cast(floor((ey - $Tol) / $Cell) as int), cast(floor((ey + $Tol) / $Cell) as int))")))
    val cand = ep.join(b, Seq("cx", "cy"))
      .filter(when(col("horiz"),
          col("ey") >= col("y1") && col("ey") <= col("y2"))
        .otherwise(col("ex") >= col("x1") && col("ex") <= col("x2")))
      .withColumn("snapped", when(col("horiz"),
          when(col("endpt") === 1, col("x1")).otherwise(col("x2")))
        .otherwise(when(col("endpt") === 1, col("y1")).otherwise(col("y2"))))
      .withColumn("ext", when(col("endpt") === 1,
          when(col("horiz"), col("x1") - col("ex")).otherwise(col("y1") - col("ey")))
        .otherwise(when(col("horiz"), col("ex") - col("x2")).otherwise(col("ey") - col("y2"))))
      .filter(col("ext") > 0 && col("ext") <= Tol)
      .select(col("l_orderkey"), col("l_linenumber"),
              col("endpt").cast("long").as("endpt"), col("p_partkey"),
              col("snapped"), col("ext"))
      .distinct() // a box spanning two probed cells would pair twice
    val w = Window.partitionBy("l_orderkey", "l_linenumber", "endpt")
      .orderBy("ext", "p_partkey")
    cand.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
      .orderBy("l_orderkey", "l_linenumber", "endpt")
  }

  // g7: box overlap-dedup / NMS (reference `deduplicate_boxes` +
  // `non_max_suppression`: YOLO emits overlapping detections of the
  // same symbol; keep the best). A box is dropped when a STRICTLY
  // better-scored box (ties broken by key) overlaps it with IoU >
  // 0.3. This is the parallel "overlap-dominated" variant — one
  // bounded candidate join, deterministic — rather than greedy
  // sequential NMS, which is order-serial within a cluster and
  // cannot be expressed as a join (documented divergence: a dominated
  // box here can still dominate others; at the reference's detection
  // densities the two variants agree). Same grid-cell machinery as
  // g2: overlapping boxes must share a covered cell, so candidates
  // are a cell-keyed equi-join, never all-pairs. IoU arithmetic is
  // the same IEEE expression tree in both engines, so the brute-force
  // DuckDB oracle is bit-exact.
  def g7BoxNms(s: SparkSession, d: String): DataFrame = {
    val b = boxes(s, d)
      .withColumn("score", ((col("p_partkey") * 7919) % 1000).cast("double"))
    val loser = boxCells(b).select(col("cx"), col("cy"), col("p_partkey"),
      col("x1"), col("x2"), col("y1"), col("y2"), col("score"))
    val winner = boxCells(b).select(col("cx"), col("cy"),
      col("p_partkey").as("ka"), col("x1").as("ax1"), col("x2").as("ax2"),
      col("y1").as("ay1"), col("y2").as("ay2"), col("score").as("sa"))
    val iw = greatest(lit(0.0),
      least(col("ax2"), col("x2")) - greatest(col("ax1"), col("x1")))
    val ih = greatest(lit(0.0),
      least(col("ay2"), col("y2")) - greatest(col("ay1"), col("y1")))
    val dominated = winner.join(loser, Seq("cx", "cy"))
      .filter(col("ka") =!= col("p_partkey"))
      .filter(col("sa") > col("score") ||
              (col("sa") === col("score") && col("ka") < col("p_partkey")))
      .withColumn("inter", iw * ih)
      .withColumn("iou", col("inter") /
        ((col("ax2") - col("ax1")) * (col("ay2") - col("ay1")) +
         (col("x2") - col("x1")) * (col("y2") - col("y1")) - col("inter")))
      .filter(col("iou") > 0.3)
      .select("p_partkey").distinct()
    b.join(dominated, Seq("p_partkey"), "left_anti")
      .select(col("p_partkey"), col("x1"), col("y1"), col("x2"), col("y2"),
              col("score"))
      .orderBy("p_partkey")
  }

  // g11: overlap-cluster envelope merge (reference `merge_clusters` +
  // `merge_envelope`, app.py:2852-2906: group INTERSECTING detections
  // into connected clusters, emit ONE envelope box per cluster — the
  // merge counterpart of g7's NMS, which drops). Pipeline of proven
  // stages: grid-cell candidate join (two overlapping boxes must share
  // a covered cell — g2/g7's completeness argument) + the reference's
  // touch-inclusive intersection predicate → distinct edges → g1's
  // min-label components (edge-bucket bipartite form) → one
  // per-component envelope aggregate (min/max corners, max score,
  // count). Boxes with no overlap partner are their own cluster
  // (left join + coalesce, no extra pass). Never all-pairs: candidates
  // are cell-keyed; the reference's in-memory O(n²) adjacency loop is
  // exactly what this replaces at scale. Envelope min/max over
  // integer-derived doubles is exact, so the DuckDB recursive-closure
  // oracle hash-matches.
  def g11BoxEnvelope(s: SparkSession, d: String): DataFrame =
    envelopeMerge(boxes(s, d)
      .withColumn("score", ((col("p_partkey") * 7919) % 1000).cast("double")))

  /** g11's reusable core over any (p_partkey, x1, y1, x2, y2, score)
    * box set — split out so the spec can drive it with synthetic
    * multi-cluster + singleton layouts (the part-derived boxes at test
    * SF overlap into one giant cluster, which exercises the envelope
    * but not the component-splitting path).
    */
  def envelopeMerge(b: DataFrame): DataFrame = {
    val l = boxCells(b).select(col("cx"), col("cy"), col("p_partkey"),
      col("x1"), col("x2"), col("y1"), col("y2"))
    val r = l.select(col("cx"), col("cy"), col("p_partkey").as("kb"),
      col("x1").as("bx1"), col("x2").as("bx2"),
      col("y1").as("by1"), col("y2").as("by2"))
    val edges = l.join(r, Seq("cx", "cy"))
      .filter(col("p_partkey") < col("kb"))
      // touch counts as intersecting, as in the reference's strict-<
      .filter(!(col("bx2") < col("x1") || col("bx1") > col("x2") ||
                col("by2") < col("y1") || col("by1") > col("y2")))
      .select(col("p_partkey").as("box_a"), col("kb").as("box_b"))
      .distinct()
    // edge id = the pair itself as a struct key — EXACT, unlike a
    // 64-bit hash whose birthday-bound collisions (~2^32 edges, real
    // at 100 TB) would silently fuse unrelated clusters. groupBy/join
    // hash-partition struct keys natively; no encoding bound on ids.
    val eid = struct(col("box_a"), col("box_b"))
    val memb = edges.select(col("box_a").as("user_id"), eid.as("g"))
      .unionByName(edges.select(col("box_b").as("user_id"), eid.as("g")))
    val labels = Events.g1ConnectedComponents(memb, maxIter = 60)
      .select(col("user_id").as("p_partkey"), col("component"))
    b.join(labels, Seq("p_partkey"), "left")
      .withColumn("component", coalesce(col("component"), col("p_partkey")))
      .groupBy("component")
      .agg(count(lit(1)).as("n_boxes"),
           min("x1").as("x1"), min("y1").as("y1"),
           max("x2").as("x2"), max("y2").as("y2"),
           max("score").as("score"))
      .orderBy("component")
  }

  // g8: the object-connection graph END-TO-END — the reference's core
  // output (`finding_relationships` / `create_objects_and_connections`,
  // `app.py:2290-2687`): a line whose two endpoints snap to two
  // different boxes CONNECTS those boxes; connected boxes form the
  // equipment groups pushed to Neo4j. Composition of already-proven
  // stages: g5's per-endpoint snap winners → distinct box↔box edges →
  // g1's distributed min-label propagation (edge-bucket bipartite
  // form). maxIter 60: the box graph's diameter is data-dependent,
  // unlike g1's 25-bucket graph (propagation is O(diameter) rounds —
  // each round is one bounded shuffle, and convergence stops early).
  // Oracled end-to-end: g5's hit CTE → edges → recursive closure.
  def g8ObjectGraph(s: SparkSession, d: String): DataFrame = {
    val snaps = g5LineSnap(s, d)
      .select("l_orderkey", "l_linenumber", "endpt", "p_partkey")
    val e0 = snaps.filter(col("endpt") === 0)
      .select(col("l_orderkey"), col("l_linenumber"), col("p_partkey").as("box_a"))
    val e1 = snaps.filter(col("endpt") === 1)
      .select(col("l_orderkey"), col("l_linenumber"), col("p_partkey").as("box_b"))
    val edges = e0.join(e1, Seq("l_orderkey", "l_linenumber"))
      .filter(col("box_a") =!= col("box_b"))
      .select("box_a", "box_b").distinct()
    // struct edge key, not xxhash64: collision-exact at any edge count
    // (see g11's note — same fix).
    val eid = struct(col("box_a"), col("box_b"))
    val memb = edges.select(col("box_a").as("user_id"), eid.as("g"))
      .unionByName(edges.select(col("box_b").as("user_id"), eid.as("g")))
    Events.g1ConnectedComponents(memb, maxIter = 60)
      .select(col("user_id").as("p_partkey"), col("component"))
      .orderBy("p_partkey")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "g8_object_graph" -> (g8ObjectGraph _),
    "g11_box_envelope" -> (g11BoxEnvelope _),
    "g7_box_nms" -> (g7BoxNms _),
    "g2_point_in_box" -> (g2PointInBox _),
    "g3_nearest_box" -> (g3NearestBox _),
    "g4_line_dedup" -> (g4LineDedup _),
    "g5_line_snap" -> (g5LineSnap _),
  )

  private val PointsSql =
    """SELECT event_id, (event_id % 1000) / 10 AS px,
      |  ((event_id * 7919) % 1000) / 10 AS py FROM events""".stripMargin
  private val BoxesSql =
    """SELECT p_partkey,
      |  ((p_partkey * 131) % 900) / 10 AS x1,
      |  ((p_partkey * 241) % 900) / 10 AS y1,
      |  ((p_partkey * 131) % 900) / 10 + CAST(p_size % 10 + 2 AS DOUBLE) AS x2,
      |  ((p_partkey * 241) % 900) / 10 + CAST((p_size * 3) % 10 + 2 AS DOUBLE) AS y2
      |FROM part""".stripMargin

  /** The g5 snap-candidate CTE block (through `hit`), shared by the
    * g5 and g8 oracles so the two can never drift apart.
    */
  private val G5HitCte: String =
    s"""b AS ($BoxesSql),
       |l AS (
       |  SELECT l_orderkey, l_linenumber,
       |    ((l_orderkey % 500) / 5) AS ax,
       |    ((l_partkey % 500) / 5) AS ay,
       |    (l_linenumber % 2 = 0) AS horiz,
       |    l_quantity AS len
       |  FROM lineitem),
       |pt AS (
       |  SELECT l.*, CAST(e.endpt AS BIGINT) AS endpt,
       |    CASE WHEN horiz AND e.endpt = 1 THEN ax + len ELSE ax END AS ex,
       |    CASE WHEN NOT horiz AND e.endpt = 1 THEN ay + len ELSE ay END AS ey
       |  FROM l CROSS JOIN (SELECT unnest([0, 1]) AS endpt) e),
       |cand AS (
       |  SELECT pt.l_orderkey, pt.l_linenumber, pt.endpt, b.p_partkey,
       |    CASE WHEN horiz THEN (CASE WHEN endpt = 1 THEN x1 ELSE x2 END)
       |         ELSE (CASE WHEN endpt = 1 THEN y1 ELSE y2 END) END AS snapped,
       |    CASE WHEN endpt = 1
       |         THEN (CASE WHEN horiz THEN x1 - ex ELSE y1 - ey END)
       |         ELSE (CASE WHEN horiz THEN ex - x2 ELSE ey - y2 END) END AS ext
       |  FROM pt CROSS JOIN b
       |  WHERE (CASE WHEN horiz THEN ey >= y1 AND ey <= y2
       |              ELSE ex >= x1 AND ex <= x2 END)),
       |hit AS (
       |  SELECT *, ROW_NUMBER() OVER (
       |    PARTITION BY l_orderkey, l_linenumber, endpt
       |    ORDER BY ext, p_partkey) AS rn
       |  FROM cand WHERE ext > 0 AND ext <= 5)""".stripMargin

  val oracles: Map[String, String] = Map(
    // brute intersect pairs + recursive closure: states WHAT a cluster
    // is; the Spark side must reproduce it through cell-keyed
    // candidates + min-label propagation, so a cell-coverage gap or a
    // split component hash-mismatches. Singletons envelope themselves.
    "g11_box_envelope" ->
      s"""WITH RECURSIVE b AS (
         |  SELECT p_partkey, x1, y1, x2, y2,
         |    CAST((p_partkey * 7919) % 1000 AS DOUBLE) AS score
         |  FROM ($BoxesSql)),
         |ed AS (
         |  SELECT a.p_partkey AS x, l.p_partkey AS y
         |  FROM b a JOIN b l ON a.p_partkey < l.p_partkey
         |  WHERE NOT (l.x2 < a.x1 OR l.x1 > a.x2 OR
         |             l.y2 < a.y1 OR l.y1 > a.y2)),
         |es AS (SELECT x, y FROM ed UNION SELECT y, x FROM ed),
         |reach(x, y) AS (
         |  SELECT x, y FROM es
         |  UNION
         |  SELECT r.x, e.y FROM reach r JOIN es e ON r.y = e.x),
         |comp AS (
         |  SELECT x AS p_partkey, LEAST(x, MIN(y)) AS component
         |  FROM reach GROUP BY x),
         |lab AS (
         |  SELECT b.p_partkey,
         |    COALESCE(c.component, b.p_partkey) AS component,
         |    b.x1, b.y1, b.x2, b.y2, b.score
         |  FROM b LEFT JOIN comp c ON c.p_partkey = b.p_partkey)
         |SELECT component, COUNT(*) AS n_boxes, MIN(x1) AS x1,
         |  MIN(y1) AS y1, MAX(x2) AS x2, MAX(y2) AS y2,
         |  MAX(score) AS score
         |FROM lab GROUP BY component ORDER BY component""".stripMargin,
    "g7_box_nms" ->
      s"""WITH b AS (
         |  SELECT p_partkey, x1, y1, x2, y2,
         |    CAST((p_partkey * 7919) % 1000 AS DOUBLE) AS score
         |  FROM ($BoxesSql)),
         |dom AS (
         |  SELECT DISTINCT l.p_partkey
         |  FROM b l JOIN b a
         |    ON a.p_partkey <> l.p_partkey
         |   AND (a.score > l.score OR
         |        (a.score = l.score AND a.p_partkey < l.p_partkey))
         |  WHERE GREATEST(0.0, LEAST(a.x2, l.x2) - GREATEST(a.x1, l.x1)) *
         |        GREATEST(0.0, LEAST(a.y2, l.y2) - GREATEST(a.y1, l.y1)) /
         |        ((a.x2 - a.x1) * (a.y2 - a.y1) +
         |         (l.x2 - l.x1) * (l.y2 - l.y1) -
         |         GREATEST(0.0, LEAST(a.x2, l.x2) - GREATEST(a.x1, l.x1)) *
         |         GREATEST(0.0, LEAST(a.y2, l.y2) - GREATEST(a.y1, l.y1)))
         |        > 0.3)
         |SELECT p_partkey, x1, y1, x2, y2, score FROM b
         |WHERE p_partkey NOT IN (SELECT p_partkey FROM dom)
         |ORDER BY p_partkey""".stripMargin,
    "g2_point_in_box" ->
      s"""WITH p AS ($PointsSql), b AS ($BoxesSql)
         |SELECT event_id, p_partkey FROM p JOIN b
         |  ON px >= x1 AND px <= x2 AND py >= y1 AND py <= y2
         |ORDER BY event_id, p_partkey""".stripMargin,
    "g3_nearest_box" ->
      s"""WITH p AS ($PointsSql), b AS ($BoxesSql),
         |c AS (SELECT p_partkey, (x1 + x2) * 0.5 AS bx, (y1 + y2) * 0.5 AS by FROM b),
         |d AS (
         |  SELECT event_id, p_partkey,
         |    sqrt((px - bx) * (px - bx) + (py - by) * (py - by)) AS dist
         |  FROM p CROSS JOIN c),
         |r AS (
         |  SELECT event_id, p_partkey, dist,
         |    ROW_NUMBER() OVER (PARTITION BY event_id
         |                       ORDER BY dist, p_partkey) AS rn
         |  FROM d WHERE dist <= 15.0)
         |SELECT event_id, p_partkey, dist FROM r WHERE rn = 1
         |ORDER BY event_id""".stripMargin,
    "g5_line_snap" ->
      s"""WITH $G5HitCte
         |SELECT l_orderkey, l_linenumber, endpt, p_partkey, snapped, ext
         |FROM hit WHERE rn = 1
         |ORDER BY l_orderkey, l_linenumber, endpt""".stripMargin,
    "g8_object_graph" ->
      s"""WITH RECURSIVE $G5HitCte,
         |sn AS (
         |  SELECT l_orderkey, l_linenumber, endpt, p_partkey
         |  FROM hit WHERE rn = 1),
         |ed AS (
         |  SELECT DISTINCT a.p_partkey AS x, b2.p_partkey AS y
         |  FROM sn a JOIN sn b2
         |    ON a.l_orderkey = b2.l_orderkey
         |   AND a.l_linenumber = b2.l_linenumber
         |  WHERE a.endpt = 0 AND b2.endpt = 1 AND a.p_partkey <> b2.p_partkey),
         |es AS (SELECT x, y FROM ed UNION SELECT y, x FROM ed),
         |reach(x, y) AS (
         |  SELECT x, y FROM es
         |  UNION
         |  SELECT r.x, e.y FROM reach r JOIN es e ON r.y = e.x)
         |SELECT x AS p_partkey, LEAST(x, MIN(y)) AS component
         |FROM reach GROUP BY x ORDER BY p_partkey""".stripMargin,
    "g4_line_dedup" ->
      """WITH l AS (
        |  SELECT (l_linenumber % 2 = 0) AS horiz,
        |    CASE WHEN l_linenumber % 2 = 0
        |         THEN ((l_partkey % 500) / 5) ELSE ((l_orderkey % 500) / 5)
        |    END AS coord,
        |    CASE WHEN l_linenumber % 2 = 0
        |         THEN ((l_orderkey % 500) / 5) ELSE ((l_partkey % 500) / 5)
        |    END AS lo,
        |    l_quantity AS len
        |  FROM lineitem)
        |SELECT horiz, coord, MIN(lo) AS span_min, MAX(lo + len) AS span_max,
        |  COUNT(*) AS n_merged
        |FROM l GROUP BY horiz, coord ORDER BY horiz, coord""".stripMargin,
  )
}
