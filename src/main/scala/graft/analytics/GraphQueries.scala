package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.GraftQuery
import graft.Staging.Stageable

/** Graph analytics over relational edge lists: weighted PageRank as an
  * iterative Pregel-style dataflow — each iteration is ONE join (rank
  * onto out-edges; BROADCAST while the vertex set fits, co-keyed
  * shuffle beyond that — see [[BroadcastNodeLimit]]) plus ONE
  * destination-keyed hash agg, which is exactly the message-passing
  * shape that scales: messages combine map-side per dst, only the
  * node-grain partials cross the wire, and the rank frame (node
  * grain, ≪ edges) is checkpointed each round so 8 iterations never
  * build an 8-deep lineage.
  *
  * Determinism (hash-gate discipline): per-message contributions snap
  * to fixed-point BIGINT (`⌊pr·ratio·1e15 + ½⌋`) before the SUM, so
  * the aggregation is order-free; the damping update is the same
  * `0.15/N + 0.85·(S/1e15)` expression tree in both engines — the
  * whole 8-round chain matches bitwise (the q14j device applied to
  * graphs).
  *
  * Every intermediate — the pair frame, the edge lists, the per-round
  * rank and distance frames — goes through [[graft.Staging.stage]]
  * and belongs to the query call that built it: nothing is memoized
  * across calls, so a lost staged block costs one call, never the
  * session.
  */
object GraphQueries {

  private val Iters = 8

  /** Co-purchase WEIGHTED pair frame (s < t, w = co-occurrence
    * count), built and staged on every call: q24e/f/g each consume
    * their own build, and q24f/g's distinct pair set is exactly this
    * frame's key set (groupBy already dedups).
    *
    * Build shape: no `.distinct()` before the basket build —
    * collect_set dedups within each order, so a separate pair-distinct
    * pass would only add a full lineitem-grain shuffle. No scan
    * fan-out either: the heavy work (collect_set, pair explode, count)
    * all runs AFTER the orderkey exchange — already cores-wide — so
    * fanning the 1-task scan measured a wash (r10 A/B).
    */
  private[graft] def coPurchasePairs(
      spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).lineitem
      .select($"l_orderkey", $"l_partkey")
      .groupBy($"l_orderkey")
      .agg(sort_array(collect_set($"l_partkey")).as("bs"))
      .select(explode(expr(
        """flatten(transform(bs, (x, i) ->
          |  transform(slice(bs, i + 2, size(bs)), y ->
          |    struct(x AS s, y AS t))))""".stripMargin)).as("p"))
      .select($"p.s", $"p.t")
      .groupBy($"s", $"t")
      .agg(count(lit(1)).as("w"))
      .staged
  }

  /** Node-grain frames (rank, degree, frontier distance) are ≪ edges
    * by construction; below this vertex count they are BROADCAST onto
    * the edge list, so an iteration round never shuffles (or re-sorts)
    * the edges — per-round cost collapses to one edge scan + map-side
    * combine + a node-grain exchange. 4M × ~24 B ≈ 100 MB hash
    * relation, safe on the 8 GB+ executors the 100 TB mandate assumes;
    * beyond it the operators fall back to the co-keyed shuffle join,
    * which is the only shape that works when the vertex set itself is
    * distributed-scale (billions of nodes).
    */
  private val BroadcastNodeLimit = 4000000L

  /** Weighted PageRank. `edges` must be directed (src, dst, w) with
    * every node having out-degree ≥ 1 (true for symmetric graphs —
    * callers with dangling nodes must handle them first; this operator
    * would silently drop their mass). `broadcastLimit` is a test seam:
    * specs pin that the broadcast path and the shuffle fallback
    * produce IDENTICAL ranks by forcing each side of the threshold.
    */
  def pageRank(edges: DataFrame, src: String, dst: String, w: String,
      iters: Int = Iters,
      broadcastLimit: Long = BroadcastNodeLimit): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // out-degree IS the node set (out-degree ≥ 1 contract), so one
    // checkpointed node-grain frame serves as: broadcast probe, ratio
    // divisor, and round-0 rank — no separate distinct pass.
    val outd = edges.groupBy(col(src)).agg(sum(col(w)).as("__out"))
      .staged
    val n = outd.count()
    // Empty graph (a contract-legal filtered-to-nothing input): the
    // twin's outd-anchored CTEs all yield zero rows, so the rank frame
    // is empty — return it before the 1.0/N fold divides by zero.
    if (n == 0L)
      return outd.select(col(src).as("node"), lit(0.0).as("pr"))
    val nD = n.toDouble
    val small = n <= broadcastLimit
    def hinted(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    val e = edges.join(hinted(outd), src)
      .select(col(src).as("__src"), col(dst).as("__dst"),
        (col(w).cast("double") / col("__out").cast("double")).as("__ratio"))
      .staged
    var pr = outd
      .select(col(src).as("node"), (lit(1.0) / lit(nD)).as("pr"))
      .staged
    // One damping step. `hint` broadcasts the rank frame explicitly —
    // needed when pr is a checkpointed LogicalRDD (no shuffle stage
    // for AQE to re-plan from); a step stacked directly on another
    // step's aggregate leaves the choice to AQE, which sees the
    // node-grain runtime size and broadcasts on its own.
    // Every step re-anchors on the full NODE set (outd's keys): a
    // node with out-edges but no in-edges is contract-legal, and
    // keying the step on __dst alone would drop it from pr — losing
    // its outgoing mass from the NEXT round and corrupting every
    // downstream rank. The left join's NULL fills its incoming sum
    // with 0, so it keeps exactly the 0.15/N base mass.
    val nodes = outd.select(col(src).as("node"))
    def step(prev: DataFrame, hint: Boolean): DataFrame = {
      val prJ = if (hint) hinted(prev) else prev
      val agg = e.join(prJ, e("__src") === prJ("node"))
        .groupBy($"__dst")
        .agg(sum(floor($"pr" * $"__ratio" * 1e15 + 0.5).cast("long")).as("s"))
      nodes.join(agg, $"node" === $"__dst", "left")
        .select($"node",
          (lit(0.15) / lit(nD) +
            lit(0.85) * (coalesce($"s", lit(0L)).cast("double") / lit(1e15)))
            .as("pr"))
    }
    // Two rounds per materialization: lineage stays bounded, but half
    // the checkpoint/broadcast/job overhead of one-round-per-commit.
    for (_ <- 1 to iters / 2)
      pr = step(step(pr, hint = true), hint = false).staged
    if (iters % 2 == 1) pr = step(pr, hint = true).staged
    pr
  }

  /** Shared DuckDB twin of the iteration chain (unrolled MATERIALIZED
    * CTEs — same structure the Spark loop executes).
    */
  private def pageRankSql(iters: Int): String = {
    val steps = (1 to iters).map { k =>
      // anchored on outd (the node set), mirroring the Spark step's
      // left join — zero-in-degree nodes keep their 0.15/N base mass
      s"""pr$k AS MATERIALIZED (
         |  SELECT o.s AS node,
         |    0.15 / nn + 0.85 * (CAST(COALESCE(a.sd, 0) AS DOUBLE) / 1e15) AS pr
         |  FROM outd o CROSS JOIN nn LEFT JOIN (
         |    SELECT e.t, SUM(CAST(FLOOR(p.pr * e.ratio * 1e15
         |      + 0.5) AS BIGINT)) AS sd
         |    FROM e JOIN pr${k - 1} p ON e.s = p.node GROUP BY e.t) a
         |    ON a.t = o.s)""".stripMargin
    }
    steps.mkString(",\n")
  }

  /** q24e — PageRank centrality of parts in the co-purchase graph
    * (nodes = parts, edges = bought-in-the-same-order, weight =
    * co-occurrence count). The graph build rides the q25 basket
    * device: (basket, item) dedup grain first, per-basket sorted
    * arrays, pairs emitted MAP-SIDE (fan-out ≤ C(items/basket, 2)) —
    * never an items self-join; symmetrization doubles the pair rows,
    * which also guarantees out-degree ≥ 1 for every node.
    */
  val q24ePagerank: GraftQuery = GraftQuery(
    "q24e_copurchase_pagerank",
    s"""WITH items AS (
       |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |up AS (
       |  SELECT a.l_partkey AS s, b.l_partkey AS t, CAST(COUNT(*) AS BIGINT) AS w
       |  FROM items a JOIN items b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |  GROUP BY 1, 2),
       |e0 AS (
       |  SELECT s, t, w FROM up UNION ALL SELECT t AS s, s AS t, w FROM up),
       |outd AS (SELECT s, SUM(w) AS o FROM e0 GROUP BY 1),
       |e AS MATERIALIZED (
       |  SELECT e0.s, e0.t, CAST(w AS DOUBLE) / CAST(o AS DOUBLE) AS ratio
       |  FROM e0 JOIN outd ON e0.s = outd.s),
       |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nn FROM outd),
       |pr0 AS MATERIALIZED (
       |  SELECT outd.s AS node, 1.0 / nn.nn AS pr FROM outd, nn),
       |${pageRankSql(Iters)}
       |SELECT node AS l_partkey, pr FROM pr$Iters""".stripMargin) {
    (spark, dir) =>
      import spark.implicits._
      val up = coPurchasePairs(spark, dir)
      val edges = up.unionAll(up.select($"t".as("s"), $"s".as("t"), $"w"))
      pageRank(edges, "s", "t", "w")
        .select($"node".as("l_partkey"), $"pr")
  }

  /** q24f — per-part triangle counts in the co-purchase graph, via
    * degree-ordered edge orientation (Schank–Wagner): every edge is
    * directed from its (degree, id)-smaller endpoint, so wedges are
    * enumerated only from low-degree centers — the device that keeps
    * wedge fan-out bounded on power-law graphs (a hub of degree d
    * contributes 0 wedges as a center once oriented away). Wedge
    * spokes are ordered by the SAME (degree, id) rank the orientation
    * uses, so a triangle's closing edge is always oriented spoke-b →
    * spoke-c — making the closing check a single EQUI-join (an
    * either-direction check would be an OR condition Catalyst can only
    * nested-loop). Every count is an integer.
    */
  val q24fTriangles: GraftQuery = GraftQuery(
    "q24f_triangles",
    """WITH items AS (
      |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |up AS (
      |  SELECT DISTINCT a.l_partkey AS s, b.l_partkey AS t
      |  FROM items a JOIN items b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |deg AS (
      |  SELECT v, CAST(COUNT(*) AS BIGINT) AS d FROM (
      |    SELECT s AS v FROM up UNION ALL SELECT t AS v FROM up) GROUP BY 1),
      |or_e AS (
      |  SELECT CASE WHEN (ds.d < dt.d) OR (ds.d = dt.d AND up.s < up.t)
      |              THEN up.s ELSE up.t END AS lo,
      |         CASE WHEN (ds.d < dt.d) OR (ds.d = dt.d AND up.s < up.t)
      |              THEN up.t ELSE up.s END AS hi,
      |         CASE WHEN (ds.d < dt.d) OR (ds.d = dt.d AND up.s < up.t)
      |              THEN dt.d ELSE ds.d END AS dhi
      |  FROM up JOIN deg ds ON up.s = ds.v JOIN deg dt ON up.t = dt.v),
      |tri AS (
      |  SELECT w1.lo AS a, w1.hi AS b, w2.hi AS c
      |  FROM or_e w1 JOIN or_e w2 ON w1.lo = w2.lo
      |  JOIN or_e cl ON cl.lo = w1.hi AND cl.hi = w2.hi
      |  WHERE (w1.dhi < w2.dhi) OR (w1.dhi = w2.dhi AND w1.hi < w2.hi)),
      |member AS (
      |  SELECT a AS v FROM tri UNION ALL SELECT b FROM tri
      |  UNION ALL SELECT c FROM tri)
      |SELECT v AS l_partkey, CAST(COUNT(*) AS BIGINT) AS n_triangles
      |FROM member GROUP BY 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val up = coPurchasePairs(spark, dir).select($"s", $"t")
    triangleCounts(up, "s", "t")
      .select($"v".as("l_partkey"), $"n_triangles")
  }

  /** Per-node triangle counts. `edges` must be undirected-unique
    * (one row per pair, s < t). Nodes in zero triangles are absent
    * from the output. See q24f scaladoc for the orientation device.
    * `broadcastLimit` is a test seam (see [[pageRank]]): specs force
    * both the compact-forward and the wedge-join path and pin that
    * they count identically.
    */
  def triangleCounts(edges: DataFrame, s: String, t: String,
      broadcastLimit: Long = BroadcastNodeLimit): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val up = edges.select(col(s).as("s"), col(t).as("t"))
      .staged // 3 consumers (deg ×2 sides + orientation)
    // degree joins are deliberately left to AQE: deg is a shuffle
    // stage over the checkpointed edge list, so AQE sees its true
    // (node-grain) size at runtime and converts both lookups to
    // broadcast joins itself — an explicit checkpoint+hint here
    // measured ~35% SLOWER (it forces eager materializations AQE's
    // fused plan never pays). Contrast pageRank/bfsHops, where both
    // join inputs are checkpointed LogicalRDDs with no shuffle stage
    // for AQE to re-plan from, so the hint must be explicit.
    val deg = up.select($"s".as("v")).unionAll(up.select($"t".as("v")))
      .groupBy($"v").agg(count(lit(1)).as("d"))
    val fwd = $"d_s" < $"d_t" || ($"d_s" === $"d_t" && $"s" < $"t")
    val orE = up
      .join(deg.toDF("v_s", "d_s"), $"s" === $"v_s")
      .join(deg.toDF("v_t", "d_t"), $"t" === $"v_t")
      .select(
        when(fwd, $"s").otherwise($"t").as("lo"),
        when(fwd, $"t").otherwise($"s").as("hi"),
        when(fwd, $"d_t").otherwise($"d_s").as("dhi"))
      .staged // consumers below
    // COMPACT-FORWARD while the oriented edge list fits a broadcast
    // (≤ BroadcastNodeLimit edges): per edge (u,v), the triangles
    // through it are N⁺(u) ∩ N⁺(v), and each triangle a→b, a→c, b→c
    // is found exactly once — at its center edge (a,b) with w = c.
    // The wedge frame (Σ C(outdeg,2) rows — ~15× the edges on this
    // graph) is never materialized or shuffled: adjacency lists
    // broadcast at node grain, the intersection runs map-side, and
    // only node-grain credit partials reach the final exchange.
    // Beyond the limit, the classic two-join wedge plan below is the
    // shape that scales (everything keyed, nothing broadcast).
    if (orE.count() <= broadcastLimit) {
      val adj = orE.groupBy($"lo").agg(collect_list($"hi").as("nbrs"))
      // the left join's NULL-fill must match the input's node type —
      // a hardcoded array<long> would silently narrow the otherwise
      // type-generic helper on this branch only
      val emptyNbrs = array().cast(adj.schema("nbrs").dataType)
      val per = orE
        .join(broadcast(adj.toDF("u", "nu")), $"lo" === $"u")
        .join(broadcast(adj.toDF("v", "nv")), $"hi" === $"v", "left")
        .select($"lo", $"hi",
          array_intersect($"nu", coalesce($"nv", emptyNbrs)).as("ws"))
        .select($"lo", $"hi", $"ws", size($"ws").cast("long").as("k"))
        // two consumers (center + apex credits): without this the
        // broadcast probes AND the hot array_intersect run twice —
        // the file's multi-consumer checkpoint discipline (orE above)
        .staged
      val centerCredits = per.filter($"k" > 0)
        .select(explode(array($"lo", $"hi")).as("v"), $"k")
      val apexCredits = per
        .select(explode($"ws").as("v"), lit(1L).as("k"))
      centerCredits.unionAll(apexCredits)
        .groupBy($"v").agg(sum($"k").as("n_triangles"))
    } else {
      val w1 = orE.toDF("lo", "hi_b", "d_b")
      val w2 = orE.toDF("lo", "hi_c", "d_c")
      val wedges = w1.join(w2, "lo")
        .filter($"d_b" < $"d_c" || ($"d_b" === $"d_c" && $"hi_b" < $"hi_c"))
      val cl = orE.toDF("cl_lo", "cl_hi", "cl_d")
      val tri = wedges.join(cl,
        $"cl_lo" === $"hi_b" && $"cl_hi" === $"hi_c")
        .select($"lo".as("a"), $"hi_b".as("b"), $"hi_c".as("c"))
      tri.select(explode(array($"a", $"b", $"c")).as("v"))
        .groupBy($"v").agg(count(lit(1)).as("n_triangles"))
    }
  }

  /** Multi-source BFS: minimum hop count from any seed node, capped at
    * `iters` rounds (unreached nodes are absent). Each round is ONE
    * src-keyed join (frontier onto out-edges) + ONE node-keyed MIN
    * agg — the same message-passing shape as [[pageRank]], but every
    * quantity is an integer, so MIN is order-free and the whole chain
    * is trivially deterministic (no fixed-point device needed). The
    * node-grain dist frame is checkpointed per round: k rounds never
    * build a k-deep lineage, and the frame never exceeds node grain
    * (≪ edges). `edges` must already contain both directions.
    */
  def bfsHops(edges: DataFrame, s: String, t: String,
      seeds: DataFrame, node: String, iters: Int = 4,
      broadcastLimit: Long = BroadcastNodeLimit): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.select(col(s).as("__s"), col(t).as("__t"))
      .staged // consumed every round
    // Both join inputs are checkpointed LogicalRDDs (pageRank's
    // situation), so AQE has no shuffle stats and would plan an SMJ
    // that RE-SORTS the full edge list every round. Broadcast the
    // node-grain frontier explicitly while the graph is below
    // [[BroadcastNodeLimit]] (the frontier is ≤ the node set ≪ edges);
    // past the limit the co-keyed shuffle join is the scale shape.
    // Re-A/B (r11, fresh-JVM min-of-5, standalone, idle, back-to-back):
    // SMJ rounds 6.09 s → broadcast rounds 2.16 s (2.8×) at sf0.1.
    // Pre-partitioning and pre-sorting e instead was a wash (r10): the
    // broadcast path eliminates the per-round sort entirely.
    // The broadcast frame is DIST — node-grain — so the gate counts
    // dist itself, per round: it is checkpointed every round, so the
    // count is a cheap RDD count with no shuffle. (An edge-row gate
    // — the first cut here — had the wrong units both ways: a dense
    // graph with few nodes lost the 2.8x broadcast path the moment
    // edges passed the limit, and a sparse one could broadcast up to
    // 2x the node budget.)
    var dist = seeds.select(col(node).as("node"), lit(0L).as("hops"))
      .staged
    for (_ <- 1 to iters) {
      val frontier =
        if (dist.count() <= broadcastLimit) broadcast(dist) else dist
      dist = e.join(frontier, $"__s" === $"node")
        .select($"__t".as("node"), ($"hops" + 1L).as("hops"))
        .unionAll(dist)
        .groupBy($"node").agg(min($"hops").as("hops"))
        .staged
    }
    dist
  }

  private def bfsSql(iters: Int): String =
    (1 to iters).map { k =>
      s"""d$k AS MATERIALIZED (
         |  SELECT node, MIN(hops) AS hops FROM (
         |    SELECT e.t AS node, d.hops + 1 AS hops
         |    FROM e JOIN d${k - 1} d ON e.s = d.node
         |    UNION ALL SELECT node, hops FROM d${k - 1})
         |  GROUP BY 1)""".stripMargin
    }.mkString(",\n")

  /** q24g — co-purchase proximity to promoted parts: BFS hop distance
    * from the seed set {parts with partkey % 50 = 0} (a deterministic
    * integer rule both engines apply identically), 4 rounds. The
    * "how far is every item from a campaign item?" recommendation
    * feature. Graph build: [[coPurchasePairs]], as in q24e/q24f.
    */
  val q24gBfsHops: GraftQuery = GraftQuery(
    "q24g_bfs_hops",
    s"""WITH items AS (
       |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |up AS (
       |  SELECT DISTINCT a.l_partkey AS s, b.l_partkey AS t
       |  FROM items a JOIN items b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
       |e AS MATERIALIZED (
       |  SELECT s, t FROM up UNION ALL SELECT t AS s, s AS t FROM up),
       |d0 AS MATERIALIZED (
       |  SELECT DISTINCT s AS node, CAST(0 AS BIGINT) AS hops
       |  FROM e WHERE s % 50 = 0),
       |${bfsSql(4)}
       |SELECT node AS l_partkey, hops FROM d4""".stripMargin) {
    (spark, dir) =>
      import spark.implicits._
      val up = coPurchasePairs(spark, dir).select($"s", $"t")
      val edges = up.unionAll(up.select($"t".as("s"), $"s".as("t")))
      val seeds = edges.select($"s".as("node")).distinct()
        .filter($"node" % 50 === 0)
      bfsHops(edges, "s", "t", seeds, "node", 4)
        .select($"node".as("l_partkey"), $"hops")
  }

  val all: Seq[GraftQuery] = Seq(q24ePagerank, q24fTriangles, q24gBfsHops)
}
