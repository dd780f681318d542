package graft

import org.apache.spark.sql.functions._

import graft.analytics.GraphQueries

/** PageRank: bitwise driver replay on a hand graph, exact symmetry on
  * a regular graph, mass conservation on the real co-purchase graph.
  */
class GraphSpec extends SparkTestBase {
  import spark.implicits._

  /** Driver-side replay with the operator's exact fixed-point steps. */
  private def replay(edges: Seq[(Long, Long, Long)], iters: Int)
      : Map[Long, Double] = {
    val out = edges.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val ratio = edges.map { case (s, t, w) => (s, t, w.toDouble / out(s)) }
    val n = out.keySet.size
    val nD = n.toDouble
    var pr = out.keySet.map(_ -> 1.0 / nD).toMap
    for (_ <- 1 to iters) {
      val s = ratio.groupBy(_._2).view.mapValues(
        _.map { case (src, _, r) =>
          math.floor(pr(src) * r * 1e15 + 0.5).toLong
        }.sum).toMap
      // re-anchor on the FULL node set each round, like the operator:
      // a zero-in-degree node keeps its 0.15/N base mass
      pr = out.keySet.map { node =>
        node -> (0.15 / nD + 0.85 * (s.getOrElse(node, 0L).toDouble / 1e15))
      }.toMap
    }
    pr
  }

  test("pageRank matches a bitwise driver replay on an asymmetric graph") {
    // weighted asymmetric triangle + pendant, symmetrized
    val up = Seq((1L, 2L, 3L), (1L, 3L, 1L), (2L, 3L, 2L), (3L, 4L, 1L))
    val directed = up ++ up.map { case (s, t, w) => (t, s, w) }
    val df = directed.toDF("s", "t", "w")
    val got = GraphQueries.pageRank(df, "s", "t", "w").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val want = replay(directed, 8)
    assert(got.keySet == want.keySet)
    got.foreach { case (node, pr) =>
      assert(pr == want(node), s"node $node: $pr != ${want(node)}")
    }
    // hub (node 3: heaviest total weight) outranks the pendant leaf
    assert(got(3L) > got(4L))
  }

  test("pageRank keeps zero-in-degree nodes (contract-legal directed graph)") {
    // A feeds B but nothing feeds A: out-degree >= 1 everywhere (the
    // documented contract) yet A must survive every round with its
    // 0.15/N base mass — keying a step on dst alone would drop it and
    // lose its outgoing mass from round 2 on
    val directed = Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 2L, 1L))
    val got = GraphQueries.pageRank(directed.toDF("s", "t", "w"), "s", "t", "w")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val want = replay(directed, 8)
    assert(got.keySet === Set(1L, 2L, 3L), s"node set wrong: ${got.keySet}")
    got.foreach { case (node, pr) =>
      assert(pr == want(node), s"node $node: $pr != ${want(node)}")
    }
    assert(got(1L) == 0.15 / 3.0, "source node must hold exactly base mass")
  }

  test("broadcast path and shuffle fallback produce bitwise-equal ranks") {
    // same graph pushed through BOTH physical paths via the test seam:
    // broadcastLimit=0 forces the co-keyed shuffle join (the 100 TB
    // fallback), Long.MaxValue forces the broadcast rounds — the
    // fixed-point arithmetic must make them indistinguishable
    val up = Seq((1L, 2L, 3L), (1L, 3L, 1L), (2L, 3L, 2L), (3L, 4L, 1L),
      (2L, 5L, 4L), (4L, 5L, 2L))
    val directed = up ++ up.map { case (s, t, w) => (t, s, w) }
    val df = directed.toDF("s", "t", "w").repartition(5)
    def ranks(limit: Long): Map[Long, Double] =
      GraphQueries.pageRank(df, "s", "t", "w", broadcastLimit = limit)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val viaBroadcast = ranks(Long.MaxValue)
    val viaShuffle = ranks(0L)
    assert(viaBroadcast == viaShuffle,
      s"physical paths diverge:\n b=$viaBroadcast\n s=$viaShuffle")
  }

  test("regular graph ranks are exactly uniform") {
    // 6-cycle, unit weights: every node's arithmetic is identical, so
    // quantized ranks must be EQUAL, not just close
    val cyc = (0L to 5L).flatMap(i =>
      Seq((i, (i + 1) % 6, 1L), ((i + 1) % 6, i, 1L)))
    val got = GraphQueries.pageRank(cyc.toDF("s", "t", "w"), "s", "t", "w")
      .collect().map(_.getDouble(1)).toSet
    assert(got.size == 1, s"cycle ranks not uniform: $got")
  }

  test("q24e conserves rank mass on the real co-purchase graph") {
    val rows = GraphQueries.q24ePagerank.fn(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val total = rows.map(_.getDouble(1)).sum
    // symmetric graph has no dangling mass; only quantization drift
    assert(math.abs(total - 1.0) < 1e-6, s"mass $total")
    assert(rows.map(_.getDouble(1)).min > 0)
    // centrality must differentiate (not a degenerate uniform output)
    assert(rows.map(_.getDouble(1)).distinct.length > rows.length / 10)
  }

  test("triangle counts: K4 + square + brute-force random parity") {
    // K4 on 1..4: every node is in C(3,2)=3 triangles; square 10..13
    // has none (its nodes must be ABSENT from the output)
    val k4 = for (a <- 1L to 4L; b <- a + 1 to 4L) yield (a, b)
    val square = Seq((10L, 11L), (11L, 12L), (12L, 13L), (10L, 13L))
    val got = GraphQueries.triangleCounts(
      (k4 ++ square).toDF("s", "t"), "s", "t").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L), s"$got")

    // random graph vs driver-side brute force over all triples
    val rnd = new scala.util.Random(7)
    val edges = (for (a <- 1L to 25L; b <- a + 1 to 25L if rnd.nextInt(3) == 0)
      yield (a, b)).toSeq
    val es = edges.toSet
    val want = (for {
      a <- 1L to 25L; b <- a + 1 to 25L; c <- b + 1 to 25L
      if es((a, b)) && es((b, c)) && es((a, c))
    } yield Seq(a, b, c)).flatten
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got2 = GraphQueries.triangleCounts(edges.toDF("s", "t"), "s", "t")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2 == want, s"missing=${want.toSet -- got2.toSet}")

    // BOTH physical paths (compact-forward broadcast vs wedge-join
    // fallback) must count identically — forced via the test seam
    val viaWedges = GraphQueries.triangleCounts(
      edges.toDF("s", "t"), "s", "t", broadcastLimit = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaWedges == want, s"wedge fallback diverged: $viaWedges")
  }

  test("bfsHops: exact hops on a path, cap respected, unreached absent") {
    // path 1-2-3-4-5-6 plus isolated edge 8-9; seed {1}
    val up = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (8L, 9L))
    val edges = (up ++ up.map(_.swap)).toDF("s", "t")
    val got = GraphQueries.bfsHops(edges, "s", "t",
      Seq(1L).toDF("node"), "node", 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 4L),
      s"got $got") // 6 is 5 hops away (beyond cap); 8/9 unreachable
  }

  test("bfsHops matches a driver-side BFS on a random graph") {
    val rnd = new scala.util.Random(7)
    val up = (1 to 60).map(_ => (rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    val adj = (up ++ up.map(_.swap)).groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val seeds = adj.keySet.filter(_ % 5 == 0)
    var want = seeds.map(_ -> 0L).toMap
    for (k <- 1 to 4) {
      val next = want.filter(_._2 == k - 1).keys
        .flatMap(v => adj.getOrElse(v, Nil)).filterNot(want.contains)
      want = want ++ next.map(_ -> k.toLong)
    }
    val got = GraphQueries.bfsHops((up ++ up.map(_.swap)).toDF("s", "t"), "s", "t",
      seeds.toSeq.toDF("node"), "node", 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want, s"diff=${(got.toSet -- want.toSet) ++ (want.toSet -- got.toSet)}")
  }

  test("bfsHops broadcast path and shuffle fallback agree exactly") {
    // the broadcastLimit seam (the pageRank/triangle device): force the
    // shuffle fallback with limit 0 and demand identical hop maps
    val rnd = new scala.util.Random(11)
    val up = (1 to 80).map(_ => (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .filter { case (a, b) => a != b }.distinct
    val edges = (up ++ up.map(_.swap)).toDF("s", "t")
    val seeds = up.map(_._1).filter(_ % 4 == 0).distinct.toDF("node")
    def run(limit: Long) =
      GraphQueries.bfsHops(edges, "s", "t", seeds, "node", 4,
        broadcastLimit = limit)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaBroadcast = run(Long.MaxValue)
    val viaShuffle = run(0L)
    assert(viaBroadcast.nonEmpty && viaBroadcast == viaShuffle,
      s"paths diverge: ${(viaBroadcast.toSet diff viaShuffle.toSet) ++
        (viaShuffle.toSet diff viaBroadcast.toSet)}")
  }

  /** Writes `(l_orderkey, l_partkey)` rows as a fresh lineitem table. */
  private def writeLineitem(dir: String, rows: Seq[(Long, Long)]): Unit =
    rows.toDF("l_orderkey", "l_partkey")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/lineitem.parquet")

  test("pair frame reflects a rewritten lineitem") {
    val dir = java.nio.file.Files.createTempDirectory("graph_pairs").toString
    // one order with items {1,2,3} → 3 co-purchase pairs
    writeLineitem(dir, Seq((10L, 1L), (10L, 2L), (10L, 3L)))
    assert(GraphQueries.coPurchasePairs(spark, dir).count() === 3L)
    // REWRITE the warehouse under the live session: one order with
    // items {1,2} → exactly 1 pair
    writeLineitem(dir, Seq((20L, 1L), (20L, 2L)))
    assert(GraphQueries.coPurchasePairs(spark, dir).count() === 1L,
      "pair frame served stale edges after the source parquet was rewritten")
  }

  test("q24f recomputes after the staged blocks of an earlier call are lost") {
    val dir = java.nio.file.Files.createTempDirectory("graph_lost").toString
    // baskets {1,2,3}, {2,3,4}, {1,4}: triangles 123, 234, 124, 134
    writeLineitem(dir, Seq((1L, 1L), (1L, 2L), (1L, 3L),
      (2L, 2L), (2L, 3L), (2L, 4L), (3L, 1L), (3L, 4L)))
    def run(): Seq[String] = GraphQueries.q24fTriangles.fn(spark, dir)
      .collect().map(_.toString).toSeq.sorted
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val first = run()
    // drop exactly the blocks that call staged, as an executor loss would
    spark.sparkContext.getPersistentRDDs
      .filter { case (id, _) => !before.contains(id) }
      .foreach { case (_, rdd) => rdd.unpersist(blocking = true) }
    val second = run()
    assert(first.nonEmpty && second === first)
  }

  test("iteration plan is equi-join + hash agg — no cartesian") {
    val up = Seq((1L, 2L, 1L), (2L, 3L, 1L))
    val directed = up ++ up.map { case (s, t, w) => (t, s, w) }
    val out = GraphQueries.pageRank(directed.toDF("s", "t", "w"),
      "s", "t", "w", iters = 1)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }
}
