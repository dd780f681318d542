package graft

import org.apache.spark.sql.Row

/** Hand-derived expectations over the COMMITTED `boundary` fixture
  * (r17, verdict task 1 — the exact-edge sweep for the
  * boundary-semantics divergence class q15d named). The fixture's
  * first full replay caught ONE live divergence — q26a's sketch_ok
  * verdict at the HLL small-n integer-granularity edge (fixed with
  * the rel+abs tolerance, pinned in ProfileSpec, mutation m53); every
  * OTHER planted edge replayed engine-symmetric (171/0), and this
  * spec freezes the edges' hand-derived outcomes so a future
  * formulation change (a `<` for a `<=`, a different ntile remainder
  * rule, a heap tiebreak slip) is loud here before it reaches the
  * twin replay. Complements [[BoundaryFixtureSpec]] (r13), which
  * pins the q4a/q24b THRESHOLD edges on its own purpose-built
  * warehouse; this fixture instead replays the ENTIRE registry (and
  * its DuckDB twins, via tools/audit_degenerate.sh) over one
  * exact-edge star:
  *  - ntile cut structure at remainder n=7,k=3 with an EXACT spend
  *    tie (c2 = c3 = 2000) straddling the first cut;
  *  - the same tie at q21's heap rank-3/4 boundary (custkey breaks);
  *  - as-of age EXACTLY 3600000000 µs riding the <= edge into
  *    click_1h, purchase ts == click ts backward-inclusive;
  *  - interval-join errors at the click's exact ts and exactly
  *    +10:00 in, +10:01 out.
  */
class BoundarySpec extends SparkTestBase {

  private lazy val dir = DegenerateData.boundaryDir(spark)

  private def run(name: String) = SparkEntry.queries(name)(spark, dir)

  test("fixture structure: the crafted edge values are in place") {
    import org.apache.spark.sql.functions._
    val ev = spark.read.parquet(s"$dir/events.parquet")
    assert(ev.count() == 16)
    assert(spark.read.parquet(s"$dir/customer.parquet").count() == 7)
    val rev = spark.read.parquet(s"$dir/lineitem.parquet")
      .join(spark.read.parquet(s"$dir/orders.parquet"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("rev"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(rev(2L) == rev(3L) && rev(1L) > rev(2L) && rev(4L) < rev(3L),
      s"revenue tie structure broken: $rev")
  }

  /** n=7, k=3 → buckets 3/2/2 (ANSI remainder-first), with the exact
    * c2 = c3 spend tie straddling the first value cut (custkey
    * breaks it: c2 → tertile 1, c3 → tertile 2). Freq order is
    * c0(4), c1(2), c4(2) | c2(1), c3(1) | c5(1), c6(1).
    */
  test("q9d tertile cells at the remainder split with a tie on the cut") {
    val cells = run("q9d_segmentation").collect()
      .map(r => (r.getAs[Int]("value_tertile"),
        r.getAs[Int]("freq_tertile")) ->
        ((r.getAs[Long]("n_customers"), r.getAs[String]("action"))))
      .toMap
    assert(cells == Map(
      (1, 1) -> ((2L, "reward_vip")),          // c0, c1
      (1, 2) -> ((1L, "increase_frequency")),  // c2 (tie → tertile 1)
      (2, 2) -> ((1L, "nurture")),             // c3 (tie → tertile 2)
      (2, 1) -> ((1L, "upsell_value")),        // c4
      (3, 3) -> ((2L, "reactivate_or_drop"))), // c5, c6
      s"tertile cells diverged: $cells")
  }

  /** n < k edge for ntile(100): every nation has < 100 customers, so
    * band == rank — asserted for BOTH the window form (q3a) and
    * DistributedRank's NTILE `CASE` over the scan's (position, group
    * size) (q3a_dist), the two implementations the DuckDB twin
    * cross-checks.
    */
  test("q3a and q3a_dist agree on the n<k ntile edge per nation") {
    for (q <- Seq("q3a_rank_ntile", "q3a_rank_ntile_dist")) {
      val rows = run(q).collect()
        .map(r => r.getAs[Long]("c_custkey") ->
          ((r.getAs[String]("n_name"), r.getAs[Int]("rev_rank"),
            r.getAs[Int]("percentile_band"))))
        .toMap
      assert(rows == Map(
        0L -> (("NATION_0", 1, 1)), 1L -> (("NATION_0", 2, 2)),
        2L -> (("NATION_0", 3, 3)), 3L -> (("NATION_0", 4, 4)),
        4L -> (("NATION_1", 1, 1)), 5L -> (("NATION_1", 2, 2)),
        6L -> (("NATION_2", 1, 1))), s"$q diverged: $rows")
    }
  }

  /** The c2 = c3 exact revenue tie sits ON q21's rank-3/4 boundary:
    * the heap must keep c2 (custkey ascending breaks equal scores)
    * and drop c3, exactly where the ROW_NUMBER twin cuts.
    */
  test("q21 heap breaks the equal-score tie at the k boundary on custkey") {
    val out = run("q21_topk_per_nation").collect()
      .map(r => (r.getAs[String]("n_name"), r.getAs[Int]("rk")) ->
        r.getAs[Long]("c_custkey")).toMap
    assert(out == Map(
      ("NATION_0", 1) -> 0L, ("NATION_0", 2) -> 1L,
      ("NATION_0", 3) -> 2L, // NOT c3: equal revenue, larger custkey
      ("NATION_1", 1) -> 4L, ("NATION_1", 2) -> 5L,
      ("NATION_2", 1) -> 6L), s"top-k tie handling diverged: $out")
  }

  /** Attribution edges: u8's only click is EXACTLY 1 h before its
    * purchase (age_us == 3600000000 → click_1h, the <= edge), u7's
    * 11:55 purchase shares its ts with two clicks (backward
    * tie-INCLUSIVE; dedup keeps min event_id), u9's click is 7 days
    * out (click_older). No purchase is organic.
    */
  test("q24d buckets the exact 1h and equal-ts purchases as click_1h") {
    val out = run("q24d_attribution").collect()
      .map(r => r.getAs[String]("channel") ->
        ((r.getAs[Long]("n_purchases"), r.getAs[Double]("revenue"))))
      .toMap
    assert(out == Map(
      "click_1h" -> ((3L, 200.0)),   // u8 exact-1h 40 + u7 100 + 60
      "click_older" -> ((1L, 50.0))), // u9, exactly 7 days
      s"attribution channels diverged: $out")
  }

  /** Interval-join endpoints: errors at the click's OWN ts and at
    * exactly +10:00 pair (inclusive both ends); +10:01 does not.
    */
  test("q15e includes both interval endpoints and excludes +10:01") {
    val out = run("q15e_interval_join").collect()
    assert(out.toSeq == Seq(Row(7L, 2L, 1L)),
      s"interval endpoints diverged: ${out.toSeq}")
  }
}
