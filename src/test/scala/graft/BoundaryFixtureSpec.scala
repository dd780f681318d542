package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

/** Boundary-exercise fixture for the two gate edges the r13 mutation
  * audit proved UNEXERCISED at sf0.01 (SURVEY §8.11, "two instructive
  * first drafts survived"):
  *
  *   - q4a's popularity cut `n_ord >= 3`: at sf0.01 every part that
  *     clears the 0.3 return-rate gate ships in ≥ 15 distinct orders,
  *     so `>= 3 → > 3` is invisible to the driver replay. Here part
  *     101 sits EXACTLY on the cut (3 distinct orders) and part 103
  *     EXACTLY on the return-rate boundary (3 R of 10 lines = 0.30,
  *     excluded by the strict `>`), so any drift of either comparator
  *     — `> 3`, `>= 2`, `>= 0.3`, counting lines instead of distinct
  *     orders (part 102 has 3 lines in 2 orders), or dropping the
  *     BUILDING semi-join (part 105 qualifies on both counts but
  *     sells only to AUTOMOBILE) — changes the result set.
  *
  *   - q24b's funnel chaining: the sf0.01 funnel is SATURATED (all
  *     150 users complete every stage under any stage wiring), so the
  *     rewiring draft (click chained off signup, skipping view)
  *     survived. Here user 4 has signup→click→purchase but NO view,
  *     user 3 has a second signup AFTER completing the funnel (max-
  *     anchor drops it), user 2 views BEFORE signing up, and user 6
  *     views at ts EQUAL to signup (strict `>` excludes it) — so the
  *     wiring, the min-ts anchor direction, and the strict inequality
  *     each change a stage count.
  *
  * The expectations below are hand-derived from the funnel/semi-join
  * algebra, independent of both engines; tools/audit_mutation.py
  * entries m33/m34 (gate="spec") replay the two formerly-survived
  * drafts against this suite and require it to go red.
  */
class BoundaryFixtureSpec extends SparkTestBase {

  private lazy val dir = BoundaryData.dir(spark)

  test("q4a includes exactly the parts on the right side of both cuts") {
    val got = SparkEntry.queries("q4a_semi_join_chain")(spark, dir)
      .select("p_partkey").collect().map(_.getLong(0)).toSet
    assert(got === Set(101L, 104L),
      "boundary fixture: 101 sits exactly on n_ord >= 3, 104 clears both " +
        "cuts with margin; 102 (2 orders / 3 lines), 103 (rate exactly " +
        "0.30), 105 (non-BUILDING) must stay out")
  }

  test("q24b funnel counts on a non-saturated, chain-sensitive event log") {
    val got = SparkEntry.queries("q24b_event_funnel")(spark, dir)
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(got === Map(
      "signup" -> 6L,   // users 1..6
      "view" -> 3L,     // 1, 3, 5 (2 viewed pre-signup; 6 at equal ts)
      "click" -> 2L,    // 1, 3   (4 skipped view; 5 never clicked)
      "purchase" -> 2L  // 1, 3
    ), "funnel must chain view→click→purchase off the FIRST signup " +
      "with strictly increasing timestamps")
  }
}

/** Builds target/boundary once per JVM: the declared star schema with
  * hand-crafted customer/orders/lineitem/part/events rows (everything
  * else 0-row). Rows are aligned to [[Tables.schema]] so the same
  * read/normalization paths (Tables.events ts handling, fanOut) run as
  * in production.
  */
object BoundaryData {
  private def align(spark: SparkSession, crafted: DataFrame,
      table: String): DataFrame = {
    val have = crafted.columns.toSet
    val cols = Tables.schema(table).fields.map { f =>
      if (have(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }
    crafted.select(cols.toIndexedSeq: _*)
  }

  def dir(spark: SparkSession): String = synchronized {
    import spark.implicits._
    val root = "target/boundary"
    val done = java.nio.file.Paths.get(root, "_BUILT")
    if (java.nio.file.Files.exists(done)) return root

    def ts(sec: Int) = java.sql.Timestamp.valueOf(
      f"2024-01-01 00:${sec / 60}%02d:${sec % 60}%02d")
    val day = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")

    val customer = Seq(
      (1L, "Customer#1", "BUILDING"),
      (2L, "Customer#2", "AUTOMOBILE")
    ).toDF("c_custkey", "c_name", "c_mktsegment")

    val orders = (Seq(1L, 2L, 3L, 4L).map(_ -> 1L) ++
        Seq(6L, 7L, 8L).map(_ -> 2L))
      .map { case (o, c) => (o, c, "F", 100.0, day, "1-URGENT") }
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")

    // per-order line lists: (partkey, returnflag); linenumber = position
    val lines: Seq[(Long, Seq[(Long, String)])] = Seq(
      1L -> Seq(101L -> "R", 102L -> "R", 102L -> "R",
                103L -> "R", 103L -> "N", 103L -> "N",
                104L -> "R", 104L -> "N", 104L -> "N"),
      2L -> Seq(101L -> "R", 102L -> "R",
                103L -> "R", 103L -> "N", 103L -> "N",
                104L -> "R", 104L -> "N"),
      3L -> Seq(101L -> "N",
                103L -> "R", 103L -> "N",
                104L -> "R", 104L -> "N", 104L -> "N"),
      4L -> Seq(103L -> "N", 103L -> "N",
                104L -> "R", 104L -> "N"),
      6L -> Seq(105L -> "R"),
      7L -> Seq(105L -> "R"),
      8L -> Seq(105L -> "R"))
    val lineitem = lines.flatMap { case (ord, ls) =>
      ls.zipWithIndex.map { case ((part, flag), i) =>
        (ord, part, 1L, i + 1, 1.0, 10.0, 0.0, 0.0, flag, "O", day)
      }
    }.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
      "l_quantity", "l_extendedprice", "l_discount", "l_tax",
      "l_returnflag", "l_linestatus", "l_shipdate")

    val part = Seq(101L, 102L, 103L, 104L, 105L)
      .map(k => (k, s"part#$k", "Brand#1", "TYPE", 1, 10.0))
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size",
        "p_retailprice")

    val events = Seq(
      // user 1: clean full funnel
      (1L, "signup", 10), (1L, "view", 20), (1L, "click", 30),
      (1L, "purchase", 40),
      // user 2: view BEFORE signup — must not count at view
      (2L, "view", 5), (2L, "signup", 10),
      // user 3: full funnel, then a SECOND signup after it — a
      // max-ts anchor would retroactively drop stages 2-4
      (3L, "signup", 10), (3L, "view", 20), (3L, "click", 30),
      (3L, "purchase", 40), (3L, "signup", 50),
      // user 4: skips view — click/purchase must NOT count
      (4L, "signup", 10), (4L, "click", 20), (4L, "purchase", 30),
      // user 5: purchase precedes any click — stops at view
      (5L, "signup", 10), (5L, "view", 20), (5L, "purchase", 15),
      // user 6: view at ts EQUAL to signup — strict > excludes it
      (6L, "signup", 10), (6L, "view", 10)
    ).zipWithIndex.map { case ((u, et, sec), i) =>
      (i.toLong + 1, ts(sec), u, et, 0.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")

    val crafted = Map("customer" -> customer, "orders" -> orders,
      "lineitem" -> lineitem, "part" -> part, "events" -> events)
    Tables.names.foreach { t =>
      val df = crafted.get(t) match {
        case Some(c) => align(spark, c, t)
        case None => spark.createDataFrame(
          java.util.List.of[Row](), Tables.schema(t))
      }
      df.coalesce(1).write.mode("overwrite").parquet(s"$root/$t.parquet")
    }
    java.nio.file.Files.createFile(done)
    root
  }
}
