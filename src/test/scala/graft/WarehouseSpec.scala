package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.etl.Warehouse

/** Warehouse-build invariants: surrogate keys are unique (xxhash64
  * collision guard), every fact carries its dims' keys, and dim
  * builders stay map-only — no Window (global sort) and no Exchange
  * (shuffle) in the dim plans, the property that lets a 1.5 B-row
  * dimension build without a single-task bottleneck.
  */
class WarehouseSpec extends SparkTestBase {

  private def keyIsUnique(df: DataFrame, key: String): Unit = {
    val dup = df.groupBy(col(key)).count().filter(col("count") > 1).count()
    assert(dup == 0, s"$key has $dup colliding values")
  }

  private def mapOnlyPlan(df: DataFrame, what: String): Unit = {
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"$what plan contains a Window")
    // broadcast of the tiny nation/region side is fine; what must be
    // absent is a SHUFFLE of the dimension itself
    assert(!plan.replace("BroadcastExchange", "").contains("Exchange"),
      s"$what plan shuffles the dimension")
  }

  test("dim surrogate keys are unique and stable") {
    val t = Tables(spark, sfDir)
    val cust = Warehouse.dimCustomer(t).cache()
    keyIsUnique(cust, "customer_key")
    keyIsUnique(Warehouse.dimProduct(t), "product_key")
    keyIsUnique(Warehouse.dimSeller(t), "seller_key")
    // stability: rebuilding assigns identical keys (hash of natural
    // key, not position) — the SCD2 re-load property
    val again = Warehouse.dimCustomer(t)
      .select("customer_id", "customer_key")
    val first = cust.select("customer_id", "customer_key")
    assert(first.exceptAll(again).count() == 0 &&
      again.exceptAll(first).count() == 0)
    cust.unpersist()
  }

  test("SCD2 versions get distinct surrogates (versioned hash)") {
    import spark.implicits._
    // once scd2Rebuild emits version 2+, xxhash64(natural_key)
    // alone would collide across versions —
    // hashing (natural_key, version) must keep every row unique and
    // stay stable across re-loads
    val snaps = Seq(
      (1L, 10.0, "2020-01-01"), (1L, 20.0, "2020-06-01"),
      (1L, 30.0, "2021-01-01"),
      (2L, 5.0, "2020-01-01"), (2L, 5.0, "2020-06-01"))
      .toDF("customer_id", "bal", "snap")
    def build = graft.etl.Scd
      .scd2Rebuild(snaps, Seq("customer_id"), Seq("bal"), "snap")
      .withColumn("customer_key", xxhash64($"customer_id", $"version"))
    val hist = build.cache()
    keyIsUnique(hist, "customer_key")
    assert(hist.filter($"customer_id" === 1).count() == 3,
      "three changed snapshots must yield three versions")
    assert(hist.filter($"customer_id" === 2).count() == 1,
      "unchanged snapshot must not open a version")
    val again = build.select("customer_key")
    assert(hist.select("customer_key").exceptAll(again).count() == 0,
      "re-load must assign identical surrogates")
    hist.unpersist()
  }

  test("dim builders are map-only: no Window, no Exchange") {
    val t = Tables(spark, sfDir)
    mapOnlyPlan(Warehouse.dimProduct(t), "dimProduct")
    mapOnlyPlan(Warehouse.dimCustomer(t), "dimCustomer")
    mapOnlyPlan(Warehouse.dimSeller(t), "dimSeller")
  }

  test("fact surrogate keys are their dim's key for the same natural id") {
    import spark.implicits._
    val t = Tables(spark, sfDir)
    def ids(dim: DataFrame, id: String, key: String) =
      dim.select(col(id).as("id"), col(key).as("dim_key"))
    val cust = ids(Warehouse.dimCustomer(t), "customer_id", "customer_key")
    val prod = ids(Warehouse.dimProduct(t), "product_id", "product_key")
    val sell = ids(Warehouse.dimSeller(t), "seller_id", "seller_key")
    // each fact's rows as (row, key), and the same rows rebuilt from
    // their sources with the dim's key for the source's natural id:
    // a key the dim lacks, or another member's key, is drift.
    // (order, line number) repeats in lineitem, so lines compare as
    // multisets rather than by joining back on it
    def check(what: String, fact: DataFrame, source: DataFrame,
              row: Seq[String], key: String, id: String, dim: DataFrame): Unit = {
      val actual = fact.select((row :+ key).map(col): _*)
      val expected = source.join(dim, col(id) === $"id", "left")
        .select(row.map(col) :+ $"dim_key".as(key): _*)
      val keyed = actual.filter(col(key).isNotNull).count()
      val drift = actual.exceptAll(expected).count() +
        expected.exceptAll(actual).count()
      assert(keyed > 0, s"$what: no keyed rows to check")
      assert(drift == 0, s"$what: $drift rows differ from their dim's keys")
    }
    val lines = Warehouse.factOrderLines(t).cache()
    val lineSrc = t.lineitem.join(t.orders, $"l_orderkey" === $"o_orderkey")
      .select($"l_orderkey".as("order_id"), $"l_linenumber".as("order_item_id"),
        $"l_extendedprice".as("price"), $"o_custkey", $"l_partkey", $"l_suppkey")
    val lineRow = Seq("order_id", "order_item_id", "price")
    val reviews = Warehouse.factReview(t)
    val reviewSrc = reviews.select($"review_id")
      .join(t.events, $"review_id" === $"event_id")
    val payments = Warehouse.factPayment(t)
    val paymentSrc = payments.select($"payment_key", $"order_id")
      .join(t.orders, $"order_id" === $"o_orderkey")
    try {
      check("fact_order_lines.customer_key", lines, lineSrc, lineRow,
        "customer_key", "o_custkey", cust)
      check("fact_order_lines.product_key", lines, lineSrc, lineRow,
        "product_key", "l_partkey", prod)
      check("fact_order_lines.seller_key", lines, lineSrc, lineRow,
        "seller_key", "l_suppkey", sell)
      check("fact_review.customer_key", reviews, reviewSrc, Seq("review_id"),
        "customer_key", "user_id", cust)
      check("fact_payment.customer_key", payments, paymentSrc,
        Seq("payment_key"), "customer_key", "o_custkey", cust)
    } finally lines.unpersist()
  }

  test("fact_payment: split is exact, keys unique, sequentials dense") {
    import spark.implicits._
    val t = Tables(spark, sfDir)
    val fp = Warehouse.factPayment(t).cache()
    try {
      keyIsUnique(fp, "payment_key")
      // the cent split must reassemble each order total EXACTLY —
      // integer cents leave no room for float drift
      val totals = fp.groupBy($"order_id")
        .agg(sum(round($"payment_value" * 100).cast("long")).as("cents"),
          count(lit(1)).as("n_pay"),
          max($"payment_sequential").as("max_seq"))
      val orders = t.orders.select($"o_orderkey",
        round($"o_totalprice" * 100).cast("long").as("o_cents"))
      val drift = totals.join(orders, $"order_id" === $"o_orderkey")
        .filter($"cents" =!= $"o_cents").count()
      assert(drift == 0, s"$drift orders whose payment split drifts")
      // sequentials are dense 1..n (n = 1 + orderkey % 3)
      val sparse = totals
        .filter($"n_pay" =!= $"max_seq" ||
          $"n_pay" =!= (lit(1) + pmod($"order_id", lit(3))))
        .count()
      assert(sparse == 0, s"$sparse orders with non-dense sequentials")
      // multi-payment orders genuinely exist (the 5A avg-receipt
      // semantics depend on receipts > orders)
      assert(fp.filter($"payment_sequential" > 1).count() > 0)
    } finally fp.unpersist()
  }
}
