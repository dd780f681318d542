package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.queries.GraftQuery

/** End-to-end star-schema build (SURVEY §7 step 4): the reference's
  * eleven Kettle transformations as pure `(sources…) => DataFrame`
  * functions over the harness tables, wired into one warehouse
  * handle. Patterns per dimension:
  *
  *  - surrogate keys: `xxhash64(natural_key, version)` for SCD2 dims
  *    (Kettle `Sequence`, D3, re-expressed per SURVEY §1.2) — map-only
  *    and shuffle-free where a global `row_number()` would funnel the
  *    whole dimension through ONE task's sort, and stable under re-loads
  *    (the same natural key + version always hashes to the same
  *    surrogate). The version MUST be in the hash: the reference's
  *    Sequence assigns per-ROW keys, so each SCD2 version needs its own
  *    surrogate or fact joins fan out once [[Scd.scd2Rebuild]] emits a
  *    version 2. SCD1 dims (dim_seller) hash the natural key alone —
  *    one row per key by construction. Collision odds are
  *    birthday-bounded (~n²/2⁶⁵: ~10⁻⁴ at 100 M members); q18 would
  *    surface a collision as a fan-out revenue mismatch, and
  *    WarehouseSpec asserts key uniqueness outright. Facts NEVER take a
  *    window over fact-cardinality data (keys come from joins against
  *    the dims).
  *  - SCD2 columns initialized as the reference's initial load
  *    (effective_from 2016-01-01, effective_to 2099-12-31, version 1 —
  *    `ETL for seller with scd2.ktr:523-570`); incremental maintenance
  *    is [[Scd.scd2Rebuild]].
  *  - key lookups (Kettle DBLookup, J2) read the member frame
  *    (`customers`, `sellers`: the member table and its surrogate),
  *    never the whole dim. Without CBO, Spark sizes a join as the
  *    product of its children's sizes, so the 150-row sf0.001
  *    customer dim (7 KB of parquet, times 2.7 KB of nation, times
  *    1.9 KB of region) is estimated in gigabytes, far above
  *    `autoBroadcastJoinThreshold`: a fact that looked keys up there
  *    was planned as a sort-merge join, and AQE shuffled the whole
  *    fact input before it switched to a broadcast. The member
  *    frame's estimate is its table's size, so a lookup that fits is
  *    planned as a broadcast from the start. At member scale (10⁸+
  *    rows) it still plans sort-merge and AQE decides at runtime; no
  *    lookup carries a broadcast hint.
  *  - OR-chain keep-filter (P3, review comments) and AND-chain
  *    error-sink (P2) both appear in the builders.
  */
object Warehouse {

  /** The customer members with their surrogate key, from the
    * customer table alone: every customer_key lookup (the facts' and
    * the segment resolution of q18, q18b and q5c) projects this frame
    * to the columns it reads, and [[dimCustomer]] adds the geography.
    */
  private def customers(t: Tables): DataFrame = {
    val c = t.customer
    import c.sparkSession.implicits._
    c.select($"c_custkey".as("customer_id"), $"c_name".as("name"),
        $"c_mktsegment".as("segment"), $"c_nationkey",
        $"c_acctbal".as("acctbal"), lit(1).as("version"))
      .withColumn("customer_key", xxhash64($"customer_id", $"version"))
  }

  /** dim_customer analog: customer + nation/region names, SCD2 cols. */
  def dimCustomer(t: Tables): DataFrame = {
    val c = customers(t)
    import c.sparkSession.implicits._
    c.join(broadcast(t.nation), $"c_nationkey" === $"n_nationkey", "left")
      .join(broadcast(t.region), $"n_regionkey" === $"r_regionkey", "left")
      .select($"customer_id", $"name", $"segment", $"n_name".as("nation"),
        $"r_name".as("region"), $"acctbal",
        lit("2016-01-01").as("effective_from"),
        lit(Scd.OpenEnd).as("effective_to"), $"version", $"customer_key")
  }

  /** dim_product analog from part (brand = category role). */
  def dimProduct(t: Tables): DataFrame = {
    val p = t.part
    import p.sparkSession.implicits._
    p.select($"p_partkey".as("product_id"), $"p_name".as("product_name"),
      $"p_brand".as("brand"), $"p_type".as("product_type"),
      $"p_size".as("size"), $"p_retailprice".as("retail_price"))
      .withColumn("effective_from", lit("2016-01-01"))
      .withColumn("effective_to", lit(Scd.OpenEnd))
      .withColumn("version", lit(1))
      .withColumn("product_key", xxhash64($"product_id", $"version"))
  }

  /** The supplier members with their surrogate key, from the supplier
    * table alone: the seller_key lookup's frame, which [[dimSeller]]
    * extends with the nation name.
    */
  private def sellers(t: Tables): DataFrame = {
    val s = t.supplier
    import s.sparkSession.implicits._
    s.select($"s_suppkey".as("seller_id"), $"s_name".as("seller_name"),
        $"s_nationkey", $"s_acctbal".as("acctbal"))
      .withColumn("seller_key", xxhash64($"seller_id"))
  }

  /** dim_seller analog from supplier + nation. */
  def dimSeller(t: Tables): DataFrame = {
    val s = sellers(t)
    import s.sparkSession.implicits._
    s.join(broadcast(t.nation), $"s_nationkey" === $"n_nationkey", "left")
      .select($"seller_id", $"seller_name", $"n_name".as("nation"),
        $"acctbal", $"seller_key")
  }

  /** fact_order_lines analog: the q7a star enrichment joined against
    * the dims' surrogate keys (DBLookup → hash-join lookups, J2). Each
    * lookup reads the member frame (natural id → key), never the
    * whole dim: see the header for why that decides the join. The
    * member-scale lookups carry NO broadcast hint: at 100 TB they are
    * 10⁸–10⁹ rows and an unconditional hint is a hard driver OOM at
    * the 8 GB broadcast cap, exactly the argument that removed
    * broadcast(customer) from the corr query. Where a lookup fits,
    * its static estimate already plans a broadcast; where it does not,
    * AQE sees its actual size and still broadcasts when it fits.
    */
  def factOrderLines(t: Tables): DataFrame = {
    val li = t.lineitem
    import li.sparkSession.implicits._
    val cust = customers(t).select($"customer_id", $"customer_key")
    val prod = dimProduct(t).select($"product_id", $"product_key")
    val sell = sellers(t).select($"seller_id", $"seller_key")
    li.join(t.orders, $"l_orderkey" === $"o_orderkey")
      .join(cust, $"o_custkey" === $"customer_id", "left")
      .join(prod, $"l_partkey" === $"product_id", "left")
      .join(sell, $"l_suppkey" === $"seller_id", "left")
      .select(
        $"l_orderkey".as("order_id"),
        $"l_linenumber".as("order_item_id"),
        (datediff(to_date($"o_orderdate"), to_date(lit("1992-01-01"))) + 1)
          .cast(IntegerType).as("time_key"),
        $"customer_key", $"product_key", $"seller_key",
        lit(1).as("quantity"),
        $"l_extendedprice".as("price"),
        ($"l_extendedprice" * $"l_tax").as("freight_value"))
  }

  /** fact_review analog from events (review_score role = value
    * bucket), with the reference's OR-chain keep-filter (P3): keep
    * rows where at least one payload field is present. customer_key is
    * resolved by a hash-join lookup against the customer members (J2)
    * — the fact must carry the dim's surrogate, never the raw natural
    * id, or joins to dim_customer silently match nothing now that
    * surrogates are xxhash64(natural_key, version). The lookup reads
    * the member frame, not dim_customer, and carries no broadcast
    * hint (see [[factOrderLines]]).
    */
  def factReview(t: Tables): DataFrame = {
    val e = t.events
    import e.sparkSession.implicits._
    val cust = customers(t).select($"customer_id", $"customer_key")
    e.filter($"event_type".isNotNull || $"props".isNotNull)
      .join(cust, $"user_id" === $"customer_id", "left")
      .select($"event_id".as("review_id"), $"customer_key",
        (pmod($"value".cast(IntegerType), lit(5)) + 1).as("review_score"),
        to_date($"ts").as("review_date"))
  }

  /** fact_delivery from Olist-shaped order rows (`order_id, purchase_ts,
    * delivered_ts, estimated_ts, status`) — the reference's delivery
    * ETL semantics (SURVEY §1.3): day counts via `datediff` (equivalent
    * to the reference's dense time-key subtraction), and THREE-VALUED
    * on_time_delivery (`ETL for delivery.ktr:1147-1178` JS): true when
    * delay ≤ 0, false when late, NULL when the delivery date is
    * missing — query 5B's rate depends on the NULL case being excluded.
    */
  def factDelivery(orders: DataFrame): DataFrame = {
    import orders.sparkSession.implicits._
    val estimated = datediff(to_date($"estimated_ts"), to_date($"purchase_ts"))
    val actual    = datediff(to_date($"delivered_ts"), to_date($"purchase_ts"))
    val delay     = actual - estimated
    orders.select(
      $"order_id", $"status".as("order_status"),
      estimated.as("estimated_delivery_days"),
      actual.as("actual_delivery_days"),
      delay.as("delivery_delay_days"),
      when($"delivered_ts".isNull, lit(null).cast(BooleanType))
        .when(delay <= 0, true).otherwise(false).as("on_time_delivery"))
  }

  /** fact_payment analog — the reference's 4th fact table
    * (`Database/Database Creation.sql:165-180`): ONE ROW PER PAYMENT
    * TRANSACTION with `payment_sequential`, not per order. The
    * testdata has no payment source, so payments are SYNTHESIZED
    * deterministically from orders (a role mapping, like dim_time's
    * generated calendar): 1 + (o_orderkey % 3) payments per order,
    * the order total split in integer CENTS (the first `cents % n`
    * payments carry the +1-cent remainder, so the split sums exactly
    * to the order total), type/installments from key arithmetic. The
    * whole derivation is integer math both engines reproduce
    * bit-identically → full oracle hash gates (q18b, q5c).
    *
    * Scale shape: explode(sequence) is map-side (no shuffle); the
    * customer_key lookup against the member frame is the only join,
    * a broadcast wherever the members fit (no static hint, see
    * [[factOrderLines]]).
    */
  def factPayment(t: Tables): DataFrame = {
    val o = t.orders
    import o.sparkSession.implicits._
    val cust = customers(t).select($"customer_id", $"customer_key")
    val types = array(lit("credit_card"), lit("boleto"), lit("voucher"),
      lit("debit_card"))
    val base = o.select(
      $"o_orderkey", $"o_custkey",
      (datediff(to_date($"o_orderdate"), to_date(lit("1992-01-01"))) + 1)
        .cast(IntegerType).as("order_purchase_time_key"),
      round($"o_totalprice" * 100).cast(LongType).as("cents"),
      (lit(1L) + pmod($"o_orderkey", lit(3L))).as("n"))
    // remainder-aware split: base share + 1 cent for the first
    // (cents % n) sequentials; Σ value_cents = cents by construction
    val shared = (($"cents" - pmod($"cents", $"n")) / $"n").cast(LongType)
    val valueCents = shared +
      when($"seq" <= pmod($"cents", $"n"), 1L).otherwise(0L)
    base
      .select($"*", explode(sequence(lit(1L), $"n")).as("seq"))
      .join(cust, $"o_custkey" === $"customer_id", "left")
      .select(
        xxhash64($"o_orderkey", $"seq").as("payment_key"),
        $"order_purchase_time_key",
        $"customer_key",
        $"o_orderkey".as("order_id"),
        $"seq".cast(IntegerType).as("payment_sequential"),
        element_at(types, (pmod($"o_orderkey" + $"seq", lit(4L)) + 1)
          .cast(IntegerType)).as("payment_type"),
        when(pmod($"o_orderkey" + $"seq", lit(4L)) === 0,
          lit(1L) + pmod($"o_orderkey", lit(10L))).otherwise(1L)
          .cast(IntegerType).as("payment_installments"),
        (valueCents / 100.0).as("payment_value"))
  }

  /** The DuckDB twin of [[factPayment]]'s synthesis at natural grain
    * (shared by the q18b and q5c oracles): payment_key/customer_key
    * are engine-local surrogates, so the oracle carries the natural
    * ids and the customer join goes through c_custkey directly — any
    * injective keying yields the same rows.
    */
  private val paymentSynthSql: String =
    """o AS (
      |  SELECT o_orderkey, o_custkey,
      |         CAST(datediff('day', DATE '1992-01-01',
      |              CAST(o_orderdate AS DATE)) + 1 AS INTEGER)
      |           AS order_purchase_time_key,
      |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
      |         1 + o_orderkey % 3 AS n
      |  FROM orders),
      |pay AS (
      |  SELECT o.*, CAST(seq AS INTEGER) AS payment_sequential,
      |         CAST((cents - cents % n) / n AS BIGINT) +
      |           CASE WHEN seq <= cents % n THEN 1 ELSE 0 END AS value_cents,
      |         ['credit_card', 'boleto', 'voucher', 'debit_card']
      |           [CAST((o_orderkey + seq) % 4 AS INTEGER) + 1] AS payment_type,
      |         CAST(CASE WHEN (o_orderkey + seq) % 4 = 0
      |                   THEN 1 + o_orderkey % 10 ELSE 1 END AS INTEGER)
      |           AS payment_installments
      |  FROM o, LATERAL (SELECT unnest(range(1, n + 1)) AS seq) t)""".stripMargin

  /** q18b — fact_payment at FULL natural grain, oracle hash-gated:
    * every payment row (order, sequential, type, installments, value,
    * purchase time key) plus the customer segment resolved through
    * the surrogate-key join — a keying collision or a broken split
    * surfaces as a row/hash mismatch. Also proves Σ payment_value
    * per order equals the order total (the split's invariant) since
    * any drift changes the hashed values.
    */
  val q18bFactPayment: GraftQuery = GraftQuery(
    "q18b_fact_payment",
    s"""WITH $paymentSynthSql
       |SELECT p.o_orderkey AS order_id, p.payment_sequential,
       |       p.payment_type, p.payment_installments,
       |       p.value_cents / 100.0 AS payment_value,
       |       p.order_purchase_time_key,
       |       c.c_mktsegment AS segment
       |FROM pay p JOIN customer c ON p.o_custkey = c.c_custkey""".stripMargin) {
    (spark, dir) =>
      import spark.implicits._
      val t = Tables(spark, dir)
      val seg = customers(t).select($"customer_key", $"segment")
      factPayment(t)
        .join(seg, Seq("customer_key"))
        .select($"order_id", $"payment_sequential", $"payment_type",
          $"payment_installments", $"payment_value",
          $"order_purchase_time_key", $"segment")
  }

  /** q5c — the reference 5A LTV query AT PAYMENT GRAIN
    * (`Database/TASK 2A SQL Analytical Queries.sql:238-251`): top-20
    * customers by lifetime payment revenue with COUNT(DISTINCT
    * order_id) and the average RECEIPT value (÷ payment count, NOT
    * order count — the published 5A rows where orders=1 but
    * avg_receipt=ltv/2 encode exactly this payment-grain division).
    * All money math runs in integer cents with an explicit half-up
    * rounding fold, so both engines produce bit-identical doubles;
    * ties in the top-20 cut break on customer_id.
    */
  val q5cLtvPaymentGrain: GraftQuery = GraftQuery(
    "q5c_ltv_payment_grain",
    s"""WITH $paymentSynthSql,
       |agg AS (
       |  SELECT c.c_custkey AS customer_id, c.c_mktsegment AS segment,
       |         SUM(p.value_cents) AS lc,
       |         COUNT(DISTINCT p.o_orderkey) AS orders,
       |         COUNT(*) AS receipts
       |  FROM pay p JOIN customer c ON p.o_custkey = c.c_custkey
       |  GROUP BY 1, 2)
       |SELECT customer_id, segment, lc / 100.0 AS ltv_revenue, orders,
       |       CAST(((2 * lc + receipts) - (2 * lc + receipts) % (2 * receipts))
       |            / (2 * receipts) AS BIGINT) / 100.0 AS avg_receipt_value
       |FROM agg
       |ORDER BY lc DESC, customer_id
       |LIMIT 20""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val t = Tables(spark, dir)
    val cust = customers(t)
      .select($"customer_key", $"customer_id", $"segment")
    val agg = factPayment(t)
      .join(cust, Seq("customer_key"))
      .groupBy($"customer_id", $"segment")
      .agg(sum(round($"payment_value" * 100).cast(LongType)).as("lc"),
        countDistinct($"order_id").as("orders"),
        count(lit(1)).as("receipts"))
    // round-half-up(lc / receipts) in pure integer math:
    // floor((2·lc + receipts) / (2·receipts)) — engine-identical
    val num = lit(2) * $"lc" + $"receipts"
    val avgCents = ((num - pmod(num, lit(2) * $"receipts")) /
      (lit(2) * $"receipts")).cast(LongType)
    agg
      .select($"customer_id", $"segment",
        ($"lc" / 100.0).as("ltv_revenue"), $"orders",
        (avgCents / 100.0).as("avg_receipt_value"),
        $"lc")
      .orderBy($"lc".desc, $"customer_id")
      .limit(20)
      .drop("lc")
  }

  /** q18 — warehouse consistency probe (oracle-checked): the fact
    * joined back through surrogate keys must reproduce the raw-table
    * revenue per segment — proves key assignment is lossless (an
    * xxhash64 collision would fan the join out and inflate revenue).
    * The oracle keys by the natural id itself — any injective keying
    * yields the same ground-truth segment revenue, and DuckDB has no
    * Spark-compatible xxhash64.
    */
  val q18WarehouseBuild: GraftQuery = GraftQuery(
    "q18_warehouse_build",
    """WITH cust AS (
      |  SELECT c_custkey AS customer_id, c_mktsegment AS segment,
      |         c_custkey AS customer_key
      |  FROM customer),
      |fol AS (
      |  SELECT customer_key, l_extendedprice AS price
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  LEFT JOIN cust ON o_custkey = customer_id)
      |SELECT segment,
      |       COUNT(*) AS n_lines,
      |       CAST(CAST(SUM(CAST(price AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE)
      |         AS revenue
      |FROM fol JOIN cust USING (customer_key)
      |GROUP BY 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val t = Tables(spark, dir)
    factOrderLines(t)
      .join(customers(t).select($"customer_key", $"segment"),
        Seq("customer_key"))
      .groupBy($"segment")
      .agg(count(lit(1)).as("n_lines"),
        graft.functions.Exact.dsum($"price").as("revenue"))
  }

  val all: Seq[GraftQuery] =
    Seq(q18WarehouseBuild, q18bFactPayment, q5cLtvPaymentGrain)
}
