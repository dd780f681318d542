package graft

import org.apache.spark.sql.DataFrame

import graft.etl.Warehouse

/** Job-count ratchet for perfbench's warehouse_load builders and the
  * three warehouse queries: each builder's action jobs at `sfDir`,
  * counted by [[GraftSession.measure]] around
  * [[GraftSession.materialize]], and each query's build and action
  * jobs, as [[Bench.run]] counts them, stay at or under a pinned
  * bound. A fact whose key lookup is planned as a sort-merge join
  * shuffles its whole input and runs extra jobs for AQE's re-plan,
  * so a job count is the deterministic face of that cost. A bound may
  * only fall: a change that cuts a builder's or query's jobs lowers
  * its pin here.
  */
class WarehouseJobsSpec extends SparkTestBase {

  // builder -> action jobs
  private val builders: Seq[(String, Tables => DataFrame, Long)] = Seq(
    ("dimCustomer", Warehouse.dimCustomer, 3),
    ("dimProduct", Warehouse.dimProduct, 1),
    ("dimSeller", Warehouse.dimSeller, 2),
    ("factOrderLines", Warehouse.factOrderLines, 5),
    ("factReview", Warehouse.factReview, 3),
    ("factPayment", Warehouse.factPayment, 2))

  builders.foreach { case (name, build, action) =>
    test(s"$name writes its result in at most $action jobs") {
      val df = build(Tables(spark, sfDir))
      val (_, m) = GraftSession.measure(spark, s"$name action")(
        GraftSession.materialize(df))
      assert(m.jobs <= action, s"$name ran ${m.jobs} action jobs")
    }
  }

  // query -> (build jobs, action jobs)
  private val queries = Seq(
    "q18_warehouse_build" -> (0, 7),
    "q18b_fact_payment" -> (0, 3),
    "q5c_ltv_payment_grain" -> (0, 5))

  queries.foreach { case (name, (build, action)) =>
    test(s"$name builds in at most $build jobs and writes its result in at most $action") {
      val r = Bench.run(spark, sfDir, name).getOrElse(fail(s"$name failed"))
      assert(r.build.jobs <= build && r.action.jobs <= action,
        s"$name ran ${r.build.jobs} build and ${r.action.jobs} action jobs")
    }
  }
}
