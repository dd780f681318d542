package graft

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{broadcast, col, lit, raise_error}

/** [[GraftSession.measure]] charges each call only its own work, is
  * complete when it returns, and leaves the caller's job group alone.
  * [[GraftSession.materialize]] produces every output column, and
  * [[Bench.run]] measures a query's build and its whole result apart.
  */
class MeasureSpec extends SparkTestBase {

  private def sc = spark.sparkContext
  // (jobs, stages, tasks, shuffle records) of one measured call
  private def cost(label: String)(body: => Any) = {
    val m = GraftSession.measure(spark, label)(body)._2
    (m.jobs, m.stages, m.tasks, m.shuffleWriteRecords)
  }

  test("two calls measured at the same time are each charged only their own work") {
    val shapes = Seq[() => Long](
      () => spark.range(0, 10000, 1, 4).repartition(3).count(),
      () => spark.range(0, 20000, 1, 6).repartition(5).groupBy().count().count())
    val serial = shapes.map(s => cost("serial")(s()))
    assert(serial.distinct.size == 2 && serial.forall(_._4 > 0), serial)
    val overlapping = shapes.map(s => Future((1 to 4).map(_ => cost("concurrent")(s()))))
    overlapping.zip(serial).foreach { case (f, want) => assert(Await.result(f, 5.minutes).forall(_ == want)) }
  }

  test("a record is complete as soon as measure returns") {
    // 7 map tasks write one record per key each, then 2 reduce tasks
    (1 to 50).foreach(_ => assert(cost("reduce") {
      sc.parallelize(1 to 100, 7).map(x => (x % 3, x)).reduceByKey(_ + _, 2).count()
    } == ((1L, 2L, 9L, 21L))))
    // the broadcast's job runs on another thread and is charged too:
    // the record counts every job Spark files under the call's group
    val (group, m) = GraftSession.measure(spark, "broadcast join") {
      spark.range(0, 1000, 1, 2).join(broadcast(spark.range(0, 10, 1, 3)), "id").count()
      sc.getLocalProperty("spark.jobGroup.id")
    }
    assert(m.jobs == 3 && m.jobs == sc.statusTracker.getJobIdsForGroup(group).length, m)
  }

  test("the caller's job group and description are put back") {
    sc.setJobGroup("caller", "caller's work")
    try {
      GraftSession.measure(spark, "inner")(spark.range(10).count())
      intercept[IllegalStateException](
        GraftSession.measure(spark, "throws")(throw new IllegalStateException("body")))
      assert(sc.getLocalProperty("spark.jobGroup.id") == "caller")
      assert(sc.getLocalProperty("spark.job.description") == "caller's work")
      assert(sc.statusTracker.getJobIdsForGroup("caller").isEmpty)
    } finally sc.clearJobGroup()
  }

  test("materialize computes every output column and returns the row count") {
    // count() prunes x, so only materialize meets the raised error
    val boom = spark.range(0, 5, 1, 2).select(col("id"), raise_error(lit("boom")).as("x"))
    assert(boom.count() == 5)
    // frame -> its row count, or None when producing it must fail
    val cases = Seq[(String, DataFrame, Option[Long])](
      ("a pruned failing column", boom, None),
      ("seven rows", spark.range(0, 7, 1, 3).toDF(), Some(7L)),
      ("an empty frame", spark.range(0, 10, 1, 2).filter(col("id") < 0).toDF(), Some(0L)),
      ("an empty aggregate", spark.range(0, 10, 1, 2).filter(col("id") < 0)
        .groupBy((col("id") % 3).as("k")).count(), Some(0L)))
    cases.foreach {
      case (what, df, Some(n)) => assert(GraftSession.materialize(df) == n, what)
      case (what, df, None) => intercept[Exception](GraftSession.materialize(df))
    }
    // a task closure that captures the session (an ML model's training
    // summary does) can still serialize it
    new java.io.ObjectOutputStream(new java.io.ByteArrayOutputStream).writeObject(spark)
  }

  test("Bench.run charges the frame's build and its whole result to separate records") {
    Seq("q12t_perplexity_buckets", "q12k_curation_pipeline").foreach { n =>
      val r = Bench.run(spark, sfDir, n).getOrElse(fail(s"$n failed"))
      assert(r.build.jobs > 0 && r.action.jobs > 0, s"$n: $r")
      assert(r.rows == SparkEntry.queries(n)(spark, sfDir).collect().length, n)
    }
  }
}
