package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs; sf0.001 keeps tests fast. */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.session
  val sfDir = "/root/testdata/sf0.001"

  /** `body`'s result, failing if it spilled to disk. */
  def assertNoSpill[A](label: String)(body: => A): A = {
    val (r, m) = GraftSession.measure(spark, label)(body)
    assert(m.diskSpill == 0, s"$label spilled ${m.diskSpill} bytes to disk")
    r
  }
}

object SparkTestBase {
  // pinned at 4 cores so plan and partition-count pins do not move
  // with the host
  lazy val session: SparkSession = GraftSession.session(4)
}
