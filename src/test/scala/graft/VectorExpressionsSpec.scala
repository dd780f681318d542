package graft

import org.apache.spark.sql.Row

import graft.functions.VectorOps

/** Native codegen dot/norm2 ([[graft.functions.DotProduct]] /
  * [[graft.functions.Norm2]]) must be bitwise-identical to the HOF
  * left-fold twin (`aggregate(zip_with(...))`) that the DuckDB oracle
  * mirrors — on the real embeddings fixture AND on the null/length
  * edge cases, under both the interpreted and codegen-only paths.
  */
class VectorExpressionsSpec extends SparkTestBase {

  test("native dot is bitwise-identical to the HOF fold on real embeddings") {
    import spark.implicits._
    val v = Tables(spark, sfDir).embeddings.limit(200)
    val pairs = v.select($"vec_id".as("ida"), $"embedding".as("ea"))
      .crossJoin(v.select($"vec_id".as("idb"), $"embedding".as("eb")))
      .filter($"ida" < 5)
    val rows = pairs.select(
      VectorOps.dot($"ea", $"eb").as("native"),
      VectorOps.dotHof($"ea", $"eb").as("hof"),
      VectorOps.norm2($"ea").as("n2native"),
      VectorOps.dotHof($"ea", $"ea").as("n2hof")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
      assert(java.lang.Double.doubleToLongBits(r.getDouble(2)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(3)))
    }
  }

  test("null element, length mismatch, empty and null arrays match the HOF twin") {
    import spark.implicits._
    val df = Seq[(Seq[java.lang.Float], Seq[java.lang.Float])](
      (Seq(1.0f, 2.0f), Seq(3.0f, 4.0f)),          // plain
      (Seq(1.0f, null, 3.0f), Seq(1.0f, 1.0f, 1.0f)), // null element
      (Seq(1.0f, 2.0f), Seq(1.0f)),                 // length mismatch
      (Seq.empty[java.lang.Float], Seq.empty[java.lang.Float]), // empty → 0.0
      (null, Seq(1.0f))                             // null array
    ).toDF("a", "b")
    val got = df.select(
      VectorOps.dot($"a", $"b").as("native"),
      VectorOps.dotHof($"a", $"b").as("hof")).collect()
    got.foreach { r =>
      assert(r.isNullAt(0) === r.isNullAt(1), s"null-parity broke: $r")
      if (!r.isNullAt(0)) assert(r.getDouble(0) === r.getDouble(1))
    }
    // pin the expected shapes, not just parity
    assert(got.map(r => if (r.isNullAt(0)) null else r.getDouble(0)).toSeq ===
      Seq(11.0, null, null, 0.0, null))
  }

  test("codegen-only mode produces the same results (doGenCode path live)") {
    import spark.implicits._
    val prev = spark.conf.get("spark.sql.codegen.factoryMode", "FALLBACK")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val r = Seq((Seq(1.5f, -2.0f), Seq(2.0f, 0.5f))).toDF("a", "b")
        .select(VectorOps.dot($"a", $"b").as("d"),
          VectorOps.norm2($"a").as("n"))
        .collect().head
      assert(r.getDouble(0) === 2.0)
      assert(r.getDouble(1) === 1.5 * 1.5 + 4.0)
    } finally spark.conf.set("spark.sql.codegen.factoryMode", prev)
  }

  test("double arrays are accepted alongside float") {
    import spark.implicits._
    val r = Seq((Seq(1.0, 2.0), Seq(0.5, 0.25))).toDF("a", "b")
      .select(VectorOps.dot($"a", $"b").as("d")).collect().head
    assert(r.getDouble(0) === 1.0)
  }

  test("GraftExtensions.install exposes graft_dot/graft_norm2 to SQL") {
    GraftExtensions.install(spark)
    GraftExtensions.install(spark) // idempotent
    val r: Row = spark.sql(
      """SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d,
        |       graft_norm2(array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS n
        |""".stripMargin).collect().head
    assert(r.getDouble(0) === 11.0)
    assert(r.getDouble(1) === 25.0)
  }

  test("wrong arity is rejected with a clear message") {
    GraftExtensions.install(spark)
    val e = intercept[Exception] {
      spark.sql("SELECT graft_dot(array(1.0D))").collect()
    }
    assert(e.getMessage.contains("exactly 2 argument"))
  }

  test("type errors are rejected at analysis") {
    import spark.implicits._
    val df = Seq((Seq("x"), 1)).toDF("s", "i")
    val e = intercept[Exception] {
      df.select(VectorOps.dot($"s", $"s")).collect()
    }
    assert(e.getMessage.toLowerCase.contains("graft_dot") ||
      e.getMessage.toLowerCase.contains("data type mismatch"))
  }
}
