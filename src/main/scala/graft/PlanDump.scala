package graft

import java.nio.file.{Files, Paths}

/** Dumps `explain("formatted")` for registered queries, one text file
  * per query, so plan claims (Exchange count, join strategy,
  * PushedFilters/ReadSchema) are auditable without running Spark.
  *
  * Usage: PlanDump <sfDir> <outDir> [suffix] [name,...]
  *   - suffix (default ""): appended to the file name, e.g. "_before"
  *   - names (default all): the queries to dump; an unknown name
  *     fails the run
  *
  * Planning runs no query job, so it cannot perturb a concurrent
  * timing run's data — it does share CPU, so don't run it during a
  * bench.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val suffix = args.lift(2).getOrElse("")
    val names: Option[Set[String]] = args.lift(3).map(
      GraftSession.selection(_, SparkEntry.queries.keys.toSeq, "queries").toSet)
    val spark = GraftSession.session()
    Files.createDirectories(Paths.get(outDir))
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => names.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
        try {
          val plan = fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.writeString(Paths.get(s"$outDir/$name$suffix.txt"), plan)
          println(s"[plandump] wrote $name")
        } catch { case t: Throwable =>
          System.err.println(s"[plandump] $name failed: ${t.getMessage}")
        }
      }
    spark.stop()
  }
}
