package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** Correctness dump for the DuckDB oracle compare: each selected
  * registry query's result goes to `<outDir>/<name>/` as parquet, and
  * its oracle SQL to `<outDir>/oracle_sql.json` for
  * `tools/check_oracle.py`.
  *
  * Usage: Verify <sfDir> <outDir> [name,...]   (default: every query)
  *
  * The oracle map keeps the keys of any map already in `outDir` and
  * adds the selected names. Every value is re-read from
  * [[SparkEntry.oracleSql]], and keys the registry no longer has are
  * dropped, so a reused directory never compares against stale SQL. A
  * query that fails is logged and keeps its key, so the compare
  * reports it.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val queries = SparkEntry.queries
    val names = args.lift(2).fold(queries.keys.toSeq.sorted)(
      GraftSession.selection(_, queries.keys.toSeq, "queries"))
    Files.createDirectories(Paths.get(outDir))
    val spark = GraftSession.session()
    names.foreach { name =>
      try queries(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    writeOracleSql(outDir, names)
    spark.stop()
  }

  private def writeOracleSql(outDir: String, dumped: Seq[String]): Unit = {
    val oracle = SparkEntry.oracleSql
    val mapper = new ObjectMapper()
    val path = Paths.get(outDir, "oracle_sql.json")
    val kept =
      if (Files.exists(path)) mapper.readTree(path.toFile).fieldNames().asScala.toSeq
      else Nil
    kept.filterNot(oracle.contains).foreach(k =>
      System.err.println(s"[verify] dropping stale oracle entry: $k"))
    val out = mapper.createObjectNode()
    (kept ++ dumped).distinct.sorted.filter(oracle.contains)
      .foreach(k => out.put(k, oracle(k)))
    Files.writeString(path, mapper.writeValueAsString(out))
  }
}
