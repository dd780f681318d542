package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.concurrent.Await
import scala.concurrent.duration._
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.BusDrain
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit, sum}

import graft.{BenchSets, GraftConf, SparkEntry, Tables}
import graft.etl.{Scd, Warehouse}

import Recorder.Span

/** The benchmark's JVM side: one session, one client thread, closed loop.
  *
  * Usage: Harness <workload> <dataDir> <workDir> <seed> <seconds> <trace>
  *
  * Runs an untimed warm-up pass that writes every result as parquet
  * under `workDir/out` (the copy that run.py checks), then at least two
  * timed passes (three when traced), more while they fit in `seconds`. Each op is timed from outside in three phases: building
  * the frame, planning it, and running the action.
  * Query results go to the `noop` sink; ETL outputs are written as
  * parquet. Writes `workDir/result.json`, which run.py turns into
  * metrics.
  */
object Harness {

  sealed trait Sink
  case object Noop extends Sink
  case object Parquet extends Sink

  /** One call into the program. `build` gets the pass directory, where
    * earlier ETL ops of the same pass wrote their output.
    */
  final case class Op(name: String, sink: Sink, build: String => DataFrame)

  /** The curation queries that do the most eager work while their
    * frames are built (staging and rank passes).
    */
  val corpus: Seq[String] = Seq(
    "q29_bpe_train", "q12k_curation_pipeline", "q12t_perplexity_buckets",
    "q28_rfm_segments")

  def ops(spark: SparkSession, workload: String, data: String,
          rnd: Random): Seq[Op] = {
    def query(name: String) =
      Op(name, Noop, _ => SparkEntry.queries(name)(spark, data))
    def tables = Tables(spark, data)
    def read(dir: String, name: String) = spark.read.parquet(s"$dir/$name")
    // the customer dimension as the SCD steps track it
    def customers(dir: String) =
      read(dir, "dim_customer").select("customer_id", "segment", "acctbal")
    workload match {
      case "olap_dashboard" => rnd.shuffle(BenchSets.headline).map(query)
      case "corpus_curation" => rnd.shuffle(corpus).map(query)
      case "warehouse_load" =>
        val writes = Seq(
          Op("dim_customer", Parquet, _ => Warehouse.dimCustomer(tables)),
          Op("dim_product", Parquet, _ => Warehouse.dimProduct(tables)),
          Op("dim_seller", Parquet, _ => Warehouse.dimSeller(tables)),
          Op("fact_order_lines", Parquet, _ => Warehouse.factOrderLines(tables)),
          Op("fact_review", Parquet, _ => Warehouse.factReview(tables)),
          Op("fact_payment", Parquet, _ => Warehouse.factPayment(tables)))
        val scd = Seq(
          Op("scd2_rebuild", Parquet, dir => Scd.scd2Rebuild(
            customers(dir).withColumn("snap", lit("2020-01-01"))
              .unionByName(read(data, "scd_batches.parquet")),
            naturalKey = Seq("customer_id"), tracked = Seq("segment", "acctbal"),
            snapCol = "snap")),
          Op("scd1_upsert", Parquet, dir => Scd.scd1Upsert(customers(dir),
            read(data, "scd1_incoming.parquet"), Seq("customer_id"))),
          Op("cdc_apply", Parquet, dir => Scd.applyCdc(customers(dir),
            read(data, "cdc_ops.parquet"), Seq("customer_id"), "op", "op_seq")))
        val readback = Op("readback", Noop, dir =>
          read(dir, "fact_order_lines").groupBy("time_key")
            .agg(count(lit(1)).as("lines"), sum("price").as("revenue")))
        rnd.shuffle(writes) ++ rnd.shuffle(scd) :+ readback
      case other => sys.error(s"unknown workload $other")
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, data, work, seedArg, secondsArg, traceArg) = args
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftConf.tune(spark)
    val sc = spark.sparkContext
    // A traced run records spans on even timed passes only, so untraced
    // passes on both sides of a traced one give the tracing overhead
    // without the warm-up trend.
    def traced(pass: Int) = trace && pass > 0 && pass % 2 == 0
    val rec = new Recorder(group => traced(group.takeWhile(_ != '|').toInt))
    sc.addSparkListener(rec)
    val opList = ops(spark, workload, data, new Random(seedArg.toLong))

    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val epoch0 = System.currentTimeMillis()
    val nano0 = System.nanoTime()
    def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

    def stagedBytes(): Map[Int, Long] =
      sc.getRDDStorageInfo.map(r => r.id -> (r.memSize + r.diskSize)).toMap

    /** Runs one op through its three phases; returns its record. */
    def runOp(pass: Int, op: Op, dir: String, verify: Boolean): Map[String, Any] = {
      val g = s"$pass|${op.name}|"
      val t = new Array[Double](4)
      var staged = 0L
      var rows = -1L
      val rowsOut = Observation(s"rows_$g")
      val error =
        try {
          val before = if (traced(pass)) stagedBytes() else Map.empty[Int, Long]
          t(0) = nowMs()
          sc.setJobGroup(g + "build", op.name)
          val built = op.build(dir)
          t(1) = nowMs()
          if (traced(pass))
            staged = stagedBytes().collect { case (id, b) if !before.contains(id) => b }.sum
          // The row count rides the action as an observed metric, so the
          // noop sink needs no second pass over the result.
          val df = built.observe(rowsOut, count(lit(1)).as("rows"))
          sc.setJobGroup(g + "plan", op.name)
          df.queryExecution.executedPlan
          t(2) = nowMs()
          sc.setJobGroup(g + "action", op.name)
          if (verify || op.sink == Parquet)
            df.write.mode("overwrite").parquet(s"$dir/${op.name}")
          else df.write.format("noop").mode("overwrite").save()
          t(3) = nowMs()
          rows = Await.result(rowsOut.future, 2.minutes).getAs[Long]("rows")
          None
        } catch {
          case NonFatal(e) =>
            Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500))
        } finally sc.clearJobGroup()
      if (traced(pass) && error.isEmpty) {
        val id = s"$pass|${op.name}"
        rec.add(Span(id, "op", s"pass$pass", t(0), t(3)))
        Seq("build", "plan", "action").zipWithIndex.foreach { case (ph, i) =>
          rec.add(Span(s"$id|$ph", ph, id, t(i), t(i + 1)))
        }
      }
      Map("op" -> op.name, "error" -> error.orNull, "staged_bytes" -> staged, "rows_out" -> rows,
        "build_s" -> (t(1) - t(0)) / 1e3, "plan_s" -> (t(2) - t(1)) / 1e3,
        "action_s" -> (t(3) - t(2)) / 1e3)
    }

    def runPass(pass: Int, dir: String, verify: Boolean): Map[String, Any] = {
      spark.catalog.clearCache()
      val load1 = os.getSystemLoadAverage
      val cpu0 = os.getProcessCpuTime
      val t0 = nowMs()
      val recs = opList.map(op => runOp(pass, op, dir, verify))
      val t1 = nowMs()
      val cpu1 = os.getProcessCpuTime
      if (traced(pass)) rec.add(Span(s"pass$pass", "pass", "", t0, t1))
      Map("pass" -> pass, "traced" -> traced(pass), "load1" -> load1,
        "wall_s" -> (t1 - t0) / 1e3, "cpu_s" -> (cpu1 - cpu0) / 1e9, "ops" -> recs)
    }

    def deleteTree(dir: String): Unit = {
      val p = Paths.get(dir)
      if (Files.exists(p))
        Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    }

    def passIn(pass: Int): Map[String, Any] = {
      val dir = s"$work/pass$pass"
      try runPass(pass, dir, verify = false) finally deleteTree(dir)
    }
    // Set-up ends with the untimed pass 0, which writes every result as
    // parquet for the checks.
    val warmup = runPass(0, s"$work/out", verify = true)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    var passes = Vector.empty[Map[String, Any]]
    val start = System.nanoTime()
    // At least two timed passes (three when traced, so untraced passes sit
    // on both sides of the traced one), then more while the next one
    // should end within `seconds`.
    val minPasses = if (trace) 3 else 2
    while (passes.size < minPasses || (System.nanoTime() - start) / 1e9 +
        passes.last("wall_s").asInstanceOf[Double] <= seconds)
      passes :+= passIn(1 + passes.size)
    BusDrain(sc)

    def withCounters(p: Map[String, Any]): Map[String, Any] = {
      val n = p("pass")
      p.updated("ops", p("ops").asInstanceOf[Seq[Map[String, Any]]].map { o =>
        o ++ Seq("build", "plan", "action").map(ph =>
          ph -> rec.get(s"$n|${o("op")}|$ph").toMap)
      })
    }
    val oracle = opList.flatMap(o => SparkEntry.oracleSql.get(o.name).map(o.name -> _))
    val result = Map(
      "workload" -> workload,
      "env" -> Map(
        "nproc" -> cores, "cores_used" -> sc.defaultParallelism,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
        "spark" -> spark.version),
      "session_s" -> sessionS, "setup_s" -> setupS,
      "ops" -> opList.map(_.name),
      "oracle_sql" -> oracle.toMap,
      "warmup" -> withCounters(warmup),
      "passes" -> passes.map(withCounters),
      "peak_rss_mb" -> vmHwmMb(),
      "spans" -> rec.spans.map(_.toMap))
    Files.writeString(Paths.get(s"$work/result.json"), Json(result))
    spark.stop()
  }

  private def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(-1.0)
    finally src.close()
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case o: Option[_] => o.fold("null")(apply)
    case other => quote(other.toString)
  }
  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
