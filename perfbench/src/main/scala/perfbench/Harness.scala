package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One timed client call: a query, or one llm_curate stage. */
final case class OpRec(id: Int, pass: Int, name: String, ms: Double,
    traced: Boolean, error: Option[String], rows: Option[Seq[String]])

/** What a workload needs from the measuring loop. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val trace: Boolean) {
  val ops = ArrayBuffer.empty[OpRec]
  /** extra per-pass facts for the output checks (llm_curate) */
  val checks = ArrayBuffer.empty[Map[String, Any]]

  /** Time one call through a complete result. `body` returns the result
    * rows as JSON when the output is to be checked. With `grouped` the
    * whole call is one job group; otherwise `body` sets its own.
    */
  def op(pass: Int, name: String, traced: Boolean, grouped: Boolean = true)(
      body: => Option[Seq[String]]): Unit = {
    val id = ops.length
    tracer.beginOp(id, traced)
    val t0 = System.nanoTime()
    val (err, rows) =
      try (None, tracer.span("op")(
        if (grouped) tracer.group(s"op-$id")(body) else body))
      catch { case scala.util.control.NonFatal(e) =>
        (Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)), None) }
    val ms = (System.nanoTime() - t0) / 1e6
    tracer.enabled = false
    ops += OpRec(id, pass, name, ms, traced, err, rows)
  }
}

trait Workload {
  /** Register or read the run's inputs into the fresh session. */
  def load(spark: SparkSession): Unit
  /** Everything run before the measured loop beyond the load; part of
    * set-up, so that work moved out of the loop shows in set-up time.
    */
  def warmup(spark: SparkSession): Unit
  /** Run pass `p`. */
  def pass(p: Int, ctx: Ctx): Unit
  /** Facts about the inputs and the program for the output checks. */
  def facts: Map[String, Any] = Map.empty
}

/** Benchmark harness: sets up Spark `local[N]`, drives one workload from a
  * single client thread in a closed loop for a fixed number of passes, and
  * writes raw timings, spans and counters as JSON. Metrics and output
  * checks are computed from that file by perfbench/run.py.
  *
  * Args: workload inputDir dataDir outFile passes trace(0|1) cores
  */
object Harness {
  def main(args: Array[String]): Unit = {
    val Array(workloadName, inputDir, dataDir, outFile, passesS, traceS, coresS) = args
    val passes = passesS.toInt
    val trace = traceS == "1"
    val cores = coresS.toInt
    val workDir = Paths.get(inputDir).resolve("work")
    Files.createDirectories(workDir)
    val workload: Workload = workloadName match {
      case "adhoc_sql" => new AdhocSql(inputDir, dataDir)
      case "tpch" => new Tpch(inputDir, dataDir)
      case "llm_curate" => new LlmCurate(inputDir, workDir.toString)
      case other => sys.error(s"unknown workload $other")
    }

    // set-up, measured cold: the first Spark session of this JVM
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", workDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", workDir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val listener = if (trace) new GroupListener else null
    if (trace) spark.sparkContext.addSparkListener(listener)
    val t1 = System.nanoTime()
    workload.load(spark)
    val t2 = System.nanoTime()
    workload.warmup(spark)
    val t3 = System.nanoTime()
    val setup = Map("session_ms" -> (t1 - t0) / 1e6, "inputs_ms" -> (t2 - t1) / 1e6,
      "warmup_ms" -> (t3 - t2) / 1e6, "total_ms" -> (t3 - t0) / 1e6)

    val tracer = new Tracer(spark, listener)
    val canaryStart = canary(spark, cores)
    val heap = new OldGenPeak
    val ctx = new Ctx(spark, tracer, trace)
    val passTimes = (0 until passes).map { p =>
      val t0 = System.nanoTime()
      workload.pass(p, ctx)
      val ms = (System.nanoTime() - t0) / 1e6
      heap.sample()
      ms
    }
    val canaryEnd = canary(spark, cores)

    write(outFile, Map(
      "workload" -> workloadName,
      "trace" -> trace,
      "env" -> Map(
        "cores" -> cores,
        "available_processors" -> Runtime.getRuntime.availableProcessors,
        "java_version" -> System.getProperty("java.version"),
        "java_vm" -> System.getProperty("java.vm.name"),
        "spark_version" -> spark.version,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
        "canary_ms" -> Seq(canaryStart, canaryEnd)),
      "setup" -> setup,
      "pass_ms" -> passTimes,
      "ops" -> ctx.ops.toSeq,
      "checks" -> ctx.checks.toSeq,
      "facts" -> workload.facts,
      "heap_peak_mb" -> heap.peakMb,
      "spans" -> tracer.spans.map(s =>
        Seq(s.id, s.parent, s.op, s.name, s.startNs / 1e3, s.endNs / 1e3)).toSeq,
      "groups" -> tracer.groups.map { case (g, c) => c + ("group" -> g) }.toSeq))
    spark.stop()
  }

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def write(path: String, out: Map[String, Any]): Unit =
    mapper.writeValue(Paths.get(path).toFile, out)

  /** Fixed work, no input data: a hash aggregate over a generated range.
    * Median of three readings, in ms; drift between the start and end
    * readings shows load on the host.
    */
  def canary(spark: SparkSession, cores: Int): Double = {
    val t = (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      spark.range(0L, 4000000L, 1L, cores)
        .selectExpr("id % 1013 AS k", "hash(id) AS h")
        .groupBy("k").sum("h").collect()
      (System.nanoTime() - t0) / 1e6
    }.sorted
    t(1)
  }
}

/** Peak old-generation occupancy after a full collection, in MB, sampled
  * at every pass boundary, outside the pass's wall time. A second
  * collection follows a short pause, so that blocks Spark's context
  * cleaner releases after the first one are not counted.
  */
final class OldGenPeak {
  private val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
  private var peak = 0L
  def sample(): Unit = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    pools.foreach(p => peak = math.max(peak, p.getUsage.getUsed))
  }
  def peakMb: Double = peak / 1048576.0
}
