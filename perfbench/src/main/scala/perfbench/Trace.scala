package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Work counters of one job group, as seen by [[GroupListener]]. */
final class Counters {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs = 0L
  var inputBytes, shuffleReadBytes, shuffleWriteBytes, spillBytes = 0L

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "task_run_ms" -> runMs, "task_cpu_ms" -> cpuNs / 1e6, "gc_ms" -> gcMs,
    "input_bytes" -> inputBytes, "shuffle_read_bytes" -> shuffleReadBytes,
    "shuffle_write_bytes" -> shuffleWriteBytes, "spill_bytes" -> spillBytes)
}

/** Attributes scheduler events to the job group that submitted them. The
  * benchmark gives every traced operation (and every llm stage phase) its
  * own job group, so counters land on the call that caused them; jobs
  * outside any group are ignored.
  */
final class GroupListener extends SparkListener {
  private val byGroup = new ConcurrentHashMap[String, Counters]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()

  private def counters(g: String): Counters =
    byGroup.computeIfAbsent(g, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (g != null) {
      val c = counters(g)
      c.synchronized(c.jobs += 1)
      e.stageIds.foreach(s => stageGroup.put(s, g))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageGroup.get(e.stageInfo.stageId)).foreach { g =>
      val c = counters(g)
      c.synchronized(c.stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageGroup.get(e.stageId)).foreach { g =>
      val m = e.taskMetrics
      val c = counters(g)
      c.synchronized {
        c.tasks += 1
        if (m != null) {
          c.runMs += m.executorRunTime
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.inputBytes += m.inputMetrics.bytesRead
          c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }

  /** Counters of a finished group; the caller drains the bus first. */
  def take(g: String): Counters = Option(byGroup.remove(g)).getOrElse(new Counters)
}

/** One timed interval. Spans of one operation share `op`; `parent` is the
  * id of the enclosing span (-1 for an operation's root).
  */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    startNs: Long, endNs: Long)

/** In-memory span recorder for the traced run. Spans are kept until the
  * end of the run and written out once; nothing is recorded when
  * `enabled` is false, so untraced operations pay only a branch.
  */
final class Tracer(spark: SparkSession, listener: GroupListener) {
  val spans = ArrayBuffer.empty[Span]
  /** group name -> counters, in the order the groups finished */
  val groups = ArrayBuffer.empty[(String, Map[String, Any])]
  private var nextId = 0
  private var stack: List[Int] = Nil
  private var op = -1
  var enabled = false
  // epoch-ms timestamps (QueryPlanningTracker) -> this run's nanoTime clock
  private val epochToNanoNs = System.nanoTime() - System.currentTimeMillis() * 1000000L

  def beginOp(opId: Int, traced: Boolean): Unit = { op = opId; enabled = traced; stack = Nil }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, op, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** Record a span measured elsewhere in epoch milliseconds, as a child
    * of the innermost open span.
    */
  def external(name: String, startMs: Long, endMs: Long): Unit =
    if (enabled) {
      spans += Span(nextId, stack.headOption.getOrElse(-1), op, name,
        startMs * 1000000L + epochToNanoNs, endMs * 1000000L + epochToNanoNs)
      nextId += 1
    }

  /** Run `body` in its own job group and, when tracing, record the
    * group's scheduler and codegen counters under `group`.
    */
  def group[T](group: String)(body: => T): T =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val c0 = Codegen.snapshot()
      sc.setJobGroup(group, group, interruptOnCancel = false)
      try body
      finally {
        sc.clearJobGroup()
        val c1 = Codegen.snapshot()
        org.apache.spark.sql.GraftBridge.flushListenerBus(spark)
        groups += group -> (listener.take(group).toMap ++ Map(
          "codegen_compiles" -> (c1._1 - c0._1),
          "codegen_compile_ms" -> (c1._2 - c0._2) / 1e6))
      }
    }

  /** Catalyst phase spans of a finished query, from its planning tracker. */
  def phases(df: DataFrame, names: Seq[(String, String)]): Unit =
    if (enabled) {
      val ph = df.queryExecution.tracker.phases
      names.foreach { case (phase, spanName) =>
        ph.get(phase).foreach(p => external(spanName, p.startTimeMs, p.endTimeMs))
      }
    }
}

/** Spark's JVM-wide codegen counters: compilations so far and their
  * total compile time in nanoseconds.
  */
object Codegen {
  def snapshot(): (Long, Long) = (
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)
}
