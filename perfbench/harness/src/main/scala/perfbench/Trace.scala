package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Host telemetry for one timed operation, read the same way as the
  * engine's own bench samples: 1-min loadavg at the start and the
  * hypervisor steal accrued during the operation (/proc/stat cpu
  * field 8, USER_HZ = 100).
  */
object Host {
  def load1(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split(" ")(0).toDouble
    catch { case _: Exception => -1.0 }

  def stealJiffies(): Long =
    try {
      val t = Files.readString(Paths.get("/proc/stat"))
        .linesIterator.next().trim.split("\\s+")
      if (t.length > 8) t(8).toLong else 0L
    } catch { case _: Exception => 0L }

  /** CPU time of the whole process: driver, local executors, GC, JIT. */
  def processCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def peakRssMb(): Double =
    try Files.readString(Paths.get("/proc/self/status")).linesIterator
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
    catch { case _: Exception => -1.0 }
}

/** Layer counters, fed only by Spark's public listener interfaces and
  * the codegen metrics. `snapshot` differences bracket one operation;
  * the caller drains the listener bus between operations.
  */
final class Layers extends SparkListener with QueryExecutionListener {
  private val c = scala.collection.concurrent.TrieMap.empty[String, AtomicLong]
  private def add(k: String, v: Long): Unit =
    c.getOrElseUpdate(k, new AtomicLong).addAndGet(v)
  private val stageSpans = ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    add("stages", 1)
    val i = e.stageInfo
    for (s <- i.submissionTime; t <- i.completionTime)
      stageSpans.synchronized(stageSpans += ((s, t)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("run_ms", m.executorRunTime)
      add("cpu_ns", m.executorCpuTime)
      add("gc_ms", m.jvmGCTime)
      add("shuffle_write_b", m.shuffleWriteMetrics.bytesWritten)
      add("shuffle_read_b", m.shuffleReadMetrics.totalBytesRead)
      add("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
      add("spill_b", m.diskBytesSpilled)
      add("input_b", m.inputMetrics.bytesRead)
      add("output_b", m.outputMetrics.bytesWritten)
    }
  }

  private def phases(qe: QueryExecution): Unit = {
    val p = qe.tracker.phases
    for ((phase, key) <- Seq(QueryPlanningTracker.ANALYSIS -> "analysis_ms",
        QueryPlanningTracker.OPTIMIZATION -> "optimization_ms",
        QueryPlanningTracker.PLANNING -> "planning_ms"); s <- p.get(phase))
      add(key, s.durationMs)
  }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = phases(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phases(qe)

  def snapshot(): Map[String, Long] =
    c.map { case (k, v) => k -> v.get }.toMap ++ Map(
      "compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      "compile_ns" -> CodeGenerator.compileTime)

  /** Wall time of [t0, t1] (epoch ms) that no stage covered: driver-only
    * work such as planning, codegen, scheduling and collect handling. */
  def driverOnlyMs(t0: Long, t1: Long): Long = {
    val spans = stageSpans.synchronized(stageSpans.toList)
      .map { case (s, e) => (math.max(s, t0), math.min(e, t1)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var end = t0
    spans.foreach { case (s, e) =>
      if (e > end) { covered += e - math.max(s, end); end = e }
    }
    (t1 - t0) - covered
  }

  def attach(s: SparkSession): Unit = {
    s.sparkContext.addSparkListener(this)
    s.listenerManager.register(this)
  }
  def detach(s: SparkSession): Unit = {
    s.sparkContext.removeSparkListener(this)
    s.listenerManager.unregister(this)
  }
}

final case class Span(id: Int, name: String, op: Int, parent: Int, t0: Long, t1: Long)

/** In-memory spans (name, start, end, parent, operation id), written
  * out once when the run ends. */
final class Spans {
  private val done = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var next = 0
  private val origin = System.nanoTime()

  def apply[T](name: String, op: Int)(body: => T): T = {
    val id = next
    next += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val t0 = System.nanoTime() - origin
    try body
    finally {
      stack = stack.tail
      done += Span(id, name, op, parent, t0, System.nanoTime() - origin)
    }
  }

  def write(path: String): Unit =
    Files.writeString(Paths.get(path), done.sortBy(_.id).map { s =>
      Json.obj("id" -> s.id, "name" -> s.name, "op" -> s.op, "parent" -> s.parent,
        "start_ns" -> s.t0, "end_ns" -> s.t1)
    }.mkString("", "\n", "\n"))
}

/** Just enough JSON output for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
    case ch => ch.toString
  } + "\""

  def value(v: Any): String = v match {
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n @ (_: Int | _: Long | _: Boolean) => n.toString
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + value(x) }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case (a, b) => value(Seq(a, b))
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): String = value(scala.collection.immutable.ListMap(kv: _*))
}
