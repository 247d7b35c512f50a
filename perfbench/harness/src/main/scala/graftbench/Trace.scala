package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{LeafExecNode, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Process-level probes read from the JVM and /proc. All are cheap enough to
  * read around every round; the traced run also reads them around every op. */
object Probe {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Epoch-aligned microseconds from the monotonic clock. */
  private val baseUs = System.currentTimeMillis() * 1000 - System.nanoTime() / 1000
  def nowUs: Long = System.nanoTime() / 1000 + baseUs

  def processCpuS: Double = os.getProcessCpuTime / 1e9

  def gcS: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** Generated classes compiled by Janino so far (cache misses of Spark's
    * generated-class cache) and the time spent compiling them. */
  def compiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  def compileS: Double =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1e9

  /** CPU seconds of the JIT compiler threads, from /proc/self/task. run.py
    * starts the JVM with -XX:-UseDynamicNumberOfCompilerThreads, so no
    * compiler thread exits and takes its CPU out of the sum. */
  def jitCpuS: Double = {
    val tasks = new java.io.File("/proc/self/task").listFiles()
    if (tasks == null) 0.0
    else tasks.iterator.map { t =>
      try {
        val stat = new String(Files.readAllBytes(t.toPath.resolve("stat")))
        val comm = stat.substring(stat.indexOf('(') + 1, stat.lastIndexOf(')'))
        if (!comm.contains("CompilerThre")) 0L
        else {
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
          f(11).toLong + f(12).toLong // utime + stime, in clock ticks
        }
      } catch { case _: Exception => 0L } // the thread ended while listed
    }.sum / 100.0
  }

  /** Peak resident set of the process in MB (VmHWM). */
  def peakRssMb: Double = procStatusKb("VmHWM") / 1024.0

  private def procStatusKb(key: String): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith(key + ":"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)

  def resetHeapPeak(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())

  def heapPeakMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** (steal, total) jiffies of the aggregate cpu line of /proc/stat. */
  def cpuJiffies: (Long, Long) = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1)
      .map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.take(8).sum)
  }
}

/** One traced interval. `parent` is -1 for an op's root span. */
final case class Span(op: Int, id: Int, parent: Int, name: String, t0Us: Long, t1Us: Long)

/** Spans and per-op counters of the traced lane, kept in memory and written
  * with the artifact when the run ends. Inactive (the end-to-end runs, and
  * the untraced lane of a traced run) it only runs the wrapped code. */
final class Tracer {
  @volatile var op: Int = -1
  val spans = mutable.ArrayBuffer.empty[Span]
  val counts = mutable.Map.empty[Int, mutable.Map[String, Double]]
  private var stack = List.empty[Int]

  def active: Boolean = op >= 0

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      val t0 = Probe.nowUs
      spans += Span(op, id, parent, name, t0, t0)
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        spans(id) = spans(id).copy(t1Us = Probe.nowUs)
      }
    }

  def add(key: String, v: Double): Unit = if (active) synchronized {
    val m = counts.getOrElseUpdate(op, mutable.Map.empty)
    m(key) = m.getOrElse(key, 0.0) + v
  }
}

/** Spark's side of the trace: jobs, stages and tasks from the scheduler, and
  * Catalyst's phase times and physical plans from each finished query. The
  * traced run drains the listener bus after every op, so events belong to
  * the op that was current when they were delivered. */
final class ExecListener(t: Tracer) extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  /** (op, job start ms, job end ms) of every job of a traced op. */
  val jobs = mutable.ArrayBuffer.empty[(Int, Long, Long)]
  private val open = mutable.Map.empty[Int, (Int, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (t.active) { open(e.jobId) = (t.op, e.time); t.add("exec.jobs", 1) }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach { case (op, t0) => jobs += ((op, t0, e.time)) }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    t.add("exec.stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null && t.active) {
      val i = e.taskInfo
      t.add("exec.tasks", 1)
      t.add("exec.task_cpu_s", m.executorCpuTime / 1e9)
      t.add("exec.task_gc_s", m.jvmGCTime / 1e3)
      t.add("exec.shuffle_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      t.add("exec.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      t.add("exec.input_bytes", m.inputMetrics.bytesRead.toDouble)
      t.add("exec.output_bytes", m.outputMetrics.bytesWritten.toDouble)
      val busy = m.executorRunTime + m.executorDeserializeTime +
        m.resultSerializationTime + i.gettingResultTime
      t.add("exec.sched_delay_s", math.max(0L, i.duration - busy) / 1e3)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (t.active) {
      t.add("catalyst.plan_s", qe.tracker.phases.values.map(_.durationMs).sum / 1e3)
      val plan = qe.executedPlan
      t.add("catalyst.exchanges",
        collectWithSubqueries(plan) { case e: Exchange => e }.size)
      t.add("catalyst.scans", collectWithSubqueries(plan) { case l: LeafExecNode => l }.size)
      t.add("sources.files_scanned", filesRead(plan).toDouble)
    }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Parquet files the finished plan's file scans opened. */
  private def filesRead(plan: SparkPlan): Long =
    collectWithSubqueries(plan) { case s: FileSourceScanExec => s }
      .map(_.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum
}
