package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.graft.ListenerBusFlush
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Monotonic milliseconds since JVM-wide origin; every timestamp the
  * benchmark records uses this one clock. */
object Clock {
  private val origin = System.nanoTime()
  def ms(): Double = (System.nanoTime() - origin) / 1e6
}

/** In-memory span recorder: (id, name, parent, start, end) around the
  * benchmark's calls into each layer. Disabled recorders cost one branch. */
final class Spans(val enabled: Boolean) {
  final case class Span(id: Int, name: String, parent: Int, startMs: Double, endMs: Double)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(1)
  private val current = new ThreadLocal[Int] { override def initialValue(): Int = 0 }

  /** Time `f` as a span; the enclosing span on this thread is its parent
    * unless `parent` is given (for spans opened on Spark's stream thread). */
  def apply[T](name: String, parent: Int = -1)(f: => T): T =
    if (!enabled) f
    else {
      val id = nextId.getAndIncrement()
      val p = if (parent >= 0) parent else current.get()
      val saved = current.get()
      current.set(id)
      val t0 = Clock.ms()
      try f
      finally {
        done.add(Span(id, name, p, t0, Clock.ms()))
        current.set(saved)
      }
    }

  def currentId: Int = current.get()

  def toJson: Seq[Map[String, Any]] =
    done.asScala.toSeq.sortBy(_.id).map(s =>
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs))
}

/** Cumulative runtime counters at one instant. */
final case class Snap(atMs: Double, tasks: Long, runMs: Long, cpuNs: Long, shuffleRead: Long,
                      shuffleWrite: Long, spill: Long, planningMs: Long)

/** Process-wide compile counters: Spark codegen compilations (count and
  * the histogram's mean), JVM JIT time and classes loaded. Reading them
  * perturbs nothing, so untraced runs record them too. */
final case class Compile(codegenCount: Long, codegenMeanMs: Double, jitMs: Long, classes: Long) {
  def to(b: Compile): Map[String, Double] = Map(
    "query.codegen_compile_s" -> (b.codegenCount - codegenCount) * b.codegenMeanMs / 1e3,
    "query.jit_s" -> (b.jitMs - jitMs) / 1e3,
    "query.classes_loaded" -> (b.classes - classes).toDouble)
}

object Compile {
  def now(): Compile = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val jit = ManagementFactory.getCompilationMXBean
    Compile(h.getCount, h.getSnapshot.getMean,
      if (jit != null && jit.isCompilationTimeMonitoringSupported) jit.getTotalCompilationTime else 0L,
      ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount)
  }
}

/** Spark runtime layer: job intervals, task metrics and planning phases,
  * read from Spark's public listener interfaces. */
final class RuntimeProbe(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Double]()
  private val jobs = new ConcurrentLinkedQueue[(Double, Double)]()
  @volatile private var tasks = 0L
  @volatile private var runMs = 0L
  @volatile private var cpuNs = 0L
  @volatile private var shuffleRead = 0L
  @volatile private var shuffleWrite = 0L
  @volatile private var spill = 0L
  @volatile private var planningMs = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobStart.put(e.jobId, java.lang.Double.valueOf(Clock.ms()))
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach(s => jobs.add((s.doubleValue, Clock.ms())))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { planningMs += qe.tracker.phases.values.map(_.durationMs).sum }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    synchronized { planningMs += qe.tracker.phases.values.map(_.durationMs).sum }

  def attach(): this.type = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    this
  }
  def detach(): Unit = {
    flush()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
  def flush(): Unit = ListenerBusFlush.flush(spark.sparkContext)

  def snap(): Snap = {
    flush()
    synchronized { Snap(Clock.ms(), tasks, runMs, cpuNs, shuffleRead, shuffleWrite, spill, planningMs) }
  }

  /** Spark-runtime layer metrics between two snapshots. The driver gap is
    * wall time not covered by any job interval (planning, codegen, result
    * handling and the benchmark's own driver work). */
  def between(a: Snap, b: Snap): Map[String, Double] = {
    val iv = jobs.asScala.toSeq.filter { case (s, e) => e > a.atMs && s < b.atMs }
      .map { case (s, e) => (math.max(s, a.atMs), math.min(e, b.atMs)) }.sortBy(_._1)
    var covered = 0.0; var curS = -1.0; var curE = -1.0
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    Map(
      "query.jobs" -> iv.size.toDouble,
      "query.tasks" -> (b.tasks - a.tasks).toDouble,
      "query.executor_run_s" -> (b.runMs - a.runMs) / 1e3,
      "query.executor_cpu_s" -> (b.cpuNs - a.cpuNs) / 1e9,
      "query.shuffle_read_bytes" -> (b.shuffleRead - a.shuffleRead).toDouble,
      "query.shuffle_write_bytes" -> (b.shuffleWrite - a.shuffleWrite).toDouble,
      "query.spill_bytes" -> (b.spill - a.spill).toDouble,
      "query.planning_s" -> (b.planningMs - a.planningMs) / 1e3,
      "query.driver_gap_s" -> ((b.atMs - a.atMs) - covered) / 1e3)
  }

}
