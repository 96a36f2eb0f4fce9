package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span recorder: (name, start, end, parent, request id). Spans
  * nest per thread; self time is a span's duration minus its children's.
  */
final class Spans {
  final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
      parent: Int, request: Long)

  private val done = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  private val stack = ThreadLocal.withInitial[List[(Int, String, Long)]](() => Nil)
  @volatile var request: Long = -1L

  def apply[T](name: String)(body: => T): T = {
    val id = ids.incrementAndGet().toInt
    val parent = stack.get().headOption.map(_._1).getOrElse(0)
    val t0 = System.nanoTime()
    stack.set((id, name, t0) :: stack.get())
    try body finally {
      stack.set(stack.get().tail)
      done.add(Span(id, name, t0, System.nanoTime(), parent, request))
    }
  }

  def all: Seq[Span] = done.asScala.toSeq.sortBy(_.id)

  /** Seconds summed per span name. */
  def totalS(name: String): Double =
    done.asScala.iterator.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e9).sum

  /** Self time per span name, in seconds. */
  def selfTimes: Map[String, Double] = {
    val spans = all
    val childNs = spans.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(c => c.endNs - c.startNs).sum }
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)).sum / 1e9 }
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = all.map(s => s"""{"id":${s.id},"name":${JsonOut.str(s.name)},""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs},"parent":${s.parent},""" +
      s""""request":${s.request}}""")
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Spark-side counters registered by the benchmark for the traced run: a
  * `SparkListener` for jobs, stages and task metrics, and a
  * `QueryExecutionListener` for planning time (`qe.tracker` phases).
  */
final class SparkCounters extends SparkListener with QueryExecutionListener {
  val jobs = new AtomicLong()
  val stages = new AtomicLong()
  val tasks = new AtomicLong()
  val schedDelayMs = new AtomicLong()
  val runMs = new AtomicLong()
  val cpuNs = new AtomicLong()
  val shuffleBytes = new AtomicLong()
  val spillBytes = new AtomicLong()
  val gcMs = new AtomicLong()
  val recordsRead = new AtomicLong()
  val planningNs = new AtomicLong()
  val queries = new AtomicLong()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet(): Unit
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val info = e.taskInfo
    val m = e.taskMetrics
    if (m != null) {
      // scheduler delay as the Spark UI defines it: task wall time not
      // spent deserializing, running, or fetching the result
      val delay = info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - (if (info.gettingResult) info.finishTime -
          info.gettingResultTime else 0L)
      schedDelayMs.addAndGet(math.max(0L, delay))
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead +
        m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      gcMs.addAndGet(m.jvmGCTime)
      recordsRead.addAndGet(m.inputMetrics.recordsRead)
    }
  }

  private def planned(qe: QueryExecution): Unit = {
    queries.incrementAndGet()
    val ns = qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum * 1000000L
    planningNs.addAndGet(ns)
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planned(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    planned(qe)

  def attach(spark: SparkSession): this.type = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    this
  }
  def detach(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Wait until the listener bus has delivered every event posted so far. */
  def settle(spark: SparkSession): Unit =
    org.apache.spark.BenchBus.settle(spark.sparkContext)

  def snapshot: Map[String, Long] = Map(
    "jobs" -> jobs.get, "stages" -> stages.get, "tasks" -> tasks.get,
    "sched_delay_ms" -> schedDelayMs.get, "executor_run_ms" -> runMs.get,
    "executor_cpu_ms" -> cpuNs.get / 1000000L, "shuffle_bytes" -> shuffleBytes.get,
    "spill_bytes" -> spillBytes.get, "gc_ms" -> gcMs.get,
    "records_read" -> recordsRead.get, "planning_ms" -> planningNs.get / 1000000L,
    "queries" -> queries.get)
}
