package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark-side counters for a traced run, gathered by a listener the
  * benchmark registers; nothing inside the program is instrumented. */
final class SparkCounters extends SparkListener {
  val jobs, stages, tasks, runMs, gcMs, shuffleWriteBytes, spillBytes = new AtomicLong
  /** task durations (ms) per stage id, for the task-skew ratio */
  val taskMs = new ConcurrentHashMap[Int, ArrayBuffer[Long]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    taskMs.computeIfAbsent(e.stageId, _ => new ArrayBuffer[Long]())
    taskMs.get(e.stageId).synchronized { taskMs.get(e.stageId) += e.taskInfo.duration }
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  def snapshot(): Map[String, Long] = Map(
    "jobs" -> jobs.get, "stages" -> stages.get, "tasks" -> tasks.get,
    "run_ms" -> runMs.get, "gc_ms" -> gcMs.get,
    "shuffle_write_bytes" -> shuffleWriteBytes.get, "spill_bytes" -> spillBytes.get)

  def maxStageId: Int = if (taskMs.isEmpty) -1 else taskMs.keySet.asScala.max

  /** slowest ÷ median task duration of the highest-numbered stage above
    * `afterStage` (the result stage of the last job run since then). */
  def resultStageSkew(afterStage: Int): Double = {
    val ids = taskMs.keySet.asScala.filter(_ > afterStage)
    if (ids.isEmpty) Double.NaN
    else {
      val ds = taskMs.get(ids.max).synchronized(taskMs.get(ids.max).toList).map(_.toDouble)
      val med = Stats.median(ds)
      if (med <= 0) Double.NaN else ds.max / med
    }
  }
}

object SparkCounters {
  /** Registers a fresh listener; call [[drain]] before reading it. */
  def attach(sc: SparkContext): SparkCounters = {
    val l = new SparkCounters
    sc.addSparkListener(l)
    l
  }

  def drain(sc: SparkContext): Unit = org.apache.spark.PerfbenchBridge.drainListeners(sc)

  /** Number of whole-stage-codegen compilations so far in this JVM. */
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}

/** Largest heap occupancy after a full collection, sampled at checkpoints
  * the benchmark chooses (outside every timed operation). */
object Heap {
  private var peak = 0.0

  def checkpoint(): Double = {
    System.gc()
    val used = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .map(p => Option(p.getCollectionUsage).map(_.getUsed).getOrElse(p.getUsage.getUsed))
      .sum / 1048576.0
    peak = math.max(peak, used)
    used
  }

  def peakMb: Double = peak
}

/** In-memory spans and counters recorded around calls into each layer.
  * Spans are kept only when tracing is on and written out at the end. */
final class Trace(val on: Boolean) {
  import Trace.Span
  private val spans = ArrayBuffer[Span]()
  private var stack: List[String] = Nil
  private val t0 = System.nanoTime()

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val parent = stack.headOption.getOrElse("")
      stack = name :: stack
      val s = System.nanoTime()
      try body
      finally {
        spans += Span(name, parent, s - t0, System.nanoTime() - t0)
        stack = stack.tail
      }
    }

  def json: String = spans.map { s =>
    Json.obj("name" -> Json.str(s.name), "parent" -> Json.str(s.parent),
      "start_s" -> Json.num(s.startNs / 1e9), "end_s" -> Json.num(s.endNs / 1e9))
  }.mkString("[\n", ",\n", "\n]")
}

object Trace {
  final case class Span(name: String, parent: String, startNs: Long, endNs: Long)
}
