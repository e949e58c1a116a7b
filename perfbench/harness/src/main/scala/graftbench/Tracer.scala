package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.GraftBenchShim
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Listener-bus totals for the jobs submitted under one span. */
final class SpanStats {
  var jobs, stages, tasks = 0L
  var stageWaitMs, runMs, deserMs, gcMs, cpuNs = 0L
  var shuffleWrite, shuffleRead, spill, peakExecMem = 0L
  /** [submission, completion] of each job's result stage, epoch ms. */
  val resultStages = mutable.ArrayBuffer.empty[(Long, Long)]

  def toJava: java.util.Map[String, Object] = Json.obj(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "stage_wait_s" -> stageWaitMs / 1e3, "task_run_s" -> runMs / 1e3,
    "task_cpu_s" -> cpuNs / 1e9, "task_deser_s" -> deserMs / 1e3,
    "task_gc_s" -> gcMs / 1e3, "shuffle_write_bytes" -> shuffleWrite,
    "shuffle_read_bytes" -> shuffleRead, "spill_disk_bytes" -> spill,
    "peak_exec_mem_bytes" -> peakExecMem,
    "result_stage_s" -> Tracer.unionSeconds(resultStages.toSeq))
}

/** Everything the traced run observes, attached from outside the engine:
  * a SparkListener (jobs, stages, tasks, shuffle and memory, grouped by
  * the `graftbench.span` local property the harness sets around each
  * call), a QueryExecutionListener (Catalyst phases of each EXECUTED
  * query), a log4j appender counting codegen fallbacks, Spark's
  * CodegenMetrics and the JVM's MXBeans. Spans and totals stay in memory
  * until [[report]].
  */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import Tracer._

  private val sc = spark.sparkContext
  private val stageSpan = mutable.Map.empty[Int, String]
  private val resultStageIds = mutable.Set.empty[Int]
  private val firstLaunch = mutable.Map.empty[Int, Long]
  private val bySpan = mutable.LinkedHashMap.empty[String, SpanStats]
  private val phases = mutable.LinkedHashMap.empty[String, Double]
  private val fallbacks = new AtomicLong
  private val spans = mutable.ArrayBuffer.empty[(String, Long, Long)]

  private val compile0 = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  private val gc0 = gcMillis
  private val codegen0 = GraftBenchShim.codegenCompilations
  ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).foreach(_.resetPeakUsage())

  sc.addSparkListener(this)
  spark.listenerManager.register(this)
  private val appender = new AbstractAppender("graftbenchCodegen", null, null, true,
      Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit = {
      val msg = String.valueOf(e.getMessage.getFormattedMessage).toLowerCase
      if (msg.contains("codegen disabled") || msg.contains("falling back to interpreter"))
        fallbacks.incrementAndGet()
    }
  }
  appender.start()
  private val logCtx = LogManager.getContext(false).asInstanceOf[LoggerContext]
  logCtx.getRootLogger.addAppender(appender)
  logCtx.updateLoggers()

  /** Time `body`; jobs it submits (from any thread it starts) count
    * toward `name`.
    */
  def span[T](name: String)(body: => T): T = {
    sc.setLocalProperty(SpanKey, name)
    val t0 = System.nanoTime()
    try body
    finally {
      spans += ((name, t0, System.nanoTime()))
      sc.setLocalProperty(SpanKey, null)
    }
  }

  private def stats(span: String): SpanStats = bySpan.getOrElseUpdate(span, new SpanStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey))).getOrElse("other")
    stats(span).jobs += 1
    e.stageIds.foreach(id => stageSpan.getOrElseUpdate(id, span))
    if (e.stageIds.nonEmpty) resultStageIds += e.stageIds.max
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    firstLaunch.getOrElseUpdate(e.stageId, e.taskInfo.launchTime)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stats(stageSpan.getOrElse(e.stageId, "other"))
    s.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.deserMs += m.executorDeserializeTime
      s.gcMs += m.jvmGCTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.spill += m.diskBytesSpilled
      s.peakExecMem = math.max(s.peakExecMem, m.peakExecutionMemory)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val s = stats(stageSpan.getOrElse(info.stageId, "other"))
    s.stages += 1
    for (submitted <- info.submissionTime) {
      firstLaunch.get(info.stageId).foreach(l => s.stageWaitMs += math.max(0L, l - submitted))
      if (resultStageIds(info.stageId))
        s.resultStages += ((submitted, info.completionTime.getOrElse(submitted)))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      qe.tracker.phases.foreach { case (phase, p) =>
        phases(phase) = phases.getOrElse(phase, 0.0) + p.durationMs / 1e3
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Drain the bus, detach, and return every count and span. */
  def report(): java.util.Map[String, Object] = {
    GraftBenchShim.drainListenerBus(sc)
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    logCtx.getRootLogger.removeAppender(appender)
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
    synchronized {
      Json.obj(
        "spans" -> Json.arr(spans.toSeq.map { case (n, a, b) =>
          Json.obj("name" -> n, "start_ns" -> a, "end_ns" -> b, "s" -> (b - a) / 1e9)
        }),
        "spark" -> Json.objOf(bySpan.toSeq.map { case (k, v) => k -> v.toJava }),
        "catalyst" -> Json.obj(
          "analysis_s" -> phases.getOrElse("analysis", 0.0),
          "optimization_s" -> phases.getOrElse("optimization", 0.0),
          "planning_s" -> phases.getOrElse("planning", 0.0),
          "codegen_classes" -> (GraftBenchShim.codegenCompilations - codegen0),
          "codegen_fallbacks" -> fallbacks.get),
        "jvm" -> Json.obj(
          "jit_compile_s" -> (ManagementFactory.getCompilationMXBean.getTotalCompilationTime - compile0) / 1e3,
          "gc_s" -> (gcMillis - gc0) / 1e3,
          "code_cache_used_mb" -> pools
            .filter(p => p.getType == MemoryType.NON_HEAP && p.getName.contains("Code"))
            .map(_.getUsage.getUsed).sum / 1048576.0,
          // sum of the heap pools' own peaks: an upper bound on the
          // heap's peak occupancy
          "heap_used_peak_mb" -> pools.filter(_.getType == MemoryType.HEAP)
            .map(_.getPeakUsage.getUsed).sum / 1048576.0))
    }
  }
}

object Tracer {
  val SpanKey = "graftbench.span"

  private def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Seconds covered by the union of [start, end] millisecond intervals. */
  def unionSeconds(intervals: Seq[(Long, Long)]): Double = {
    var covered = 0L
    var end = Long.MinValue
    for ((a, b) <- intervals.sortBy(_._1)) {
      if (b > end) { covered += b - math.max(a, end); end = b }
    }
    covered / 1e3
  }
}
