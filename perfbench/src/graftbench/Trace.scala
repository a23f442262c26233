package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Outside-in tracer of the traced phases: every window between `attach`
  * and `detach` adds to it. Spans are timed around public
  * calls by the workloads (`span`); Spark's own layers are read from a
  * SparkListener (exec) and a QueryExecutionListener (plan phases from
  * `QueryExecution.tracker`). Everything stays in memory until `report`.
  */
final class Tracer(spark: SparkSession) {
  private val spans = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()

  // ---- exec (SparkListener)
  private var jobs, stages, tasks, taskFailures = 0L
  private var runMs, cpuNs, schedMs, gcMs = 0.0
  private var shuffleW, shuffleR, spill = 0.0
  private val jobStart = mutable.HashMap[Int, Long]()
  private val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()
  private val stageTaskMs = mutable.HashMap[(Int, Int), mutable.ArrayBuffer[Double]]()

  // ---- plan (QueryExecutionListener)
  private var analysisMs, optimizationMs, planningMs = 0.0

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs += 1; jobStart(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach(s => jobIntervals += ((s, e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { stages += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      tasks += 1
      if (!e.taskInfo.successful) taskFailures += 1
      val m = e.taskMetrics
      if (m != null) {
        runMs += m.executorRunTime
        cpuNs += m.executorCpuTime
        gcMs += m.jvmGCTime
        schedMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
        shuffleW += m.shuffleWriteMetrics.bytesWritten
        shuffleR += m.shuffleReadMetrics.totalBytesRead
        spill += m.memoryBytesSpilled + m.diskBytesSpilled
        stageTaskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer()) +=
          e.taskInfo.duration.toDouble
      }
    }
  }

  private val qel = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      phases(qe)
    private def phases(qe: QueryExecution): Unit = Tracer.this.synchronized {
      val p = qe.tracker.phases
      analysisMs += p.get("analysis").map(_.durationMs).getOrElse(0L)
      optimizationMs += p.get("optimization").map(_.durationMs).getOrElse(0L)
      planningMs += p.get("planning").map(_.durationMs).getOrElse(0L)
    }
  }

  private var wallNs = 0L
  private var startNs = 0L
  private var gc0 = 0L
  private var gcTotalMs = 0.0
  private var heapPeakMb = 0.0

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qel)
    Sys.resetHeapPeak()
    gc0 = Sys.gcMs()
    startNs = System.nanoTime()
  }

  def detach(): Unit = {
    wallNs += System.nanoTime() - startNs
    gcTotalMs += (Sys.gcMs() - gc0).toDouble
    heapPeakMb = math.max(heapPeakMb, Sys.heapPeakMb())
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qel)
  }

  def span[T](name: String)(f: => T): T = {
    val (r, ms) = Loop.time(f)
    synchronized(spans.getOrElseUpdate(name, mutable.ArrayBuffer()) += ms)
    r
  }

  def spanMedian(name: String): Double = synchronized(Stats.median(spans.getOrElse(name, Nil).toSeq))

  /** Time inside Spark jobs (union of job intervals), in ms. */
  private def busyMs: Double = {
    val iv = jobIntervals.sortBy(_._1)
    var total = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }

  /** Per-layer values of the traced phase, normalised per unit of work
    * (`units` = passes of a closed loop, micro-batches of a stream). */
  def report(units: Int): Map[String, Double] = synchronized {
    val u = math.max(units, 1).toDouble
    val wallMs = wallNs / 1e6
    val skews = stageTaskMs.values.filter(_.size >= 2).map { ds =>
      val med = Stats.median(ds.toSeq)
      if (med <= 0) 1.0 else ds.max / med
    }
    val busy = busyMs
    Map(
      "plan.analysis_ms" -> analysisMs / u,
      "plan.optimization_ms" -> optimizationMs / u,
      "plan.planning_ms" -> planningMs / u,
      "exec.jobs" -> jobs / u,
      "exec.stages" -> stages / u,
      "exec.tasks" -> tasks / u,
      "exec.task_run_s" -> runMs / 1000.0 / u,
      "exec.task_cpu_s" -> cpuNs / 1e9 / u,
      "exec.sched_delay_s" -> schedMs / 1000.0 / u,
      "exec.gc_s" -> gcMs / 1000.0 / u,
      "exec.shuffle_write_mb" -> shuffleW / 1048576.0 / u,
      "exec.shuffle_read_mb" -> shuffleR / 1048576.0 / u,
      "exec.spill_mb" -> spill / 1048576.0 / u,
      "exec.task_failures" -> taskFailures.toDouble,
      "exec.skew_max_over_median" -> (if (skews.isEmpty) 1.0 else Stats.median(skews.toSeq)),
      "exec.busy_share" -> (if (wallMs > 0) math.min(1.0, busy / wallMs) else 0.0),
      "trace.wall_ms" -> wallMs / u,
      "trace.outside_ms" -> math.max(0.0, wallMs - busy) / u,
      "jvm.gc_s" -> gcTotalMs / 1000.0,
      "jvm.heap_peak_mb" -> heapPeakMb)
  }
}
