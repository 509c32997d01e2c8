package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's engine-level counters, taken only through Spark's
  * public listener APIs: a `SparkListener` for jobs, stages, tasks and
  * task metrics, and a `QueryExecutionListener` for the
  * `QueryPlanningTracker` phase times of every action. Installed on
  * construction; [[finish]] drains the listener bus, removes both
  * listeners and returns the `spark.*` per-layer metrics, per traced
  * pass. */
final class Tracing(spark: SparkSession) {
  private var events = 0L
  private val jobStart = mutable.Map[Int, Long]()
  private val jobSpans = mutable.ArrayBuffer[(Long, Long)]()
  private val stageRun = mutable.Map[(Int, Int), Long]()
  private var jobs, stages, tasks = 0L
  private var runMs, singleTaskRunMs, cpuNs, gcMs, shuffleWrite, spill = 0L
  private var analysisMs, optimizeMs, planMs = 0L

  private val engine = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracing.this.synchronized {
      events += 1; jobs += 1; jobStart(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracing.this.synchronized {
      events += 1
      jobStart.remove(e.jobId).foreach(s => jobSpans += ((s, e.time)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracing.this.synchronized {
      events += 1; tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        runMs += m.executorRunTime
        cpuNs += m.executorCpuTime
        gcMs += m.jvmGCTime
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        spill += m.memoryBytesSpilled + m.diskBytesSpilled
        val k = (e.stageId, e.stageAttemptId)
        stageRun(k) = stageRun.getOrElse(k, 0L) + m.executorRunTime
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracing.this.synchronized {
        events += 1; stages += 1
        val i = e.stageInfo
        val run = stageRun.remove((i.stageId, i.attemptNumber())).getOrElse(0L)
        if (i.numTasks == 1) singleTaskRunMs += run
      }
  }

  private val planning = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Tracing.this.synchronized {
      events += 1
      val p = qe.tracker.phases
      analysisMs += p.get("analysis").map(_.durationMs).getOrElse(0L)
      optimizeMs += p.get("optimization").map(_.durationMs).getOrElse(0L)
      planMs += p.get("planning").map(_.durationMs).getOrElse(0L)
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  spark.sparkContext.addSparkListener(engine)
  spark.listenerManager.register(planning)

  /** Both listener buses deliver asynchronously: wait until no event has
    * arrived for 300 ms (at most 10 s). */
  private def drain(): Unit = {
    val deadline = System.nanoTime() + 10_000_000_000L
    var last = -1L
    while (System.nanoTime() < deadline && synchronized(events) != last) {
      last = synchronized(events)
      Thread.sleep(300)
    }
  }

  /** Per-pass engine metrics over `passes` traced passes whose summed
    * wall time is `wallS`. */
  def finish(wallS: Double, cores: Int, passes: Int): Seq[(String, Double)] = {
    drain()
    spark.sparkContext.removeSparkListener(engine)
    spark.listenerManager.unregister(planning)
    synchronized {
      val n = math.max(1, passes).toDouble
      // driver-only time: wall not covered by any running job
      val covered = jobSpans.sortBy(_._1).foldLeft((0L, Long.MinValue)) {
        case ((acc, end), (s, e)) =>
          val from = math.max(s, end)
          (acc + math.max(0L, e - from), math.max(end, e))
      }._1
      val wallMs = wallS * 1000.0
      Seq(
        "spark.analysis_ms" -> analysisMs / n,
        "spark.optimize_ms" -> optimizeMs / n,
        "spark.plan_ms" -> planMs / n,
        "spark.driver_only_ms" -> math.max(0.0, wallMs - covered) / n,
        "spark.jobs" -> jobs / n,
        "spark.stages" -> stages / n,
        "spark.tasks" -> tasks / n,
        "spark.single_task_stage_share" ->
          (if (runMs > 0) singleTaskRunMs.toDouble / runMs else 0.0),
        "spark.executor_run_ms" -> runMs / n,
        "spark.executor_cpu_ms" -> cpuNs / 1e6 / n,
        "spark.gc_ms" -> gcMs / n,
        "spark.shuffle_write_mb" -> shuffleWrite / 1e6 / n,
        "spark.spill_mb" -> spill / 1e6 / n,
        "spark.core_util" -> (if (wallMs > 0) runMs / (wallMs * cores) else 0.0))
    }
  }
}
