package graftbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.executor.TaskMetrics
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer accounting for the traced run, taken from outside the
  * program: a SparkListener (jobs, stages, task metrics) and a
  * QueryExecutionListener (the optimizer and physical-planning phases of
  * every executed query), both registered here while the tracer is
  * attached. Callers bracket a span of work with `mark()` / `since(mark)`,
  * or run it through `Tracer.around`. */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private final case class StageRec(tasks: Int, runMs: Long, cpuNs: Long, gcMs: Long, shuffleB: Long, spillB: Long)

  private val jobWallMs = ArrayBuffer.empty[Long]
  private val stages = ArrayBuffer.empty[StageRec]
  private val planMs = ArrayBuffer.empty[Long]
  private val jobStart = scala.collection.mutable.Map.empty[Int, Long]

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  /** Events still queued for the tracer when it detaches are lost; call
    * `since` (which waits for them) first. */
  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobStart(e.jobId) = e.time }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(t0 => jobWallMs += (e.time - t0))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m: TaskMetrics = i.taskMetrics
    if (m != null)
      stages += StageRec(
        i.numTasks,
        m.executorRunTime,
        m.executorCpuTime,
        m.jvmGCTime,
        m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled
      )
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    val ph = qe.tracker.phases
    planMs += Seq("optimization", "planning").flatMap(ph.get).map(_.durationMs).sum
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Blocks until every event posted so far has been delivered. */
  def settle(): Unit = org.apache.spark.BenchBus.waitUntilEmpty(spark.sparkContext)

  import Tracer.Mark

  def mark(): Mark = {
    settle()
    synchronized { Mark(jobWallMs.size, stages.size, planMs.size, cgCount, cgSum) }
  }

  /** Aggregates over everything that completed since `m`. */
  def since(m: Mark, cores: Int): Map[String, Double] = {
    settle()
    synchronized {
      val st = stages.drop(m.stages)
      val execS = jobWallMs.drop(m.jobs).sum / 1000.0
      val cpuS = st.map(_.cpuNs).sum / 1e9
      val heavy = if (st.isEmpty) 0 else st.maxBy(_.runMs).tasks
      val dCount = cgCount - m.cgCount
      // the histogram holds every sample until its reservoir (1028) fills;
      // past that the mean of the retained samples stands in
      val cgS =
        if (cgCount <= 1028) (cgSum - m.cgSum) / 1000.0
        else dCount * CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean / 1000.0
      Map(
        "exec_s" -> execS,
        "jobs" -> (jobWallMs.size - m.jobs).toDouble,
        "stages" -> st.size.toDouble,
        "tasks" -> st.map(_.tasks).sum.toDouble,
        "heavy_stage_tasks" -> heavy.toDouble,
        "task_cpu_s" -> cpuS,
        "gc_s" -> st.map(_.gcMs).sum / 1000.0,
        "core_util" -> (if (execS > 0) cpuS / (execS * cores) else 0.0),
        "shuffle_mb" -> st.map(_.shuffleB).sum / 1048576.0,
        "spill_mb" -> st.map(_.spillB).sum / 1048576.0,
        "plan_s" -> planMs.drop(m.plans).sum / 1000.0,
        "codegen_s" -> cgS
      )
    }
  }

  private def cgCount: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  private def cgSum: Double = CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getValues.map(_.toDouble).sum
}

object Tracer {
  final case class Mark(jobs: Int, stages: Int, plans: Int, cgCount: Long, cgSum: Double)

  /** Runs `f`. With a tracer, attaches it for the span of `f` and returns
    * the aggregates of everything that ran inside; without one, returns
    * no aggregates, so traced and untraced callers share one code path. */
  def around[A](tr: Option[Tracer], cores: Int)(f: => A): (A, Map[String, Double]) = tr match {
    case None => (f, Map.empty)
    case Some(t) =>
      t.attach()
      try {
        val m = t.mark()
        val a = f
        (a, t.since(m, cores))
      } finally t.detach()
  }

  /** Persisted RDDs and their stored size (CacheRegistry's handles). */
  def cacheStats(spark: SparkSession): Map[String, Double] = {
    val sc = spark.sparkContext
    val info = sc.getRDDStorageInfo
    Map(
      "cache.persisted_rdds" -> sc.getPersistentRDDs.size.toDouble,
      "cache.persisted_mb" -> info.map(i => i.memSize + i.diskSize).sum / 1048576.0
    )
  }

  /** Median of each key over a sequence of per-operation maps; 0 for a
    * key no operation reported. */
  def medians(xs: Seq[Map[String, Double]]): Map[String, Double] =
    xs.flatMap(_.keys).distinct.map(k => k -> Stats.median(xs.flatMap(_.get(k)))).toMap.withDefaultValue(0.0)
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
