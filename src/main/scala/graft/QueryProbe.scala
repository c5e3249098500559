package graft

import org.apache.spark.scheduler._

/** Optimization-round diagnostic (round 17, guide §1/§7): decompose a
  * warm `fn().count()` rep into scheduler shape — how many JOBS the one
  * action submits (AQE materializes every exchange as its own job), how
  * many stages/tasks run, and how much of the wall is task execution vs
  * driver gaps (planning, codegen source generation, job scheduling).
  *
  * Prints one TSV row per query:
  *   QP  name  wall_s  jobs  stages  tasks  taskRun_s  taskDeser_s  gap_s
  * where gap_s = wall − Σ stage wall (driver-side time between stages).
  *
  * usage: tools/run_main.sh graft.QueryProbe [sfDir] [names,csv] [reps]
  * Not part of the driver contract (Bench unchanged).
  */
object QueryProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val names =
      if (args.length > 1 && args(1).nonEmpty) args(1).split(",").map(_.trim).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = Graft.session()
    spark.sparkContext.setLogLevel("WARN")
    try {
      spark.range(1000000).selectExpr("sum(id)").collect()
      SparkEntry.queries.get("q01_bars").foreach(_(spark, sfDir).count())
      CacheRegistry.release(spark)
    } catch { case _: Throwable => }
    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    @volatile var stageWallMs = 0L
    @volatile var runMs = 0L
    @volatile var deserMs = 0L
    // SPARK_GRAFT_QP_STAGES=1: per-stage detail lines (wall, run, GC, name)
    val stageDetail = sys.env.get("SPARK_GRAFT_QP_STAGES").contains("1")
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        stages += 1
        tasks += si.numTasks
        stageWallMs += si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)
        runMs += si.taskMetrics.executorRunTime
        deserMs += si.taskMetrics.executorDeserializeTime
        if (stageDetail)
          println(
            s"  ST stage=${si.stageId} tasks=${si.numTasks} " +
              s"wall=${si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)}ms " +
              s"run=${si.taskMetrics.executorRunTime}ms gc=${si.taskMetrics.jvmGCTime}ms " +
              s"cpu=${si.taskMetrics.executorCpuTime / 1000000}ms :: ${si.name.take(120)}")
      }
    })
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[qp] unknown query: $name")
        case Some(fn) =>
          try {
            spark.sparkContext.setJobDescription(s"qp:$name")
            (1 to 2).foreach(_ => fn(spark, sfDir).count()) // warm (memos, codegen)
            val walls = (1 to reps).map { _ =>
              jobs = 0; stages = 0; tasks = 0; stageWallMs = 0; runMs = 0; deserMs = 0
              val t0 = System.nanoTime()
              fn(spark, sfDir).count()
              val w = (System.nanoTime() - t0) / 1e9
              Thread.sleep(300) // drain the listener bus
              (w, jobs, stages, tasks, stageWallMs, runMs, deserMs)
            }
            val (w, j, st, tk, sw, rn, ds) = walls.sortBy(_._1).apply(reps / 2)
            println(
              f"QP\t$name\t$w%.3f\t$j\t$st\t$tk\t${rn / 1e3}%.3f\t${ds / 1e3}%.3f\t${w - sw / 1e3}%.3f"
            )
            CacheRegistry.release(spark)
          } catch {
            case e: Throwable =>
              System.err.println(s"[qp] $name failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
              CacheRegistry.release(spark)
          }
      }
    }
    spark.stop()
  }
}
