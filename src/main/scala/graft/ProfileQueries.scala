package graft

/** Optimization-round diagnostic (round 16, guide §1): decompose each
  * query's benched cost into plan-time vs execution-time.
  *
  * For every query it prints one TSV row:
  *   PROF  name  build_s  rebuild_s  count_s  noop_s
  * where
  *   - build_s: wall time of the FIRST `fn(spark, dir)` call (includes
  *     eager setup actions — LR training memos, k-means init, index
  *     builds — Bench pays this once in warm-up rep 1),
  *   - rebuild_s: wall time of a WARM `fn(spark, dir)` call — the
  *     Catalyst tree-construction + analysis share of EVERY timed bench
  *     rep (memos hit, nothing executes),
  *   - count_s: median wall time of `fn().count()` over `reps` runs —
  *     the driver's bench methodology (column-pruned execution),
  *   - noop_s: median wall time of `fn().write.format("noop")` over
  *     `reps` runs — guide §1.4, computes every column.
  *
  * usage: tools/run_main.sh graft.ProfileQueries [sfDir] [names,csv] [reps]
  * Not part of the driver contract (Bench unchanged).
  */
object ProfileQueries {
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
    def med(ts: Seq[Double]): Double = ts.sorted.apply(ts.size / 2)
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[prof] unknown query: $name")
        case Some(fn) =>
          try {
            spark.sparkContext.setJobDescription(s"prof:$name")
            // warm-up (memos, codegen) — mirrors Bench warmup rep 1
            val tb0 = System.nanoTime()
            val df0 = fn(spark, sfDir)
            val buildS = (System.nanoTime() - tb0) / 1e9
            df0.count()
            // warm REBUILD cost = the Catalyst tree-construction+analysis
            // share of every timed bench rep (memos hit, no execution)
            val tb1 = System.nanoTime()
            val dfP = fn(spark, sfDir)
            val rebuildS = (System.nanoTime() - tb1) / 1e9
            dfP.count()
            val countS = med((1 to reps).map { _ =>
              val t0 = System.nanoTime()
              fn(spark, sfDir).count()
              (System.nanoTime() - t0) / 1e9
            })
            // SPARK_GRAFT_PROF_NOOP=0 skips the noop column (full-suite
            // rebuild sweeps would otherwise be dominated by the wide
            // batch queries' 15-50 s noop runs)
            val noopS =
              if (sys.env.get("SPARK_GRAFT_PROF_NOOP").contains("0")) -1.0
              else
                med((1 to reps).map { _ =>
                  val t0 = System.nanoTime()
                  fn(spark, sfDir).write.format("noop").mode("overwrite").save()
                  (System.nanoTime() - t0) / 1e9
                })
            println(
              f"PROF\t$name\t$buildS%.3f\t$rebuildS%.3f\t$countS%.3f\t$noopS%.3f"
            )
            CacheRegistry.release(spark)
          } catch {
            case e: Throwable =>
              System.err.println(s"[prof] $name failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
              CacheRegistry.release(spark)
          }
      }
    }
    spark.stop()
  }
}
