package graft

import java.nio.file.{Files, Paths}

/** Optimization-round harness tool: dump `.explain("formatted")` for the
  * declared queries to one file per query, and (optionally) time each in
  * isolation against the noop sink (guide §1.4 — computes every column of
  * every row, no sink cost, no count()-driven column pruning).
  *
  * usage: tools/run_main.sh graft.ExplainDump <outDir> [sfDir] [names,csv] [noopReps]
  *
  * Not part of the driver contract: Bench's timed action and artifact are
  * unchanged; this exists so plan claims in OPTIMIZATION_r*.md are
  * reproducible files, not essay assertions.
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val outDir = Paths.get(args(0))
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val names =
      if (args.length > 2 && args(2).nonEmpty) args(2).split(",").map(_.trim).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val noopReps = if (args.length > 3) args(3).toInt else 0
    Files.createDirectories(outDir)
    val spark = Graft.session()
    spark.sparkContext.setLogLevel("WARN")
    // session warm-up mirrors Bench so isolated timings are comparable
    try {
      spark.range(1000000).selectExpr("sum(id)").collect()
      SparkEntry.queries.get("q01_bars").foreach(_(spark, sfDir).count())
      CacheRegistry.release(spark)
    } catch { case _: Throwable => }
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[explain] unknown query: $name")
        case Some(fn) =>
          try {
            spark.sparkContext.setJobDescription(s"explain:$name")
            val df = fn(spark, sfDir)
            val plan = df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode
            )
            Files.writeString(outDir.resolve(s"$name.txt"), plan)
            if (noopReps > 0) {
              // 1 untimed warm-up + median of noopReps, noop sink
              def once(): Double = {
                val t0 = System.nanoTime()
                fn(spark, sfDir).write.format("noop").mode("overwrite").save()
                (System.nanoTime() - t0) / 1e9
              }
              once()
              val ts = (1 to noopReps).map(_ => once()).sorted
              println(f"NOOP\t$name\t${ts(ts.size / 2)}%.3f")
            }
            CacheRegistry.release(spark)
          } catch {
            case e: Throwable =>
              System.err.println(s"[explain] $name failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
          }
      }
    }
    spark.stop()
  }
}
