package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.queries.Strategy50Queries
import graft.ta.{IndicatorSpec, Strategy, registry}

/** `ta_batch`: closed loop, one client. Each operation reads a fresh
  * panel slice from parquet, runs one fixed strategy over it and writes
  * every output column to the noop sink. */
object TaBatch {

  /** Bars per series in every slice: skewed (one long series, a tail of
    * short ones, a 2-bar and a 1-bar series), identical in every slice so
    * that operations do equal work. */
  val lengths: Seq[Int] = Seq(800, 400, 265, 200, 160, 130, 100, 80, 65, 50, 40, 20, 10, 4, 2, 1)
  /** Slices the noop warm-up operations read. They come from a fixed seed,
    * so every run's JIT profiles form on the same data; the checked and
    * the timed operations read slices drawn from the run's seed. */
  val warmSlices = 9
  /** Timed slices: more than a 10-second run reaches at today's operation
    * times, so no timed operation reads a slice twice (a second read of a
    * slice is served from graft's plan cache and skips the build). */
  val timedSlices = 12
  /** Warm-up, timed and the checked slice. */
  val slices: Int = warmSlices + timedSlices + 1
  /** The slice the correctness check reads; never timed. */
  val checkSlice: Int = slices - 1
  private def sliceSeed(seed: Long, s: Int): Long = if (s < warmSlices) 0L else seed

  /** The 50 pinned specs plus OHLCV kinds that run through the `ta.rec`
    * kernels (psar, supertrend, mcgd, ha) and `functions.LinRecur`
    * (atr, adx). */
  val strategy: Strategy = Strategy(
    "graftbench_batch",
    Strategy50Queries.specs ++ Seq(
      IndicatorSpec("psar", Map()),
      IndicatorSpec("supertrend", Map("length" -> 7)),
      IndicatorSpec("mcgd", Map("length" -> 10)),
      IndicatorSpec("ha", Map()),
      IndicatorSpec("atr", Map("length" -> 14)),
      IndicatorSpec("adx", Map("length" -> 14))
    )
  )

  /** Columns the DuckDB check recomputes (see check_batch.py). */
  val checkCols: Seq[String] =
    Seq("sma_10", "mom_10", "roc_10", "log_return_1", "percent_return_1", "stdev_10", "midpoint_10")

  def run(r: Run): Unit = {
    val spark = r.spark
    val panel = s"${r.work}/panel"
    val (_, genS) = Loop.timed {
      import spark.implicits._
      val seed = r.seed
      spark.sparkContext
        .parallelize(0 until slices, slices)
        .flatMap(s => Inputs.slice(sliceSeed(seed, s), s, lengths))
        .toDF()
        .write.mode("overwrite").partitionBy("slice").parquet(panel)
    }
    r.out("gen_s") = genS
    val rowsPerOp = lengths.sum.toLong

    // read by path: no listing of the other slices' directories
    def slice(i: Int): DataFrame = spark.read.parquet(s"$panel/slice=$i")
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    /** One operation: the strategy over slice `i`, every column to the noop
      * sink. With a tracer, the spans of the write come back too. */
    def op(i: Int, tr: Option[Tracer]): Map[String, Double] = {
      val (out, buildS) = Loop.timed(registry.strategy(slice(i), strategy))
      Tracer.around(tr, r.cores)(noop(out))._2 + ("build_s" -> buildS)
    }
    /** The i-th timed operation's slice. */
    def timedSlice(i: Int): Int = warmSlices + i % timedSlices

    // the first warm-up operation is the checked one: the same strategy on
    // the reserved slice, every column written to parquet instead of the
    // noop sink; run.py recomputes `checkCols` from the same input in DuckDB
    def checkedOp(): Unit = {
      val out = registry.strategy(slice(checkSlice), strategy)
      val cols = out.columns.map(c => if (c == "sma_10" && r.fault("ta_batch")) col(c) + lit(0.5) as c else col(c))
      out.select(cols.toSeq: _*).write.mode("overwrite").parquet(s"${r.work}/check_out")
    }
    // the checked operation, then one per warm-up slice: operation times
    // kept falling until about the tenth operation
    val warm = Loop.warmUp(r.floor(warmSlices + 1)) { i => if (i == 0) checkedOp() else op(i - 1, None) }
    r.out("check") = Map(
      "input" -> s"$panel/slice=$checkSlice",
      "output" -> s"${r.work}/check_out",
      "columns" -> checkCols
    )
    // taken after a fixed number of strategy calls, so that the figure
    // does not depend on throughput: graft's plan cache keeps every plan
    // of a new input
    r.out("heap_retained_mb") = Host.heapRetainedMb(spark)
    r.markTimedStart(warm)

    val gc0 = Host.gcSeconds
    val traced = ArrayBuffer.empty[Map[String, Double]]
    val wall = r.timedPhase { (j, tr) =>
      val i = timedSlice(j)
      val (_, spans) = r.op(if (tr.isEmpty) "batch" else "batch_traced")(op(i, tr))
      if (tr.nonEmpty && spans.nonEmpty) {
        // probes, after the operation: the scan alone, and whether a second
        // strategy call on the same input is served from the plan cache
        val (_, loadS) = Loop.timed(noop(slice(i)))
        val df = slice(i)
        val hit = registry.strategy(df, strategy) eq registry.strategy(df, strategy)
        traced += spans ++ Map("load_s" -> loadS, "plan_cache_hit" -> (if (hit) 1.0 else 0.0))
      }
    }
    r.out("timed_wall_s") = wall
    r.out("rows") = rowsPerOp * r.ops.count(o => o("kind") == "batch" && o("ok") == true)

    if (r.traced) {
      val med = Tracer.medians(traced.toSeq)
      def times(kind: String) = r.ops.filter(o => o("kind") == kind && o("ok") == true).map(_("s").asInstanceOf[Double]).toSeq
      r.layers ++= Seq(
        "sources.gen_s" -> genS,
        "sources.load_s" -> med("load_s"),
        "ta.build_s" -> med("build_s"),
        "ta.plan_s" -> med("plan_s"),
        "ta.codegen_s" -> med("codegen_s"),
        "ta.exec_s" -> med("exec_s"),
        "ta.jobs" -> med("jobs"),
        "ta.stages" -> med("stages"),
        "ta.tasks" -> med("tasks"),
        "ta.heavy_stage_tasks" -> med("heavy_stage_tasks"),
        "ta.task_cpu_s" -> med("task_cpu_s"),
        "ta.gc_s" -> med("gc_s"),
        "ta.core_util" -> med("core_util"),
        "ta.shuffle_mb" -> med("shuffle_mb"),
        "ta.spill_mb" -> med("spill_mb"),
        "ta.plan_cache_hits" -> traced.map(_("plan_cache_hit")).sum / traced.size,
        "jvm.gc_s" -> (Host.gcSeconds - gc0),
        "trace.overhead_pct" -> r.overheadPct(times("batch_traced"), times("batch"))
      )
      r.layers ++= Tracer.cacheStats(spark)
    }
  }
}
