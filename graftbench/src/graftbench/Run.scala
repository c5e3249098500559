package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One bench invocation: the session, the raw samples every workload
  * records, and the result file `run.py` turns into metrics. */
final class Run(val a: Args, val spark: SparkSession) {
  val cores: Int = a.int("cores")
  val seed: Long = a.long("seed")
  val seconds: Double = a.str("seconds").toDouble
  val traced: Boolean = a.int("trace") == 1
  val work: String = a.str("work")
  /** Class-loading pass of the build: one operation of warm-up suffices. */
  val training: Boolean = a.opt("train").contains("1")

  /** Warm-up length, or 1 in the build's class-loading pass. */
  def floor(n: Int): Int = if (training) 1 else n

  val out = mutable.LinkedHashMap.empty[String, Any]
  /** Timed operations: kind, seconds, ok, error. */
  val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
  /** Correctness checks made in this run (each counts as one attempt). */
  val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
  val layers = mutable.LinkedHashMap.empty[String, Double]

  /** Runs one timed operation and records it; a throw is recorded as a
    * failed one. Returns its wall time and the spans `f` reported (none
    * when it threw). */
  def op(kind: String)(f: => Map[String, Double]): (Double, Map[String, Double]) = {
    val t0 = System.nanoTime()
    var spans = Map.empty[String, Double]
    val err =
      try { spans = f; "" }
      catch { case e: Exception => s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400) }
    val s = (System.nanoTime() - t0) / 1e9
    ops += Map("kind" -> kind, "s" -> s, "ok" -> err.isEmpty, "err" -> err)
    (s, spans)
  }

  def check(name: String, ok: Boolean, detail: String): Unit =
    checks += Map("name" -> name, "ok" -> ok, "detail" -> detail)

  /** True when the test-only fault switch targets `name`. */
  def fault(name: String): Boolean = a.fault == name

  /** Closed loop, one client: issue `step(i)` back to back until `seconds`
    * have passed (the last one runs to completion). Returns wall time. */
  def closedLoop(seconds: Double)(step: Int => Unit): Double = {
    val t0 = System.nanoTime()
    var i = 0
    while ((System.nanoTime() - t0) / 1e9 < seconds) { step(i); i += 1 }
    (System.nanoTime() - t0) / 1e9
  }

  /** The timed phase of a closed-loop workload: `step(i, tracer)` back to
    * back for `seconds`. An untraced run never passes a tracer. A traced
    * run passes one to every second step and none to the others, so both
    * kinds run the same operation under the same drift, and the ratio of
    * their medians is the tracer's own overhead. */
  def timedPhase(step: (Int, Option[Tracer]) => Unit): Double = {
    val tr = if (traced) Some(new Tracer(spark)) else None
    closedLoop(seconds)(i => step(i, tr.filter(_ => i % 2 == 1)))
  }

  /** `100 * (traced / untraced - 1)`: the overhead of tracing, from the
    * medians of operations that ran in alternation. */
  def overheadPct(tracedS: Seq[Double], untracedS: Seq[Double]): Double =
    100.0 * (Stats.median(tracedS) / Stats.median(untracedS) - 1.0)

  def markTimedStart(warmup: Seq[Double]): Unit = {
    out("timed_start_s") = Host.nowS
    out("jit_at_timed_start_s") = Host.jitSeconds
    out("warmup_ops") = warmup.size
    out("warmup_s") = warmup
  }

  def write(path: String): Unit = {
    out("jit_at_end_s") = Host.jitSeconds
    out("ops") = ops.toSeq
    out("checks") = checks.toSeq
    out("layers") = layers.toMap
    // written whole, then renamed: run.py takes the file's appearance as
    // the end of the run
    val tmp = new java.io.File(path + ".tmp")
    val w = new java.io.PrintWriter(tmp, "UTF-8")
    try w.println(Json(out)) finally w.close()
    java.nio.file.Files.move(tmp.toPath, new java.io.File(path).toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }
}
