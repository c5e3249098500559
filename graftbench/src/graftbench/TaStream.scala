package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SQLContext}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.streaming.StreamingTa
import graft.streaming.StreamingTa.BarTick
import graft.ta.{IndicatorSpec, Strategy, registry}

/** `ta_stream`: open loop. A generator thread pushes ticks for many
  * series into a MemoryStream at a fixed rate that never slows when the
  * stream does; `strategyStream` folds them into ten live indicators. A
  * tick's latency runs from when it was due to when the micro-batch
  * that emitted its row committed. */
object TaStream {

  val nSeries = 64
  val rate = 400.0 // ticks per second, offered
  val primeTicks = 4 * nSeries
  /** The generator's push interval. MemoryStream plans one relation per
    * `addData` call, and a micro-batch unions the relations that arrived
    * since the last one. At 25 ms a slow batch gathered 25-30 relations,
    * which made the next batch slow too, and runs settled at one of two
    * latencies (0.61-0.70 s or 0.89-0.93 s). At 100 ms a batch unions
    * about five. */
  val pushEveryMs = 100L
  /** Ticks per push at the offered rate. */
  val pushTicks: Int = (rate * pushEveryMs / 1000).toInt
  /** Length of the alternating traced and untraced slots of a traced run:
    * about two micro-batches. */
  val traceSlotS = 1.0

  val strategy: Strategy = Strategy(
    "graftbench_stream",
    Seq(
      IndicatorSpec("sma", Map("length" -> 10)),
      IndicatorSpec("ema", Map("length" -> 10)),
      IndicatorSpec("rsi", Map("length" -> 14)),
      IndicatorSpec("macd", Map()),
      IndicatorSpec("bbands", Map("length" -> 20)),
      IndicatorSpec("atr", Map("length" -> 14)),
      IndicatorSpec("stoch", Map("k" -> 14)),
      IndicatorSpec("willr", Map("length" -> 14)),
      IndicatorSpec("psar", Map()),
      IndicatorSpec("supertrend", Map("length" -> 7))
    )
  )

  /** Micro-batch records, filled by the sink and the progress listener. */
  private final class Batches {
    val rows = new ConcurrentHashMap[Long, Array[Row]]()
    val commitS = new ConcurrentHashMap[Long, Double]()
    val progress = new ConcurrentHashMap[Long, org.apache.spark.sql.streaming.StreamingQueryProgress]()
    val pushedAtCommit = new ConcurrentHashMap[Long, Long]()
  }

  def run(r: Run): Unit = {
    val spark = r.spark
    import spark.implicits._
    implicit val sqlCtx: SQLContext = spark.sqlContext

    val maxTicks = 60 * primeTicks + (rate * (r.seconds + 60)).toInt
    val (ticks, genS) = Loop.timed(new Inputs.Ticks(r.seed, nSeries, maxTicks))
    r.out("gen_s") = genS

    val b = new Batches
    val pushed = new AtomicLong(0L)
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        b.commitS.put(p.batchId, Host.nowS)
        b.pushedAtCommit.put(p.batchId, pushed.get())
        b.progress.put(p.batchId, p)
      }
    }
    spark.streams.addListener(listener)

    val ms = MemoryStream[BarTick]
    val sink = (df: DataFrame, id: Long) => { b.rows.put(id, df.collect()); () }
    val stream = StreamingTa.strategyStream(ms.toDS(), strategy)
    val q = stream.writeStream
      .foreachBatch(sink)
      .start()

    // warm-up: micro-batches of `primeTicks`, each pushed in the
    // generator's chunks so that it plans the same union the open loop's
    // batches do, one batch at a time until at least 15 have run and the
    // last one's duration is within 25% of the median of the four before
    // it (cap 30)
    def durations: Seq[Double] =
      b.progress.asScala.toSeq.sortBy(_._1).map(_._2.durationMs.get("triggerExecution").toDouble / 1000.0)
    def warmSettled: Boolean = {
      val d = durations
      d.size >= 30 || (d.size >= r.floor(15) && {
        val ref = Stats.median(d.takeRight(5).dropRight(1))
        math.abs(d.last - ref) <= 0.25 * ref
      })
    }
    var primed = 0
    while (!warmSettled) {
      (primed until primed + primeTicks by pushTicks).foreach { k =>
        ms.addData((k until math.min(k + pushTicks, primed + primeTicks)).map(ticks.tick))
      }
      primed += primeTicks
      q.processAllAvailable()
    }
    val warm = durations
    val primedN = primed

    // generator: from here on pushes every tick that has come due at the
    // fixed rate, and records how late it ran
    @volatile var stop = false
    pushed.set(primedN.toLong)
    val t0 = Host.nowS
    def due(k: Long): Double = t0 + (k - primedN) / rate
    val lateness = ArrayBuffer.empty[(Double, Double)] // (due, late by)
    val gen = new Thread(() => {
      while (!stop) {
        val upTo = math.min(primedN + ((Host.nowS - t0) * rate).toLong + 1, maxTicks.toLong)
        val from = pushed.get()
        if (upTo > from) {
          ms.addData((from until upTo).map(k => ticks.tick(k.toInt)))
          pushed.set(upTo)
          lateness.synchronized { lateness += ((due(from), Host.nowS - due(from))) }
        }
        Thread.sleep(pushEveryMs)
      }
    }, "graftbench-generator")
    gen.setDaemon(true)
    gen.start()
    // the timed window opens once the open loop has committed three batches
    val openFrom = b.progress.size
    while (b.progress.size < openFrom + 3) Thread.sleep(5)
    r.markTimedStart(warm)
    val tw = Host.nowS
    val tEnd = tw + r.seconds
    val firstTimed = primedN + math.ceil((tw - t0) * rate).toLong
    val gc0 = Host.gcSeconds

    // a traced run attaches the tracer for every second slot of the window
    // and detaches it for the others; a micro-batch belongs to the slot its
    // commit fell in, so traced and untraced batches share the run's drift
    def tracedAt(t: Double): Boolean = r.traced && ((t - tw) / traceSlotS).toInt % 2 == 1
    val tracer = if (r.traced) Some(new Tracer(spark)) else None
    val m0 = tracer.map(_.mark())
    var attached = false
    while (Host.nowS < tEnd) {
      val on = tracedAt(Host.nowS)
      if (on != attached) tracer.foreach(t => if (on) t.attach() else t.detach())
      attached = on
      Thread.sleep(5)
    }
    val spans = tracer.map(t => t.since(m0.get, r.cores))
    if (attached) tracer.foreach(_.detach())
    val lastTimed = primedN + math.ceil((tEnd - t0) * rate).toLong // exclusive
    stop = true
    gen.join()
    q.processAllAvailable()
    q.stop()
    spark.streams.removeListener(listener)
    r.out("jvm_gc_s") = Host.gcSeconds - gc0

    // per-tick latency, attributed to the micro-batch that emitted it
    val emitted = ArrayBuffer.empty[(Long, Int)] // (batch, tick index)
    b.rows.asScala.foreach { case (id, rows) =>
      rows.foreach(row => emitted += ((id, ticks.index(row.getString(0), row.getLong(1)))))
    }
    val samples = emitted.toSeq.collect {
      case (id, k) if k >= firstTimed && k < lastTimed => (id, k, b.commitS.get(id) - due(k))
    }
    r.out("ticks") = samples.map { case (id, _, lat) => Seq(id.toDouble, lat) }
    r.out("timed_wall_s") = r.seconds
    r.out("offered_rate") = rate
    r.out("committed_in_window") =
      emitted.count { case (id, _) => { val c = b.commitS.get(id); c >= tw && c < tEnd } }

    val timedBatches = b.progress.asScala.toSeq.filter { case (id, _) =>
      val c = b.commitS.get(id); c >= tw && c < tEnd
    }
    val mem = b.progress.asScala.toMap
    r.out("batches_in_window") = timedBatches.size

    // correctness: every tick emitted exactly once, and the emitted rows
    // equal registry.strategy over the same ticks
    val total = pushed.get().toInt
    val counts = emitted.groupBy(_._2).view.mapValues(_.size).toMap
    val missing = (0 until total).count(k => !counts.contains(k))
    val dupes = counts.count(_._2 > 1)
    r.check("stream_emitted_once", missing == 0 && dupes == 0, s"ticks=$total missing=$missing duplicated=$dupes")

    checkAgainstBatch(r, b.rows.asScala.values.toSeq, stream.schema.fieldNames.drop(2).toSeq, ticks, total)

    spans.foreach { sp =>
      val traced = timedBatches.filter { case (id, _) => tracedAt(b.commitS.get(id)) }.map(_._2)
      def dm(k: String) = Stats.median(traced.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)))
      val st = traced.flatMap(_.stateOperators.headOption)
      val late = lateness.synchronized(lateness.filter(_._1 >= tw).map(_._2).toSeq)
      val backlog = timedBatches.map { case (id, p) => b.pushedAtCommit.get(id) - cumulative(mem, id) }
      val (latOn, latOff) = samples.partition { case (id, _, _) => tracedAt(b.commitS.get(id)) }
      r.layers ++= Seq(
        "sources.gen_s" -> genS,
        "stream.trigger_ms" -> dm("triggerExecution"),
        "stream.planning_ms" -> dm("queryPlanning"),
        "stream.add_batch_ms" -> dm("addBatch"),
        "stream.wal_commit_ms" -> (dm("walCommit") + dm("commitOffsets")),
        "stream.state_commit_ms" -> Stats.median(st.map(_.commitTimeMs.toDouble)),
        "stream.state_rows" -> st.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0),
        "stream.state_mb" -> st.lastOption.map(_.memoryUsedBytes / 1048576.0).getOrElse(0.0),
        "stream.batches" -> timedBatches.size.toDouble,
        "stream.ticks_per_batch" -> Stats.median(timedBatches.map(_._2.numInputRows.toDouble)),
        "stream.backlog_max" -> (if (backlog.isEmpty) 0.0 else backlog.max.toDouble),
        "stream.generator_lateness_max_s" -> (if (late.isEmpty) 0.0 else late.max),
        "trace.overhead_pct" -> r.overheadPct(latOn.map(_._3), latOff.map(_._3))
      )
      r.layers ++= sp.collect {
        case (k, v) if Set("tasks", "task_cpu_s", "gc_s")(k) => s"stream.$k" -> v
      }
      r.layers ++= Tracer.cacheStats(spark)
      r.layers("jvm.gc_s") = Host.gcSeconds - gc0
    }
    // the bench's own buffers go before the heap is measured
    b.rows.clear()
    emitted.clear()
    r.out("heap_retained_mb") = Host.heapRetainedMb(spark)
  }

  /** Every emitted cell must equal `registry.strategy` over the same ticks. */
  private def checkAgainstBatch(
      r: Run, batches: Seq[Array[Row]], outCols: Seq[String], ticks: Inputs.Ticks, total: Int
  ): Unit = {
    val spark = r.spark
    import spark.implicits._
    val all = (0 until total).map(ticks.tick)
    val ref = registry.strategy(all.toDF(), strategy).collect()
      .map(row => (row.getAs[String]("series_id"), row.getAs[Long]("ts")) -> row).toMap
    val faulty = r.fault("ta_stream")
    val faultKey = { val t = ticks.tick(nSeries * 20); (t.series_id, t.ts) }
    var bad = 0
    var compared = 0L
    var firstBad = ""
    batches.foreach(_.foreach { row =>
      val key = (row.getString(0), row.getLong(1))
      val want = ref.get(key)
      outCols.foreach { c =>
        compared += 1
        val got0 = num(row.getAs[Any](c))
        val got = if (faulty && key == faultKey && c == outCols.head) got0.map(_ + 1.0) else got0
        val exp = want.flatMap(w => num(w.getAs[Any](c)))
        if (!close(got, exp)) {
          bad += 1
          if (firstBad.isEmpty) firstBad = s"$c at $key: stream=$got batch=$exp"
        }
      }
    })
    r.check("stream_equals_batch", bad == 0 && compared > 0, s"cells=$compared mismatched=$bad $firstBad")
  }

  /** Ticks committed up to and including batch `id`. */
  private def cumulative(
      mem: Map[Long, org.apache.spark.sql.streaming.StreamingQueryProgress],
      id: Long
  ): Long = mem.collect { case (i, p) if i <= id => p.numInputRows }.sum

  private def num(v: Any): Option[Double] = v match {
    case null => None
    case n: java.lang.Number => Some(n.doubleValue())
    case b: java.lang.Boolean => Some(if (b) 1.0 else 0.0)
    case other => Some(other.toString.toDouble)
  }

  private def close(a: Option[Double], b: Option[Double]): Boolean = (a, b) match {
    case (None, None) => true
    case (Some(x), None) => x.isNaN
    case (None, Some(y)) => y.isNaN
    case (Some(x), Some(y)) =>
      (x.isNaN && y.isNaN) || x == y || math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y))
  }
}
