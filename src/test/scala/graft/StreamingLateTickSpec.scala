package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.streaming.StreamingTa
import graft.ta.{registry, IndicatorSpec}
import java.nio.file.Files

/** Round-11 verdict item #1: the streaming in-order contract is ENFORCED,
  * not prose. A tick arriving in a LATER micro-batch with ts <= the series'
  * lastTs must not be folded (it would silently corrupt every indicator's
  * state for that series from then on). Default policy drops it and counts
  * the drop observably; policy "fail" kills the query loudly. */
class StreamingLateTickSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** ticks sorted in-order, with the tick at `lateIdx` held back and
    * replayed as the LAST micro-batch (maxFilesPerTrigger=1 ⇒ its own
    * batch, straddling every earlier one). */
  private def writeStraddled(ticks: Array[StreamingTa.BarTick], lateIdx: Int): java.io.File = {
    import spark.implicits._
    val srcDir = Files.createTempDirectory("graft_latestream").toFile
    val late = ticks(lateIdx)
    val inOrder = ticks.patch(lateIdx, Nil, 1)
    def writeOne(chunk: Seq[StreamingTa.BarTick], name: String): Unit = {
      spark.createDataset(chunk).coalesce(1).write.parquet(s"$srcDir/$name-tmp")
      val f = new java.io.File(s"$srcDir/$name-tmp").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(f.toPath, new java.io.File(srcDir, s"$name.parquet").toPath)
      Thread.sleep(20)
    }
    inOrder.grouped(10).zipWithIndex.foreach { case (chunk, i) => writeOne(chunk.toSeq, f"k$i%03d") }
    writeOne(Seq(late), "k999") // arrives last — a late tick across batches
    srcDir
  }

  private def readStream(srcDir: java.io.File) = {
    import spark.implicits._
    spark.readStream
      .schema("series_id STRING, ts BIGINT, open DOUBLE, high DOUBLE, low DOUBLE, close DOUBLE, volume DOUBLE")
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir.getAbsolutePath)
      .as[StreamingTa.BarTick]
  }

  private val specs = Seq(
    IndicatorSpec("ema", Map("length" -> 10)),
    IndicatorSpec("rsi", Map("length" -> 10)),
    IndicatorSpec("atr", Map("length" -> 10))
  )

  test("late tick straddling micro-batches: dropped, counted, state equals the in-order run without it") {
    import spark.implicits._
    val bars = Graft
      .bars(spark, TestSpark.sfDir)
      .select(
        col("series_id").cast("string").as("series_id"),
        unix_date(col("ts")).cast("long").as("ts"),
        col("open"), col("high"), col("low"), col("close"), col("volume")
      )
    val ticks = bars.as[StreamingTa.BarTick].collect().sortBy(_.ts)
    assert(ticks.length > 25, "need enough rows to put the late tick past warm-up")
    val lateIdx = 20
    val lateTs = ticks(lateIdx).ts

    val srcDir = writeStraddled(ticks, lateIdx)
    val sks = specs.map(s => StreamingTa.windowStream(s).get) :+
      StreamingTa.windowStream(IndicatorSpec("psar")).get
    val acc = spark.sparkContext.longAccumulator("late_test_drop")

    val q = StreamingTa
      .kernelBatchStream(readStream(srcDir), sks, latePolicy = "drop", lateCounter = Some(acc))
      .writeStream.format("memory").queryName("late_drop_stream").outputMode("append").start()
    q.processAllAvailable()
    q.stop()

    def norm(v: Any): Any = v match {
      case null => null
      case d: Double => math.rint(d * 1e6) / 1e6
      case other => other
    }
    val streamed = spark.table("late_drop_stream").collect().map(r => r.getAs[Long]("ts") -> r).toMap

    // (b) the drop is observable: accumulator counted it, and the late tick
    // was not emitted at all
    assert(acc.value == 1L, s"expected exactly 1 late drop, got ${acc.value}")
    assert(!streamed.contains(lateTs), "late tick must not be emitted")
    assert(streamed.size == ticks.length - 1)

    // (a) state equals the in-order run with the late tick dropped: every
    // emitted value matches the batch engine run on the data WITHOUT it —
    // including all rows AFTER the drop (state carried forward uncorrupted)
    val batchRef = specs
      .foldLeft(bars.where(col("ts") =!= lit(lateTs)))((d, s) => registry(d, s))
    val psarOuts = sks.last.outs
    val psarRef = registry(bars.where(col("ts") =!= lit(lateTs)), IndicatorSpec("psar"))
      .select(col("ts").as("pts") +: psarOuts.map(f => col(f.name)): _*)
    val outCols = sks.flatMap(_.outs.map(_.name))
    val refRows = batchRef.join(psarRef, col("ts") === col("pts")).collect()
    assert(refRows.length == ticks.length - 1)
    refRows.foreach { br =>
      val sr = streamed(br.getAs[Long]("ts"))
      outCols.foreach { c =>
        assert(
          norm(sr.getAs[Any](c)) == norm(br.getAs[Any](c)),
          s"$c mismatch at ts=${br.getAs[Long]("ts")} — state corrupted by late tick")
      }
    }
  }

  test("latePolicy=fail kills the query loudly on a late tick") {
    import spark.implicits._
    val bars = Graft
      .bars(spark, TestSpark.sfDir)
      .select(
        col("series_id").cast("string").as("series_id"),
        unix_date(col("ts")).cast("long").as("ts"),
        col("open"), col("high"), col("low"), col("close"), col("volume")
      )
    val ticks = bars.as[StreamingTa.BarTick].collect().sortBy(_.ts)
    val srcDir = writeStraddled(ticks, 20)
    val sks = Seq(StreamingTa.windowStream(IndicatorSpec("ema", Map("length" -> 10))).get)

    val q = StreamingTa
      .kernelBatchStream(readStream(srcDir), sks, latePolicy = "fail")
      .writeStream.format("memory").queryName("late_fail_stream").outputMode("append").start()
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
      q.awaitTermination()
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(ex).exists(_.contains("late tick")), s"unexpected failure: ${chain(ex)}")
    try q.stop() catch { case _: Throwable => () }
  }

  test("many late ticks across many micro-batches: all dropped, state still equals the clean run") {
    import spark.implicits._
    import graft.ta.{registry, IndicatorSpec}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val bars = Graft
      .bars(spark, TestSpark.sfDir)
      .select(
        col("series_id").cast("string").as("series_id"),
        unix_date(col("ts")).cast("long").as("ts"),
        col("open"), col("high"), col("low"), col("close"), col("volume")
      )
    val ticks = bars.as[StreamingTa.BarTick].collect().sortBy(_.ts)
    // batches of 6 in-order ticks, then REPLAY 2 ticks from two batches ago
    // into every later batch — 8 late arrivals in total across 4 batches
    val batches: Seq[Seq[StreamingTa.BarTick]] = {
      val clean = ticks.grouped(6).toSeq
      clean.zipWithIndex.map { case (b, i) =>
        if (i >= 2) b.toSeq ++ clean(i - 2).take(2) else b.toSeq
      }
    }
    val nLate = batches.zipWithIndex.map { case (_, i) => if (i >= 2) 2 else 0 }.sum

    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[StreamingTa.BarTick]
    val sks = Seq(
      StreamingTa.windowStream(IndicatorSpec("ema", Map("length" -> 10))).get,
      StreamingTa.windowStream(IndicatorSpec("atr", Map("length" -> 10))).get,
      StreamingTa.windowStream(IndicatorSpec("psar")).get)
    val acc = spark.sparkContext.longAccumulator("late_many_drop")
    val q = StreamingTa
      .kernelBatchStream(ms.toDS(), sks, latePolicy = "drop", lateCounter = Some(acc))
      .writeStream.format("memory").queryName("late_many_stream").outputMode("append").start()
    batches.foreach { b => ms.addData(b); q.processAllAvailable() }
    q.stop()

    def norm(v: Any): Any = v match {
      case null => null
      case d: Double => math.rint(d * 1e6) / 1e6
      case other => other
    }
    val streamed = spark.table("late_many_stream").collect().map(r => r.getAs[Long]("ts") -> r).toMap
    assert(acc.value == nLate.toLong, s"expected $nLate drops, got ${acc.value}")
    assert(streamed.size == ticks.length, "every clean tick emits exactly once")
    // parity vs the batch run on the CLEAN data — replays polluted nothing
    val batchRef = Seq(
      IndicatorSpec("ema", Map("length" -> 10)),
      IndicatorSpec("atr", Map("length" -> 10)))
      .foldLeft(bars)((d, s) => registry(d, s))
    batchRef.collect().foreach { br =>
      val sr = streamed(br.getAs[Long]("ts"))
      Seq("ema_10", "atr_10").foreach { c0 =>
        assert(
          norm(sr.getAs[Any](c0)) == norm(br.getAs[Any](c0)),
          s"$c0 mismatch at ts=${br.getAs[Long]("ts")} — a replayed tick corrupted state")
      }
    }
  }

  test("bad latePolicy is rejected at plan time") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[StreamingTa.BarTick]
    val sks = Seq(StreamingTa.windowStream(IndicatorSpec("ema", Map("length" -> 10))).get)
    val ex = intercept[IllegalArgumentException] {
      StreamingTa.kernelBatchStream(ms.toDS(), sks, latePolicy = "lenient")
    }
    assert(ex.getMessage.contains("latePolicy"))
  }
}
