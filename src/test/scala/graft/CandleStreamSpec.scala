package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.streaming.StreamingTa
import graft.ta.{registry, IndicatorSpec, Strategy}
import java.nio.file.Files

/** Round-11 verdict item #3: the six cdl_pattern* flag batches STREAM.
  * This spec runs all ~80 flag columns through a REAL file-source stream
  * (maxFilesPerTrigger=1 ⇒ the per-series state — including the
  * LoweringStage rings, minus its @transient bound program — kryo
  * round-trips through the state store between every pair of ticks, and
  * rearm() re-attaches the expressions each batch) and asserts parity with
  * the batch strategy_candles_batch computation row-for-row. */
class CandleStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("all six cdl_pattern waves stream in one pass and equal the batch strategy") {
    import spark.implicits._
    val bars = Graft
      .bars(spark, TestSpark.sfDir)
      .select(
        col("series_id").cast("string").as("series_id"),
        unix_date(col("ts")).cast("long").as("ts"),
        col("open"), col("high"), col("low"), col("close"), col("volume")
      )
    val ticks = bars.as[StreamingTa.BarTick].collect().sortBy(_.ts)

    val srcDir = Files.createTempDirectory("graft_cdlstream").toFile
    ticks.grouped(6).zipWithIndex.foreach { case (chunk, i) =>
      spark.createDataset(chunk.toSeq).coalesce(1).write.parquet(s"$srcDir/c$i")
      val f = new java.io.File(s"$srcDir/c$i").listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.copy(f.toPath, new java.io.File(srcDir, f"k$i%03d.parquet").toPath)
      Thread.sleep(20)
    }
    val stream = spark.readStream
      .schema("series_id STRING, ts BIGINT, open DOUBLE, high DOUBLE, low DOUBLE, close DOUBLE, volume DOUBLE")
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir.getAbsolutePath)
      .as[StreamingTa.BarTick]

    val kinds = Seq(
      "cdl_pattern", "cdl_pattern_2", "cdl_pattern_3",
      "cdl_pattern_4", "cdl_pattern_5", "cdl_pattern_6")
    val st = Strategy("cdl_all", kinds.map(k => IndicatorSpec(k)))

    val q = StreamingTa
      .strategyStream(stream, st)
      .writeStream.format("memory").queryName("cdl_stream").outputMode("append").start()
    q.processAllAvailable()
    q.stop()

    def norm(v: Any): Any = v match {
      case null => null
      case d: Double => math.rint(d * 1e6) / 1e6
      case other => other
    }
    val streamed = spark.table("cdl_stream").collect().map(r => r.getAs[Long]("ts") -> r).toMap
    assert(streamed.size == ticks.length)

    val batch = kinds.foldLeft(bars)((d, s) => registry(d, IndicatorSpec(s))).orderBy("ts").collect()
    val flagCols = streamed.values.head.schema.fieldNames.filterNot(Set("series_id", "ts"))
    assert(flagCols.length >= 61, s"expected the full flag set, got ${flagCols.length}")
    batch.foreach { br =>
      val sr = streamed(br.getAs[Long]("ts"))
      flagCols.foreach { c0 =>
        assert(
          norm(sr.getAs[Any](c0)) == norm(br.getAs[Any](c0)),
          s"$c0 mismatch at ts=${br.getAs[Long]("ts")}")
      }
    }
  }
}
