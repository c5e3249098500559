package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSessionExtensions

/** GraftExtensions wiring + SQL-level function surface. */
class ExtensionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("GraftExtensions injects without error") {
    new graft.extensions.GraftExtensions().apply(new SparkSessionExtensions)
  }

  test("registered functions are callable from SQL") {
    Graft.init(spark)
    val r = spark
      .sql(
        "SELECT round(graft_ewm(x, 0.5) OVER (ORDER BY i ROWS UNBOUNDED PRECEDING), 6) AS e, " +
          "graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d " +
          "FROM VALUES (1, 10.0d), (2, 20.0d), (3, 30.0d) AS t(i, x) ORDER BY i"
      )
      .collect()
    assert(r.map(_.getDouble(0)).toSeq == Seq(10.0, 15.0, 22.5))
    assert(r.head.getDouble(1) == 11.0)
  }

  test("indicator SQL surface: every TaSqlSurface function resolves from SQL text") {
    Graft.init(spark)
    // exposure list is the contract: a SQL-only consumer can reach these
    val exposed = graft.functions.TaSqlSurface.builders.map(_._1)
    assert(
      exposed == Seq(
        "graft_sma", "graft_wma", "graft_stdev", "graft_variance", "graft_rsum",
        "graft_rmin", "graft_rmax", "graft_rmedian", "graft_zscore", "graft_roc",
        "graft_ewma", "graft_rma",
        "graft_hl2", "graft_hlc3", "graft_ohlc4", "graft_wcp", "graft_tr",
        // phase 2 (round 8): seeded-EW composite kernels + wrappers
        "graft_ema_k", "graft_rsi_k", "graft_macd_k", "graft_dema_k", "graft_tema_k",
        // phase 3 (round 9): REC state-machine + Wilder composite folds
        "graft_psar_k", "graft_supertrend_k",
        "graft_ha_k", "graft_mcgd_k", "graft_ssf_k", "graft_hwma_k",
        "graft_kalman_k", "graft_ebsw_k", "graft_hwc_k", "graft_td_seq_k", "graft_rsx_k",
        "graft_hilo_k", "graft_fisher_k", "graft_qqe_k",
        "graft_jma_k", "graft_cusum_k",
        "graft_atr_k", "graft_trix_k", "graft_tsi_k", "graft_adx_k", "graft_kc_k",
        "graft_ema", "graft_rsi", "graft_macd", "graft_dema", "graft_tema",
        "graft_psar", "graft_supertrend",
        "graft_ha", "graft_mcgd", "graft_ssf", "graft_hwma",
        "graft_kalman", "graft_ebsw", "graft_hwc", "graft_td_seq", "graft_rsx",
        "graft_atr", "graft_natr", "graft_trix", "graft_tsi", "graft_adx", "graft_kc",
        "graft_bbands", "graft_stoch",
        // phase 4b (round 9): single-window-level W/ELEM wrappers
        "graft_willr", "graft_mom", "graft_slope", "graft_midpoint", "graft_midprice",
        "graft_bop", "graft_ao", "graft_cci", "graft_vwma",
        "graft_donchian", "graft_accbands", "graft_eri",
        "graft_apo", "graft_ppo", "graft_bias", "graft_aroon",
        // phase 5 (round 10): weighted/adaptive MAs, volume, returns, stats
        "graft_alma", "graft_fwma", "graft_pwma", "graft_swma", "graft_sinwma",
        "graft_hma", "graft_trima",
        "graft_kama_k", "graft_vidya_k", "graft_kama", "graft_vidya",
        "graft_kama_sc", "graft_vidya_al",
        "graft_obv_k", "graft_pvt_k", "graft_efi_k",
        "graft_obv", "graft_pvt", "graft_efi",
        "graft_ad", "graft_cmf", "graft_eom", "graft_mfi",
        "graft_log_return", "graft_percent_return",
        "graft_log_return_cum", "graft_percent_return_cum", "graft_drawdown",
        "graft_mad", "graft_skew", "graft_kurtosis", "graft_quantile", "graft_entropy",
        // phase 6 (round 10): remaining registry kinds
        "graft_vwap", "graft_pvol", "graft_pvr", "graft_qstick", "graft_pdist",
        "graft_increasing", "graft_decreasing", "graft_ttm_trend",
        "graft_cmo", "graft_er", "graft_psl", "graft_vhf", "graft_cg", "graft_geomean",
        "graft_chop", "graft_vortex", "graft_ui", "graft_uo", "graft_brar",
        "graft_linreg", "graft_cfo", "graft_cti",
        "graft_dpo", "graft_coppock", "graft_ichimoku", "graft_aberration",
        "graft_dm_k", "graft_dm", "graft_decay_k", "graft_decay",
        "graft_nvi_k", "graft_nvi", "graft_pvi_k", "graft_pvi",
        "graft_etr_k", "graft_pgo", "graft_adosc_k", "graft_adosc",
        "graft_t3_k", "graft_t3", "graft_pvo_k", "graft_pvo",
        // round 16 (optimization): ring-fold kernels replacing the
        // lag-unrolled composite spellings (RollFolds)
        "graft_cmo_k", "graft_adiffsum_k", "graft_psl_k", "graft_trsum_k",
        "graft_vortex_k", "graft_ui_k", "graft_uo_k", "graft_br_k",
        "graft_coppock_k", "graft_wdot_k",
        // round 16 wave 3
        "graft_stoch_k", "graft_trima_k", "graft_entropy_k",
        "graft_eom_k", "graft_mfi_k", "graft_vidya_al_k"
      ),
      "SQL surface contract changed — update SURVEY.md §2.C and this list together"
    )
    Graft.bars(spark, TestSpark.sfDir).createOrReplaceTempView("xs_bars")
    // one SELECT touching every exposed function must analyze and run
    val cols = Seq(
      "graft_sma(close, 3)", "graft_wma(close, 3)", "graft_stdev(close, 3)",
      "graft_variance(close, 3)", "graft_rsum(close, 3)", "graft_rmin(close, 3)",
      "graft_rmax(close, 3)", "graft_rmedian(close, 3)", "graft_zscore(close, 3)",
      "graft_roc(close, 3)", "graft_ewma(close, 0.5)", "graft_rma(close, 3)",
      "graft_hl2(high, low)", "graft_hlc3(high, low, close)",
      "graft_ohlc4(open, high, low, close)", "graft_wcp(high, low, close)",
      "graft_tr(high, low, close)",
      "graft_ema(close, 3)", "graft_rsi(close, 3)", "graft_macd(close, 3, 6, 2).macd",
      "graft_dema(close, 3)", "graft_tema(close, 3)",
      "graft_ema_k(close, 3) OVER (PARTITION BY series_id ORDER BY ts ROWS UNBOUNDED PRECEDING)",
      "graft_rsi_k(close, 3) OVER (PARTITION BY series_id ORDER BY ts ROWS UNBOUNDED PRECEDING)",
      "graft_macd_k(close, 3, 6, 2) OVER (PARTITION BY series_id ORDER BY ts ROWS UNBOUNDED PRECEDING)",
      "graft_psar(high, low, close, 0.02, 0.02, 0.2).long",
      "graft_supertrend(high, low, close, 7, 3.0).st",
      "graft_psar_k(high, low, close, 0.02, 0.02, 0.2) OVER (PARTITION BY series_id ORDER BY ts ROWS UNBOUNDED PRECEDING)",
      "graft_supertrend_k(high, low, close, 7, 3.0) OVER (PARTITION BY series_id ORDER BY ts ROWS UNBOUNDED PRECEDING)",
      "graft_atr(high, low, close, 3)", "graft_natr(high, low, close, 3)",
      "graft_trix(close, 3)", "graft_tsi(close, 3, 5)",
      "graft_adx(high, low, close, 3, 3).adx",
      "graft_ha(open, high, low, close).ha_close", "graft_mcgd(close, 3)",
      "graft_ssf(close, 3)", "graft_hwma(close, 0.2, 0.1, 0.1)",
      "graft_kalman(close, 0.01, 1.0).kf", "graft_ebsw(close, 20, 10)",
      "graft_hwc(close, 0.2, 0.1, 0.1, 0.1, 1.0).hwc_mid",
      "graft_td_seq(close).td_seq_up", "graft_rsx(close, 5)",
      "graft_ha_k(open, high, low, close) OVER (PARTITION BY series_id ORDER BY ts ROWS UNBOUNDED PRECEDING)",
      "graft_mcgd_k(close, 3) OVER (PARTITION BY series_id ORDER BY ts ROWS UNBOUNDED PRECEDING)",
      "graft_ssf_k(close, 3) OVER (PARTITION BY series_id ORDER BY ts ROWS UNBOUNDED PRECEDING)",
      "graft_hwma_k(close, 0.2, 0.1, 0.1) OVER (PARTITION BY series_id ORDER BY ts ROWS UNBOUNDED PRECEDING)",
      "graft_kalman_k(close, 0.01, 1.0) OVER (PARTITION BY series_id ORDER BY ts ROWS UNBOUNDED PRECEDING)",
      "graft_ebsw_k(close, 20, 10) OVER (PARTITION BY series_id ORDER BY ts ROWS UNBOUNDED PRECEDING)",
      "graft_hwc_k(close, 0.2, 0.1, 0.1, 0.1, 1.0) OVER (PARTITION BY series_id ORDER BY ts ROWS UNBOUNDED PRECEDING)",
      "graft_td_seq_k(close) OVER (PARTITION BY series_id ORDER BY ts ROWS UNBOUNDED PRECEDING)",
      "graft_rsx_k(close, 5) OVER (PARTITION BY series_id ORDER BY ts ROWS UNBOUNDED PRECEDING)",
      "graft_hilo_k(close, high, low) OVER (PARTITION BY series_id ORDER BY ts ROWS UNBOUNDED PRECEDING)",
      "graft_fisher_k(close) OVER (PARTITION BY series_id ORDER BY ts ROWS UNBOUNDED PRECEDING)",
      "graft_qqe_k(close, volume) OVER (PARTITION BY series_id ORDER BY ts ROWS UNBOUNDED PRECEDING)",
      "graft_jma_k(close, 7, 0.0) OVER (PARTITION BY series_id ORDER BY ts ROWS UNBOUNDED PRECEDING)",
      "graft_cusum_k(close, 100.0, 10.0, 0.5, 5.0) OVER (PARTITION BY series_id ORDER BY ts ROWS UNBOUNDED PRECEDING)",
      "graft_bbands(close, 3, 2.0).bbm", "graft_stoch(high, low, close, 3, 2, 2).stoch_k",
      "graft_willr(high, low, close, 3)", "graft_mom(close, 3)", "graft_slope(close, 3)",
      "graft_midpoint(close, 3)", "graft_midprice(high, low, 3)",
      "graft_bop(open, high, low, close)", "graft_ao(high, low, 2, 4)",
      "graft_cci(high, low, close, 3, 0.015)", "graft_vwma(close, volume, 3)",
      "graft_donchian(high, low, 3).dcm", "graft_accbands(high, low, close, 3).accbm",
      "graft_eri(high, low, close, 3).bull", "graft_aroon(high, low, 3).aroon_u",
      "graft_kc(high, low, close, 3, 2.0).kcb", "graft_apo(close, 2, 4)",
      "graft_ppo(close, 2, 4)", "graft_bias(close, 3)",
      "graft_kc_k(high, low, close, 3, 2.0) OVER (PARTITION BY series_id ORDER BY ts ROWS UNBOUNDED PRECEDING)",
      "graft_atr_k(high, low, close, 3) OVER (PARTITION BY series_id ORDER BY ts ROWS UNBOUNDED PRECEDING)",
      "graft_trix_k(close, 3) OVER (PARTITION BY series_id ORDER BY ts ROWS UNBOUNDED PRECEDING)",
      "graft_tsi_k(close, 3, 5) OVER (PARTITION BY series_id ORDER BY ts ROWS UNBOUNDED PRECEDING)",
      "graft_adx_k(high, low, close, 3, 3) OVER (PARTITION BY series_id ORDER BY ts ROWS UNBOUNDED PRECEDING)",
      // phase 5
      "graft_alma(close, 3, 6.0, 0.85)", "graft_fwma(close, 3)", "graft_pwma(close, 3)",
      "graft_swma(close, 3)", "graft_sinwma(close, 3)", "graft_hma(close, 4)",
      "graft_trima(close, 4)",
      "graft_kama_sc(close, 3, 2, 5)", "graft_vidya_al(close, 3)",
      "graft_kama(close, 0.5)", "graft_vidya(close, 0.5)",
      "graft_kama_k(close, volume) OVER (PARTITION BY series_id ORDER BY ts ROWS UNBOUNDED PRECEDING)",
      "graft_vidya_k(close, volume) OVER (PARTITION BY series_id ORDER BY ts ROWS UNBOUNDED PRECEDING)",
      "graft_obv(close, volume)", "graft_ad(high, low, close, volume)",
      "graft_cmf(high, low, close, volume, 3)", "graft_efi(close, volume, 3)",
      "graft_eom(high, low, volume, 3, 1e8)", "graft_mfi(high, low, close, volume, 3)",
      "graft_pvt(close, volume)",
      "graft_obv_k(close, volume) OVER (PARTITION BY series_id ORDER BY ts ROWS UNBOUNDED PRECEDING)",
      "graft_pvt_k(close, volume) OVER (PARTITION BY series_id ORDER BY ts ROWS UNBOUNDED PRECEDING)",
      "graft_efi_k(close, volume, 3) OVER (PARTITION BY series_id ORDER BY ts ROWS UNBOUNDED PRECEDING)",
      "graft_log_return(close, 1)", "graft_percent_return(close, 1)",
      "graft_log_return_cum(close)", "graft_percent_return_cum(close)",
      "graft_drawdown(close).dd_pct",
      "graft_mad(close, 3)", "graft_skew(close, 3)", "graft_kurtosis(close, 4)",
      "graft_quantile(close, 3, 0.75)", "graft_entropy(close, 3, 2.0)",
      // phase 6
      "graft_vwap(high, low, close, volume)", "graft_pvol(close, volume)",
      "graft_pvr(close, volume)", "graft_qstick(open, close, 3)",
      "graft_pdist(open, high, low, close, 1)",
      "graft_increasing(close, 1)", "graft_decreasing(close, 1)",
      "graft_ttm_trend(high, low, close, 3)",
      "graft_cmo(close, 3)", "graft_er(close, 3)", "graft_psl(close, 3)",
      "graft_vhf(close, 3)", "graft_cg(close, 3)", "graft_geomean(close, 3)",
      "graft_chop(high, low, close, 3)", "graft_vortex(high, low, close, 3).vtxp",
      "graft_ui(close, 3)", "graft_uo(high, low, close, 2, 3, 4)",
      "graft_brar(open, high, low, close, 3).ar",
      "graft_linreg(close, 3).slope", "graft_cfo(close, 3)", "graft_cti(close, 3)",
      "graft_dpo(close, 4, 1)", "graft_coppock(close, 3, 2, 4)",
      "graft_ichimoku(high, low, close, 2, 3, 4, 2).its",
      "graft_aberration(high, low, close, 3, 4).zg",
      "graft_dm(high, low, 3).dmp", "graft_decay(close, 3)",
      "graft_nvi(close, volume, 1000.0)", "graft_pvi(close, volume, 1000.0)",
      "graft_pgo(high, low, close, 3)",
      "graft_adosc(high, low, close, volume, 2, 4)",
      "graft_t3(close, 3, 0.7)", "graft_pvo(volume, 2, 4, 2).pvo",
      "graft_dm_k(high, low, 3) OVER (PARTITION BY series_id ORDER BY ts ROWS UNBOUNDED PRECEDING)",
      "graft_decay_k(close, 3) OVER (PARTITION BY series_id ORDER BY ts ROWS UNBOUNDED PRECEDING)",
      "graft_nvi_k(close, volume, 1000.0) OVER (PARTITION BY series_id ORDER BY ts ROWS UNBOUNDED PRECEDING)",
      "graft_pvi_k(close, volume, 1000.0) OVER (PARTITION BY series_id ORDER BY ts ROWS UNBOUNDED PRECEDING)",
      "graft_etr_k(high, low, close, 3) OVER (PARTITION BY series_id ORDER BY ts ROWS UNBOUNDED PRECEDING)",
      "graft_adosc_k(high, low, close, volume, 2, 4) OVER (PARTITION BY series_id ORDER BY ts ROWS UNBOUNDED PRECEDING)",
      "graft_t3_k(close, 3, 0.7) OVER (PARTITION BY series_id ORDER BY ts ROWS UNBOUNDED PRECEDING)",
      "graft_pvo_k(volume, 2, 4, 2) OVER (PARTITION BY series_id ORDER BY ts ROWS UNBOUNDED PRECEDING)",
      // round 16 ring-fold kernels
      "graft_cmo_k(close, 3) OVER (PARTITION BY series_id ORDER BY ts ROWS UNBOUNDED PRECEDING)",
      "graft_adiffsum_k(close, 3) OVER (PARTITION BY series_id ORDER BY ts ROWS UNBOUNDED PRECEDING)",
      "graft_psl_k(close, 3) OVER (PARTITION BY series_id ORDER BY ts ROWS UNBOUNDED PRECEDING)",
      "graft_trsum_k(high, low, close, 3) OVER (PARTITION BY series_id ORDER BY ts ROWS UNBOUNDED PRECEDING)",
      "graft_vortex_k(high, low, close, 3) OVER (PARTITION BY series_id ORDER BY ts ROWS UNBOUNDED PRECEDING)",
      "graft_ui_k(close, 3) OVER (PARTITION BY series_id ORDER BY ts ROWS UNBOUNDED PRECEDING)",
      "graft_uo_k(high, low, close, 2, 3, 4) OVER (PARTITION BY series_id ORDER BY ts ROWS UNBOUNDED PRECEDING)",
      "graft_br_k(high, low, close, 3) OVER (PARTITION BY series_id ORDER BY ts ROWS UNBOUNDED PRECEDING)",
      "graft_coppock_k(close, 3, 2, 4) OVER (PARTITION BY series_id ORDER BY ts ROWS UNBOUNDED PRECEDING)",
      "graft_wdot_k(close, array(0.5d, 0.3d, 0.2d), true, 0) OVER (PARTITION BY series_id ORDER BY ts ROWS UNBOUNDED PRECEDING)",
      // round 16 wave 3 ring-fold kernels
      "graft_stoch_k(high, low, close, 3, 2, 2) OVER (PARTITION BY series_id ORDER BY ts ROWS UNBOUNDED PRECEDING)",
      "graft_trima_k(close, 4) OVER (PARTITION BY series_id ORDER BY ts ROWS UNBOUNDED PRECEDING)",
      "graft_entropy_k(close, 3, 2.0) OVER (PARTITION BY series_id ORDER BY ts ROWS UNBOUNDED PRECEDING)",
      "graft_eom_k(high, low, volume, 3, 1e8) OVER (PARTITION BY series_id ORDER BY ts ROWS UNBOUNDED PRECEDING)",
      "graft_mfi_k(high, low, close, volume, 3) OVER (PARTITION BY series_id ORDER BY ts ROWS UNBOUNDED PRECEDING)",
      "graft_vidya_al_k(close, 3) OVER (PARTITION BY series_id ORDER BY ts ROWS UNBOUNDED PRECEDING)"
    ).zipWithIndex.map { case (e, i) => s"$e AS c$i" }
    val out = spark.sql(s"SELECT series_id, ts, ${cols.mkString(", ")} FROM xs_bars").collect()
    assert(out.nonEmpty)

    // spot-check semantics against the Scala accessor on the same frame
    val sql3 = spark
      .sql("SELECT series_id, ts, graft_sma(close, 3) AS v FROM xs_bars")
      .collect()
      .map(r => (r.getString(0), r.get(1).toString) -> Option(r.get(2)))
      .toMap
    import org.apache.spark.sql.functions.col
    val api3 = Graft
      .bars(spark, TestSpark.sfDir)
      .withColumn("v", graft.ta.prim.rmean(col("close"), 3))
      .select("series_id", "ts", "v")
      .collect()
      .map(r => (r.getString(0), r.get(1).toString) -> Option(r.get(2)))
      .toMap
    assert(sql3 == api3, "SQL wrapper diverged from the Scala accessor path")

    // non-literal window length must fail loudly, not mis-plan
    val e = intercept[Exception](spark.sql("SELECT graft_sma(close, CAST(volume AS INT)) FROM xs_bars"))
    assert(e.getMessage.contains("integer literal"), s"unexpected: ${e.getMessage}")
  }
}
