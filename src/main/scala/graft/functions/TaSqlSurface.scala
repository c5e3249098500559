package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}
import graft.ta.{prim => P}

/** SQL entry points for the indicator primitive families — the round-6
  * gap closure for non-Scala consumers on a shared cluster: the
  * 141-indicator registry was Scala-accessor-only, so a SQL user could
  * reach `graft_ewm`/`graft_linrec` (bare kernels needing an explicit
  * OVER clause) but not `sma(close, 10)`-class indicators.
  *
  * Each builder expands to the SAME prim-layer Column tree the Scala
  * accessor uses (shared code path — not a reimplementation), converted
  * back to an Expression through GraftBridge. The window spec is the
  * canonical `PARTITION BY series_id ORDER BY ts`, so the consuming
  * query's relation must expose those two columns — the same contract
  * the Scala accessor has. Window extraction is the analyzer's normal
  * ExtractWindowExpressions pass; all wrappers keep their window
  * expressions at the top level of the tree (no window-in-window).
  * The EW-seeded composites (ema, rsi, macd, dema, tema) were excluded
  * until round 8 for exactly that limitation — their staged spellings
  * stack projections — and are covered now by the phase-2
  * single-expression fold kernels (SeededComposites): each composite is
  * ONE AggregateWindowFunction, so no nesting arises. Phase 3 (round 9)
  * extends the same machinery to the Wilder/rma-seeded composites
  * (atr/natr/stoch/bbands/trix/tsi/adx) and the branching REC state
  * machines (psar, supertrend, ..., jma, cusum — RecFolds).
  *
  * Both registration paths consume this one list: `Registry.register`
  * (programmatic, Graft.init) and `GraftExtensions` (cluster-wide via
  * spark.sql.extensions).
  */
object TaSqlSurface {

  private def c(e: Expression): Column = GraftBridge.column(e).cast("double")
  // eager ColumnNode→Expression conversion: the lazy wrapper would ride
  // the resolved plan into codegen and fail there (function builders
  // bypass the Dataset-API conversion point)
  private def x(col: Column): Expression = GraftBridge.expressionEager(col)

  private def intLit(e: Expression, fn: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case Literal(v: Long, LongType)   => v.toInt
    case other =>
      throw new IllegalArgumentException(s"$fn window length must be an integer literal, got $other")
  }

  private def dblLit(e: Expression, fn: String): Double = e match {
    case Literal(v: Double, DoubleType) => v
    case Literal(v: Float, org.apache.spark.sql.types.FloatType) => v.toDouble
    case Literal(v: Int, IntegerType)   => v.toDouble
    case Literal(v: Long, LongType)     => v.toDouble
    // SQL decimal literals ("0.2") parse as DecimalType, not DOUBLE
    case Literal(v: org.apache.spark.sql.types.Decimal, _: org.apache.spark.sql.types.DecimalType) =>
      v.toDouble
    case other =>
      throw new IllegalArgumentException(s"$fn alpha must be a numeric literal, got $other")
  }

  // arity gate: a SQL caller passing the wrong argument count gets an
  // argument-count error, not an IndexOutOfBoundsException from es(i).
  // Arities are also CAPTURED here so the generated SQL reference
  // (SqlDocGen -> SQL_FUNCTIONS.md) reads the live registrations and
  // cannot drift from them.
  private val arityAcc = scala.collection.mutable.LinkedHashMap[String, Int]()
  private def ar(name: String, n: Int)(f: Seq[Expression] => Expression): (String, Seq[Expression] => Expression) = {
    arityAcc(name) = n
    name -> { es =>
      require(es.length == n, s"$name expects $n arguments, got ${es.length}")
      f(es)
    }
  }

  /** name → declared argument count, in registration order (this file's
    * functions plus phase 6's from TaSqlSurface2). */
  lazy val arities: Map[String, Int] = {
    val _ = builders // force registration side effects
    (arityAcc ++ TaSqlSurface2.arities).toMap
  }

  /** registration order, for the generated doc. */
  lazy val orderedNames: Seq[String] = {
    val _ = builders
    arityAcc.keys.toSeq ++ TaSqlSurface2.orderedNames
  }

  /** (name, builder) pairs — W class (fixed rolling), EW class (running
    * recursions over the canonical frame), ELEM class (bar arithmetic). */
  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    // ---- W class --------------------------------------------------------
    ar("graft_sma", 2)(es => x(P.rmean(c(es(0)), intLit(es(1), "graft_sma")))),
    ar("graft_wma", 2)(es => {
      // P.wma's exact weights through the ungated graft_wdot_k fold
      // (round 16) — P.wma itself has no count gate (null propagation
      // through missing lags covers min_periods on contiguous series)
      val n = intLit(es(1), "graft_wma")
      val ws = (1 to n).map(_.toDouble)
      val denom = ws.sum
      x(TaSqlSurface2.wdotK(c(es(0)), ws.reverse.map(_ / denom), gated = false, offset = 0))
    }),
    ar("graft_stdev", 2)(es => x(P.rstd(c(es(0)), intLit(es(1), "graft_stdev")))),
    ar("graft_variance", 2)(es => x(P.rvar(c(es(0)), intLit(es(1), "graft_variance")))),
    ar("graft_rsum", 2)(es => x(P.rsum(c(es(0)), intLit(es(1), "graft_rsum")))),
    ar("graft_rmin", 2)(es => x(P.rmin(c(es(0)), intLit(es(1), "graft_rmin")))),
    ar("graft_rmax", 2)(es => x(P.rmax(c(es(0)), intLit(es(1), "graft_rmax")))),
    ar("graft_rmedian", 2)(es => x(P.rmedian(c(es(0)), intLit(es(1), "graft_rmedian")))),
    ar("graft_zscore", 2)(es => {
      val n = intLit(es(1), "graft_zscore")
      val v = c(es(0))
      x(P.sdiv(v - P.rmean(v, n), P.rstd(v, n)))
    }),
    ar("graft_roc", 2)(es => {
      val n = intLit(es(1), "graft_roc")
      x(P.pctChange(c(es(0)), n) * org.apache.spark.sql.functions.lit(100.0))
    }),
    // ---- EW class (canonical running frame pre-applied) -----------------
    ar("graft_ewma", 2)(es => x(P.ewm(c(es(0)), dblLit(es(1), "graft_ewma")))),
    ar("graft_rma", 2)(es => x(P.rmaOf(c(es(0)), intLit(es(1), "graft_rma")))),
    // ---- ELEM class -----------------------------------------------------
    ar("graft_hl2", 2)(es => x((c(es(0)) + c(es(1))) / 2.0)),
    ar("graft_hlc3", 3)(es => x((c(es(0)) + c(es(1)) + c(es(2))) / 3.0)),
    ar("graft_ohlc4", 4)(es => x((c(es(0)) + c(es(1)) + c(es(2)) + c(es(3))) / 4.0)),
    ar("graft_wcp", 3)(es => x((c(es(0)) + c(es(1)) + c(es(2)) * 2.0) / 4.0)),
    ar("graft_tr", 3)(es => {
      import org.apache.spark.sql.functions.{abs, greatest, lit, when}
      val (h, l, cl) = (c(es(0)), c(es(1)), c(es(2)))
      val pc = P.shift(cl, 1)
      x(when(pc.isNull, lit(null)).otherwise(greatest(h - l, abs(h - pc), abs(l - pc))))
    }),
    // ---- seeded-EW composites (phase 2) ---------------------------------
    // Bare running-frame kernels (explicit OVER clause in SQL) …
    ar("graft_ema_k", 2)(es =>
      SeededComposites.EmaSeeded(dblE(es(0)), intLit(es(1), "graft_ema_k"))),
    ar("graft_rsi_k", 2)(es =>
      SeededComposites.RsiSeeded(dblE(es(0)), intLit(es(1), "graft_rsi_k"))),
    ar("graft_macd_k", 4)(es =>
      SeededComposites.MacdSeeded(
        dblE(es(0)),
        intLit(es(1), "graft_macd_k"), intLit(es(2), "graft_macd_k"), intLit(es(3), "graft_macd_k"))),
    ar("graft_dema_k", 2)(es =>
      SeededComposites.DemaSeeded(dblE(es(0)), intLit(es(1), "graft_dema_k"))),
    ar("graft_tema_k", 2)(es =>
      SeededComposites.TemaSeeded(dblE(es(0)), intLit(es(1), "graft_tema_k"))),
    // ---- REC state-machine folds (phase 3, RecFolds) ---------------------
    ar("graft_psar_k", 6)(es =>
      RecFolds.PsarFold(dblE(es(0)), dblE(es(1)), dblE(es(2)),
        dblLit(es(3), "graft_psar_k"), dblLit(es(4), "graft_psar_k"), dblLit(es(5), "graft_psar_k"))),
    ar("graft_supertrend_k", 5)(es =>
      RecFolds.SupertrendFold(dblE(es(0)), dblE(es(1)), dblE(es(2)),
        intLit(es(3), "graft_supertrend_k"), dblLit(es(4), "graft_supertrend_k"))),
    ar("graft_ha_k", 4)(es =>
      RecFolds.HaFold(dblE(es(0)), dblE(es(1)), dblE(es(2)), dblE(es(3)))),
    ar("graft_mcgd_k", 2)(es =>
      RecFolds.McgdFold(dblE(es(0)), intLit(es(1), "graft_mcgd_k"))),
    ar("graft_ssf_k", 2)(es =>
      RecFolds.SsfFold(dblE(es(0)), intLit(es(1), "graft_ssf_k"))),
    ar("graft_hwma_k", 4)(es =>
      RecFolds.HwmaFold(dblE(es(0)),
        dblLit(es(1), "graft_hwma_k"), dblLit(es(2), "graft_hwma_k"), dblLit(es(3), "graft_hwma_k"))),
    ar("graft_kalman_k", 3)(es =>
      RecFolds.KalmanFold(dblE(es(0)),
        dblLit(es(1), "graft_kalman_k"), dblLit(es(2), "graft_kalman_k"))),
    ar("graft_ebsw_k", 3)(es =>
      RecFolds.EbswFold(dblE(es(0)),
        intLit(es(1), "graft_ebsw_k"), intLit(es(2), "graft_ebsw_k"))),
    ar("graft_hwc_k", 6)(es =>
      RecFolds.HwcFold(dblE(es(0)),
        dblLit(es(1), "graft_hwc_k"), dblLit(es(2), "graft_hwc_k"), dblLit(es(3), "graft_hwc_k"),
        dblLit(es(4), "graft_hwc_k"), dblLit(es(5), "graft_hwc_k"))),
    ar("graft_td_seq_k", 1)(es => RecFolds.TdSeqFold(dblE(es(0)))),
    ar("graft_rsx_k", 2)(es =>
      RecFolds.RsxFold(dblE(es(0)), intLit(es(1), "graft_rsx_k"))),
    // staged-input state machines — bare kernels only (their windowed
    // inputs can't nest inside the same expression; SQL users stage
    // them in a subquery exactly as the accessor stages columns)
    ar("graft_hilo_k", 3)(es => RecFolds.HiloFold(dblE(es(0)), dblE(es(1)), dblE(es(2)))),
    ar("graft_fisher_k", 1)(es => RecFolds.FisherFold(dblE(es(0)))),
    ar("graft_qqe_k", 2)(es => RecFolds.QqeFold(dblE(es(0)), dblE(es(1)))),
    ar("graft_jma_k", 3)(es =>
      RecFolds.JmaFold(dblE(es(0)), intLit(es(1), "graft_jma_k"), dblLit(es(2), "graft_jma_k"))),
    // cusum's reference μ/σ are expressions: literals, or per-series columns
    ar("graft_cusum_k", 5)(es =>
      RecFolds.CusumFold(dblE(es(0)), dblE(es(1)), dblE(es(2)),
        dblLit(es(3), "graft_cusum_k"), dblLit(es(4), "graft_cusum_k"))),
    // ---- Wilder/rma-seeded composite folds (phase 3) ---------------------
    ar("graft_atr_k", 4)(es =>
      SeededComposites.AtrFold(dblE(es(0)), dblE(es(1)), dblE(es(2)), intLit(es(3), "graft_atr_k"))),
    ar("graft_trix_k", 2)(es =>
      SeededComposites.TrixFold(dblE(es(0)), intLit(es(1), "graft_trix_k"))),
    ar("graft_tsi_k", 3)(es =>
      SeededComposites.TsiFold(dblE(es(0)),
        intLit(es(1), "graft_tsi_k"), intLit(es(2), "graft_tsi_k"))),
    ar("graft_adx_k", 5)(es =>
      SeededComposites.AdxFold(dblE(es(0)), dblE(es(1)), dblE(es(2)),
        intLit(es(3), "graft_adx_k"), intLit(es(4), "graft_adx_k"))),
    ar("graft_kc_k", 5)(es =>
      SeededComposites.KcFold(dblE(es(0)), dblE(es(1)), dblE(es(2)),
        intLit(es(3), "graft_kc_k"), dblLit(es(4), "graft_kc_k"))),
    // … and the canonical-window wrappers (no OVER needed, same contract
    // as graft_sma-class). The kernel call routes through the function
    // registry rather than wrapping the Expression directly — registry-
    // resolved window functions analyze cleanly where direct-wrapped ones
    // trip CheckAnalysis (same constraint as wf.linrec).
    ar("graft_ema", 2)(es => x(kernel("graft_ema_k", es).over(P.cum))),
    ar("graft_rsi", 2)(es => x(kernel("graft_rsi_k", es).over(P.cum))),
    ar("graft_macd", 4)(es => x(kernel("graft_macd_k", es).over(P.cum))),
    ar("graft_dema", 2)(es => x(kernel("graft_dema_k", es).over(P.cum))),
    ar("graft_tema", 2)(es => x(kernel("graft_tema_k", es).over(P.cum))),
    ar("graft_psar", 6)(es => x(kernel("graft_psar_k", es).over(P.cum))),
    ar("graft_supertrend", 5)(es => x(kernel("graft_supertrend_k", es).over(P.cum))),
    ar("graft_ha", 4)(es => x(kernel("graft_ha_k", es).over(P.cum))),
    ar("graft_mcgd", 2)(es => x(kernel("graft_mcgd_k", es).over(P.cum))),
    ar("graft_ssf", 2)(es => x(kernel("graft_ssf_k", es).over(P.cum))),
    ar("graft_hwma", 4)(es => x(kernel("graft_hwma_k", es).over(P.cum))),
    ar("graft_kalman", 3)(es => x(kernel("graft_kalman_k", es).over(P.cum))),
    ar("graft_ebsw", 3)(es => x(kernel("graft_ebsw_k", es).over(P.cum))),
    ar("graft_hwc", 6)(es => x(kernel("graft_hwc_k", es).over(P.cum))),
    ar("graft_td_seq", 1)(es => x(kernel("graft_td_seq_k", es).over(P.cum))),
    ar("graft_rsx", 2)(es => x(kernel("graft_rsx_k", es).over(P.cum))),
    ar("graft_atr", 4)(es => x(kernel("graft_atr_k", es).over(P.cum))),
    ar("graft_natr", 4)(es => {
      // Ta.natr: 100 · sdiv(atr(n), close) — scalar arithmetic wrapping
      // the fold's window expression (extraction handles mixed trees)
      val atr = kernel("graft_atr_k", es).over(P.cum)
      x(org.apache.spark.sql.functions.lit(100.0) * P.sdiv(atr, c(es(2))))
    }),
    ar("graft_trix", 2)(es => x(kernel("graft_trix_k", es).over(P.cum))),
    ar("graft_tsi", 3)(es => x(kernel("graft_tsi_k", es).over(P.cum))),
    ar("graft_adx", 5)(es => x(kernel("graft_adx_k", es).over(P.cum))),
    ar("graft_kc", 5)(es => x(kernel("graft_kc_k", es).over(P.cum))),
    ar("graft_bbands", 3)(es => {
      // Ta.bbands — pure single-level W class, struct-valued
      import org.apache.spark.sql.functions.{lit, struct}
      val src = c(es(0)); val n = intLit(es(1), "graft_bbands")
      val k = dblLit(es(2), "graft_bbands")
      val mid = P.rmean(src, n)
      val dev = P.rstd(src, n) * k
      x(struct(
        mid.as("bbm"),
        (mid - dev).as("bbl"),
        (mid + dev).as("bbu"),
        (lit(100.0) * P.sdiv(lit(2.0) * dev, mid)).as("bbb"),
        P.sdiv(src - (mid - dev), lit(2.0) * dev).as("bbp")
      ))
    }),
    // round 16 wave 3: one graft_stoch_k ring fold instead of the
    // k·d-unrolled shifted-frame tree (stochStruct retained below as the
    // executable spec; RollFoldSpec asserts bit-identity)
    ar("graft_stoch", 6)(es => x(kernel("graft_stoch_k", es).over(P.cum))),
    // ---- phase-4 W/ELEM wrappers (round 9): every remaining kind whose
    // staged spelling is a SINGLE window level over base columns — no
    // window-in-window, so a plain prim composition suffices. Each
    // mirrors the Ta accessor expression-for-expression.
    ar("graft_willr", 4)(es => {
      val (h, l, cl) = (c(es(0)), c(es(1)), c(es(2))); val n = intLit(es(3), "graft_willr")
      val ll = P.rmin(l, n); val hh = P.rmax(h, n)
      x(org.apache.spark.sql.functions.lit(100.0) * P.sdiv(cl - hh, hh - ll))
    }),
    ar("graft_mom", 2)(es => x(P.diff(c(es(0)), intLit(es(1), "graft_mom")))),
    ar("graft_slope", 2)(es => {
      val n = intLit(es(1), "graft_slope")
      x(P.diff(c(es(0)), n) / n.toDouble)
    }),
    ar("graft_midpoint", 2)(es => {
      val s = c(es(0)); val n = intLit(es(1), "graft_midpoint")
      x((P.rmax(s, n) + P.rmin(s, n)) / 2.0)
    }),
    ar("graft_midprice", 3)(es => {
      val n = intLit(es(2), "graft_midprice")
      x((P.rmax(c(es(0)), n) + P.rmin(c(es(1)), n)) / 2.0)
    }),
    ar("graft_bop", 4)(es =>
      x(P.sdiv(c(es(3)) - c(es(0)), c(es(1)) - c(es(2))))),
    ar("graft_ao", 4)(es => {
      val hl2 = (c(es(0)) + c(es(1))) / 2.0
      x(P.rmean(hl2, intLit(es(2), "graft_ao")) - P.rmean(hl2, intLit(es(3), "graft_ao")))
    }),
    ar("graft_cci", 5)(es => {
      val tp = (c(es(0)) + c(es(1)) + c(es(2))) / 3.0
      val n = intLit(es(3), "graft_cci"); val scalar = dblLit(es(4), "graft_cci")
      x(P.sdiv(tp - P.rmean(tp, n), org.apache.spark.sql.functions.lit(scalar) * P.rmad(tp, n)))
    }),
    ar("graft_vwma", 3)(es => {
      val (cl, v) = (c(es(0)), c(es(1))); val n = intLit(es(2), "graft_vwma")
      x(P.sdiv(P.rmean(cl * v, n), P.rmean(v, n)))
    }),
    ar("graft_donchian", 3)(es => {
      import org.apache.spark.sql.functions.struct
      val n = intLit(es(2), "graft_donchian")
      val dcl = P.rmin(c(es(1)), n); val dcu = P.rmax(c(es(0)), n)
      x(struct(dcl.as("dcl"), ((dcl + dcu) / 2.0).as("dcm"), dcu.as("dcu")))
    }),
    ar("graft_accbands", 4)(es => {
      import org.apache.spark.sql.functions.{lit, struct}
      val (h, l, cl) = (c(es(0)), c(es(1)), c(es(2))); val n = intLit(es(3), "graft_accbands")
      val ratio = lit(4.0) * P.sdiv(h - l, h + l)
      x(struct(
        P.rmean(l * (lit(1.0) - ratio), n).as("accbl"),
        P.rmean(cl, n).as("accbm"),
        P.rmean(h * (lit(1.0) + ratio), n).as("accbu")
      ))
    }),
    ar("graft_eri", 4)(es => {
      // elder ray: scalar arithmetic around the seeded-ema FOLD
      import org.apache.spark.sql.functions.struct
      val eline = kernel("graft_ema_k", Seq(es(2), es(3))).over(P.cum)
      x(struct((c(es(0)) - eline).as("bull"), (c(es(1)) - eline).as("bear")))
    }),
    ar("graft_apo", 3)(es => {
      val s = c(es(0))
      x(P.rmean(s, intLit(es(1), "graft_apo")) - P.rmean(s, intLit(es(2), "graft_apo")))
    }),
    ar("graft_ppo", 3)(es => {
      val s = c(es(0))
      val f = P.rmean(s, intLit(es(1), "graft_ppo")); val sl = P.rmean(s, intLit(es(2), "graft_ppo"))
      x(org.apache.spark.sql.functions.lit(100.0) * P.sdiv(f - sl, sl))
    }),
    ar("graft_bias", 2)(es => {
      val s = c(es(0))
      x(org.apache.spark.sql.functions.lit(100.0) * (P.sdiv(s, P.rmean(s, intLit(es(1), "graft_bias"))) - 1.0))
    }),
    ar("graft_aroon", 3)(es => {
      import org.apache.spark.sql.functions._
      val n = intLit(es(2), "graft_aroon")
      val hs = collect_list(c(es(0))).over(P.f(n + 1))
      val ls = collect_list(c(es(1))).over(P.f(n + 1))
      def pick(xs: Column, best: Column => Column): Column =
        when(
          size(xs) === n + 1,
          lit(100.0) * (lit(n.toDouble) -
            (array_position(reverse(xs), best(xs)) - 1.0)) / n.toDouble
        )
      x(struct(
        pick(hs, array_max).as("aroon_u"),
        pick(ls, array_min).as("aroon_d")
      ))
    }),
    // ---- phase-5 (round 10): weighted/adaptive MA families, volume ops,
    // returns/drawdown, remaining rolling stats. Weighted MAs mirror
    // Ta.wdotMa (gated, normalized, lag-ordered); the two-level kinds
    // (hma, trima) FLATTEN the outer level into shifted copies of the
    // inner expression (the stochStruct technique), so no window nests
    // inside a window and the whole kind stays one projection.
    ar("graft_alma", 4)(es => {
      val n = intLit(es(1), "graft_alma")
      val sigma = dblLit(es(2), "graft_alma"); val offset = dblLit(es(3), "graft_alma")
      val m = offset * (n - 1); val sg = n / sigma
      x(wdotMaE(c(es(0)), (0 until n).map(i => math.exp(-(i - m) * (i - m) / (2 * sg * sg)))))
    }),
    ar("graft_fwma", 2)(es => {
      val n = intLit(es(1), "graft_fwma")
      val fib = Iterator.iterate((1.0, 1.0)) { case (a, b) => (b, a + b) }.map(_._1).take(n).toSeq
      x(wdotMaE(c(es(0)), fib))
    }),
    ar("graft_pwma", 2)(es => {
      val n = intLit(es(1), "graft_pwma")
      val row = (0 until n).scanLeft(1.0) { case (acc, k) => acc * (n - 1 - k) / (k + 1) }.take(n)
      x(wdotMaE(c(es(0)), row))
    }),
    ar("graft_swma", 2)(es => {
      val n = intLit(es(1), "graft_swma")
      val half = (n + 1) / 2
      val tri = (1 to half) ++ (if (n % 2 == 0) (half to 1 by -1) else ((half - 1) to 1 by -1))
      x(wdotMaE(c(es(0)), tri.map(_.toDouble)))
    }),
    ar("graft_sinwma", 2)(es => {
      val n = intLit(es(1), "graft_sinwma")
      x(wdotMaE(c(es(0)), (0 until n).map(i => math.sin((i + 1) * math.Pi / (n + 1)))))
    }),
    ar("graft_hma", 2)(es => {
      // hma(n) = wma(2·wma(n/2) − wma(n), ⌊√n⌋): outer wma's lag(h, i)
      // flattens to the inner tree on i-shifted lags of the source —
      // FP-identical to the staged Ta.hma (same tree, shifted rows)
      import org.apache.spark.sql.functions.lit
      val src = c(es(0)); val n = intLit(es(1), "graft_hma")
      val half = n / 2; val sq = math.sqrt(n.toDouble).toInt
      def wmaNorm(len: Int): Seq[Double] = {
        val ws = (1 to len).map(_.toDouble); val d0 = ws.sum; ws.reverse.map(_ / d0)
      }
      // round 16: each i-shifted inner wma is one ungated offset ring
      // fold (graft_wdot_k) instead of an (off+len)-lag unroll — 2·sq
      // folds total, same per-term weights/order, bit-identical
      def wdotShift(wts: Seq[Double], off: Int): Column =
        TaSqlSurface2.wdotK(src, wts, gated = false, offset = off)
      x(wmaNorm(sq).zipWithIndex.map { case (wi, i) =>
        (lit(2.0) * wdotShift(wmaNorm(half), i) - wdotShift(wmaNorm(n), i)) * lit(wi)
      }.reduce(_ + _))
    }),
    // round 16 wave 3: trima's `second` shifted gated frame-means are
    // now one graft_trima_k ring fold (trimaUnrolled retained below)
    ar("graft_trima", 2)(es => x(kernel("graft_trima_k", es).over(P.cum))),
    // kama/vidya: LinRecur folds over a STAGED per-row coefficient (the
    // hilo staged-input shape — the coefficient is itself windowed, so
    // it can't nest inside the fold's window; SQL users stage it in a
    // subquery via graft_kama_sc / graft_vidya_al, then apply the fold)
    ar("graft_kama_k", 2)(es => adaptiveLinRecur(dblE(es(0)), dblE(es(1)))),
    ar("graft_vidya_k", 2)(es => adaptiveLinRecur(dblE(es(0)), dblE(es(1)))),
    ar("graft_kama", 2)(es => x(kernel("graft_kama_k", es).over(P.cum))),
    ar("graft_vidya", 2)(es => x(kernel("graft_vidya_k", es).over(P.cum))),
    ar("graft_kama_sc", 4)(es => {
      // Ta.kama's staged coefficient: sc = (ER·(2/(f+1)−2/(s+1)) + 2/(s+1))²,
      // ER = |Δₙx| / Σₙ|Δx| — the rolling sum's lag-bearing argument
      // unrolls to shifted diffs (oldest-first, Sum's fold order)
      import org.apache.spark.sql.functions.{abs, lag, pow}
      val x0 = c(es(0)); val n = intLit(es(1), "graft_kama_sc")
      val fast = intLit(es(2), "graft_kama_sc"); val slow = intLit(es(3), "graft_kama_sc")
      val fsc = 2.0 / (fast + 1); val ssc = 2.0 / (slow + 1)
      // round 16: the abs-diff rolling sum is the shared graft_adiffsum_k
      // ring fold (same oldest-first fold order as the unroll)
      val sumd = org.apache.spark.sql.functions
        .call_function("graft_adiffsum_k", x0, GraftBridge.column(es(1)))
        .over(P.cum)
      val er = P.sdiv(abs(x0 - lag(x0, n).over(P.w)), sumd)
      x(pow(er * (fsc - ssc) + ssc, 2.0))
    }),
    // round 16 wave 3: vidya's staged alpha is one graft_vidya_al_k ring
    // fold (vidyaAlUnrolled retained below)
    ar("graft_vidya_al", 2)(es => x(kernel("graft_vidya_al_k", es).over(P.cum))),
    // volume family
    ar("graft_obv_k", 2)(es => SeededComposites.ObvFold(dblE(es(0)), dblE(es(1)))),
    ar("graft_pvt_k", 2)(es => SeededComposites.PvtFold(dblE(es(0)), dblE(es(1)))),
    ar("graft_efi_k", 3)(es =>
      SeededComposites.EfiFold(dblE(es(0)), dblE(es(1)), intLit(es(2), "graft_efi_k"))),
    ar("graft_obv", 2)(es => x(kernel("graft_obv_k", es).over(P.cum))),
    ar("graft_pvt", 2)(es => x(kernel("graft_pvt_k", es).over(P.cum))),
    ar("graft_efi", 3)(es => x(kernel("graft_efi_k", es).over(P.cum))),
    ar("graft_ad", 4)(es => {
      val (h, l, cl, v) = (c(es(0)), c(es(1)), c(es(2)), c(es(3)))
      x(P.cumsum(clvE(h, l, cl) * v))
    }),
    ar("graft_cmf", 5)(es => {
      val (h, l, cl, v) = (c(es(0)), c(es(1)), c(es(2)), c(es(3)))
      val n = intLit(es(4), "graft_cmf")
      x(P.sdiv(P.rsum(clvE(h, l, cl) * v, n), P.rsum(v, n)))
    }),
    // round 16 wave 3: eom/mfi's lag-unrolled flow sums are one ring
    // fold each (eomUnrolled/mfiUnrolled retained below)
    ar("graft_eom", 5)(es => x(kernel("graft_eom_k", es).over(P.cum))),
    ar("graft_mfi", 5)(es => x(kernel("graft_mfi_k", es).over(P.cum))),
    // returns / drawdown
    ar("graft_log_return", 2)(es => {
      val x0 = c(es(0)); val n = intLit(es(1), "graft_log_return")
      x(P.sln(P.sdiv(x0, P.shift(x0, n))))
    }),
    ar("graft_percent_return", 2)(es => {
      val x0 = c(es(0)); val n = intLit(es(1), "graft_percent_return")
      x(P.sdiv(x0, P.shift(x0, n)) - 1.0)
    }),
    ar("graft_log_return_cum", 1)(es => {
      import org.apache.spark.sql.functions.first
      val x0 = c(es(0))
      x(P.sln(P.sdiv(x0, first(x0, ignoreNulls = true).over(P.cum))))
    }),
    ar("graft_percent_return_cum", 1)(es => {
      import org.apache.spark.sql.functions.first
      val x0 = c(es(0))
      x(P.sdiv(x0, first(x0, ignoreNulls = true).over(P.cum)) - 1.0)
    }),
    ar("graft_drawdown", 1)(es => {
      import org.apache.spark.sql.functions.struct
      val cl = c(es(0))
      val mx = P.cummax(cl)
      x(struct(
        (mx - cl).as("dd"),
        (org.apache.spark.sql.functions.lit(1.0) - P.sdiv(cl, mx)).as("dd_pct"),
        (P.sln(mx) - P.sln(cl)).as("dd_log")
      ))
    }),
    // remaining rolling stats
    ar("graft_mad", 2)(es => x(P.rmad(c(es(0)), intLit(es(1), "graft_mad")))),
    ar("graft_skew", 2)(es => x(P.rskew(c(es(0)), intLit(es(1), "graft_skew")))),
    ar("graft_kurtosis", 2)(es => x(P.rkurt(c(es(0)), intLit(es(1), "graft_kurtosis")))),
    ar("graft_quantile", 3)(es =>
      x(P.rquantile(c(es(0)), dblLit(es(2), "graft_quantile"), intLit(es(1), "graft_quantile")))),
    // round 16 wave 3: entropy's n shifted-frame share sums are one ring
    // fold (entropyUnrolled retained below)
    ar("graft_entropy", 3)(es => x(kernel("graft_entropy_k", es).over(P.cum)))
  ) ++ TaSqlSurface2.builders // phase 6 (round 10) — see TaSqlSurface2

  /** kama/vidya recursion: y = (1−α)·y' + α·x, seeded at the first row
    * with a defined coefficient — Ta.kama/Ta.vidya's wf.linrec call
    * expression-for-expression. */
  private def adaptiveLinRecur(x0: Expression, al: Expression): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{If, IsNotNull, Multiply, Subtract}
    LinRecur(
      Subtract(Literal(1.0), al),
      Multiply(al, x0),
      If(IsNotNull(al), x0, Literal.create(null, DoubleType))
    )
  }

  /** Ta.wdotMa mirror: normalized window-ordered weights → gated dot
    * (reverse to lag order, divide by Σw). Round 16: the lag-unrolled
    * P.gated(P.wdot(…)) spelling is now ONE graft_wdot_k ring fold —
    * same weights, same i-ascending fold order, same count gate
    * (bit-identical; RollFoldSpec + the x_sql_surface oracles gate it). */
  private def wdotMaE(x0: Column, weights: Seq[Double]): Column = {
    val s = weights.sum
    TaSqlSurface2.wdotK(x0, weights.reverse.map(_ / s), gated = true, offset = 0)
  }

  /** Ta.clv: ((c−l)−(h−c))/(h−l), 0 when h = l. */
  private def clvE(h: Column, l: Column, cl: Column): Column = {
    import org.apache.spark.sql.functions.when
    when(h =!= l, ((cl - l) - (h - cl)) / (h - l)).otherwise(0.0)
  }

  // ---- retained executable specifications of the wave-3 unrolled
  // spellings (round 16): no production builder uses these any more —
  // RollFoldSpec asserts the ring folds above are bit-identical to the
  // trees they build. ----------------------------------------------------

  /** stoch(n, k, d) as ONE projection: the smoothing stages can't nest a
    * window inside a window, so the k- and d-means unroll into SHIFTED
    * copies of fast %K — lag(close, j) against min/max over the j-shifted
    * n-frame (same partition/order, so one Exchange; k·d is tiny and
    * literal). Gating matches the staged rmean chain: a null anywhere in
    * the k (resp. k+d−1) shifted values nulls the mean, exactly the
    * count≥n gate's effect. Struct(stoch_k, stoch_d). */
  private[graft] def stochStruct(h: Column, l: Column, cl: Column, n: Int, k: Int, dN: Int): Column = {
    import org.apache.spark.sql.functions._
    def frj(j: Int) = P.w.rowsBetween(-(n - 1) - j, -j)
    def fastk(j: Int): Column = {
      val ll = when(count(l).over(frj(j)) >= n, min(l).over(frj(j)))
      val hh = when(count(h).over(frj(j)) >= n, max(h).over(frj(j)))
      val cj = if (j == 0) cl else lag(cl, j).over(P.w)
      lit(100.0) * P.sdiv(cj - ll, hh - ll)
    }
    // mean of fast %K over shifts i..i+k-1, summed oldest-first
    def kAt(i: Int): Column =
      ((i + k - 1) to i by -1).map(fastk).reduce(_ + _) / k.toDouble
    val sk = kAt(0)
    val sd = ((dN - 1) to 0 by -1).map(kAt).reduce(_ + _) / dN.toDouble
    struct(sk.as("stoch_k"), sd.as("stoch_d"))
  }

  /** trima(n) = sma(sma(x, ⌈(n+1)/2⌉), ⌊n/2⌋+1): outer mean flattened
    * to `second` shifted copies of the inner gated frame mean, summed
    * oldest-first (Average's fold order), gated on all copies defined. */
  private[graft] def trimaUnrolled(src: Column, n: Int): Column = {
    import org.apache.spark.sql.functions.{avg, count, when}
    val half = (n + 1) / 2 + (if ((n + 1) % 2 == 0) 0 else 1)
    val second = n / 2 + 1
    def meanShift(j: Int): Column = {
      val frj = P.w.rowsBetween(-(half - 1) - j, -j)
      when(count(src).over(frj) >= half, avg(src).over(frj))
    }
    ((second - 1) to 0 by -1).map(meanShift).reduce(_ + _) / second.toDouble
  }

  /** Ta.vidya's staged alpha: |CMOₙ|/100 · 2/(n+1), gate rn ≥ n. */
  private[graft] def vidyaAlUnrolled(x0: Column, n: Int): Column = {
    import org.apache.spark.sql.functions.{abs, lag, when}
    def d1(j: Int) = lag(x0, j).over(P.w) - lag(x0, j + 1).over(P.w)
    def upT(j: Int) = when(d1(j) > 0, d1(j)).otherwise(0.0)
    def dnT(j: Int) = when(d1(j) < 0, -d1(j)).otherwise(0.0)
    val su = when(P.rn >= n, ((n - 1) to 0 by -1).map(upT).reduce(_ + _))
    val sd = when(P.rn >= n, ((n - 1) to 0 by -1).map(dnT).reduce(_ + _))
    P.sdiv(abs(su - sd), su + sd) * (2.0 / (n + 1))
  }

  /** Ta.eom: rmean(divisor·Δhl2·sdiv(h−l, v), n), lag-unrolled. */
  private[graft] def eomUnrolled(h: Column, l: Column, v: Column, n: Int, divisor: Double): Column = {
    import org.apache.spark.sql.functions.{lag, lit}
    val hl2 = (h + l) / 2.0
    def rawAt(j: Int): Column =
      lit(divisor) * (lag(hl2, j).over(P.w) - lag(hl2, j + 1).over(P.w)) *
        P.sdiv(lag(h - l, j).over(P.w), lag(v, j).over(P.w))
    ((n - 1) to 0 by -1).map(rawAt).reduce(_ + _) / n.toDouble
  }

  /** Ta.mfi: 100·sdiv(Σpos, Σpos+Σneg) over typical-price flows,
    * lag-unrolled, gate rn ≥ n. */
  private[graft] def mfiUnrolled(h: Column, l: Column, cl: Column, v: Column, n: Int): Column = {
    import org.apache.spark.sql.functions.{lag, lit, when}
    val tp = (h + l + cl) / 3.0
    def dtp(j: Int) = lag(tp, j).over(P.w) - lag(tp, j + 1).over(P.w)
    def posT(j: Int) = when(dtp(j) > 0, lag(tp, j).over(P.w) * lag(v, j).over(P.w)).otherwise(0.0)
    def negT(j: Int) = when(dtp(j) < 0, lag(tp, j).over(P.w) * lag(v, j).over(P.w)).otherwise(0.0)
    val sp = when(P.rn >= n, ((n - 1) to 0 by -1).map(posT).reduce(_ + _))
    val sn = when(P.rn >= n, ((n - 1) to 0 by -1).map(negT).reduce(_ + _))
    lit(100.0) * P.sdiv(sp, sp + sn)
  }

  /** Ta.entropy: −Σ p·log_b(p) over the window share p = x/Σₙx, the
    * share's rolling sum shifted per unroll position. */
  private[graft] def entropyUnrolled(x0: Column, n: Int, base: Double): Column = {
    import org.apache.spark.sql.functions.{count, lag, log, sum, when}
    val lnB = math.log(base)
    def etAt(j: Int): Column = {
      val frj = P.w.rowsBetween(-(n - 1) - j, -j)
      val rs = when(count(x0).over(frj) >= n, sum(x0).over(frj))
      val p = P.sdiv(lag(x0, j).over(P.w), rs)
      when(p > 0, -p * log(p) / lnB)
    }
    ((n - 1) to 0 by -1).map(etAt).reduce(_ + _)
  }

  private def dblE(e: Expression): Expression =
    if (e.dataType == DoubleType) e else org.apache.spark.sql.catalyst.expressions.Cast(e, DoubleType)

  private def kernel(name: String, es: Seq[Expression]): Column =
    org.apache.spark.sql.functions.call_function(name, es.map(GraftBridge.column): _*)
}
