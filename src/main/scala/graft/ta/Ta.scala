package graft.ta

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import prim._

/** The user-facing accessor (reference: `df.ta.<indicator>(...)`,
  * pandas_ta/core.py AnalysisIndicators). `import graft.ta._` gives
  * `df.ta.rsi()` etc. Methods append canonical lowercase columns
  * (`sma_10`, `macd_12_26_9`, ...) and return the DataFrame, so calls
  * chain: `df.ta.sma(10).ta.rsi(14)`.
  *
  * Inputs follow the canonical schema: series_id, ts, open, high, low,
  * close, volume (close-only indicators need only series_id/ts/close).
  * Every registry kind is a delegate: the method builds the kind's
  * IndicatorSpec from its arguments and runs the StrategyCompiler
  * lowering — the one definition `registry` and `registry.strategy` run
  * too. One shared window spec, so an N-indicator chain plans as one
  * Exchange + one Sort. The signal utilities (tsignals, the cross/above/
  * below flags, long/short run, xsignals) are not registry kinds and keep
  * their bodies here.
  */
final class Ta(private val df: DataFrame) {

  private def c(name: String) = col(name)

  /** Run registry kind `kind` with these parameters through its lowering. */
  private def run(kind: String, src: String = "close")(params: (String, Any)*): DataFrame =
    StrategyCompiler.run(df, Seq(IndicatorSpec(kind, params.toMap)), src)

  // ======================================================== overlap =====
  // sma/wma/stdev go through Halo.auto: on a low-cardinality/long-series
  // frame (the 100 TB single-instrument shape) the ≤n-row window lowers
  // to halo chunks instead of a 1-task global window; on every other
  // input (all test fixtures) the gates leave the plain path untouched.
  def sma(n: Int = 10, src: String = "close"): DataFrame =
    graft.plans.Halo.auto(df, n)(new Ta(_).run("sma", src)("length" -> n))

  def ema(n: Int = 10, src: String = "close"): DataFrame =
    graft.plans.Halo.autoEmaSeeded(df, src, s"ema_$n", n)(run("ema", src)("length" -> n))

  def wma(n: Int = 10, src: String = "close"): DataFrame =
    graft.plans.Halo.auto(df, n)(new Ta(_).run("wma", src)("length" -> n))

  def rma(n: Int = 10, src: String = "close"): DataFrame = run("rma", src)("length" -> n)

  def hl2: DataFrame = run("hl2")()
  def hlc3: DataFrame = run("hlc3")()
  def ohlc4: DataFrame = run("ohlc4")()
  def wcp: DataFrame = run("wcp")()

  def midpoint(n: Int = 10, src: String = "close"): DataFrame = run("midpoint", src)("length" -> n)

  def midprice(n: Int = 10): DataFrame = run("midprice")("length" -> n)

  /** Global-anchor VWAP over the series: Σ(hlc3·v)/Σv cumulative. */
  def vwap: DataFrame = run("vwap")()

  def vwma(n: Int = 10): DataFrame = run("vwma")("length" -> n)

  def linreg(n: Int = 10, src: String = "close"): DataFrame = run("linreg", src)("length" -> n)

  // ===================================================== volatility =====
  /** max(h−l, |h−pc|, |l−pc|); null on the first row (no prev close). */
  def trueRange: DataFrame = run("true_range")()

  def atr(n: Int = 10): DataFrame = run("atr")("length" -> n)

  def natr(n: Int = 10): DataFrame = run("natr")("length" -> n)

  def bbands(n: Int = 5, k: Double = 2.0, src: String = "close"): DataFrame =
    run("bbands", src)("length" -> n, "std" -> k)

  def donchian(n: Int = 10): DataFrame = run("donchian")("length" -> n)

  def accbands(n: Int = 10): DataFrame = run("accbands")("length" -> n)

  /** Ulcer index: √(sma(D², n)), D = 100·(c − HH(c,n))/HH(c,n). */
  def ui(n: Int = 10): DataFrame = run("ui")("length" -> n)

  def pdist(drift: Int = 1): DataFrame = run("pdist")("drift" -> drift)

  // ======================================================== volume =====
  /** OBV: cumsum(sign(Δc)·v), first row counts +v. */
  def obv: DataFrame = run("obv")()

  /** CLV·v accumulation; CLV = ((c−l)−(h−c))/(h−l), 0 when h=l. */
  def ad: DataFrame = run("ad")()

  def cmf(n: Int = 10): DataFrame = run("cmf")("length" -> n)

  /** Elder force index: ema(Δc·v, n) (sma-seeded ema per declared spec). */
  def efi(n: Int = 10): DataFrame = run("efi")("length" -> n)

  def eom(n: Int = 14, divisor: Double = 1e8): DataFrame = run("eom")("length" -> n, "divisor" -> divisor)

  /** MFI: null tp-diff (row 0) contributes 0 to both flows (FIXTURES §3). */
  def mfi(n: Int = 10): DataFrame = run("mfi")("length" -> n)

  def pvol: DataFrame = run("pvol")()

  /** Price-volume rank 1..4 by signs of (Δc, Δv); null until both diffs exist. */
  def pvr: DataFrame = run("pvr")()

  /** PVT: cumsum(1-period fractional return · v); row 0 contributes 0. */
  def pvt: DataFrame = run("pvt")()

  // ====================================================== momentum =====
  def stoch(n: Int = 10, smoothK: Int = 3, dN: Int = 3): DataFrame =
    run("stoch")("k" -> n, "smooth_k" -> smoothK, "d" -> dN)

  def willr(n: Int = 10): DataFrame = run("willr")("length" -> n)

  def cci(n: Int = 10, scalar: Double = 0.015): DataFrame = run("cci")("length" -> n, "scalar" -> scalar)

  def ao(fast: Int = 5, slow: Int = 20): DataFrame = run("ao")("fast" -> fast, "slow" -> slow)

  def bop: DataFrame = run("bop")()

  /** Ultimate oscillator; null-propagating min/max vs prev close. */
  def uo(f: Int = 7, m: Int = 14, s: Int = 28): DataFrame = run("uo")("fast" -> f, "medium" -> m, "slow" -> s)

  /** Elder-ray: bull = high − ema(n), bear = low − ema(n). */
  def eri(n: Int = 10): DataFrame = run("eri")("length" -> n)

  def mom(n: Int = 10, src: String = "close"): DataFrame = run("mom", src)("length" -> n)

  def roc(n: Int = 10, src: String = "close"): DataFrame = run("roc", src)("length" -> n)

  /** Chande momentum: 100·(ΣU−ΣD)/(ΣU+ΣD), rolling-sum mode (declared). */
  def cmo(n: Int = 10, src: String = "close"): DataFrame = run("cmo", src)("length" -> n)

  /** Absolute price oscillator, declared mamode=sma. */
  def apo(fast: Int = 12, slow: Int = 26, src: String = "close"): DataFrame =
    run("apo", src)("fast" -> fast, "slow" -> slow)

  /** Percentage price oscillator, pandas-ta default mamode=sma. */
  def ppo(fast: Int = 12, slow: Int = 26, src: String = "close"): DataFrame =
    run("ppo", src)("fast" -> fast, "slow" -> slow)

  def bias(n: Int = 26, src: String = "close"): DataFrame = run("bias", src)("length" -> n)

  /** Kaufman efficiency ratio: |Δₙc| / Σ|Δc| over n. */
  def er(n: Int = 10, src: String = "close"): DataFrame = run("er", src)("length" -> n)

  /** Psychological line: 100·count(Δc>0 over n)/n. pandas parity: the
    * first row's NaN diff counts as 0 (False), so first valid row is n−1
    * (golden fv=9 for n=10, FIXTURES §3). */
  def psl(n: Int = 12, src: String = "close"): DataFrame = run("psl", src)("length" -> n)

  /** Center of gravity: −Σ(i+1)·x_{t−i} / Σx over n (i=0 newest). */
  def cg(n: Int = 10, src: String = "close"): DataFrame = run("cg", src)("length" -> n)

  /** Chande forecast oscillator: 100·(c − linreg_tsf(c,n))/c. */
  def cfo(n: Int = 10, src: String = "close"): DataFrame = run("cfo", src)("length" -> n)

  /** Correlation trend indicator: rolling Pearson r of src vs 0..n−1. */
  def cti(n: Int = 12, src: String = "close"): DataFrame = run("cti", src)("length" -> n)

  /** Coppock curve: wma(roc(fast) + roc(slow), n). */
  def coppock(n: Int = 10, fast: Int = 11, slow: Int = 14, src: String = "close"): DataFrame =
    run("coppock", src)("length" -> n, "fast" -> fast, "slow" -> slow)

  /** Know-sure-thing: Σᵢ i·sma(roc(rᵢ), sᵢ), signal = sma(kst, sig). */
  def kst(
      r: Seq[Int] = Seq(10, 15, 20, 30),
      s: Seq[Int] = Seq(10, 10, 10, 15),
      sig: Int = 9,
      src: String = "close"
  ): DataFrame = run("kst", src)("roc" -> r, "sma" -> s, "signal" -> sig)

  /** Trix: 100·pct_change of triple sma-seeded ema. */
  /** TRIX = 100·pctChange(ema³). Round-9: one cascaded fold
    * (SeededComposites.TrixFold) — three seeded-ema levels plus the
    * lag-1 slot in a single aggregation buffer; the staged chain it
    * bit-matches is the WilderFoldSpec reference. */
  def trix(n: Int = 10, src: String = "close"): DataFrame = run("trix", src)("length" -> n)

  /** True strength index: 100·ema(ema(Δc,slow),fast)/ema(ema(|Δc|,slow),fast)
    * (sma-seeded ema chains per the declared spec). */
  def tsi(fast: Int = 13, slow: Int = 25, src: String = "close"): DataFrame =
    run("tsi", src)("fast" -> fast, "slow" -> slow)

  /** StochRSI: stoch range position of rsi(n), smoothed k and d. */
  def stochrsi(n: Int = 10, k: Int = 3, d: Int = 3, src: String = "close"): DataFrame =
    run("stochrsi", src)("length" -> n, "k" -> k, "d" -> d)

  def rsi(n: Int = 10, src: String = "close"): DataFrame = run("rsi", src)("length" -> n)

  // ========================================================= trend =====
  /** Aroon: 100·(n − bars-since-extreme)/n over n+1 rows; ties → most
    * recent occurrence (reference reverses then argmax). */
  def aroon(n: Int = 10): DataFrame = run("aroon")("length" -> n)

  /** Choppiness: 100·log10(Σtr(n)/(HH−LL))/log10(n) = 100·ln(r)/ln(n). */
  def chop(n: Int = 10): DataFrame = run("chop")("length" -> n)

  def vortex(n: Int = 10): DataFrame = run("vortex")("length" -> n)

  def qstick(n: Int = 10): DataFrame = run("qstick")("length" -> n)

  /** Vertical horizontal filter: |HH(c,n)−LL(c,n)| / Σ|Δc| over n. */
  def vhf(n: Int = 10, src: String = "close"): DataFrame = run("vhf", src)("length" -> n)

  def increasing(n: Int = 1, src: String = "close"): DataFrame = run("increasing", src)("length" -> n)

  def decreasing(n: Int = 1, src: String = "close"): DataFrame = run("decreasing", src)("length" -> n)

  /** Trend signals (reference trend/tsignals.py): entries/exits/active
    * from an int trend column. Row 0 with trend=1 is an entry. */
  def tsignals(trendCol: String): DataFrame = {
    val t = c(trendCol); val pt = coalesce(shift(t, 1), lit(0.0))
    df.withColumns(
      scala.collection.immutable.ListMap(
        "ts_trends" -> t,
        "ts_entries" -> when(t === 1.0 && pt === 0.0, 1.0).otherwise(0.0),
        "ts_exits" -> when(t === 0.0 && pt === 1.0, 1.0).otherwise(0.0)
      )
    )
  }

  /** cross-above signal: a>b now, a≤b on the previous row. */
  def crossAbove(a: String, b: String, out: String): DataFrame = {
    val pa = shift(c(a), 1); val pb = shift(c(b), 1)
    df.withColumn(
      out,
      when(c(a) > c(b) && pa.isNotNull && pb.isNotNull && pa <= pb, 1.0).otherwise(0.0)
    )
  }

  def above(a: String, b: String, out: String): DataFrame =
    df.withColumn(out, when(c(a) >= c(b), 1.0).otherwise(0.0))

  // ======================================================= candles =====
  def cdlInside: DataFrame = run("cdl_inside")()

  /** Z-score of each OHLC component over n. */
  def cdlZ(n: Int = 10): DataFrame = run("cdl_z")("length" -> n)

  /** Candle utils (reference utils/_candles.py): color ±1, |body|, range. */
  def candleUtils: DataFrame = run("candle_utils")()

  /** Rolling geometric mean (reference utils/_math.py::geometric_mean):
    * exp(mean(ln x)) over n, null if any x ≤ 0 in the window. */
  def geometricMean(n: Int = 10, src: String = "close"): DataFrame = run("geometric_mean", src)("length" -> n)

  /** Native candle patterns (reference candles/cdl_pattern.py delegates
    * to TA-Lib; these are self-contained declared specs for the most-used
    * patterns — no TA-Lib dependency). All emit 1.0/0.0 (null while the
    * needed lags are undefined). Body = |c−o|, range = h−l. */
  def cdlPatterns: DataFrame = run("cdl_pattern")()

  /** Second wave of native candle patterns (reference candles/
    * cdl_pattern.py TA-Lib delegation — self-contained declared specs, no
    * TA-Lib): 2-candle reversals (piercing, dark cloud, hanging man,
    * inverted hammer), 3-candle stars and soldiers/crows, and the doji
    * family. Null while the needed lags are undefined; else 1.0/0.0. */
  def cdlPatterns2: DataFrame = run("cdl_pattern_2")()

  /** Third wave (reference candles/cdl_pattern.py TA-Lib delegation):
    * three-inside/outside reversals, belt holds, doji stars, kicking. */
  def cdlPatterns3: DataFrame = run("cdl_pattern_3")()

  /** Fourth wave (reference candles/cdl_pattern.py TA-Lib delegation):
    * the Equal-tolerance (0.05·sma(h−l,10)) two/three-candle patterns. */
  def cdlPatterns4: DataFrame = run("cdl_pattern_4")()

  def cdlPatterns5: DataFrame = run("cdl_pattern_5")()

  /** Sixth (final) wave of native candle patterns — completes the TA-Lib
    * cdl_pattern set at 61/61 functions: line strikes, south stars,
    * advance block, breakaway, concealing baby swallow, doji-star
    * variants, gap side-by-side white lines, harami cross, hikkake (+
    * modified hikkake), identical three crows, ladder bottom, long/short
    * line, mat hold, stalled pattern, takuri, gap three methods, kicking
    * by length. Same declared-spec conventions as waves 1–5. */
  def cdlPatterns6: DataFrame = run("cdl_pattern_6")()

  /** Doji: |c−o| < factor·sma(h−l, n) (reference candles/cdl_doji.py). */
  def cdlDoji(n: Int = 10, factor: Double = 0.1): DataFrame = run("cdl_doji")("length" -> n, "factor" -> factor)

  // ============================================== adaptive MAs (LinRecur) =====
  /** Kaufman adaptive MA (reference overlap/kama.py, declared spec): ER =
    * |Δₙc|/Σ|Δc| over n; sc = (ER·(2/(f+1) − 2/(s+1)) + 2/(s+1))²; seed =
    * close at first row with sc defined, then y = (1−sc)·y' + sc·x. */
  def kama(n: Int = 10, fast: Int = 2, slow: Int = 30, src: String = "close"): DataFrame =
    run("kama", src)("length" -> n, "fast" -> fast, "slow" -> slow)

  /** VIDYA (reference overlap/vidya.py, declared): α = |CMO_n|/100 ·
    * 2/(n+1); same seeded recursion as kama. CMO in rolling-sum mode. */
  def vidya(n: Int = 10, src: String = "close"): DataFrame = run("vidya", src)("length" -> n)

  // ============================================== closed-form recursions =====
  /** Linear decay y = max(x, y'−1/n, 0) (reference trend/decay.py).
    * Associative closed form: y_t = max(0, max_{i≤t}(x_i + i/n) − t/n) —
    * fully parallel (no sequential pass). Precision note: i/n grows with
    * series length; exact to 1e-6 for series < ~1e8 rows per key. */
  def decay(n: Int = 5, src: String = "close"): DataFrame = run("decay", src)("length" -> n)

  /** Negative Volume Index (reference volume/nvi.py, declared): base 1000,
    * compounds pct_change(close) only on volume-down rows. Log-space
    * closed form: 1000·exp(Σ log1p(ret·1{Δv<0})); null after ret ≤ −1. */
  def nvi(initial: Double = 1000.0): DataFrame = run("nvi")("initial" -> initial)

  /** Positive Volume Index: same on volume-up rows. */
  def pvi(initial: Double = 1000.0): DataFrame = run("pvi")("initial" -> initial)

  // ============================================== REC state machines =====
  // Each REC kind is ONE window fold (functions.RecFolds): its recursion
  // lives in the aggregation buffer, so it shares the W-class Exchange,
  // and streaming steps the same buffer. RecFoldSpec proves every fold
  // bit-identical to its reference kernel (test scope: RecReference).

  /** Parabolic SAR — struct fold RecFolds.PsarFold: the branching
    * trend/EP/AF recursion of the declared state machine. */
  def psar(af0: Double = 0.02, afStep: Double = 0.02, maxAf: Double = 0.2): DataFrame =
    run("psar")("af0" -> af0, "af" -> afStep, "max_af" -> maxAf)

  /** Supertrend — struct fold RecFolds.SupertrendFold. */
  def supertrend(n: Int = 7, mult: Double = 3.0): DataFrame =
    run("supertrend")("length" -> n, "multiplier" -> mult)

  /** Heikin-Ashi bars — struct fold RecFolds.HaFold. */
  def ha: DataFrame = run("ha")()

  /** McGinley Dynamic — fold RecFolds.McgdFold. */
  def mcgd(n: Int = 10, src: String = "close"): DataFrame = run("mcgd", src)("length" -> n)

  /** 1-D Kalman local-level filter — struct fold RecFolds.KalmanFold. */
  def kalman(q: Double = 0.01, r: Double = 1.0, src: String = "close"): DataFrame =
    run("kalman", src)("q" -> q, "r" -> r)

  /** Two-sided CUSUM changepoint detection — struct fold
    * RecFolds.CusumFold. Two modes: with explicit `mu`/`sd` (a trained
    * reference distribution) the standardization is a pair of literals —
    * causal, streamable (StreamingTa), Strategy-compilable; without them
    * the per-series μ/σ are a key-sized aggregate broadcast back onto the
    * big side (full-series retrospective mode — NOT causal, so
    * deliberately not streamable) and the same fold reads them. */
  def cusum(
      k: Double = 0.5,
      h: Double = 5.0,
      src: String = "close",
      mu: Option[Double] = None,
      sd: Option[Double] = None
  ): DataFrame = run("cusum", src)(Seq("k" -> k, "h" -> h) ++ mu.map("mu" -> _) ++ sd.map("sd" -> _): _*)

  /** Ehlers 2-pole super smoother — fold RecFolds.SsfFold. */
  def ssf(n: Int = 10, src: String = "close"): DataFrame = run("ssf", src)("length" -> n)

  /** Holt-Winter MA — fold RecFolds.HwmaFold. */
  def hwma(na: Double = 0.2, nb: Double = 0.1, nc: Double = 0.1, src: String = "close"): DataFrame =
    run("hwma", src)("na" -> na, "nb" -> nb, "nc" -> nc)

  /** Fisher transform (reference momentum/fisher.py): rolling position in
    * the HH/LL range feeds the v/fisher recursion (RecFolds.FisherFold). */
  def fisher(n: Int = 9): DataFrame = run("fisher")("length" -> n)

  /** TD Sequential setup counts — struct fold RecFolds.TdSeqFold. */
  def tdSeq: DataFrame = run("td_seq")()

  /** QQE (reference momentum/qqe.py): RSI → ema smooth → double-Wilder
    * DAR bands → trailing state machine (RecFolds.QqeFold). */
  def qqe(n: Int = 14, smooth: Int = 5, factor: Double = 4.236): DataFrame =
    run("qqe")("length" -> n, "smooth" -> smooth, "factor" -> factor)

  /** Jurik RSX — fold RecFolds.RsxFold. */
  def rsx(n: Int = 14): DataFrame = run("rsx")("length" -> n)

  /** Ehlers Even Better SineWave — fold RecFolds.EbswFold. */
  def ebsw(n: Int = 40, bars: Int = 10): DataFrame = run("ebsw")("length" -> n, "bars" -> bars)

  /** Holt-Winter channel — struct fold RecFolds.HwcFold. */
  def hwc(na: Double = 0.2, nb: Double = 0.1, nc: Double = 0.1, nd: Double = 0.1, k: Double = 1.0): DataFrame =
    run("hwc")("na" -> na, "nb" -> nb, "nc" -> nc, "nd" -> nd, "k" -> k)

  /** Jurik MA — fold RecFolds.JmaFold (its 11/65-entry volatility rings
    * as flat buffer slots; rows-only oracle). */
  def jma(n: Int = 7, phase: Double = 0.0): DataFrame = run("jma")("length" -> n, "phase" -> phase)

  /** Gann HiLo activator (reference overlap/hilo.py): sma(high,hn) /
    * sma(low,ln) bands + trend state machine (RecFolds.HiloFold). */
  def hilo(hn: Int = 13, ln: Int = 21): DataFrame = run("hilo")("high_length" -> hn, "low_length" -> ln)

  // ============================================== more compositions =====
  /** T3 (reference overlap/t3.py): six chained sma-seeded emas, Tillson
    * coefficients on e3..e6 with a = 0.7. */
  def t3(n: Int = 10, a: Double = 0.7, src: String = "close"): DataFrame = run("t3", src)("length" -> n, "a" -> a)

  /** Zero-lag EMA (reference overlap/zlma.py): ema(2x − x.shift(⌊(n−1)/2⌋), n). */
  def zlma(n: Int = 10, src: String = "close"): DataFrame = run("zlma", src)("length" -> n)

  /** Directional Movement (reference momentum/dm.py): ±DM rma-smoothed. */
  def dm(n: Int = 14): DataFrame = run("dm")("length" -> n)

  /** ADX (reference trend/adx.py, declared): DI± = 100·rma(±DM,n)/atr(n);
    * DX = 100·|DI+−DI−|/(DI++DI−); ADX = rma(DX, lensig). */
  def adx(n: Int = 14, lensig: Int = 14): DataFrame = run("adx")("length" -> n, "lensig" -> lensig)

  /** Keltner channel (reference volatility/kc.py, declared sma-seeded ema
    * basis + ema of true range). */
  def kc(n: Int = 20, scalar: Double = 2.0): DataFrame = run("kc")("length" -> n, "scalar" -> scalar)

  /** Mass index (reference volatility/massi.py): Σ₍slow₎ ema(h−l,fast)/
    * ema(ema(h−l,fast),fast). */
  def massi(fast: Int = 9, slow: Int = 25): DataFrame = run("massi")("fast" -> fast, "slow" -> slow)

  /** Relative Volatility Index (reference volatility/rvi.py, declared rma
    * smoothing): stdev split by close-move sign → RSI-like on volatility. */
  def rvi(n: Int = 14): DataFrame = run("rvi")("length" -> n)

  /** Elder thermometer (reference volatility/thermo.py): max(|Δh|, |Δl|),
    * sma-seeded ema smoothing. */
  def thermo(n: Int = 20): DataFrame = run("thermo")("length" -> n)

  /** Aberration (reference volatility/aberration.py): zg = sma(hlc3, n);
    * bands ± atr(atrN). */
  def aberration(n: Int = 5, atrN: Int = 15): DataFrame = run("aberration")("length" -> n, "atr_length" -> atrN)

  /** Chande-Kroll stops (reference trend/cksp.py, declared): long =
    * rmax_q(rmax_p(high) − x·atr(p)); short symmetric. */
  def cksp(p: Int = 10, x: Double = 1.0, q: Int = 9): DataFrame = run("cksp")("p" -> p, "x" -> x, "q" -> q)

  /** Detrended price oscillator (reference trend/dpo.py, centered=True
    * default: close_t − sma_{t+⌊n/2⌋+1} — uses FUTURE data, non-streaming). */
  def dpo(n: Int = 20, centered: Boolean = true): DataFrame = run("dpo")("length" -> n, "centered" -> centered)

  /** Percentage volume oscillator (reference momentum/pvo.py): sma-seeded
    * emas over volume. */
  def pvo(fast: Int = 12, slow: Int = 26, sig: Int = 9): DataFrame =
    run("pvo")("fast" -> fast, "slow" -> slow, "signal" -> sig)

  /** BRAR (reference momentum/brar.py): AR = 100·Σ(h−o)/Σ(o−l);
    * BR = 100·Σmax(0,h−pc)/Σmax(0,pc−l), over n. */
  def brar(n: Int = 26): DataFrame = run("brar")("length" -> n)

  /** A/D oscillator (reference volume/adosc.py): ema(ad,fast) − ema(ad,slow). */
  def adosc(fast: Int = 3, slow: Int = 10): DataFrame = run("adosc")("fast" -> fast, "slow" -> slow)

  /** Pretty Good Oscillator (reference momentum/pgo.py):
    * (c − sma(n)) / ema(true_range, n). */
  def pgo(n: Int = 14): DataFrame = run("pgo")("length" -> n)

  /** TTM trend (reference trend/ttm_trend.py): close vs sma(hl2, n) → ±1. */
  def ttmTrend(n: Int = 6): DataFrame = run("ttm_trend")("length" -> n)

  /** long_run flags (reference trend/long_run.py): potential bottom
    * (fast↑ & slow↓) or both↑ over n rows. */
  def longRun(fastCol: String, slowCol: String, n: Int = 2, out: String = "long_run"): DataFrame = {
    val fInc = diff(c(fastCol), n) > 0
    val sInc = diff(c(slowCol), n) > 0
    val sDec = diff(c(slowCol), n) < 0
    df.withColumn(out, when((fInc && sDec) || (fInc && sInc), 1.0).otherwise(0.0))
  }

  /** short_run flags (reference trend/short_run.py). */
  def shortRun(fastCol: String, slowCol: String, n: Int = 2, out: String = "short_run"): DataFrame = {
    val fDec = diff(c(fastCol), n) < 0
    val sInc = diff(c(slowCol), n) > 0
    val sDec = diff(c(slowCol), n) < 0
    df.withColumn(out, when((fDec && sInc) || (fDec && sDec), 1.0).otherwise(0.0))
  }

  /** Archer MA trends (reference trend/amat.py): long/short run of
    * ema(fast) vs ema(slow). */
  def amat(fast: Int = 8, slow: Int = 21, n: Int = 2): DataFrame =
    run("amat")("fast" -> fast, "slow" -> slow, "lookback" -> n)

  /** Cross-driven trade signals (reference trend/xsignals.py): trend = 1
    * from a cross-above until the next cross-below, then tsignals. */
  def xsignals(a: String, b: String): DataFrame = {
    val d0 = new Ta(df).crossAbove(a, b, "__xup")
    val pa = shift(c(a), 1); val pb = shift(c(b), 1)
    val xdn = when(c(a) < c(b) && pa.isNotNull && pb.isNotNull && pa >= pb, 1.0).otherwise(0.0)
    val d1 = d0.withColumn("__xdn", xdn)
    val ev = when(col("__xup") === 1.0, 1.0).otherwise(when(col("__xdn") === 1.0, 0.0))
    val d2 = d1.withColumn("__trend", coalesce(last(ev, ignoreNulls = true).over(cum), lit(0.0)))
    new Ta(d2).tsignals("__trend").drop("__xup", "__xdn", "__trend")
  }

  /** KDJ (reference momentum/kdj.py): RSV = fastK(n); K/D = α=1/3
    * recursive smoothing (seeded at first RSV); J = 3K − 2D. */
  def kdj(n: Int = 9, signal: Int = 3): DataFrame = run("kdj")("length" -> n, "signal" -> signal)

  // ============================================== basic composites =====
  /** DEMA: 2·e1 − e2 over sma-seeded emas (reference overlap/dema.py). */
  /** DEMA: 2e1 − e2 — one cascaded fold (SeededComposites.DemaSeeded,
    * both ema levels in the aggregation buffer): the chained-ema cost
    * no longer grows with levels (SCALING.md `sqlfold`: dema fold ≈ ema
    * fold at 51M rows vs 1.6× for the chain). */
  def dema(n: Int = 10, src: String = "close"): DataFrame = run("dema", src)("length" -> n)

  /** TEMA: 3e1 − 3e2 + e3 (reference overlap/tema.py), same cascade one
    * level deeper. */
  def tema(n: Int = 10, src: String = "close"): DataFrame = run("tema", src)("length" -> n)

  /** HMA: wma(2·wma(n/2) − wma(n), ⌊√n⌋) (reference overlap/hma.py). */
  def hma(n: Int = 10, src: String = "close"): DataFrame = run("hma", src)("length" -> n)

  /** MACD on UNseeded adjust=False ewms (declared spec SURVEY §2.B).
    * Round-8: one struct-valued fold (SeededComposites.MacdSeeded) —
    * the three ewm accumulators update in a single window aggregate;
    * the staged two-level spelling it bit-matches is the reference in
    * SeededCompositeSpec. */
  def macd(fast: Int = 12, slow: Int = 26, sig: Int = 9, src: String = "close"): DataFrame =
    run("macd", src)("fast" -> fast, "slow" -> slow, "signal" -> sig)

  def logReturn(n: Int = 1, cumulative: Boolean = false, src: String = "close"): DataFrame =
    run("log_return", src)("length" -> n, "cumulative" -> cumulative)

  def percentReturn(n: Int = 1, cumulative: Boolean = false, src: String = "close"): DataFrame =
    run("percent_return", src)("length" -> n, "cumulative" -> cumulative)

  /** Drawdown family (reference performance/drawdown.py). */
  def drawdown: DataFrame = run("drawdown")()

  // rolling statistics (reference statistics/*.py)
  def stdev(n: Int = 30, src: String = "close"): DataFrame =
    graft.plans.Halo.auto(df, n)(new Ta(_).run("stdev", src)("length" -> n))
  def variance(n: Int = 30, src: String = "close"): DataFrame = run("variance", src)("length" -> n)
  def median(n: Int = 30, src: String = "close"): DataFrame = run("median", src)("length" -> n)
  def quantile(n: Int = 30, q: Double = 0.5, src: String = "close"): DataFrame =
    run("quantile", src)("length" -> n, "q" -> q)
  def mad(n: Int = 30, src: String = "close"): DataFrame = run("mad", src)("length" -> n)
  def skew(n: Int = 30, src: String = "close"): DataFrame = run("skew", src)("length" -> n)
  def kurtosis(n: Int = 30, src: String = "close"): DataFrame = run("kurtosis", src)("length" -> n)
  def zscore(n: Int = 30, src: String = "close"): DataFrame = run("zscore", src)("length" -> n)

  /** Rolling Shannon entropy of the value share within the window
    * (reference statistics/entropy.py): −Σ p·log_b(p), p = x/Σx. */
  def entropy(n: Int = 10, base: Double = 2.0, src: String = "close"): DataFrame =
    run("entropy", src)("length" -> n, "base" -> base)

  /** Slope (reference momentum/slope.py): Δₙ/n, optionally as angle. */
  def slope(n: Int = 1, asAngle: Boolean = false, src: String = "close"): DataFrame =
    run("slope", src)("length" -> n, "as_angle" -> asAngle)

  // ============================================== weighted-window MAs =====
  /** Arnaud Legoux MA (reference overlap/alma.py): gaussian weights,
    * m = offset·(n−1), s = n/sigma, wᵢ = exp(−(i−m)²/(2s²)). */
  def alma(n: Int = 10, sigma: Double = 6.0, offset: Double = 0.85, src: String = "close"): DataFrame =
    run("alma", src)("length" -> n, "sigma" -> sigma, "dist_offset" -> offset)

  /** Fibonacci-weighted MA (reference overlap/fwma.py): ascending fibs,
    * newest row gets the largest weight. */
  def fwma(n: Int = 10, src: String = "close"): DataFrame = run("fwma", src)("length" -> n)

  /** Pascal-triangle-weighted MA (reference overlap/pwma.py). */
  def pwma(n: Int = 10, src: String = "close"): DataFrame = run("pwma", src)("length" -> n)

  /** Symmetric-triangle-weighted MA (reference overlap/swma.py). */
  def swma(n: Int = 10, src: String = "close"): DataFrame = run("swma", src)("length" -> n)

  /** Sine-weighted MA (reference overlap/sinwma.py): sin((i+1)π/(n+1)). */
  def sinwma(n: Int = 10, src: String = "close"): DataFrame = run("sinwma", src)("length" -> n)

  /** Triangular MA (reference overlap/trima.py): sma(sma(x, ⌈(n+1)/2⌉), ⌊n/2⌋+1). */
  def trima(n: Int = 10, src: String = "close"): DataFrame = run("trima", src)("length" -> n)

  /** Ichimoku (reference overlap/ichimoku.py): tenkan/kijun = midprice,
    * spans shifted FORWARD by `shift` (lookahead-free), chikou shifted
    * back (LOOKAHEAD — excluded from streaming). */
  def ichimoku(tenkanN: Int = 9, kijunN: Int = 26, spanBN: Int = 52, shiftN: Int = 26): DataFrame =
    run("ichimoku")("tenkan" -> tenkanN, "kijun" -> kijunN, "senkou" -> spanBN, "shift" -> shiftN)

  /** Relative Vigor (reference momentum/rvgi.py): swma(c−o,4)/swma(h−l,4)
    * ratio of rolling sums + swma signal. */
  def rvgi(n: Int = 14, swmaN: Int = 4): DataFrame = run("rvgi")("length" -> n, "swma_length" -> swmaN)

  /** SMI ergodic-style oscillator (declared spec, reference
    * momentum/smi.py is M-confidence): m = close − ½(HH(n)+LL(n));
    * smi = 100·ema(ema(m,f),s) / (ema(ema(HH−LL,f),s)/2). */
  def smi(n: Int = 10, fast: Int = 5, slow: Int = 3): DataFrame =
    run("smi")("length" -> n, "fast" -> fast, "slow" -> slow)

  /** TTM squeeze (reference momentum/squeeze.py, declared): BB(bbN, 2)
    * inside KC(kcN, 1.5) flag + linreg-endpoint momentum of the price
    * delta vs the midline average. */
  def squeeze(bbN: Int = 20, kcN: Int = 20, momN: Int = 12): DataFrame =
    run("squeeze")("bb_length" -> bbN, "kc_length" -> kcN, "mom_length" -> momN)

  /** TTM squeeze pro (reference momentum/squeeze_pro.py): squeeze flags
    * against three KC multipliers (wide 2, normal 1.5, narrow 1). */
  def squeezePro(bbN: Int = 20, kcN: Int = 20, momN: Int = 12): DataFrame =
    run("squeeze_pro")("bb_length" -> bbN, "kc_length" -> kcN, "mom_length" -> momN)

  /** Schaff Trend Cycle (reference momentum/stc.py, declared): double
    * stochastic of the (sma-seeded) macd line with α=0.5 smoothing. */
  def stc(tc: Int = 10, fast: Int = 12, slow: Int = 26): DataFrame =
    run("stc")("tclength" -> tc, "fast" -> fast, "slow" -> slow)

  /** Inertia (reference momentum/inertia.py): linreg endpoint of rvi. */
  def inertia(n: Int = 20, rviN: Int = 14): DataFrame = run("inertia")("length" -> n, "rvi_length" -> rviN)

  /** Archer OBV (reference volume/aobv.py): obv + fast/slow (sma-seeded)
    * emas + long/short run flags. */
  def aobv(fast: Int = 4, slow: Int = 12, runN: Int = 2): DataFrame =
    run("aobv")("fast" -> fast, "slow" -> slow, "run_length" -> runN)

  /** Klinger Volume Oscillator (reference volume/kvo.py, declared):
    * sv = sign(Δhlc3)·volume (null row 0); kvo = ewm-span(sv, fast) −
    * ewm-span(sv, slow); signal = ewm-span(kvo, sig). Unseeded ewms. */
  def kvo(fast: Int = 34, slow: Int = 55, sig: Int = 13): DataFrame =
    run("kvo")("fast" -> fast, "slow" -> slow, "signal" -> sig)

  // ============================================== signal utils =====
  def below(a: String, b: String, out: String): DataFrame =
    df.withColumn(out, when(c(a) <= c(b), 1.0).otherwise(0.0))

  def aboveValue(a: String, v: Double, out: String): DataFrame =
    df.withColumn(out, when(c(a) >= v, 1.0).otherwise(0.0))

  def belowValue(a: String, v: Double, out: String): DataFrame =
    df.withColumn(out, when(c(a) <= v, 1.0).otherwise(0.0))

  /** cross below: a<b now, a≥b on the previous row. */
  def crossBelow(a: String, b: String, out: String): DataFrame = {
    val pa = shift(c(a), 1); val pb = shift(c(b), 1)
    df.withColumn(
      out,
      when(c(a) < c(b) && pa.isNotNull && pb.isNotNull && pa >= pb, 1.0).otherwise(0.0)
    )
  }

  /** cross of a over a constant value. */
  def crossValue(a: String, v: Double, out: String): DataFrame = {
    val pa = shift(c(a), 1)
    df.withColumn(out, when(c(a) > v && pa.isNotNull && pa <= v, 1.0).otherwise(0.0))
  }

  /** TOS stdev-all (reference statistics/tos_stdevall.py): OLS line over
    * the WHOLE series (per key) ± k·stdev(close) parallel bands. */
  def tosStdevall(stds: Seq[Int] = Seq(1, 2, 3)): DataFrame = run("tos_stdevall")("stds" -> stds)
}

object Ta {
  implicit class RichTaDf(val df: DataFrame) extends AnyVal {
    def ta: Ta = new Ta(df)

    /** Run a batch of indicator specs as ONE compiled plan (reference
      * df.ta.strategy). */
    def taStrategy(st: Strategy): DataFrame = registry.strategy(df, st)

    /** Dynamic dispatch by indicator name (reference df.ta(kind=...)). */
    def taIndicator(kind: String, params: Map[String, Any] = Map.empty): DataFrame =
      registry(df, IndicatorSpec(kind, params))
  }
}
