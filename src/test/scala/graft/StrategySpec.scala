package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import graft.ta.{registry, IndicatorSpec, Strategy}
import graft.ta.Ta._

/** Reference core.py surface: Strategy compilation, registry, kwargs. */
class StrategySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def bars = Graft.bars(spark, TestSpark.sfDir)

  private def awkward: DataFrame = StrategySpec.awkward(bars)

  private def emptyBars: DataFrame = bars.where(lit(false))

  private type Outcome = Either[String, (Seq[String], Map[Row, Int])]

  /** A route's result: its columns in name order and its rows as a
    * multiset (exact Row equality: NaN equals NaN, -0.0 does not equal
    * 0.0), or the error it raised. */
  private def outcome(df: => DataFrame): Outcome =
    scala.util.Try {
      val d = df
      val cols = d.columns.sorted.toSeq
      cols -> d.select(cols.map(c => col(s"`$c`")): _*).collect().groupBy(identity).map { case (r, rs) => r -> rs.length }
    }.toEither.left.map(e => s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")

  /** None when both outcomes agree: same columns and rows, or the same error. */
  private def difference(a: Outcome, b: Outcome): Option[String] = (a, b) match {
    case _ if a == b => None
    case (Right((ca, _)), Right((cb, _))) if ca != cb => Some(s"columns $ca vs $cb")
    case (Right((_, ra)), Right((_, rb))) =>
      Some(s"rows ${(ra.keySet diff rb.keySet).take(2)} vs ${(rb.keySet diff ra.keySet).take(2)}")
    case _ => Some(s"$a vs $b".take(600))
  }

  /** The `df.ta` accessor call for every registry kind, at its defaults. */
  private val accessor: Map[String, DataFrame => DataFrame] = Map(
    "sma" -> (_.ta.sma()), "ema" -> (_.ta.ema()), "wma" -> (_.ta.wma()), "rma" -> (_.ta.rma()),
    "dema" -> (_.ta.dema()), "tema" -> (_.ta.tema()), "trima" -> (_.ta.trima()), "hma" -> (_.ta.hma()),
    "zlma" -> (_.ta.zlma()), "alma" -> (_.ta.alma()), "fwma" -> (_.ta.fwma()), "pwma" -> (_.ta.pwma()),
    "swma" -> (_.ta.swma()), "sinwma" -> (_.ta.sinwma()), "t3" -> (_.ta.t3()), "kama" -> (_.ta.kama()),
    "vidya" -> (_.ta.vidya()), "mcgd" -> (_.ta.mcgd()), "ssf" -> (_.ta.ssf()), "hwma" -> (_.ta.hwma()),
    "jma" -> (_.ta.jma()), "hilo" -> (_.ta.hilo()), "supertrend" -> (_.ta.supertrend()),
    "ichimoku" -> (_.ta.ichimoku()), "midpoint" -> (_.ta.midpoint()), "midprice" -> (_.ta.midprice()),
    "hl2" -> (_.ta.hl2), "hlc3" -> (_.ta.hlc3), "ohlc4" -> (_.ta.ohlc4), "wcp" -> (_.ta.wcp),
    "vwap" -> (_.ta.vwap), "vwma" -> (_.ta.vwma()), "linreg" -> (_.ta.linreg()),
    "rsi" -> (_.ta.rsi()), "macd" -> (_.ta.macd()), "mom" -> (_.ta.mom()), "roc" -> (_.ta.roc()),
    "stoch" -> (_.ta.stoch()), "stochrsi" -> (_.ta.stochrsi()), "willr" -> (_.ta.willr()),
    "cci" -> (_.ta.cci()), "cmo" -> (_.ta.cmo()), "apo" -> (_.ta.apo()), "ppo" -> (_.ta.ppo()),
    "pvo" -> (_.ta.pvo()), "ao" -> (_.ta.ao()), "bop" -> (_.ta.bop), "bias" -> (_.ta.bias()),
    "brar" -> (_.ta.brar()), "cfo" -> (_.ta.cfo()), "cg" -> (_.ta.cg()), "coppock" -> (_.ta.coppock()),
    "cti" -> (_.ta.cti()), "dm" -> (_.ta.dm()), "er" -> (_.ta.er()), "eri" -> (_.ta.eri()),
    "fisher" -> (_.ta.fisher()), "inertia" -> (_.ta.inertia()), "kdj" -> (_.ta.kdj()), "kst" -> (_.ta.kst()),
    "pgo" -> (_.ta.pgo()), "psl" -> (_.ta.psl()), "rvgi" -> (_.ta.rvgi()), "slope" -> (_.ta.slope()),
    "smi" -> (_.ta.smi()), "squeeze" -> (_.ta.squeeze()), "squeeze_pro" -> (_.ta.squeezePro()),
    "qqe" -> (_.ta.qqe()), "rsx" -> (_.ta.rsx()), "td_seq" -> (_.ta.tdSeq), "stc" -> (_.ta.stc()),
    "trix" -> (_.ta.trix()), "tsi" -> (_.ta.tsi()), "uo" -> (_.ta.uo()),
    "adx" -> (_.ta.adx()), "amat" -> (_.ta.amat()), "aroon" -> (_.ta.aroon()), "chop" -> (_.ta.chop()),
    "cksp" -> (_.ta.cksp()), "decay" -> (_.ta.decay()), "decreasing" -> (_.ta.decreasing()),
    "increasing" -> (_.ta.increasing()), "dpo" -> (_.ta.dpo()), "psar" -> (_.ta.psar()),
    "qstick" -> (_.ta.qstick()), "ttm_trend" -> (_.ta.ttmTrend()), "vhf" -> (_.ta.vhf()),
    "vortex" -> (_.ta.vortex()),
    "aberration" -> (_.ta.aberration()), "accbands" -> (_.ta.accbands()), "atr" -> (_.ta.atr()),
    "bbands" -> (_.ta.bbands()), "donchian" -> (_.ta.donchian()), "kc" -> (_.ta.kc()),
    "massi" -> (_.ta.massi()), "natr" -> (_.ta.natr()), "pdist" -> (_.ta.pdist()), "rvi" -> (_.ta.rvi()),
    "thermo" -> (_.ta.thermo()), "hwc" -> (_.ta.hwc()), "true_range" -> (_.ta.trueRange), "ui" -> (_.ta.ui()),
    "ad" -> (_.ta.ad), "adosc" -> (_.ta.adosc()), "aobv" -> (_.ta.aobv()), "cmf" -> (_.ta.cmf()),
    "efi" -> (_.ta.efi()), "eom" -> (_.ta.eom()), "kvo" -> (_.ta.kvo()), "mfi" -> (_.ta.mfi()),
    "nvi" -> (_.ta.nvi()), "pvi" -> (_.ta.pvi()), "obv" -> (_.ta.obv), "pvol" -> (_.ta.pvol),
    "pvr" -> (_.ta.pvr), "pvt" -> (_.ta.pvt),
    "kalman" -> (_.ta.kalman()), "cusum" -> (_.ta.cusum()), "entropy" -> (_.ta.entropy()),
    "kurtosis" -> (_.ta.kurtosis()), "mad" -> (_.ta.mad()), "median" -> (_.ta.median()),
    "quantile" -> (_.ta.quantile()), "skew" -> (_.ta.skew()), "stdev" -> (_.ta.stdev()),
    "variance" -> (_.ta.variance()), "zscore" -> (_.ta.zscore()), "tos_stdevall" -> (_.ta.tosStdevall()),
    "log_return" -> (_.ta.logReturn()), "percent_return" -> (_.ta.percentReturn()),
    "drawdown" -> (_.ta.drawdown),
    "ha" -> (_.ta.ha), "cdl_doji" -> (_.ta.cdlDoji()), "cdl_inside" -> (_.ta.cdlInside),
    "cdl_pattern" -> (_.ta.cdlPatterns), "cdl_pattern_2" -> (_.ta.cdlPatterns2),
    "cdl_pattern_3" -> (_.ta.cdlPatterns3), "cdl_pattern_4" -> (_.ta.cdlPatterns4),
    "cdl_pattern_5" -> (_.ta.cdlPatterns5), "cdl_pattern_6" -> (_.ta.cdlPatterns6),
    "candle_utils" -> (_.ta.candleUtils), "geometric_mean" -> (_.ta.geometricMean()),
    "ebsw" -> (_.ta.ebsw()), "cdl_z" -> (_.ta.cdlZ())
  )

  test("registry lists categories and indicators") {
    assert(registry.categories == Seq("candles", "cycles", "momentum", "overlap", "performance", "statistics", "trend", "volatility", "volume"))
    assert(registry.indicators.size >= 90, s"only ${registry.indicators.size} indicators registered")
    assert(registry.byCategory("overlap").contains("kama"))
  }

  test("Common strategy compiles to one plan with expected columns") {
    val out = bars.taStrategy(Strategy.Common)
    val cols = out.columns.toSet
    assert(Set("sma_10", "sma_20", "sma_50", "macd", "macds", "macdh", "rsi_10").subsetOf(cols))
    assert(out.count() == 30)
  }

  test("strategy of window indicators keeps a single shuffle") {
    val specs = Seq("sma", "ema", "wma", "rsi", "atr", "bbands", "willr", "cci", "mfi", "obv")
      .map(k => IndicatorSpec(k))
    val out = registry.strategy(bars.repartition(col("series_id")), Strategy("w", specs))
    out.collect()
    val exchanges = out.queryExecution.executedPlan.collect { case e: ShuffleExchangeExec => e }
    // one for the bars groupBy + the explicit repartition; no window may add more
    assert(exchanges.size <= 2, s"window strategy added shuffles: ${exchanges.size}")
  }

  /** Non-default accessor calls and the registry spec with the same
    * parameters — every key the accessor takes reaches the lowering. */
  private val variants: Seq[(IndicatorSpec, DataFrame => DataFrame)] = Seq(
    IndicatorSpec("sma", Map("length" -> 7, "close" -> "open")) -> (_.ta.sma(7, "open")),
    IndicatorSpec("macd", Map("fast" -> 5, "slow" -> 13, "signal" -> 4, "close" -> "high")) -> (_.ta.macd(5, 13, 4, "high")),
    IndicatorSpec("stochrsi", Map("length" -> 8, "k" -> 5, "d" -> 2)) -> (_.ta.stochrsi(8, 5, 2)),
    IndicatorSpec("kst", Map("roc" -> Seq(3, 5, 7, 9), "sma" -> Seq(2, 2, 3, 3), "signal" -> 4)) ->
      (_.ta.kst(Seq(3, 5, 7, 9), Seq(2, 2, 3, 3), 4)),
    IndicatorSpec("slope", Map("length" -> 3, "as_angle" -> true)) -> (_.ta.slope(3, asAngle = true)),
    IndicatorSpec("dpo", Map("length" -> 6, "centered" -> false)) -> (_.ta.dpo(6, centered = false)),
    IndicatorSpec("pdist", Map("drift" -> 2)) -> (_.ta.pdist(2)),
    IndicatorSpec("eom", Map("length" -> 5, "divisor" -> 1e4)) -> (_.ta.eom(5, 1e4)),
    IndicatorSpec("nvi", Map("initial" -> 100.0)) -> (_.ta.nvi(100.0)),
    IndicatorSpec("pvi", Map("initial" -> 100.0)) -> (_.ta.pvi(100.0)),
    IndicatorSpec("entropy", Map("length" -> 5, "base" -> 10.0)) -> (_.ta.entropy(5, 10.0)),
    IndicatorSpec("tos_stdevall", Map("stds" -> Seq(1, 4))) -> (_.ta.tosStdevall(Seq(1, 4))),
    IndicatorSpec("amat", Map("fast" -> 5, "slow" -> 9, "lookback" -> 3)) -> (_.ta.amat(5, 9, 3)),
    IndicatorSpec("aobv", Map("fast" -> 3, "slow" -> 7, "run_length" -> 3)) -> (_.ta.aobv(3, 7, 3)),
    IndicatorSpec("cci", Map("length" -> 6, "scalar" -> 0.02)) -> (_.ta.cci(6, 0.02)),
    IndicatorSpec("hwc", Map("na" -> 0.3, "nb" -> 0.2, "nc" -> 0.2, "nd" -> 0.3, "k" -> 2.0)) ->
      (_.ta.hwc(0.3, 0.2, 0.2, 0.3, 2.0)),
    IndicatorSpec("log_return", Map("cumulative" -> true)) -> (_.ta.logReturn(cumulative = true)),
    IndicatorSpec("percent_return", Map("length" -> 2, "cumulative" -> true, "close" -> "low")) ->
      (_.ta.percentReturn(2, cumulative = true, "low")),
    IndicatorSpec("cusum", Map("k" -> 0.3, "h" -> 2.0, "mu" -> 40.0, "sd" -> 30.0)) ->
      (_.ta.cusum(0.3, 2.0, mu = Some(40.0), sd = Some(30.0))),
    IndicatorSpec("cusum", Map("k" -> 0.3, "close" -> "high")) -> (_.ta.cusum(0.3, src = "high")),
    IndicatorSpec("jma", Map("length" -> 9, "phase" -> 50.0)) -> (_.ta.jma(9, 50.0))
  )

  /** Series the stream route skips: a stream drops a tick whose `ts` is not
    * after the series' last one ("dups"), and a `BarTick` carries its
    * prices as primitive doubles, so no stream can deliver a null ("nulls"). */
  private val notStreamed = Set("dups", "nulls")

  /** The stream route: every tick of a series folded in `ts` order through
    * the stage `windowStream` builds, as kernelBatchStream does; rows as
    * (series_id, ts, outputs in name order). */
  private def streamRows(sk: graft.streaming.StreamingTa.StreamTwin, df: DataFrame): (Seq[String], Seq[Row]) = {
    import graft.streaming.StreamingTa.BarTick
    val ticks = df.where(!col("series_id").isin(notStreamed.toSeq: _*))
      .select(col("series_id").cast("string"), unix_date(col("ts")).cast("long"),
        col("open"), col("high"), col("low"), col("close"), col("volume"))
      .collect().map(r => BarTick(r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6)))
    val names = sk.outs.map(_.name)
    val order = names.zipWithIndex.sortBy(_._1).map(_._2)
    val rows = ticks.groupBy(_.series_id).values.toSeq.flatMap { ts0 =>
      val stg = sk.stage()
      ts0.sortBy(_.ts).map { t =>
        val vals = stg.update(t)
        Row.fromSeq(Seq(t.series_id, t.ts) ++ order.map(vals(_)))
      }
    }
    (names.sorted, rows)
  }

  /** The stream route against the accessor's outcome: the same added
    * columns, and per streamed series the same rows; returns the
    * disagreements, naming the series (one pathology each). */
  private def streamDifference(sk: graft.streaming.StreamingTa.StreamTwin, df: DataFrame, acc: Outcome): Seq[String] =
    acc.toOption.toSeq.flatMap { case (cols, rows) =>
      scala.util.Try(streamRows(sk, df)).toEither match {
        case Left(e) => Seq(s"stream failed: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
        case Right((names, srows)) =>
          val added = cols.filterNot(df.columns.contains)
          val colDiff = if (added == names) Nil else Seq(s"stream columns $names vs $added")
          val common = names.filter(added.contains)
          val ai = Seq(cols.indexOf("series_id"), cols.indexOf("ts")) ++ common.map(cols.indexOf)
          val si = Seq(0, 1) ++ common.map(c => 2 + names.indexOf(c))
          def day(v: Any): Any = v match {
            case d: java.sql.Date => d.toLocalDate.toEpochDay
            case d: java.time.LocalDate => d.toEpochDay
            case other => other
          }
          val want = rows.toSeq.flatMap { case (r, k) => Seq.fill(k)(Row.fromSeq(ai.map(i => day(r.get(i))))) }
            .filterNot(r => notStreamed(r.getString(0)))
          val got = srows.map(r => Row.fromSeq(si.map(r.get)))
          def bySeries(rs: Seq[Row]) = rs.groupBy(_.getString(0)).map { case (s, g) => s -> g.groupBy(identity).map { case (r, x) => r -> x.size } }
          val (w, g) = (bySeries(want), bySeries(got))
          val bad = (w.keySet ++ g.keySet).toSeq.sorted.filter(s => w.get(s) != g.get(s))
          colDiff ++ (if (bad.isEmpty) Nil else Seq(s"stream rows differ on series ${bad.mkString(",")}" +
            bad.headOption.map { s =>
              val (ws, gs) = (w.getOrElse(s, Map.empty).keySet, g.getOrElse(s, Map.empty).keySet)
              s" e.g. ${(gs diff ws).toSeq.sortBy(_.getLong(1)).take(1)} vs ${(ws diff gs).toSeq.sortBy(_.getLong(1)).take(1)}"
            }.getOrElse("")))
      }
    }

  test("compiled lowering equals the builder for every lowerable kind") {
    // four routes per kind — the accessor, registry(df, spec), a one-spec
    // Strategy batch and, for every kind windowStream accepts,
    // the stream fold — on the awkward frame (it carries the plain fixture
    // as its "ALL" series) and an empty frame
    assert(accessor.keySet == registry.indicators.toSet, "accessor table out of step with the registry")
    val lowered = registry.indicators.map(IndicatorSpec(_)).filter(registry.hasLowering)
    assert(lowered.size >= 70, s"only ${lowered.size} kinds have lowerings")
    val aw = awkward.cache()
    val frames = Seq("awkward" -> aw, "empty" -> emptyBars)
    val cases = registry.indicators.map(k => IndicatorSpec(k) -> accessor(k)) ++ variants
    import graft.streaming.StreamingTa
    val failures = try for {
      (spec, viaAccessor) <- cases
      (fname, df) <- frames
      a = outcome(viaAccessor(df))
      what = s"${spec.kind}${spec.params} on $fname"
      msg <- a.left.toSeq.map(e => s"$what: accessor failed: $e") ++ Seq(
        "registry" -> outcome(registry(df, spec)),
        "batch" -> outcome(registry.strategy(df, Strategy("one", Seq(spec))))
      ).flatMap { case (route, out) => difference(out, a).map(d => s"$what: $route vs accessor: $d") } ++
        StreamingTa.windowStream(spec).toSeq
          .flatMap(streamDifference(_, df, a)).map(d => s"$what: stream vs accessor: $d")
    } yield msg
    finally aw.unpersist(blocking = true) // CacheRegistrySpec asserts nothing stays pinned
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("temp names carry every parameter their expression reads") {
    // Varies one parameter at a time from the defaults: a temp name both
    // specs write must hold the same expression, else a batch of the two
    // would compute one spec's outputs from the other's intermediates.
    import graft.ta.StrategyCompiler
    val alt = Map[String, Any](
      "length" -> 17, "fast" -> 6, "slow" -> 31, "signal" -> 5, "medium" -> 11, "k" -> 4, "d" -> 5,
      "smooth_k" -> 4, "std" -> 1.5, "scalar" -> 0.5, "sigma" -> 4.0, "dist_offset" -> 0.5, "a" -> 0.5,
      "q" -> 5, "r" -> 2.0, "roc" -> Seq(5, 10, 15, 20), "sma" -> Seq(5, 5, 5, 10), "h" -> 2.0, "x" -> 2.0, "p" -> 7,
      "phase" -> 50.0, "mu" -> 0.5, "sd" -> 2.0, "af0" -> 0.03, "af" -> 0.04, "max_af" -> 0.3,
      "multiplier" -> 2.0, "tenkan" -> 7, "kijun" -> 22, "senkou" -> 44, "shift" -> 20,
      "high_length" -> 11, "low_length" -> 19, "smooth" -> 4, "factor" -> 3.0, "na" -> 0.3, "nb" -> 0.2,
      "nc" -> 0.2, "nd" -> 0.2, "bars" -> 8, "lensig" -> 12, "bb_length" -> 18, "kc_length" -> 16,
      "mom_length" -> 10, "tclength" -> 8, "rvi_length" -> 12, "swma_length" -> 5, "atr_length" -> 12,
      "stds" -> Seq(1, 2), "base" -> 10.0, "divisor" -> 1e6, "initial" -> 100.0, "drift" -> 2,
      "centered" -> false, "as_angle" -> true, "lookback" -> 3, "run_length" -> 3, "cumulative" -> true,
      "close" -> "open"
    )
    // fresh lambda-variable ids differ between two builds of one expression
    def temps(spec: IndicatorSpec): Map[String, String] =
      StrategyCompiler.compile(spec).fold(Map.empty[String, String]) { cp =>
        cp.levels.flatten.collect { case (n, c) if cp.temps.contains(n) => n -> c.toString.replaceAll("\\b([xy])_\\d+\\b", "$1") }.toMap
      }
    val base = Map[String, Any]("mu" -> 0.0, "sd" -> 1.0) // cusum lowers only with a reference
    val clashes = for {
      kind <- registry.indicators
      a = temps(IndicatorSpec(kind, base))
      key <- alt.keys.toSeq.sorted
      (n, e) <- temps(IndicatorSpec(kind, base + (key -> alt(key))))
      if a.get(n).exists(_ != e)
    } yield s"$kind: $key changes the expression of $n"
    assert(clashes.isEmpty, clashes.mkString("\n"))
  }

  /** A Strategy batch must equal folding `registry(df, spec)` over its
    * specs; returns the disagreements. */
  private def batchVsFold(name: String, specs: Seq[IndicatorSpec]): Seq[String] =
    for {
      (fname, df) <- Seq("bars" -> bars, "awkward" -> awkward)
      batch = outcome(registry.strategy(df, Strategy(name, specs)))
      d <- batch.left.toOption.orElse(difference(batch, outcome(specs.foldLeft(df)((d, s) => registry(d, s)))))
    } yield s"$name ${specs.map(s => s.kind + s.params).mkString(" then ")} on $fname: $d"

  private def assertBatchIsFold(name: String, specs: Seq[IndicatorSpec]*): Unit = {
    val failures = specs.flatMap(batchVsFold(name, _))
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("same-kind different-param specs equal the builder fold") {
    // batching two variants of one kind must not compute the first spec's
    // outputs from the second spec's intermediates
    assertBatchIsFold("dup", Seq(
      IndicatorSpec("eri", Map("length" -> 10)),
      IndicatorSpec("eri", Map("length" -> 20)),
      IndicatorSpec("cci", Map("length" -> 10)),
      IndicatorSpec("cci", Map("length" -> 14)),
      IndicatorSpec("kc", Map("length" -> 20)),
      IndicatorSpec("kc", Map("length" -> 10))
    ))
  }

  test("colliding output names keep last-wins fold order") {
    // macd emits param-independent output names; the LAST spec's params
    // must win, exactly as folding apply would
    assertBatchIsFold(
      "collide",
      Seq(IndicatorSpec("macd", Map("fast" -> 12, "slow" -> 26)), IndicatorSpec("macd", Map("fast" -> 5, "slow" -> 35))),
      // adx writes dmp_14/dmn_14 one level deeper than dm does
      Seq(IndicatorSpec("adx", Map("length" -> 14)), IndicatorSpec("dm", Map("length" -> 14))),
      Seq(IndicatorSpec("dm", Map("length" -> 14)), IndicatorSpec("adx", Map("length" -> 14))),
      // REC fold outputs: same names, different parameters
      Seq(IndicatorSpec("cusum", Map("mu" -> 40.0, "sd" -> 30.0)), IndicatorSpec("cusum", Map("mu" -> 60.0, "sd" -> 10.0, "h" -> 2.0))),
      Seq(IndicatorSpec("jma", Map("length" -> 7, "phase" -> 0.0)), IndicatorSpec("jma", Map("length" -> 7, "phase" -> 50.0)))
    )
    // adx and dm agree on dmp/dmn, so the rule itself on two plans that
    // write one name with different values at different depths
    import graft.ta.StrategyCompiler.{runAll, ColPlan}
    val deep = ColPlan(Seq(Seq("__d" -> lit(0.0)), Seq("x" -> (col("__d") + 1.0))), Seq("__d"))
    val shallow = ColPlan(Seq(Seq("x" -> lit(2.0))), Nil)
    def x(plans: ColPlan*) = runAll(bars, plans).select("x").distinct().collect().map(_.getDouble(0)).toSeq
    assert(x(deep, shallow) == Seq(2.0) && x(shallow, deep) == Seq(1.0), "last plan must win whatever its depth")
  }

  test("reserved __ prefix on input columns is rejected") {
    val bad = bars.withColumn("__rn", lit(1))
    val e = intercept[IllegalArgumentException](
      registry.strategy(bad, Strategy("r", Seq(IndicatorSpec("sma"))))
    )
    assert(e.getMessage.contains("__"))
  }

  test("offset kwarg shifts appended output only") {
    val plain = bars.ta.sma(10).orderBy("ts").collect().map(r => Option(r.getAs[Any]("sma_10")))
    val shifted = bars
      .taIndicator("sma", Map("length" -> 10, "offset" -> 2))
      .orderBy("ts")
      .collect()
      .map(r => Option(r.getAs[Any]("sma_10")))
    assert(shifted(11) == plain(9) && shifted(12) == plain(10))
    assert(shifted(0).isEmpty && shifted(1).isEmpty)
  }

  test("fillna and prefix/suffix kwargs") {
    val out = bars.taIndicator("sma", Map("length" -> 10, "fillna" -> 0.0, "prefix" -> "P", "suffix" -> "S"))
    assert(out.columns.contains("P_sma_10_S"))
    assert(out.where(col("P_sma_10_S").isNull).count() == 0)
  }

  test("unknown indicator raises with the available list") {
    val e = intercept[IllegalArgumentException](bars.taIndicator("nope"))
    assert(e.getMessage.contains("unknown indicator"))
  }
}

object StrategySpec {

  /** Awkward inputs derived from the bars fixture, one pathology per
    * series: the plain fixture, a one-row series, nulls, zeros (flat
    * range, zero volume), NaN, ±∞, magnitudes near 1e300 and duplicate
    * `ts`. Duplicates are exact copies of whole rows, so every route's
    * result is determined as a multiset of rows even though the order
    * of the tied rows is not. */
  def awkward(b: DataFrame): DataFrame = {
    val day = dayofyear(col("ts"))
    def on(k: Int, r: Int)(c: String, v: org.apache.spark.sql.Column) =
      when(day % k === r, v).otherwise(col(c))
    val px = Seq("open", "high", "low", "close")
    def series(name: String, d: DataFrame) = d.withColumn("series_id", lit(name))
    val nul = lit(null).cast("double")
    Seq(
      b,
      series("one", b.orderBy("ts").limit(1)),
      series("nulls", b.withColumn("close", on(5, 2)("close", nul))
        .withColumn("high", on(7, 3)("high", nul)).withColumn("volume", on(6, 1)("volume", nul))
        .withColumn("open", on(9, 4)("open", nul))),
      series("zeros", b.withColumn("close", on(5, 1)("close", lit(0.0)))
        .withColumn("high", on(4, 2)("high", col("low"))).withColumn("volume", on(3, 0)("volume", lit(0.0)))),
      series("nan", b.withColumn("close", on(6, 3)("close", lit(Double.NaN)))
        .withColumn("low", on(8, 5)("low", lit(Double.NaN)))),
      series("inf", b.withColumn("close", on(7, 2)("close", lit(Double.PositiveInfinity)))
        .withColumn("high", on(9, 6)("high", lit(Double.PositiveInfinity)))
        .withColumn("low", on(10, 1)("low", lit(Double.NegativeInfinity)))),
      series("huge", px.foldLeft(b)((d, c) => d.withColumn(c, col(c) * 1e300))),
      series("dups", b.unionByName(b.where(day % 4 === 0)))
    ).reduce(_ unionByName _)
  }
}
