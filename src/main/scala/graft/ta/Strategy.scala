package graft.ta

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Batch-of-indicators surface (reference: pandas_ta/core.py `Strategy`
  * dataclass + `df.ta.strategy()`; SURVEY §2.C).
  *
  * The reference parallelizes with a multiprocessing pool that pickles the
  * whole frame per indicator. Here a Strategy COMPILES into one lazy
  * DataFrame: every spec appends window expressions over the same
  * (series_id, ts) spec, so Catalyst plans the entire batch as ONE
  * Exchange + Sort with consecutive WindowExecs (PlanShapeSpec proves the
  * single shuffle) — cluster parallelism comes from partitioning, not
  * process pools.
  */
final case class IndicatorSpec(kind: String, params: Map[String, Any] = Map.empty)

final case class Strategy(name: String, ta: Seq[IndicatorSpec], description: String = "")

object Strategy {

  /** Mirrors the reference CommonStrategy (sma10/20/50, macd, rsi). */
  val Common: Strategy = Strategy(
    "Common Price and Volume SMAs",
    Seq(
      IndicatorSpec("sma", Map("length" -> 10)),
      IndicatorSpec("sma", Map("length" -> 20)),
      IndicatorSpec("sma", Map("length" -> 50)),
      IndicatorSpec("macd", Map()),
      IndicatorSpec("rsi", Map())
    )
  )

  /** Every registry indicator with default params (reference AllStrategy). */
  def All: Strategy = Strategy("All", registry.indicators.map(k => IndicatorSpec(k)))
}

/** Indicator registry (reference `df.ta.indicators()` / category lists).
  * Every kind is defined once, by its StrategyCompiler lowering; parameter
  * keys follow the reference ("length", "fast"/"slow"/"signal", "close"
  * for the source column, ...) with the `df.ta` accessor's defaults. */
object registry {

  /** kind -> category. */
  val kinds: Map[String, String] = Seq(
    "overlap" -> ("sma ema wma rma dema tema trima hma zlma alma fwma pwma swma sinwma t3 kama vidya mcgd ssf " +
      "hwma jma hilo supertrend ichimoku midpoint midprice hl2 hlc3 ohlc4 wcp vwap vwma linreg kalman"),
    "momentum" -> ("rsi macd mom roc stoch stochrsi willr cci cmo apo ppo pvo ao bop bias brar cfo cg coppock cti " +
      "dm er eri fisher inertia kdj kst pgo psl rvgi slope smi squeeze squeeze_pro qqe rsx td_seq stc trix tsi uo"),
    "trend" -> "adx amat aroon chop cksp decay decreasing increasing dpo psar qstick ttm_trend vhf vortex",
    "volatility" -> "aberration accbands atr bbands donchian kc massi natr pdist rvi thermo hwc true_range ui",
    "volume" -> "ad adosc aobv cmf efi eom kvo mfi nvi pvi obv pvol pvr pvt",
    "statistics" -> ("cusum entropy kurtosis mad median quantile skew stdev variance zscore tos_stdevall " +
      "geometric_mean"),
    "performance" -> "log_return percent_return drawdown",
    "candles" -> ("ha cdl_doji cdl_inside cdl_pattern cdl_pattern_2 cdl_pattern_3 cdl_pattern_4 cdl_pattern_5 " +
      "cdl_pattern_6 candle_utils cdl_z"),
    "cycles" -> "ebsw"
  ).flatMap { case (cat, ks) => ks.split(' ').map(_ -> cat) }.toMap

  /** Available indicator kinds (reference df.ta.indicators()). */
  def indicators: Seq[String] = kinds.keys.toSeq.sorted

  /** Category list (reference df.ta.categories). */
  def categories: Seq[String] = kinds.values.toSeq.distinct.sorted

  def byCategory(cat: String): Seq[String] =
    kinds.collect { case (k, c) if c == cat => k }.toSeq.sorted

  /** `ma(name, ...)` dispatcher (reference overlap/ma.py). */
  def ma(name: String, df: DataFrame, length: Int): DataFrame =
    apply(df, IndicatorSpec(name, Map("length" -> length)))

  def apply(df: DataFrame, spec: IndicatorSpec): DataFrame = {
    require(
      kinds.contains(spec.kind),
      s"unknown indicator '${spec.kind}'; available: ${indicators.mkString(", ")}"
    )
    postKwargs(StrategyCompiler.run(df, Seq(spec)), df.columns.toSet, spec.params)
  }

  private val postKeys = Seq("offset", "fillna", "prefix", "suffix")

  /** Uniform post-steps every reference indicator honors (core.py):
    * offset=k shifts appended outputs, fillna fills them, prefix/suffix
    * rename them. Applied only to columns the spec ADDED. */
  private def postKwargs(df: DataFrame, before: Set[String], p: Map[String, Any]): DataFrame = {
    val added = df.columns.filterNot(before.contains)
    val off = p.get("offset").map(_.toString.toInt).getOrElse(0)
    val d1 =
      if (off == 0) df
      else added.foldLeft(df)((d, cName) => d.withColumn(cName, prim.shift(col(cName), off)))
    val d2 = p.get("fillna") match {
      case Some(v) =>
        added.foldLeft(d1)((d, cName) => d.withColumn(cName, coalesce(col(cName), lit(v.toString.toDouble))))
      case None => d1
    }
    val prefix = p.get("prefix").map(_.toString)
    val suffix = p.get("suffix").map(_.toString)
    if (prefix.isEmpty && suffix.isEmpty) d2
    else
      added.foldLeft(d2) { (d, cName) =>
        d.withColumnRenamed(cName, s"${prefix.map(_ + "_").getOrElse("")}$cName${suffix.map("_" + _).getOrElse("")}")
      }
  }

  /** True when the spec has a StrategyCompiler lowering (test hook). */
  def hasLowering(spec: IndicatorSpec): Boolean =
    StrategyCompiler.compile(spec).isDefined || StrategyCompiler.compileRec(spec).isDefined

  /** REC lowering surface for streaming and tests: (batch staging
    * transform — the same leveled columns runAll stages, temps kept
    * because the kernel reads them —, output schema, kernel factory). */
  def recKernel(spec: IndicatorSpec): Option[
    (DataFrame => DataFrame, Seq[org.apache.spark.sql.types.StructField], () => rec.Kernel)
  ] =
    StrategyCompiler.compileRec(spec).map { rp =>
      val stage = (df: DataFrame) =>
        rp.staging.foldLeft(df.withColumn("__rn", prim.rn)) { (d, lvl) =>
          d.withColumns(lvl.toMap)
        }
      (stage, rp.outs, rp.make)
    }

  /** Compile and run a whole Strategy — one lazy plan, no process pool:
    * the specs' lowerings merge into a handful of projection levels
    * (driver-side compile cost stops scaling with indicator count × plan
    * size — see StrategyCompiler) and every REC kernel shares one pass.
    * Output columns are identical to folding `apply` over every spec. */
  def strategy(df: DataFrame, st: Strategy): DataFrame = {
    // Compiled-plan cache (prepared-statement semantics): the 80-spec batch
    // costs ~1.7s of Catalyst analysis per build — identical (input plan,
    // strategy) in one session returns the SAME analyzed DataFrame; every
    // action still executes from scratch. Key includes every spec kind+param
    // (sorted, so Map iteration order cannot alias two strategies).
    val stKey = st.ta
      .map(s => s.kind + ":" + s.params.toSeq.map { case (k, v) => s"$k=$v" }.sorted.mkString(","))
      .mkString(";")
    graft.CacheRegistry.memoPlan(
      df.sparkSession,
      s"strategy:${st.name}:$stKey:${graft.CacheRegistry.planKey(df)}"
    )(strategyBuild(df, st))
  }

  /** Specs carrying post-kwargs rewrite their outputs after the fact, so
    * they fold through `apply` first, while the plan is still narrow (each
    * fold step re-analyzes the whole plan); the rest run as one batch. */
  private def strategyBuild(df: DataFrame, st: Strategy): DataFrame = {
    val (folded, batched) = st.ta.partition(s => postKeys.exists(s.params.contains))
    StrategyCompiler.run(folded.foldLeft(df)(apply), batched)
  }
}
