package graft.ta

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

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
  def hasLowering(spec: IndicatorSpec): Boolean = StrategyCompiler.compile(spec).isDefined

  /** Compile and run a whole Strategy — one lazy plan, no process pool:
    * the specs' lowerings merge into a handful of projection levels
    * (driver-side compile cost stops scaling with indicator count × plan
    * size — see StrategyCompiler), REC state machines included: they are
    * window folds like the rest. Output columns are identical to folding
    * `apply` over every spec. */
  def strategy(df: DataFrame, st: Strategy): DataFrame = {
    // Prepared-statement semantics, two memos deep. The analyzed plan
    // depends only on the specs, the input schema and the analyzer's
    // confs, so it is built once per such key over a placeholder input
    // (`template`); a new input only re-binds the template's leaves
    // (`bind`). The same input in one session still returns the SAME
    // DataFrame; every action executes from scratch.
    val spark = df.sparkSession
    graft.CacheRegistry.memoPlan(
      spark,
      s"strategy:${st.name}:${specsKey(st.ta)}:${confKey(spark)}:${graft.CacheRegistry.planKey(df)}"
    )(bind(template(spark, st.ta, df.schema), df))
  }

  /** Spec kinds and params, sorted, so Map iteration order cannot alias
    * two strategies. */
  private def specsKey(specs: Seq[IndicatorSpec]): String =
    specs.map(s => s.kind + ":" + s.params.toSeq.map { case (k, v) => s"$k=$v" }.sorted.mkString(",")).mkString(";")

  /** The confs an analyzed plan bakes in: ANSI casts and arithmetic,
    * name resolution, time-zone-aware casts. */
  private def confKey(spark: SparkSession): String = {
    val c = spark.sessionState.conf
    s"ansi=${c.ansiEnabled}:cs=${c.caseSensitiveAnalysis}:tz=${c.sessionLocalTimeZone}"
  }

  /** The analyzed plan of `specs` over an empty placeholder relation of
    * `schema` (nullability and metadata included), built once per
    * session, specs, schema and analyzer confs. A build that throws (the
    * compiler's reserved-name check) caches nothing. Specs carrying
    * post-kwargs rewrite their outputs after the fact, so they fold
    * through `apply` first, while the plan is still narrow (each fold
    * step re-analyzes the whole plan); the rest run as one batch. */
  private[graft] def template(spark: SparkSession, specs: Seq[IndicatorSpec], schema: StructType): DataFrame =
    graft.CacheRegistry.memoPlan(spark, s"strategy-template:${specsKey(specs)}:${schema.json}:${confKey(spark)}") {
      val placeholder = GraftBridge.ofRows(spark, LocalRelation(DataTypeUtils.toAttributes(schema)))
      val (folded, batched) = specs.partition(s => postKeys.exists(s.params.contains))
      StrategyCompiler.run(folded.foldLeft(placeholder)(apply), batched)
    }

  /** The template over `df`: every placeholder occurrence (the analyzer
    * renews the placeholder where a plan reads its input twice, as
    * retrospective cusum's self-join does) becomes a Project aliasing
    * df's columns, by position, to that occurrence's attributes. One
    * analysis pass over the resolved tree then renews df's relations
    * where they now occur twice, so no join compares an attribute with
    * itself. */
  private def bind(template: DataFrame, df: DataFrame): DataFrame = {
    val input = GraftBridge.analyzed(df)
    val shape = input.output.map(a => (a.name, a.dataType, a.nullable))
    val plan = GraftBridge.analyzed(template).transformUpWithSubqueries {
      case l: LocalRelation if l.data.isEmpty && l.output.map(a => (a.name, a.dataType, a.nullable)) == shape =>
        Project(input.output.zip(l.output).map { case (a, p) => Alias(a, p.name)(exprId = p.exprId) }, input)
    }
    GraftBridge.ofRows(df.sparkSession, plan)
  }
}
