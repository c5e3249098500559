package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Graft
import graft.ta.{prim => P}
import graft.ta.stage
import graft.ta.Ta._
import sqlgen._

/** Close-only indicators over the per-user value series
  * (series_id = user_id, ts = epoch micros, close = value).
  * Each query pairs the Spark implementation with a structurally identical
  * DuckDB oracle so both engines run the same arithmetic.
  */
object SeriesQueries {

  /** Mutable CTE chain for generated oracle SQL. */
  final class Cte(name0: String, body0: String) {
    private val buf = scala.collection.mutable.ArrayBuffer((name0, body0))
    var top: String = name0
    def add(name: String, body: String): this.type = { buf += ((name, body)); top = name; this }
    def addSel(name: String, exprs: String): this.type = add(name, s"SELECT *, $exprs FROM $top")
    def result(finalSelect: String): String =
      "WITH " + buf.map { case (n, b) => s"$n AS ($b)" }.mkString(", ") + " " + finalSelect
  }
  def series = new Cte("s", seriesCte)

  /** Oracle mirror of stage.ema (sma-seeded adjust=False ema). */
  def emaSql(b: Cte, src: String, out: String, n: Int): Cte = {
    val a = 2.0 / (n + 1)
    b.addSel(s"${out}_p", s"row_number() $ov AS ${out}_rn, avg($src) ${fr(n)} AS ${out}_sd")
      .addSel(
        s"${out}_z",
        s"CASE WHEN ${out}_rn < $n THEN NULL WHEN ${out}_rn = $n THEN ${out}_sd ELSE $src END AS ${out}_zz"
      )
      .addSel(s"${out}_c", s"${ewm(s"${out}_zz", a)} AS $out")
  }

  def madSql(b: Cte, src: String, out: String, n: Int): Cte =
    b.addSel(s"${out}_p", s"list($src) ${fr(n)} AS ${out}_xs, avg($src) ${fr(n)} AS ${out}_m, count($src) ${fr(n)} AS ${out}_cnt")
      .addSel(
        s"${out}_c",
        s"CASE WHEN ${out}_cnt >= $n THEN list_reduce(list_transform(${out}_xs, v -> abs(v - ${out}_m)), (x, y) -> x + y) / len(${out}_xs) END AS $out"
      )

  /** Standard wrapper: build columns over userSeries, normalize + order. */
  private def mk(name: String, outs: Seq[String], sql: String)(
      build: DataFrame => DataFrame
  ): Q =
    Q(
      name,
      (spark: SparkSession, dir: String) => {
        Graft.init(spark)
        build(Graft.userSeries(spark, dir))
          .select(col("series_id") +: col("ts") +: outs.map(o => P.normd(col(o)).as(o)): _*)
          .orderBy("series_id", "ts")
      },
      Some(sql)
    )

  private def fin(b: Cte, outs: Seq[String]): String =
    b.result(
      s"SELECT series_id, ts, ${outs.map(o => s"${normd(o)} AS $o").mkString(", ")} FROM ${b.top}$orderTail"
    )

  // ---------------------------------------------------------------- sma
  val qSma = mk("sma_10", Seq("sma_10"), fin(series.addSel("t1", s"${rmean("close", 10)} AS sma_10"), Seq("sma_10"))) {
    _.withColumn("sma_10", P.rmean(col("close"), 10))
  }

  // ---------------------------------------------------------------- ema
  val qEma = mk("ema_10", Seq("ema_10"), fin(emaSql(series, "close", "ema_10", 10), Seq("ema_10"))) {
    stage.ema(_, "close", "ema_10", 10)
  }

  // ---------------------------------------------------------------- wma
  val qWma = mk("wma_10", Seq("wma_10"), fin(series.addSel("t1", s"${wma("close", 10)} AS wma_10"), Seq("wma_10"))) {
    _.withColumn("wma_10", P.wma(col("close"), 10))
  }

  // ---------------------------------------------------------------- rma
  val qRma = mk("rma_10", Seq("rma_10"), fin(series.addSel("t1", s"${rma("close", 10)} AS rma_10"), Seq("rma_10"))) {
    stage.rma(_, "close", "rma_10", 10)
  }

  // ------------------------------------------------------------ dema/tema
  val qDema = {
    val b = emaSql(emaSql(series, "close", "e1", 10), "e1", "e2", 10)
      .addSel("t9", "2e0*e1 - e2 AS dema_10")
    mk("dema_10", Seq("dema_10"), fin(b, Seq("dema_10"))) { df0 =>
      val df1 = stage.ema(df0, "close", "e1", 10)
      val df2 = stage.ema(df1, "e1", "e2", 10)
      df2.withColumn("dema_10", lit(2.0) * col("e1") - col("e2"))
    }
  }

  val qTema = {
    val b = emaSql(emaSql(emaSql(series, "close", "e1", 10), "e1", "e2", 10), "e2", "e3", 10)
      .addSel("t9", "3e0*e1 - 3e0*e2 + e3 AS tema_10")
    mk("tema_10", Seq("tema_10"), fin(b, Seq("tema_10"))) { df0 =>
      val d1 = stage.ema(df0, "close", "e1", 10)
      val d2 = stage.ema(d1, "e1", "e2", 10)
      val d3 = stage.ema(d2, "e2", "e3", 10)
      d3.withColumn("tema_10", lit(3.0) * col("e1") - lit(3.0) * col("e2") + col("e3"))
    }
  }

  // ---------------------------------------------------------------- trima
  val qTrima = {
    // trima(n) = sma(sma(x, ceil((n+1)/2)), floor(n/2)+1); n=10 → 6, 6
    val b = series
      .addSel("t1", s"${rmean("close", 6)} AS tr_in")
      .addSel("t2", s"${rmean("tr_in", 6)} AS trima_10")
    mk("trima_10", Seq("trima_10"), fin(b, Seq("trima_10"))) {
      _.withColumn("tr_in", P.rmean(col("close"), 6))
        .withColumn("trima_10", P.rmean(col("tr_in"), 6))
    }
  }

  // ---------------------------------------------------------------- hma
  val qHma = {
    // hma(n) = wma(2·wma(n/2) − wma(n), floor(√n)); n=10 → wma5, wma10, wma3
    val b = series
      .addSel("t1", s"${wma("close", 5)} AS w5, ${wma("close", 10)} AS w10")
      .addSel("t2", "2e0*w5 - w10 AS hraw")
      .addSel("t3", s"${wma("hraw", 3)} AS hma_10")
    mk("hma_10", Seq("hma_10"), fin(b, Seq("hma_10"))) {
      _.withColumn("w5", P.wma(col("close"), 5))
        .withColumn("w10", P.wma(col("close"), 10))
        .withColumn("hraw", lit(2.0) * col("w5") - col("w10"))
        .withColumn("hma_10", P.wma(col("hraw"), 3))
    }
  }

  // ---------------------------------------------------------------- rsi
  val qRsi = {
    val b = series
      .addSel("t1", s"close - lag(close, 1) $ov AS d")
      .addSel("t2", "CASE WHEN d IS NULL THEN NULL WHEN d > 0 THEN d ELSE 0e0 END AS up, " +
        "CASE WHEN d IS NULL THEN NULL WHEN d < 0 THEN -d ELSE 0e0 END AS dn")
      .addSel("t3", s"${rma("up", 10)} AS ru, ${rma("dn", 10)} AS rd")
      .addSel("t4", s"100e0 * ${sdiv("ru", "(ru + rd)")} AS rsi_10")
    mk("rsi_10", Seq("rsi_10"), fin(b, Seq("rsi_10"))) {
      _.withColumn("d", P.diff(col("close")))
        .withColumn("up", when(col("d").isNull, lit(null)).when(col("d") > 0, col("d")).otherwise(lit(0.0)))
        .withColumn("dn", when(col("d").isNull, lit(null)).when(col("d") < 0, -col("d")).otherwise(lit(0.0)))
        .withColumn("ru", P.rmaOf(col("up"), 10))
        .withColumn("rd", P.rmaOf(col("dn"), 10))
        .withColumn("rsi_10", lit(100.0) * P.sdiv(col("ru"), col("ru") + col("rd")))
    }
  }

  // ---------------------------------------------------------------- macd
  val qMacd = {
    val a12 = 2.0 / 13; val a26 = 2.0 / 27; val a9 = 2.0 / 10
    val b = series
      .addSel("t1", s"${ewm("close", a12)} AS e12, ${ewm("close", a26)} AS e26")
      .addSel("t2", "e12 - e26 AS macd")
      .addSel("t3", s"${ewm("macd", a9)} AS macds")
      .addSel("t4", "macd - macds AS macdh")
    mk("macd_12_26_9", Seq("macd", "macds", "macdh"), fin(b, Seq("macd", "macds", "macdh"))) {
      _.withColumn("e12", P.ewm(col("close"), a12))
        .withColumn("e26", P.ewm(col("close"), a26))
        .withColumn("macd", col("e12") - col("e26"))
        .withColumn("macds", P.ewm(col("macd"), a9))
        .withColumn("macdh", col("macd") - col("macds"))
    }
  }

  // ---------------------------------------------------------------- mom/roc
  val qMomRoc = {
    val b = series.addSel(
      "t1",
      s"close - lag(close, 10) $ov AS mom_10, " +
        s"100e0 * (${sdiv("close", s"lag(close, 10) $ov")} - 1e0) AS roc_10, " +
        s"(close - lag(close, 1) $ov) / 1e0 AS slope_1"
    )
    mk("mom_roc_10", Seq("mom_10", "roc_10", "slope_1"), fin(b, Seq("mom_10", "roc_10", "slope_1"))) {
      _.withColumn("mom_10", P.diff(col("close"), 10))
        .withColumn("roc_10", lit(100.0) * P.pctChange(col("close"), 10))
        .withColumn("slope_1", P.diff(col("close"), 1) / lit(1.0))
    }
  }

  // ---------------------------------------------------------------- rolling stats
  val qStats = {
    val b = series.addSel(
      "t1",
      s"${rstd("close", 10)} AS stdev_10, ${rvar("close", 10)} AS variance_10, " +
        s"${rquantile("close", 0.5, 10)} AS median_10, ${rquantile("close", 0.75, 10)} AS quantile_10_075, " +
        s"${rmean("close", 10)} AS m10"
    ).addSel("t2", s"${sdiv("(close - m10)", "stdev_10")} AS zscore_10")
    mk(
      "stats_10",
      Seq("stdev_10", "variance_10", "median_10", "quantile_10_075", "zscore_10"),
      fin(b, Seq("stdev_10", "variance_10", "median_10", "quantile_10_075", "zscore_10"))
    ) {
      _.withColumn("stdev_10", P.rstd(col("close"), 10))
        .withColumn("variance_10", P.rvar(col("close"), 10))
        .withColumn("median_10", P.rmedian(col("close"), 10))
        .withColumn("quantile_10_075", P.rquantile(col("close"), 0.75, 10))
        .withColumn("m10", P.rmean(col("close"), 10))
        .withColumn("zscore_10", P.sdiv(col("close") - col("m10"), col("stdev_10")))
    }
  }

  // -------------------------------------------------- mad / skew / kurt / entropy
  val qStats2 = {
    val ln2 = math.log(2.0)
    val b0 = madSql(series, "close", "mad_10", 10)
    val b = b0
      .addSel("sk_p", s"sum(close) ${fr(10)} AS s1, sum(close*close) ${fr(10)} AS s2, " +
        s"sum(close*close*close) ${fr(10)} AS s3, sum(close*close*close*close) ${fr(10)} AS s4, " +
        s"count(close) ${fr(10)} AS cnt, ${rsum("close", 10)} AS rs10")
      .addSel("sk_m", "s1/10e0 AS m, s2/10e0 - (s1/10e0)*(s1/10e0) AS m2, " +
        "s3/10e0 - 3e0*(s1/10e0)*(s2/10e0) + 2e0*(s1/10e0)*(s1/10e0)*(s1/10e0) AS m3, " +
        "s4/10e0 - 4e0*(s1/10e0)*(s3/10e0) + 6e0*(s1/10e0)*(s1/10e0)*(s2/10e0) - 3e0*(s1/10e0)*(s1/10e0)*(s1/10e0)*(s1/10e0) AS m4")
      .addSel("sk_c",
        s"CASE WHEN cnt >= 10 AND m2 > 0 THEN (${sdiv("m3", "sqrt(m2*m2*m2)")}) * sqrt(10e0*9e0) / 8e0 END AS skew_10, " +
        s"CASE WHEN cnt >= 10 AND m2 > 0 THEN ((11e0)*((${sdiv("m4", "(m2*m2)")}) - 3e0) + 6e0) * 9e0 / (8e0*7e0) END AS kurt_10")
      .addSel("en_p", s"${sdiv("close", "rs10")} AS p")
      .addSel("en_t", s"CASE WHEN p > 0 THEN -p * ln(p) / (${d(ln2)}) END AS ent_term")
      .addSel("en_c", s"${rsum("ent_term", 10)} AS entropy_10")
    mk(
      "stats2_10",
      Seq("mad_10", "skew_10", "kurt_10", "entropy_10"),
      fin(b, Seq("mad_10", "skew_10", "kurt_10", "entropy_10"))
    ) { df0 =>
      df0.ta
        .mad(10)
        .withColumn("skew_10", P.rskew(col("close"), 10))
        .withColumn("kurt_10", P.rkurt(col("close"), 10))
        .withColumn("rs10", P.rsum(col("close"), 10))
        .withColumn("p", P.sdiv(col("close"), col("rs10")))
        .withColumn("ent_term", when(col("p") > 0, -col("p") * log(col("p")) / lit(ln2)))
        .withColumn("entropy_10", P.rsum(col("ent_term"), 10))
    }
  }

  // ---------------------------------------------------------------- returns
  val qReturns = {
    val b = series.addSel(
      "t1",
      s"CASE WHEN ${sdiv("close", s"lag(close, 1) $ov")} > 0 THEN ln(${sdiv("close", s"lag(close, 1) $ov")}) END AS log_return_1, " +
        s"${sdiv("close", s"lag(close, 1) $ov")} - 1e0 AS percent_return_1, " +
        s"CASE WHEN ${sdiv("close", s"first_value(close) $cum")} > 0 THEN ln(${sdiv("close", s"first_value(close) $cum")}) END AS log_return_cum, " +
        s"${sdiv("close", s"first_value(close) $cum")} - 1e0 AS percent_return_cum"
    )
    mk(
      "returns",
      Seq("log_return_1", "percent_return_1", "log_return_cum", "percent_return_cum"),
      fin(b, Seq("log_return_1", "percent_return_1", "log_return_cum", "percent_return_cum"))
    ) {
      _.withColumn("log_return_1", P.sln(P.sdiv(col("close"), P.shift(col("close"), 1))))
        .withColumn("percent_return_1", P.pctChange(col("close"), 1))
        .withColumn("log_return_cum", P.sln(P.sdiv(col("close"), first(col("close")).over(P.cum))))
        .withColumn("percent_return_cum", P.sdiv(col("close"), first(col("close")).over(P.cum)) - 1.0)
    }
  }

  // ---------------------------------------------------------------- drawdown
  val qDrawdown = {
    val b = series
      .addSel("t1", s"max(close) $cum AS cmax")
      .addSel("t2", s"cmax - close AS dd, 1e0 - ${sdiv("close", "cmax")} AS dd_pct, " +
        "CASE WHEN cmax > 0 THEN ln(cmax) END - CASE WHEN close > 0 THEN ln(close) END AS dd_log")
    mk("drawdown", Seq("dd", "dd_pct", "dd_log"), fin(b, Seq("dd", "dd_pct", "dd_log"))) {
      _.withColumn("cmax", P.cummax(col("close")))
        .withColumn("dd", col("cmax") - col("close"))
        .withColumn("dd_pct", lit(1.0) - P.sdiv(col("close"), col("cmax")))
        .withColumn("dd_log", P.sln(col("cmax")) - P.sln(col("close")))
    }
  }

  // ------------------------------------------------------------ SQL surface
  /** The indicator SQL entry points consumed AS A SQL-ONLY USER WOULD:
    * one spark.sql text query over a temp view of the bars table, calling
    * the graft_* wrapper functions (TaSqlSurface) with no Column-API
    * involvement. The wrappers expand to the same prim-layer trees the
    * Scala accessor builds, so the oracle is the standard sqlgen mirror.
    * Covers all three exposed families: W (sma/wma/stdev/zscore/roc),
    * EW (ewma/rma), ELEM (hl2/tr). */
  val qSqlSurface = Q(
    "x_sql_surface",
    (spark: SparkSession, dir: String) => {
      Graft.init(spark)
      Graft.bars(spark, dir).createOrReplaceTempView("graft_bars")
      spark
        .sql(
          """SELECT series_id, ts,
            |  graft_sma(close, 10) AS s_sma,
            |  graft_wma(close, 10) AS s_wma,
            |  graft_stdev(close, 10) AS s_stdev,
            |  graft_zscore(close, 10) AS s_z,
            |  graft_roc(close, 10) AS s_roc,
            |  graft_ewma(close, 0.2) AS s_ewma,
            |  graft_rma(close, 10) AS s_rma,
            |  graft_hl2(high, low) AS s_hl2,
            |  graft_tr(high, low, close) AS s_tr
            |FROM graft_bars""".stripMargin
        )
        .select(
          col("series_id") +: col("ts") +:
            Seq("s_sma", "s_wma", "s_stdev", "s_z", "s_roc", "s_ewma", "s_rma", "s_hl2", "s_tr")
              .map(o => P.normd(col(o)).as(o)): _*
        )
        .orderBy("series_id", "ts")
    },
    Some {
      val b = new Cte("bars", barsCte)
        .addSel(
          "t1",
          s"${rmean("close", 10)} AS s_sma, ${wmaSqlOf("close", 10)} AS s_wma, " +
            s"${rstd("close", 10)} AS s_stdev, " +
            s"${sdiv(s"(close - ${rmean("close", 10)})", rstd("close", 10))} AS s_z, " +
            s"(${sdiv("close", s"lag(close, 10) $ov")} - 1e0) * 100e0 AS s_roc, " +
            s"${ewm("close", 0.2)} AS s_ewma, " +
            s"${rma("close", 10)} AS s_rma, " +
            "(high + low) / 2e0 AS s_hl2, " +
            s"CASE WHEN lag(close, 1) $ov IS NULL THEN NULL ELSE " +
            s"greatest(high - low, abs(high - lag(close, 1) $ov), abs(low - lag(close, 1) $ov)) END AS s_tr"
        )
      b.result(
        "SELECT series_id, ts, " +
          Seq("s_sma", "s_wma", "s_stdev", "s_z", "s_roc", "s_ewma", "s_rma", "s_hl2", "s_tr")
            .map(o => s"${normd(o)} AS $o")
            .mkString(", ") +
          s" FROM ${b.top}$orderTail"
      )
    }
  )

  /** SQL surface PHASE 2 — the seeded-EW composites from pure SQL text:
    * `graft_ema` / `graft_rsi` / `graft_macd` resolve to the single-
    * expression fold kernels (functions.SeededComposites) with the
    * canonical window baked in, so a SQL-only user gets the composites
    * round 7 excluded (TaSqlSurface.scala:22's window-in-window
    * limitation, closed by collapsing each composite into one
    * AggregateWindowFunction). The macd struct output is projected once
    * and field-accessed — one window expression serving three columns.
    * The oracle is the staged-arithmetic mirror (emaSql / the qRsi and
    * qMacd chains) over the same bars, proving fold ≡ staged at 6 dp. */
  val qSqlSurface2 = Q(
    "x_sql_surface2",
    (spark: SparkSession, dir: String) => {
      Graft.init(spark)
      Graft.bars(spark, dir).createOrReplaceTempView("graft_bars")
      spark
        .sql(
          """SELECT series_id, ts, s_ema, s_rsi, s_dema, s_tema,
            |  m.macd AS s_macd, m.macds AS s_macds, m.macdh AS s_macdh
            |FROM (
            |  SELECT series_id, ts,
            |    graft_ema(close, 10) AS s_ema,
            |    graft_rsi(close, 10) AS s_rsi,
            |    graft_dema(close, 10) AS s_dema,
            |    graft_tema(close, 10) AS s_tema,
            |    graft_macd(close, 12, 26, 9) AS m
            |  FROM graft_bars
            |)""".stripMargin
        )
        .select(
          col("series_id") +: col("ts") +:
            Seq("s_ema", "s_rsi", "s_dema", "s_tema", "s_macd", "s_macds", "s_macdh")
              .map(o => P.normd(col(o)).as(o)): _*
        )
        .orderBy("series_id", "ts")
    },
    Some {
      val a12 = 2.0 / 13; val a26 = 2.0 / 27; val a9 = 2.0 / 10
      val b = emaSql(new Cte("bars", barsCte), "close", "s_ema", 10)
        .addSel("r1", s"close - lag(close, 1) $ov AS rd_")
        .addSel(
          "r2",
          "CASE WHEN rd_ IS NULL THEN NULL WHEN rd_ > 0 THEN rd_ ELSE 0e0 END AS rup_, " +
            "CASE WHEN rd_ IS NULL THEN NULL WHEN rd_ < 0 THEN -rd_ ELSE 0e0 END AS rdn_"
        )
        .addSel("r3", s"${rma("rup_", 10)} AS ru_, ${rma("rdn_", 10)} AS rd2_")
        .addSel("r4", s"100e0 * ${sdiv("ru_", "(ru_ + rd2_)")} AS s_rsi")
        .addSel("m1", s"${ewm("close", a12)} AS e12_, ${ewm("close", a26)} AS e26_")
        .addSel("m2", "e12_ - e26_ AS s_macd")
        .addSel("m3", s"${ewm("s_macd", a9)} AS s_macds")
        .addSel("m4", "s_macd - s_macds AS s_macdh")
      // dema/tema cascades: s_ema IS level-1 e1; chain two more seeded levels
      val b2 = emaSql(emaSql(b, "s_ema", "dt_e2", 10), "dt_e2", "dt_e3", 10)
        .addSel("dt", "2e0*s_ema - dt_e2 AS s_dema, 3e0*s_ema - 3e0*dt_e2 + dt_e3 AS s_tema")
      b2.result(
        "SELECT series_id, ts, " +
          Seq("s_ema", "s_rsi", "s_dema", "s_tema", "s_macd", "s_macds", "s_macdh")
            .map(o => s"${normd(o)} AS $o")
            .mkString(", ") +
          s" FROM ${b2.top}$orderTail"
      )
    }
  )

  /** SQL surface PHASE 3 — the Wilder/rma-seeded composites and the
    * multi-input W-class structs from pure SQL text: `graft_atr`/
    * `graft_natr` (true-range fold + Wilder accumulator with rmaOf's
    * count mask), `graft_stoch` (struct, the k/d smoothing unrolled into
    * shifted frames — no window-in-window), `graft_bbands` (struct, pure
    * single-level W class), `graft_trix`/`graft_tsi` (seeded-ema chains
    * with per-level lengths in one buffer), `graft_adx` (struct: ±DM,
    * TR and DX Wilder accumulators chained in one fold). Oracle = the
    * staged-arithmetic mirrors already proven for the accessor queries
    * (qAtr/qStoch/qBbands/qTrixTsi/qAdx spellings) over the same bars,
    * so fold ≡ staged at 6 dp; WilderFoldSpec proves bit-identity at
    * full precision against the staged Ta accessors. */
  private val sqlSurface3Outs = Seq(
    "s_atr", "s_natr", "s_stk", "s_std",
    "s_bbm", "s_bbl", "s_bbu", "s_bbb", "s_bbp",
    "s_trix", "s_tsi", "s_dip", "s_dim", "s_adx"
  )

  val qSqlSurface3 = Q(
    "x_sql_surface3",
    (spark: SparkSession, dir: String) => {
      Graft.init(spark)
      Graft.bars(spark, dir).createOrReplaceTempView("graft_bars")
      spark
        .sql(
          """SELECT series_id, ts,
            |  s_atr, s_natr,
            |  st.stoch_k AS s_stk, st.stoch_d AS s_std,
            |  bb.bbm AS s_bbm, bb.bbl AS s_bbl, bb.bbu AS s_bbu,
            |  bb.bbb AS s_bbb, bb.bbp AS s_bbp,
            |  s_trix, s_tsi,
            |  ax.dip AS s_dip, ax.dim AS s_dim, ax.adx AS s_adx
            |FROM (
            |  SELECT series_id, ts,
            |    graft_atr(high, low, close, 10) AS s_atr,
            |    graft_natr(high, low, close, 10) AS s_natr,
            |    graft_stoch(high, low, close, 10, 3, 3) AS st,
            |    graft_bbands(close, 5, 2.0) AS bb,
            |    graft_trix(close, 10) AS s_trix,
            |    graft_tsi(close, 13, 25) AS s_tsi,
            |    graft_adx(high, low, close, 14, 14) AS ax
            |  FROM graft_bars
            |)""".stripMargin
        )
        .select(
          col("series_id") +: col("ts") +: sqlSurface3Outs.map(o => P.normd(col(o)).as(o)): _*
        )
        .orderBy("series_id", "ts")
    },
    Some {
      val trSql =
        s"CASE WHEN lag(close, 1) $ov IS NULL THEN NULL ELSE " +
          s"greatest(high - low, abs(high - lag(close, 1) $ov), abs(low - lag(close, 1) $ov)) END"
      val b0 = new Cte("bars", sqlgen.barsCte)
        // atr / natr
        .addSel("w1", s"$trSql AS tr_")
        .addSel("w2", s"${rma("tr_", 10)} AS s_atr")
        .addSel("w3", s"100e0 * ${sdiv("s_atr", "close")} AS s_natr")
        // stoch 10/3/3
        .addSel("w4", s"${rmin("low", 10)} AS ll_, ${rmax("high", 10)} AS hh_")
        .addSel("w5", s"100e0 * ${sdiv("(close - ll_)", "(hh_ - ll_)")} AS fk_")
        .addSel("w6", s"${rmean("fk_", 3)} AS s_stk")
        .addSel("w7", s"${rmean("s_stk", 3)} AS s_std")
        // bbands 5/2
        .addSel("w8", s"${rmean("close", 5)} AS bbmid_, ${rstd("close", 5)} * 2e0 AS bbdev_")
        .addSel(
          "w9",
          "bbmid_ AS s_bbm, bbmid_ - bbdev_ AS s_bbl, bbmid_ + bbdev_ AS s_bbu, " +
            s"100e0 * ${sdiv("(2e0 * bbdev_)", "bbmid_")} AS s_bbb, " +
            s"${sdiv("(close - (bbmid_ - bbdev_))", "(2e0 * bbdev_)")} AS s_bbp"
        )
      // trix / tsi chains (the qTrixTsi spellings)
      val b1 = emaSql(emaSql(emaSql(b0, "close", "xte1", 10), "xte1", "xte2", 10), "xte2", "xte3", 10)
        .addSel("w10", s"100e0 * (${sdiv("xte3", s"lag(xte3, 1) $ov")} - 1e0) AS s_trix, " +
          s"close - lag(close, 1) $ov AS xdd, abs(close - lag(close, 1) $ov) AS xad")
      val b2 = emaSql(emaSql(b1, "xdd", "xds", 25), "xds", "xdss", 13)
      val b3 = emaSql(emaSql(b2, "xad", "xas", 25), "xas", "xass", 13)
        .addSel("w11", s"100e0 * ${sdiv("xdss", "xass")} AS s_tsi")
        // adx (the qAdx spellings)
        .addSel("w12", s"high - lag(high, 1) $ov AS xup, lag(low, 1) $ov - low AS xdn")
        .addSel(
          "w13",
          "CASE WHEN xup IS NULL OR xdn IS NULL THEN NULL WHEN xup > xdn AND xup > 0 THEN xup ELSE 0e0 END AS xpdm, " +
            "CASE WHEN xup IS NULL OR xdn IS NULL THEN NULL WHEN xdn > xup AND xdn > 0 THEN xdn ELSE 0e0 END AS xmdm"
        )
        .addSel("w14", s"${rma("xpdm", 14)} AS xdmp, ${rma("xmdm", 14)} AS xdmn, ${rma("tr_", 14)} AS xatr")
        .addSel("w15", s"100e0 * ${sdiv("xdmp", "xatr")} AS s_dip, 100e0 * ${sdiv("xdmn", "xatr")} AS s_dim")
        .addSel("w16", s"100e0 * ${sdiv("abs(s_dip - s_dim)", "(s_dip + s_dim)")} AS xdx")
        .addSel("w17", s"${rma("xdx", 14)} AS s_adx")
      b3.result(
        "SELECT series_id, ts, " +
          sqlSurface3Outs.map(o => s"${normd(o)} AS $o").mkString(", ") +
          s" FROM ${b3.top}$orderTail"
      )
    }
  )

  /** wma oracle fragment (normalized 1..n weights in lag order). */
  private def wmaSqlOf(x: String, n: Int): String = {
    val ws = (1 to n).map(_.toDouble)
    val s = ws.sum
    gate(x, n, wdot(x, ws.reverse.map(_ / s)))
  }

  /** Ta.wdotMa oracle fragment (window-ordered weights → lag order). */
  private def wdotMaSql(x: String, weights: Seq[Double]): String = {
    val s = weights.sum
    gate(x, weights.size, wdot(x, weights.reverse.map(_ / s)))
  }

  /** SQL surface PHASE 5a (round 10) — the weighted-MA family, returns/
    * drawdown, and the remaining rolling stats from pure SQL text. The
    * two-level kinds (graft_hma, graft_trima) and the share-window kind
    * (graft_entropy) flatten their outer level into shifted copies of
    * the inner expression (TaSqlSurface), so each stays ONE projection;
    * the oracle is the staged mirror already proven for the accessor
    * queries (alma_10…sinwma_10, hma_10, trima_10, returns, drawdown,
    * stats2_10 spellings) over the same bars. */
  private val sqlSurface6Outs = Seq(
    "s_alma", "s_fwma", "s_pwma", "s_swma", "s_sinwma", "s_hma", "s_trima",
    "s_lr", "s_pr", "s_lrc", "s_prc", "s_dd", "s_ddp", "s_ddl",
    "s_mad", "s_skew", "s_kurt", "s_q", "s_ent"
  )

  val qSqlSurface6 = Q(
    "x_sql_surface6",
    (spark: SparkSession, dir: String) => {
      Graft.init(spark)
      Graft.bars(spark, dir).createOrReplaceTempView("graft_bars6")
      spark
        .sql(
          """SELECT series_id, ts,
            |  graft_alma(close, 10, 6.0, 0.85) AS s_alma,
            |  graft_fwma(close, 10) AS s_fwma,
            |  graft_pwma(close, 10) AS s_pwma,
            |  graft_swma(close, 10) AS s_swma,
            |  graft_sinwma(close, 10) AS s_sinwma,
            |  graft_hma(close, 10) AS s_hma,
            |  graft_trima(close, 10) AS s_trima,
            |  graft_log_return(close, 1) AS s_lr,
            |  graft_percent_return(close, 1) AS s_pr,
            |  graft_log_return_cum(close) AS s_lrc,
            |  graft_percent_return_cum(close) AS s_prc,
            |  dd.dd AS s_dd, dd.dd_pct AS s_ddp, dd.dd_log AS s_ddl,
            |  graft_mad(close, 10) AS s_mad,
            |  graft_skew(close, 10) AS s_skew,
            |  graft_kurtosis(close, 10) AS s_kurt,
            |  graft_quantile(close, 10, 0.75) AS s_q,
            |  graft_entropy(close, 10, 2.0) AS s_ent
            |FROM (SELECT *, graft_drawdown(close) AS dd FROM graft_bars6)""".stripMargin
        )
        .select(
          col("series_id") +: col("ts") +: sqlSurface6Outs.map(o => P.normd(col(o)).as(o)): _*
        )
        .orderBy("series_id", "ts")
    },
    Some {
      val ln2 = math.log(2.0)
      // weighted MAs (the MaQueries weight formulas, n = 10)
      val n = 10
      val mAl = 0.85 * (n - 1); val sAl = n / 6.0
      val almaW = (0 until n).map(i => math.exp(-(i - mAl) * (i - mAl) / (2 * sAl * sAl)))
      val fibW = Iterator.iterate((1.0, 1.0)) { case (a, b) => (b, a + b) }.map(_._1).take(n).toSeq
      val pwmaW = (0 until n).scanLeft(1.0) { case (acc, k) => acc * (n - 1 - k) / (k + 1) }.take(n)
      val swmaW = ((1 to 5) ++ (5 to 1 by -1)).map(_.toDouble)
      val sinW = (0 until n).map(i => math.sin((i + 1) * math.Pi / (n + 1)))
      val b0 = new Cte("bars", barsCte)
        .addSel(
          "p1",
          s"${wdotMaSql("close", almaW)} AS s_alma, ${wdotMaSql("close", fibW)} AS s_fwma, " +
            s"${wdotMaSql("close", pwmaW)} AS s_pwma, ${wdotMaSql("close", swmaW)} AS s_swma, " +
            s"${wdotMaSql("close", sinW)} AS s_sinwma, " +
            s"${wma("close", 5)} AS hw5, ${wma("close", 10)} AS hw10, " +
            s"${rmean("close", 6)} AS tt1, " +
            // returns
            s"CASE WHEN ${sdiv("close", s"lag(close, 1) $ov")} > 0 THEN ln(${sdiv("close", s"lag(close, 1) $ov")}) END AS s_lr, " +
            s"${sdiv("close", s"lag(close, 1) $ov")} - 1e0 AS s_pr, " +
            s"CASE WHEN ${sdiv("close", s"first_value(close) $cum")} > 0 THEN ln(${sdiv("close", s"first_value(close) $cum")}) END AS s_lrc, " +
            s"${sdiv("close", s"first_value(close) $cum")} - 1e0 AS s_prc, " +
            // drawdown
            s"max(close) $cum AS cmax, " +
            // stats
            s"${rquantile("close", 0.75, 10)} AS s_q"
        )
        .addSel(
          "p2",
          "2e0*hw5 - hw10 AS hraw, " +
            s"${rmean("tt1", 6)} AS s_trima, " +
            s"cmax - close AS s_dd, 1e0 - ${sdiv("close", "cmax")} AS s_ddp, " +
            "CASE WHEN cmax > 0 THEN ln(cmax) END - CASE WHEN close > 0 THEN ln(close) END AS s_ddl"
        )
        .addSel("p3", s"${wma("hraw", 3)} AS s_hma")
        // skew / kurt (the stats2_10 moment spellings, n = 10)
        .addSel("sk_p", s"sum(close) ${fr(10)} AS s1, sum(close*close) ${fr(10)} AS s2, " +
          s"sum(close*close*close) ${fr(10)} AS s3, sum(close*close*close*close) ${fr(10)} AS s4, " +
          s"count(close) ${fr(10)} AS cnt, ${rsum("close", 10)} AS rs10")
        .addSel("sk_m", "s1/10e0 AS m, s2/10e0 - (s1/10e0)*(s1/10e0) AS m2, " +
          "s3/10e0 - 3e0*(s1/10e0)*(s2/10e0) + 2e0*(s1/10e0)*(s1/10e0)*(s1/10e0) AS m3, " +
          "s4/10e0 - 4e0*(s1/10e0)*(s3/10e0) + 6e0*(s1/10e0)*(s1/10e0)*(s2/10e0) - 3e0*(s1/10e0)*(s1/10e0)*(s1/10e0)*(s1/10e0) AS m4")
        .addSel("sk_c",
          s"CASE WHEN cnt >= 10 AND m2 > 0 THEN (${sdiv("m3", "sqrt(m2*m2*m2)")}) * sqrt(10e0*9e0) / 8e0 END AS s_skew, " +
          s"CASE WHEN cnt >= 10 AND m2 > 0 THEN ((11e0)*((${sdiv("m4", "(m2*m2)")}) - 3e0) + 6e0) * 9e0 / (8e0*7e0) END AS s_kurt")
        // entropy (the stats2_10 share spellings)
        .addSel("en_p", s"${sdiv("close", "rs10")} AS p")
        .addSel("en_t", s"CASE WHEN p > 0 THEN -p * ln(p) / (${d(ln2)}) END AS ent_term")
        .addSel("en_c", s"${rsum("ent_term", 10)} AS s_ent")
      val b = madSql(b0, "close", "s_mad", 10)
      b.result(
        "SELECT series_id, ts, " +
          sqlSurface6Outs.map(o => s"${normd(o)} AS $o").mkString(", ") +
          s" FROM ${b.top}$orderTail"
      )
    }
  )

  /** SQL surface PHASE 5b (round 10) — the volume family from pure SQL
    * text: the cumulative kinds whose staged spellings nest a diff
    * inside cumsum (obv/pvt/efi) route through the phase-5 folds
    * (SeededComposites.ObvFold/PvtFold/EfiFold); ad/cmf are single-level
    * compositions; eom/mfi flatten their lag-bearing rolling means into
    * shifted copies. Oracle = the qVolCum/qVolWindow spellings. */
  private val sqlSurface7Outs =
    Seq("s_obv", "s_ad", "s_cmf", "s_efi", "s_eom", "s_mfi", "s_pvt")

  val qSqlSurface7 = Q(
    "x_sql_surface7",
    (spark: SparkSession, dir: String) => {
      Graft.init(spark)
      Graft.bars(spark, dir).createOrReplaceTempView("graft_bars7")
      spark
        .sql(
          """SELECT series_id, ts,
            |  graft_obv(close, volume) AS s_obv,
            |  graft_ad(high, low, close, volume) AS s_ad,
            |  graft_cmf(high, low, close, volume, 10) AS s_cmf,
            |  graft_efi(close, volume, 10) AS s_efi,
            |  graft_eom(high, low, volume, 14, 1e8) AS s_eom,
            |  graft_mfi(high, low, close, volume, 10) AS s_mfi,
            |  graft_pvt(close, volume) AS s_pvt
            |FROM graft_bars7""".stripMargin
        )
        .select(
          col("series_id") +: col("ts") +: sqlSurface7Outs.map(o => P.normd(col(o)).as(o)): _*
        )
        .orderBy("series_id", "ts")
    },
    Some {
      val b0 = new Cte("bars", barsCte)
        .addSel("v1", s"row_number() $ov AS rnn, close - lag(close, 1) $ov AS dc, " +
          s"(close - lag(close, 1) $ov) * volume AS fraw, " +
          s"${sdiv("close", s"lag(close, 1) $ov")} - 1e0 AS r1, " +
          s"(high + low) / 2e0 - lag((high + low) / 2e0, 1) $ov AS dhl2, " +
          "(high + low + close) / 3e0 AS tp")
        .addSel("v2",
          "CASE WHEN rnn = 1 THEN 1e0 WHEN dc > 0 THEN 1e0 WHEN dc < 0 THEN -1e0 ELSE 0e0 END * volume AS sgnv, " +
            "CASE WHEN high != low THEN ((close - low) - (high - close)) / (high - low) ELSE 0e0 END * volume AS clvv, " +
            "coalesce(r1 * volume, 0e0) AS pvtr, " +
            s"1e8 * dhl2 * ${sdiv("(high - low)", "volume")} AS eomraw, " +
            s"tp - lag(tp, 1) $ov AS dtp")
        .addSel("v3",
          s"sum(sgnv) $cum AS s_obv, sum(clvv) $cum AS s_ad, sum(pvtr) $cum AS s_pvt, " +
            s"${sdiv(rsum("clvv", 10), rsum("volume", 10))} AS s_cmf, " +
            s"${rmean("eomraw", 14)} AS s_eom, " +
            "CASE WHEN dtp > 0 THEN tp * volume ELSE 0e0 END AS posf, " +
            "CASE WHEN dtp < 0 THEN tp * volume ELSE 0e0 END AS negf")
        .addSel("v4", s"100e0 * ${sdiv(rsum("posf", 10), s"(${rsum("posf", 10)} + ${rsum("negf", 10)})")} AS s_mfi")
      val b = emaSql(b0, "fraw", "s_efi", 10)
      b.result(
        "SELECT series_id, ts, " +
          sqlSurface7Outs.map(o => s"${normd(o)} AS $o").mkString(", ") +
          s" FROM ${b.top}$orderTail"
      )
    }
  )

  /** SQL surface PHASE 5c (round 10) — the adaptive recursions kama and
    * vidya from pure SQL text, staged exactly as a SQL user would: the
    * per-row coefficient (graft_kama_sc / graft_vidya_al — single-level
    * window unrolls) computes in a subquery, and the outer projection
    * applies the LinRecur fold (graft_kama / graft_vidya) over the plain
    * staged column — the graft_hilo_k staged-input shape. Oracle = the
    * proven qKama/qVidya recursive-CTE spellings, composed. */
  val qSqlSurface8 = Q(
    "x_sql_surface8",
    (spark: SparkSession, dir: String) => {
      Graft.init(spark)
      Graft.userSeries(spark, dir).createOrReplaceTempView("graft_series8")
      spark
        .sql(
          """SELECT series_id, ts,
            |  graft_kama(close, sc) AS kama_10,
            |  graft_vidya(close, al) AS vidya_10
            |FROM (SELECT *,
            |  graft_kama_sc(close, 10, 2, 30) AS sc,
            |  graft_vidya_al(close, 10) AS al
            |  FROM graft_series8)""".stripMargin
        )
        .select(
          col("series_id"), col("ts"),
          P.normd(col("kama_10")).as("kama_10"),
          P.normd(col("vidya_10")).as("vidya_10")
        )
        .orderBy("series_id", "ts")
    },
    Some(
      composeJoin(Seq(
        RecQueries.qKama.sql.get -> Seq("kama_10"),
        RecQueries.qVidya.sql.get -> Seq("vidya_10")
      ))
    )
  )

  def all: Seq[Q] = Seq(
    qSma, qEma, qWma, qRma, qDema, qTema, qTrima, qHma, qRsi, qMacd, qMomRoc,
    qStats, qStats2, qReturns, qDrawdown, qSqlSurface, qSqlSurface2, qSqlSurface3,
    qSqlSurface6, qSqlSurface7, qSqlSurface8
  )
}
