package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verifiable query: a Spark implementation plus (usually) the exact
  * ANSI-SQL DuckDB oracle over the same parquet tables. Both sides follow
  * the shared normalization contract (FIXTURES.md §4): double outputs
  * rounded to 6 dp, NaN/±Inf → NULL, ORDER BY (series_id, ts).
  */
final case class Q(
    name: String,
    spark: (SparkSession, String) => DataFrame,
    sql: Option[String]
)

/** DuckDB-side SQL generators, mirroring graft.ta.prim expression-for-
  * expression so both engines run the same arithmetic in the same order
  * (FP-parity at 6 dp depends on it).
  */
object sqlgen {
  val W = "PARTITION BY series_id ORDER BY ts"

  /** Fixed frame of last n rows. */
  def fr(n: Int) = s"OVER ($W ROWS BETWEEN ${n - 1} PRECEDING AND CURRENT ROW)"

  /** Running frame. */
  val cum = s"OVER ($W ROWS UNBOUNDED PRECEDING)"

  /** Plain ordered window (lag/lead/row_number). */
  val ov = s"OVER ($W)"

  /** Emit a Scala double as a DuckDB DOUBLE literal (e-notation forces
    * DOUBLE type; plain decimals would parse as DECIMAL and change the
    * arithmetic). Double.toString round-trips, so the parsed value is
    * bit-identical to the Spark-side literal. */
  def d(v: Double): String = {
    val s = v.toString
    if (s.contains('e') || s.contains('E')) s else s + "e0"
  }

  /** min_periods gate. */
  def gate(x: String, n: Int, v: String) = s"CASE WHEN count($x) ${fr(n)} >= $n THEN $v END"

  def rmean(x: String, n: Int) = gate(x, n, s"avg($x) ${fr(n)}")
  def rsum(x: String, n: Int) = gate(x, n, s"sum($x) ${fr(n)}")
  def rmin(x: String, n: Int) = gate(x, n, s"min($x) ${fr(n)}")
  def rmax(x: String, n: Int) = gate(x, n, s"max($x) ${fr(n)}")
  def rstd(x: String, n: Int) = gate(x, n, s"stddev_samp($x) ${fr(n)}")
  def rvar(x: String, n: Int) = gate(x, n, s"var_samp($x) ${fr(n)}")
  def rquantile(x: String, q: Double, n: Int) = gate(x, n, s"quantile_cont($x, ${q}) ${fr(n)}")

  /** pandas ewm(alpha, adjust=False).mean() — left fold over the running
    * frame, null-skipping, seeded with the first non-null value. Matches
    * graft.functions.LinRecur's update (1-a)*acc + a*x term-for-term. */
  def ewm(x: String, alpha: Double): String =
    s"CASE WHEN count($x) $cum >= 1 THEN " +
      s"list_reduce(list_filter(list($x) $cum, v -> v IS NOT NULL), " +
      s"(acc, v) -> (${d(1.0 - alpha)})*acc + (${d(alpha)})*v) END"

  /** Wilder rma: ewm(1/n) masked until n observations. */
  def rma(x: String, n: Int): String =
    s"CASE WHEN count($x) $cum >= $n THEN ${ewm(x, 1.0 / n)} END"

  /** Σ weights(i)·x_{t-i}, i=0 newest — mirror of prim.wdot lag-unroll. */
  def wdot(x: String, weights: Seq[Double]): String =
    weights.zipWithIndex
      .map { case (wi, i) => s"lag($x, $i) $ov * (${d(wi)})" }
      .mkString(" + ")

  def wma(x: String, n: Int): String = {
    val ws = (1 to n).map(_.toDouble)
    val denom = ws.sum
    wdot(x, ws.reverse.map(_ / denom))
  }

  /** Rolling-OLS closed form vs x = 0..n−1 — mirror of StrategyCompiler.linregLv.
    * Emits SELECT-fragment columns <p>_slope, <p>_intercept, <p>_tsf, <p>_r
    * given staged sxy/sy/syy columns (see linregStage). */
  def linregStage(x: String, n: Int): String = {
    val nn = n.toDouble
    val sxy = (0 until n).map(j => s"lag($x, $j) $ov * (${d((n - 1 - j).toDouble)})").mkString(" + ")
    s"CASE WHEN count($x) ${fr(n)} >= $n THEN $sxy END AS __sxy, " +
      s"CASE WHEN count($x) ${fr(n)} >= $n THEN sum($x) ${fr(n)} END AS __sy, " +
      s"CASE WHEN count($x) ${fr(n)} >= $n THEN sum($x*$x) ${fr(n)} END AS __syy"
  }

  def linregCalc(p: String, n: Int): (String, String) = {
    val nn = n.toDouble
    val sx = (0 until n).map(_.toDouble).sum
    val sxx = (0 until n).map(i => i.toDouble * i).sum
    val dx = nn * sxx - sx * sx
    val slope = s"(${d(nn)} * __sxy - ${d(sx)} * __sy) / ${d(dx)} AS ${p}_slope"
    val rest = s"(__sy - ${p}_slope * ${d(sx)}) / ${d(nn)} + ${p}_slope * ${d(nn - 1.0)} AS ${p}_tsf, " +
      s"(__sy - ${p}_slope * ${d(sx)}) / ${d(nn)} AS ${p}_intercept, " +
      s"(${d(nn)} * __sxy - ${d(sx)} * __sy) / (CASE WHEN (${d(nn)} * __syy - __sy * __sy) * ${d(dx)} > 0 " +
      s"THEN sqrt((${d(nn)} * __syy - __sy * __sy) * ${d(dx)}) END) AS ${p}_r"
    (slope, rest)
  }

  /** Safe division (explicit, though DuckDB already NULLs div-by-zero). */
  def sdiv(a: String, b: String) = s"($a / nullif($b, 0))"

  /** Final normalization for a double output column. */
  def normd(x: String) = s"round($x, 6)"

  /** Per-user value series — canonical partitioned indicator input.
    * epoch_us matches Spark's `ts DIV 1000` on the raw nanos long. */
  val seriesCte =
    "SELECT user_id AS series_id, epoch_us(ts) AS ts, value AS close FROM events"

  /** Daily OHLCV bars from events (Q01 rule, FIXTURES.md §2.1). */
  val barsCte =
    "SELECT 'ALL' AS series_id, CAST(date_trunc('day', ts) AS DATE) AS ts, " +
      "arg_min(value, ts) AS open, max(value) AS high, min(value) AS low, " +
      "arg_max(value, ts) AS close, CAST(count(*) AS DOUBLE) AS volume " +
      "FROM events GROUP BY 2"

  /** Per-user daily OHLCV bars (multi-key kernel input: 15 × 30 rows). */
  val userBarsCte =
    "SELECT CAST(user_id AS VARCHAR) AS series_id, CAST(date_trunc('day', ts) AS DATE) AS ts, " +
      "arg_min(value, ts) AS open, max(value) AS high, min(value) AS low, " +
      "arg_max(value, ts) AS close, CAST(count(*) AS DOUBLE) AS volume " +
      "FROM events GROUP BY 1, 2"

  val orderTail = " ORDER BY series_id, ts"

  /** Join many per-indicator oracle queries on (series_id, ts), taking the
    * named columns from each. Every part becomes a MATERIALIZED CTE —
    * inlining 50+ window/recursive subquery trees into one plan sends
    * DuckDB's optimizer into a multi-minute, tens-of-GB planning blowup;
    * opaque materialized parts join in well under a second. */
  def composeJoin(parts: Seq[(String, Seq[String])]): String = {
    // "__oc" prefix cannot collide with any part's INTERNAL stage names
    // (t1/p0/q0/... in the per-indicator CTE chains)
    val aliased = parts.zipWithIndex.map { case ((sq, cols), i) => (s"__oc$i", sq, cols) }
    val ctes = aliased.map { case (al, sq, _) => s"$al AS MATERIALIZED ($sq)" }.mkString(", ")
    val joins = aliased.tail.map { case (al, _, _) => s"JOIN $al USING (series_id, ts)" }.mkString(" ")
    val cols = aliased.flatMap { case (al, _, cs) => cs.map(c0 => s"$al.$c0") }.mkString(", ")
    s"WITH $ctes SELECT __oc0.series_id, __oc0.ts, $cols FROM __oc0 $joins$orderTail"
  }
}
