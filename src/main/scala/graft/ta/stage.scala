package graft.ta

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import prim._

/** Staged (multi-withColumn) ema/rma builders for callers outside the
  * registry (oracle mirrors, Halo, scale probes). Window expressions
  * can't nest inside one projection, so recursive indicators stack
  * projections; every stage uses the SAME (series_id, ts) window spec, so
  * Catalyst plans them as consecutive WindowExecs over ONE Exchange + Sort.
  */
object stage {

  /** pandas-ta ema(src, n) with sma seeding (`sma=True`, adjust=False):
    * positions 0..n-2 → null, position n-1 → mean of the first n values
    * (nulls skipped), then y = (1-α)y' + αx with α = 2/(n+1).
    * Positional rule — matches the reference even when src has leading
    * nulls (the seed becomes the mean of the non-null among first n).
    *
    * Since round 8 this is the single-expression FOLD kernel
    * (functions.SeededComposites.EmaSeeded): the positional gate, seed
    * mean and recurrence live in the aggregation buffer instead of
    * three staged helper columns — bit-identical to the staged spelling
    * (SeededCompositeSpec proves it against [[emaStaged]]) and measured
    * ~1.8× faster at 51M rows (SCALING.md `sqlfold` curve), with the
    * gap growing per chained level. Resolves through the session
    * function registry like every graft window kernel (Graft.init). */
  def ema(df: DataFrame, src: String, out: String, n: Int): DataFrame =
    // round-10: the single-series-giant shape auto-routes to the halo
    // segmented scan (Halo.chunkedEmaSeeded) instead of a 1-task fold;
    // every other input (all test fixtures) keeps the fold untouched
    graft.plans.Halo.autoEmaSeeded(df, src, out, n)(
      df.withColumn(
        out,
        call_function("graft_ema_k", col(src).cast("double"), lit(n)).over(prim.cum)
      )
    )

  /** The staged multi-projection ema spelling — the REFERENCE
    * implementation [[ema]]'s fold is spec-proven against (and the
    * shape the StrategyCompiler's leveled lowering mirrors). */
  def emaStaged(df: DataFrame, src: String, out: String, n: Int): DataFrame = {
    val alpha = 2.0 / (n + 1)
    val rnc = s"__${out}_rn"
    val sd = s"__${out}_sd"
    val z = s"__${out}_z"
    df.withColumn(rnc, rn)
      .withColumn(sd, avg(col(src)).over(f(n)))
      .withColumn(
        z,
        when(col(rnc) < n, lit(null))
          .when(col(rnc) === n, col(sd))
          .otherwise(col(src))
      )
      .withColumn(out, ewm(col(z), alpha))
      .drop(rnc, sd, z)
  }

  /** Wilder rma(src, n): ewm(alpha=1/n) masked until n observations. */
  def rma(df: DataFrame, src: String, out: String, n: Int): DataFrame =
    df.withColumn(out, rmaOf(col(src), n))
}
