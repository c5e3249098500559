package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.functions.{abs, avg, count, exp, greatest, lag, lead, least, lit, log, max, min, sqrt, sum, when}
import org.apache.spark.sql.types.{ArrayType, BooleanType, DoubleType, IntegerType, LongType}
import graft.ta.{prim => P}

/** SQL entry points, PHASE 6 (round 10) — the remaining registry kinds a
  * SQL-only user could not reach: the lag-unrolled rolling composites
  * (cmo/er/psl/vhf/chop/vortex/ui/uo/brar — a rolling aggregate whose
  * argument is itself lag-bearing flattens into shifted copies summed in
  * the frame's fold order, the stochStruct technique), the linreg closed
  * forms (linreg/cfo/cti), the shifted-frame kinds (dpo centered,
  * ichimoku's forward-shifted spans), and the phase-6 folds
  * (dm/decay/nvi/pvi/etr→pgo/adosc/t3/pvo — SeededComposites).
  *
  * Same contract as TaSqlSurface: each builder expands to the SAME tree
  * the Scala accessor builds (shared prim layer; folds bit-match their
  * staged spellings), canonical (series_id, ts) window, all arity-gated.
  * Consumed by Registry.register through TaSqlSurface.builders.
  */
object TaSqlSurface2 {

  private def c(e: Expression): Column = GraftBridge.column(e).cast("double")
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
    case Literal(v: org.apache.spark.sql.types.Decimal, _: org.apache.spark.sql.types.DecimalType) =>
      v.toDouble
    case other =>
      throw new IllegalArgumentException(s"$fn parameter must be a numeric literal, got $other")
  }

  // arity capture as in TaSqlSurface.ar — feeds the generated SQL doc
  private val arityAcc = scala.collection.mutable.LinkedHashMap[String, Int]()
  private def ar(name: String, n: Int)(f: Seq[Expression] => Expression): (String, Seq[Expression] => Expression) = {
    arityAcc(name) = n
    name -> { es =>
      require(es.length == n, s"$name expects $n arguments, got ${es.length}")
      f(es)
    }
  }

  private[functions] lazy val arities: Map[String, Int] = { val _ = builders; arityAcc.toMap }
  private[functions] lazy val orderedNames: Seq[String] = { val _ = builders; arityAcc.keys.toSeq }

  private def dblE(e: Expression): Expression =
    if (e.dataType == DoubleType) e else org.apache.spark.sql.catalyst.expressions.Cast(e, DoubleType)

  private def kernel(name: String, es: Seq[Expression]): Column =
    org.apache.spark.sql.functions.call_function(name, es.map(GraftBridge.column): _*)

  private[graft] def lagW(x0: Column, j: Int): Column = lag(x0, j).over(P.w)

  // ---- ring-fold kernels (round 16, RollFolds) -------------------------
  // The lag-unrolled composites below now expand to ONE running-frame
  // fold each instead of O(n) offset-window expressions — bit-identical
  // arithmetic (RollFolds replicates the unrolled trees node-for-node;
  // RollFoldSpec + the x_sql_surface* oracles gate equality), ~10x
  // smaller analyzed trees (x_sql_surface10 rebuild 1.17 s/rep before).
  private[functions] def dblArrLit(e: Expression, fn: String): Seq[Double] = e match {
    case Literal(a: org.apache.spark.sql.catalyst.util.ArrayData, ArrayType(DoubleType, _)) =>
      a.toDoubleArray().toSeq
    // SQL text spells the weights as array(...), which reaches the
    // builder as an unevaluated CreateArray of numeric literals
    case ca: org.apache.spark.sql.catalyst.expressions.CreateArray =>
      ca.children.map(ch => dblLit(ch, fn))
    case other =>
      throw new IllegalArgumentException(s"$fn weights must be a double-array literal, got $other")
  }
  private[functions] def boolLit(e: Expression, fn: String): Boolean = e match {
    case Literal(v: Boolean, BooleanType) => v
    case other =>
      throw new IllegalArgumentException(s"$fn flag must be a boolean literal, got $other")
  }

  /** Gated/ungated rolling weighted dot via the graft_wdot_k fold —
    * P.wdot's exact fold order (i-ascending), P.gated's count gate. */
  private[functions] def wdotK(x0: Column, ws: Seq[Double], gated: Boolean, offset: Int): Column =
    org.apache.spark.sql.functions
      .call_function(
        "graft_wdot_k",
        x0,
        GraftBridge.column(Literal.create(ws, ArrayType(DoubleType, containsNull = false))),
        GraftBridge.column(Literal(gated)),
        GraftBridge.column(Literal(offset))
      )
      .over(P.cum)

  /** Gated lag-unrolled rolling sum of a lag-bearing staged term:
    * Σ_{j=n−1..0} term(j) (Sum's oldest-first fold order), null unless
    * every term is defined — ≡ gated(t, n)(sum(t).over(f(n))) on the
    * staged column (the terms ARE the frame's values once n rows exist;
    * earlier rows null a term through its lags). The min_periods gate
    * needs no explicit conjunction: `+` null-propagates, so the sum is
    * null exactly when any term is — keeping the tree half the size
    * (the explicit-conj spelling doubled x_sql_surface10's codegen). */
  // gatedSumU/trAt are no longer used by the production builders (the
  // ring folds replaced every lag-unrolled sum, round 16) but REMAIN as
  // the executable specification of the unrolled spelling — RollFoldSpec
  // asserts the fold surface is bit-identical to trees built from these.
  private[graft] def gatedSumU(n: Int)(term: Int => Column): Column =
    ((n - 1) to 0 by -1).map(term).reduce(_ + _)

  /** true_range at row t−j (Ta.trueRange's exact CASE). */
  private[graft] def trAt(h: Column, l: Column, cl: Column, j: Int): Column = {
    val pc = lagW(cl, j + 1)
    when(pc.isNull, lit(null)).otherwise(
      greatest(lagW(h, j) - lagW(l, j), abs(lagW(h, j) - pc), abs(lagW(l, j) - pc))
    )
  }

  /** StrategyCompiler.linregLv's closed form: (slope, intercept, tsf, r). */
  private def linregParts(x0: Column, n: Int): (Column, Column, Column, Column) = {
    val nn = n.toDouble
    val sx = (0 until n).map(_.toDouble).sum
    val sxx = (0 until n).map(i => i.toDouble * i).sum
    val dx = nn * sxx - sx * sx
    val g = count(x0).over(P.f(n)) >= n
    // graft_wdot_k ring fold (round 16) — P.gated(count ≥ n) is the
    // fold's internal gate, so the outer when(g, …) is already applied
    val sxy = wdotK(x0, (0 until n).map(j => (n - 1 - j).toDouble), gated = true, offset = 0)
    val sy = when(g, sum(x0).over(P.f(n)))
    val syy = when(g, sum(x0 * x0).over(P.f(n)))
    val slope = (lit(nn) * sxy - lit(sx) * sy) / lit(dx)
    val intercept = (sy - slope * lit(sx)) / lit(nn)
    val tsf = intercept + slope * lit(nn - 1.0)
    val den2 = (lit(nn) * syy - sy * sy) * lit(dx)
    val r = P.sdiv(lit(nn) * sxy - lit(sx) * sy, when(den2 > 0.0, sqrt(den2)))
    (slope, intercept, tsf, r)
  }

  /** Gated rolling max/min over a frame shifted g rows back (prim.rmax/
    * rmin of a column as it stood at row t−g — the ichimoku/ui shifted-
    * frame technique). */
  private[graft] def rmaxShift(x0: Column, n: Int, g: Int): Column = {
    val fr = P.w.rowsBetween(-(n - 1) - g, -g)
    when(count(x0).over(fr) >= n, max(x0).over(fr))
  }
  private def rminShift(x0: Column, n: Int, g: Int): Column = {
    val fr = P.w.rowsBetween(-(n - 1) - g, -g)
    when(count(x0).over(fr) >= n, min(x0).over(fr))
  }

  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    // ---- cumulative / elementwise volume-price ------------------------
    ar("graft_vwap", 4)(es => {
      val (h, l, cl, v) = (c(es(0)), c(es(1)), c(es(2)), c(es(3)))
      val tp = (h + l + cl) / 3.0
      x(P.sdiv(P.cumsum(tp * v), P.cumsum(v)))
    }),
    ar("graft_pvol", 2)(es => x(c(es(1)) * c(es(0)))),
    ar("graft_pvr", 2)(es => {
      val (cl, v) = (c(es(0)), c(es(1)))
      val dc = P.diff(cl); val dv = P.diff(v)
      x(when(dc.isNull || dv.isNull, lit(null))
        .when(dc >= 0 && dv >= 0, 1.0)
        .when(dc >= 0 && dv < 0, 2.0)
        .when(dc < 0 && dv >= 0, 3.0)
        .otherwise(4.0))
    }),
    ar("graft_qstick", 3)(es =>
      x(P.rmean(c(es(1)) - c(es(0)), intLit(es(2), "graft_qstick")))),
    ar("graft_pdist", 5)(es => {
      val (o, h, l, cl) = (c(es(0)), c(es(1)), c(es(2)), c(es(3)))
      val drift = intLit(es(4), "graft_pdist")
      x(lit(2.0) * (h - l) - abs(cl - o) + abs(o - P.shift(cl, drift)))
    }),
    ar("graft_increasing", 2)(es =>
      x(when(P.diff(c(es(0)), intLit(es(1), "graft_increasing")) > 0, 1.0).otherwise(0.0))),
    ar("graft_decreasing", 2)(es =>
      x(when(P.diff(c(es(0)), intLit(es(1), "graft_decreasing")) < 0, 1.0).otherwise(0.0))),
    ar("graft_ttm_trend", 4)(es => {
      val (h, l, cl) = (c(es(0)), c(es(1)), c(es(2)))
      val n = intLit(es(3), "graft_ttm_trend")
      val m = P.rmean((h + l) / 2.0, n)
      x(when(m.isNull, lit(null)).otherwise(when(cl > m, 1.0).otherwise(-1.0)))
    }),
    // ---- lag-unrolled rolling-sum oscillators — ring folds (round 16) --
    ar("graft_cmo", 2)(es => x(kernel("graft_cmo_k", es).over(P.cum))),
    ar("graft_er", 2)(es => {
      val x0 = c(es(0)); val n = intLit(es(1), "graft_er")
      val adS = kernel("graft_adiffsum_k", es).over(P.cum)
      x(P.sdiv(abs(x0 - lagW(x0, n)), adS))
    }),
    ar("graft_psl", 2)(es => x(kernel("graft_psl_k", es).over(P.cum))),
    ar("graft_vhf", 2)(es => {
      val x0 = c(es(0)); val n = intLit(es(1), "graft_vhf")
      val adS = kernel("graft_adiffsum_k", es).over(P.cum)
      x(P.sdiv(abs(P.rmax(x0, n) - P.rmin(x0, n)), adS))
    }),
    ar("graft_cg", 2)(es => {
      val x0 = c(es(0)); val n = intLit(es(1), "graft_cg")
      val num = wdotK(x0, (1 to n).map(_.toDouble), gated = true, offset = 0)
      x(-P.sdiv(num, P.rsum(x0, n)))
    }),
    ar("graft_geomean", 2)(es => {
      val x0 = c(es(0)); val n = intLit(es(1), "graft_geomean")
      x(exp(P.rmean(when(x0 > 0, log(x0)), n)))
    }),
    ar("graft_chop", 4)(es => {
      val (h, l) = (c(es(0)), c(es(1)))
      val n = intLit(es(3), "graft_chop")
      val trS = kernel("graft_trsum_k", es.take(4)).over(P.cum)
      val ratio = P.sdiv(trS, P.rmax(h, n) - P.rmin(l, n))
      x(lit(100.0) * P.sln(ratio) / lit(math.log(n.toDouble)))
    }),
    ar("graft_vortex", 4)(es => x(kernel("graft_vortex_k", es).over(P.cum))),
    ar("graft_ui", 2)(es => x(kernel("graft_ui_k", es).over(P.cum))),
    ar("graft_uo", 6)(es => x(kernel("graft_uo_k", es).over(P.cum))),
    ar("graft_brar", 5)(es => {
      import org.apache.spark.sql.functions.struct
      val (o, h, l) = (c(es(0)), c(es(1)), c(es(2)))
      val n = intLit(es(4), "graft_brar")
      val br = kernel("graft_br_k", Seq(es(1), es(2), es(3), es(4))).over(P.cum)
      x(struct(
        (lit(100.0) * P.sdiv(P.rsum(h - o, n), P.rsum(o - l, n))).as("ar"),
        br.as("br")
      ))
    }),
    // ---- linreg closed forms -------------------------------------------
    ar("graft_linreg", 2)(es => {
      import org.apache.spark.sql.functions.struct
      val (slope, intercept, tsf, r) = linregParts(c(es(0)), intLit(es(1), "graft_linreg"))
      x(struct(slope.as("slope"), intercept.as("intercept"), tsf.as("tsf"), r.as("r")))
    }),
    ar("graft_cfo", 2)(es => {
      val x0 = c(es(0))
      val (_, _, tsf, _) = linregParts(x0, intLit(es(1), "graft_cfo"))
      x(lit(100.0) * P.sdiv(x0 - tsf, x0))
    }),
    ar("graft_cti", 2)(es => {
      val (_, _, _, r) = linregParts(c(es(0)), intLit(es(1), "graft_cti"))
      x(r)
    }),
    // ---- shifted-frame kinds -------------------------------------------
    ar("graft_dpo", 3)(es => {
      val cl = c(es(0)); val n = intLit(es(1), "graft_dpo")
      val centered = intLit(es(2), "graft_dpo") != 0
      val t = n / 2 + 1
      if (centered) {
        // lead(rmean(c, n), t) ≡ the gated mean over the t-forward frame
        val fr = P.w.rowsBetween(-(n - 1) + t, t)
        x(cl - when(count(cl).over(fr) >= n, avg(cl).over(fr)))
      } else x(lagW(cl, t) - P.rmean(cl, n))
    }),
    ar("graft_coppock", 4)(es => x(kernel("graft_coppock_k", es).over(P.cum))),
    ar("graft_ichimoku", 7)(es => {
      import org.apache.spark.sql.functions.struct
      val (h, l, cl) = (c(es(0)), c(es(1)), c(es(2)))
      val tn = intLit(es(3), "graft_ichimoku"); val kn = intLit(es(4), "graft_ichimoku")
      val sn = intLit(es(5), "graft_ichimoku"); val sh = intLit(es(6), "graft_ichimoku")
      def mid(nn: Int, g: Int) = (rmaxShift(h, nn, g) + rminShift(l, nn, g)) / 2.0
      x(struct(
        mid(tn, 0).as("its"),
        mid(kn, 0).as("iks"),
        ((mid(tn, sh) + mid(kn, sh)) / 2.0).as("isa"),
        mid(sn, sh).as("isb"),
        lead(cl, sh).over(P.w).as("ics")
      ))
    }),
    ar("graft_aberration", 5)(es => {
      import org.apache.spark.sql.functions.struct
      val (h, l, cl) = (c(es(0)), c(es(1)), c(es(2)))
      val n = intLit(es(3), "graft_aberration")
      val atr = kernel("graft_atr_k", Seq(es(0), es(1), es(2), es(4))).over(P.cum)
      val zg = P.rmean((h + l + cl) / 3.0, n)
      x(struct(zg.as("zg"), (zg + atr).as("sg"), (zg - atr).as("xg")))
    }),
    // ---- phase-6 folds + wrappers ---------------------------------------
    ar("graft_dm_k", 3)(es =>
      SeededComposites.DmFold(dblE(es(0)), dblE(es(1)), intLit(es(2), "graft_dm_k"))),
    ar("graft_dm", 3)(es => x(kernel("graft_dm_k", es).over(P.cum))),
    ar("graft_decay_k", 2)(es =>
      SeededComposites.DecayFold(dblE(es(0)), intLit(es(1), "graft_decay_k"))),
    ar("graft_decay", 2)(es => x(kernel("graft_decay_k", es).over(P.cum))),
    ar("graft_nvi_k", 3)(es =>
      SeededComposites.NviFold(dblE(es(0)), dblE(es(1)), onDown = true, dblLit(es(2), "graft_nvi_k"))),
    ar("graft_nvi", 3)(es => x(kernel("graft_nvi_k", es).over(P.cum))),
    ar("graft_pvi_k", 3)(es =>
      SeededComposites.NviFold(dblE(es(0)), dblE(es(1)), onDown = false, dblLit(es(2), "graft_pvi_k"))),
    ar("graft_pvi", 3)(es => x(kernel("graft_pvi_k", es).over(P.cum))),
    ar("graft_etr_k", 4)(es =>
      SeededComposites.EtrFold(dblE(es(0)), dblE(es(1)), dblE(es(2)), intLit(es(3), "graft_etr_k"))),
    ar("graft_pgo", 4)(es => {
      val cl = c(es(2)); val n = intLit(es(3), "graft_pgo")
      val etr = kernel("graft_etr_k", es).over(P.cum)
      x(P.sdiv(cl - P.rmean(cl, n), etr))
    }),
    ar("graft_adosc_k", 6)(es =>
      SeededComposites.AdoscFold(dblE(es(0)), dblE(es(1)), dblE(es(2)), dblE(es(3)),
        intLit(es(4), "graft_adosc_k"), intLit(es(5), "graft_adosc_k"))),
    ar("graft_adosc", 6)(es => x(kernel("graft_adosc_k", es).over(P.cum))),
    ar("graft_t3_k", 3)(es =>
      SeededComposites.T3Fold(dblE(es(0)), intLit(es(1), "graft_t3_k"), dblLit(es(2), "graft_t3_k"))),
    ar("graft_t3", 3)(es => x(kernel("graft_t3_k", es).over(P.cum))),
    ar("graft_pvo_k", 4)(es =>
      SeededComposites.PvoFold(dblE(es(0)), intLit(es(1), "graft_pvo_k"),
        intLit(es(2), "graft_pvo_k"), intLit(es(3), "graft_pvo_k"))),
    ar("graft_pvo", 4)(es => x(kernel("graft_pvo_k", es).over(P.cum))),
    // ---- ring-fold kernels (round 16, RollFolds) — the fold forms of
    // the lag-unrolled composites above; apply over the running frame
    ar("graft_cmo_k", 2)(es =>
      RollFolds.CmoFold(dblE(es(0)), intLit(es(1), "graft_cmo_k"))),
    ar("graft_adiffsum_k", 2)(es =>
      RollFolds.AbsDiffSumFold(dblE(es(0)), intLit(es(1), "graft_adiffsum_k"))),
    ar("graft_psl_k", 2)(es =>
      RollFolds.PslFold(dblE(es(0)), intLit(es(1), "graft_psl_k"))),
    ar("graft_trsum_k", 4)(es =>
      RollFolds.TrSumFold(dblE(es(0)), dblE(es(1)), dblE(es(2)), intLit(es(3), "graft_trsum_k"))),
    ar("graft_vortex_k", 4)(es =>
      RollFolds.VortexFold(dblE(es(0)), dblE(es(1)), dblE(es(2)), intLit(es(3), "graft_vortex_k"))),
    ar("graft_ui_k", 2)(es =>
      RollFolds.UiFold(dblE(es(0)), intLit(es(1), "graft_ui_k"))),
    ar("graft_uo_k", 6)(es =>
      RollFolds.UoFold(dblE(es(0)), dblE(es(1)), dblE(es(2)),
        intLit(es(3), "graft_uo_k"), intLit(es(4), "graft_uo_k"), intLit(es(5), "graft_uo_k"))),
    ar("graft_br_k", 4)(es =>
      RollFolds.BrFold(dblE(es(0)), dblE(es(1)), dblE(es(2)), intLit(es(3), "graft_br_k"))),
    ar("graft_coppock_k", 4)(es =>
      RollFolds.CoppockFold(dblE(es(0)), intLit(es(1), "graft_coppock_k"),
        intLit(es(2), "graft_coppock_k"), intLit(es(3), "graft_coppock_k"))),
    ar("graft_wdot_k", 4)(es =>
      RollFolds.WdotFold(dblE(es(0)), dblArrLit(es(1), "graft_wdot_k"),
        boolLit(es(2), "graft_wdot_k"), intLit(es(3), "graft_wdot_k"))),
    // wave 3 (same round): the remaining lag-unrolled macros' fold forms
    ar("graft_stoch_k", 6)(es =>
      RollFolds.StochFold(dblE(es(0)), dblE(es(1)), dblE(es(2)),
        intLit(es(3), "graft_stoch_k"), intLit(es(4), "graft_stoch_k"),
        intLit(es(5), "graft_stoch_k"))),
    ar("graft_trima_k", 2)(es =>
      RollFolds.TrimaFold(dblE(es(0)), intLit(es(1), "graft_trima_k"))),
    ar("graft_entropy_k", 3)(es =>
      RollFolds.EntropyFold(dblE(es(0)), intLit(es(1), "graft_entropy_k"),
        dblLit(es(2), "graft_entropy_k"))),
    ar("graft_eom_k", 5)(es =>
      RollFolds.EomFold(dblE(es(0)), dblE(es(1)), dblE(es(2)),
        intLit(es(3), "graft_eom_k"), dblLit(es(4), "graft_eom_k"))),
    ar("graft_mfi_k", 5)(es =>
      RollFolds.MfiFold(dblE(es(0)), dblE(es(1)), dblE(es(2)), dblE(es(3)),
        intLit(es(4), "graft_mfi_k"))),
    ar("graft_vidya_al_k", 2)(es =>
      RollFolds.VidyaAlFold(dblE(es(0)), intLit(es(1), "graft_vidya_al_k")))
  )
}
