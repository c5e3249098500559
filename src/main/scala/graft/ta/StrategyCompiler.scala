package graft.ta

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import prim._

/** The single definition of every registry kind. Each IndicatorSpec
  * lowers to a LEVELED column plan (each level's columns reference only
  * base columns and earlier levels); `df.ta.<kind>(…)`,
  * `registry(df, spec)` and `registry.strategy` all run these plans
  * through [[run]]. The one kind that needs a whole-series aggregate
  * first, retrospective cusum, joins it on and then runs its plan.
  *
  * A batch merges every spec level-by-level into ONE projection per level
  * and analyzes the stack once: the naive fold applies ~150 `withColumn`s,
  * each re-analyzing the whole accumulated plan (measured ~16 ms per
  * creation on the 57-output batch, ≈2.4 s driver-side for 50 specs);
  * merged levels need only max-depth projections (~14), so compile cost
  * stops scaling with indicator count × plan size. The executed plan is
  * one Exchange + Sort + WindowExec chain (PlanShapeSpec).
  *
  * Temp names (`__…`) carry every parameter their expression reads, so
  * two specs share a temp only when they compute the same column; only
  * output names can collide, and [[runAll]] keeps the last spec's
  * definition — the fold's last-wins rule.
  */
private[graft] object StrategyCompiler {

  type Level = Seq[(String, Column)]

  /** levels + the names among them to drop at the end. */
  final case class ColPlan(levels: Seq[Level], temps: Seq[String])

  private val close = col("close")
  private val open = col("open")
  private val high = col("high")
  private val low = col("low")
  private val volume = col("volume")

  /** Temp column name from its role and parameters; dots would read as
    * struct access, so they become underscores. */
  private def tmpName(parts: Seq[Any]): String =
    parts.map {
      case s: Seq[_] => s.mkString("-")
      case v => v.toString
    }.mkString("__", "_", "").replace('.', '_')

  /** max(h−l, |h−pc|, |l−pc|); null on the first row (no prev close). */
  private def trExpr: Column = {
    val pc = shift(close, 1)
    when(pc.isNull, lit(null)).otherwise(greatest(high - low, abs(high - pc), abs(low - pc)))
  }

  /** CLV = ((c−l)−(h−c))/(h−l), 0 when h=l. */
  private def clvExpr: Column =
    when(high =!= low, ((close - low) - (high - close)) / (high - low)).otherwise(0.0)

  /** A graft window kernel over the running frame. */
  private def kfold(fn: String, args: Column*): Column = call_function(fn, args: _*).over(prim.cum)

  /** A struct-valued kernel in one level, its fields projected to outputs
    * in the next; the struct column `t` is a temp. */
  private def structFold(t: String, fold: Column, fields: (String, String)*): ColPlan =
    ColPlan(Seq(Seq(t -> fold), fields.map { case (out, f) => out -> col(s"$t.$f") }), Seq(t))

  /** sma-seeded adjust=False ema as ONE fold level (round 8): the
    * SeededComposites.EmaSeeded kernel carries the positional gate, the
    * seed mean and the recurrence in its aggregation buffer — one level
    * instead of the former two (seed column + seeded ewm), bit-identical
    * to the staged spelling (SeededCompositeSpec) and ~2× cheaper at
    * scale (SCALING.md `sqlfold`). Chains (emaChain) shrink from 2k
    * levels to k. */
  private def emaLv(src: Column, out: String, n: Int): (Seq[Level], Seq[String]) =
    (Seq(Seq(out -> kfold("graft_ema_k", src.cast("double"), lit(n)))), Nil)

  /** Chain of sma-seeded emas e1..eK over src; returns (levels, temps). */
  private def emaChain(src: Column, prefix: String, n: Int, k: Int): (Seq[Level], Seq[String]) = {
    var levels = Seq.empty[Level]
    var temps = Seq.empty[String]
    var cur = src
    for (i <- 1 to k) {
      val out = s"${prefix}$i"
      val (l, t) = emaLv(cur, out, n)
      levels ++= l
      temps ++= (t :+ out)
      cur = col(out)
    }
    (levels, temps)
  }

  /** Rolling OLS of src against x = 0..n-1 (oldest..newest), closed form:
    * columns `${p}_slope`, `_intercept`, `_tsf` (endpoint a+b(n-1)) and
    * `_r`, over window sums staged under `sums`; returns the sums as temps. */
  private def linregLv(src: Column, p: String, n: Int, sums: String): (Seq[Level], Seq[String]) = {
    val nn = n.toDouble
    val sx = (0 until n).map(_.toDouble).sum
    val sxx = (0 until n).map(i => i.toDouble * i).sum
    val dx = nn * sxx - sx * sx
    // Σ x_i·y_i with x oldest..newest ⇒ lag j (newest j=0) weight (n-1-j)
    val sxyE = wdot(src, (0 until n).map(j => (n - 1 - j).toDouble))
    val g = count(src).over(f(n)) >= n
    val sxy = s"${sums}_sxy"; val sy = s"${sums}_sy"; val syy = s"${sums}_syy"
    val levels = Seq(
      Seq(
        sxy -> when(g, sxyE),
        sy -> when(g, sum(src).over(f(n))),
        syy -> when(g, sum(src * src).over(f(n)))
      ),
      Seq(
        s"${p}_slope" -> (lit(nn) * col(sxy) - lit(sx) * col(sy)) / lit(dx),
        s"${p}_r" -> {
          val den2 = (lit(nn) * col(syy) - col(sy) * col(sy)) * lit(dx)
          sdiv(lit(nn) * col(sxy) - lit(sx) * col(sy), when(den2 > 0.0, sqrt(den2)))
        }
      ),
      Seq(s"${p}_intercept" -> (col(sy) - col(s"${p}_slope") * lit(sx)) / lit(nn)),
      Seq(s"${p}_tsf" -> (col(s"${p}_intercept") + col(s"${p}_slope") * lit(nn - 1.0)))
    )
    (levels, Seq(sxy, sy, syy))
  }

  private def linregOuts(p: String): Seq[String] = Seq("slope", "intercept", "tsf", "r").map(s => s"${p}_$s")

  /** Weighted dot over the last n rows; `weights(i)` applies to window
    * position i with i=0 the OLDEST row (pandas rolling.apply order),
    * normalized by Σw. Null until the series holds n rows. */
  private def wdotMaLv(out: String, x: Column, weights: Seq[Double]): ColPlan = {
    val s = weights.sum
    // prim.wdot indexes by lag (0 = newest) → reverse to window order
    ColPlan(Seq(Seq(out -> gated(x, weights.size)(wdot(x, weights.reverse.map(_ / s))))), Nil)
  }

  /** Symmetric triangle weights 1..⌈n/2⌉..1 (swma, rvgi). */
  private def triangle(n: Int): Seq[Double] = {
    val half = (n + 1) / 2
    ((1 to half) ++ (if (n % 2 == 0) (half to 1 by -1) else ((half - 1) to 1 by -1))).map(_.toDouble)
  }

  /** fisher staging: 2·(position of hl2 in its n-row range − ½). */
  private def fisherPos(n: Int): Column = {
    val m = (high + low) / 2.0
    val hh = rmax(m, n); val ll = rmin(m, n)
    lit(2.0) * (sdiv(m - ll, hh - ll) - 0.5)
  }

  /** qqe staging: rsi(n) → sma-seeded ema(smooth) into `rsima` →
    * double-Wilder |Δrsima| × factor into `dar`. */
  private def qqeLv(n: Int, smooth: Int, factor: Double, rsima: String, dar: String): (Seq[Level], Seq[String]) = {
    val wilders = n * 2 - 1
    val rsi = tmpName(Seq("qqe_rsi", n))
    val adr = tmpName(Seq("qqe_adr", n, smooth)); val matr = tmpName(Seq("qqe_matr", n, smooth))
    val (lEma, tEma) = emaLv(col(rsi), rsima, smooth)
    (
      Seq(Seq(rsi -> kfold("graft_rsi_k", close.cast("double"), lit(n)))) ++ lEma ++ Seq(
        Seq(adr -> abs(diff(col(rsima)))),
        Seq(matr -> ewm(col(adr), 1.0 / wilders)),
        Seq(dar -> (ewm(col(matr), 1.0 / wilders) * factor))
      ),
      Seq(rsi, rsima, adr, matr, dar) ++ tEma
    )
  }

  private def one(out: String, c: Column): ColPlan = ColPlan(Seq(Seq(out -> c)), Nil)

  /** cusum of `x` standardized by `mu`/`sd` — literals, or the per-series
    * columns retrospective cusum joins on — in the struct temp `t`. */
  private def cusumLv(t: String, x: Column, mu: Column, sd: Column, k: Double, h: Double): ColPlan =
    structFold(
      t,
      kfold("graft_cusum_k", x.cast("double"), mu.cast("double"), sd.cast("double"), lit(k), lit(h)),
      "cusum_pos" -> "pos", "cusum_neg" -> "neg", "cusum_alarm" -> "alarm"
    )

  private def i(p: Map[String, Any], k: String, dflt: Int): Int =
    p.get(k).map(_.toString.toDouble.toInt).getOrElse(dflt)
  private def dd(p: Map[String, Any], k: String, dflt: Double): Double =
    p.get(k).map(_.toString.toDouble).getOrElse(dflt)
  private def bool(p: Map[String, Any], k: String, dflt: Boolean): Boolean =
    p.get(k).map(_.toString.toBoolean).getOrElse(dflt)
  private def ints(p: Map[String, Any], k: String, dflt: Seq[Int]): Seq[Int] =
    p.get(k).map {
      case s: Seq[_] => s.map(_.toString.toDouble.toInt)
      case v => v.toString.split(',').map(_.trim.toDouble.toInt).toSeq
    }.getOrElse(dflt)

  /** Source column a spec reads: its "close" key (the reference's
    * `close=` kwarg), else `src`. */
  private def srcOf(spec: IndicatorSpec, src: String): String = spec.params.get("close").fold(src)(_.toString)

  /** Column lowering of a kind. Parameter keys and defaults are the
    * `df.ta` accessor's; kinds whose accessor takes a source column read
    * `src` (default close). */
  def compile(spec: IndicatorSpec, src: String = "close"): Option[ColPlan] = {
    val p = spec.params
    val srcName = srcOf(spec, src)
    val x = col(srcName)
    def tmp(parts: Any*): String = tmpName(parts)
    // temps of kinds that read the source column also carry its name
    def xtmp(parts: Any*): String = tmpName(parts ++ (if (srcName == "close") Nil else Seq(srcName)))
    spec.kind match {
      case "sma" => Some(one(s"sma_${i(p, "length", 10)}", rmean(x, i(p, "length", 10))))
      case "wma" => Some(one(s"wma_${i(p, "length", 10)}", prim.wma(x, i(p, "length", 10))))
      case "rma" => Some(one(s"rma_${i(p, "length", 10)}", rmaOf(x, i(p, "length", 10))))
      case "ema" =>
        val n = i(p, "length", 10)
        val (l, t) = emaLv(x, s"ema_$n", n)
        Some(ColPlan(l, t))
      case "dema" =>
        // cascade kernel: both ema levels in one aggregation buffer
        val n = i(p, "length", 10)
        Some(one(s"dema_$n", kfold("graft_dema_k", x.cast("double"), lit(n))))
      case "tema" =>
        val n = i(p, "length", 10)
        Some(one(s"tema_$n", kfold("graft_tema_k", x.cast("double"), lit(n))))
      case "trima" =>
        val n = i(p, "length", 10)
        val half = (n + 1) / 2 + (if ((n + 1) % 2 == 0) 0 else 1) // ceil((n+1)/2)
        val second = n / 2 + 1
        val t1 = xtmp("trima_t1", n)
        Some(ColPlan(Seq(Seq(t1 -> rmean(x, half)), Seq(s"trima_$n" -> rmean(col(t1), second))), Seq(t1)))
      case "hma" =>
        val n = i(p, "length", 10)
        val h = xtmp("hma_h", n)
        Some(ColPlan(
          Seq(
            Seq(h -> (lit(2.0) * prim.wma(x, n / 2) - prim.wma(x, n))),
            Seq(s"hma_$n" -> prim.wma(col(h), math.sqrt(n.toDouble).toInt))
          ),
          Seq(h)
        ))
      case "zlma" =>
        val n = i(p, "length", 10)
        val zl = xtmp("zlma_zl", n)
        val (l, t) = emaLv(col(zl), s"zlma_$n", n)
        Some(ColPlan(Seq(zl -> (lit(2.0) * x - shift(x, (n - 1) / 2))) +: l, zl +: t))
      case "alma" =>
        val n = i(p, "length", 10); val sigma = dd(p, "sigma", 6.0); val offset = dd(p, "dist_offset", 0.85)
        val m = offset * (n - 1); val s = n / sigma
        Some(wdotMaLv(s"alma_$n", x, (0 until n).map(j => math.exp(-(j - m) * (j - m) / (2 * s * s)))))
      case "fwma" =>
        val n = i(p, "length", 10)
        Some(wdotMaLv(s"fwma_$n", x, Iterator.iterate((1.0, 1.0)) { case (a, b) => (b, a + b) }.map(_._1).take(n).toSeq))
      case "pwma" =>
        val n = i(p, "length", 10)
        Some(wdotMaLv(s"pwma_$n", x, (0 until n).scanLeft(1.0) { case (acc, k) => acc * (n - 1 - k) / (k + 1) }.take(n)))
      case "swma" =>
        val n = i(p, "length", 10)
        Some(wdotMaLv(s"swma_$n", x, triangle(n)))
      case "sinwma" =>
        val n = i(p, "length", 10)
        Some(wdotMaLv(s"sinwma_$n", x, (0 until n).map(j => math.sin((j + 1) * math.Pi / (n + 1)))))
      case "t3" =>
        val n = i(p, "length", 10); val a = dd(p, "a", 0.7)
        val c1 = -a * a * a
        val c2 = 3.0 * a * a + 3.0 * a * a * a
        val c3 = -6.0 * a * a - 3.0 * a - 3.0 * a * a * a
        val c4 = 1.0 + 3.0 * a + a * a * a + 3.0 * a * a
        val e = xtmp("t3_e", n) + "_"
        val (l, t) = emaChain(x, e, n, 6)
        def ej(j: Int) = col(s"$e$j")
        Some(ColPlan(l :+ Seq(s"t3_$n" -> (lit(c1) * ej(6) + lit(c2) * ej(5) + lit(c3) * ej(4) + lit(c4) * ej(3))), t))
      case "kama" =>
        // y = (1−sc)·y' + sc·x seeded at the first row with sc defined
        val n = i(p, "length", 10); val fast = i(p, "fast", 2); val slow = i(p, "slow", 30)
        val fsc = 2.0 / (fast + 1); val ssc = 2.0 / (slow + 1)
        val er = sdiv(abs(x - shift(x, n)), rsum(abs(diff(x)), n))
        val sc = xtmp("kama_sc", n, fast, slow)
        Some(ColPlan(
          Seq(
            Seq(sc -> pow(er * (fsc - ssc) + ssc, 2.0)),
            Seq(s"kama_$n" -> graft.functions.wf
              .linrec(lit(1.0) - col(sc), col(sc) * x, when(col(sc).isNotNull, x))
              .over(cum))
          ),
          Seq(sc)
        ))
      case "vidya" =>
        // kama's seeded recursion with α = |CMO_n|/100 · 2/(n+1)
        val n = i(p, "length", 10)
        val d1 = diff(x)
        val up = when(d1 > 0, d1).otherwise(0.0)
        val dn = when(d1 < 0, -d1).otherwise(0.0)
        val cmoAbs = sdiv(abs(rsum(up, n) - rsum(dn, n)), rsum(up, n) + rsum(dn, n))
        val al = xtmp("vidya_al", n)
        Some(ColPlan(
          Seq(
            Seq(al -> (cmoAbs * (2.0 / (n + 1)))),
            Seq(s"vidya_$n" -> graft.functions.wf
              .linrec(lit(1.0) - col(al), col(al) * x, when(col(al).isNotNull, x))
              .over(cum))
          ),
          Seq(al)
        ))
      case "midpoint" =>
        val n = i(p, "length", 10)
        Some(one(s"midpoint_$n", (rmax(x, n) + rmin(x, n)) / 2.0))
      case "linreg" =>
        val n = i(p, "length", 10)
        val (l, t) = linregLv(x, s"linreg_$n", n, xtmp("linreg", n))
        Some(ColPlan(l, t))
      case "rsi" =>
        // single fold: diff/up/dn/double-rma in the aggregation buffer
        val n = i(p, "length", 10)
        Some(one(s"rsi_$n", kfold("graft_rsi_k", x.cast("double"), lit(n))))
      case "macd" =>
        // three unseeded ewm accumulators in one window aggregate
        val fast = i(p, "fast", 12); val slow = i(p, "slow", 26); val sig = i(p, "signal", 9)
        Some(structFold(
          xtmp("macd_m", fast, slow, sig),
          kfold("graft_macd_k", x.cast("double"), lit(fast), lit(slow), lit(sig)),
          "macd" -> "macd", "macds" -> "macds", "macdh" -> "macdh"
        ))
      case "psar" =>
        // struct window fold (RecFolds.PsarFold): shares the W-class Exchange
        val af0 = dd(p, "af0", 0.02); val afP = dd(p, "af", 0.02); val maxAf = dd(p, "max_af", 0.2)
        Some(structFold(
          tmp("psar", af0, afP, maxAf),
          kfold("graft_psar_k", high.cast("double"), low.cast("double"), close.cast("double"), lit(af0), lit(afP), lit(maxAf)),
          "psar_long" -> "long", "psar_short" -> "short", "psar_af" -> "af", "psar_reversal" -> "rev"
        ))
      case "supertrend" =>
        val n = i(p, "length", 7); val mult = dd(p, "multiplier", 3.0)
        Some(structFold(
          tmp("supertrend", n, mult),
          kfold("graft_supertrend_k", high.cast("double"), low.cast("double"), close.cast("double"), lit(n), lit(mult)),
          s"supert_$n" -> "st", s"supertd_$n" -> "dir", s"supertl_$n" -> "long", s"superts_$n" -> "short"
        ))
      case "ha" =>
        Some(structFold(
          tmp("ha"),
          kfold("graft_ha_k", open.cast("double"), high.cast("double"), low.cast("double"), close.cast("double")),
          "ha_open" -> "ha_open", "ha_high" -> "ha_high", "ha_low" -> "ha_low", "ha_close" -> "ha_close"
        ))
      case "mcgd" =>
        val n = i(p, "length", 10)
        Some(one(s"mcgd_$n", kfold("graft_mcgd_k", x.cast("double"), lit(n))))
      case "ssf" =>
        val n = i(p, "length", 10)
        Some(one(s"ssf_$n", kfold("graft_ssf_k", x.cast("double"), lit(n))))
      case "hwma" =>
        val na = dd(p, "na", 0.2); val nb = dd(p, "nb", 0.1); val nc = dd(p, "nc", 0.1)
        Some(one("hwma", kfold("graft_hwma_k", x.cast("double"), lit(na), lit(nb), lit(nc))))
      case "kalman" =>
        val q = dd(p, "q", 0.01); val r = dd(p, "r", 1.0)
        Some(structFold(
          xtmp("kalman", q, r),
          kfold("graft_kalman_k", x.cast("double"), lit(q), lit(r)),
          "kf" -> "kf", "kf_gain" -> "kf_gain"
        ))
      case "ebsw" =>
        val n = i(p, "length", 40); val bars = i(p, "bars", 10)
        Some(one(s"ebsw_$n", kfold("graft_ebsw_k", close.cast("double"), lit(n), lit(bars))))
      case "hwc" =>
        val na = dd(p, "na", 0.2); val nb = dd(p, "nb", 0.1); val nc = dd(p, "nc", 0.1)
        val nd = dd(p, "nd", 0.1); val k = dd(p, "k", 1.0)
        Some(structFold(
          tmp("hwc", na, nb, nc, nd, k),
          kfold("graft_hwc_k", close.cast("double"), lit(na), lit(nb), lit(nc), lit(nd), lit(k)),
          "hwc_mid" -> "hwc_mid", "hwc_upper" -> "hwc_upper", "hwc_lower" -> "hwc_lower"
        ))
      case "td_seq" =>
        // the close[4] lag rides four shift slots, so no staged column
        Some(structFold(
          tmp("td_seq"),
          kfold("graft_td_seq_k", close.cast("double")),
          "td_seq_up" -> "td_seq_up", "td_seq_dn" -> "td_seq_dn"
        ))
      case "rsx" =>
        val n = i(p, "length", 14)
        Some(one(s"rsx_$n", kfold("graft_rsx_k", close.cast("double"), lit(n))))
      case "jma" =>
        val n = i(p, "length", 7); val phase = dd(p, "phase", 0.0)
        Some(one(s"jma_$n", kfold("graft_jma_k", close.cast("double"), lit(n), lit(phase))))
      case "cusum" if p.contains("mu") && p.contains("sd") =>
        // fixed reference: the trained μ/σ are literals, so the recursion
        // is causal and streamable (retrospective mode: [[wholeSeries]])
        val k = dd(p, "k", 0.5); val h = dd(p, "h", 5.0); val mu = dd(p, "mu", 0.0); val sd = dd(p, "sd", 1.0)
        Some(cusumLv(xtmp("cusum", k, h, mu, sd), x, lit(mu), lit(sd), k, h))
      case "fisher" =>
        // staged range position + the FisherFold recursion
        val n = i(p, "length", 9)
        val pos = tmp("fisher_pos", n)
        val sf = structFold(
          tmp("fisher", n),
          kfold("graft_fisher_k", col(pos).cast("double")),
          s"fisher_$n" -> "fisher", s"fisher_signal_$n" -> "signal"
        )
        Some(ColPlan(Seq(pos -> fisherPos(n)) +: sf.levels, pos +: sf.temps))
      case "hilo" =>
        val hn = i(p, "high_length", 13); val ln = i(p, "low_length", 21)
        val mh = tmp("hilo_mh", hn); val ml = tmp("hilo_ml", ln)
        val sf = structFold(
          tmp("hilo", hn, ln),
          kfold("graft_hilo_k", close.cast("double"), col(mh).cast("double"), col(ml).cast("double")),
          "hilo" -> "hilo", "hilo_long" -> "hilo_long", "hilo_short" -> "hilo_short"
        )
        Some(ColPlan(Seq(mh -> rmean(high, hn), ml -> rmean(low, ln)) +: sf.levels, Seq(mh, ml) ++ sf.temps))
      case "qqe" =>
        val n = i(p, "length", 14); val smooth = i(p, "smooth", 5); val factor = dd(p, "factor", 4.236)
        val rsima = tmp("qqe_rsima", n, smooth); val dar = tmp("qqe_dar", n, smooth, factor)
        val (l, t) = qqeLv(n, smooth, factor, rsima, dar)
        val sf = structFold(
          tmp("qqe", n, smooth, factor),
          kfold("graft_qqe_k", col(rsima).cast("double"), col(dar).cast("double")),
          s"qqe_$n" -> "qqe", s"qqe_trend_$n" -> "trend", s"qqe_long_$n" -> "long", s"qqe_short_$n" -> "short"
        )
        Some(ColPlan(l ++ sf.levels, t ++ sf.temps))
      case "mom" =>
        val n = i(p, "length", 10)
        Some(one(s"mom_$n", diff(x, n)))
      case "roc" =>
        val n = i(p, "length", 10)
        Some(one(s"roc_$n", lit(100.0) * pctChange(x, n)))
      case "slope" =>
        val n = i(p, "length", 1)
        val v = diff(x, n) / n.toDouble
        Some(one(s"slope_$n", if (bool(p, "as_angle", false)) atan(v) else v))
      case "cmo" =>
        // 100·(ΣU−ΣD)/(ΣU+ΣD), rolling-sum mode
        val n = i(p, "length", 10)
        val up = xtmp("cmo_up", n); val dn = xtmp("cmo_dn", n)
        val d0 = diff(x)
        Some(ColPlan(
          Seq(
            Seq(
              up -> when(d0.isNull, lit(null)).when(d0 > 0, d0).otherwise(lit(0.0)),
              dn -> when(d0.isNull, lit(null)).when(d0 < 0, -d0).otherwise(lit(0.0))
            ),
            Seq(s"cmo_$n" -> (lit(100.0) * sdiv(
              rsum(col(up), n) - rsum(col(dn), n),
              rsum(col(up), n) + rsum(col(dn), n)
            )))
          ),
          Seq(up, dn)
        ))
      case "apo" =>
        val fast = i(p, "fast", 12); val slow = i(p, "slow", 26)
        Some(one(s"apo_${fast}_$slow", rmean(x, fast) - rmean(x, slow)))
      case "ppo" =>
        val fast = i(p, "fast", 12); val slow = i(p, "slow", 26)
        Some(one(s"ppo_${fast}_$slow", lit(100.0) * sdiv(rmean(x, fast) - rmean(x, slow), rmean(x, slow))))
      case "bias" =>
        val n = i(p, "length", 26)
        Some(one(s"bias_$n", lit(100.0) * (sdiv(x, rmean(x, n)) - 1.0)))
      case "cfo" =>
        // 100·(x − linreg_tsf(x, n))/x
        val n = i(p, "length", 10)
        val lr = xtmp("cfo_lr", n)
        val (l, t) = linregLv(x, lr, n, lr)
        Some(ColPlan(l :+ Seq(s"cfo_$n" -> (lit(100.0) * sdiv(x - col(s"${lr}_tsf"), x))), t ++ linregOuts(lr)))
      case "cti" =>
        // rolling Pearson r of x against 0..n−1
        val n = i(p, "length", 12)
        val lr = xtmp("cti_lr", n)
        val (l, t) = linregLv(x, lr, n, lr)
        Some(ColPlan(l :+ Seq(s"cti_$n" -> col(s"${lr}_r")), t ++ linregOuts(lr)))
      case "cg" =>
        // −Σ(i+1)·x_{t−i} / Σx over n (i=0 newest)
        val n = i(p, "length", 10)
        val num = wdot(x, (1 to n).map(_.toDouble))
        Some(one(s"cg_$n", -sdiv(when(count(x).over(f(n)) >= n, num), rsum(x, n))))
      case "coppock" =>
        val n = i(p, "length", 10); val fast = i(p, "fast", 11); val slow = i(p, "slow", 14)
        val rs = xtmp("coppock_rsum2", fast, slow)
        Some(ColPlan(
          Seq(
            Seq(rs -> (lit(100.0) * pctChange(x, fast) + lit(100.0) * pctChange(x, slow))),
            Seq(s"coppock_${n}_${fast}_$slow" -> prim.wma(col(rs), n))
          ),
          Seq(rs)
        ))
      case "er" =>
        // |Δₙx| / Σ|Δx| over n
        val n = i(p, "length", 10)
        val ad = xtmp("er_ad", n)
        Some(ColPlan(
          Seq(Seq(ad -> abs(diff(x))), Seq(s"er_$n" -> sdiv(abs(x - shift(x, n)), rsum(col(ad), n)))),
          Seq(ad)
        ))
      case "psl" =>
        // the first row's null diff counts as 0 (pandas parity, FIXTURES §3)
        val n = i(p, "length", 12)
        val gt = xtmp("psl_gt", n)
        val d0 = diff(x)
        Some(ColPlan(
          Seq(Seq(gt -> when(d0 > 0, 1.0).otherwise(0.0)), Seq(s"psl_$n" -> (lit(100.0) * rsum(col(gt), n) / n.toDouble))),
          Seq(gt)
        ))
      case "trix" =>
        // cascade fold: three seeded-ema levels + the lag-1 slot in one buffer
        val n = i(p, "length", 10)
        Some(one(s"trix_$n", kfold("graft_trix_k", x.cast("double"), lit(n))))
      case "tsi" =>
        val fast = i(p, "fast", 13); val slow = i(p, "slow", 25)
        Some(one(s"tsi_${fast}_$slow", kfold("graft_tsi_k", x.cast("double"), lit(fast), lit(slow))))
      case "stdev" =>
        val n = i(p, "length", 30)
        Some(one(s"stdev_$n", rstd(x, n)))
      case "variance" =>
        val n = i(p, "length", 30)
        Some(one(s"variance_$n", rvar(x, n)))
      case "median" =>
        val n = i(p, "length", 30)
        Some(one(s"median_$n", rmedian(x, n)))
      case "quantile" =>
        val n = i(p, "length", 30); val q = dd(p, "q", 0.5)
        Some(one(s"quantile_$n", rquantile(x, q, n)))
      case "mad" =>
        val n = i(p, "length", 30)
        val xs = xtmp("mad_xs", n); val m = xtmp("mad_m", n)
        Some(ColPlan(
          Seq(
            Seq(xs -> collect_list(x).over(f(n)), m -> avg(x).over(f(n))),
            Seq(s"mad_$n" -> when(
              count(x).over(f(n)) >= n,
              aggregate(col(xs), lit(0.0), (acc, v) => acc + abs(v - col(m))) / size(col(xs))
            ))
          ),
          Seq(xs, m)
        ))
      case "skew" =>
        val n = i(p, "length", 30)
        Some(one(s"skew_$n", rskew(x, n)))
      case "kurtosis" =>
        val n = i(p, "length", 30)
        Some(one(s"kurtosis_$n", rkurt(x, n)))
      case "zscore" =>
        val n = i(p, "length", 30)
        Some(one(s"zscore_$n", sdiv(x - rmean(x, n), rstd(x, n))))
      case "entropy" =>
        // −Σ p·log_b(p) with p = x/Σx over the window
        val n = i(p, "length", 10); val base = dd(p, "base", 2.0)
        val lnB = math.log(base)
        val rs = xtmp("entropy_rs", n); val pp = xtmp("entropy_p", n); val et = xtmp("entropy_et", n, base)
        Some(ColPlan(
          Seq(
            Seq(rs -> rsum(x, n)),
            Seq(pp -> sdiv(x, col(rs))),
            Seq(et -> when(col(pp) > 0, -col(pp) * log(col(pp)) / lnB)),
            Seq(s"entropy_$n" -> rsum(col(et), n))
          ),
          Seq(rs, pp, et)
        ))
      case "log_return" =>
        val n = i(p, "length", 1)
        Some(
          if (bool(p, "cumulative", false)) one("log_return_cum", sln(sdiv(x, first(x, ignoreNulls = true).over(cum))))
          else one(s"log_return_$n", sln(sdiv(x, shift(x, n))))
        )
      case "percent_return" =>
        val n = i(p, "length", 1)
        Some(
          if (bool(p, "cumulative", false)) one("percent_return_cum", sdiv(x, first(x, ignoreNulls = true).over(cum)) - 1.0)
          else one(s"percent_return_$n", sdiv(x, shift(x, n)) - 1.0)
        )
      case "drawdown" =>
        val mx = cummax(close)
        Some(ColPlan(
          Seq(Seq(
            "dd" -> (mx - close),
            "dd_pct" -> (lit(1.0) - sdiv(close, mx)),
            "dd_log" -> (sln(mx) - sln(close))
          )),
          Nil
        ))
      case "decay" =>
        // y = max(x, y'−1/n, 0) in closed form: max(0, max_{i≤t}(x_i + i/n) − t/n);
        // exact to 1e-6 for series < ~1e8 rows per key
        val n = i(p, "length", 5)
        val rnD = xtmp("decay_rn", n)
        Some(ColPlan(
          Seq(
            Seq(rnD -> rn.cast("double")),
            Seq(s"decay_$n" -> greatest(max(x + col(rnD) / n).over(cum) - col(rnD) / n, lit(0.0)))
          ),
          Seq(rnD)
        ))
      case "geometric_mean" =>
        // null while any x ≤ 0 is in the window
        val n = i(p, "length", 10)
        Some(one(s"geomean_$n", exp(rmean(when(x > 0, log(x)), n))))

      // ----- OHLCV single/few-level kinds -----
      case "hl2" => Some(one("hl2", (high + low) / 2.0))
      case "hlc3" => Some(one("hlc3", (high + low + close) / 3.0))
      case "ohlc4" => Some(one("ohlc4", (open + high + low + close) / 4.0))
      case "wcp" => Some(one("wcp", (high + low + lit(2.0) * close) / 4.0))
      case "midprice" =>
        val n = i(p, "length", 10)
        Some(one(s"midprice_$n", (rmax(high, n) + rmin(low, n)) / 2.0))
      case "bop" => Some(one("bop", sdiv(close - open, high - low)))
      case "qstick" =>
        val n = i(p, "length", 10)
        Some(one(s"qstick_$n", rmean(close - open, n)))
      case "true_range" => Some(one("true_range", trExpr))
      case "pdist" =>
        val drift = i(p, "drift", 1)
        Some(one("pdist", lit(2.0) * (high - low) - abs(close - open) + abs(open - shift(close, drift))))
      case "increasing" =>
        val n = i(p, "length", 1)
        Some(one(s"increasing_$n", when(diff(x, n) > 0, 1.0).otherwise(0.0)))
      case "decreasing" =>
        val n = i(p, "length", 1)
        Some(one(s"decreasing_$n", when(diff(x, n) < 0, 1.0).otherwise(0.0)))
      case "vhf" =>
        // |HH(x,n)−LL(x,n)| / Σ|Δx| over n
        val n = i(p, "length", 10)
        val ad = xtmp("vhf_ad", n)
        Some(ColPlan(
          Seq(Seq(ad -> abs(diff(x))), Seq(s"vhf_$n" -> sdiv(abs(rmax(x, n) - rmin(x, n)), rsum(col(ad), n)))),
          Seq(ad)
        ))
      case "donchian" =>
        // dcm REFERENCES the staged bands: inlining the rmin/rmax expressions
        // doubles the Window's expression list (4 → 8 window expressions)
        val n = i(p, "length", 10)
        Some(ColPlan(
          Seq(
            Seq(s"dcl_$n" -> rmin(low, n), s"dcu_$n" -> rmax(high, n)),
            Seq(s"dcm_$n" -> ((col(s"dcl_$n") + col(s"dcu_$n")) / 2.0))
          ),
          Nil
        ))
      case "willr" =>
        val n = i(p, "length", 10)
        val ll = rmin(low, n); val hh = rmax(high, n)
        Some(one(s"willr_$n", lit(100.0) * sdiv(close - hh, hh - ll)))
      case "stoch" =>
        val n = i(p, "k", 10); val sK = i(p, "smooth_k", 3); val dN = i(p, "d", 3)
        val fk = tmp("stoch_fastk", n)
        val ll = rmin(low, n); val hh = rmax(high, n)
        Some(ColPlan(
          Seq(
            Seq(fk -> (lit(100.0) * sdiv(close - ll, hh - ll))),
            Seq("stoch_k" -> rmean(col(fk), sK)),
            Seq("stoch_d" -> rmean(col("stoch_k"), dN))
          ),
          Seq(fk)
        ))
      case "ao" =>
        val fast = i(p, "fast", 5); val slow = i(p, "slow", 20)
        val h2 = tmp("ao_hl2")
        Some(ColPlan(
          Seq(Seq(h2 -> ((high + low) / 2.0)), Seq(s"ao_${fast}_$slow" -> (rmean(col(h2), fast) - rmean(col(h2), slow)))),
          Seq(h2)
        ))
      case "accbands" =>
        val n = i(p, "length", 10)
        val ratio = lit(4.0) * sdiv(high - low, high + low)
        val au = tmp("accbands_au", n); val al = tmp("accbands_al", n)
        Some(ColPlan(
          Seq(
            Seq(au -> (high * (lit(1.0) + ratio)), al -> (low * (lit(1.0) - ratio))),
            Seq(
              s"accbu_$n" -> rmean(col(au), n),
              s"accbl_$n" -> rmean(col(al), n),
              s"accbm_$n" -> rmean(close, n)
            )
          ),
          Seq(au, al)
        ))
      case "ui" =>
        // √(sma(D², n)), D = 100·(c − HH(c,n))/HH(c,n)
        val n = i(p, "length", 10)
        val hh = rmax(close, n)
        val d2 = tmp("ui_d2", n)
        val dpct = lit(100.0) * sdiv(close - hh, hh)
        Some(ColPlan(
          Seq(Seq(d2 -> (dpct * dpct)), Seq(s"ui_$n" -> { val m = rmean(col(d2), n); when(m >= 0.0, sqrt(m)) })),
          Seq(d2)
        ))
      case "uo" =>
        // null-propagating min/max against the previous close
        val fN = i(p, "fast", 7); val mN = i(p, "medium", 14); val sN = i(p, "slow", 28)
        val pc = shift(close, 1)
        val bp = tmp("uo_bp"); val tr = tmp("uo_tr")
        def avgN(n0: Int) = sdiv(rsum(col(bp), n0), rsum(col(tr), n0))
        Some(ColPlan(
          Seq(
            Seq(
              bp -> when(pc.isNull, lit(null)).otherwise(close - least(low, pc)),
              tr -> when(pc.isNull, lit(null)).otherwise(greatest(high, pc) - least(low, pc))
            ),
            Seq(s"uo_${fN}_${mN}_$sN" -> (lit(100.0) * (lit(4.0) * avgN(fN) + lit(2.0) * avgN(mN) + avgN(sN)) / 7.0))
          ),
          Seq(bp, tr)
        ))
      case "eri" =>
        val n = i(p, "length", 10)
        val e = tmp("eri_e", n)
        val (l, t) = emaLv(close, e, n)
        Some(ColPlan(l :+ Seq(s"bull_$n" -> (high - col(e)), s"bear_$n" -> (low - col(e))), e +: t))
      case "cci" =>
        val n = i(p, "length", 10); val scalar = dd(p, "scalar", 0.015)
        val tp = tmp("cci_tp"); val xs = tmp("cci_xs", n); val m = tmp("cci_m", n); val md = tmp("cci_mad", n)
        Some(ColPlan(
          Seq(
            Seq(tp -> ((high + low + close) / 3.0)),
            Seq(xs -> collect_list(col(tp)).over(f(n)), m -> avg(col(tp)).over(f(n))),
            Seq(md -> when(
              count(col(tp)).over(f(n)) >= n,
              aggregate(col(xs), lit(0.0), (acc, v) => acc + abs(v - col(m))) / size(col(xs))
            )),
            Seq(s"cci_$n" -> sdiv(col(tp) - rmean(col(tp), n), lit(scalar) * col(md)))
          ),
          Seq(tp, xs, m, md)
        ))
      case "atr" =>
        val n = i(p, "length", 10)
        Some(ColPlan(Seq(Seq("true_range" -> trExpr), Seq(s"atr_$n" -> rmaOf(col("true_range"), n))), Nil))
      case "natr" =>
        val n = i(p, "length", 10)
        Some(ColPlan(
          Seq(
            Seq("true_range" -> trExpr),
            Seq(s"atr_$n" -> rmaOf(col("true_range"), n)),
            Seq(s"natr_$n" -> (lit(100.0) * sdiv(col(s"atr_$n"), close)))
          ),
          Nil
        ))
      case "chop" =>
        // 100·log10(Σtr(n)/(HH−LL))/log10(n)
        val n = i(p, "length", 10)
        val ratio = sdiv(rsum(col("true_range"), n), rmax(high, n) - rmin(low, n))
        Some(ColPlan(
          Seq(Seq("true_range" -> trExpr), Seq(s"chop_$n" -> (lit(100.0) * sln(ratio) / lit(math.log(n.toDouble))))),
          Nil
        ))
      case "vortex" =>
        val n = i(p, "length", 10)
        val pl = shift(low, 1); val ph = shift(high, 1)
        val vmp = tmp("vortex_vmp", n); val vmm = tmp("vortex_vmm", n)
        Some(ColPlan(
          Seq(
            Seq(
              "true_range" -> trExpr,
              vmp -> when(pl.isNull, lit(null)).otherwise(abs(high - pl)),
              vmm -> when(ph.isNull, lit(null)).otherwise(abs(low - ph))
            ),
            Seq(
              s"vtxp_$n" -> sdiv(rsum(col(vmp), n), rsum(col("true_range"), n)),
              s"vtxm_$n" -> sdiv(rsum(col(vmm), n), rsum(col("true_range"), n))
            )
          ),
          Seq(vmp, vmm)
        ))
      case "vwma" =>
        val n = i(p, "length", 10)
        Some(one(s"vwma_$n", sdiv(rmean(close * volume, n), rmean(volume, n))))
      case "vwap" =>
        // global-anchor: Σ(hlc3·v)/Σv cumulative
        val tp = tmp("vwap_tp")
        Some(ColPlan(
          Seq(Seq(tp -> ((high + low + close) / 3.0)), Seq("vwap" -> sdiv(cumsum(col(tp) * volume), cumsum(volume)))),
          Seq(tp)
        ))
      case "obv" =>
        val sC = tmp("obv_s")
        Some(ColPlan(Seq(Seq(sC -> obvSign), Seq("obv" -> cumsum(col(sC)))), Seq(sC)))
      case "ad" =>
        val cv = tmp("ad_clvv")
        Some(ColPlan(Seq(Seq(cv -> (clvExpr * volume)), Seq("ad" -> cumsum(col(cv)))), Seq(cv)))
      case "cmf" =>
        val n = i(p, "length", 10)
        val cv = tmp("cmf_clvv", n)
        Some(ColPlan(
          Seq(Seq(cv -> (clvExpr * volume)), Seq(s"cmf_$n" -> sdiv(rsum(col(cv), n), rsum(volume, n)))),
          Seq(cv)
        ))
      case "efi" =>
        // ema(Δc·v, n), sma-seeded
        val n = i(p, "length", 10)
        val fC = tmp("efi_f", n)
        val (l, t) = emaLv(col(fC), s"efi_$n", n)
        Some(ColPlan(Seq(fC -> (diff(close) * volume)) +: l, fC +: t))
      case "eom" =>
        val n = i(p, "length", 14); val divisor = dd(p, "divisor", 1e8)
        val h2 = tmp("eom_hl2", n); val raw = tmp("eom_raw", n, divisor)
        Some(ColPlan(
          Seq(
            Seq(h2 -> ((high + low) / 2.0)),
            Seq(raw -> (lit(divisor) * diff(col(h2)) * sdiv(high - low, volume))),
            Seq(s"eom_$n" -> rmean(col(raw), n))
          ),
          Seq(h2, raw)
        ))
      case "mfi" =>
        // a null tp-diff (row 0) contributes 0 to both flows (FIXTURES §3)
        val n = i(p, "length", 10)
        val tp = tmp("mfi_tp", n); val dtp = tmp("mfi_dtp", n)
        val pos = tmp("mfi_pos", n); val neg = tmp("mfi_neg", n)
        Some(ColPlan(
          Seq(
            Seq(tp -> ((high + low + close) / 3.0)),
            Seq(dtp -> diff(col(tp))),
            Seq(
              pos -> when(col(dtp) > 0, col(tp) * volume).otherwise(0.0),
              neg -> when(col(dtp) < 0, col(tp) * volume).otherwise(0.0)
            ),
            Seq(s"mfi_$n" -> (lit(100.0) * sdiv(rsum(col(pos), n), rsum(col(pos), n) + rsum(col(neg), n))))
          ),
          Seq(tp, dtp, pos, neg)
        ))
      case "pvol" => Some(one("pvol", volume * close))
      case "pvr" =>
        // rank 1..4 by the signs of (Δc, Δv); null until both diffs exist
        val dc = diff(close); val dv = diff(volume)
        Some(one(
          "pvr",
          when(dc.isNull || dv.isNull, lit(null))
            .when(dc >= 0 && dv >= 0, 1.0)
            .when(dc >= 0 && dv < 0, 2.0)
            .when(dc < 0 && dv >= 0, 3.0)
            .otherwise(4.0)
        ))
      case "pvt" =>
        // cumsum(1-period fractional return · v); row 0 contributes 0
        val r = tmp("pvt_r")
        Some(ColPlan(
          Seq(Seq(r -> coalesce(pctChange(close, 1) * volume, lit(0.0))), Seq("pvt" -> cumsum(col(r)))),
          Seq(r)
        ))

      // ----- ema-chain / multi-stage OHLCV composites -----
      case "bbands" =>
        // ONE level: identical rmean/rstd window subtrees dedupe inside one Project
        val n = i(p, "length", 5); val k = dd(p, "std", 2.0)
        val mid = rmean(x, n)
        val dev = rstd(x, n) * k
        // integral k → "2" (dots in column names break unquoted identifiers)
        val ks = if (k == k.floor) k.toInt.toString else k.toString.replace('.', '_')
        Some(ColPlan(
          Seq(Seq(
            s"bbm_${n}_$ks" -> mid,
            s"bbl_${n}_$ks" -> (mid - dev),
            s"bbu_${n}_$ks" -> (mid + dev),
            s"bbb_${n}_$ks" -> (lit(100.0) * sdiv(lit(2.0) * dev, mid)),
            s"bbp_${n}_$ks" -> sdiv(x - (mid - dev), lit(2.0) * dev)
          )),
          Nil
        ))
      case "dm" =>
        val n = i(p, "length", 14)
        val up = diff(high)
        val dn = -diff(low)
        val pdm = when(up > dn && up > 0, up).otherwise(when(up.isNull || dn.isNull, lit(null)).otherwise(0.0))
        val mdm = when(dn > up && dn > 0, dn).otherwise(when(up.isNull || dn.isNull, lit(null)).otherwise(0.0))
        Some(ColPlan(Seq(Seq(s"dmp_$n" -> rmaOf(pdm, n), s"dmn_$n" -> rmaOf(mdm, n))), Nil))
      case "adx" =>
        // ±DM/TR/DX Wilder accumulators chained in one buffer
        val n = i(p, "length", 14); val lensig = i(p, "lensig", 14)
        Some(structFold(
          tmp("adx", n, lensig),
          kfold("graft_adx_k", high.cast("double"), low.cast("double"), close.cast("double"), lit(n), lit(lensig)),
          s"dmp_$n" -> "dmp", s"dmn_$n" -> "dmn", s"dip_$n" -> "dip", s"dim_$n" -> "dim", s"adx_$lensig" -> "adx"
        ))
      case "kc" =>
        // basis + band seeded-ema chains in one buffer
        val n = i(p, "length", 20); val scalar = dd(p, "scalar", 2.0)
        Some(structFold(
          tmp("kc", n, scalar),
          kfold("graft_kc_k", high.cast("double"), low.cast("double"), close.cast("double"), lit(n), lit(scalar)),
          s"kcb_$n" -> "kcb", s"kcl_$n" -> "kcl", s"kcu_$n" -> "kcu"
        ))
      case "massi" =>
        // Σ₍slow₎ ema(h−l,fast) / ema(ema(h−l,fast),fast)
        val fast = i(p, "fast", 9); val slow = i(p, "slow", 25)
        val hr = tmp("massi_hr"); val e1 = tmp("massi_e1", fast); val e2 = tmp("massi_e2", fast)
        val (l1, t1) = emaLv(col(hr), e1, fast)
        val (l2, t2) = emaLv(col(e1), e2, fast)
        Some(ColPlan(
          (Seq(Seq(hr -> (high - low))) ++ l1 ++ l2) :+ Seq(s"massi_${fast}_$slow" -> rsum(sdiv(col(e1), col(e2)), slow)),
          Seq(hr, e1, e2) ++ t1 ++ t2
        ))
      case "rvi" =>
        val n = i(p, "length", 14)
        val pP = tmp("rvi_p", n); val qP = tmp("rvi_q", n)
        Some(ColPlan(rviLv(n, pP, qP), Seq(pP, qP)))
      case "thermo" =>
        // max(|Δh|, |Δl|) and its sma-seeded ema
        val n = i(p, "length", 20)
        val (l, t) = emaLv(col("thermo"), s"thermo_ma_$n", n)
        Some(ColPlan(Seq(Seq("thermo" -> greatest(abs(diff(high)), abs(diff(low))))) ++ l, t))
      case "aberration" =>
        // zg = sma(hlc3, n) ± atr(atr_length)
        val n = i(p, "length", 5); val atrN = i(p, "atr_length", 15)
        val zg = rmean((high + low + close) / 3.0, n)
        Some(ColPlan(
          Seq(
            Seq("true_range" -> trExpr),
            Seq(s"atr_$atrN" -> rmaOf(col("true_range"), atrN)),
            Seq(
              s"abe_zg_$n" -> zg,
              s"abe_sg_$n" -> (zg + col(s"atr_$atrN")),
              s"abe_xg_$n" -> (zg - col(s"atr_$atrN"))
            )
          ),
          Seq("true_range", s"atr_$atrN")
        ))
      case "cksp" =>
        // long = rmax_q(rmax_p(high) − x·atr(p)); short symmetric
        val pN = i(p, "p", 10); val xm = dd(p, "x", 1.0); val q = i(p, "q", 9)
        val ls0 = tmp("cksp_ls", pN, xm); val ss0 = tmp("cksp_ss", pN, xm)
        Some(ColPlan(
          Seq(
            Seq("true_range" -> trExpr),
            Seq(s"atr_$pN" -> rmaOf(col("true_range"), pN)),
            Seq(
              ls0 -> (rmax(high, pN) - lit(xm) * col(s"atr_$pN")),
              ss0 -> (rmin(low, pN) + lit(xm) * col(s"atr_$pN"))
            ),
            Seq(s"cksp_long_$pN" -> rmax(col(ls0), q), s"cksp_short_$pN" -> rmin(col(ss0), q))
          ),
          Seq("true_range", s"atr_$pN", ls0, ss0)
        ))
      case "dpo" =>
        // centered (default) reads the FUTURE: close_t − sma_{t+⌊n/2⌋+1}
        val n = i(p, "length", 20); val t = n / 2 + 1
        val smaN = rmean(close, n)
        Some(one(s"dpo_$n", if (bool(p, "centered", true)) close - shift(smaN, -t) else shift(close, t) - smaN))
      case "pvo" =>
        val fast = i(p, "fast", 12); val slow = i(p, "slow", 26); val sig = i(p, "signal", 9)
        val vf = tmp("pvo_vf", fast); val vs = tmp("pvo_vs", slow)
        val (l1, t1) = emaLv(volume, vf, fast)
        val (l2, t2) = emaLv(volume, vs, slow)
        val (l3, t3) = emaLv(col(s"pvo_${fast}_$slow"), s"pvos_${fast}_$slow", sig)
        Some(ColPlan(
          (l1 ++ l2) ++
            (Seq(Seq(s"pvo_${fast}_$slow" -> (lit(100.0) * sdiv(col(vf) - col(vs), col(vs))))) ++ l3) :+
            Seq(s"pvoh_${fast}_$slow" -> (col(s"pvo_${fast}_$slow") - col(s"pvos_${fast}_$slow"))),
          Seq(vf, vs) ++ t1 ++ t2 ++ t3
        ))
      case "brar" =>
        // AR = 100·Σ(h−o)/Σ(o−l); BR = 100·Σmax(0,h−pc)/Σmax(0,pc−l)
        val n = i(p, "length", 26)
        val pc = shift(close, 1)
        val hcy = when(pc.isNull, lit(null)).otherwise(greatest(lit(0.0), high - pc))
        val cyl = when(pc.isNull, lit(null)).otherwise(greatest(lit(0.0), pc - low))
        Some(ColPlan(
          Seq(Seq(
            s"ar_$n" -> (lit(100.0) * sdiv(rsum(high - open, n), rsum(open - low, n))),
            s"br_$n" -> (lit(100.0) * sdiv(rsum(hcy, n), rsum(cyl, n)))
          )),
          Nil
        ))
      case "adosc" =>
        val fast = i(p, "fast", 3); val slow = i(p, "slow", 10)
        val cv = tmp("ad_clvv"); val af = tmp("adosc_af", fast); val as = tmp("adosc_as", slow)
        val (l1, t1) = emaLv(col("ad"), af, fast)
        val (l2, t2) = emaLv(col("ad"), as, slow)
        Some(ColPlan(
          (Seq(Seq(cv -> (clvExpr * volume)), Seq("ad" -> cumsum(col(cv)))) ++ l1 ++ l2) :+
            Seq(s"adosc_${fast}_$slow" -> (col(af) - col(as))),
          Seq(cv, af, as) ++ t1 ++ t2
        ))
      case "pgo" =>
        // (c − sma(n)) / ema(true_range, n)
        val n = i(p, "length", 14)
        val etr = tmp("pgo_etr", n)
        val (l, t) = emaLv(col("true_range"), etr, n)
        Some(ColPlan(
          (Seq(Seq("true_range" -> trExpr)) ++ l) :+ Seq(s"pgo_$n" -> sdiv(close - rmean(close, n), col(etr))),
          Seq("true_range", etr) ++ t
        ))
      case "ttm_trend" =>
        val n = i(p, "length", 6)
        val avgHl2 = rmean((high + low) / 2.0, n)
        Some(one(s"ttm_trend_$n", when(avgHl2.isNull, lit(null)).otherwise(when(close > avgHl2, 1.0).otherwise(-1.0))))
      case "amat" =>
        // long/short run flags of ema(fast) vs ema(slow)
        val fast = i(p, "fast", 8); val slow = i(p, "slow", 21); val n = i(p, "lookback", 2)
        val maf = tmp("amat_maf", fast); val mas = tmp("amat_mas", slow)
        val (l1, t1) = emaLv(close, maf, fast)
        val (l2, t2) = emaLv(close, mas, slow)
        val (lr, sr) = runFlags(col(maf), col(mas), n)
        Some(ColPlan((l1 ++ l2) :+ Seq(s"amat_lr_$fast" -> lr, s"amat_sr_$fast" -> sr), Seq(maf, mas) ++ t1 ++ t2))
      case "kdj" =>
        // RSV = fastK(n); K/D = α=1/signal recursions seeded at the first RSV; J = 3K − 2D
        val n = i(p, "length", 9); val signal = i(p, "signal", 3)
        val alpha = 1.0 / signal
        val ll = rmin(low, n); val hh = rmax(high, n)
        val rsv = tmp("kdj_rsv", n)
        Some(ColPlan(
          Seq(
            Seq(rsv -> (lit(100.0) * sdiv(close - ll, hh - ll))),
            Seq(s"kdj_k_$n" -> ewm(col(rsv), alpha)),
            Seq(s"kdj_d_$n" -> ewm(col(s"kdj_k_$n"), alpha)),
            Seq(s"kdj_j_$n" -> (lit(3.0) * col(s"kdj_k_$n") - lit(2.0) * col(s"kdj_d_$n")))
          ),
          Seq(rsv)
        ))
      case "kst" =>
        // Σᵢ i·sma(roc(rᵢ), sᵢ), signal = sma(kst, signal)
        val r = ints(p, "roc", Seq(10, 15, 20, 30)); val s0 = ints(p, "sma", Seq(10, 10, 10, 15))
        val sig = i(p, "signal", 9)
        val terms = r.zip(s0).zipWithIndex.map { case ((ri, si), j) =>
          lit((j + 1).toDouble) * rmean(lit(100.0) * pctChange(x, ri), si)
        }
        Some(ColPlan(Seq(Seq("kst" -> terms.reduce(_ + _)), Seq("kst_signal" -> rmean(col("kst"), sig))), Nil))
      case "stochrsi" =>
        // stoch range position of rsi(n), smoothed k and d
        val n = i(p, "length", 10); val k = i(p, "k", 3); val dN = i(p, "d", 3)
        val rsi0 = xtmp("stochrsi_rsi", n); val sr = xtmp("stochrsi_srsi", n)
        val lo = rmin(col(rsi0), n); val hi = rmax(col(rsi0), n)
        Some(ColPlan(
          Seq(
            Seq(rsi0 -> kfold("graft_rsi_k", x.cast("double"), lit(n))),
            Seq(sr -> (lit(100.0) * sdiv(col(rsi0) - lo, hi - lo))),
            Seq("stochrsi_k" -> rmean(col(sr), k)),
            Seq("stochrsi_d" -> rmean(col("stochrsi_k"), dN))
          ),
          Seq(rsi0, sr)
        ))
      case "ichimoku" =>
        // spans shifted FORWARD by `shift`; chikou shifted back (lookahead)
        val tN = i(p, "tenkan", 9); val kN = i(p, "kijun", 26)
        val sN = i(p, "senkou", 52); val sh = i(p, "shift", 26)
        val tenkan = (rmax(high, tN) + rmin(low, tN)) / 2.0
        val kijun = (rmax(high, kN) + rmin(low, kN)) / 2.0
        val spanB0 = (rmax(high, sN) + rmin(low, sN)) / 2.0
        val isa = tmp("ichimoku_isa", tN, kN); val isb = tmp("ichimoku_isb", sN)
        Some(ColPlan(
          Seq(
            Seq(isa -> ((tenkan + kijun) / 2.0), isb -> spanB0, s"its_$tN" -> tenkan, s"iks_$kN" -> kijun),
            Seq(s"isa_$tN" -> shift(col(isa), sh), s"isb_$kN" -> shift(col(isb), sh), s"ics_$kN" -> shift(close, -sh))
          ),
          Seq(isa, isb)
        ))
      case "rvgi" =>
        // swma(c−o)/swma(h−l) ratio of rolling sums + swma signal
        val n = i(p, "length", 14); val swmaN = i(p, "swma_length", 4)
        val tri = triangle(swmaN)
        def sw(v: Column): Column = gated(v, swmaN)(wdot(v, tri.reverse.map(_ / tri.sum)))
        val num = tmp("rvgi_num", swmaN); val den = tmp("rvgi_den", swmaN)
        Some(ColPlan(
          Seq(
            Seq(num -> sw(close - open), den -> sw(high - low)),
            Seq(s"rvgi_$n" -> sdiv(rsum(col(num), n), rsum(col(den), n))),
            Seq(s"rvgis_$n" -> sw(col(s"rvgi_$n")))
          ),
          Seq(num, den)
        ))
      case "smi" =>
        // m = close − ½(HH(n)+LL(n)); smi = 100·ema(ema(m,f),s) / (ema(ema(HH−LL,f),s)/2)
        val n = i(p, "length", 10); val fast = i(p, "fast", 5); val slow = i(p, "slow", 3)
        val hh = rmax(high, n); val ll = rmin(low, n)
        val m = tmp("smi_m", n); val r = tmp("smi_r", n)
        val m1 = tmp("smi_m1", n, fast); val m2 = tmp("smi_m2", n, fast, slow)
        val r1 = tmp("smi_r1", n, fast); val r2 = tmp("smi_r2", n, fast, slow)
        val (l1, t1) = emaLv(col(m), m1, fast)
        val (l2, t2) = emaLv(col(m1), m2, slow)
        val (l3, t3) = emaLv(col(r), r1, fast)
        val (l4, t4) = emaLv(col(r1), r2, slow)
        Some(ColPlan(
          (Seq(Seq(m -> (close - (hh + ll) / 2.0), r -> (hh - ll))) ++ l1 ++ l2 ++ l3 ++ l4) :+
            Seq(s"smi_$n" -> (lit(100.0) * sdiv(col(m2), col(r2) / 2.0))),
          Seq(m, r, m1, m2, r1, r2) ++ t1 ++ t2 ++ t3 ++ t4
        ))
      case "squeeze" =>
        Some(squeezeLv(p, "squeeze", "sqz_mom") { (bbl, bbu, basis, band) =>
          val kcl = basis - lit(1.5) * band; val kcu = basis + lit(1.5) * band
          Seq(
            "sqz_on" -> when(bbl.isNull || kcl.isNull, lit(null)).otherwise((bbl > kcl && bbu < kcu).cast("double")),
            "sqz_off" -> when(bbl.isNull || kcl.isNull, lit(null)).otherwise((bbl < kcl && bbu > kcu).cast("double"))
          )
        })
      case "squeeze_pro" =>
        // flags against three KC multipliers: wide 2, normal 1.5, narrow 1
        Some(squeezeLv(p, "squeeze_pro", "sqzpro_mom") { (bbl, bbu, basis, band) =>
          def on(mult: Double): Column = {
            val kcl = basis - lit(mult) * band; val kcu = basis + lit(mult) * band
            when(bbl.isNull || basis.isNull, lit(null)).otherwise((bbl > kcl && bbu < kcu).cast("double"))
          }
          Seq("sqzpro_on_wide" -> on(2.0), "sqzpro_on_normal" -> on(1.5), "sqzpro_on_narrow" -> on(1.0))
        })
      case "stc" =>
        // double stochastic of the sma-seeded macd line, α=0.5 smoothing
        val tc = i(p, "tclength", 10); val fast = i(p, "fast", 12); val slow = i(p, "slow", 26)
        val ef = tmp("stc_ef", fast); val es = tmp("stc_es", slow); val macd = tmp("stc_macd", fast, slow)
        val st1 = tmp("stc_st1", tc, fast, slow); val d1 = tmp("stc_d1", tc, fast, slow)
        val st2 = tmp("stc_st2", tc, fast, slow)
        val (l1, t1) = emaLv(close, ef, fast)
        val (l2, t2) = emaLv(close, es, slow)
        def stoch(c: String) = lit(100.0) * sdiv(col(c) - rmin(col(c), tc), rmax(col(c), tc) - rmin(col(c), tc))
        Some(ColPlan(
          (l1 ++ l2) ++ Seq(
            Seq(macd -> (col(ef) - col(es))),
            Seq(st1 -> stoch(macd)),
            Seq(d1 -> ewm(col(st1), 0.5)),
            Seq(st2 -> stoch(d1)),
            Seq(s"stc_$tc" -> ewm(col(st2), 0.5), s"stc_macd_$tc" -> col(macd))
          ),
          Seq(ef, es, macd, st1, d1, st2) ++ t1 ++ t2
        ))
      case "inertia" =>
        // linreg endpoint of rvi(rvi_length)
        val n = i(p, "length", 20); val rviN = i(p, "rvi_length", 14)
        val pP = tmp("inertia_p", rviN); val qP = tmp("inertia_q", rviN); val lr = tmp("inertia_lr", n, rviN)
        val (llr, tlr) = linregLv(col(s"rvi_$rviN"), lr, n, lr)
        Some(ColPlan(
          (rviLv(rviN, pP, qP) ++ llr) :+ Seq(s"inertia_$n" -> col(s"${lr}_tsf")),
          Seq(pP, qP, s"rvi_$rviN") ++ linregOuts(lr) ++ tlr
        ))
      case "aobv" =>
        // obv + fast/slow sma-seeded emas + long/short run flags
        val fast = i(p, "fast", 4); val slow = i(p, "slow", 12); val runN = i(p, "run_length", 2)
        val sC = tmp("obv_s")
        val (l1, t1) = emaLv(col("obv"), s"obv_fast_$fast", fast)
        val (l2, t2) = emaLv(col("obv"), s"obv_slow_$slow", slow)
        val (lr, sr) = runFlags(col(s"obv_fast_$fast"), col(s"obv_slow_$slow"), runN)
        Some(ColPlan(
          (Seq(Seq(sC -> obvSign), Seq("obv" -> cumsum(col(sC)))) ++ l1 ++ l2) :+ Seq("aobv_lr" -> lr, "aobv_sr" -> sr),
          Seq(sC) ++ t1 ++ t2
        ))
      case "kvo" =>
        // sv = sign(Δhlc3)·volume (null row 0); unseeded span-ewms
        val fast = i(p, "fast", 34); val slow = i(p, "slow", 55); val sig = i(p, "signal", 13)
        val tp = (high + low + close) / 3.0
        val dtp = tp - shift(tp, 1)
        val sv = tmp("kvo_sv"); val kf = tmp("kvo_kf", fast); val ks = tmp("kvo_ks", slow)
        Some(ColPlan(
          Seq(
            Seq(sv -> when(dtp > 0, volume).when(dtp < 0, -volume).when(dtp === 0, lit(0.0))),
            Seq(kf -> ewm(col(sv), 2.0 / (fast + 1)), ks -> ewm(col(sv), 2.0 / (slow + 1))),
            Seq(s"kvo_$fast" -> (col(kf) - col(ks))),
            Seq(s"kvos_$fast" -> ewm(col(s"kvo_$fast"), 2.0 / (sig + 1)))
          ),
          Seq(sv, kf, ks)
        ))
      case "tos_stdevall" =>
        // OLS line over the WHOLE series (per key) ± k·stdev(close) bands
        val stds = ints(p, "stds", Seq(1, 2, 3))
        val full = org.apache.spark.sql.expressions.Window
          .partitionBy("series_id")
          .orderBy("ts")
          .rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.unboundedFollowing
          )
        val ti = tmp("tos_i"); val tb = tmp("tos_b"); val ta = tmp("tos_a"); val tsd = tmp("tos_sd")
        val nN = count(close).over(full).cast("double")
        val si = sum(col(ti)).over(full)
        val sii = sum(col(ti) * col(ti)).over(full)
        val sy = sum(close).over(full)
        val siy = sum(col(ti) * close).over(full)
        Some(ColPlan(
          Seq(
            Seq(ti -> (rn.cast("double") - 1.0)),
            Seq(tb -> sdiv(nN * siy - si * sy, nN * sii - si * si)),
            Seq(ta -> ((sy - col(tb) * si) / nN), tsd -> stddev_samp(close).over(full)),
            Seq("tos_line" -> (col(ta) + col(tb) * col(ti))),
            stds.flatMap(k => Seq(
              s"tos_u_$k" -> (col("tos_line") + lit(k.toDouble) * col(tsd)),
              s"tos_l_$k" -> (col("tos_line") - lit(k.toDouble) * col(tsd))
            ))
          ),
          Seq(ti, tb, ta, tsd)
        ))
      case "aroon" =>
        // 100·(n − bars-since-extreme)/n over n+1 rows; ties → most recent
        val n = i(p, "length", 10)
        val hs = tmp("aroon_hs", n); val ls = tmp("aroon_ls", n)
        def since(xs: String, ext: String) = when(
          size(col(xs)) === n + 1,
          lit(100.0) * (lit(n.toDouble) - (expr(s"array_position(reverse($xs), $ext($xs))") - 1.0)) / n.toDouble
        )
        Some(ColPlan(
          Seq(
            Seq(hs -> collect_list(high).over(f(n + 1)), ls -> collect_list(low).over(f(n + 1))),
            Seq(s"aroon_u_$n" -> since(hs, "array_max"), s"aroon_d_$n" -> since(ls, "array_min"))
          ),
          Seq(hs, ls)
        ))
      case "cdl_doji" =>
        // |c−o| < factor·sma(h−l, n)
        val n = i(p, "length", 10); val factor = dd(p, "factor", 0.1)
        Some(one(
          s"cdl_doji_$n",
          when(rmean(high - low, n).isNotNull && abs(close - open) < lit(factor) * rmean(high - low, n), 1.0)
            .otherwise(when(rmean(high - low, n).isNotNull, 0.0))
        ))
      case "cdl_inside" =>
        val ph = shift(high, 1); val pl = shift(low, 1)
        Some(one("cdl_inside", when(ph.isNotNull && high < ph && low > pl, 1.0).otherwise(0.0)))
      case "cdl_z" =>
        val n = i(p, "length", 10)
        Some(ColPlan(
          Seq(Seq("open", "high", "low", "close").map(s0 =>
            s"${s0}_z_$n" -> sdiv(col(s0) - rmean(col(s0), n), rstd(col(s0), n))
          )),
          Nil
        ))
      case "candle_utils" =>
        Some(ColPlan(
          Seq(Seq(
            "candle_color" -> when(close >= open, 1.0).otherwise(-1.0),
            "real_body" -> abs(close - open),
            "high_low_range" -> (high - low)
          )),
          Nil
        ))
      case "nvi" | "pvi" =>
        // compounds pct_change(close) on volume-down (nvi) / volume-up (pvi)
        // rows, in log space: initial·exp(Σ log1p(ret·gate)); null after ret ≤ −1
        val ret = pctChange(close)
        val gate0 = if (spec.kind == "nvi") diff(volume) < 0 else diff(volume) > 0
        val term = when(gate0 && ret.isNotNull, log(lit(1.0) + ret)).otherwise(0.0)
        Some(one(spec.kind, lit(dd(p, "initial", 1000.0)) * exp(sum(term).over(cum))))
      case "cdl_pattern" => Some(ColPlan(Seq(candleDefs.wave1), Nil))
      case "cdl_pattern_2" => Some(ColPlan(Seq(candleDefs.wave2), Nil))
      case "cdl_pattern_3" => Some(ColPlan(Seq(candleDefs.wave3), Nil))
      case "cdl_pattern_4" => Some(ColPlan(Seq(candleDefs.wave4), Nil))
      case "cdl_pattern_5" => Some(ColPlan(Seq(candleDefs.wave5), Nil))
      case "cdl_pattern_6" => Some(ColPlan(Seq(candleDefs.wave6), Nil))
      case _ => None
    }
  }

  /** TTM squeeze scaffolding: BB(bb_length, 2) bands and KC(kc_length)
    * sma-seeded basis/band emas for the `flags` (given bbl, bbu, basis,
    * band), plus the linreg endpoint (over mom_length) of the price delta
    * against the midline average as output `mom`. */
  private def squeezeLv(p: Map[String, Any], kind: String, mom: String)(
      flags: (Column, Column, Column, Column) => Level
  ): ColPlan = {
    val bbN = i(p, "bb_length", 20); val kcN = i(p, "kc_length", 20); val momN = i(p, "mom_length", 12)
    val mid = rmean(close, bbN)
    val dev = rstd(close, bbN) * 2.0
    val basis = tmpName(Seq(s"${kind}_basis", kcN)); val band = tmpName(Seq(s"${kind}_band", kcN))
    val delta = tmpName(Seq(s"${kind}_delta", momN)); val lr = tmpName(Seq(s"${kind}_lr", momN))
    val (lb, tb) = emaLv(close, basis, kcN)
    val (lb2, tb2) = emaLv(col("true_range"), band, kcN)
    val (llr, tlr) = linregLv(col(delta), lr, momN, lr)
    ColPlan(
      (Seq(Seq("true_range" -> trExpr)) ++ lb ++ lb2) ++
        (Seq(flags(mid - dev, mid + dev, col(basis), col(band)) :+
          (delta -> (close - ((rmax(high, momN) + rmin(low, momN)) / 2.0 + rmean(close, momN)) / 2.0))) ++ llr) :+
        Seq(mom -> col(s"${lr}_tsf")),
      Seq("true_range", basis, band, delta) ++ linregOuts(lr) ++ tb ++ tb2 ++ tlr
    )
  }

  /** OBV step: sign(Δc)·v, the first row counting +v. */
  private def obvSign: Column = {
    val dcl = diff(close)
    when(rn === 1, 1.0).otherwise(when(dcl > 0, 1.0).when(dcl < 0, -1.0).otherwise(0.0)) * volume
  }

  /** long_run / short_run flags over n rows: fast↑ with slow↓ or ↑, and
    * fast↓ with slow↑ or ↓. */
  private def runFlags(fast: Column, slow: Column, n: Int): (Column, Column) = {
    val fInc = diff(fast, n) > 0; val fDec = diff(fast, n) < 0
    val sInc = diff(slow, n) > 0; val sDec = diff(slow, n) < 0
    (
      when((fInc && sDec) || (fInc && sInc), 1.0).otherwise(0.0),
      when((fDec && sInc) || (fDec && sDec), 1.0).otherwise(0.0)
    )
  }

  /** Relative Volatility Index (rma smoothing): stdev split by the sign
    * of the close move, RSI-like; `rvi_$n` over temps `pP`/`qP`. */
  private def rviLv(n: Int, pP: String, qP: String): Seq[Level] = {
    val sd = rstd(close, n)
    val d1 = diff(close)
    val pos = when(d1.isNull || sd.isNull, lit(null)).otherwise(when(d1 > 0, sd).otherwise(0.0))
    val neg = when(d1.isNull || sd.isNull, lit(null)).otherwise(when(d1 < 0, sd).otherwise(0.0))
    Seq(
      Seq(pP -> rmaOf(pos, n), qP -> rmaOf(neg, n)),
      Seq(s"rvi_$n" -> (lit(100.0) * sdiv(col(pP), col(pP) + col(qP))))
    )
  }

  /** Kinds whose definition needs a whole-series aggregate before any
    * row is computed, so they run on the frame, one spec at a time:
    * retrospective cusum broadcasts the per-series μ/σ (rounded to 6 dp)
    * back onto the rows — NOT causal, so deliberately not streamable —
    * and runs the fixed-reference fold over them. */
  private def wholeSeries(df: DataFrame, spec: IndicatorSpec, src: String): DataFrame = spec.kind match {
    case "cusum" =>
      val x = srcOf(spec, src)
      val k = dd(spec.params, "k", 0.5); val h = dd(spec.params, "h", 5.0)
      val stats = df
        .groupBy("series_id")
        .agg(round(avg(col(x)), 6).as("__mu"), round(stddev_samp(col(x)), 6).as("__sd"))
      runAll(
        df.join(broadcast(stats), Seq("series_id"), "left"),
        Seq(cusumLv(tmpName(Seq("cusum_r", k, h, x)), col(x), col("__mu"), col("__sd"), k, h))
      ).drop("__mu", "__sd")
    case kind => throw new IllegalArgumentException(s"unknown indicator '$kind'")
  }

  /** Run specs over df as one batch: whole-series kinds first, then every
    * column plan merged level by level. */
  def run(df: DataFrame, specs: Seq[IndicatorSpec], src: String = "close"): DataFrame = {
    val lowered = specs.map(s => s -> compile(s, src))
    runAll(lowered.collect { case (s, None) => s }.foldLeft(df)(wholeSeries(_, _, src)), lowered.flatMap(_._2))
  }

  /** Column plans merge into one projection per level. Temps drop at the
    * end. A name several plans write keeps the LAST plan's definition, as
    * a fold of the specs would; outputs replace same-named input columns. */
  def runAll(df: DataFrame, plans: Seq[ColPlan]): DataFrame = {
    if (plans.isEmpty) return df
    // Last wins across levels: a plan that writes a name an earlier plan
    // wrote deeper, with another expression, shifts down until its
    // definition sits at the earlier one's level (where the per-level
    // dedup below keeps the later plan's).
    val deepest = scala.collection.mutable.Map.empty[String, (Int, String)]
    val allPlans = plans.map { pl =>
      val defs = for ((lv, k) <- pl.levels.zipWithIndex; (n, c) <- lv) yield (n, k, c.toString)
      val pad = (0 +: defs.flatMap { case (n, k, e) => deepest.get(n).collect { case (at, e0) if e0 != e => at - k } }).max
      defs.foreach { case (n, k, e) => deepest(n) = (math.max(k + pad, deepest.get(n).fold(0)(_._1)), e) }
      if (pad == 0) pl else pl.copy(levels = Seq.fill(pad)(Nil) ++ pl.levels)
    }
    // "__" is the compiler's temp namespace: an input column a plan writes
    // (e.g. __rn) would be silently overwritten and dropped — fail loudly
    // instead. Other "__" columns (Halo.chunked's tags) pass through.
    val reserved = df.columns.filter(c => c.startsWith("__") && (c == "__rn" || deepest.contains(c)))
    require(
      reserved.isEmpty,
      s"column prefix '__' is reserved by the strategy compiler; rename: ${reserved.mkString(", ")}"
    )
    val nLevels = allPlans.map(_.levels.size).max
    // Stack every level as an unresolved Project over the analyzed base and
    // analyze the whole tree ONCE (GraftBridge.ofRows). The old one-
    // `withColumns`-per-level loop re-ran full analysis per level, and
    // tree-rescanning rules (DeduplicateRelations alone: 0.4s / 0 effective
    // over the 80-spec build) made driver cost quadratic in level count.
    // Semantics are withColumns': same-name columns replace in place,
    // new columns append in level order.
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{Alias, NamedExpression}
    import org.apache.spark.sql.catalyst.plans.logical.Project
    import org.apache.spark.sql.{GraftBridge => B}
    val e = B.expressionEager _
    var names = df.columns.toVector
    var plan = B.analyzed(df)
    val level0: Level = Seq("__rn" -> rn)
    for (k <- -1 until nLevels) {
      val cols = if (k < 0) level0 else allPlans.flatMap(_.levels.lift(k).getOrElse(Nil))
      if (cols.nonEmpty) {
        // a name written twice in one level keeps the LAST occurrence
        val dedup = cols.map(_._1).distinct.map(n0 => n0 -> cols.reverse.find(_._1 == n0).get._2)
        val byName = dedup.toMap
        val kept: Seq[NamedExpression] = names.map { n0 =>
          byName.get(n0) match {
            case Some(c) => Alias(e(c), n0)()
            case None    => UnresolvedAttribute(Seq(n0))
          }
        }
        val appended = dedup.filterNot(c => names.contains(c._1))
        plan = Project(kept ++ appended.map { case (n0, c) => Alias(e(c), n0)() }, plan)
        names = names ++ appended.map(_._1)
      }
    }
    val d = B.ofRows(df.sparkSession, plan)
    // a column one plan treats as scratch (e.g. adx's true_range) may be
    // another plan's declared OUTPUT (the atr builder keeps true_range):
    // outputs win, only globally-unclaimed temps are dropped
    val outputs = allPlans.flatMap(pl => pl.levels.flatten.map(_._1).filterNot(pl.temps.contains)).toSet
    val temps = ("__rn" +: plans.flatMap(_.temps)).distinct.filterNot(outputs.contains)
    d.drop(temps: _*)
  }
}
