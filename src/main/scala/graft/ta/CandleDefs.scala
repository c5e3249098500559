package graft.ta

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** ALL six candle-pattern waves (the reference candles/cdl_pattern.py
  * TA-Lib delegation re-expressed as self-contained declared specs) over
  * the window primitives shift/rmean — the single-level StrategyCompiler
  * lowerings of `cdl_pattern`..`cdl_pattern_6`, which the accessors, the
  * registry and the streaming stage all run.
  *
  * Conventions: real-body gap = disjoint [min,max](o,c) intervals, doji =
  * body ≤ 0.1·range, Equal tolerance = 0.05·sma(h−l,10). Flags emit
  * 1.0/0.0, null while the needed lags (or the 10-bar averages) are
  * undefined. */
private[ta] object candleDefs {
  import prim.{rmean, shift}

  private val close = col("close")
  private val open = col("open")
  private val high = col("high")
  private val low = col("low")

  private def avgRng = rmean(high - low, 10)
  private def nearEq(a: Column, b: Column): Column = abs(a - b) <= lit(0.05) * avgRng
  private val body = abs(close - open)
  private val rng = high - low
  private val upShadow = high - greatest(open, close)
  private val dnShadow = least(open, close) - low
  private val po = shift(open, 1); private val pc = shift(close, 1)
  private val ph = shift(high, 1); private val pl = shift(low, 1)
  private val po2 = shift(open, 2); private val pc2 = shift(close, 2)
  private val ph2 = shift(high, 2); private val pl2 = shift(low, 2)
  private val po3 = shift(open, 3); private val pc3 = shift(close, 3)
  private val ph3 = shift(high, 3); private val pl3 = shift(low, 3)
  private val po4 = shift(open, 4); private val pc4 = shift(close, 4)
  private val ph4 = shift(high, 4); private val pl4 = shift(low, 4)
  private val bull = close > open; private val bear = close < open
  private val pBull = pc > po; private val pBear = pc < po
  private val p2Bull = pc2 > po2; private val p2Bear = pc2 < po2
  private val p3Bull = pc3 > po3; private val p3Bear = pc3 < po3
  private val bull4 = pc4 > po4; private val bear4 = pc4 < po4
  private val pBody = abs(pc - po); private val pRng = ph - pl
  private val p2Body = abs(pc2 - po2); private val p2Rng = ph2 - pl2
  private val p3Body = abs(pc3 - po3); private val p3Rng = ph3 - pl3
  private val body4 = abs(pc4 - po4)
  private val p2Ush = ph2 - greatest(po2, pc2)
  private val gapUp12 = least(po, pc) > greatest(po2, pc2)
  private val gapDn12 = greatest(po, pc) < least(po2, pc2)
  private val doji0 = rng > 0 && body <= lit(0.1) * rng
  private val doji1 = pRng > 0 && pBody <= lit(0.1) * pRng
  private val doji2 = p2Rng > 0 && p2Body <= lit(0.1) * p2Rng

  private def flag1(cond: Column): Column = when(cond, 1.0).otherwise(0.0)
  private def flag2(cond: Column): Column =
    when(pc.isNull, lit(null)).otherwise(when(cond, 1.0).otherwise(0.0))
  private def flag3(cond: Column): Column =
    when(pc2.isNull, lit(null)).otherwise(when(cond, 1.0).otherwise(0.0))
  private def flag4(cond: Column): Column =
    when(pc3.isNull, lit(null)).otherwise(when(cond, 1.0).otherwise(0.0))
  private def flag5(cond: Column): Column =
    when(pc4.isNull, lit(null)).otherwise(when(cond, 1.0).otherwise(0.0))
  private def flagEq1(cond: Column): Column =
    when(avgRng.isNull, lit(null)).otherwise(when(cond, 1.0).otherwise(0.0))
  private def flagEq2(cond: Column): Column =
    when(pc.isNull || avgRng.isNull, lit(null)).otherwise(when(cond, 1.0).otherwise(0.0))
  private def flagEq3(cond: Column): Column =
    when(pc2.isNull || avgRng.isNull, lit(null)).otherwise(when(cond, 1.0).otherwise(0.0))

  /** wave 1: the most-used single/two-candle reversals. */
  val wave1: Seq[(String, Column)] = Seq(
    // engulfing: current body engulfs previous opposite-color body
    "cdl_engulfing_bull" -> flag2(bull && pBear && open <= pc && close >= po),
    "cdl_engulfing_bear" -> flag2(bear && pBull && open >= pc && close <= po),
    // hammer: long lower shadow (≥2×body), small upper (≤body)
    "cdl_hammer" -> flag1(dnShadow >= lit(2.0) * body && upShadow <= body && body > 0),
    // shooting star: mirror of hammer
    "cdl_shooting_star" -> flag1(upShadow >= lit(2.0) * body && dnShadow <= body && body > 0),
    // harami: current body inside previous opposite body
    "cdl_harami_bull" -> flag2(bull && pBear && open >= pc && close <= po),
    "cdl_harami_bear" -> flag2(bear && pBull && open <= pc && close >= po),
    // marubozu: body ≥ 95% of range
    "cdl_marubozu" -> flag1(rng > 0 && body >= lit(0.95) * rng),
    // spinning top: small body (≤ 30% range) with both shadows longer than body
    "cdl_spinning_top" -> flag1(
      rng > 0 && body <= lit(0.3) * rng && upShadow > body && dnShadow > body)
  )

  /** wave 2: 2-candle reversals, 3-candle stars/soldiers, doji family. */
  val wave2: Seq[(String, Column)] = Seq(
    "cdl_piercing" -> flag2(pBear && bull && open <= pc && close > (po + pc) / 2.0 && close < po),
    "cdl_dark_cloud" -> flag2(pBull && bear && open >= pc && close < (po + pc) / 2.0 && close > po),
    "cdl_morning_star" -> flag3(p2Bear && pBody <= lit(0.3) * p2Body && bull && close > (po2 + pc2) / 2.0),
    "cdl_evening_star" -> flag3(p2Bull && pBody <= lit(0.3) * p2Body && bear && close < (po2 + pc2) / 2.0),
    "cdl_3_white_soldiers" -> flag3(
      bull && pBull && p2Bull && close > pc && pc > pc2 &&
        open > po && open < pc && po > po2 && po < pc2
    ),
    "cdl_3_black_crows" -> flag3(
      bear && pBear && p2Bear && close < pc && pc < pc2 &&
        open < po && open > pc && po < po2 && po > pc2
    ),
    "cdl_hanging_man" -> flag2(dnShadow >= lit(2.0) * body && upShadow <= body && body > 0 && pBull),
    "cdl_inverted_hammer" -> flag2(upShadow >= lit(2.0) * body && dnShadow <= body && body > 0 && pBear),
    "cdl_dragonfly_doji" -> flag1(rng > 0 && body <= lit(0.1) * rng && upShadow <= lit(0.1) * rng),
    "cdl_gravestone_doji" -> flag1(rng > 0 && body <= lit(0.1) * rng && dnShadow <= lit(0.1) * rng),
    "cdl_long_legged_doji" -> flag1(
      rng > 0 && body <= lit(0.1) * rng && upShadow >= lit(0.3) * rng && dnShadow >= lit(0.3) * rng
    )
  )

  /** wave 3: three-inside/outside reversals, belt holds, doji stars,
    * kicking. */
  val wave3: Seq[(String, Column)] = Seq(
    "cdl_3_inside_up" -> flag3(p2Bear && pBull && po >= pc2 && pc <= po2 && bull && close > po2),
    "cdl_3_inside_down" -> flag3(p2Bull && pBear && po <= pc2 && pc >= po2 && bear && close < po2),
    "cdl_3_outside_up" -> flag3(p2Bear && pBull && po <= pc2 && pc >= po2 && bull && close > pc),
    "cdl_3_outside_down" -> flag3(p2Bull && pBear && po >= pc2 && pc <= po2 && bear && close < pc),
    "cdl_belt_hold_bull" -> flag1(bull && rng > 0 && body >= lit(0.7) * rng && dnShadow <= lit(0.05) * rng),
    "cdl_belt_hold_bear" -> flag1(bear && rng > 0 && body >= lit(0.7) * rng && upShadow <= lit(0.05) * rng),
    "cdl_doji_star_bull" -> flag2(pBear && rng > 0 && body <= lit(0.1) * rng && greatest(open, close) < pc),
    "cdl_doji_star_bear" -> flag2(pBull && rng > 0 && body <= lit(0.1) * rng && least(open, close) > pc),
    "cdl_kicking_bull" -> flag2(kickUp),
    "cdl_kicking_bear" -> flag2(kickDn)
  )

  /** wave 4: Equal-tolerance (0.05·sma(h−l,10)) two/three-candle
    * patterns. */
  val wave4: Seq[(String, Column)] = Seq(
    "cdl_on_neck" -> flagEq2(pBear && bull && open < pl && nearEq(close, pl)),
    "cdl_in_neck" -> flagEq2(pBear && bull && open < pl && close >= pc && close - pc <= lit(0.05) * avgRng),
    "cdl_thrusting" -> flagEq2(pBear && bull && open < pl && close > pc && close < (po + pc) / 2.0),
    "cdl_separating_lines_bull" -> flagEq2(pBear && bull && nearEq(open, po)),
    "cdl_separating_lines_bear" -> flagEq2(pBull && bear && nearEq(open, po)),
    "cdl_matching_low" -> flagEq2(pBear && bear && nearEq(close, pc)),
    "cdl_stick_sandwich" -> flagEq3(p2Bear && pBull && bear && nearEq(close, pc2)),
    "cdl_homing_pigeon" -> flagEq2(pBear && bear && open < po && close > pc)
  )

  /** wave 5: gap-continuation and 5-candle formations. */
  val wave5: Seq[(String, Column)] = {
    // middles of the three-methods formation: small bodies inside the
    // first candle's high-low range
    def small(k: Int): Column = {
      val (ok, ck, hk, lk) = (shift(open, k), shift(close, k), shift(high, k), shift(low, k))
      abs(ck - ok) < body4 && hk <= ph4 && lk >= pl4
    }
    Seq(
      // gap continuation: third candle opens inside the second body and
      // closes into (but not across) the body gap
      "cdl_tasuki_gap_up" -> flag3(
        p2Bull && pBull && gapUp12 && bear && open > po && open < pc &&
          close < po && close > greatest(po2, pc2)
      ),
      "cdl_tasuki_gap_down" -> flag3(
        p2Bear && pBear && gapDn12 && bull && open < po && open > pc &&
          close > po && close < least(po2, pc2)
      ),
      // long first candle, three small candles inside its range, long
      // fifth resuming the trend past the first close
      "cdl_rising_3_methods" -> flag5(
        bull4 && small(3) && small(2) && small(1) && bull && open > pc && close > pc4
      ),
      "cdl_falling_3_methods" -> flag5(
        bear4 && small(3) && small(2) && small(1) && bear && open < pc && close < pc4
      ),
      // two crows: black pair after a white candle, second crow closing
      // back inside the white body
      "cdl_2_crows" -> flag3(
        p2Bull && pBear && gapUp12 && bear && open < po && open > pc &&
          close < pc2 && close > po2
      ),
      "cdl_upside_gap_2_crows" -> flag3(
        p2Bull && pBear && gapUp12 && bear && open > po && close < pc && close > pc2
      ),
      // three dojis, middle body gapping clear of both neighbors
      "cdl_tristar_bull" -> flag3(
        doji2 && doji1 && doji0 && greatest(po, pc) < least(po2, pc2) &&
          greatest(po, pc) < least(open, close)
      ),
      "cdl_tristar_bear" -> flag3(
        doji2 && doji1 && doji0 && least(po, pc) > greatest(po2, pc2) &&
          least(po, pc) > greatest(open, close)
      ),
      // doji island with full shadow gaps on both sides
      "cdl_abandoned_baby_bull" -> flag3(p2Bear && doji1 && ph < pl2 && bull && low > ph),
      "cdl_abandoned_baby_bear" -> flag3(p2Bull && doji1 && pl > ph2 && bear && high < pl),
      // opposite-color candles closing at the same price
      "cdl_counterattack_bull" -> flagEq2(pBear && bull && nearEq(close, pc)),
      "cdl_counterattack_bear" -> flagEq2(pBull && bear && nearEq(close, pc)),
      // doji with long symmetric shadows, body centered in the range
      "cdl_rickshaw_man" -> flag1(
        doji0 && upShadow >= lit(0.3) * rng && dnShadow >= lit(0.3) * rng &&
          abs((open + close) / 2.0 - (high + low) / 2.0) <= lit(0.1) * rng
      ),
      "cdl_high_wave" -> flag1(
        rng > 0 && body <= lit(0.15) * rng && upShadow >= lit(0.35) * rng &&
          dnShadow >= lit(0.35) * rng
      ),
      // long body with no shadow on the CLOSE side only
      "cdl_closing_marubozu" -> flag1(
        rng > 0 && body >= lit(0.7) * rng &&
          ((bull && upShadow <= lit(0.05) * rng) || (bear && dnShadow <= lit(0.05) * rng))
      )
    )
  }

  /** wave 6: the rest of the TA-Lib set. */
  val wave6: Seq[(String, Column)] = {
    val avgBody = rmean(abs(close - open), 10)
    Seq(
      // three rising whites then a black engulfing all three bodies
      "cdl_3_line_strike_bull" -> flag4(
        p3Bull && p2Bull && pBull && pc2 > pc3 && pc > pc2 &&
          bear && open > pc && close < po3
      ),
      "cdl_3_line_strike_bear" -> flag4(
        p3Bear && p2Bear && pBear && pc2 < pc3 && pc < pc2 &&
          bull && open < pc && close > po3
      ),
      // three declining blacks: long lower shadow first, second inside the
      // first's range, third a small marubozu-ish candle inside the second
      "cdl_3_stars_in_south" -> flag3(
        p2Bear && p2Rng > 0 && (least(po2, pc2) - pl2) >= p2Body &&
          pBear && ph < ph2 && pl > pl2 &&
          bear && rng > 0 && body >= lit(0.9) * rng && high <= ph && low >= pl
      ),
      // three rising whites with shrinking bodies and a growing upper shadow
      "cdl_advance_block" -> flag3(
        p2Bull && pBull && bull && pc > pc2 && close > pc &&
          open > po && open < pc && po > po2 && po < pc2 &&
          pBody < p2Body && body < pBody && upShadow > p2Ush
      ),
      // 5-candle reversal: gap away, drift, then a long candle closing
      // inside the opening gap
      "cdl_breakaway_bull" -> flag5(
        bear4 && p3Bear && greatest(po3, pc3) < least(po4, pc4) &&
          pc2 < pc3 && pc < pc2 &&
          bull && close > greatest(po3, pc3) && close < least(po4, pc4)
      ),
      "cdl_breakaway_bear" -> flag5(
        bull4 && p3Bull && least(po3, pc3) > greatest(po4, pc4) &&
          pc2 > pc3 && pc > pc2 &&
          bear && close < least(po3, pc3) && close > greatest(po4, pc4)
      ),
      // two black marubozus, a gapped-down black probing into the second,
      // and a black engulfing the third's entire range
      "cdl_conceal_baby_swall" -> flag4(
        p3Bear && p3Rng > 0 && p3Body >= lit(0.95) * p3Rng &&
          p2Bear && p2Rng > 0 && p2Body >= lit(0.95) * p2Rng &&
          pBear && greatest(po, pc) < pc2 && ph > pc2 &&
          bear && open >= ph && close <= pl
      ),
      // star variants with a true doji middle
      "cdl_morning_doji_star" -> flag3(p2Bear && doji1 && bull && close > (po2 + pc2) / 2.0),
      "cdl_evening_doji_star" -> flag3(p2Bull && doji1 && bear && close < (po2 + pc2) / 2.0),
      // two similar white candles gapping the same way side by side
      "cdl_gap_side_side_white_up" -> flagEq3(
        pBull && bull && gapUp12 && least(open, close) > greatest(po2, pc2) &&
          nearEq(open, po) && abs(body - pBody) <= lit(0.05) * avgRng
      ),
      "cdl_gap_side_side_white_down" -> flagEq3(
        pBull && bull && greatest(po, pc) < least(po2, pc2) &&
          greatest(open, close) < least(po2, pc2) &&
          nearEq(open, po) && abs(body - pBody) <= lit(0.05) * avgRng
      ),
      // harami whose second candle is a doji
      "cdl_harami_cross_bull" -> flag3(
        pBear && doji0 && greatest(open, close) <= po && least(open, close) >= pc
      ),
      "cdl_harami_cross_bear" -> flag3(
        pBull && doji0 && greatest(open, close) <= pc && least(open, close) >= po
      ),
      // inside bar followed by a false break (the hikkake setup)
      "cdl_hikkake_bull" -> flag3(ph < ph2 && pl > pl2 && high < ph && low < pl),
      "cdl_hikkake_bear" -> flag3(ph < ph2 && pl > pl2 && high > ph && low > pl),
      // three long blacks, each opening at the prior close
      "cdl_identical_3_crows" -> flagEq3(
        p2Bear && pBear && bear && nearEq(po, pc2) && nearEq(open, pc) &&
          pc < pc2 && close < pc
      ),
      // four declining blacks (4th with an upper shadow) then a white
      // gapping open above the 4th body and closing above its high
      "cdl_ladder_bottom" -> flag5(
        bear4 && p3Bear && p2Bear && pBear &&
          pc3 < pc4 && pc2 < pc3 && pc < pc2 &&
          pRng > 0 && (ph - po) >= lit(0.1) * pRng &&
          bull && open > po && close > ph
      ),
      // body length vs its 10-bar average
      "cdl_long_line" -> flagEq1(
        avgBody.isNotNull && rng > 0 && body >= lit(1.3) * avgBody && body >= lit(0.6) * rng
      ),
      "cdl_short_line" -> flagEq1(
        avgBody.isNotNull && body <= lit(0.5) * avgBody && rng <= lit(0.5) * avgRng
      ),
      // long white, gapped-up small blacks holding above the first low,
      // long white resuming to a new high
      "cdl_mat_hold" -> flag5(
        bull4 && p3Bear && least(po3, pc3) > pc4 &&
          p3Body < body4 && p2Body < body4 && pBody < body4 &&
          least(pl3, least(pl2, pl)) > pl4 &&
          bull && close > greatest(ph3, greatest(ph2, ph))
      ),
      // three rising whites, third stalling: small body opening near the
      // second close
      "cdl_stalled_pattern" -> flagEq3(
        p2Bull && pBull && bull && pc > pc2 && close > pc &&
          body <= lit(0.5) * pBody && open > po && open <= pc + lit(0.05) * avgRng
      ),
      // dragonfly doji with an exceptionally long lower shadow
      "cdl_takuri" -> flag1(
        rng > 0 && body <= lit(0.1) * rng && upShadow <= lit(0.1) * rng &&
          dnShadow >= lit(0.7) * rng
      ),
      // gap three methods: third candle fully closes the gap
      "cdl_xside_gap_3_methods_up" -> flag3(
        p2Bull && pBull && gapUp12 && bear && open > po && open < pc &&
          close <= greatest(po2, pc2)
      ),
      "cdl_xside_gap_3_methods_down" -> flag3(
        p2Bear && pBear && gapDn12 && bull && open < po && open > pc &&
          close >= least(po2, pc2)
      ),
      // kicking by length: the kicking formation in either gap direction,
      // sign decided by the LONGER marubozu (ties -> the gap direction)
      "cdl_kicking_by_length_bull" -> flag2(
        (kickUp && body >= pBody) || (kickDn && pBody > body)
      ),
      "cdl_kicking_by_length_bear" -> flag2(
        (kickUp && body < pBody) || (kickDn && pBody <= body)
      ),
      // modified hikkake: the inside bar also closes at the extreme of its
      // range opposite the false break (near = 0.2 * avg range, house conv.)
      "cdl_hikkake_mod_bull" -> flagEq3(
        ph < ph2 && pl > pl2 && (pc - pl) <= lit(0.2) * avgRng && high < ph && low < pl
      ),
      "cdl_hikkake_mod_bear" -> flagEq3(
        ph < ph2 && pl > pl2 && (ph - pc) <= lit(0.2) * avgRng && high > ph && low > pl
      )
    )
  }

  // the two-marubozu kicking formation, up-gap and down-gap variants
  private def kickUp: Column =
    pBear && pRng > 0 && pBody >= lit(0.95) * pRng &&
      bull && rng > 0 && body >= lit(0.95) * rng && open > ph
  private def kickDn: Column =
    pBull && pRng > 0 && pBody >= lit(0.95) * pRng &&
      bear && rng > 0 && body >= lit(0.95) * rng && open < pl
}
