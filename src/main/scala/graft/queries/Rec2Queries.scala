package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Graft
import graft.ta.{prim => P}
import graft.ta.Ta._
import sqlgen._

/** Second REC wave — the reference's "hard" roadmap ops (td_seq, qqe, rsx,
  * ebsw, hwc, jma) as per-series kernels with recursive-CTE oracles.
  */
object Rec2Queries {

  private def mkBars(name: String, outs: Seq[String], sql: Option[String])(
      build: DataFrame => DataFrame
  ): Q =
    Q(
      name,
      (spark: SparkSession, dir: String) => {
        Graft.init(spark)
        build(Graft.bars(spark, dir))
          .select(col("series_id") +: col("ts") +: outs.map(o => P.normd(col(o).cast("double")).as(o)): _*)
          .orderBy("series_id", "ts")
      },
      sql
    )

  // ------------------------------------------------------------- td_seq
  val qTdSeq = mkBars(
    "td_seq",
    Seq("td_seq_up", "td_seq_dn"),
    Some(
      s"WITH RECURSIVE bars AS ($barsCte), " +
        s"b AS (SELECT *, lag(close, 4) $ov AS c4, row_number() OVER ($W) AS rn FROM bars), " +
        "r AS (SELECT series_id, ts, rn, CAST(0 AS BIGINT) AS up, CAST(0 AS BIGINT) AS dn, " +
        "c4 IS NOT NULL AS started FROM b WHERE rn = 1 " +
        "UNION ALL SELECT b.series_id, b.ts, b.rn, " +
        "CASE WHEN b.c4 IS NULL THEN 0 WHEN b.close > b.c4 THEN (CASE WHEN r.up = 9 THEN 1 ELSE r.up + 1 END) ELSE 0 END AS up, " +
        "CASE WHEN b.c4 IS NULL THEN 0 WHEN b.close < b.c4 THEN (CASE WHEN r.dn = 9 THEN 1 ELSE r.dn + 1 END) ELSE 0 END AS dn, " +
        "b.c4 IS NOT NULL AS started " +
        "FROM b JOIN r ON b.series_id = r.series_id AND b.rn = r.rn + 1) " +
        "SELECT series_id, ts, CASE WHEN started THEN CAST(up AS DOUBLE) END AS td_seq_up, " +
        "CASE WHEN started THEN CAST(dn AS DOUBLE) END AS td_seq_dn FROM r" + orderTail
    )
  )(_.ta.tdSeq)

  // ------------------------------------------------------------- ebsw
  val qEbsw = {
    val (n, bars0) = (20, 10)
    val alpha1 = (1.0 - math.sin(2.0 * math.Pi / n)) / math.cos(2.0 * math.Pi / n)
    val a1 = math.exp(-math.sqrt(2.0) * math.Pi / bars0)
    val b1 = 2.0 * a1 * math.cos(math.sqrt(2.0) * math.Pi / bars0)
    val c2 = b1; val c3 = -a1 * a1; val c1 = 1.0 - c2 - c3
    mkBars(
      s"ebsw_$n",
      Seq(s"ebsw_$n"),
      Some(
        s"WITH RECURSIVE bars AS ($barsCte), " +
          s"b AS (SELECT *, row_number() OVER ($W) AS rn FROM bars), " +
          "r AS (SELECT series_id, ts, rn, close AS pc, 0e0 AS hp1, 0e0 AS f1, 0e0 AS f2, " +
          "CAST(NULL AS DOUBLE) AS ebsw FROM b WHERE rn = 1 " +
          "UNION ALL SELECT z1.series_id, z1.ts, z1.rn, z1.pc, z1.hp1, z1.f1, z1.f2, z1.ebsw FROM (" +
          "SELECT z0.series_id, z0.ts, z0.rn, z0.close AS pc, z0.hp AS hp1, z0.filt AS f1, z0.f1 AS f2, " +
          "CASE WHEN z0.rn <= 3 THEN NULL WHEN (z0.filt*z0.filt + z0.f1*z0.f1 + z0.f2*z0.f2) / 3e0 > 0 " +
          "THEN ((z0.filt + z0.f1 + z0.f2) / 3e0) / sqrt((z0.filt*z0.filt + z0.f1*z0.f1 + z0.f2*z0.f2) / 3e0) END AS ebsw " +
          "FROM (" +
          s"SELECT b.series_id, b.ts, b.rn, b.close, r.f1, r.f2, " +
          s"(${d(0.5 * (1.0 + alpha1))}) * (b.close - r.pc) + (${d(alpha1)}) * r.hp1 AS hp, " +
          s"(${d(c1)}) * ((((${d(0.5 * (1.0 + alpha1))}) * (b.close - r.pc) + (${d(alpha1)}) * r.hp1) + r.hp1) / 2e0) + " +
          s"(${d(c2)}) * r.f1 + (${d(c3)}) * r.f2 AS filt " +
          "FROM b JOIN r ON b.series_id = r.series_id AND b.rn = r.rn + 1) z0" +
          ") z1) " +
          s"SELECT series_id, ts, round(ebsw, 6) AS ebsw_$n FROM r" + orderTail
      )
    )(_.ta.ebsw(n, bars0))
  }

  // ------------------------------------------------------------- hwc
  val qHwc = {
    val (na, nb, nc, nd, k) = (0.2, 0.1, 0.1, 0.1, 1.0)
    val fN = s"((${d(1 - na)}) * (r.f + r.v + 0.5e0 * r.a) + (${d(na)}) * b.close)"
    val vN = s"((${d(1 - nb)}) * (r.v + r.a) + (${d(nb)}) * ($fN - r.f))"
    val aN = s"((${d(1 - nc)}) * r.a + (${d(nc)}) * ($vN - r.v))"
    val hw = s"($fN + $vN + 0.5e0 * $aN)"
    val varN = s"((${d(1 - nd)}) * r.vr + (${d(nd)}) * (b.close - r.hw) * (b.close - r.hw))"
    mkBars(
      "hwc",
      Seq("hwc_mid", "hwc_upper", "hwc_lower"),
      Some(
        s"WITH RECURSIVE bars AS ($barsCte), " +
          s"b AS (SELECT *, row_number() OVER ($W) AS rn FROM bars), " +
          "r AS (SELECT series_id, ts, rn, close AS f, 0e0 AS v, 0e0 AS a, 0e0 AS vr, close AS hw FROM b WHERE rn = 1 " +
          s"UNION ALL SELECT b.series_id, b.ts, b.rn, $fN AS f, $vN AS v, $aN AS a, $varN AS vr, $hw AS hw " +
          "FROM b JOIN r ON b.series_id = r.series_id AND b.rn = r.rn + 1) " +
          s"SELECT series_id, ts, round(hw, 6) AS hwc_mid, round(hw + ${d(k)} * sqrt(vr), 6) AS hwc_upper, " +
          s"round(hw - ${d(k)} * sqrt(vr), 6) AS hwc_lower FROM r" + orderTail
      )
    )(_.ta.hwc(na, nb, nc, nd, k))
  }

  // ------------------------------------------------------------- rsx
  val qRsx = {
    val n = 10
    val f18 = 3.0 / (n + 2.0); val f20 = 1.0 - f18
    // cascade generator: (inName, aPrefix) → 6 state updates
    def casc(v: String, s1: String, s2: String, s3: String, s4: String, s5: String, s6: String): (String, String) = {
      val u1 = s"(${d(f20)}) * r.$s1 + (${d(f18)}) * $v"
      val u2 = s"(${d(f18)}) * ($u1) + (${d(f20)}) * r.$s2"
      val vA = s"(1.5e0 * ($u1) - 0.5e0 * ($u2))"
      val u3 = s"(${d(f20)}) * r.$s3 + (${d(f18)}) * $vA"
      val u4 = s"(${d(f18)}) * ($u3) + (${d(f20)}) * r.$s4"
      val vB = s"(1.5e0 * ($u3) - 0.5e0 * ($u4))"
      val u5 = s"(${d(f20)}) * r.$s5 + (${d(f18)}) * $vB"
      val u6 = s"(${d(f18)}) * ($u5) + (${d(f20)}) * r.$s6"
      val out = s"(1.5e0 * ($u5) - 0.5e0 * ($u6))"
      (Seq(s"$u1 AS $s1", s"$u2 AS $s2", s"$u3 AS $s3", s"$u4 AS $s4", s"$u5 AS $s5", s"$u6 AS $s6").mkString(", "), out)
    }
    val v8 = "(100e0 * b.close - r.f8)"
    val (upd1, v14) = casc(v8, "f28", "f30", "f38", "f40", "f48", "f50")
    val (upd2, v20) = casc(s"abs($v8)", "f58", "f60", "f68", "f70", "f78", "f80")
    val states = Seq("f28", "f30", "f38", "f40", "f48", "f50", "f58", "f60", "f68", "f70", "f78", "f80")
    mkBars(
      s"rsx_$n",
      Seq(s"rsx_$n"),
      Some(
        s"WITH RECURSIVE bars AS ($barsCte), " +
          s"b AS (SELECT *, row_number() OVER ($W) AS rn FROM bars), " +
          "r AS (SELECT series_id, ts, rn, 100e0 * close AS f8, " +
          states.map(s0 => s"0e0 AS $s0").mkString(", ") + ", CAST(NULL AS DOUBLE) AS rsx FROM b WHERE rn = 1 " +
          s"UNION ALL SELECT b.series_id, b.ts, b.rn, 100e0 * b.close AS f8, $upd1, $upd2, " +
          s"CASE WHEN b.rn <= ${n + 1} THEN NULL WHEN $v20 = 0e0 THEN 50e0 " +
          s"ELSE greatest(0e0, least(100e0, 100e0 * ($v14 / $v20 + 1e0) / 2e0)) END AS rsx " +
          "FROM b JOIN r ON b.series_id = r.series_id AND b.rn = r.rn + 1) " +
          s"SELECT series_id, ts, round(rsx, 6) AS rsx_$n FROM r" + orderTail
      )
    )(_.ta.rsx(n))
  }

  // ------------------------------------------------------------- qqe
  val qQqe = {
    val (n, sm, fac) = (6, 3, 4.236)
    val wilders = n * 2 - 1
    // rsi(n) with Wilder rma (mirror of Ta.rsiAs), then sma-seeded ema(sm)
    val b0 = new SeriesQueries.Cte("bars", barsCte)
      .addSel("q0", s"close - lag(close, 1) $ov AS dc")
      .addSel(
        "q1",
        "CASE WHEN dc IS NULL THEN NULL WHEN dc > 0 THEN dc ELSE 0e0 END AS up, " +
          "CASE WHEN dc IS NULL THEN NULL WHEN dc < 0 THEN -dc ELSE 0e0 END AS dn"
      )
      .addSel("q2", s"${rma("up", n)} AS ru, ${rma("dn", n)} AS rd")
      .addSel("q3", s"100e0 * ${sdiv("ru", "(ru + rd)")} AS qrsi")
    val b1 = SeriesQueries.emaSql(b0, "qrsi", "rsima", sm)
      .addSel("q5", s"abs(rsima - lag(rsima, 1) $ov) AS adr")
      .addSel("q6", s"${ewm("adr", 1.0 / wilders)} AS matr")
      .addSel("q7", s"${ewm("matr", 1.0 / wilders)} * ${d(fac)} AS dar")
    val base = b1.result("SELECT series_id, ts, rsima, dar FROM " + b1.top)
    val sql =
      s"WITH RECURSIVE base AS ($base), " +
        s"b AS (SELECT *, row_number() OVER ($W) AS rn FROM base), " +
        "r AS (SELECT series_id, ts, rn, rsima, " +
        "CASE WHEN rsima IS NOT NULL AND dar IS NOT NULL THEN rsima - dar END AS lb, " +
        "CASE WHEN rsima IS NOT NULL AND dar IS NOT NULL THEN rsima + dar END AS sb, " +
        "1 AS trend, rsima IS NOT NULL AND dar IS NOT NULL AS started FROM b WHERE rn = 1 " +
        "UNION ALL SELECT z1.series_id, z1.ts, z1.rn, z1.rsima, z1.lb, z1.sb, z1.trend, z1.started FROM (" +
        "SELECT b.series_id, b.ts, b.rn, b.rsima, " +
        // not yet started: pass through; first valid row initializes
        "CASE WHEN b.rsima IS NULL OR b.dar IS NULL THEN r.lb " +
        "WHEN NOT r.started THEN b.rsima - b.dar " +
        "WHEN r.rsima > r.lb AND b.rsima > r.lb THEN greatest(r.lb, b.rsima - b.dar) ELSE b.rsima - b.dar END AS lb, " +
        "CASE WHEN b.rsima IS NULL OR b.dar IS NULL THEN r.sb " +
        "WHEN NOT r.started THEN b.rsima + b.dar " +
        "WHEN r.rsima < r.sb AND b.rsima < r.sb THEN least(r.sb, b.rsima + b.dar) ELSE b.rsima + b.dar END AS sb, " +
        "CASE WHEN b.rsima IS NULL OR b.dar IS NULL OR NOT r.started THEN r.trend " +
        "WHEN b.rsima > r.sb AND r.rsima <= r.sb THEN 1 " +
        "WHEN b.rsima < r.lb AND r.rsima >= r.lb THEN -1 ELSE r.trend END AS trend, " +
        "r.started OR (b.rsima IS NOT NULL AND b.dar IS NOT NULL) AS started " +
        "FROM b JOIN r ON b.series_id = r.series_id AND b.rn = r.rn + 1) z1) " +
        s"SELECT series_id, ts, " +
        s"round(CASE WHEN started AND rsima IS NOT NULL THEN (CASE WHEN trend = 1 THEN lb ELSE sb END) END, 6) AS qqe_$n, " +
        s"CASE WHEN started AND rsima IS NOT NULL THEN CAST(trend AS DOUBLE) END AS qqe_trend_$n " +
        "FROM r" + orderTail
    mkBars(s"qqe_$n", Seq(s"qqe_$n", s"qqe_trend_$n"), Some(sql))(_.ta.qqe(n, sm, fac))
  }

  // ------------------------------------------------------------- jma
  /** The kernel's two ring buffers fold into LIST/scalar state: `vbuf`
    * mirrors the 11-slot volty ring as "last ≤10 volty values" (voltyOld =
    * head once full, else the ring's untouched 0.0), and the 65-slot vsum
    * ring's average collapses to `vcum / (rn-1)` because slot 0 stays 0
    * and the current vsum is written past the averaged range. That closed
    * form requires rn ≤ 65 — fine for the 30-row bars fixture, asserted
    * nowhere else. Constants are Scala-computed and emitted via d() so
    * both engines run bit-identical literals. */
  val qJma = {
    val n = 7; val phase = 0.0
    val len1 = math.max(math.log(math.sqrt(0.5 * (n - 1))) / math.log(2.0) + 2.0, 0.0)
    val pow1 = math.max(len1 - 2.0, 0.5)
    val len2 = math.sqrt(0.5 * (n - 1)) * len1
    val pr = if (phase < -100) 0.5 else if (phase > 100) 2.5 else 1.5 + phase * 0.01
    val beta = 0.45 * (n - 1) / (0.45 * (n - 1) + 2.0)
    val sql =
      s"WITH RECURSIVE bars AS ($barsCte), " +
        s"b AS (SELECT *, row_number() OVER ($W) AS rn FROM bars), " +
        "r AS (SELECT series_id, ts, rn, close AS ub, close AS lb, close AS ma1, close AS jma, " +
        "0e0 AS det0, 0e0 AS det1, 0e0 AS vsum, 0e0 AS vcum, CAST([] AS DOUBLE[]) AS vbuf FROM b WHERE rn = 1 " +
        "UNION ALL SELECT z.series_id, z.ts, z.rn, z.ub, z.lb, z.ma1, z.jma, z.det0, z.det1, z.vsum, " +
        "z.pvcum + z.vsum AS vcum, " +
        "CASE WHEN len(z.pvbuf) >= 10 THEN list_append(z.pvbuf[2:], z.volty) ELSE list_append(z.pvbuf, z.volty) END AS vbuf " +
        "FROM (" +
        "SELECT *, pjma + det1 AS jma FROM (" +
        s"SELECT *, (ma1 + (${d(pr)}) * det0 - pjma) * pow(1e0 - alpha, 2e0) + alpha * alpha * pdet1 AS det1 FROM (" +
        s"SELECT *, (p - ma1) * (${d(1.0 - beta)}) + (${d(beta)}) * pdet0 AS det0 FROM (" +
        "SELECT *, CASE WHEN del1 > 0 THEN p ELSE p - kv * del1 END AS ub, " +
        "CASE WHEN del2 < 0 THEN p ELSE p - kv * del2 END AS lb, " +
        "(1e0 - alpha) * p + alpha * pma1 AS ma1 FROM (" +
        s"SELECT *, pow(${d(len2 / (len2 + 1.0))}, sqrt(pow2)) AS kv, pow(${d(beta)}, pow2) AS alpha FROM (" +
        s"SELECT *, pow(greatest(1e0, least(${d(math.pow(len1, 1.0 / pow1))}, " +
        "CASE WHEN pvcum / (rn - 1) > 0 THEN volty / (pvcum / (rn - 1)) ELSE 0e0 END)), " +
        s"${d(pow1)}) AS pow2 FROM (" +
        "SELECT *, pvsum + (volty - (CASE WHEN len(pvbuf) = 10 THEN pvbuf[1] ELSE 0e0 END)) / 10e0 AS vsum FROM (" +
        "SELECT *, CASE WHEN abs(del1) <> abs(del2) THEN greatest(abs(del1), abs(del2)) ELSE 0e0 END AS volty FROM (" +
        "SELECT b.series_id, b.ts, b.rn, b.close AS p, " +
        "r.ma1 AS pma1, r.jma AS pjma, r.det0 AS pdet0, r.det1 AS pdet1, " +
        "r.vsum AS pvsum, r.vcum AS pvcum, r.vbuf AS pvbuf, " +
        "b.close - r.ub AS del1, b.close - r.lb AS del2 " +
        "FROM b JOIN r ON b.series_id = r.series_id AND b.rn = r.rn + 1" +
        ") z0) z1) z2) z3) z4) z5) z6) z7) z) " +
        s"SELECT series_id, ts, round(jma, 6) AS jma_$n FROM r" + orderTail
    mkBars(s"jma_$n", Seq(s"jma_$n"), Some(sql))(_.ta.jma(n))
  }

  // ------------------------------------------------------------- cusum
  /** Two-sided CUSUM changepoint flags per user series (RecFolds.CusumFold): the
    * per-series μ/σ are rounded to 6 dp on BOTH engines before the
    * recursion, so the fold runs from bit-identical inputs and the
    * alarm comparisons cannot straddle an ulp. */
  val qCusum = {
    val (k, h) = (0.5, 5.0)
    val stepFrom = (psp: String, psn: String) =>
      s"CASE WHEN close IS NULL OR sd IS NULL OR sd = 0 THEN NULL " +
        s"ELSE greatest(0e0, $psp + (close - mu) / sd - ${d(k)}) END AS sp_pre, " +
        s"CASE WHEN close IS NULL OR sd IS NULL OR sd = 0 THEN NULL " +
        s"ELSE greatest(0e0, $psn - (close - mu) / sd - ${d(k)}) END AS sn_pre"
    val outs =
      "sp_pre AS out_sp, sn_pre AS out_sn, " +
        s"CASE WHEN sp_pre IS NULL THEN NULL WHEN sp_pre > ${d(h)} OR sn_pre > ${d(h)} " +
        "THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS alarm, " +
        s"CASE WHEN sp_pre IS NULL THEN psp WHEN sp_pre > ${d(h)} OR sn_pre > ${d(h)} " +
        "THEN 0e0 ELSE sp_pre END AS sp, " +
        s"CASE WHEN sn_pre IS NULL THEN psn WHEN sp_pre > ${d(h)} OR sn_pre > ${d(h)} " +
        "THEN 0e0 ELSE sn_pre END AS sn"
    val sql =
      s"WITH RECURSIVE s AS ($seriesCte), " +
        "st AS (SELECT series_id, round(avg(close), 6) AS mu, round(stddev_samp(close), 6) AS sd " +
        "FROM s GROUP BY 1), " +
        s"b AS (SELECT s.*, st.mu, st.sd, row_number() OVER ($W) AS rn FROM s JOIN st USING (series_id)), " +
        "r AS (SELECT series_id, ts, rn, " + outs.replace("psp", "0e0").replace("psn", "0e0") +
        s" FROM (SELECT *, ${stepFrom("0e0", "0e0")} FROM b WHERE rn = 1) z0 " +
        "UNION ALL SELECT series_id, ts, rn, " + outs +
        s" FROM (SELECT *, ${stepFrom("psp", "psn")} FROM " +
        "(SELECT b.series_id, b.ts, b.rn, b.close, b.mu, b.sd, r.sp AS psp, r.sn AS psn " +
        "FROM b JOIN r ON b.series_id = r.series_id AND b.rn = r.rn + 1) z1) z2) " +
        "SELECT series_id, ts, round(out_sp, 6) AS cusum_pos, round(out_sn, 6) AS cusum_neg, " +
        "alarm AS cusum_alarm FROM r" + orderTail
    Q(
      "x_cusum",
      (spark: SparkSession, dir: String) => {
        Graft.init(spark)
        Graft
          .userSeries(spark, dir)
          .ta
          .cusum(k, h)
          .select(
            col("series_id"),
            col("ts"),
            P.normd(col("cusum_pos")).as("cusum_pos"),
            P.normd(col("cusum_neg")).as("cusum_neg"),
            col("cusum_alarm")
          )
          .orderBy("series_id", "ts")
      },
      Some(sql)
    )
  }

  // ------------------------------------------------------------- kalman
  /** 1-D Kalman local-level filter per user series (RecFolds.KalmanFold): the
    * predict/gain/update recursion replayed step-for-step as a recursive
    * CTE — gain is state-only arithmetic, so both engines fold identical
    * doubles. Null-close rows mirror the kernel exactly (emit current
    * level, gain null, state carried — x IS NULL encodes "not started",
    * so a leading null defers the seed to the first observation) instead
    * of poisoning the rest of the recursion, matching qCusum's defensive
    * handling. */
  val qKalman = {
    val (q, rn) = (0.01, 1.0)
    val sql =
      s"WITH RECURSIVE s AS ($seriesCte), " +
        s"b AS (SELECT *, row_number() OVER ($W) AS rn FROM s), " +
        "r AS (SELECT series_id, ts, rn, close AS x, " +
        "CASE WHEN close IS NULL THEN NULL ELSE 1e0 END AS p, CAST(NULL AS DOUBLE) AS g FROM b WHERE rn = 1 " +
        "UNION ALL SELECT series_id, ts, rn, " +
        "CASE WHEN close IS NULL THEN xp WHEN xp IS NULL THEN close ELSE xp + k0 * (close - xp) END AS x, " +
        "CASE WHEN close IS NULL THEN pprev WHEN xp IS NULL THEN 1e0 ELSE (1e0 - k0) * pp END AS p, " +
        "CASE WHEN close IS NULL OR xp IS NULL THEN NULL ELSE k0 END AS g FROM (" +
        "SELECT z0.*, z0.pp / (z0.pp + (" + d(rn) + ")) AS k0 FROM (" +
        s"SELECT b.series_id, b.ts, b.rn, b.close, r.x AS xp, r.p AS pprev, r.p + (${d(q)}) AS pp " +
        "FROM b JOIN r ON b.series_id = r.series_id AND b.rn = r.rn + 1) z0) z1) " +
        "SELECT series_id, ts, round(x, 6) AS kf, round(g, 6) AS kf_gain FROM r" + orderTail
    Q(
      "x_kalman",
      (spark: SparkSession, dir: String) => {
        Graft.init(spark)
        Graft
          .userSeries(spark, dir)
          .ta
          .kalman(q, rn)
          .select(
            col("series_id"),
            col("ts"),
            P.normd(col("kf")).as("kf"),
            P.normd(col("kf_gain")).as("kf_gain")
          )
          .orderBy("series_id", "ts")
      },
      Some(sql)
    )
  }

  // ---------------------------------------------------- kalman + cusum
  /** Innovation-based changepoint monitoring (the textbook composite): a
    * Kalman local-level filter absorbs slow drift, and the two-sided
    * CUSUM runs on the PREDICTION INNOVATIONS z_t − x_{t−1} — so level
    * shifts the filter hasn't caught yet alarm, while gradual trends the
    * filter tracks do not. Engine = `ta.kalman` chained into `ta.cusum
    * (src = "innov")`; oracle chains the two recursive CTEs (DuckDB
    * allows several recursions in one WITH RECURSIVE list). */
  val qKalmanCusum = {
    val (q, rnz) = (0.01, 1.0)
    val (k, h) = (0.5, 5.0)
    val stepFrom = (psp: String, psn: String) =>
      s"CASE WHEN close IS NULL OR sd IS NULL OR sd = 0 THEN NULL " +
        s"ELSE greatest(0e0, $psp + (close - mu) / sd - ${d(k)}) END AS sp_pre, " +
        s"CASE WHEN close IS NULL OR sd IS NULL OR sd = 0 THEN NULL " +
        s"ELSE greatest(0e0, $psn - (close - mu) / sd - ${d(k)}) END AS sn_pre"
    val outs =
      "sp_pre AS out_sp, sn_pre AS out_sn, " +
        s"CASE WHEN sp_pre IS NULL THEN NULL WHEN sp_pre > ${d(h)} OR sn_pre > ${d(h)} " +
        "THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS alarm, " +
        s"CASE WHEN sp_pre IS NULL THEN psp WHEN sp_pre > ${d(h)} OR sn_pre > ${d(h)} " +
        "THEN 0e0 ELSE sp_pre END AS sp, " +
        s"CASE WHEN sn_pre IS NULL THEN psn WHEN sp_pre > ${d(h)} OR sn_pre > ${d(h)} " +
        "THEN 0e0 ELSE sn_pre END AS sn"
    val sql =
      s"WITH RECURSIVE s AS ($seriesCte), " +
        s"kb AS (SELECT *, row_number() OVER ($W) AS rn FROM s), " +
        // same null-close carry-state guard as qKalman's recursion
        "kr AS (SELECT series_id, ts, rn, close AS x, " +
        "CASE WHEN close IS NULL THEN NULL ELSE 1e0 END AS p FROM kb WHERE rn = 1 " +
        "UNION ALL SELECT series_id, ts, rn, " +
        "CASE WHEN close IS NULL THEN xp WHEN xp IS NULL THEN close ELSE xp + k0 * (close - xp) END AS x, " +
        "CASE WHEN close IS NULL THEN pprev WHEN xp IS NULL THEN 1e0 ELSE (1e0 - k0) * pp END AS p FROM (" +
        s"SELECT z0.*, z0.pp / (z0.pp + (${d(rnz)})) AS k0 FROM (" +
        s"SELECT kb.series_id, kb.ts, kb.rn, kb.close, kr.x AS xp, kr.p AS pprev, kr.p + (${d(q)}) AS pp " +
        "FROM kb JOIN kr ON kb.series_id = kr.series_id AND kb.rn = kr.rn + 1) z0) z1), " +
        // MATERIALIZED is load-bearing: the second recursion (r) references
        // b every iteration, and an inlined b re-runs the ENTIRE kr
        // recursion per step — measured 221 s -> 2.2 s at sf0.1 (~66-row
        // series = ~66 re-evaluations). Same lesson as the pagerank/BPE
        // round-unroll oracles.
        "i AS MATERIALIZED (SELECT kb.series_id, kb.ts, kb.rn, " +
        "kb.close - lag(kr.x) OVER (PARTITION BY kb.series_id ORDER BY kb.rn) AS close " +
        "FROM kb JOIN kr ON kb.series_id = kr.series_id AND kb.rn = kr.rn), " +
        "st AS MATERIALIZED (SELECT series_id, round(avg(close), 6) AS mu, round(stddev_samp(close), 6) AS sd " +
        "FROM i GROUP BY 1), " +
        "b AS MATERIALIZED (SELECT i.series_id, i.ts, i.rn, i.close, st.mu, st.sd FROM i JOIN st USING (series_id)), " +
        "r AS (SELECT series_id, ts, rn, " + outs.replace("psp", "0e0").replace("psn", "0e0") +
        s" FROM (SELECT *, ${stepFrom("0e0", "0e0")} FROM b WHERE rn = 1) z0 " +
        "UNION ALL SELECT series_id, ts, rn, " + outs +
        s" FROM (SELECT *, ${stepFrom("psp", "psn")} FROM " +
        "(SELECT b.series_id, b.ts, b.rn, b.close, b.mu, b.sd, r.sp AS psp, r.sn AS psn " +
        "FROM b JOIN r ON b.series_id = r.series_id AND b.rn = r.rn + 1) z1) z2) " +
        "SELECT b.series_id, b.ts, round(b.close, 6) AS innov, round(r.out_sp, 6) AS cusum_pos, " +
        "round(r.out_sn, 6) AS cusum_neg, r.alarm AS cusum_alarm " +
        "FROM r JOIN b ON b.series_id = r.series_id AND b.rn = r.rn ORDER BY b.series_id, b.ts"
    Q(
      "x_kalman_cusum",
      (spark: SparkSession, dir: String) => {
        Graft.init(spark)
        val w = org.apache.spark.sql.expressions.Window.partitionBy("series_id").orderBy("ts")
        Graft
          .userSeries(spark, dir)
          .ta
          .kalman(q, rnz)
          .withColumn("innov", col("close") - lag("kf", 1).over(w))
          .ta
          .cusum(k, h, src = "innov")
          .select(
            col("series_id"),
            col("ts"),
            P.normd(col("innov")).as("innov"),
            P.normd(col("cusum_pos")).as("cusum_pos"),
            P.normd(col("cusum_neg")).as("cusum_neg"),
            col("cusum_alarm")
          )
          .orderBy("series_id", "ts")
      },
      Some(sql)
    )
  }

  /** SQL surface PHASE 4 — the wave-2/3 REC folds from pure SQL text
    * (round 9): the self-contained wrappers (graft_ha/mcgd/ssf/hwma/
    * ebsw/hwc/td_seq/rsx, canonical window baked in) plus the
    * staged-input bare kernels (graft_hilo_k/graft_fisher_k) consumed
    * the way a SQL user would — staging columns in a subquery level and
    * an explicit OVER on the running frame. Oracle = composeJoin of the
    * per-indicator recursive-CTE oracles already proven against the
    * accessor queries, so SQL text ≡ fold ≡ kernel at 6 dp. */
  val qSqlSurface4 = Q(
    "x_sql_surface4",
    (spark: SparkSession, dir: String) => {
      Graft.init(spark)
      Graft.bars(spark, dir).createOrReplaceTempView("graft_bars4")
      val outs = Seq(
        "ha_open", "ha_high", "ha_low", "ha_close", "mcgd_10", "ssf_10", "hwma",
        "ebsw_20", "hwc_mid", "hwc_upper", "hwc_lower", "td_seq_up", "td_seq_dn",
        "rsx_10", "hilo", "hilo_long", "hilo_short", "fisher_9", "fisher_signal_9"
      )
      spark
        .sql(
          """SELECT series_id, ts,
            |  ha.ha_open AS ha_open, ha.ha_high AS ha_high,
            |  ha.ha_low AS ha_low, ha.ha_close AS ha_close,
            |  mcgd_10, ssf_10, hwma, ebsw_20,
            |  hwc.hwc_mid AS hwc_mid, hwc.hwc_upper AS hwc_upper, hwc.hwc_lower AS hwc_lower,
            |  CAST(td.td_seq_up AS DOUBLE) AS td_seq_up, CAST(td.td_seq_dn AS DOUBLE) AS td_seq_dn,
            |  rsx_10,
            |  hl.hilo AS hilo, hl.hilo_long AS hilo_long, hl.hilo_short AS hilo_short,
            |  fi.fisher AS fisher_9, fi.signal AS fisher_signal_9
            |FROM (
            |  SELECT series_id, ts,
            |    graft_ha(open, high, low, close) AS ha,
            |    graft_mcgd(close, 10) AS mcgd_10,
            |    graft_ssf(close, 10) AS ssf_10,
            |    graft_hwma(close, 0.2, 0.1, 0.1) AS hwma,
            |    graft_ebsw(close, 20, 10) AS ebsw_20,
            |    graft_hwc(close, 0.2, 0.1, 0.1, 0.1, 1.0) AS hwc,
            |    graft_td_seq(close) AS td,
            |    graft_rsx(close, 10) AS rsx_10,
            |    graft_hilo_k(close, mh, ml) OVER cw AS hl,
            |    graft_fisher_k(pos) OVER cw AS fi
            |  FROM (
            |    SELECT *,
            |      CASE WHEN count(high) OVER f13 >= 13 THEN avg(high) OVER f13 END AS mh,
            |      CASE WHEN count(low) OVER f21 >= 21 THEN avg(low) OVER f21 END AS ml,
            |      2.0D * (((mid2 - (CASE WHEN count(mid2) OVER f9 >= 9 THEN min(mid2) OVER f9 END)) /
            |        nullif((CASE WHEN count(mid2) OVER f9 >= 9 THEN max(mid2) OVER f9 END) -
            |               (CASE WHEN count(mid2) OVER f9 >= 9 THEN min(mid2) OVER f9 END), 0)) - 0.5D) AS pos
            |    FROM (SELECT *, (high + low) / 2.0D AS mid2 FROM graft_bars4)
            |    WINDOW
            |      f13 AS (PARTITION BY series_id ORDER BY ts ROWS BETWEEN 12 PRECEDING AND CURRENT ROW),
            |      f21 AS (PARTITION BY series_id ORDER BY ts ROWS BETWEEN 20 PRECEDING AND CURRENT ROW),
            |      f9 AS (PARTITION BY series_id ORDER BY ts ROWS BETWEEN 8 PRECEDING AND CURRENT ROW)
            |  )
            |  WINDOW cw AS (PARTITION BY series_id ORDER BY ts ROWS UNBOUNDED PRECEDING)
            |)""".stripMargin
        )
        .select(
          col("series_id") +: col("ts") +: outs.map(o => P.normd(col(o)).as(o)): _*
        )
        .orderBy("series_id", "ts")
    },
    Some(composeJoin(Seq(
      RecQueries.qHa.sql.get -> Seq("ha_open", "ha_high", "ha_low", "ha_close"),
      RecQueries.qMcgd.sql.get -> Seq("mcgd_10"),
      RecQueries.qSsf.sql.get -> Seq("ssf_10"),
      RecQueries.qHwma.sql.get -> Seq("hwma"),
      qEbsw.sql.get -> Seq("ebsw_20"),
      qHwc.sql.get -> Seq("hwc_mid", "hwc_upper", "hwc_lower"),
      qTdSeq.sql.get -> Seq("td_seq_up", "td_seq_dn"),
      qRsx.sql.get -> Seq("rsx_10"),
      RecQueries.qHilo.sql.get -> Seq("hilo", "hilo_long", "hilo_short"),
      RecQueries.qFisher.sql.get -> Seq("fisher_9", "fisher_signal_9")
    )))
  )

  val all: Seq[Q] =
    Seq(qTdSeq, qEbsw, qHwc, qRsx, qQqe, qJma, qCusum, qKalman, qKalmanCusum, qSqlSurface4)
}
