package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.queries.Strategy50Queries
import graft.ta.{registry, IndicatorSpec, Strategy}

/** Prepared Strategy plans: `registry.strategy` analyzes a strategy once
  * per (specs, input schema, analyzer confs) over a placeholder input and
  * re-binds that template to every new input. A re-bound plan must compute
  * exactly what a build from an empty registry computes. */
class PreparedStrategySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def bars = Graft.bars(spark, TestSpark.sfDir)

  /** Rows as a multiset over the columns in name order (exact Row
    * equality: NaN equals NaN). */
  private def rows(df: DataFrame): Map[Row, Int] = {
    val cols = df.columns.sorted.toSeq
    df.select(cols.map(c => col(s"`$c`")): _*).collect().groupBy(identity).map { case (r, rs) => r -> rs.length }
  }

  private def template(df: DataFrame, st: Strategy): DataFrame = registry.template(spark, st.ta, df.schema)

  /** The strategy graftbench's `ta_batch` workload runs. */
  private val taBatch = Strategy(
    "ta_batch",
    Strategy50Queries.specs ++ Seq(
      IndicatorSpec("psar"),
      IndicatorSpec("supertrend", Map("length" -> 7)),
      IndicatorSpec("mcgd", Map("length" -> 10)),
      IndicatorSpec("ha"),
      IndicatorSpec("atr", Map("length" -> 14)),
      IndicatorSpec("adx", Map("length" -> 14))
    )
  )
  /** Retrospective cusum joins its input with its own per-series stats. */
  private val cusum = Strategy("cusum", Seq(IndicatorSpec("cusum"), IndicatorSpec("sma", Map("length" -> 5))))
  /** Post-kwargs specs fold through `registry.apply` before the batch. */
  private val post = Strategy(
    "post",
    Seq(
      IndicatorSpec("sma", Map("length" -> 5, "offset" -> 2)),
      IndicatorSpec("rsi", Map("length" -> 6, "fillna" -> 0.0)),
      IndicatorSpec("mom", Map("length" -> 3, "offset" -> 1, "fillna" -> -1.0)),
      IndicatorSpec("ema", Map("length" -> 4))
    )
  )

  for (st <- Seq(taBatch, cusum, post))
    test(s"a template hit equals a build after release: ${st.name}") {
      val frame = StrategySpec.awkward(bars)
      val other = frame.where(col("series_id") =!= "dups")
      assert(other.schema == frame.schema)
      registry.strategy(other, st)
      val t = template(frame, st)
      val hit = rows(registry.strategy(frame, st))
      assert(template(frame, st) eq t, "a second input of the same schema re-binds the first one's template")
      CacheRegistry.release(spark)
      assert(hit == rows(registry.strategy(frame, st)))
      if (st ne taBatch) assert(hit == rows(st.ta.foldLeft(frame)(registry(_, _))), "a fold of registry.apply")
    }

  test("union and join of two outputs over different inputs of one schema") {
    val st = Strategy("pair", Seq(IndicatorSpec("sma", Map("length" -> 5)), IndicatorSpec("cusum"), IndicatorSpec("psar")))
    val a = bars
    val b = bars.withColumn("close", col("close") * 2.0).withColumn("high", col("high") * 2.0)
    assert(a.schema == b.schema)
    assert(a.select("series_id", "ts").distinct().count() == a.count(), "the join key is unique")
    val (oa, ob) = (registry.strategy(a, st), registry.strategy(b, st))
    val (ra, rb) = (rows(oa), rows(ob))
    assert(ra != rb)
    assert(rows(oa.unionByName(ob)) == (ra.keySet ++ rb.keySet).map(r => r -> (ra.getOrElse(r, 0) + rb.getOrElse(r, 0))).toMap)
    val outs = oa.columns.filterNot(Set("series_id", "ts")).toSeq
    val joined = oa.alias("a").join(ob.alias("b"), Seq("series_id", "ts"))
    assert(joined.count() == a.count())
    for ((side, expect) <- Seq("a" -> oa, "b" -> ob)) {
      val got = joined.select(col("series_id") +: col("ts") +: outs.map(c => col(s"$side.`$c`").as(c)): _*)
      assert(rows(got) == rows(expect), s"side $side returns its own rows")
    }
  }

  test("nullability and ANSI each get their own template, both equal to an uncached build") {
    val st = Strategy("nn", Seq(IndicatorSpec("sma", Map("length" -> 5)), IndicatorSpec("rsi"), IndicatorSpec("cusum")))
    def nonNull(df: DataFrame) = df.withColumn("close", coalesce(col("close"), lit(0.0)))
    val (a, b) = (bars, nonNull(bars))
    assert(a.schema != b.schema && a.columns.toSeq == b.columns.toSeq)
    val (ra, rb) = (rows(registry.strategy(a, st)), rows(registry.strategy(b, st)))
    assert(!(template(a, st) eq template(b, st)))
    CacheRegistry.release(spark)
    assert(rows(registry.strategy(nonNull(bars), st)) == rb)
    CacheRegistry.release(spark)
    assert(rows(registry.strategy(bars, st)) == ra)

    val ansi = "spark.sql.ansi.enabled"
    val prev = spark.conf.get(ansi)
    def under(on: Boolean): (DataFrame, Map[Row, Int]) = {
      spark.conf.set(ansi, on)
      val in = bars
      val out = rows(registry.strategy(in, st))
      (template(in, st), out)
    }
    try {
      val ((tOn, rOn), (tOff, rOff)) = (under(true), under(false))
      assert(!(tOn eq tOff))
      CacheRegistry.release(spark)
      assert(under(false)._2 == rOff)
      CacheRegistry.release(spark)
      assert(under(true)._2 == rOn)
    } finally spark.conf.set(ansi, prev)
  }

  test("the same input returns the same DataFrame") {
    val df = bars
    assert(registry.strategy(df, cusum) eq registry.strategy(df, cusum))
  }

  test("the reserved __ prefix throws on every call with an offending schema") {
    val st = Strategy("r", Seq(IndicatorSpec("sma")))
    for (v <- Seq(1, 1, 2)) {
      val e = intercept[IllegalArgumentException](registry.strategy(bars.withColumn("__rn", lit(v)), st))
      assert(e.getMessage.contains("__"))
    }
  }
}
