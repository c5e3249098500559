package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Session init + canonical ingestion layer.
  *
  * Reference data model (pandas-ta): one pandas DataFrame per instrument,
  * DatetimeIndex rows, OHLCV columns (see SURVEY.md §1.1). Our canonical
  * Spark model is the long/tidy layout: (series_id, ts, open/high/low/
  * close/volume) with every indicator a window expression over
  * `PARTITION BY series_id ORDER BY ts` — the 100 TB-safe choice (per-key
  * parallelism is free; only one instrument's history must be ordered).
  */
object Graft {

  /** Idempotent per-JVM init: SQL confs + custom function registration.
    * Safe to call from every query closure (driver may pass us a session
    * we did not build).
    */
  def init(spark: SparkSession): Unit = synchronized {
    // events.parquet stores ts as INT64 TIMESTAMP(NANOS); Spark 4 refuses
    // it unless read as plain long (nanos since epoch).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    // InferFiltersFromGenerate clones the generator input into a Filter
    // below the staging Projects; with HOF-built arrays (shingles) that
    // re-evaluates the whole tokenize+shingle pipeline per row — measured
    // 30x slowdown on the dedup path. The rule only skips empty-array rows
    // early; our generators handle those for free.
    spark.conf.set(
      "spark.sql.optimizer.excludedRules",
      "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    )
    // Every execution renders a physicalPlanDescription for the listener
    // bus even with the UI off; deep plans (iterative algorithms with
    // nested cached rounds) make that rendering the bottleneck. 64 KiB
    // keeps descriptions useful and the cost bounded.
    spark.conf.set("spark.sql.maxPlanStringLength", "65536")
    // Let AQE re-optimize CACHED plans (round 17, guide §2.2 scale-
    // adaptive partitioning): off, a cached fixture materializes with the
    // static shuffle-partition count (32 here; cluster-sized in prod), so
    // a 450-row persisted fixture occupies 32 near-empty partitions and
    // EVERY downstream stage over it runs 32 map tasks, each opening its
    // own shuffle file pair — thread dumps of a hot loop showed all 32
    // task threads inside FileOutputStream.open (contended file creation,
    // ~300 ms/task at local[32] for 14-row partitions). With AQE allowed
    // inside InMemoryRelation the cached exchange coalesces to the
    // advisory size — partition count follows DATA SIZE at any scale
    // (tiny fixture → 1 partition; 100 TB fixture → many), which is
    // exactly the guide's "derive partitioning from input size" rule.
    // Results are partitioning-invariant by the engine's determinism
    // contract (ordered folds; oracle re-verified 239/239 on this flag).
    spark.conf.set("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
    functions.Registry.register(spark)
    // programmatic-path registration of the opt-in count(DISTINCT) rewrite
    // (config-path sessions get it from GraftExtensions); no-op while
    // spark.graft.approxDistinct stays false
    if (!spark.experimental.extraOptimizations.contains(plans.ApproxDistinctRewrite))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ plans.ApproxDistinctRewrite
  }

  /** Cores the mains run on: `SPARK_GRAFT_CPUS`, else the host's. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)

  /** Standalone session for mains (Verify/Bench build their own). */
  def session(cores: String = cpus, shufflePartitions: String = cpus): SparkSession = {
    val s = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // JVM-wide Janino cache (read once at first codegen): the default 100
      // entries cannot hold one ~1000-expression Strategy batch (~244
      // generated classes), so every run recompiled the whole plan — the
      // round-3 "fixed exec overhead" on strategy_ohlcv_batch.
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    init(s)
    s
  }

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    init(spark)
    // Catalog-style relation cache (round 16, guide §6 file listing):
    // `spark.read.parquet` re-lists the path and re-reads the footer
    // schema on EVERY call (~30-60 ms driver time) — a catalog table
    // (`spark.table`) resolves once per session instead. memoPlan gives
    // path reads the same semantics: one resolved DataFrame per
    // (session, dir, name), execution untouched, dropped by release().
    CacheRegistry.memoPlan(spark, s"table:$dir:$name")(
      spark.read.parquet(s"$dir/$name.parquet")
    )
  }

  /** Canonical events: ts normalized to exact epoch-micros long (`ts_us`)
    * plus a proper timestamp (`tstamp`), ADAPTIVE to how the driver
    * generated the file — epoch-micros is the shared key with the DuckDB
    * oracle (`epoch_us(ts)`) either way:
    *   - INT64 TIMESTAMP(NANOS) read as plain long via nanosAsLong
    *     (rounds ≤5 data): integer `DIV 1000` — never float division,
    *     2^53 < 1.7e18 would lose micros.
    *   - TIMESTAMP / TIMESTAMP_NTZ (round-6 regenerated data,
    *     timestamp[us]): `unix_micros` on the (UTC-session) timestamp.
    * Schema inspection happens at plan time on the driver — no data pass.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = table(spark, dir, "events")
    val tsUs = raw.schema("ts").dataType match {
      case LongType         => expr("ts DIV 1000") // epoch nanos → micros
      case TimestampType    => unix_micros(col("ts"))
      case TimestampNTZType => unix_micros(col("ts").cast(TimestampType)) // NTZ wall-clock == UTC instant
      case other            => throw new IllegalStateException(s"unsupported events.ts type: $other")
    }
    raw
      .withColumn("ts_us", tsUs)
      .withColumn("tstamp", timestamp_micros(col("ts_us")))
  }

  // Derived-fixture cache: bars (30 rows) and userSeries (events-sized)
  // feed dozens of independent queries per session; recomputing the
  // events scan + aggregate per query is pure overhead. Keyed by
  // (sessionUUID, dir) so Verify/Bench/test sessions never cross wires;
  // CacheRegistry.release(spark) drops a session's entries.
  private def cached(spark: SparkSession, dir: String, kind: String)(
      build: => DataFrame
  ): DataFrame =
    CacheRegistry.memo(spark, s"fixture:$dir:$kind")(build)

  /** Per-user value series: the partitioned indicator input.
    * (series_id = user_id, ts = epoch micros, close = value).
    * The series count scales with the data, the series length does not:
    * 15 / 150 / 1,500 series and 1,000 / 10,000 / 100,000 rows at
    * sf0.001 / 0.01 / 0.1, about 67 rows a series (45–99) at each.
    */
  def userSeries(spark: SparkSession, dir: String): DataFrame =
    cached(spark, dir, "series") {
      events(spark, dir).select(
        col("user_id").as("series_id"),
        col("ts_us").as("ts"),
        col("value").as("close")
      )
    }

  /** Per-user daily OHLCV bars (multi-key kernel/oracle input: 15 series
    * × 30 days). Same aggregation rule as `bars`, keyed by user. */
  def userBars(spark: SparkSession, dir: String): DataFrame =
    cached(spark, dir, "userBars") {
      events(spark, dir)
        .groupBy(col("user_id"), to_date(col("tstamp")).as("ts"))
        .agg(
          min_by(col("value"), col("ts_us")).as("open"),
          max(col("value")).as("high"),
          min(col("value")).as("low"),
          max_by(col("value"), col("ts_us")).as("close"),
          count(lit(1)).cast("double").as("volume")
        )
        .select(
          col("user_id").cast("string").as("series_id"),
          col("ts"), col("open"), col("high"), col("low"), col("close"), col("volume")
        )
    }

  /** Daily OHLCV bars from events (SURVEY Q01): the single-series OHLCV
    * indicator input. open/close = value at min/max ts in the day (unique
    * ts ⇒ deterministic); volume = row count. 30 rows at every sf.
    */
  def bars(spark: SparkSession, dir: String): DataFrame =
    cached(spark, dir, "bars") {
      events(spark, dir)
        .groupBy(to_date(col("tstamp")).as("ts"))
        .agg(
          min_by(col("value"), col("ts_us")).as("open"),
          max(col("value")).as("high"),
          min(col("value")).as("low"),
          max_by(col("value"), col("ts_us")).as("close"),
          count(lit(1)).cast("double").as("volume")
        )
        .select(lit("ALL").as("series_id"), col("ts"), col("open"), col("high"), col("low"), col("close"), col("volume"))
    }
}
