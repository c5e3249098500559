package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import graft.ta.Ta._

/** SURVEY §5.2(6): a multi-indicator batch over one canonical window spec
  * must plan as a SINGLE shuffle (Exchange) — the design rule that makes a
  * 50-indicator Strategy one-pass at 100 TB.
  */
class PlanShapeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def synthetic = {
    import spark.implicits._
    val rows = for {
      s <- Seq("A", "B", "C")
      t <- 1 to 200
    } yield (s, t.toLong, 100.0 + 10 * math.sin(t / 7.0) + (t % 13), 100.0 + 10 * math.sin(t / 7.0) + (t % 13) + 5,
      100.0 + 10 * math.sin(t / 7.0) + (t % 13) - 5, 100.0 + 10 * math.sin(t / 7.0) + ((t * 31) % 17), 1000.0 + (t % 7) * 10)
    rows.toDF("series_id", "ts", "open", "high", "low", "close", "volume")
  }

  test("12-indicator window batch plans with exactly one shuffle") {
    // repartition by the window key: every subsequent window spec must
    // REUSE this partitioning — any extra Exchange fails the test. (The
    // un-repartitioned local relation is a single partition, which
    // trivially satisfies every distribution and would hide regressions.)
    val out = synthetic.repartition(col("series_id")).ta
      .sma(10)
      .ta.ema(10)
      .ta.wma(10)
      .ta.rma(10)
      .ta.rsi(14)
      .ta.atr(14)
      .ta.bbands(5, 2.0)
      .ta.willr(14)
      .ta.stoch(14, 3, 3)
      .ta.obv
      .ta.mfi(14)
      .ta.roc(10)
    out.collect() // force execution so AQE finalizes the plan
    val plan = out.queryExecution.executedPlan
    val finalPlan = plan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val exchanges = finalPlan.collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.size == 1, s"expected 1 shuffle, got ${exchanges.size}:\n$finalPlan")
  }

  test("SQL-surface indicator batch keeps the one-shuffle property") {
    // the graft_* SQL wrappers expand to prim-layer trees on the shared
    // window spec — a SQL-only consumer stacking several of them must
    // still plan ONE Exchange, exactly like the Scala accessor batch
    Graft.init(spark)
    synthetic.repartition(col("series_id")).createOrReplaceTempView("ps_sql_bars")
    val out = spark.sql(
      "SELECT series_id, ts, graft_sma(close, 10) AS a, graft_wma(close, 10) AS b, " +
        "graft_stdev(close, 10) AS c, graft_zscore(close, 10) AS d, graft_roc(close, 10) AS e, " +
        "graft_ewma(close, 0.2) AS f, graft_rma(close, 10) AS g, graft_tr(high, low, close) AS h " +
        "FROM ps_sql_bars"
    )
    out.collect()
    val plan = out.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.size == 1, s"expected 1 shuffle, got ${exchanges.size}:\n$plan")
    val windows = plan.collect { case w: WindowExec => w }
    assert(windows.size <= 2, s"window batch split into ${windows.size} WindowExec nodes")
  }

  test("SQL-surface seeded composites (phase 2) keep the one-shuffle property") {
    // graft_ema / graft_rsi / graft_macd are single AggregateWindowFunction
    // folds on the same canonical frame — mixing them with the phase-1
    // wrappers must still plan ONE Exchange and (since every expression
    // shares one window spec + frame) a single WindowExec
    Graft.init(spark)
    synthetic.repartition(col("series_id")).createOrReplaceTempView("ps_sql2_bars")
    val out = spark.sql(
      "SELECT series_id, ts, graft_sma(close, 10) AS a, graft_ema(close, 10) AS b, " +
        "graft_rsi(close, 14) AS c, graft_macd(close, 12, 26, 9) AS m " +
        "FROM ps_sql2_bars"
    )
    out.collect()
    val plan = out.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.size == 1, s"expected 1 shuffle, got ${exchanges.size}:\n$plan")
    val windows = plan.collect { case w: WindowExec => w }
    assert(windows.size <= 2, s"composite batch split into ${windows.size} WindowExec nodes")
  }

  test("SQL-surface phase 3 (Wilder composites + REC folds + stoch unroll) = one shuffle") {
    // atr/trix/tsi/adx folds, the psar/supertrend state machines and the
    // shifted-frame stoch unroll all share the canonical partition/order —
    // a batch touching every phase-3 entry point must still plan ONE
    // Exchange (frames differ, but frames don't shuffle)
    Graft.init(spark)
    synthetic.repartition(col("series_id")).createOrReplaceTempView("ps_sql3_bars")
    val out = spark.sql(
      "SELECT series_id, ts, graft_atr(high, low, close, 10) AS a, " +
        "graft_natr(high, low, close, 10) AS b, graft_trix(close, 10) AS c, " +
        "graft_tsi(close, 13, 25) AS d, graft_adx(high, low, close, 14, 14) AS e, " +
        "graft_bbands(close, 5, 2.0) AS f, graft_stoch(high, low, close, 10, 3, 3) AS g, " +
        "graft_psar(high, low, close, 0.02, 0.02, 0.2) AS h, " +
        "graft_supertrend(high, low, close, 7, 3.0) AS i " +
        "FROM ps_sql3_bars"
    )
    out.collect()
    val plan = out.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.size == 1, s"expected 1 shuffle, got ${exchanges.size}:\n$plan")
  }

  test("SQL-surface phase 5 (weighted MAs, volume, returns, stats, staged kama) = one shuffle") {
    // the flattened two-level kinds (hma/trima/entropy/eom/mfi), the
    // volume folds (obv/pvt/efi), the cumulative returns/drawdown, and
    // the SUBQUERY-STAGED kama/vidya (coefficient inner, fold outer) all
    // ride the canonical partition/order — the staging subquery adds a
    // projection level, not a shuffle, so the whole batch still plans
    // ONE Exchange
    Graft.init(spark)
    synthetic.repartition(col("series_id")).createOrReplaceTempView("ps_sql5_bars")
    val out = spark.sql(
      "SELECT series_id, ts, graft_hma(close, 10) AS a, graft_trima(close, 10) AS b, " +
        "graft_alma(close, 10, 6.0, 0.85) AS c, graft_obv(close, volume) AS d, " +
        "graft_efi(close, volume, 10) AS e, graft_eom(high, low, volume, 14, 1e8) AS f, " +
        "graft_mfi(high, low, close, volume, 10) AS g, graft_pvt(close, volume) AS h, " +
        "graft_drawdown(close) AS i, graft_entropy(close, 10, 2.0) AS j, " +
        "graft_kama(close, sc) AS k, graft_vidya(close, al) AS l " +
        "FROM (SELECT *, graft_kama_sc(close, 10, 2, 30) AS sc, graft_vidya_al(close, 10) AS al " +
        "FROM ps_sql5_bars)"
    )
    out.collect()
    val plan = out.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.size == 1, s"expected 1 shuffle, got ${exchanges.size}:\n$plan")
  }

  test("SQL-surface phase 6 (lag-unrolled composites, shifted frames, new folds) = one shuffle") {
    // the unrolled rolling sums (cmo/uo/chop), the shifted-frame kinds
    // (ui, ichimoku spans, centered dpo), the linreg closed forms, and
    // the phase-6 folds (dm/decay/nvi/adosc/t3/pvo) all ride the
    // canonical partition/order — lag offsets and frame bounds differ,
    // but frames never shuffle, so the whole batch plans ONE Exchange
    Graft.init(spark)
    synthetic.repartition(col("series_id")).createOrReplaceTempView("ps_sql6_bars")
    val out = spark.sql(
      "SELECT series_id, ts, graft_cmo(close, 10) AS a, " +
        "graft_uo(high, low, close, 7, 14, 28) AS b, graft_chop(high, low, close, 10) AS c, " +
        "graft_ui(close, 10) AS d, graft_ichimoku(high, low, close, 3, 5, 8, 5) AS e, " +
        "graft_dpo(close, 20, 1) AS f, graft_linreg(close, 10) AS g, " +
        "graft_dm(high, low, 14) AS h, graft_decay(close, 5) AS i, " +
        "graft_nvi(close, volume, 1000.0) AS j, " +
        "graft_adosc(high, low, close, volume, 3, 10) AS k, " +
        "graft_t3(close, 10, 0.7) AS l, graft_pvo(volume, 12, 26, 9) AS m " +
        "FROM ps_sql6_bars"
    )
    out.collect()
    val plan = out.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.size == 1, s"expected 1 shuffle, got ${exchanges.size}:\n$plan")
  }

  test("full REC-kind strategy batch plans ONE Exchange total (jma's collapses)") {
    // every REC kind is a window fold (jma's rings included), so a
    // batch of all fifteen shares the one (series_id, ts) window
    // Exchange end-to-end
    import graft.ta.{registry, IndicatorSpec, Strategy}
    val out = registry.strategy(
      synthetic.repartition(col("series_id")),
      Strategy("rec-all", Seq(
        IndicatorSpec("psar"), IndicatorSpec("supertrend", Map("length" -> 7)),
        IndicatorSpec("ha"), IndicatorSpec("mcgd", Map("length" -> 10)),
        IndicatorSpec("ssf", Map("length" -> 10)), IndicatorSpec("hwma"),
        IndicatorSpec("kalman"), IndicatorSpec("ebsw", Map("length" -> 20)),
        IndicatorSpec("hwc"), IndicatorSpec("td_seq"), IndicatorSpec("rsx", Map("length" -> 10)),
        IndicatorSpec("hilo"), IndicatorSpec("fisher", Map("length" -> 9)),
        IndicatorSpec("qqe", Map("length" -> 6, "smooth" -> 3)),
        IndicatorSpec("jma", Map("length" -> 7))
      ))
    )
    out.collect()
    val plan = out.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.size == 1, s"expected 1 shuffle, got ${exchanges.size}:\n$plan")
  }

  test("mixed W+REC strategy (sma + psar + supertrend) plans ONE Exchange") {
    // round-9 gate: psar/supertrend lower to struct window folds
    // (RecFolds), so a mixed batch no longer pays the mapPartitions
    // re-repartition — the folds share the W-class (series_id, ts)
    // exchange. This is the shuffle the round-8 verdict flagged.
    import graft.ta.{registry, IndicatorSpec, Strategy}
    val out = registry.strategy(
      synthetic.repartition(col("series_id")),
      Strategy("w-plus-rec", Seq(
        IndicatorSpec("sma", Map("length" -> 10)),
        IndicatorSpec("psar"),
        IndicatorSpec("supertrend", Map("length" -> 7))
      ))
    )
    out.collect()
    val plan = out.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.size == 1, s"expected 1 shuffle, got ${exchanges.size}:\n$plan")
  }

  test("every window-class registry indicator in ONE strategy = one shuffle") {
    import graft.ta.{registry, IndicatorSpec, Strategy}
    // every kind must share the single (series_id, ts) exchange. The
    // list below was the kernel-run kinds; both are window folds now,
    // and retrospective cusum still adds its broadcast stats join.
    val kernelKinds = Set(
      "jma",
      "cusum" // adds a broadcast stats join — not a window op
    )
    val kinds = registry.indicators.filterNot(kernelKinds)
    assert(kinds.size >= 80, s"registry smaller than expected: ${kinds.size}")
    val out = registry.strategy(
      synthetic.repartition(col("series_id")),
      Strategy("all-window", kinds.map(k => IndicatorSpec(k)))
    )
    out.collect()
    val plan = out.queryExecution.executedPlan
    val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
    assert(
      exchanges.size == 1,
      s"${kinds.size}-indicator strategy shuffled ${exchanges.size} times"
    )
  }

  test("window batch keeps a bounded number of WindowExec nodes") {
    val out = synthetic.ta.sma(10).ta.rsi(14).ta.willr(14).ta.roc(10)
    out.collect()
    val plan = out.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val windows = plan.collect { case w: WindowExec => w }
    // same-spec window functions must be grouped, not one node per column
    assert(windows.size <= 6, s"window nodes not consolidated: ${windows.size}")
  }

  test("each candle wave plans as ONE Window node and one shuffle") {
    for ((name, build) <- Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)](
        ("wave5", _.ta.cdlPatterns5),
        ("wave6", _.ta.cdlPatterns6)
      )) {
      val out = build(synthetic.repartition(col("series_id")))
      out.collect()
      val plan = out.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val windows = plan.collect { case w: WindowExec => w }
      val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
      assert(windows.size == 1, s"$name: ${windows.size} Window nodes (all flags share one spec)")
      assert(exchanges.size <= 1, s"$name: ${exchanges.size} shuffles")
    }
  }

  test("parquet scan prunes columns (close-only pipeline)") {
    // distinct aliases on purpose: the persisted userSeries fragment would
    // otherwise be substituted by the CacheManager, hiding the file scan
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("sid").orderBy("t").rowsBetween(-9, 0)
    val ser = Graft
      .events(spark, TestSpark.sfDir)
      .select(col("user_id").as("sid"), col("ts_us").as("t"), col("value").as("v"))
      .withColumn("m", avg(col("v")).over(w))
    ser.collect()
    val plan = ser.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    // the CacheManager may substitute the persisted userSeries fragment
    // (alias-insensitive canonical match) — the file scan then lives inside
    // the InMemoryRelation's cached plan; pruning must hold either way
    def collectScans(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
      p.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
        case im: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
          collectScans(im.relation.cachedPlan)
      }.flatten
    val scans = collectScans(plan)
    assert(scans.nonEmpty, s"no FileSourceScanExec in:\n$plan")
    val readCols = scans.head.requiredSchema.fieldNames.toSet
    assert(
      !readCols.contains("props") && !readCols.contains("event_type"),
      s"scan reads unused columns: $readCols"
    )
  }

  test("pair operators never plan a nested-loop or cartesian join") {
    // every candidate-pair path must meet through an equi-join (inverted
    // index / band bucket / term) — a BroadcastNestedLoopJoin or
    // CartesianProduct would be the O(n²)-scan-per-pair scale killer.
    // (cosinePairs/topkBrute are EXEMPT: broadcast-cross is their
    // documented exact-oracle design.)
    val docs = Graft.table(spark, TestSpark.sfDir, "documents")
    val embs = Graft.table(spark, TestSpark.sfDir, "embeddings")
    val cases: Seq[(String, org.apache.spark.sql.DataFrame)] = Seq(
      "jaccardPairs" -> graft.extensions.Dedup.jaccardPairs(docs, 0.5),
      "minhashLshPairs" -> graft.extensions.Dedup.minhashLshPairs(docs, 0.5),
      "simhashPairs" -> graft.extensions.Dedup.simhashPairs(docs),
      "tfidfCosinePairs" -> graft.extensions.Dedup.tfidfCosinePairs(docs, 0.9),
      "winnowPairs" -> graft.extensions.Dedup.winnowPairs(docs, 0.5),
      "lshAgainst" -> graft.extensions.Dedup.minhashLshPairsAgainst(
        docs.where(col("doc_id") % 10 =!= 7), docs.where(col("doc_id") % 10 === 7), 0.5),
      "contamination" -> graft.extensions.Dedup.contamination(
        docs.where(col("doc_id") % 20 =!= 3), docs.where(col("doc_id") % 20 === 3)),
      "cosineNeardupPairs" -> graft.extensions.Similarity
        .cosineNeardupPairs(embs, 0.45, dim = 64, nPlanes = 30, bands = 5)
    )
    for ((name, df) <- cases) {
      val plan = df.queryExecution.executedPlan
      assert(
        !plan.toString.contains("CartesianProduct"),
        s"$name plans a cartesian product:\n$plan"
      )
      // the ONLY tolerated nested-loop join is the 1-row corpus-count
      // broadcast (a global no-key aggregate) — anything else is a scan
      // per candidate pair
      val bnl = plan.collect {
        case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
      }
      bnl.foreach { j =>
        val build =
          if (j.buildSide == org.apache.spark.sql.catalyst.optimizer.BuildRight) j.right else j.left
        assert(
          build.toString.contains("keys=[]"),
          s"$name: nested-loop join whose build side is not a 1-row global aggregate:\n$j"
        )
      }
    }
  }

  test("bm25 top-k plans as TakeOrderedAndProject, never a global sort") {
    val docs = Graft.table(spark, TestSpark.sfDir, "documents")
    val plan = graft.extensions.Retrieval
      .bm25(docs, Seq("table", "scan", "fast", "window"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"no TakeOrderedAndProject:\n$plan")
  }

  test("two-stage rerank plans TakeOrdered at both stages, never a global sort") {
    val q = graft.queries.SketchQueries.qRetrieveRerank
    val exec = q.spark(spark, TestSpark.sfDir).queryExecution.executedPlan
    // BM25 recall pool AND the cosine re-rank both end in limit+order —
    // per-partition heaps + driver merge; a global Sort would mean the
    // 100 TB corpus sorts for a 5-row answer
    assert(exec.toString.contains("TakeOrderedAndProject"), s"no TakeOrderedAndProject:\n$exec")
    val globalSorts = exec.collect {
      case s: org.apache.spark.sql.execution.SortExec if s.global => s
    }
    assert(globalSorts.isEmpty, s"global sort leaked into rerank:\n$exec")
  }

  test("incremental probes broadcast the small side (batch / eval set)") {
    // the 100 TB asymmetry: corpus-sized work must never shuffle for a
    // batch-sized probe — the probe side has to arrive as a broadcast
    val docs = Graft.table(spark, TestSpark.sfDir, "documents")
    val cases = Seq(
      "lshAgainst" -> graft.extensions.Dedup.minhashLshPairsAgainst(
        docs.where(col("doc_id") % 10 =!= 7), docs.where(col("doc_id") % 10 === 7), 0.5),
      "contamination" -> graft.extensions.Dedup.contamination(
        docs.where(col("doc_id") % 20 =!= 3), docs.where(col("doc_id") % 20 === 3))
    )
    for ((name, df) <- cases) {
      val plan = df.queryExecution.executedPlan
      val nBhj = plan.collect {
        case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
      }.size
      assert(nBhj >= 1, s"$name: no broadcast hash join in plan:\n$plan")
    }
  }

  test("round-6 ops: normalization/scoring stay shuffle-free, cuts are TakeOrdered") {
    val docs = Graft.table(spark, TestSpark.sfDir, "documents")
    // map-side ops must plan ZERO exchanges — at 100 TB they run at scan speed
    for (
      (name, df) <- Seq(
        "normalizeText" -> docs.select(graft.extensions.TextOps.normalizeText(col("text"))),
        "classifierScore" -> graft.extensions.Classify.score(docs, Array(0.1, 0.2, 0.3, 0.4, 0.5))
      )
    ) {
      val ex = df.queryExecution.executedPlan.collect { case e: ShuffleExchangeExec => e }
      assert(ex.isEmpty, s"$name plans a shuffle:\n${df.queryExecution.executedPlan}")
    }
    // top-k cuts must be TakeOrdered (per-partition heaps), never a global sort
    for (
      (name, df) <- Seq(
        "pmiPairs" -> graft.extensions.TextOps.pmiPairs(docs, 5, 50),
        "vocabulary" -> graft.extensions.TextOps.vocabulary(docs, 100)
      )
    ) {
      val exec = df.queryExecution.executedPlan
      assert(exec.toString.contains("TakeOrderedAndProject"), s"$name: no TakeOrderedAndProject:\n$exec")
    }
    // edit-distance verification must meet through equi-joins only
    val ed = graft.extensions.Dedup.editDistPairs(docs, 0.3, 0.5)
    val plan = ed.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"editDistPairs plans a cartesian:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"editDistPairs plans a nested loop:\n$plan")
  }

  test("BPE/KN: corpus-side joins broadcast the trained dict, and the BPE kernel codegens") {
    val docs = Graft.table(spark, TestSpark.sfDir, "documents")
    Graft.init(spark)
    val ms = graft.extensions.Bpe.train(docs, 4).toSeq
    // encode: the corpus-sized word stream must meet the (vocab-sized)
    // trained dict through a BroadcastHashJoin — a shuffle join here
    // would re-shuffle the whole corpus per encode at 100 TB
    val enc = graft.extensions.Bpe.encode(docs, ms)
    val encPlan = enc.queryExecution.executedPlan.toString
    assert(encPlan.contains("BroadcastHashJoin"), s"BPE encode lost its broadcast join:\n$encPlan")
    assert(!encPlan.contains("SortMergeJoin"), s"BPE encode shuffle-joins the corpus:\n$encPlan")
    // the segmentation kernel is an expression with doGenCode — it must
    // not force the dict projection out of whole-stage codegen
    val seg = docs
      .select(graft.extensions.Bpe.segmentCol(col("text"), ms).as("s"))
      .queryExecution
      .executedPlan
      .toString
    // codegen'd operators render with the `*(stageId)` prefix
    assert(seg.contains("*(1) Project"), s"BPE segment fell out of codegen:\n$seg")
    val kn = graft.extensions.Retrieval.knPerplexity(docs)
    val knPlan = kn.queryExecution.executedPlan.toString
    assert(knPlan.contains("BroadcastHashJoin"), s"KN lost its broadcast pair-table join:\n$knPlan")
  }

  test("pagerank round inputs stay cached: transition extraction is one window pass") {
    val ev = Graft.events(spark, TestSpark.sfDir)
    val e = graft.extensions.Graphs.transitionEdges(ev)
    val plan = e.queryExecution.executedPlan
    val windows = plan.collect { case w: WindowExec => w }
    val shuffles = plan.collect { case s: ShuffleExchangeExec => s }
    assert(windows.size == 1, s"edge extraction should be ONE lead() window pass:\n$plan")
    // one exchange for the window partitioning + one for the (src,dst)
    // aggregate — anything more re-shuffles the corpus
    assert(shuffles.size <= 2, s"edge extraction shuffles ${shuffles.size}x:\n$plan")
  }

  test("round-6b ops: PII scan is shuffle-free, weighted sample is TakeOrdered") {
    // PII scan/redaction is pure map-side regex work — at 100 TB it must
    // run at scan speed with zero exchanges before its output ordering
    val pii = graft.queries.ExtensionQueries.qPii.spark(spark, TestSpark.sfDir)
    val ex = pii.queryExecution.executedPlan.collect { case e: ShuffleExchangeExec => e }
    assert(
      ex.size <= 1 && ex.forall(
        _.outputPartitioning
          .isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.RangePartitioning]
      ),
      s"x_pii: only the output-order range exchange is allowed:\n${pii.queryExecution.executedPlan}"
    )
    // weighted sampling's k-cut must be per-partition heaps + merge
    // (TakeOrderedAndProject), never a corpus-wide global sort
    val ws = graft.queries.ExtensionQueries.qWeightedSample.spark(spark, TestSpark.sfDir)
    assert(
      ws.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"),
      s"x_weighted_sample: no TakeOrderedAndProject:\n${ws.queryExecution.executedPlan}"
    )
    // corpus diff: the snapshot full-outer must meet as an equi-join on
    // doc_id — a nested-loop here would be corpus² at release time
    val cd = graft.queries.ExtensionQueries.qCorpusDiff.spark(spark, TestSpark.sfDir)
    val cdPlan = cd.queryExecution.executedPlan.toString
    assert(!cdPlan.contains("CartesianProduct"), s"x_corpus_diff plans a cartesian")
    assert(!cdPlan.contains("BroadcastNestedLoopJoin"), s"x_corpus_diff plans a nested loop")
  }

  test("round-6d ops: markov is join-free, psi/resample/corr/cdc meet on keys") {
    // markov: lead window + hash-agg + key-sized normalization window —
    // a join anywhere means the plan regressed to a self-join shape
    val mk = graft.queries.RelationalQueries.qMarkov.spark(spark, TestSpark.sfDir)
    val mkPlan = mk.queryExecution.executedPlan.toString
    assert(!mkPlan.contains("Join"), s"x_markov plans a join:\n$mkPlan")
    // the rest: broadcast of 1-row bounds/edges/totals is fine (it IS a
    // BroadcastNestedLoopJoin on a single-row build side); what must
    // never appear is an unbroadcast cartesian or a data-sized nested loop
    for (
      (name, df) <- Seq(
        "x_psi" -> graft.queries.ExtensionQueries.qPsi.spark(spark, TestSpark.sfDir),
        "x_resample_ffill" -> graft.queries.RelationalQueries.qResampleFfill.spark(spark, TestSpark.sfDir),
        "x_corr_matrix" -> graft.queries.RelationalQueries.qCorrMatrix.spark(spark, TestSpark.sfDir),
        "x_media_cdc" -> graft.queries.ExtensionQueries.qMediaCdc.spark(spark, TestSpark.sfDir)
      )
    ) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$name plans a cartesian:\n$plan")
      val nested = plan.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).toSeq
      // any BNLJ must be a broadcast build (the 1-row aggregate pattern)
      nested.foreach(l => assert(l.contains("BuildRight") || l.contains("BuildLeft"), s"$name: $l"))
    }
  }

  test("cusum stats join broadcasts; mtf as-of meets without a nested loop") {
    // retrospective cusum: the per-series μ/σ table is key-sized — it must
    // come back as a BroadcastHashJoin, never a sort-merge of the big side
    val cu = graft.queries.Rec2Queries.qCusum.spark(spark, TestSpark.sfDir)
    val cuPlan = cu.queryExecution.executedPlan.toString
    assert(cuPlan.contains("BroadcastHashJoin"), s"x_cusum: stats join is not broadcast:\n$cuPlan")
    assert(!cuPlan.contains("SortMergeJoin"), s"x_cusum: unexpected sort-merge join:\n$cuPlan")
    // MTF: daily-SMA alignment is the as-of union — no join node may be a
    // nested loop/cartesian (the raw side dominates; daily side is key-sized)
    val mtf = graft.queries.JoinQueries.qMtfSma.spark(spark, TestSpark.sfDir)
    val mtfPlan = mtf.queryExecution.executedPlan.toString
    assert(!mtfPlan.contains("CartesianProduct"), s"x_mtf_sma plans a cartesian:\n$mtfPlan")
    assert(!mtfPlan.contains("BroadcastNestedLoopJoin"), s"x_mtf_sma plans a nested loop:\n$mtfPlan")
  }
}
