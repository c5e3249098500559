package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scaling-curve probe (run via `tools/run_main.sh graft.ScaleProbe`):
  * times representative operators on SYNTHETIC inputs at geometric sizes,
  * so growth exponents are measured rather than asserted. One JSON line
  * per (op, n): {"op":…,"n":…,"sec":…}. Results are summarized in
  * SCALING.md.
  *
  * What each family is meant to show:
  *  - window/EW/REC ops over many series: time ~ rows (embarrassingly
  *    parallel after the one keyed exchange);
  *  - single-series halo chunking vs a single-partition window: the
  *    SURVEY §4.3 parallelism restoration;
  *  - near-dup pairs: brute-force Jaccard grows ~n², MinHash-LSH and
  *    winnowing stay near-linear at fixed near-dup density;
  *  - ANN: brute top-k ~n per query vs IVF ~n/nCells·nprobe.
  *
  * Synthetic data is deterministic (no RNG): values from sin/hash
  * formulas, planted near-dups every 40th doc — identical run-to-run, so
  * the curves are comparable across sessions.
  */
object ScaleProbe {

  private def time(f: => Long): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  /** K series × L rows of deterministic OHLCV-ish bars. */
  private def series(spark: SparkSession, k: Int, l: Int): DataFrame =
    spark
      .range(k.toLong * l)
      .select(
        (col("id") % k).cast("string").as("series_id"),
        (col("id") / k).as("ts"),
        (sin(col("id").cast("double") / 7.0) * 10.0 + 100.0).as("close")
      )

  /** n docs over a 40-word vocabulary; every 40th doc is a near-dup of its
    * predecessor (same words, one substitution). */
  private def docs(spark: SparkSession, n: Int): DataFrame = {
    val words = (0 until 40).map(i => s"w$i")
    val wordArr = array(words.map(lit): _*)
    spark
      .range(n)
      .select(
        col("id").as("doc_id"),
        transform(
          sequence(lit(0), lit(59)),
          j => {
            // near-dup plant: doc 40k+1 repeats doc 40k's word stream with
            // one substitution at position 7
            val base = when(col("id") % 40 === 1, col("id") - 1).otherwise(col("id"))
            val h = pmod(base * 31 + j * 17 + pmod(base * j, lit(13)), lit(40))
            element_at(wordArr, (when(col("id") % 40 === 1 && j === 7, (h + 1) % 40).otherwise(h) + 1).cast("int"))
          }
        ).as("tk")
      )
      .select(col("doc_id"), concat_ws(" ", col("tk")).as("text"))
  }

  /** n deterministic 64-dim vectors. */
  private def vecs(spark: SparkSession, n: Int): DataFrame =
    spark
      .range(n)
      .select(
        col("id").as("vec_id"),
        transform(
          sequence(lit(0), lit(63)),
          j => sin(col("id").cast("double") * 0.37 + j.cast("double") * 1.13).cast("float")
        ).as("embedding")
      )

  /** warm once (untimed), then best-of-2 — JIT/codegen noise lands in the
    * warm run, not the curve. */
  private def timed(f: => Long): Double = { f; math.min(time(f), time(f)) }

  /** Evaluate a produced column, not just cardinality: a bare `count()`
    * lets the optimizer PRUNE an unreferenced Window/Project (the probe's
    * first draft timed exactly nothing for every window op). Filtering on
    * the output column forces the computation into the plan. */
  private def force(df: DataFrame, c: String): Long =
    df.select(col(c)).where(col(c).isNotNull).count()

  def main(args: Array[String]): Unit = {
    val spark = Graft.session()
    Graft.init(spark)
    spark.sparkContext.setLogLevel("ERROR")
    import graft.ta.Ta.RichTaDf
    def emit(op: String, n: Long, sec: Double): Unit =
      println(s"""{"op":"$op","n":$n,"sec":$sec}""")
    // optional section filter for quick re-probes, a comma list of
    // sections (multi,single,pairs,ann,streamstrat,...)
    val only = sys.env.get("SCALE_PROBE_ONLY").map(_.split(',').map(_.trim).toSet)
    def want(s0: String): Boolean = only.forall(_(s0))

    // ---- window / EW / REC over many series (256 series: enough keys to
    // balance the 32 shuffle partitions — 32 keys into 32 buckets loads
    // some partitions 3-4×, which reads as fake superlinearity)
    if (want("multi")) for (l <- Seq(12500, 50000, 200000)) {
      val df = graft.CacheRegistry.track(series(spark, 256, l))
      df.count()
      emit("sma20_256series", 256L * l, timed(force(df.ta.sma(20), "sma_20")))
      emit("ewm_256series", 256L * l, timed(force(df.ta.ema(20), "ema_20")))
      val bars = df.select(
        col("series_id"), col("ts"),
        col("close").as("open"), (col("close") + 1).as("high"),
        (col("close") - 1).as("low"), col("close"), lit(1.0).as("volume"))
      emit("psar_256series", 256L * l, timed(force(bars.ta.psar(), "psar_af")))
      graft.CacheRegistry.releaseTransients(spark)
    }

    // ---- single-series: halo chunking vs one-partition window. The halo
    // pays ~2s of fixed exchange/assembly overhead; the global window pays
    // one task sorting+scanning L rows — crossover where L/32 of work
    // outweighs the overhead. Since round 5 df.ta.sma AUTO-routes this
    // shape, so the global row pins spark.graft.halo.auto=false and a
    // third row measures the dispatch deciding by itself.
    if (want("single")) for (l <- Seq(4000000, 16000000)) {
      val one = graft.CacheRegistry.track(series(spark, 1, l))
      one.count()
      spark.conf.set(graft.plans.Halo.AutoKey, "false")
      emit("sma20_single_global", l, timed(force(one.ta.sma(20), "sma_20")))
      spark.conf.set(graft.plans.Halo.AutoKey, "true")
      emit("sma20_single_auto", l, timed(force(one.ta.sma(20), "sma_20")))
      emit(
        "sma20_single_halo",
        l,
        timed(force(graft.plans.Halo.chunked(one, 20, 32)(_.ta.sma(20)), "sma_20"))
      )
      // round-10: the SEEDED-ema fold vs its segmented scan on the same
      // 1-series giant (ta.ema auto-routes through chunkedEmaSeeded)
      spark.conf.set(graft.plans.Halo.AutoKey, "false")
      emit("emaseed20_single_global", l, timed(force(one.ta.ema(20), "ema_20")))
      spark.conf.set(graft.plans.Halo.AutoKey, "true")
      emit("emaseed20_single_auto", l, timed(force(one.ta.ema(20), "ema_20")))
      graft.CacheRegistry.releaseTransients(spark)
    }

    // ---- near-dup pairs: exact inverted-index Jaccard (candidates ~
    // Σ_shingle df², quadratic in n once the shingle space saturates) vs
    // MinHash-LSH and winnowing (signature work ~n, candidates ~planted
    // pairs). memo'd per-corpus indexes released between sizes.
    if (want("pairs")) for (n <- Seq(4000, 8000, 16000)) {
      val d = graft.CacheRegistry.track(docs(spark, n))
      d.count()
      emit("pairs_invidx_jaccard", n, timed(graft.extensions.Dedup.jaccardPairs(d, 0.5).count()))
      emit("pairs_minhash_lsh", n, timed(graft.extensions.Dedup.minhashLshPairs(d, 0.5).count()))
      emit("pairs_winnow", n, timed(graft.extensions.Dedup.winnowPairs(d, 0.5, maxDf = 64).count()))
      graft.CacheRegistry.release(spark)
    }

    // ---- sketches: (a) KMV vs exact count(DISTINCT) — the exact path
    // shuffles every distinct key (grows with cardinality); the sketch
    // ships ≤k longs per group regardless. (b) Bloom pre-filter vs a
    // sort-merge left-semi join (broadcast pinned off, the too-big-to-
    // broadcast regime): the bloom test is scan-side CPU with zero
    // shuffle, and bloom→semi only shuffles survivors.
    if (want("sketch")) {
      import graft.extensions.Sketch
      for (n <- Seq(4000000L, 16000000L, 64000000L)) {
        val keyed = graft.CacheRegistry.track(
          spark
            .range(n)
            .select((col("id") % 64).as("g"), Sketch.rehash(col("id") % (n / 2), 1).as("h"))
        )
        keyed.count()
        emit(
          "sketch_exact_distinct",
          n,
          timed(keyed.groupBy("g").agg(countDistinct(col("h")).as("d")).where(col("d") >= 0).count())
        )
        emit(
          "sketch_kmv128",
          n,
          timed(
            keyed
              .groupBy("g")
              .agg(Sketch.kmv(col("h"), 128).as("kmv"))
              .select(Sketch.kmvEstimate(col("kmv"), 128).as("e"))
              .where(col("e") >= 0)
              .count()
          )
        )
        graft.CacheRegistry.releaseTransients(spark)
      }
      val bits = 1 << 21 // 2M bits / 100k keys / 3 hashes → FP ≈ 0.3%
      val build = spark.range(0, 100000).select(col("id").as("k"))
      val words = Sketch.bloomBuild(build, "k", bits, 3)
      val thr0 = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // shuffle-WRITE bytes are the cluster-relevant metric here: local[32]
      // shuffles at memory speed, so wall-clock alone understates what a
      // network-bound cluster saves from the pre-filter.
      val shufBytes = new java.util.concurrent.atomic.AtomicLong(0)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted
        ): Unit =
          shufBytes.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
      }
      spark.sparkContext.addSparkListener(listener)
      // the sleeps drain the async listener bus; a deterministic rerun
      // (SCALING_raw.jsonl carries two) exposes any straggler inflation
      def shuffled(f: => Long): Double = {
        f; Thread.sleep(500); shufBytes.set(0); f; Thread.sleep(500)
        shufBytes.get().toDouble / 1e6
      }
      try for (n <- Seq(16000000L, 64000000L)) {
        val probe = graft.CacheRegistry.track(
          spark.range(n).select((col("id") % 1000000).as("k"), col("id").as("payload"))
        )
        probe.count()
        def plain = probe.join(build, Seq("k")).count()
        def prefiltered = probe
          .where(Sketch.bloomContains(col("k"), words, bits, 3))
          .join(build, Seq("k"))
          .count()
        emit("bloom_inner_plain", n, timed(plain))
        emit(
          "bloom_filter_scan",
          n,
          timed(probe.where(Sketch.bloomContains(col("k"), words, bits, 3)).count())
        )
        emit("bloom_inner_prefiltered", n, timed(prefiltered))
        emit("bloom_shuffle_mb_plain", n, shuffled(plain))
        emit("bloom_shuffle_mb_prefiltered", n, shuffled(prefiltered))
        graft.CacheRegistry.releaseTransients(spark)
      } finally {
        // a failed probe must not leave the broadcast threshold pinned or
        // the byte-counting listener attached for the ANN section
        spark.sparkContext.removeSparkListener(listener)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr0)
      }
    }

    // ---- ANN: brute (64 queries × n dots) vs IVF probing (~n·nprobe/nCells
    // per query) over the memo-persisted index; build cost reported apart.
    if (want("ann")) for (n <- Seq(20000, 80000, 320000)) {
      val v = graft.CacheRegistry.track(vecs(spark, n))
      v.count()
      val q = v.where(col("vec_id") < 64)
      emit("ann_brute_topk", n, timed(graft.extensions.Similarity.topkBrute(v, q, 5).count()))
      emit("ann_ivf_build", n, time(graft.extensions.Similarity.ivfIndex(v, 64).count()))
      val idx = graft.extensions.Similarity.ivfIndex(v, 64)
      emit("ann_ivf_topk", n, timed(graft.extensions.Similarity.topkIvf(idx, q, 5, 64, 4).count()))
      graft.CacheRegistry.release(spark)
    }
    // ---- incremental append vs rebuild (round 6b): admitting a fixed
    // 8k batch into a built index must cost ~batch×nCells dots however
    // big the corpus is; the rebuild alternative re-pays the full
    // corpus×nCells quantization every ingest cycle.
    if (want("append")) for (n <- Seq(80000, 320000, 1280000)) {
      val base = graft.CacheRegistry.track(vecs(spark, n))
      val batch = graft.CacheRegistry.track(
        vecs(spark, 8000).select((col("vec_id") + 1000000000L).as("vec_id"), col("embedding"))
      )
      base.count(); batch.count()
      graft.extensions.Similarity.ivfIndex(base, 64).count() // steady state
      emit(
        "ann_append_8k",
        n,
        timed(
          graft.extensions.Similarity.ivfAppend(base, batch, 64).where(col("is_new")).count()
        )
      )
      emit(
        "ann_rebuild_8k",
        n,
        time(graft.extensions.Similarity.ivfIndex(base.unionByName(batch), 64).count())
      )
      graft.CacheRegistry.release(spark)
    }
    // ---- trained-model layer (round 6): one distributed pass per
    // iteration, driver state O(d) — the curve should be the scan cost,
    // linear in rows with no cliff.
    if (want("train")) {
      for (n <- Seq(100000, 400000, 1600000)) {
        val v = graft.CacheRegistry.track(vecs(spark, n))
        v.count()
        emit(
          "pca_train4",
          n,
          time(graft.extensions.Similarity.pcaPower(v, iters = 4)._2.length.toLong)
        )
        graft.CacheRegistry.release(spark)
      }
      for (n <- Seq(50000, 200000, 800000)) {
        val d = graft.CacheRegistry.track(
          docs(spark, n).select(
            col("doc_id"),
            col("text"),
            concat(lit("src"), pmod(col("doc_id"), lit(8))).as("source")
          )
        )
        d.count()
        emit(
          "lr_train8",
          n,
          time(
            graft.extensions.Classify
              .logRegTrain(d, col("source") === "src0", lr = 0.5, iters = 8)
              .length
              .toLong
          )
        )
        graft.CacheRegistry.release(spark)
      }
    }
    // ---- tokenizer/graph layer (round 6, second pass). BPE: the corpus
    // scan (dict build) is the only corpus-sized work — the 12 merge
    // rounds run on the cached word-TYPE dict (constant 40 types here),
    // so train time should track the scan and rounds should cost ~zero
    // extra. PageRank: 10 rounds over cached edges — per-round cost
    // should be linear in edges with no cliff.
    if (want("tokgraph")) {
      for (n <- Seq(40000, 160000, 640000)) {
        val d = graft.CacheRegistry.track(docs(spark, n))
        d.count()
        emit(
          "bpe_train12",
          n,
          time(graft.extensions.Bpe.train(d, 12).length.toLong)
        )
        val ms = graft.extensions.Bpe.train(d, 12).toSeq
        emit("bpe_encode", n, timed(force(graft.extensions.Bpe.encode(d, ms), "n_bpe")))
        graft.CacheRegistry.release(spark)
      }
      for (ne <- Seq(200000, 800000, 3200000)) {
        val v = 10000
        val e = spark
          .range(ne)
          .select(
            pmod(col("id") * 31 + 7, lit(v)).as("src"),
            pmod(col("id") * 2654435761L + 3, lit(v)).as("dst")
          )
          .groupBy("src", "dst")
          .agg(count(lit(1)).as("w"))
        emit(
          "pagerank10",
          ne,
          time(graft.extensions.Graphs.pagerank(e, 0.85, 10).count())
        )
        graft.CacheRegistry.release(spark)
      }
    }

    // ---- round-6d ops: cusum rides the REC shape plus a key-sized
    // broadcast stats join (expected: psar-like linearity); corr-matrix
    // cost is pairs × days — quadratic in panel WIDTH by design, the
    // probe shows the S² curve the docstring warns about; resample's
    // grid is series × hours (key-sized), so cost tracks the hash-agg
    // of the raw side, not the grid.
    if (want("round6d")) {
      for (l <- Seq(12500, 50000, 200000)) {
        val df = graft.CacheRegistry.track(series(spark, 256, l))
        df.count()
        emit("cusum_256series", 256L * l, timed(force(df.ta.cusum(), "cusum_pos")))
        graft.CacheRegistry.releaseTransients(spark)
      }
      for (s0 <- Seq(128, 512, 2048)) {
        val daily = graft.CacheRegistry.track(series(spark, s0, 365))
        daily.count()
        val a = daily.select(col("series_id").as("sa"), col("ts").as("day"), col("close").as("xa"))
        val b = daily.select(col("series_id").as("sb"), col("ts").as("day"), col("close").as("xb"))
        val n = count(lit(1)).cast("double")
        val num = n * sum(col("xa") * col("xb")) - sum("xa") * sum("xb")
        val da = n * sum(col("xa") * col("xa")) - sum("xa") * sum("xa")
        val db = n * sum(col("xb") * col("xb")) - sum("xb") * sum("xb")
        emit(
          "corr_matrix_panel",
          s0,
          timed(
            a.join(b, Seq("day"))
              .where(col("sa") < col("sb"))
              .groupBy("sa", "sb")
              .agg((num / when(da * db > 0.0, sqrt(da * db))).as("corr"))
              .where(col("corr").isNotNull)
              .count()
          )
        )
        graft.CacheRegistry.releaseTransients(spark)
      }
    }
    // ---- PageRank at edge scale (round 7): the 10k-node tokgraph probe
    // is barrier-bound (flat across 16× edges); this one grows BOTH the
    // edge count and the node space so the data term surfaces, and the
    // last config crosses the 10M-node threshold where the rank table
    // stops broadcasting and shuffle-co-partitions with the cached edges
    // (Graphs.pagerank's hintRanks switch — the web-scale Pregel shape).
    // 3 rounds: enough to amortize setup and see per-round cost.
    if (want("prlarge"))
      for (
        (nE, nN) <- Seq(
          (1000000L, 200000L),
          (10000000L, 2000000L),
          (50000000L, 8000000L), // broadcast side of the threshold
          (50000000L, 20000000L) // co-partition side, same edge count
        )
      ) {
        val e = graft.CacheRegistry.track(
          spark
            .range(nE)
            .select(
              pmod(col("id") * 2654435761L, lit(nN)).as("src"),
              pmod(col("id") * 40503L + 7L, lit(nN)).as("dst"),
              (pmod(col("id"), lit(3)) + 1L).as("w")
            )
        )
        e.count()
        emit(s"pagerank3_nodes$nN", nE, time(graft.extensions.Graphs.pagerank(e, 0.85, 3).count()))
        graft.CacheRegistry.release(spark)
      }

    // ---- PageRank edge-layout experiment (round 10, verdict item #4):
    // does a src-bucketed co-located edge layout (Layout.writeBucketedBy)
    // remove the per-round edges exchange? Hypothesis to test: it CANNOT
    // — pagerank's internal `ew` (edges ⋈ out-degrees, localCheckpoint'ed)
    // already carries HashPartitioning(src) into every round's rank join
    // (Dataset.localCheckpoint preserves the physical outputPartitioning
    // in the LogicalRDD leaf), so bucketing can only save the two SETUP
    // shuffles of the edge-sized table (outd groupBy + the ew join).
    // Measured via total shuffle-write bytes per variant: a per-round
    // win would show ~rounds× lower bytes, a setup-only win shows one
    // edge-sized shuffle's difference. Co-partition regime forced
    // (broadcastMax=0) so the per-round rank join actually shuffles.
    if (want("prbucket")) {
      import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
      def withShuffleBytes(f: => Unit): (Double, Long) = {
        val acc = new java.util.concurrent.atomic.AtomicLong(0)
        val listener = new SparkListener {
          override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
            acc.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
        }
        spark.sparkContext.addSparkListener(listener)
        val t = time { f; 0L }
        Thread.sleep(2000) // let the listener bus drain
        spark.sparkContext.removeSparkListener(listener)
        (t, acc.get())
      }
      spark.conf.set("spark.graft.pagerank.broadcastMax", "0")
      val nE = 20000000L; val nN = 4000000L
      def mkEdges = spark
        .range(nE)
        .select(
          pmod(col("id") * 2654435761L, lit(nN)).as("src"),
          pmod(col("id") * 40503L + 7L, lit(nN)).as("dst"),
          (pmod(col("id"), lit(3)) + 1L).as("w")
        )
      val rounds = sys.env.get("SCALE_PROBE_PR_ROUNDS").map(_.toInt).getOrElse(3)
      val (tPlain, bPlain) =
        withShuffleBytes(graft.extensions.Graphs.pagerank(mkEdges, 0.85, rounds).count())
      println(s"""{"op":"pr${rounds}_layout_plain","n":$nE,"sec":$tPlain,"shuffle_mb":${bPlain / 1048576}}""")
      graft.sources.Layout.writeBucketedBy(mkEdges, "pr_edges_src", "src", 32)
      val eb = spark.table("pr_edges_src")
      val (tBuck, bBuck) =
        withShuffleBytes(graft.extensions.Graphs.pagerank(eb, 0.85, rounds).count())
      println(s"""{"op":"pr${rounds}_layout_bucketed","n":$nE,"sec":$tBuck,"shuffle_mb":${bBuck / 1048576}}""")
      spark.conf.unset("spark.graft.pagerank.broadcastMax")
      spark.sql("DROP TABLE IF EXISTS pr_edges_src")
    }

    // ---- streaming strategy throughput (round 10): one stateful pass
    // carrying K indicator stages over M ticks — per-tick cost should
    // scale with the STAGE count (state updates per tick), not blow up
    // with history (every stage is O(1)-state). Measured via
    // MemoryStream + strategyStream at 5 vs 45 stages.
    if (want("streamstrat")) {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import graft.ta.{IndicatorSpec, Strategy}
      import graft.streaming.StreamingTa
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      import spark.implicits._
      val small = Strategy("s5", Seq(
        IndicatorSpec("sma", Map("length" -> 20)), IndicatorSpec("ema", Map("length" -> 20)),
        IndicatorSpec("atr", Map("length" -> 14)), IndicatorSpec("psar"), IndicatorSpec("obv")
      ))
      val bigKinds = Seq(
        "sma", "ema", "wma", "rsi", "macd", "atr", "natr", "trix", "tsi", "adx",
        "stoch", "bbands", "kc", "psar", "supertrend", "ha", "mcgd", "ssf",
        "obv", "ad", "pvt", "vwap", "cci", "cmo", "er", "vhf", "chop", "ui",
        "donchian", "accbands", "alma", "hma", "trima", "kama", "vidya",
        "t3", "adosc", "kdj", "smi", "stc", "mfi", "cmf", "aroon", "qstick", "drawdown"
      )
      val big = Strategy("s45", bigKinds.map(k => IndicatorSpec(k)))
      for ((st, label) <- Seq((small, "5"), (big, "45")); m <- Seq(50000, 200000)) {
        val ms = MemoryStream[StreamingTa.BarTick]
        val q = StreamingTa
          .strategyStream(ms.toDS(), st)
          .writeStream.format("noop").outputMode("append").start()
        val ticks = (0 until m).map { i =>
          val v = 100.0 + 10.0 * math.sin(i / 7.0)
          StreamingTa.BarTick((i % 8).toString, i.toLong, v, v + 1, v - 1, v + 0.2, 100.0 + i % 7)
        }
        val sec = time {
          ticks.grouped(m / 4).foreach { chunk => ms.addData(chunk); q.processAllAvailable() }
          0L
        }
        q.stop()
        println(s"""{"op":"streamstrat_${label}stages","n":$m,"sec":$sec}""")
      }
    }

    // ---- streaming state serialization tax (round 11): kernelBatchStream
    // rides Encoders.javaSerialization — every micro-batch Java-serializes
    // the full stage array per SERIES into the state store. Two
    // measurements decide whether that is a scale problem at 10k+ series:
    // (1) microbench the exact state object's ser+deser roundtrip (bytes
    // and µs for the 45-stage strategy state after 200 ticks), and
    // (2) run the same 45-stage strategyStream at 8 vs 10,000 series over
    // the same 200k ticks / 4 micro-batches — the per-series state-store
    // tax (ser/de + store access) is the whole difference, since total
    // fold work is identical.
    if (want("streamser")) {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import graft.ta.{IndicatorSpec, Strategy}
      import graft.streaming.StreamingTa
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      import spark.implicits._
      val bigKinds = Seq(
        "sma", "ema", "wma", "rsi", "macd", "atr", "natr", "trix", "tsi", "adx",
        "stoch", "bbands", "kc", "psar", "supertrend", "ha", "mcgd", "ssf",
        "obv", "ad", "pvt", "vwap", "cci", "cmo", "er", "vhf", "chop", "ui",
        "donchian", "accbands", "alma", "hma", "trima", "kama", "vidya",
        "t3", "adosc", "kdj", "smi", "stc", "mfi", "cmf", "aroon", "qstick", "drawdown"
      )
      val st45 = Strategy("s45", bigKinds.map(k => IndicatorSpec(k)))
      val sks = st45.ta.map(s =>
        StreamingTa.windowStream(s).get)
      val entries = sks.map(_.stage()).toArray
      (0 until 200).foreach { i =>
        val v = 100.0 + 10.0 * math.sin(i / 7.0)
        val t = StreamingTa.BarTick("s", i.toLong, v, v + 1, v - 1, v + 0.2, 100.0 + i % 7)
        entries.foreach(_.update(t))
      }
      val stateObj = StreamingTa.BatchKernelState(199L, 0L, entries)
      def ser(o: AnyRef): Array[Byte] = {
        val bo = new java.io.ByteArrayOutputStream()
        val oo = new java.io.ObjectOutputStream(bo)
        oo.writeObject(o); oo.close(); bo.toByteArray
      }
      def deser(b: Array[Byte]): AnyRef =
        new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(b)).readObject()
      val bytes = ser(stateObj).length
      val rounds = 2000
      deser(ser(stateObj)) // warm
      val t0 = System.nanoTime()
      (1 to rounds).foreach(_ => deser(ser(stateObj)))
      val usPer = (System.nanoTime() - t0) / 1e3 / rounds
      println(s"""{"op":"streamser_java_roundtrip45","bytes":$bytes,"us_per_roundtrip":$usPer}""")
      // the encoder actually in use since round 11: Spark's Kryo
      val kryo = new org.apache.spark.serializer.KryoSerializer(spark.sparkContext.getConf)
        .newInstance()
      def kser(o: AnyRef): Array[Byte] = {
        val bb = kryo.serialize(o)(scala.reflect.ClassTag.AnyRef)
        val a = new Array[Byte](bb.remaining()); bb.get(a); a
      }
      def kdeser(b: Array[Byte]): AnyRef =
        kryo.deserialize(java.nio.ByteBuffer.wrap(b))(scala.reflect.ClassTag.AnyRef)
      val kbytes = kser(stateObj).length
      kdeser(kser(stateObj)) // warm
      val t1 = System.nanoTime()
      (1 to rounds).foreach(_ => kdeser(kser(stateObj)))
      val kusPer = (System.nanoTime() - t1) / 1e3 / rounds
      println(s"""{"op":"streamser_kryo_roundtrip45","bytes":$kbytes,"us_per_roundtrip":$kusPer}""")

      for (nSeries <- Seq(8, 10000)) {
        val ms = MemoryStream[StreamingTa.BarTick]
        val q = StreamingTa
          .strategyStream(ms.toDS(), st45)
          .writeStream.format("noop").outputMode("append").start()
        val m = 200000
        val ticks = (0 until m).map { i =>
          val v = 100.0 + 10.0 * math.sin(i / 7.0)
          StreamingTa.BarTick(
            (i % nSeries).toString, (i / nSeries).toLong, v, v + 1, v - 1, v + 0.2, 100.0 + i % 7)
        }
        val sec = time {
          ticks.grouped(m / 4).foreach { chunk => ms.addData(chunk); q.processAllAvailable() }
          0L
        }
        q.stop()
        println(s"""{"op":"streamser_45stages_${nSeries}series","n":$m,"sec":$sec}""")
      }
    }

    // ---- candle-wave streaming throughput (round 11): the six
    // cdl_pattern* stages interpret-eval ~80 analyzed expression trees
    // per tick. Measure per-tick cost vs the 5-stage baseline strategy
    // to decide whether interpreted eval needs a codegen path.
    if (want("streamcdl")) {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import graft.ta.{IndicatorSpec, Strategy}
      import graft.streaming.StreamingTa
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      import spark.implicits._
      val cdl = Strategy("cdl6", Seq(
        IndicatorSpec("cdl_pattern"), IndicatorSpec("cdl_pattern_2"),
        IndicatorSpec("cdl_pattern_3"), IndicatorSpec("cdl_pattern_4"),
        IndicatorSpec("cdl_pattern_5"), IndicatorSpec("cdl_pattern_6")))
      val base = Strategy("s5", Seq(
        IndicatorSpec("sma", Map("length" -> 20)), IndicatorSpec("ema", Map("length" -> 20)),
        IndicatorSpec("atr", Map("length" -> 14)), IndicatorSpec("psar"), IndicatorSpec("obv")))
      for ((st, label) <- Seq((base, "base5"), (cdl, "cdl6waves")); m <- Seq(200000)) {
        val ms = MemoryStream[StreamingTa.BarTick]
        val q = StreamingTa
          .strategyStream(ms.toDS(), st)
          .writeStream.format("noop").outputMode("append").start()
        val ticks = (0 until m).map { i =>
          val v = 100.0 + 10.0 * math.sin(i / 7.0)
          StreamingTa.BarTick((i % 8).toString, i.toLong, v, v + 1, v - 1, v + 0.2, 100.0 + i % 7)
        }
        val sec = time {
          ticks.grouped(m / 4).foreach { chunk => ms.addData(chunk); q.processAllAvailable() }
          0L
        }
        q.stop()
        println(s"""{"op":"streamcdl_$label","n":$m,"sec":$sec}""")
      }
    }

    // ---- warm-start vs replay (round 11): bootstrapping strategyStream
    // state from 2M ticks of batch history vs replaying that history
    // through the micro-batch engine. The bootstrap is one shuffle + a
    // sorted per-partition fold; the replay pays per-micro-batch harness
    // cost over the whole history.
    if (want("streamwarm")) {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import graft.ta.{IndicatorSpec, Strategy}
      import graft.streaming.StreamingTa
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      import spark.implicits._
      val st5 = Strategy("warm5", Seq(
        IndicatorSpec("ema", Map("length" -> 10)), IndicatorSpec("rsi", Map("length" -> 10)),
        IndicatorSpec("atr", Map("length" -> 10)), IndicatorSpec("sma", Map("length" -> 10)),
        IndicatorSpec("psar")))
      val m = 2000000
      val hist = spark.range(m).select(
        (col("id") % 8).cast("string").as("series_id"),
        (col("id") / 8).cast("long").as("ts"),
        (lit(100.0) + sin(col("id") / 7.0) * 10.0).as("open"),
        (lit(101.0) + sin(col("id") / 7.0) * 10.0).as("high"),
        (lit(99.0) + sin(col("id") / 7.0) * 10.0).as("low"),
        (lit(100.2) + sin(col("id") / 7.0) * 10.0).as("close"),
        (lit(100.0) + col("id") % 7).as("volume")
      ).as[StreamingTa.BarTick]
      val sks = st5.ta.map(s =>
        StreamingTa.windowStream(s).get)
      val bootSec = timed {
        StreamingTa.bootstrapState(hist, sks).collect().length.toLong
      }
      println(s"""{"op":"streamwarm_bootstrap","n":$m,"sec":$bootSec}""")
      // replay the same history through the stream in 8 micro-batches
      val ticks = hist.collect().sortBy(t => (t.series_id, t.ts))
      val ms = MemoryStream[StreamingTa.BarTick]
      val q = StreamingTa
        .strategyStream(ms.toDS(), st5)
        .writeStream.format("noop").outputMode("append").start()
      val replaySec = time {
        ticks.grouped(m / 8).foreach { chunk => ms.addData(chunk); q.processAllAvailable() }
        0L
      }
      q.stop()
      println(s"""{"op":"streamwarm_replay8batches","n":$m,"sec":$replaySec}""")
    }

    // ---- bootstrap skew (round 12): bootstrapState parallelizes ACROSS
    // series — one sorted-partition sequential fold per series — so at
    // few-series × deep-history it degenerates to that many busy tasks.
    // Fixed 8M total rows, series count swept across the degenerate
    // regime (1 ≈ one core folds everything) into the balanced one
    // (256 > the 32 cores): wall-time should flatten once series ≥ cores
    // and approach rows-per-series / per-core-fold-rate below it.
    if (want("bootskew")) {
      import graft.ta.{IndicatorSpec, Strategy}
      import graft.streaming.StreamingTa
      import spark.implicits._
      val st5 = Strategy("bootskew5", Seq(
        IndicatorSpec("ema", Map("length" -> 10)), IndicatorSpec("rsi", Map("length" -> 10)),
        IndicatorSpec("atr", Map("length" -> 10)), IndicatorSpec("sma", Map("length" -> 10)),
        IndicatorSpec("psar")))
      val sks = st5.ta.map(s =>
        StreamingTa.windowStream(s).get)
      val m = 8000000
      for (nSeries <- Seq(1, 4, 32, 256)) {
        val hist = spark.range(m).select(
          (col("id") % nSeries).cast("string").as("series_id"),
          (col("id") / nSeries).cast("long").as("ts"),
          (lit(100.0) + sin(col("id") / 7.0) * 10.0).as("open"),
          (lit(101.0) + sin(col("id") / 7.0) * 10.0).as("high"),
          (lit(99.0) + sin(col("id") / 7.0) * 10.0).as("low"),
          (lit(100.2) + sin(col("id") / 7.0) * 10.0).as("close"),
          (lit(100.0) + col("id") % 7).as("volume")
        ).as[StreamingTa.BarTick]
        val sec = timed {
          StreamingTa.bootstrapState(hist, sks).collect().length.toLong
        }
        println(s"""{"op":"bootskew_${nSeries}series","n":$m,"sec":$sec}""")
      }
    }

    // ---- seeded-composite spellings (round 8): the staged multi-
    // projection ema/dema (stage.ema chains: row_number + rolling-mean
    // seed columns + LinRecur, stacked per level) vs the single
    // AggregateWindowFunction fold (SeededComposites via the SQL
    // surface). Same Exchange+Sort either way; the fold carries its
    // seed state in the aggregation buffer instead of materializing
    // helper columns per level, so the projection count stays constant
    // as levels stack (tema = 3 chained emas staged, one fold here).
    if (want("sqlfold")) for (l <- Seq(50000, 200000)) {
      val df = graft.CacheRegistry.track(series(spark, 256, l))
      df.count()
      emit("ema20_staged", 256L * l, timed(force(graft.ta.stage.emaStaged(df, "close", "ema_20", 20), "ema_20")))
      emit(
        "ema20_fold",
        256L * l,
        timed(force(df.selectExpr("series_id", "ts", "graft_ema(close, 20) AS ema_20"), "ema_20"))
      )
      val demaStaged = {
        val d1 = graft.ta.stage.emaStaged(df, "close", "e1", 20)
        val d2 = graft.ta.stage.emaStaged(d1, "e1", "e2", 20)
        d2.withColumn("dema_20", lit(2.0) * col("e1") - col("e2"))
      }
      emit("dema20_staged", 256L * l, timed(force(demaStaged, "dema_20")))
      emit(
        "dema20_fold",
        256L * l,
        timed(force(df.selectExpr("series_id", "ts", "graft_dema(close, 20) AS dema_20"), "dema_20"))
      )
      // round 9: the production-critical folds the round-8 curve did not
      // measure — rsi (4 buffer slots incl. the diff slot) and macd (the
      // STRUCT case: 3 accumulators, one expression serving 3 columns).
      // Staged references = the pre-round-8 accessor spellings.
      val rsiStaged = {
        import graft.ta.{prim => P}
        val dd = P.diff(col("close"))
        df.withColumn("up_", when(dd.isNull, lit(null)).when(dd > 0, dd).otherwise(lit(0.0)))
          .withColumn("dn_", when(dd.isNull, lit(null)).when(dd < 0, -dd).otherwise(lit(0.0)))
          .withColumn(
            "rsi_14",
            lit(100.0) * P.sdiv(P.rmaOf(col("up_"), 14), P.rmaOf(col("up_"), 14) + P.rmaOf(col("dn_"), 14))
          )
      }
      emit("rsi14_staged", 256L * l, timed(force(rsiStaged, "rsi_14")))
      emit(
        "rsi14_fold",
        256L * l,
        timed(force(df.selectExpr("series_id", "ts", "graft_rsi(close, 14) AS rsi_14"), "rsi_14"))
      )
      val macdStaged = {
        import graft.ta.{prim => P}
        df.withColumn("mf_", P.ewm(col("close"), 2.0 / 13))
          .withColumn("ms_", P.ewm(col("close"), 2.0 / 27))
          .withColumn("macd", col("mf_") - col("ms_"))
          .withColumn("macds", P.ewm(col("macd"), 2.0 / 10))
          .withColumn("macdh", col("macd") - col("macds"))
      }
      emit("macd_staged", 256L * l, timed(force(macdStaged, "macdh")))
      emit(
        "macd_fold",
        256L * l,
        timed(force(
          df.selectExpr("series_id", "ts", "graft_macd(close, 12, 26, 9) AS m")
            .selectExpr("series_id", "ts", "m.macdh AS macdh"),
          "macdh"
        ))
      )
      graft.CacheRegistry.releaseTransients(spark)
    }

    // ---- query-side scale routing (round 8): the broadcast prober
    // (topkIvf — queries×nprobe rows broadcast to the index scan) vs the
    // co-partitioned shuffle prober (topkIvfLarge — probes meet the index
    // through a cell-keyed shuffle join). Fixed 80k corpus, query set
    // grows 1k → 1M: the broadcast route should win while the probe set
    // is small (no shuffle of the index side) and lose — then become
    // untenable (driver-sized broadcast) — as the query set grows past
    // the spark.graft.ann.broadcastQueriesMax default (100k), which this
    // curve certifies. The 1M point runs ONLY the co-partition route:
    // 4M probe rows × ~300 B would be a GB-scale broadcast by design.
    if (want("ivflarge")) {
      val n = 80000
      val v = graft.CacheRegistry.track(vecs(spark, n))
      v.count()
      val idx = graft.extensions.Similarity.ivfIndex(v, 64)
      idx.count() // memo'd build paid outside the timings
      for (qn <- Seq(1000, 10000, 100000, 1000000)) {
        val q = graft.CacheRegistry.track(
          vecs(spark, qn).select((col("vec_id") + 500000000L).as("vec_id"), col("embedding"))
        )
        q.count()
        if (qn <= 100000)
          emit(
            "ivf_broadcast_probe",
            qn,
            timed(graft.extensions.Similarity.topkIvf(idx, q, 5, 64, 4).count())
          )
        emit(
          "ivf_copart_probe",
          qn,
          timed(graft.extensions.Similarity.topkIvfLarge(idx, q, 5, 64, 4).count())
        )
        graft.CacheRegistry.releaseTransients(spark)
      }
      graft.CacheRegistry.release(spark)
    }

    // ---- chunked-broadcast middle route (round 9): past the broadcast
    // ceiling, iterate ≤chunkMax-query chunks through the broadcast
    // prober (one live broadcast at a time, sequential jobs) instead of
    // co-partition-shuffling the index. The claim under test: per-query
    // cost stays on the broadcast curve from 100k to 1M queries, vs the
    // shuffle prober's flat-but-higher cost. Same fixture as `ivflarge`.
    if (want("ivfchunk")) {
      val n = 80000
      val v = graft.CacheRegistry.track(vecs(spark, n))
      v.count()
      val idx = graft.extensions.Similarity.ivfIndex(v, 64)
      idx.count()
      // single-run timings (minutes-scale points; JIT noise is <1%) and
      // no 1M co-partition re-run — round 8's ivflarge row (1084 s)
      // stands as the comparison anchor
      for (qn <- Seq(100000, 300000, 1000000)) {
        val q = graft.CacheRegistry.track(
          vecs(spark, qn).select((col("vec_id") + 500000000L).as("vec_id"), col("embedding"))
        )
        q.count()
        emit(
          "ivf_chunked_probe",
          qn,
          time(graft.extensions.Similarity.topkIvfChunked(idx, q, 5, 64, 4).count())
        )
        if (qn == 300000)
          emit(
            "ivf_copart_probe2",
            qn,
            time(graft.extensions.Similarity.topkIvfLarge(idx, q, 5, 64, 4).count())
          )
        graft.CacheRegistry.releaseTransients(spark)
      }
      graft.CacheRegistry.release(spark)
    }

    // ---- ANN front-door dispatch overhead (round 7): Similarity.topk's
    // cost over the explicit call it routes to. First call pays the
    // memo'd count+dim probe; warm calls should be indistinguishable
    // from direct topkBrute.
    if (want("anndispatch")) for (n <- Seq(20000, 80000)) {
      val v = graft.CacheRegistry.track(vecs(spark, n))
      v.count()
      val q = v.where(col("vec_id") < 64)
      emit("ann_front_direct", n, timed(graft.extensions.Similarity.topkBrute(v, q, 5).count()))
      emit("ann_front_auto_first", n, time(graft.extensions.Similarity.topk(v, q, 5).count()))
      emit("ann_front_auto_warm", n, timed(graft.extensions.Similarity.topk(v, q, 5).count()))
      graft.CacheRegistry.release(spark)
    }
    spark.stop()
  }
}
