package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Session-scoped registry for every DataFrame the library persists
  * (derived fixtures, dedup indexes, Halo chunk stages).
  *
  * Operators return LAZY plans, so they cannot unpersist their own
  * indexes — the caller materializes the result later. Instead every
  * persist goes through here, keyed by `sessionUUID`, and the session
  * owner calls `release(spark)` when done (Verify/Bench do; tests via
  * afterAll). `memo` additionally dedupes: repeated calls with the same
  * key (e.g. LSH verification reusing the shingle index the candidate
  * stage built) return the SAME persisted handle instead of stacking a
  * second cache entry.
  */
object CacheRegistry {

  private val entries =
    new java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]
  private val seq = new java.util.concurrent.atomic.AtomicLong(0L)

  // Weak-keyed session identity: a session that is GC'd without release()
  // stops matching any key (no stale cross-session reuse, the failure mode
  // of identity-hash keying).
  private val ids = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, String]()
  )
  private def sid(spark: SparkSession): String =
    ids.computeIfAbsent(spark, _ => java.util.UUID.randomUUID().toString)

  /** Key for a DataFrame's canonicalized plan — lets operator indexes key
    * on "same session, same input, same params". The FULL plan string is
    * part of the key (not just a 32-bit hash): a hash collision between
    * two different corpora in one session must degrade to a cache miss,
    * never to silently reusing the wrong persisted index. */
  def planKey(df: DataFrame): String = {
    val p = df.queryExecution.analyzed.canonicalized
    s"${p.semanticHash()}:${p.toString}"
  }

  /** Persist-once per (session, key); later calls reuse the handle.
    * A build that returns an already-persisted frame (eager-iteration
    * operators hand over their final loop state) is registered as-is.
    *
    * NOT computeIfAbsent: a memo'd build may itself call memo with a
    * different key (ivfIndex's body memoizes kmeansCentroids), and a
    * reentrant computeIfAbsent on one ConcurrentHashMap throws
    * "Recursive update" whenever the two keys hash into the same bin.
    * get → build outside the map → putIfAbsent tolerates reentrancy;
    * the rare concurrent duplicate build loses the race and is
    * unpersisted (the winner's handle is the tracked, returned one). */
  def memo(spark: SparkSession, key: String)(build: => DataFrame): DataFrame = {
    val k = (sid(spark), key)
    val existing = entries.get(k)
    if (existing != null) existing
    else {
      val b = build
      val p = if (b.storageLevel == StorageLevel.NONE) b.persist(StorageLevel.MEMORY_AND_DISK) else b
      val prev = entries.putIfAbsent(k, p)
      if (prev != null) { p.unpersist(blocking = false); prev } else p
    }
  }

  /** Compiled-PLAN cache (no data persisted): same session + same key →
    * the same already-analyzed DataFrame. Prepared-statement semantics for
    * expensive compilations (the 80-spec Strategy batch costs ~1.7s of
    * Catalyst analysis — resolution is O(levels) fixed-point iterations
    * over the full tree, and non-pruning analyzer rules rescan everything
    * per iteration, a floor the DataFrame API cannot go below). Execution
    * still runs from scratch on every action. `release` is the only way
    * to drop a session's plan memos, and it also unpersists that
    * session's memoized and tracked DataFrames. */
  private val plans =
    new java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]

  def memoPlan(spark: SparkSession, key: String)(build: => DataFrame): DataFrame = {
    val k = (sid(spark), key) // reentrancy-safe, see memo
    val existing = plans.get(k)
    if (existing != null) existing
    else {
      val b = build
      val prev = plans.putIfAbsent(k, b)
      if (prev != null) prev else b
    }
  }

  /** Scalar-stat memo (no persistence): caches small eager probe results
    * (e.g. Halo's (series count, row count) cardinality probe) per
    * (session, key) so plan-time dispatch runs its action once per input,
    * not once per operator call. Cleared by `release`. */
  private val stats =
    new java.util.concurrent.ConcurrentHashMap[(String, String), AnyRef]

  def memoStat[T <: AnyRef](spark: SparkSession, key: String)(build: => T): T = {
    val k = (sid(spark), key) // reentrancy-safe, see memo
    val existing = stats.get(k)
    if (existing != null) existing.asInstanceOf[T]
    else {
      val b = build
      val prev = stats.putIfAbsent(k, b)
      (if (prev != null) prev else b).asInstanceOf[T]
    }
  }

  /** Persist + track a one-off stage (no dedup key — unique per call).
    * Already-persisted inputs are registered as-is (callers that drive
    * eager iteration, e.g. Dedup.nearDupClusters, hand over their final
    * persisted handle for session-scoped release). */
  def track(df: DataFrame): DataFrame = {
    val p = if (df.storageLevel == StorageLevel.NONE) df.persist(StorageLevel.MEMORY_AND_DISK) else df
    entries.put((sid(df.sparkSession), s"__transient_${seq.incrementAndGet()}"), p)
    p
  }

  /** Unpersist only the one-off `track` stages this session pinned,
    * keeping memo'd fixtures. Scoped cleanup for callers that loop many
    * plans through one session (Bench) — `track` pins a NEW entry per
    * invocation, so without this the pinned set grows with every loop
    * iteration. */
  def releaseTransients(spark: SparkSession): Unit = {
    val uuid = sid(spark)
    val it = entries.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey._1 == uuid && e.getKey._2.startsWith("__transient_")) {
        e.getValue.unpersist(blocking = false)
        it.remove()
      }
    }
  }

  /** Targeted invalidation hook for scalar-stat memos (ADVICE r16): a
    * corpus that mutates WITHIN a session (streaming ingest compaction,
    * file-backed table rewritten in place) keeps its canonicalized plan,
    * so plan-keyed snapshot stats (bm25's (N, avgdl), rm3 expansions)
    * would silently serve the first call's values. Dropping by key
    * prefix re-snapshots on next use without unpinning the session's
    * persisted indexes the way full release() does. */
  def invalidateStats(spark: SparkSession, keyPrefix: String): Unit = {
    val uuid = sid(spark)
    val sit = stats.entrySet().iterator()
    while (sit.hasNext) {
      val e = sit.next()
      if (e.getKey._1 == uuid && e.getKey._2.startsWith(keyPrefix)) sit.remove()
    }
  }

  /** Unpersist and forget everything this session pinned. */
  def release(spark: SparkSession): Unit = {
    val uuid = sid(spark)
    val it = entries.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey._1 == uuid) {
        e.getValue.unpersist(blocking = false)
        it.remove()
      }
    }
    val pit = plans.entrySet().iterator()
    while (pit.hasNext) if (pit.next().getKey._1 == uuid) pit.remove()
    val sit = stats.entrySet().iterator()
    while (sit.hasNext) if (sit.next().getKey._1 == uuid) sit.remove()
  }
}
