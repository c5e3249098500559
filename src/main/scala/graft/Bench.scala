package graft
import org.apache.spark.sql.SparkSession
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit

/** Round benchmark: one JSON line with per-query warm seconds, also
  * written to BENCH_out.json (stdout of a long run can get truncated by
  * the capture — the file is the parse-safe copy) and, compact, to the
  * declared sidecar BENCH_compact.json (the machine-readable channel:
  * the stdout line rides through sbt's `[info] ` prefix and the driver's
  * tail capture, so every round through r07 recorded `parsed: null` —
  * the sidecar is prefix-free and size-bounded by construction).
  *
  * SHARDED BY DEFAULT (round-8): the full-suite run is split into
  * SPARK_GRAFT_SHARDS (default 8) fresh JVMs run SEQUENTIALLY by an
  * orchestrating parent that never creates a SparkSession. Two
  * session-age pathologies forced this:
  *   (1) JIT code-cache exhaustion (round-6): fixed by 1 GB reserve +
  *       per-query CodeHeap fractions — and round-7's instrumentation
  *       (fractions ≤0.55, pressure:false) proved the remaining
  *       inflation is NOT code-cache;
  *   (2) per-JOB driver submission cost growing with session age: the
  *       round-7 artifact recorded the multi-job iterative queries
  *       (x_split_leakfree, x_forget, x_dedup_cluster, x_ann_ivfpq_topk)
  *       at 3–6x their clean-session values at session age ~700 s, with
  *       tight status-store retention already applied. No in-session
  *       config fixed it, so the fix is structural: no JVM measures for
  *       longer than ~1/8 of the suite (~90 s of session age), which
  *       keeps every query within fresh-probe noise of its clean value.
  * The orchestrator merges the per-shard artifacts into the same
  * BENCH_out.json schema (plus "shards":K) — per-query numbers are
  * each shard-JVM's warm medians under the unchanged BASELINE.md
  * protocol (2 untimed warm-ups then median of 5 timed reps per query).
  *
  * The end-of-run fresh probe runs from the Spark-less parent, so the
  * child has the whole machine: in round-7 the probe child ran NEXT TO
  * the parent's 12 GB live session and measured x_dedup_cluster at
  * 2.18 s where a truly clean run gives 0.54 s — with the orchestrator
  * parent (no SparkContext ever started) the same probe lands on the
  * clean value. Since round 12 the probe set is DATA-DRIVEN: the 5
  * worst-by-time headliners plus every query whose median regressed
  * >1.4x vs the prior committed BENCH_out.json (ratio-ordered, capped
  * at 10 autos), each emitted to "probe_vs_prior" with
  * prev/inshard/fresh/margin and a mechanical verdict whose margin
  * scales by the host-speed drift — since round 13 the MAX of three
  * clamped estimates (single-core loop, all-core loop batch, median
  * in-shard ratio of the 30 cheapest prior queries), with the chosen
  * basis stamped per mover — the artifact adjudicates its own scatter
  * without an essay. Round 14 hardens the probe channel itself: the
  * margin gains an absolute noise floor (max(prev·1.25·drift,
  * prev+0.15 s) — fixed per-query overhead scatter was tripping
  * sub-second queries) and the 5 fixed headliners double as CHANNEL
  * CONTROLS (fresh vs committed prior fresh; a perturbed probe child
  * stamps probe_suspect:true and qualifies its verdicts as
  * "real-suspect-channel" instead of emitting unqualified "real"s).
  *
  * A query that throws is recorded under "failed" with its error —
  * never as a timing — so a regression cannot masquerade as a speedup.
  *
  * Tamper-evident load guard: medians-of-5 are only trustworthy on an
  * otherwise idle machine (the round-4 driver artifact recorded 21.7s
  * for a query that times 0.66s clean — concurrent JVMs during index
  * builds). Parent and children record /proc/loadavg and the
  * machine-wide java-process count; children know how many JVMs are
  * EXPECTED (sbt + parent + child, passed via SPARK_GRAFT_JVMS_EXPECTED)
  * so the orchestration itself does not trip the guard, but any foreign
  * JVM still does.
  */
object Bench {

  private def loadAvg(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** Machine-wide java process count (incl. this JVM) via /proc — the
    * concurrent-JVM signal that explains every bench blowup seen so far. */
  private def jvmCount(): Int = {
    import scala.jdk.CollectionConverters._
    try {
      val s = Files.list(Paths.get("/proc"))
      try s.iterator.asScala.count { p =>
        p.getFileName.toString.forall(_.isDigit) && {
          try Files.readString(p.resolve("comm")).trim == "java"
          catch { case _: Throwable => false }
        }
      } finally s.close()
    } catch { case _: Throwable => -1 }
  }

  /** Per-process CPU ticks (utime+stime) and comm for every /proc pid —
    * one sample of the foreign-process scan (r15 verdict #3: two python
    * processes at 100% CPU, one holding 20 GB and saturating DRAM, ran
    * through the whole bench window while the jvm-count/loadavg guard
    * saw nothing and the artifact stamped contaminated:false). */
  private def procCpuTicks(): Map[Long, (String, Long)] = {
    import scala.jdk.CollectionConverters._
    try {
      val s = Files.list(Paths.get("/proc"))
      try s.iterator.asScala.flatMap { p =>
        val name = p.getFileName.toString
        if (!name.forall(_.isDigit)) None
        else
          try {
            val comm = Files.readString(p.resolve("comm")).trim
            val stat = Files.readString(p.resolve("stat"))
            // utime/stime are fields 14/15 (1-based); comm may contain
            // spaces/parens, so parse after the LAST ')'
            val rest = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
            Some(name.toLong -> (comm, rest(11).toLong + rest(12).toLong))
          } catch { case _: Throwable => None }
      }.toMap
      finally s.close()
    } catch { case _: Throwable => Map.empty }
  }

  /** Count of NON-java processes burning > `minCoreFrac` of one core
    * between two tick samples. Java processes are excluded because the
    * jvm-count guard already covers them (and our own shard/probe
    * children are java); the self pid is excluded for the legacy
    * SHARDS=1 path where the measuring JVM is the caller. Pure —
    * BenchProbeSpec. Ticks are USER_HZ = 100 (the Linux ABI constant
    * /proc/<pid>/stat reports in). */
  private[graft] def foreignHeavyCount(
      before: Map[Long, (String, Long)],
      after: Map[Long, (String, Long)],
      elapsedSec: Double,
      selfPid: Long,
      minCoreFrac: Double = 0.5
  ): Int =
    if (elapsedSec <= 0) 0
    else
      after.count { case (pid, (comm, t1)) =>
        pid != selfPid && comm != "java" &&
        before.get(pid).exists { case (_, t0) => (t1 - t0) / 100.0 / elapsedSec > minCoreFrac }
      }

  /** One foreign-process scan: sample /proc twice `sampleMs` apart and
    * count non-java processes over 50% of a core. ~0.3 s per call; run
    * at parent start AND end (a contender that arrives mid-run is caught
    * by the end sample — r15's second python launched 3 minutes before
    * the round snapshot and ran through the driver's whole bench). */
  private def foreignHeavy(sampleMs: Long = 300): Int = {
    val self = ProcessHandle.current().pid()
    val b = procCpuTicks()
    val t0 = System.nanoTime()
    try Thread.sleep(sampleMs) catch { case _: InterruptedException => () }
    val a = procCpuTicks()
    foreignHeavyCount(b, a, (System.nanoTime() - t0) / 1e9, self)
  }

  /** End-of-run load gate (r15 verdict #3a). Raw load_end CANNOT gate at
    * the start threshold (cpus/4): the 1-minute loadavg right after our
    * own last shard/probe released 32 cores is the decayed history of
    * OUR work — committed CLEAN rounds read load_end 8.56 and 9.74
    * against threshold 8. The gate uses 2x the start threshold (= cpus/2,
    * 16 on this box): genuinely external load big enough to stand above
    * our own decay, with all committed-clean history (max 9.74) well
    * under it. The PRECISE end-of-run contention signal is the foreign
    * heavy-process scan, which attributes CPU instantaneously and does
    * not see our own decay at all. Pure — BenchProbeSpec.
    *
    * `cores` is the HOST core count (r16 verdict #3): loadavg measures
    * machine-wide runnable threads, so the threshold must scale with the
    * machine, not with `$SPARK_GRAFT_CPUS` — the r16 8-core scaling run
    * self-stamped contaminated at ambient load 8.37 on an idle 32-core
    * box because the gate read threshold 8/2=4. */
  private[graft] def loadEndGate(loadEnd: Double, cores: Int): Boolean =
    loadEnd > cores / 2.0

  /** Host core count for the load gates — the machine the loadavg is
    * about, NOT the bench parallelism knob. */
  private def hostCores: Int = Runtime.getRuntime.availableProcessors()

  /** External-memory-pressure signature (r15 verdict #3c): the r15
    * artifact read suite drift 1.441 while single-core cal measured
    * 0.894 and all-core cal_par 0.972 — cache-resident calibration loops
    * fine, DRAM-bound Spark suite slow is precisely a foreign process
    * saturating memory bandwidth (the 20 GB numpy job), and the host-CPU
    * guards structurally cannot see it. Requires BOTH loop bases present
    * and fast (< 1.1) with the suite basis > 1.3. A genuine broad code
    * regression also shows this shape, but the bench chain would rather
    * stamp that run contaminated (re-run on a clean host confirms) than
    * stamp a memory-starved run clean. Pure — BenchProbeSpec. */
  private[graft] def memoryPressureSignature(
      driftCal: Option[Double],
      driftPar: Option[Double],
      driftSuite: Option[Double]
  ): Boolean =
    driftSuite.exists(_ > 1.3) && driftCal.exists(_ < 1.1) && driftPar.exists(_ < 1.1)

  /** Worst fill fraction across the JIT code-heap segments (segmented
    * code cache on JDK 9+: non-nmethods / profiled / non-profiled; the
    * non-profiled heap filling is what turns C2 off). Also returns total
    * used bytes so the artifact can show absolute growth over the run. */
  private def codeCache(): (Long, Double) = {
    import scala.jdk.CollectionConverters._
    var used = 0L; var worst = 0.0
    try ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("CodeHeap") || p.getName == "Code Cache")
      .foreach { p =>
        val u = p.getUsage
        used += u.getUsed
        if (u.getMax > 0) worst = math.max(worst, u.getUsed.toDouble / u.getMax)
      }
    catch { case _: Throwable => }
    (used, worst)
  }

  /** JSON-safe fixed-point decimal: the f-interpolator is default-locale
    * sensitive (comma decimal separators would break the machine-parsed
    * stdout line), so format explicitly under Locale.ROOT. */
  private def fmt3(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  private def esc(s: String): String = s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case '\n'         => "\\n"
    case '\r'         => "\\r"
    case '\t'         => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c            => c.toString
  }

  /** Machine-speed calibration: a fixed single-threaded integer workload
    * timed once per run (~0.5 s on an idle core). Day-to-day host drift —
    * shared-host contention, a slower machine — inflates EVERY query and
    * this loop alike, so the probe verdict compares fresh/prev against
    * the calibration drift instead of an absolute bound (the round-12
    * full run measured the whole suite ~1.4× slower on a day the same
    * commit's code was unchanged; without calibration that reads as 11
    * "real" regressions). */
  private[graft] def calibrate(): Double = {
    var x = 0L
    var i = 0L
    val t0 = System.nanoTime()
    while (i < 400000000L) { x ^= i * 0x9E3779B97F4A7C15L; i += 1 }
    val sec = (System.nanoTime() - t0) / 1e9
    if (x == 42L) System.err.println("") // consume x: the loop must not DCE
    sec
  }

  /** Multi-core calibration (round-13, verdict item #2): `threads` copies
    * of the same integer loop released together; wall time of the whole
    * batch. The single-threaded loop under-measures multi-core drift —
    * round-12's judge measured cal drift 1.12× on a day the 32-way suite
    * ran ~1.4× slower (scheduler/steal effects hit parallel workloads
    * harder than one pinned core) — so the probe margin scales by the MAX
    * of the single-core, all-core, and suite drifts. */
  private[graft] def calibratePar(threads: Int): Double = {
    val n = math.max(1, threads)
    val go = new java.util.concurrent.CountDownLatch(1)
    val sink = new java.util.concurrent.atomic.AtomicLong(0L)
    val ts = (0 until n).map { _ =>
      val t = new Thread(() => {
        go.await()
        var x = 0L; var i = 0L
        while (i < 400000000L) { x ^= i * 0x9E3779B97F4A7C15L; i += 1 }
        sink.addAndGet(x) // consume x across threads: the loop must not DCE
      })
      t.setDaemon(true); t.start(); t
    }
    val t0 = System.nanoTime()
    go.countDown(); ts.foreach(_.join())
    val sec = (System.nanoTime() - t0) / 1e9
    if (sink.get() == 42L) System.err.println("")
    sec
  }

  /** Prior run's core count, if the artifact carries one (round 17). The
    * r16 driver overwrote the committed 32-core artifact with its 8-core
    * scaling run's, and the next probe chain compared calibratePar(32)
    * against calibratePar(8) and 8-core per-query prevs — drift read a
    * meaningless 1.91 and two untouched queries stamped `real`. A prior
    * recorded at a DIFFERENT cpus count is not a baseline. */
  private[graft] def priorCpus(path: String): Option[Int] =
    try {
      val s = Files.readString(Paths.get(path))
      """"cpus"\s*:\s*([0-9]+)""".r.findFirstMatchIn(s).map(_.group(1).toInt)
    } catch { case _: Throwable => None }

  /** True when the prior artifact exists, stamps a cpus count, and it
    * differs from this run's — the whole prior chain (queries, fresh
    * probes, calibrations) must then be discarded. A prior WITHOUT the
    * stamp (pre-r17) is accepted as-is; from this round on every
    * artifact carries it. Pure — BenchProbeSpec. */
  private[graft] def priorCpusMismatch(priorCpusVal: Option[Int], cpusNow: Int): Boolean =
    priorCpusVal.exists(_ != cpusNow)

  /** Prior run's calibration seconds, if the artifact carries one. */
  private[graft] def priorCal(path: String): Option[Double] =
    try {
      val s = Files.readString(Paths.get(path))
      """"cal_sec"\s*:\s*([0-9.eE-]+)""".r.findFirstMatchIn(s).map(_.group(1).toDouble)
    } catch { case _: Throwable => None }

  /** Prior run's all-core calibration seconds (round-13 field). */
  private[graft] def priorCalPar(path: String): Option[Double] =
    try {
      val s = Files.readString(Paths.get(path))
      """"cal_par_sec"\s*:\s*([0-9.eE-]+)""".r.findFirstMatchIn(s).map(_.group(1).toDouble)
    } catch { case _: Throwable => None }

  /** Prior run's fresh-probe readings (round-14, verdict item #1): the 5
    * fixed headliners are probed EVERY round, so their committed fresh
    * values are the probe channel's controls — a perturbed probe child
    * inflates controls and movers alike, and the controls make it
    * self-evident (the r13 driver artifact stamped probe_real:2 in a
    * zero-batch-diff round while headliner x_pagerank read 2.9x its own
    * in-shard value in the same probe JVM). Same balanced-scan parser as
    * priorQueries; no minimum size (the probe block is always small). */
  private[graft] def priorFreshProbe(path: String): Map[String, Double] =
    try {
      if (!Files.exists(Paths.get(path))) return Map.empty
      parseNumericObject(Files.readString(Paths.get(path)), "fresh_probe").getOrElse(Map.empty)
    } catch { case _: Throwable => Map.empty }

  /** String-aware balanced scan for a top-level `"field":{...}` numeric
    * object — shared by priorQueries and priorFreshProbe (future nesting
    * or reordering must degrade loudly, not silently — ADVICE r12). */
  private[graft] def parseNumericObject(s: String, field: String): Option[Map[String, Double]] = {
    val tag = ("\"" + java.util.regex.Pattern.quote(field) + "\"\\s*:\\s*\\{").r
    val m0 = tag.findFirstMatchIn(s).getOrElse(return None)
    val start = m0.end
    var i = start; var depth = 1; var inStr = false; var escd = false; var end = -1
    while (i < s.length && end < 0) {
      val c = s.charAt(i)
      if (inStr) {
        if (escd) escd = false
        else if (c == '\\') escd = true
        else if (c == '"') inStr = false
      } else c match {
        case '"' => inStr = true
        case '{' => depth += 1
        case '}' => depth -= 1; if (depth == 0) end = i
        case _   => ()
      }
      i += 1
    }
    if (end < 0) return None
    val pair = """"((?:[^"\\]|\\.)*)"\s*:\s*([-0-9.eE]+)""".r
    Some(pair.findAllMatchIn(s.substring(start, end))
      .map(mm => mm.group(1) -> mm.group(2).toDouble).toMap)
  }

  /** Parse the `"queries":{...}` map out of a prior BENCH_out.json — the
    * baseline for the data-driven fresh probe. The close brace is found
    * by a string-aware balanced scan (not first-`}`: future nesting or
    * field reordering must degrade loudly, not silently — ADVICE r12).
    * A subset/probe artifact (< minSize queries) or an unparsable file
    * yields empty WITH a stderr line when the file exists: no baseline,
    * no auto-probes, never a crash. Read BEFORE the run overwrites it. */
  private[graft] def priorQueries(path: String, minSize: Int = 50): Map[String, Double] =
    try {
      if (!Files.exists(Paths.get(path))) return Map.empty
      def warn(why: String): Unit =
        System.err.println(s"[bench] prior artifact $path yields no baseline: $why — probe degrades to worst-5 only")
      val s = Files.readString(Paths.get(path))
      val m = parseNumericObject(s, "queries").getOrElse {
        warn("no parseable \"queries\" object"); return Map.empty
      }
      if (m.size >= minSize) m
      else { warn(s"only ${m.size} queries (< $minSize): subset artifact, not a baseline"); Map.empty }
    } catch { case _: Throwable => Map.empty }

  /** Probe margin (round-14, verdict item #2): the multiplicative term
    * scales with host drift, and the ADDITIVE floor absorbs the fixed
    * per-query overhead scatter (~0.1–0.3 s per BASELINE.md: session
    * dispatch, file-index, first-task scheduling) that is independent of
    * query cost. Without the floor, sub-second queries trip on any
    * perturbed day (r13: rsi_10 fresh 0.249 vs margin 0.245 — 1.6% over
    * at 0.1 s magnitude, adjudicated ambient only by essay). A genuine
    * regression still reads "real": a 10x on a 0.1 s query lands at
    * 1.0 s vs a floored margin of 0.25 s. */
  private[graft] val noiseFloorSec = 0.15
  private[graft] def probeMargin(prev: Double, drift: Double): Double =
    math.max(prev * 1.25 * drift, prev + noiseFloorSec)

  /** Probe-channel controls (round-14, verdict item #1): the 5 fixed
    * headliners are probed every round, so their committed prior FRESH
    * values calibrate the probe child itself. Returns (median, max) of
    * the control ratios fresh/prior-fresh when >= 3 controls exist in
    * both runs. A perturbed probe child (concurrent JVM landing on the
    * probe tail — the r13 driver run measured headliner x_pagerank at
    * 10.31 s fresh vs a 3.2–4.0 s committed band in the same JVM that
    * stamped probe_real:2 on a zero-batch-diff round) inflates controls
    * and movers alike; the controls make it self-evident in-artifact. */
  private[graft] def probeChannelStats(
      probed: Map[String, Double],
      priorFresh: Map[String, Double],
      controls: Seq[String]
  ): Option[(Double, Double)] = {
    val ratios = controls.distinct
      .flatMap(n => for { f <- probed.get(n); p <- priorFresh.get(n) if p > 0 && f > 0 } yield f / p)
      .sorted
    if (ratios.size >= 3) Some((ratios(ratios.size / 2), ratios.last)) else None
  }

  /** Max control ratio over controls that are NOT themselves vsPrior
    * movers (ADVICE r14): the controls are the worst-5 headliners, which
    * overlap the mover set — a single GENUINE >2.5x regression in one
    * headliner would otherwise trip the spike rule, mark the whole
    * channel suspect, and demote its own "real" verdict (and everyone
    * else's) to "real-suspect-channel" — a real regression
    * self-qualifying as channel noise, the same self-masking class the
    * suite drift basis had (ADVICE r13). Spike detection must rest on
    * controls with no stake in the adjudication. */
  private[graft] def controlSpikeMax(
      probed: Map[String, Double],
      priorFresh: Map[String, Double],
      controls: Seq[String],
      movers: Set[String]
  ): Option[Double] = {
    val ratios = controls.distinct.filterNot(movers)
      .flatMap(n => for { f <- probed.get(n); p <- priorFresh.get(n) if p > 0 && f > 0 } yield f / p)
    if (ratios.nonEmpty) Some(ratios.max) else None
  }

  /** Channel-suspect rule: median control ratio > 1.4 (broad probe-JVM
    * perturbation — same threshold as mover selection; the median over
    * ALL controls is robust to one genuine mover) OR any single
    * NON-MOVER control > 2.5x its committed fresh value (spike
    * perturbation: the r13 shape, where the foreign JVM landed on part
    * of the probe run — host drift is clamped at 2.0, so 2.5x one
    * control is not host speed; mover controls are excluded so a real
    * headliner regression cannot poison its own channel, ADVICE r14).
    * A suspect channel qualifies mover verdicts as
    * "real-suspect-channel" — never silently flips them to ambient: a
    * suspect channel is UNMEASURED, not clean. */
  private[graft] def channelSuspect(
      stats: Option[(Double, Double)],
      spikeMax: Option[Double]
  ): Boolean =
    stats.exists { case (med, _) => med > 1.4 } || spikeMax.exists(_ > 2.5)

  /** Resolve SPARK_GRAFT_SUITE against the known query set (ADVICE r13):
    * unknown names (typos) must not silently shrink the suite — they are
    * returned for a stderr warning and an artifact stamp, and the
    * baseline minimum is computed from the RESOLVED list. */
  private[graft] def resolveSuite(
      suite: Option[Set[String]],
      known: Set[String]
  ): (Seq[String], Seq[String]) = {
    val names = known.toSeq.sorted.filter(n => suite.forall(_.contains(n)))
    val unknown = suite.map(_ -- known).getOrElse(Set.empty).toSeq.sorted
    (names, unknown)
  }

  /** Probe-child timeout budget (round-14): the fixed 20-minute fork
    * budget killed the BENCH_sf1 probe child on a slow-host day —
    * x_corr_matrix alone is ~11 min fresh at (1 warmup + 3 reps) × 161 s
    * when the host runs 1.3×. The orchestrator KNOWS the probe set's
    * in-shard times, so the budget is data-driven: twice the measured
    * probe-set cost at (warmups+reps) executions, plus 5 min of JVM/
    * session fixed cost, floored at 20. The 2× covers fresh-JVM JIT and
    * host drift (both clamp near 2.0 elsewhere). */
  private[graft] def probeTimeoutMin(
      probeSet: Seq[String],
      timed: collection.Map[String, Double],
      reps: Int,
      warmups: Int
  ): Long = {
    val costSec = probeSet.map(timed.getOrElse(_, 0.0)).sum * (warmups + reps) * 2
    math.max(20L, (costSec / 60.0).ceil.toLong + 5L)
  }

  /** Data-driven probe selection (round 12): the fixed headliners (5
    * worst by in-shard time) PLUS every query whose median regressed
    * >1.4x vs the prior committed artifact, worst ratio first, capped at
    * 10 autos — so the artifact adjudicates its own scatter instead of a
    * hand-picked SCALING.md essay doing it next round. Returns the probe
    * list and, per auto-selected query, (prior, in-shard) for the
    * probe_vs_prior artifact block. */
  private[graft] def selectProbe(
      timed: collection.Map[String, Double],
      prior: Map[String, Double]
  ): (Seq[String], Map[String, (Double, Double)]) = {
    val worst5 = timed.toSeq.sortBy(-_._2).take(5).map(_._1)
    val regressed = timed.toSeq
      .flatMap { case (n, v) =>
        prior.get(n).filter(p => p > 0.0 && v / p > 1.4).map(p => (n, p, v))
      }
      .sortBy { case (_, p, v) => -(v / p) }
    val auto = regressed.map(_._1).filterNot(worst5.contains).take(10)
    val vsPrior = regressed
      .filter { case (n, _, _) => worst5.contains(n) || auto.contains(n) }
      .map { case (n, p, v) => n -> (p, v) }
      .toMap
    (worst5 ++ auto, vsPrior)
  }

  /** Fork one fresh bench JVM over `names` (same classpath, same JVM
    * flags, SPARK_GRAFT_QUERIES subset, re-probe disabled) and return its
    * shard TSV lines. This is both the shard runner and the fresh-probe
    * channel; the caller (orchestrator parent) holds NO SparkSession, so
    * the child owns the machine — the round-7 probe child measured
    * x_dedup_cluster at 2.18 s while sharing the box with the parent's
    * live 12 GB session vs 0.54 s truly clean; from the Spark-less
    * parent the probe reproduces the clean value. */
  private def forkShard(
      names: Seq[String],
      sfDir: String,
      reps: Int,
      warmups: Int,
      timeoutMin: Long
  ): Option[Seq[String]] = {
    if (names.isEmpty) return Some(Seq.empty)
    try {
      import scala.jdk.CollectionConverters._
      val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java").toString
      val jvmArgs = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
        .filterNot(a => a.startsWith("-agentlib") || a.startsWith("-Xrunjdwp") || a.startsWith("-javaagent"))
      val out = Files.createTempFile("bench_shard", ".json")
      val tsv = Files.createTempFile("bench_shard", ".tsv")
      val cmd = (Seq(javaBin) ++ jvmArgs ++ Seq("-cp", System.getProperty("java.class.path"), "graft.Bench")).asJava
      val pb = new ProcessBuilder(cmd)
      pb.environment().put("SPARK_GRAFT_QUERIES", names.mkString(","))
      pb.environment().put("SPARK_GRAFT_BENCH_OUT", out.toString)
      pb.environment().put("SPARK_GRAFT_SHARD_TSV", tsv.toString)
      pb.environment().put("SPARK_GRAFT_REPROBE", "0")
      pb.environment().put("SPARK_GRAFT_SF_DIR", sfDir)
      pb.environment().put("SPARK_GRAFT_REPS", reps.toString)
      pb.environment().put("SPARK_GRAFT_WARMUPS", warmups.toString)
      // orchestration-aware contamination guard: sbt + parent + this child
      pb.environment().put("SPARK_GRAFT_JVMS_EXPECTED", (jvmCount() + 1).toString)
      pb.redirectOutput(ProcessBuilder.Redirect.DISCARD)
      pb.redirectError(ProcessBuilder.Redirect.DISCARD)
      val proc = pb.start()
      if (!proc.waitFor(timeoutMin, TimeUnit.MINUTES)) { proc.destroyForcibly(); return None }
      Some(Files.readAllLines(tsv).asScala.toSeq)
    } catch { case _: Throwable => None }
  }

  def main(args: Array[String]): Unit = {
    val shards = sys.env.getOrElse("SPARK_GRAFT_SHARDS", "8").toInt
    // A subset run (local iteration, or a forked shard/probe child) always
    // measures in THIS JVM; only a full-suite run orchestrates.
    if (shards > 1 && !sys.env.contains("SPARK_GRAFT_QUERIES")) orchestrate(shards)
    else singleRun()
  }

  // ------------------------------------------------------------ orchestrator
  /** Full-suite sharded run. This JVM never creates a SparkSession —
    * it only forks, waits, merges, and writes the artifacts.
    *
    * SPARK_GRAFT_SUITE (optional, comma-separated) restricts the
    * orchestrated suite at the PARENT level — used by the BENCH_sf1
    * sidecar (top-20 scale queries on the upscaled data) so scale
    * regressions ride the same sharded/probed/self-adjudicating
    * machinery; children still receive per-shard SPARK_GRAFT_QUERIES.
    * The prior-baseline minimum size adapts to the suite so the
    * sidecar's probe chain self-seeds from its own artifact. */
  private def orchestrate(shards: Int): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "5").toInt
    val warmups = sys.env.getOrElse("SPARK_GRAFT_WARMUPS", "2").toInt
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_out.json")
    val cpus = Graft.cpus
    val suite = sys.env.get("SPARK_GRAFT_SUITE").map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // ADVICE r13: a typo'd suite name must not silently shrink the run —
    // warn, stamp the artifact, and size the baseline minimum from the
    // RESOLVED list (not the requested one)
    val (names, suiteUnknown) = resolveSuite(suite, SparkEntry.queries.keySet)
    if (suiteUnknown.nonEmpty)
      System.err.println(
        s"[bench] SPARK_GRAFT_SUITE names not in SparkEntry.queries (typo?): ${suiteUnknown.mkString(",")} — running ${names.size} resolved queries")
    // prior committed artifact — the regression baseline for the
    // data-driven probe; read before this run overwrites the file.
    // A prior recorded at a different cpus count is NOT a baseline
    // (r17: the driver's 8-core scaling artifact overwrote the 32-core
    // one and poisoned the whole probe chain) — degrade to worst-5-only.
    val cpusMismatch = priorCpusMismatch(priorCpus(outPath), cpus.toInt)
    if (cpusMismatch)
      System.err.println(
        s"[bench] prior artifact $outPath was recorded at cpus=${priorCpus(outPath).getOrElse(-1)} != $cpus — discarding the prior chain (no regression baseline, no drift calibration)")
    val minBaseline = suite.map(_ => math.max(10, names.size * 3 / 4)).getOrElse(50)
    val prior = if (cpusMismatch) Map.empty[String, Double] else priorQueries(outPath, minBaseline)
    val priorFresh = if (cpusMismatch) Map.empty[String, Double] else priorFreshProbe(outPath)
    val calPrev = if (cpusMismatch) None else priorCal(outPath)
    val calParPrev = if (cpusMismatch) None else priorCalPar(outPath)
    val calSec = calibrate()
    val calPar = calibratePar(cpus.toInt)
    // deterministic round-robin over the sorted list: each shard gets an
    // alphabet-spanning slice, so no shard is all-iterative or all-trivial
    val assign: Map[Int, Seq[String]] =
      names.zipWithIndex.groupMap { case (_, i) => i % shards } { case (n, _) => n }
    val loadStart = loadAvg(); val jvmsStart = jvmCount()
    val foreignStart = foreignHeavy()
    // load thresholds scale with HOST cores (r16 verdict #3): loadavg is a
    // machine-wide signal, so an 8-cpu bench run on a 32-core box must
    // still gate at the 32-core thresholds
    val loadThreshold = hostCores.toDouble / 4.0
    val parentContaminated = jvmsStart > 2 || loadStart > loadThreshold || foreignStart > 0
    val timed = scala.collection.mutable.LinkedHashMap[String, Double]()
    val ages = scala.collection.mutable.LinkedHashMap[String, Double]()
    val ccFrac = scala.collection.mutable.LinkedHashMap[String, Double]()
    val builds = scala.collection.mutable.LinkedHashMap[String, Double]()
    val failed = scala.collection.mutable.LinkedHashMap[String, String]()
    var anyChildContaminated = false
    var ccUsedMax = 0L; var ccWorstMax = 0.0
    var loadEnd = loadStart; var jvmsEnd = jvmsStart
    (0 until shards).foreach { k =>
      val shardNames = assign.getOrElse(k, Seq.empty)
      forkShard(shardNames, sfDir, reps, warmups, timeoutMin = 45) match {
        case Some(lines) =>
          lines.foreach { line =>
            line.split("\t", -1) match {
              case Array("Q", n, med, age, cc, build) =>
                timed(n) = med.toDouble; ages(n) = age.toDouble; ccFrac(n) = cc.toDouble
                builds(n) = build.toDouble
              case Array("Q", n, med, age, cc) =>
                timed(n) = med.toDouble; ages(n) = age.toDouble; ccFrac(n) = cc.toDouble
              case Array("F", n, err) => failed(n) = err
              case Array("G", _, lEnd, _, jEnd, cont, ccUsed, ccWorst) =>
                anyChildContaminated ||= cont.toBoolean
                ccUsedMax = math.max(ccUsedMax, ccUsed.toLong)
                ccWorstMax = math.max(ccWorstMax, ccWorst.toDouble)
                // MAX across shards, not last-shard-wins: a load spike or
                // foreign JVM during an EARLY shard must survive into the
                // artifact's end-condition fields (ADVICE round 8)
                loadEnd = math.max(loadEnd, lEnd.toDouble)
                jvmsEnd = math.max(jvmsEnd, jEnd.toInt)
              case _ => ()
            }
          }
        case None =>
          shardNames.foreach(n => failed(n) = s"shard $k timed out or died (45 min budget)")
      }
    }
    // Self-certification: the 5 worst queries PLUS every >1.4x regression
    // vs the prior committed artifact, re-probed in one more fresh JVM —
    // launched from this Spark-less parent, so the probe sees an idle
    // machine (round-7 fix); the auto-selection is the round-12 fix for
    // recurring hand-picked scatter adjudication.
    val (probeSet, vsPrior) = selectProbe(timed, prior)
    def parseProbe(lines: Seq[String]): Map[String, Double] =
      lines.flatMap { line =>
        line.split("\t", -1) match {
          case Array("Q", n, med, _, _*) => Some(n -> med.toDouble)
          case _                         => None
        }
      }.toMap
    // Probe-WINDOW guard (r16 verdict #1): sample load + foreign CPU
    // around the probe fork specifically — the end-of-run burst that
    // produced three rounds of false `real` stamps hits exactly this
    // window, which the run-level start/end scans bracket too coarsely.
    val probeLoad0 = loadAvg()
    val probeTicks0 = procCpuTicks()
    val probeT0 = System.nanoTime()
    val probed: Map[String, Double] =
      forkShard(probeSet, sfDir, reps, warmups, probeTimeoutMin(probeSet, timed, reps, warmups))
        .map(parseProbe).getOrElse(Map.empty)
    val probeElapsed = (System.nanoTime() - probeT0) / 1e9
    val probeForeign =
      foreignHeavyCount(probeTicks0, procCpuTicks(), probeElapsed, ProcessHandle.current().pid())
    val probeLoad1 = loadAvg()
    // Preliminary verdicts (same pure pipeline writeArtifacts uses) select
    // the re-probe set: every mover whose single-probe verdict reads real*
    // gets a SECOND fresh JVM after a settle delay — `real` survives only
    // if both probes reproduce (r16 verdict #1; the pure confirmation rule
    // is reprobeVerdict).
    val (driftBasis0, drift0, driftCal0, driftPar0, _) =
      resolveDrift(calSec, calPrev, calPar, calParPrev, timed, prior)
    val suiteOnly0 = suiteUncorroborated(driftBasis0, drift0, driftCal0, driftPar0)
    val suspect0 = channelSuspect(
      probeChannelStats(probed, priorFresh, probeSet.take(5)),
      controlSpikeMax(probed, priorFresh, probeSet.take(5), vsPrior.keySet))
    val reprobeSet = verdictsFor(vsPrior, probed, drift0, driftBasis0, suiteOnly0, suspect0)
      .collect { case (n, v) if v.startsWith("real") => n }.toSeq.sorted
    val probed2: Map[String, Double] =
      if (reprobeSet.isEmpty) Map.empty
      else {
        try Thread.sleep(60000) catch { case _: InterruptedException => () } // let a transient burst decay
        forkShard(reprobeSet, sfDir, reps, warmups, probeTimeoutMin(reprobeSet, timed, reps, warmups))
          .map(parseProbe).getOrElse(Map.empty)
      }
    // End-of-run foreign scan (r15 verdict #3b): the second contaminating
    // python launched AFTER the run began — only an end sample sees it.
    val foreignEnd = foreignHeavy()
    val contaminated = parentContaminated || anyChildContaminated ||
      foreignEnd > 0 || loadEndGate(loadEnd, hostCores)
    val ccPressure = ccFrac.values.foldLeft(ccWorstMax)(math.max) > 0.90
    if (contaminated) {
      System.err.println(
        s"CONTAMINATED: bench observed foreign load (parent loadavg=$loadStart/$loadEnd, jvms=$jvmsStart, " +
          s"foreign heavy procs start=$foreignStart end=$foreignEnd, threshold $loadThreshold; or a shard " +
          "flagged) — timings may be inflated; do not read as regressions"
      )
    }
    writeArtifacts(
      outPath = outPath, sfDir = sfDir, reps = reps, warmups = warmups,
      timed = timed, ages = ages, ccFrac = ccFrac, failed = failed,
      loadStart = loadStart, loadEnd = loadEnd, jvmsStart = jvmsStart, jvmsEnd = jvmsEnd,
      contaminated = contaminated, ccUsed = ccUsedMax, ccWorst = ccWorstMax, ccPressure = ccPressure,
      probed = probed, vsPrior = vsPrior, calSec = calSec, calPrev = calPrev,
      calPar = calPar, calParPrev = calParPrev, prior = prior,
      // channel controls = the 5 fixed headliners (selectProbe returns
      // worst5 ++ autos, so the first 5 are the headliners)
      priorFresh = priorFresh, controls = probeSet.take(5),
      suiteUnknown = suiteUnknown,
      foreignStart = Some(foreignStart), foreignEnd = Some(foreignEnd),
      rerun = None, shards = shards, writeCompact = true,
      probed2 = probed2,
      probeWindow = Some((probeLoad0, probeLoad1, probeForeign)),
      builds = builds,
      cpus = cpus.toInt
    )
  }

  // ------------------------------------------------------------ single JVM
  /** Classic one-JVM measuring run: the whole suite when
    * SPARK_GRAFT_SHARDS=1, or the SPARK_GRAFT_QUERIES subset when forked
    * as a shard / fresh probe / local iteration. */
  private def singleRun(): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Graft.cpus
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "5").toInt
    val warmups = sys.env.getOrElse("SPARK_GRAFT_WARMUPS", "2").toInt
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_out.json")
    // Forked shard/probe children (SPARK_GRAFT_REPROBE=0) never reprobe,
    // so their calibrate() busy loops and baseline parse were pure
    // startup overhead (ADVICE r12) — skip both in child mode; the
    // parent's artifact carries the run's calibration.
    val childMode = sys.env.get("SPARK_GRAFT_REPROBE").contains("0")
    // regression baseline for the data-driven probe (legacy SHARDS=1 full
    // run only); read before overwrite
    // cpus-mismatched priors are discarded, same rule as the orchestrator
    val cpusMismatch = !childMode && priorCpusMismatch(priorCpus(outPath), cpus.toInt)
    val noPrior = childMode || cpusMismatch
    val priorArtifact = if (noPrior) Map.empty[String, Double] else priorQueries(outPath)
    val priorFresh = if (noPrior) Map.empty[String, Double] else priorFreshProbe(outPath)
    val calPrev = if (noPrior) None else priorCal(outPath)
    val calParPrev = if (noPrior) None else priorCalPar(outPath)
    val calSec = if (childMode) 0.0 else calibrate()
    val calPar = if (childMode) 0.0 else calibratePar(cpus.toInt)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      // The status stores retain job/stage/execution history even with the
      // UI off; per-JOB submission cost grows with session age. Retention
      // stays tight, but the structural fix is the sharded orchestrator —
      // no measuring JVM lives past ~1/8 of the suite.
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "2000")
      .config("spark.sql.ui.retainedExecutions", "50")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Untimed session warm-up: JVM/codegen/file-index costs land here, not
    // on whichever query happens to run first (BASELINE.md compares warm).
    try {
      spark.range(1000000).selectExpr("sum(id)").collect()
      SparkEntry.queries.get("q01_bars").foreach(_(spark, sfDir).count())
    } catch { case _: Throwable => }
    val timed = scala.collection.mutable.LinkedHashMap[String, Double]()
    val ages = scala.collection.mutable.LinkedHashMap[String, Double]()
    val ccFrac = scala.collection.mutable.LinkedHashMap[String, Double]()
    val builds = scala.collection.mutable.LinkedHashMap[String, Double]()
    val failed = scala.collection.mutable.LinkedHashMap[String, String]()
    val loadStart = loadAvg(); val jvmsStart = jvmCount()
    // Expected-JVM budget: standalone = this bench + at most a lingering
    // sbt server; a forked shard is told its expected count (sbt + parent
    // + itself) so orchestration doesn't trip the guard but a foreign JVM
    // still does. Load: 1-min avg above 1/4 of the cores at start means
    // some OTHER work owns part of the machine — but ONLY for the
    // standalone path: a forked shard starts seconds after the previous
    // shard released all 32 cores, so its 1-min loadavg is the decayed
    // history of OUR OWN just-finished shard, not concurrent work (the
    // first sharded run flagged every shard after the first this way).
    // For shards the live-foreign-work signal is the JVM count; the
    // parent still records machine-level load at run start/end.
    val jvmsExpected = sys.env.get("SPARK_GRAFT_JVMS_EXPECTED").map(_.toInt)
    // host cores, not $SPARK_GRAFT_CPUS (r16 verdict #3) — see loadEndGate
    val loadThreshold = hostCores.toDouble / 4.0
    // foreign scan only outside child mode: the parent's start/end scans
    // bracket the whole orchestrated window, and a per-child scan would
    // add 8 x 0.3 s for signal the parent already has
    val foreignStart = if (childMode) None else Some(foreignHeavy())
    val contaminatedAtStart = (jvmsExpected match {
      case Some(exp) => jvmsStart > exp
      case None      => jvmsStart > 2 || loadStart > loadThreshold
    }) || foreignStart.exists(_ > 0)
    val sessionStart = System.nanoTime()
    // optional comma-separated subset for local iteration (full run default)
    val only = sys.env.get("SPARK_GRAFT_QUERIES").map(_.split(",").map(_.trim).toSet)
    SparkEntry.queries.toSeq
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .sortBy(_._1)
      .foreach { case (name, fn) =>
        try {
          // Warmup rep 1 is where every session memo builds (indexes,
          // trained artifacts, bloom filters) — TIME it (r16 verdict #6)
          // so memo'd build costs stay measured in the artifact even
          // though the timed reps reuse the memo. The timed action and
          // warmup count are unchanged; this only stamps a clock around
          // the first warmup that always ran.
          if (warmups >= 1) {
            val tb0 = System.nanoTime()
            fn(spark, sfDir).count()
            builds(name) = (System.nanoTime() - tb0) / 1e9
            (2 to warmups).foreach(_ => fn(spark, sfDir).count())
          }
          val times = (1 to reps).map { _ =>
            val t0 = System.nanoTime()
            fn(spark, sfDir).count()
            (System.nanoTime() - t0) / 1e9
          }.sorted
          timed(name) = times(times.size / 2)
          ages(name) = (System.nanoTime() - sessionStart) / 1e9
          ccFrac(name) = codeCache()._2
        } catch {
          case e: Throwable =>
            failed(name) = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}"
        }
        // Clean-session semantics per query: drop every cache the query
        // pinned (track stages AND memo fixtures — each query rebuilds its
        // own in warm-up rep 1, so timed reps still reuse them) and nudge
        // the ContextCleaner's broadcast backlog. Without this the pinned
        // set and broadcast litter grow with session age and the
        // late-alphabet queries time 3-6x worse than a fresh session runs
        // them (round-3 judge probe: x_tfidf_top3 0.95s clean vs 4.81s aged).
        CacheRegistry.release(spark)
        System.gc()
      }
    // Contaminated start → the worst-timed query gets ONE clean re-run and
    // the artifact records both numbers: a blown-up median self-identifies
    // (before >> after) instead of reading as a code regression.
    val rerun = if (contaminatedAtStart && timed.nonEmpty) {
      val (worst, before) = timed.maxBy(_._2)
      val after = try {
        val fn = SparkEntry.queries(worst)
        (1 to warmups).foreach(_ => fn(spark, sfDir).count())
        val times = (1 to reps).map { _ =>
          val t0 = System.nanoTime()
          fn(spark, sfDir).count()
          (System.nanoTime() - t0) / 1e9
        }.sorted
        CacheRegistry.release(spark)
        Some(times(times.size / 2))
      } catch { case _: Throwable => None }
      after.map(a => s"""{"name":"${esc(worst)}","before":$before,"after":$a}""")
    } else None
    val loadEnd = loadAvg(); val jvmsEnd = jvmCount()
    val foreignEnd = if (childMode) None else Some(foreignHeavy())
    // Fresh re-probe of the worst 5 within a LEGACY full single-JVM run
    // (SPARK_GRAFT_SHARDS=1). Shard children and probe children have
    // SPARK_GRAFT_REPROBE=0; the sharded path probes from the parent.
    val doReprobe = sys.env.get("SPARK_GRAFT_REPROBE") match {
      case Some("0") => false
      case Some("1") => true
      case _         => only.isEmpty
    }
    val (probeSet, vsPrior) =
      if (doReprobe) selectProbe(timed, priorArtifact) else (Seq.empty[String], Map.empty[String, (Double, Double)])
    def parseProbe(lines: Seq[String]): Map[String, Double] =
      lines.flatMap { line =>
        line.split("\t", -1) match {
          case Array("Q", n, med, _, _*) => Some(n -> med.toDouble)
          case _                         => None
        }
      }.toMap
    val probed: Map[String, Double] =
      if (doReprobe)
        forkShard(probeSet, sfDir, reps, warmups, probeTimeoutMin(probeSet, timed, reps, warmups))
          .map(parseProbe).getOrElse(Map.empty)
      else Map.empty
    // second-probe confirmation, mirroring the orchestrator (r16 verdict #1)
    val probed2: Map[String, Double] = if (doReprobe && vsPrior.nonEmpty) {
      val (basis0, drift0, cal0, par0, _) =
        resolveDrift(calSec, calPrev, calPar, calParPrev, timed, priorArtifact)
      val suspect0 = channelSuspect(
        probeChannelStats(probed, priorFresh, probeSet.take(5)),
        controlSpikeMax(probed, priorFresh, probeSet.take(5), vsPrior.keySet))
      val rs = verdictsFor(vsPrior, probed, drift0, basis0,
        suiteUncorroborated(basis0, drift0, cal0, par0), suspect0)
        .collect { case (n, v) if v.startsWith("real") => n }.toSeq.sorted
      if (rs.isEmpty) Map.empty
      else {
        try Thread.sleep(60000) catch { case _: InterruptedException => () }
        forkShard(rs, sfDir, reps, warmups, probeTimeoutMin(rs, timed, reps, warmups))
          .map(parseProbe).getOrElse(Map.empty)
      }
    } else Map.empty
    val (ccUsedEnd, ccWorstEnd) = codeCache()
    val ccPressure = ccFrac.values.foldLeft(ccWorstEnd)(math.max) > 0.90
    if (contaminatedAtStart) {
      System.err.println(
        s"CONTAMINATED: bench started with loadavg=$loadStart (threshold $loadThreshold) and " +
          s"$jvmsStart java processes (expected ≤${jvmsExpected.getOrElse(2)}) — timings are inflated by concurrent work"
      )
    }
    // Shard protocol: a TSV sidecar the orchestrator parses without JSON
    // regex fragility. All free-text fields pass through esc(), so no
    // literal tab/newline can shear a record.
    sys.env.get("SPARK_GRAFT_SHARD_TSV").foreach { tsvPath =>
      val sb = new StringBuilder
      timed.foreach { case (n, v) =>
        sb.append(s"Q\t$n\t$v\t${ages(n)}\t${ccFrac(n)}\t${builds.getOrElse(n, -1.0)}\n")
      }
      failed.foreach { case (n, e) => sb.append(s"F\t$n\t${esc(e)}\n") }
      sb.append(s"G\t$loadStart\t$loadEnd\t$jvmsStart\t$jvmsEnd\t$contaminatedAtStart\t$ccUsedEnd\t$ccWorstEnd\n")
      Files.writeString(Paths.get(tsvPath), sb.toString)
    }
    writeArtifacts(
      outPath = outPath, sfDir = sfDir, reps = reps, warmups = warmups,
      timed = timed, ages = ages, ccFrac = ccFrac, failed = failed,
      loadStart = loadStart, loadEnd = loadEnd, jvmsStart = jvmsStart, jvmsEnd = jvmsEnd,
      contaminated = contaminatedAtStart || foreignEnd.exists(_ > 0) ||
        (!childMode && loadEndGate(loadEnd, hostCores)),
      ccUsed = ccUsedEnd, ccWorst = ccWorstEnd, ccPressure = ccPressure,
      probed = probed, vsPrior = vsPrior, calSec = calSec, calPrev = calPrev,
      calPar = calPar, calParPrev = calParPrev, prior = priorArtifact,
      priorFresh = priorFresh, controls = probeSet.take(5),
      suiteUnknown = Seq.empty,
      foreignStart = foreignStart, foreignEnd = foreignEnd,
      rerun = rerun, shards = 1,
      // children must not clobber the parent's sidecar
      writeCompact = !childMode,
      probed2 = probed2, probeWindow = None, builds = builds,
      cpus = cpus.toInt
    )
    CacheRegistry.release(spark)
    spark.stop()
  }

  // ------------------------------------------------------------ artifacts
  /** Resolve the host-speed drift for the probe margin. Returns
    * (basis, resolved, cal, cal_par, suite) where the components are the
    * clamped per-source estimates that existed. Pure — unit-tested in
    * BenchProbeSpec. */
  private[graft] def resolveDrift(
      calSec: Double,
      calPrev: Option[Double],
      calPar: Double,
      calParPrev: Option[Double],
      timed: collection.Map[String, Double],
      prior: Map[String, Double]
  ): (String, Double, Option[Double], Option[Double], Option[Double]) = {
    def clamp(d: Double): Double = math.max(0.7, math.min(2.0, d))
    val driftCal = calPrev.filter(_ > 0).filter(_ => calSec > 0).map(p => clamp(calSec / p))
    val driftPar = calParPrev.filter(_ > 0).filter(_ => calPar > 0).map(p => clamp(calPar / p))
    val driftSuite = {
      val ratios = prior.toSeq
        .filter { case (n, p) => p > 0 && timed.contains(n) }
        .sortBy(_._2).take(30)
        .map { case (n, p) => timed(n) / p }
        .sorted
      if (ratios.size >= 10) Some(clamp(ratios(ratios.size / 2))) else None
    }
    val sources = Seq("cal" -> driftCal, "cal_par" -> driftPar, "suite" -> driftSuite)
      .collect { case (k, Some(v)) => k -> v }
    val (basis, resolved) = if (sources.isEmpty) ("none", 1.0) else sources.maxBy(_._2)
    (basis, resolved, driftCal, driftPar, driftSuite)
  }

  /** ADVICE r13: the suite drift basis is computed from the very run
    * being adjudicated, so a genuine broad regression (up to the 2.0
    * clamp) inflates its own margin and adjudicates its own movers
    * ambient. The suite basis stays in the MAX (it correctly caught the
    * BENCH_sf1 day where both calibration loops read FAST while the
    * 32-way suite ran 1.28x slow — capping it to the loops would have
    * re-broken that), but when it alone carries the verdict — chosen as
    * basis AND exceeding every loop estimate by >15% — the ambient
    * verdicts are stamped "ambient-suite-only" so a self-masking broad
    * regression stays visible to the artifact's consumer instead of
    * reading as adjudicated-clean. */
  private[graft] def suiteUncorroborated(
      basis: String,
      resolved: Double,
      cal: Option[Double],
      calPar: Option[Double]
  ): Boolean =
    basis == "suite" && !(cal.toSeq ++ calPar.toSeq).exists(l => resolved <= l * 1.15)

  /** The mechanical mover verdict (pure — BenchProbeSpec). Qualifiers:
    *  - "ambient": fresh within margin. The "-suite-only" qualifier fires
    *    ONLY when the verdict DEPENDS on the uncorroborated suite margin —
    *    a fresh reading inside the NO-DRIFT margin never leaned on the
    *    suite basis (first full r14 run: all 13 movers were inside
    *    probeMargin(prev, 1.0) on a day the suite basis read 1.36 with
    *    both loops at 1.0; qualifying those would overstate how much of
    *    the adjudication rested on the self-referential basis).
    *  - "real-suspect-channel": over margin but the headliner controls
    *    show the probe child itself was perturbed — unmeasured, not real.
    *  - "real-uncalibrated": over margin with no drift basis at all.
    *  - "real": over margin on a trusted channel. Investigate.
    * The unconditional-ambient fast path uses min(1.0, drift) (ADVICE
    * r14): on a fast-host day (drift < 1, floor 0.7) the effective
    * margin is the SHRUNKEN drift margin — a reading over it must fall
    * through to the real branches, not be cleared by the wider no-drift
    * margin (the r14 driver artifact stamped probe_real:1 for
    * x_surprisal2 at drift 0.916 while this branch read it ambient —
    * header and verdict disagreed, and drift<1 sensitivity was silently
    * lost). A faster host must never WIDEN the margin. */
  private[graft] def moverVerdict(
      prev: Double,
      fresh: Double,
      drift: Double,
      driftBasis: String,
      suiteOnly: Boolean,
      suspect: Boolean
  ): String =
    if (fresh <= probeMargin(prev, math.min(1.0, drift))) "ambient"
    else if (fresh <= probeMargin(prev, drift)) { if (suiteOnly) "ambient-suite-only" else "ambient" }
    else if (suspect) "real-suspect-channel"
    else if (driftBasis == "none") "real-uncalibrated"
    else "real"

  /** Second-probe confirmation (r16 verdict #1): three consecutive rounds
    * produced false `real` stamps from a single fresh-probe JVM that ran
    * inside an end-of-run load burst the run-level guards don't see
    * (r15 x_resample_ffill; r16 runs 5/6 x_forget; the r16 driver run's
    * x_ann_ivfpq_topk/x_forget/x_ann_pq_topk trio, contradicted by the
    * same driver's 8-core run an hour later). Any mover whose FIRST
    * verdict reads real* is therefore re-probed in a SECOND fresh JVM
    * launched after a settle delay; `real` survives only when BOTH
    * probes reproduce the regression:
    *  - fresh2 within margin  → "ambient-reprobe" (the first probe was
    *    the burst — the r15/r16 false-positive shape);
    *  - fresh2 over margin    → the first verdict stands (reproduced
    *    twice, minutes apart, on two fresh JVMs);
    *  - fresh2 missing (re-probe child died/timed out) → "real-unconfirmed"
    *    (an unmeasured channel must not stamp an unqualified real).
    * Pure — BenchProbeSpec. */
  private[graft] def reprobeVerdict(
      first: String,
      prev: Double,
      fresh2: Option[Double],
      drift: Double
  ): String =
    if (!first.startsWith("real")) first
    else fresh2 match {
      case Some(f2) => if (f2 <= probeMargin(prev, drift)) "ambient-reprobe" else first
      case None     => "real-unconfirmed"
    }

  /** Per-mover verdicts from the probe readings — shared by the
    * orchestrator (re-probe selection) and writeArtifacts (the emitted
    * block), so the selection and the artifact cannot disagree. */
  private[graft] def verdictsFor(
      vsPrior: Map[String, (Double, Double)],
      probed: Map[String, Double],
      drift: Double,
      driftBasis: String,
      suiteOnly: Boolean,
      suspect: Boolean
  ): Map[String, String] =
    vsPrior.flatMap { case (n, (prev, _)) =>
      probed.get(n).map(f => n -> moverVerdict(prev, f, drift, driftBasis, suiteOnly, suspect))
    }

  /** (nReal, nRealSuspect) from the mover verdicts themselves (r14
    * verdict item: Bench.scala:831 counted movers over probeMargin(prev,
    * raw drift) while moverVerdict floored drift at 1.0 in its fast
    * path, so the compact header could stamp probe_real:1 while every
    * per-mover verdict read ambient — the artifact contradicted itself.
    * Deriving the counts from the same verdict strings makes divergence
    * structurally impossible). "real-unconfirmed" (dead re-probe channel)
    * counts as suspect, not real: unmeasured, never unqualified. */
  private[graft] def moverCounts(verdicts: Iterable[String]): (Int, Int) =
    (verdicts.count(v => v.startsWith("real") && v != "real-suspect-channel" && v != "real-unconfirmed"),
     verdicts.count(v => v == "real-suspect-channel" || v == "real-unconfirmed"))

  private def writeArtifacts(
      outPath: String,
      sfDir: String,
      reps: Int,
      warmups: Int,
      timed: collection.Map[String, Double],
      ages: collection.Map[String, Double],
      ccFrac: collection.Map[String, Double],
      failed: collection.Map[String, String],
      loadStart: Double,
      loadEnd: Double,
      jvmsStart: Int,
      jvmsEnd: Int,
      contaminated: Boolean,
      ccUsed: Long,
      ccWorst: Double,
      ccPressure: Boolean,
      probed: Map[String, Double],
      vsPrior: Map[String, (Double, Double)],
      calSec: Double,
      calPrev: Option[Double],
      calPar: Double,
      calParPrev: Option[Double],
      prior: Map[String, Double],
      priorFresh: Map[String, Double],
      controls: Seq[String],
      suiteUnknown: Seq[String],
      foreignStart: Option[Int],
      foreignEnd: Option[Int],
      rerun: Option[String],
      shards: Int,
      writeCompact: Boolean,
      probed2: Map[String, Double],
      probeWindow: Option[(Double, Double, Int)],
      builds: collection.Map[String, Double],
      cpus: Int
  ): Unit = {
    // Host-speed drift vs the prior artifact: >1 = this machine/day is
    // slower. Three independent estimates, each clamped to [0.7, 2.0]
    // (a wild reading must not disable the gate), resolved by MAX —
    // round-12's single-thread loop measured 1.12× on a day the 32-way
    // suite ran ~1.4× slower, so ambient movers kept reading "real":
    //  - cal:      single-threaded integer loop (pinned-core speed);
    //  - cal_par:  all-core batch of the same loop (scheduler/steal
    //              contention that hits 32-way workloads);
    //  - suite:    median in-shard ratio of the 30 cheapest prior
    //              queries (the trivial tier is the least likely to be
    //              touched by any round's diff; a genuine regression
    //              broad enough to move the median of the cheapest 30
    //              AND both calibration loops would have to slow the
    //              host itself).
    // No prior basis at all (first calibrated round) → 1.0, absolute
    // rule, and verdicts are stamped uncalibrated. A genuine 10×
    // regression stays "real" even at max drift: prev×1.25×2.0 < prev×10.
    val (driftBasis, drift, driftCal, driftPar, driftSuite) =
      resolveDrift(calSec, calPrev, calPar, calParPrev, timed, prior)
    val suiteOnly = suiteUncorroborated(driftBasis, drift, driftCal, driftPar)
    // r15 verdict #3c: cache-resident cal loops fast + DRAM-bound suite
    // slow = external memory-bandwidth pressure the CPU guards can't see
    // (the r15 shape: suite 1.441, cal 0.894, cal_par 0.972, a 20 GB
    // foreign numpy job resident). Computed here because drift is; ORed
    // into the stamp. Children can't fire it (no prior → no suite basis).
    val memPressure = memoryPressureSignature(driftCal, driftPar, driftSuite)
    val contaminatedFinal = contaminated || memPressure
    if (memPressure && !contaminated)
      System.err.println(
        s"CONTAMINATED (memory-pressure signature): suite drift ${driftSuite.fold("?")(fmt3)} > 1.3 while " +
          s"cal ${driftCal.fold("?")(fmt3)} and cal_par ${driftPar.fold("?")(fmt3)} < 1.1 — a foreign process " +
          "is likely saturating memory bandwidth; timings are inflated")
    // Probe-channel controls (r14): headliner fresh vs committed prior
    // fresh — a perturbed probe child qualifies its own "real" verdicts.
    // Spike rule over NON-MOVER controls only (ADVICE r14): a genuine
    // >2.5x regression in a headliner must not poison its own channel.
    val channel = probeChannelStats(probed, priorFresh, controls)
    val spikeMax = controlSpikeMax(probed, priorFresh, controls, vsPrior.keySet)
    val suspect = channelSuspect(channel, spikeMax)
    val qs = timed.map { case (k, v) => "\"" + esc(k) + "\":" + v }.mkString("{", ",", "}")
    val as = ages.map { case (k, v) => "\"" + esc(k) + "\":" + v }.mkString("{", ",", "}")
    val cc = ccFrac.map { case (k, v) => "\"" + esc(k) + "\":" + fmt3(v) }.mkString("{", ",", "}")
    val fp = probed.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + esc(k) + "\":" + fmt3(v) }.mkString("{", ",", "}")
    val fs = failed.map { case (k, v) => "\"" + esc(k) + "\":\"" + esc(v) + "\"" }.mkString("{", ",", "}")
    val total = timed.values.sum
    // Probe-channel health (ADVICE r12): if movers were selected but the
    // probe child died/timed out, a dead measurement channel must be
    // distinguishable from an all-ambient verdict — probe_failed:true
    // plus an unmeasured count, never a silent probe_real:0.
    val unmeasured = vsPrior.keys.count(n => !probed.contains(n))
    val probeFailed = vsPrior.nonEmpty && unmeasured > 0
    // headline of the self-adjudication: how many >1.4x-vs-prior movers
    // were probed and how many reproduced fresh ("real") — the compact
    // line carries the verdict counts, the full artifact the per-query
    // data. On a suspect channel the reproductions count separately
    // (probe_real_suspect): qualified, never silently ambient. Counts
    // are DERIVED from the per-mover verdicts (r14 verdict item #2) so
    // the header and the probe_vs_prior block cannot disagree.
    // First-probe verdicts, then the second-probe confirmation rule
    // (r16 verdict #1): a real* verdict stands only if the delayed
    // second fresh JVM reproduced it (reprobeVerdict).
    val firstVerdicts = verdictsFor(vsPrior, probed, drift, driftBasis, suiteOnly, suspect)
    val verdicts: Map[String, String] = firstVerdicts.map { case (n, v) =>
      n -> reprobeVerdict(v, vsPrior(n)._1, probed2.get(n), drift)
    }
    val (nReal, nRealSuspect) = moverCounts(verdicts.values)
    val nOverMargin = nReal + nRealSuspect
    val driftJson =
      s"""{"resolved":${fmt3(drift)},"basis":"$driftBasis"""" +
        driftCal.map(v => s""","cal":${fmt3(v)}""").getOrElse("") +
        driftPar.map(v => s""","cal_par":${fmt3(v)}""").getOrElse("") +
        driftSuite.map(v => s""","suite":${fmt3(v)}""").getOrElse("") + "}"
    val guard =
      s""""load_start":$loadStart,"load_end":$loadEnd,"jvms_start":$jvmsStart,"jvms_end":$jvmsEnd,""" +
        foreignStart.map(v => s""""foreign_heavy_start":$v,""").getOrElse("") +
        foreignEnd.map(v => s""""foreign_heavy_end":$v,""").getOrElse("") +
        s""""contaminated":$contaminatedFinal,"mem_pressure":$memPressure,"shards":$shards,""" +
        s""""codecache_used_mb":${ccUsed / (1024 * 1024)},"codecache_worst_frac":${fmt3(ccWorst)},"codecache_pressure":$ccPressure""" +
        s""","cal_sec":${fmt3(calSec)},"cal_par_sec":${fmt3(calPar)},"cal_drift":${fmt3(drift)},"drift":$driftJson""" +
        // probe_suspect / spike_max emission is UNCONDITIONAL whenever the
        // inputs exist (ADVICE r15: the spike rule can fire with 1-2
        // matched controls, where channel stats are None — the verdicts
        // then read real-suspect-channel with no artifact field explaining
        // why; every field that feeds channelSuspect must be visible)
        channel.map { case (med, mx) =>
          s""","probe_channel_median":${fmt3(med)},"probe_channel_max":${fmt3(mx)}"""
        }.getOrElse("") +
        spikeMax.map(s => s""","probe_channel_spike_max":${fmt3(s)}""").getOrElse("") +
        (if (channel.isDefined || spikeMax.isDefined) s""","probe_suspect":$suspect""" else "") +
        (if (vsPrior.nonEmpty)
           s""","probe_regressed":${vsPrior.size},"probe_real":${if (probeFailed && nOverMargin == 0) "null" else nReal.toString},"probe_real_suspect":$nRealSuspect,"probe_unmeasured":$unmeasured,"probe_failed":$probeFailed"""
         else "") +
        (if (suiteUnknown.nonEmpty)
           s""","suite_unknown":${suiteUnknown.map(n => "\"" + esc(n) + "\"").mkString("[", ",", "]")}"""
         else "") +
        (if (probed.nonEmpty) s""","fresh_probe":$fp""" else "") +
        (if (probed2.nonEmpty) {
           val fp2 = probed2.toSeq.sortBy(_._1)
             .map { case (k, v) => "\"" + esc(k) + "\":" + fmt3(v) }.mkString("{", ",", "}")
           s""","fresh_probe2":$fp2"""
         } else "") +
        probeWindow.map { case (l0, l1, fh) =>
          s""","probe_window_load_start":${fmt3(l0)},"probe_window_load_end":${fmt3(l1)},"probe_window_foreign":$fh"""
        }.getOrElse("") +
        rerun.map(r => s""","rerun_worst":$r""").getOrElse("")
    // Self-adjudication block (round 12; round 13 stamps the basis into
    // the artifact so a consumer needs no SCALING.md essay): every query
    // that regressed >1.4x vs the prior committed artifact AND was
    // solo-probed carries all three numbers, the margin actually used,
    // and a mechanical verdict — "ambient" when the fresh probe lands
    // within 1.25x×drift of the prior value (the in-shard reading was
    // machine noise), "real" otherwise (reproduces on an idle fresh JVM:
    // investigate), "real-uncalibrated" when no drift basis existed (the
    // prior artifact predates calibration — treat as unadjudicated, not
    // as a confirmed regression). Unprobed movers (dead probe channel)
    // are stamped "unmeasured".
    // Verdict qualifications (r14): "real-suspect-channel" when the
    // headliner controls show the probe child itself was perturbed (the
    // mover is unmeasured-as-real, not cleared); "ambient-suite-only"
    // when the margin rests solely on the self-referential suite basis
    // (ADVICE r13: a broad regression could be masking itself);
    // "real-uncalibrated" when no drift basis existed at all.
    val adjudication = vsPrior.toSeq.sortBy(_._1).map { case (n, (prev, inshard)) =>
      val body = probed.get(n) match {
        case Some(fresh) =>
          val margin = probeMargin(prev, drift)
          val verdict = verdicts(n) // same map the header counts come from
          "{\"prev\":" + fmt3(prev) + ",\"inshard\":" + fmt3(inshard) +
            ",\"fresh\":" + fmt3(fresh) +
            probed2.get(n).map(f2 => ",\"fresh2\":" + fmt3(f2)).getOrElse("") +
            ",\"margin\":" + fmt3(margin) +
            ",\"drift_basis\":\"" + driftBasis + "\",\"verdict\":\"" + verdict + "\"}"
        case None =>
          "{\"prev\":" + fmt3(prev) + ",\"inshard\":" + fmt3(inshard) +
            ",\"verdict\":\"unmeasured\"}"
      }
      "\"" + esc(n) + "\":" + body
    }.mkString("{", ",", "}")
    // Sidecar legibility (r13 verdict item #5): x_corr_matrix is the one
    // documented-superlinear (S^2 panel-width) query and dominates the
    // BENCH_sf1 sidecar (54% of its total at factor 10) — a subtotal
    // without the panel family keeps the corpus-scaling queries legible
    // at a glance without moving the query or breaking the prior-chain.
    val panelQueries = Set("x_corr_matrix")
    val exclPanel =
      if (timed.keys.exists(panelQueries.contains))
        s""""value_excl_panel":${fmt3(timed.collect { case (n, v) if !panelQueries.contains(n) => v }.sum)},"""
      else ""
    // Memo build costs (r16 verdict #6): warmup rep 1 is where session
    // memos (indexes, trained artifacts, bloom builds) execute — its wall
    // time per query keeps build-cost regressions measurable even though
    // the timed reps reuse the memo. -1.0 = not measured (warmups=0).
    val bs = builds.map { case (k, v) => "\"" + esc(k) + "\":" + fmt3(v) }.mkString("{", ",", "}")
    val json =
      s"""{"metric":"total","value":$total,${exclPanel}"unit":"sec","reps":$reps,"warmups":$warmups,"cpus":$cpus,"n_ok":${timed.size},"n_failed":${failed.size},"failed":$fs,$guard,"probe_vs_prior":$adjudication,"queries":$qs,"build_first_rep":$bs,"session_age_at_measure":$as,"codecache_frac":$cc,"sf":"$sfDir"}"""
    Files.writeString(Paths.get(outPath), json)
    // Compact copy: BASELINE.md-comparable queries first, then
    // slowest-first, greedily packed under a hard char budget so the line
    // ALWAYS fits a tail capture. Printed to stdout AND written to the
    // declared sidecar BENCH_compact.json — the stdout line is wrapped in
    // sbt's `[info] ` prefix, which is why every driver-parsed artifact
    // through r07 recorded parsed:null; the sidecar is the fix.
    val headline = Seq(
      "q01_bars", "q49_revenue_nation", "sma_10", "ema_10", "rma_10",
      "wma_10", "trima_10", "macd_12_26_9", "strategy50_batch",
      "strategy_ohlcv_batch", "x_dedup_exact", "x_neardup_lsh",
      "x_ann_ivf_topk", "x_ann_pq_topk", "x_bm25_topk", "x_cosine_topk",
      "x_tfidf_cosine_pairs", "x_salted_hot")
    val ordered =
      headline.filter(timed.contains) ++
        timed.toSeq.sortBy(-_._2).map(_._1).filterNot(headline.contains)
    val qBudget = 1100
    val picked = scala.collection.mutable.LinkedHashMap[String, String]()
    var usedChars = 0
    ordered.foreach { n =>
      val entry = "\"" + esc(n) + "\":" + fmt3(timed(n))
      if (usedChars + entry.length + 1 <= qBudget) {
        picked(n) = entry; usedChars += entry.length + 1
      }
    }
    // failures: at most 3 (name + truncated error) in the compact copy
    val fsCompact = failed.take(3)
      .map { case (k, v) => "\"" + esc(k) + "\":\"" + esc(v.take(80)) + "\"" }
      .mkString("{", ",", "}")
    val compact =
      s"""{"metric":"total","value":${fmt3(total)},${exclPanel}"unit":"sec","reps":$reps,"warmups":$warmups,"cpus":$cpus,"n_ok":${timed.size},"n_failed":${failed.size},"failed":$fsCompact,$guard,"queries":${picked.values.mkString("{", ",", "}")},"queries_shown":${picked.size},"full_artifact":"$outPath","sf":"$sfDir"}"""
    // STDOUT gets a SLIM line (r16 verdict #2): the driver keeps only a
    // ~2 KB stdout tail, and the compact line grew to ~3.4 KB (guard +
    // fresh_probe + 50 queries) — nine consecutive rounds of parsed:null,
    // and in r16 it finally cost the round its PERF comparison. The slim
    // line carries totals, the guard verdicts, the probe counts and the
    // artifact pointers — every per-query number lives in BENCH_out.json
    // (full) and BENCH_compact.json (the prefix-free sidecar, unchanged).
    val probeCounts =
      if (vsPrior.nonEmpty)
        s""","probe_regressed":${vsPrior.size},"probe_real":${if (probeFailed && nOverMargin == 0) "null" else nReal.toString},"probe_real_suspect":$nRealSuspect,"probe_reprobed":${probed2.size},"probe_failed":$probeFailed"""
      else ""
    val slim =
      s"""{"metric":"total","value":${fmt3(total)},${exclPanel}"unit":"sec","reps":$reps,"warmups":$warmups,"cpus":$cpus,"n_ok":${timed.size},"n_failed":${failed.size},"contaminated":$contaminatedFinal,"mem_pressure":$memPressure,"shards":$shards,"load_end":${fmt3(loadEnd)},"foreign_heavy_end":${foreignEnd.getOrElse(-1)},"drift":$driftJson$probeCounts,"queries":{},"queries_shown":0,"full_artifact":"$outPath","compact_artifact":"BENCH_compact.json","sf":"$sfDir"}"""
    // hard tail-capture budget: a pathological outPath/sfDir must degrade
    // to a still-parseable minimal line, never to a clipped JSON
    println(
      if (slim.length <= 1900) slim
      else s"""{"metric":"total","value":${fmt3(total)},"unit":"sec","n_ok":${timed.size},"n_failed":${failed.size},"contaminated":$contaminatedFinal,"queries":{},"queries_shown":0,"full_artifact":"BENCH_out.json","sf":"sf"}""")
    if (writeCompact) {
      val compactPath = sys.env.getOrElse("SPARK_GRAFT_COMPACT_OUT", "BENCH_compact.json")
      try Files.writeString(Paths.get(compactPath), compact + "\n")
      catch { case _: Throwable => () }
    }
  }
}
