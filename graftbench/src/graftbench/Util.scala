package graftbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** `--key value` command line of the bench JVM. */
final case class Args(m: Map[String, String]) {
  def str(k: String): String = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
  def int(k: String): Int = str(k).toInt
  def long(k: String): Long = str(k).toLong
  def opt(k: String): Option[String] = m.get(k)
  /** Test-only fault switch: the named check's input is corrupted. */
  def fault: String = m.getOrElse("inject-fault", "")
}

object Args {
  def parse(a: Array[String]): Args =
    Args(a.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument ${other.mkString(" ")}")
    }.toMap)
}

/** Minimal JSON writer for the result file (maps, sequences, numbers,
  * strings, booleans); non-finite doubles become null. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b.append('"').toString
  }
}

/** Host and JVM facts stamped into every run's output. */
object Host {
  def nowS: Double = System.currentTimeMillis() / 1000.0
  def jvmStartS: Double = ManagementFactory.getRuntimeMXBean.getStartTime / 1000.0

  /** Seconds the JIT compilers have spent so far, over all their threads. */
  def jitSeconds: Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1000.0

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1000.0

  /** Heap in use after full collections (the retained set). Events still
    * queued for Spark's listeners hold plans and metrics, and Spark's
    * ContextCleaner frees broadcast and shuffle state on its own thread
    * only after a collection has found their handles unreachable; so the
    * bus is drained first, and collections repeat until the figure holds
    * still within 1 MB (at most eight). */
  def heapRetainedMb(spark: SparkSession): Double = {
    org.apache.spark.BenchBus.waitUntilEmpty(spark.sparkContext)
    def collected(): Double = {
      System.gc()
      Thread.sleep(100)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var last = collected()
    var mb = collected()
    var rounds = 2
    while (math.abs(mb - last) >= 1.0 && rounds < 8) { last = mb; mb = collected(); rounds += 1 }
    mb
  }

  def stamp(spark: SparkSession, cores: Int): Map[String, Any] = Map(
    "cores" -> cores,
    "nproc" -> Runtime.getRuntime.availableProcessors(),
    "loadavg" -> ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage,
    "jvm_flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filterNot(_.startsWith("--add-opens")).toSeq,
    "java" -> System.getProperty("java.version"),
    "spark" -> spark.version,
    "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions")
  )
}

object Session {

  /** The bench's own session: `local[cores]`, shuffle partitions matched
    * to the cores, and the settings `graft.Graft.session` uses apart
    * from its 32-core default. Scratch files stay under `work`. */
  def build(cores: Int, work: String, extra: Map[String, String]): SparkSession = {
    val b = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
    val s = extra.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.Graft.init(s)
    s
  }
}

/** Closed-loop timing helpers shared by the batch-style workloads. */
object Loop {
  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** `n` untimed warm-up operations; returns each duration. The count is
    * fixed rather than stopped by a settle test: runs that stopped at
    * different counts left the JIT in different states, and that was the
    * largest run-to-run difference in operation time. */
  def warmUp(n: Int)(op: Int => Unit): Seq[Double] = (0 until n).map(i => timed(op(i))._2)
}
