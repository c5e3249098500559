package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths, StandardCopyOption}

/** Disjoint-universe testdata upscaler for the second-tier scale gate
  * (round-12 verdict item #6: the driver ships no sf1, so the gate runs
  * on an UPSCALED copy of sf0.1 built here). Each replica r in 0..F-1
  * remaps every surrogate key by +r·(max+1), so the output is F
  * independent, referentially-consistent universes side by side — the
  * same shape a higher TPC-H SF has (dimensions region/nation stay
  * shared, like TPC-H's fixed 25 nations). Content is de-duplicated
  * across replicas so corpora SCALE instead of degenerating:
  *  - documents: text salted with a per-replica token (planted
  *    near-dups survive within a replica; replicas don't collide),
  *    n_chars recomputed to stay self-consistent;
  *  - embeddings: deterministic per-replica, per-dimension perturbation
  *    (replicated identical vectors would make every similarity tie).
  * PARITY IS BY CONSTRUCTION: the gate compares engine vs DuckDB on the
  * SAME upscaled files, so any content choice here is correctness-safe;
  * the choices above only keep timings meaningful.
  *
  * Tables are written as SINGLE parquet files named `<table>.parquet`
  * (the DuckDB side of the gate reads literal file paths, not dirs).
  *
  * Usage: graft.ScaleUp <inDir> <outDir> <factor> */
object ScaleUp {

  /** Default: one literal `<table>.parquet` FILE (DuckDB-side tools read
    * literal paths). The coalesce(1) single-task write is the tool's
    * scale ceiling (r12 verdict note) — set
    * SPARK_GRAFT_SCALEUP_PARTITIONED=1 to write `<table>.parquet` as a
    * parquet DIRECTORY instead (full write parallelism; Spark reads it
    * transparently, and tools/check.py + tools/replica_parity.py glob
    * directories since round 13), which is the route for sf10+ builds. */
  private def writeOne(df: DataFrame, outDir: String, table: String, partitioned: Boolean): Unit =
    if (partitioned) {
      df.write.mode("overwrite").parquet(s"$outDir/$table.parquet")
    } else {
      val tmp = s"$outDir/__tmp_$table"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(
        part.toPath, Paths.get(s"$outDir/$table.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      new java.io.File(tmp).listFiles().foreach(_.delete())
      new java.io.File(tmp).delete()
    }

  def main(args: Array[String]): Unit = {
    val Array(inDir, outDir, fStr) = args.take(3)
    val factor = fStr.toInt
    val cpus = Graft.cpus
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    run(spark, inDir, outDir, factor,
      partitioned = sys.env.get("SPARK_GRAFT_SCALEUP_PARTITIONED").contains("1"))
    println(s"""{"scaled":"$outDir","factor":$factor}""")
    spark.stop()
  }

  /** The upscaler proper, callable against an existing session
    * (ScaleUpSpec) — `main` wraps it with session lifecycle. */
  def run(spark: SparkSession, inDir: String, outDir: String, factor: Int,
          partitioned: Boolean = false): Unit = {
    require(factor >= 1, s"factor must be >= 1, got $factor")
    new java.io.File(outDir).mkdirs()

    def rd(t: String) = spark.read.parquet(s"$inDir/$t.parquet")
    /** stride for a key column: +1 so remapped ranges never overlap.
      * Fails with a CLEAR message on an empty table or a non-numeric key
      * (ADVICE r12: the bare getLong NPE'd on empty input and CCE'd on a
      * type drift with an opaque error). */
    def stride(t: String, c: String): Long = {
      val row = rd(t).agg(max(col(c))).head()
      require(!row.isNullAt(0), s"ScaleUp: $t.$c has no non-null values (empty table?) — cannot compute key stride")
      row.get(0) match {
        case n: Number => n.longValue() + 1L
        case other => throw new IllegalArgumentException(
          s"ScaleUp: $t.$c must be a numeric surrogate key, got ${other.getClass.getSimpleName}")
      }
    }
    /** union of `factor` replicas with the given per-replica remaps */
    def up(t: String)(remap: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(r => remap(rd(t), r)).reduce(_ unionAll _)

    // shared dimensions: copied once, like TPC-H's fixed nation/region
    writeOne(rd("region"), outDir, "region", partitioned)
    writeOne(rd("nation"), outDir, "nation", partitioned)

    val kCust = stride("customer", "c_custkey")
    val kOrd = stride("orders", "o_orderkey")
    val kPart = stride("part", "p_partkey")
    val kSupp = stride("supplier", "s_suppkey")
    val kEvt = stride("events", "event_id")
    val kUser = stride("events", "user_id")
    val kDoc = stride("documents", "doc_id")
    val kVec = stride("embeddings", "vec_id")

    writeOne(up("customer")((d, r) =>
      d.withColumn("c_custkey", col("c_custkey") + lit(r * kCust))), outDir, "customer", partitioned)
    writeOne(up("supplier")((d, r) =>
      d.withColumn("s_suppkey", col("s_suppkey") + lit(r * kSupp))), outDir, "supplier", partitioned)
    writeOne(up("part")((d, r) =>
      d.withColumn("p_partkey", col("p_partkey") + lit(r * kPart))), outDir, "part", partitioned)
    writeOne(up("orders")((d, r) =>
      d.withColumn("o_orderkey", col("o_orderkey") + lit(r * kOrd))
        .withColumn("o_custkey", col("o_custkey") + lit(r * kCust))), outDir, "orders", partitioned)
    writeOne(up("lineitem")((d, r) =>
      d.withColumn("l_orderkey", col("l_orderkey") + lit(r * kOrd))
        .withColumn("l_partkey", col("l_partkey") + lit(r * kPart))
        .withColumn("l_suppkey", col("l_suppkey") + lit(r * kSupp))), outDir, "lineitem", partitioned)
    // events: same time range (the generator's dates are the universe's
    // calendar), disjoint event/user key spaces per replica
    writeOne(up("events")((d, r) =>
      d.withColumn("event_id", col("event_id") + lit(r * kEvt))
        .withColumn("user_id", col("user_id") + lit(r * kUser))), outDir, "events", partitioned)
    // n_chars recomputed ONLY for salted replicas (their text changed);
    // replica 0 keeps the generator's original column verbatim — a
    // recompute there would silently redefine the measure if the
    // generator's differs from length(text) (ADVICE r12), and replica-0
    // row identity is what the round-13 replica-parity gate hashes.
    writeOne(up("documents")((d, r) =>
      if (r == 0) d
      else d.withColumn("doc_id", col("doc_id") + lit(r * kDoc))
        .withColumn("text", concat(col("text"), lit(s" zqrep$r")))
        .withColumn("n_chars", length(col("text")))), outDir, "documents", partitioned)
    writeOne(up("embeddings")((d, r) =>
      d.withColumn("vec_id", col("vec_id") + lit(r * kVec))
        .withColumn("embedding",
          if (r == 0) col("embedding")
          else transform(col("embedding"), (x, i) =>
            (x + lit(r.toDouble * 1e-4) * sin(i.cast("double") + col("vec_id").cast("double")))
              .cast("float")))), outDir, "embeddings", partitioned)
  }
}
