package graftbench

/** Bench JVM entry: runs one workload and writes its raw samples to
  * `--out` for run.py. Arguments: --workload --seed --seconds --trace
  * --cores --work --out [--conf k=v,...] [--inject-fault w].
  * A comma-separated workload list runs each in turn in one session; the
  * build uses that to load every class the workloads need before it
  * dumps the class-data archive. */
object Main {
  def main(argv: Array[String]): Unit =
    try run(Args.parse(argv))
    catch {
      case e: Throwable =>
        e.printStackTrace()
        // Spark's non-daemon threads would keep a failed JVM alive
        System.exit(1)
    }

  private def run(a: Args): Unit = {
    val extra = a.opt("conf").toSeq.flatMap(_.split(",")).filter(_.nonEmpty).map { kv =>
      val Array(k, v) = kv.split("=", 2); k -> v
    }.toMap
    val spark = Session.build(a.int("cores"), a.str("work"), extra)
    a.str("workload").split(",").foreach { w =>
      val r = new Run(a, spark)
      r.out("workload") = w
      r.out("seed") = r.seed
      r.out("traced") = r.traced
      r.out("stamp") = Host.stamp(spark, r.cores) ++ Map("conf" -> extra)
      r.out("jvm_start_s") = Host.jvmStartS
      w match {
        case "ta_batch" => TaBatch.run(r)
        case "ta_stream" => TaStream.run(r)
        case "doc_pipeline" => DocPipeline.run(r)
        case _ => throw new IllegalArgumentException(s"unknown workload $w")
      }
      r.write(a.str("out"))
    }
    // local mode: exiting the JVM ends the session's threads with it
    System.exit(0)
  }
}
