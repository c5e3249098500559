package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.streaming.StreamingTa
import graft.ta.{registry, IndicatorSpec}

/** Round-10 ADVICE item: streaming stages that re-stated every registry
  * default (lengths, fast/slow, factors) could drift from batch silently.
  * Every stage now steps the kind's own lowering, so the defaults are one
  * table; this spec keeps the check: EVERY streamable kind runs
  * once with an EMPTY param map on both sides (the in-process equivalent of
  * the kernelBatchStream fold vs the registry builder) and must agree
  * value-for-value. A drifted default now fails here by name. */
class StreamingDefaultsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("every streamable kind at EMPTY params equals batch at empty params") {
    import spark.implicits._
    val bars = Graft
      .bars(spark, TestSpark.sfDir)
      .select(
        col("series_id").cast("string").as("series_id"),
        unix_date(col("ts")).cast("long").as("ts"),
        col("open"), col("high"), col("low"), col("close"), col("volume")
      )
    val ticks = bars.as[StreamingTa.BarTick].collect()

    def norm(v: Any): Any = v match {
      case null => null
      case d: Double => math.rint(d * 1e6) / 1e6
      case other => other
    }

    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    StreamingTa.streamableKinds.toSeq.sorted.foreach { kind =>
      // fixed-ref cusum is the one kind whose streamable mode REQUIRES
      // params (trained mu/sd ride as literals) — same carve-out as
      // streamableKinds itself
      val spec =
        if (kind == "cusum") IndicatorSpec(kind, Map("mu" -> 100.0, "sd" -> 10.0))
        else IndicatorSpec(kind)
      val sk = StreamingTa.windowStream(spec)
        .getOrElse(fail(s"$kind in streamableKinds but no dispatcher"))

      // in-process replica of the kernelBatchStream per-series fold
      val streamed = scala.collection.mutable.Map[(String, Long), Map[String, Any]]()
      ticks.groupBy(_.series_id).foreach { case (_, ts0) =>
        val stg = sk.stage()
        ts0.sortBy(_.ts).foreach { t =>
          val vals = stg.update(t)
          streamed((t.series_id, t.ts)) = sk.outs.map(_.name).map(n => n).zip(vals.toSeq).toMap
        }
      }

      // batch at the SAME empty param map — the registry builder's defaults
      val batch =
        try registry(bars, spec).collect()
        catch {
          case e: Throwable =>
            failures += s"$kind: batch registry failed at empty params: ${e.getMessage}"
            Array.empty[org.apache.spark.sql.Row]
        }
      batch.foreach { br =>
        val key = (br.getAs[String]("series_id"), br.getAs[Long]("ts"))
        val sv = streamed.getOrElse(key, Map.empty)
        sk.outs.foreach { f =>
          if (!br.schema.fieldNames.contains(f.name))
            failures += s"$kind/${f.name}: column absent in batch output (default name drift)"
          else if (norm(sv.getOrElse(f.name, "MISSING")) != norm(br.getAs[Any](f.name)))
            failures += s"$kind/${f.name}@ts=${key._2}: stream=${sv.get(f.name)} batch=${br.getAs[Any](f.name)}"
        }
      }
    }
    assert(failures.isEmpty, s"${failures.size} default-parity failures:\n" + failures.take(30).mkString("\n"))
  }
}
