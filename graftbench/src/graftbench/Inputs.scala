package graftbench

import scala.util.Random

import graft.streaming.StreamingTa.BarTick

/** Seeded input generators: the same seed gives the same inputs. */
object Inputs {

  final case class Bar(
      slice: Int, series_id: String, ts: Long,
      open: Double, high: Double, low: Double, close: Double, volume: Double
  )

  /** Minute bars from 2024-01-01, in microseconds. */
  private val ts0 = 1704067200000000L
  private val minute = 60000000L

  /** One OHLCV series: a log random walk with flat stretches (open = high
    * = low = close and zero volume for 5–30 bars) and scattered
    * zero-volume bars. */
  def series(rnd: Random, n: Int): Array[(Double, Double, Double, Double, Double)] = {
    var px = 20.0 + 180.0 * rnd.nextDouble()
    var flat = 0
    Array.fill(n) {
      if (flat == 0 && rnd.nextDouble() < 0.02) flat = 5 + rnd.nextInt(26)
      if (flat > 0) {
        flat -= 1
        (px, px, px, px, 0.0)
      } else {
        val open = px
        px = px * math.exp(0.01 * rnd.nextGaussian())
        val hi = math.max(open, px) * (1 + 0.004 * math.abs(rnd.nextGaussian()))
        val lo = math.min(open, px) * (1 - 0.004 * math.abs(rnd.nextGaussian()))
        val vol = if (rnd.nextDouble() < 0.05) 0.0 else math.floor(1000 * math.exp(rnd.nextGaussian()))
        (open, hi, lo, px, vol)
      }
    }
  }

  /** Panel slice `s`: one series per entry of `lengths`. */
  def slice(seed: Long, s: Int, lengths: Seq[Int]): Seq[Bar] =
    for {
      (n, j) <- lengths.zipWithIndex
      rnd = new Random(seed * 1000003L + s * 101L + j)
      ((o, h, l, c, v), t) <- series(rnd, n).zipWithIndex
    } yield Bar(s, f"s$s%02d_$j%02d", ts0 + t * minute, o, h, l, c, v)

  /** Open-loop tick schedule: tick k belongs to series k mod `nSeries`
    * and is that series' (k / nSeries)-th bar. */
  final class Ticks(seed: Long, val nSeries: Int, maxTicks: Int) {
    private val perSeries = (maxTicks + nSeries - 1) / nSeries
    private val bars = Array.tabulate(nSeries)(j => series(new Random(seed * 7919L + j), perSeries))
    def id(j: Int): String = f"t$j%03d"
    def tick(k: Int): BarTick = {
      val j = k % nSeries
      val t = k / nSeries
      val (o, h, l, c, v) = bars(j)(t)
      BarTick(id(j), ts0 + t * minute, o, h, l, c, v)
    }
    /** Inverse of `tick`: the schedule index of (series, ts). */
    def index(seriesId: String, ts: Long): Int =
      ((ts - ts0) / minute).toInt * nSeries + seriesId.drop(1).toInt
  }

  final case class Doc(doc_id: Long, text: String)
  final case class Vec(vec_id: Long, embedding: Seq[Float])

  /** Document corpus: texts drawn from a Zipf-ish vocabulary and
    * embeddings clustered around `clusters` random unit centres. */
  final class Corpus(seed: Long, val n: Int, val dim: Int, clusters: Int) extends Serializable {
    val centres: Array[Array[Double]] = {
      val rnd = new Random(seed)
      Array.fill(clusters)(unit(Array.fill(dim)(rnd.nextGaussian())))
    }
    private val vocab = 5000

    def word(r: Random): String = {
      val u = r.nextDouble()
      "w" + (math.pow(vocab.toDouble, u) - 1).toInt
    }
    def text(r: Random): String = Seq.fill(24 + r.nextInt(16))(word(r)).mkString(" ")

    def unit(v: Array[Double]): Array[Double] = {
      val nrm = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / nrm)
    }
    /** A point near centre `c` (spread `sd`). */
    def near(r: Random, c: Array[Double], sd: Double): Seq[Float] =
      unit(c.map(_ + sd * r.nextGaussian())).map(_.toFloat).toSeq

    private def docRnd(id: Long) = new Random(seed * 31L + id)
    def doc(id: Long): Doc = Doc(id, text(docRnd(id)))
    def vec(id: Long): Vec = {
      val r = docRnd(id)
      text(r) // same stream as doc(): keep the draws aligned
      Vec(id, near(r, centres(r.nextInt(clusters)), 0.35))
    }

    /** A near-duplicate of corpus doc `of`: one word replaced (shingle
      * Jaccard about 0.8), embedding jittered around the original. */
    def nearDup(r: Random, id: Long, of: Long): (Doc, Vec) = {
      val words = doc(of).text.split(" ")
      words(r.nextInt(words.length)) = "x" + r.nextInt(1000000)
      val t = words.mkString(" ")
      val base = vec(of).embedding.map(_.toDouble).toArray
      (Doc(id, t), Vec(id, near(r, base, 0.05)))
    }

    def fresh(r: Random, id: Long): (Doc, Vec) =
      (Doc(id, text(r)), Vec(id, near(r, centres(r.nextInt(clusters)), 0.35)))
  }
}
