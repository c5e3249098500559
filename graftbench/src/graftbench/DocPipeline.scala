package graftbench

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.functions._

import graft.extensions.{Dedup, Similarity}

/** `doc_pipeline`: closed loop, one client, alternating ingest and
  * query operations on a seeded corpus with clustered embeddings.
  * Ingest deduplicates a new batch (half of it planted near-duplicates
  * of corpus documents) against the corpus with MinHash-LSH and appends
  * its embeddings to the corpus's IVF index; query runs the ANN front
  * door against the corpus. Queries read the corpus as generated: an
  * index that grew with every ingest would make query work depend on
  * throughput, and `topk` would retrain on every new corpus. */
object DocPipeline {
  /** Corpus documents. Above the `spark.graft.ann.bruteMax` the benchmark
    * sets (2048), so `topk` takes the IVF route; the default threshold
    * (100 000) would take minutes of index build per run. */
  val corpusDocs = 4096
  val dim = 32
  val clusters = 64
  val batchDocs = 64
  val queriesPerOp = 16
  val k = 10
  val recallTarget = 0.9
  val jaccard = 0.5
  /** Floors the run must reach to count as correct. The ANN floor only
    * catches grossly wrong answers: the seed code's fixed nprobe fraction
    * does not reach `recallTarget` on this corpus, and recall is reported
    * as a metric rather than gated. Every planted pair has shingle
    * Jaccard near 0.8, far above `jaccard`, so LSH must find them. */
  val annRecallFloor = 0.5
  val dedupRecallFloor = 0.95
  val warmRounds = 6
  /** Query operations whose results are scored against `topkBrute`. */
  val scoredQueryOps = 8

  def run(r: Run): Unit = {
    val spark = r.spark
    import spark.implicits._
    val n = corpusDocs
    val corpus = new Inputs.Corpus(r.seed, n, dim, clusters)
    val (_, genS) = Loop.timed {
      spark.sparkContext
        .parallelize(0L until n.toLong, 2 * r.cores)
        .map(id => (id, corpus.doc(id).text, corpus.vec(id).embedding))
        .toDF("doc_id", "text", "embedding")
        .write.mode("overwrite").parquet(s"${r.work}/corpus")
    }
    val docs = spark.read.parquet(s"${r.work}/corpus").select("doc_id", "text")
    val vecs = spark.read.parquet(s"${r.work}/corpus").select(col("doc_id").as("vec_id"), col("embedding"))
    // the cell count topk's IVF route derives from the corpus size, so
    // that ivfAppend shares its memoized centroids and index
    val nCells = math.max(16L, math.min(4096L, math.round(math.sqrt(n.toDouble)))).toInt

    def batch(j: Int): (Seq[Inputs.Doc], Seq[Inputs.Vec], Seq[(Long, Long)]) = {
      val rnd = new Random(r.seed * 131L + j)
      val base = 1000000000L + j.toLong * batchDocs
      val rows = (0 until batchDocs).map { i =>
        val id = base + i
        if (i % 2 == 0) { val of = rnd.nextInt(n).toLong; (corpus.nearDup(rnd, id, of), Some(of -> id)) }
        else (corpus.fresh(rnd, id), None)
      }
      (rows.map(_._1._1), rows.map(_._1._2), rows.flatMap(_._2))
    }
    def queries(j: Int): Seq[Inputs.Vec] = {
      val rnd = new Random(r.seed * 137L + j)
      (0 until queriesPerOp).map(i =>
        Inputs.Vec(2000000000L + j.toLong * queriesPerOp + i, corpus.near(rnd, corpus.centres(rnd.nextInt(clusters)), 0.35)))
    }

    val found = ArrayBuffer.empty[(Long, Long)]
    val planted = ArrayBuffer.empty[(Long, Long)]
    val answers = ArrayBuffer.empty[(Seq[Inputs.Vec], Array[(Long, Int, Long, Double)])]
    val choices = ArrayBuffer.empty[String]
    var ingested, queried = 0L

    /** Ingest batch `j`: its near-duplicate pairs against the corpus, then
      * the index `ivfAppend` returns (corpus and batch) to the noop sink. */
    def ingest(j: Int, record: Boolean): Map[String, Double] = {
      val (bd, bv, pl) = batch(j)
      val (pairs, lshS) = Loop.timed(Dedup.minhashLshPairsAgainst(docs, bd.toDF(), jaccard).collect())
      val (_, appendS) = Loop.timed(
        Similarity.ivfAppend(vecs, bv.toDF(), nCells).write.format("noop").mode("overwrite").save())
      if (record) {
        found ++= pairs.map(p => (p.getLong(0), p.getLong(1)))
        planted ++= pl
        ingested += bd.size
      }
      Map("lsh_s" -> lshS, "append_s" -> appendS, "pairs" -> pairs.length.toDouble)
    }
    /** Query batch `j`: `topk` of its vectors against the corpus, which
      * must take the IVF route. With a tracer, the spans of the call come
      * back too. */
    def query(j: Int, record: Boolean, tr: Option[Tracer]): Map[String, Double] = {
      val qs = queries(j)
      val ((res, topkS), spans) = Tracer.around(tr, r.cores)(Loop.timed(
        Similarity.topk(vecs, qs.toDF(), k, recallTarget).select("q_id", "rk", "nbr_id", "sim").collect()))
      val choice = spark.conf.get(Similarity.ChoiceKey)
      if (record) choices += choice
      if (choice != "ivf") throw new IllegalStateException(s"topk took the '$choice' route, not ivf")
      if (record) {
        if (answers.size < scoredQueryOps)
          answers += ((qs, res.map(x => (x.getLong(0), x.getInt(1), x.getLong(2), x.getDouble(3)))))
        queried += qs.size
      }
      spans + ("topk_s" -> topkS)
    }

    // first query builds the index (corpus stats, k-means, assignment)
    val (_, buildS) = Loop.timed(query(-1, record = false, None))
    // warm-up: six ingest+query rounds; round times kept falling through
    // a timed phase that followed four, and level off after about five
    val warm = Loop.warmUp(r.floor(warmRounds)) { j => ingest(j, record = false); query(j, record = false, None) }
    // after a fixed amount of work, like ta_batch
    r.out("heap_retained_mb") = Host.heapRetainedMb(spark)
    r.markTimedStart(warm)

    val gc0 = Host.gcSeconds
    val traced = ArrayBuffer.empty[Map[String, Double]]
    val first = r.floor(warmRounds)
    val wall = r.timedPhase { (i, tr) =>
      val j = first + i
      val suffix = if (tr.isEmpty) "" else "_traced"
      val (_, in) = r.op("ingest" + suffix)(ingest(j, record = true))
      val (_, q) = r.op("query" + suffix)(query(j, record = true, tr))
      if (tr.nonEmpty && in.nonEmpty && q.nonEmpty) {
        // probe, after the round: every LSH candidate passes a zero
        // threshold, and Dedup exposes no candidate count of its own
        val (bd, _, pl) = batch(j)
        val cand = Dedup.minhashLshPairsAgainst(docs, bd.toDF(), 0.0).count().toDouble
        traced += in ++ q ++ Map("candidates" -> cand, "precision" -> (if (cand > 0) pl.size / cand else 0.0))
      }
    }
    r.out("timed_wall_s") = wall
    r.out("docs") = ingested + queried

    if (r.traced) {
      val med = Tracer.medians(traced.toSeq)
      def rounds(suffix: String) = {
        def ok(kind: String) = r.ops.filter(o => o("kind") == kind + suffix && o("ok") == true).map(_("s").asInstanceOf[Double])
        ok("ingest").zip(ok("query")).map { case (a, b) => a + b }.toSeq
      }
      r.layers ++= Seq(
        "sources.gen_s" -> genS,
        "similarity.index_build_s" -> buildS,
        "similarity.topk_s" -> med("topk_s"),
        "similarity.append_s" -> med("append_s"),
        "similarity.tasks" -> med("tasks"),
        "similarity.core_util" -> med("core_util"),
        "similarity.ivf_frac" -> (if (choices.isEmpty) 0.0 else choices.count(_ == "ivf").toDouble / choices.size),
        "dedup.lsh_s" -> med("lsh_s"),
        "dedup.candidates" -> med("candidates"),
        "dedup.pairs" -> med("pairs"),
        "dedup.precision" -> med("precision"),
        "jvm.gc_s" -> (Host.gcSeconds - gc0),
        "trace.overhead_pct" -> r.overheadPct(rounds("_traced"), rounds(""))
      )
      r.layers ++= Tracer.cacheStats(spark)
    }

    // correctness: the index ivfAppend returns holds the corpus once and
    // every batch vector once, in the cell of its nearest centroid
    val (_, bv, _) = batch(-1)
    val appended = Similarity.ivfAppend(vecs, bv.toDF(), nCells).select("vec_id", "embedding", "cell", "is_new").collect()
    val cents = Similarity.kmeansCentroids(vecs, nCells).collect()
      .map(x => x.getLong(0) -> x.getSeq[Double](1).toArray)
    def dotTo(e: Seq[Float], c: Array[Double]) = e.indices.map(i => e(i) * c(i)).sum
    val added = appended.filter(_.getBoolean(3))
    val misplaced = added.count { x =>
      val e = x.getSeq[Float](1)
      val best = cents.map(c => dotTo(e, c._2)).max
      cents.find(_._1 == x.getLong(2)).forall(c => dotTo(e, c._2) < best - 1e-6)
    }
    val baseIds = appended.filterNot(_.getBoolean(3)).map(_.getLong(0))
    r.check("ivf_append",
      baseIds.length == n && baseIds.distinct.length == n && added.map(_.getLong(0)).sorted.toSeq == bv.map(_.vec_id).sorted &&
        misplaced == 0,
      s"base=${baseIds.length} of $n added=${added.length} of ${bv.size} misplaced=$misplaced")

    // correctness: every query got k neighbours in rank order whose sims
    // are the exact dot products; ANN recall against the exact scan on the
    // same queries; the share of planted near-duplicate pairs LSH found
    val scored =
      if (r.fault("doc_pipeline")) answers.map { case (q, a) => (q, a.map(x => (x._1, x._2, -1L, x._4))) }
      else answers
    val allQ = scored.flatMap(_._1).toSeq
    val emb = vecs.collect().map(x => x.getLong(0) -> x.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val qEmb = allQ.map(q => q.vec_id -> q.embedding.map(_.toDouble).toArray).toMap
    var invalid = 0
    scored.flatMap(_._2).groupBy(_._1).foreach { case (q, rows) =>
      val byRank = rows.sortBy(_._2)
      val sims = byRank.map(_._4)
      val exactSims = byRank.map(x => emb.get(x._3).map(e => e.zip(qEmb(q)).map { case (a, b) => a * b }.sum))
      val ok = byRank.map(_._2).toSeq == (1 to k) &&
        sims.zip(sims.drop(1)).forall { case (a, b) => a >= b } &&
        exactSims.zip(sims).forall { case (e, s0) => e.exists(x => math.abs(x - s0) <= 1e-9) }
      if (!ok) invalid += 1
    }
    val answered = scored.flatMap(_._2).map(_._1).distinct.size
    r.check("ann_answers", invalid == 0 && answered == allQ.size,
      s"queries=${allQ.size} answered=$answered invalid=$invalid")
    val exact = Similarity.topkBrute(vecs, allQ.toDF(), k).select("q_id", "nbr_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val approx = scored.flatMap(_._2).groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    val recalls = allQ.map(q => {
      val e = exact.getOrElse(q.vec_id, Set.empty[Long])
      if (e.isEmpty) 1.0 else (approx.getOrElse(q.vec_id, Set.empty[Long]) & e).size.toDouble / e.size
    })
    val annRecall = if (recalls.isEmpty) 0.0 else recalls.sum / recalls.size
    val foundSet = found.toSet
    val dedupRecall = if (planted.isEmpty) 0.0 else planted.count(foundSet).toDouble / planted.size
    r.out("ann_recall_at_10") = annRecall
    r.out("dedup_recall") = dedupRecall
    r.check("ann_recall", annRecall >= annRecallFloor,
      f"recall@$k=$annRecall%.4f over ${allQ.size} queries (target $recallTarget, floor $annRecallFloor)")
    r.check("dedup_recall", dedupRecall >= dedupRecallFloor,
      f"found ${planted.count(foundSet)} of ${planted.size} planted pairs (floor $dedupRecallFloor)")
  }
}
