package graftbench

import graft.operators.Similarity
import java.nio.file.Paths
import org.apache.spark.sql.{DataFrame, SparkSession}

/** `ann`: the PQ index path from build to serving. Set-up generates a
  * clustered corpus, a held-out delta and a fixed query set, builds the
  * residual PQ index (`buildPqIndexFrom`), saves it (`savePqIndex` +
  * `saveRerankRaw`), appends the delta (`appendPqDelta`), loads the
  * appended artifact (`loadPqIndexWithRaw`) and serves each query
  * batch `warmPasses` times from it, as warm-up. The op is one
  * `pqQuery` batch (nprobe 4, exact re-rank of a 50-candidate
  * shortlist) on the appended index, closed loop, one client.
  *
  * Checks: every query gets `k` distinct ids; a repeated batch returns
  * identical rows. Recall@10 against the exact cosine top-10 over
  * corpus and delta (built at set-up) is reported, and a batch whose
  * recall falls below `minRecall` fails. */
final class AnnWorkload(spark: SparkSession, rec: Recorder, seed: Long,
                        work: String) extends Workload(rec) {
  import spark.implicits._

  private val n = 20000
  private val nDelta = 1000
  private val dim = 64
  private val clusters = 64
  private val nlist = 64
  private val batchSize = 8
  private val nBatches = 4
  private val k = 10
  private val nprobe = 4
  private val shortlist = 50
  private val minRecall = 0.6
  // the query path's JIT warm-up is long, and its length varies
  private val warmPasses = 3

  private val indexPath = Paths.get(work, "index").toString
  private var vectors: Gen.Vectors = _
  private var exactBase: Array[Array[Long]] = _ // [query] -> ids, corpus only
  private var exact: Array[Array[Long]] = _ // [query] -> ids, corpus + delta
  private var index: Similarity.PqIndex = _
  private val served = scala.collection.mutable.Map.empty[Int, Seq[(Long, Long)]]
  private var hits = 0L
  private var possible = 0L
  private var buildS, saveS, layoutS, loadS, appendS = 0.0
  private var straddling = 0.0
  private var minBatchRecall = 1.0

  private def corpusPath = Paths.get(work, "corpus").toString
  private def deltaPath = Paths.get(work, "delta").toString
  private def corpus: DataFrame = spark.read.parquet(corpusPath)

  def setUp(): Seq[(String, Any)] = {
    val (_, genS) = timed {
      vectors = Gen.vectors(seed, n, nDelta, batchSize * nBatches, dim, clusters)
      Gen.writeVectors(spark, corpusPath, vectors.corpus, 0L)
      Gen.writeVectors(spark, deltaPath, vectors.delta, n.toLong)
    }
    val (_, exactS) = timed {
      exactBase = Gen.exactTopK(vectors.corpus, vectors.queries, k)
      exact = Gen.exactTopK(vectors.corpus ++ vectors.delta, vectors.queries, k)
    }
    val (built, b) = timed(span("operators.Similarity.buildPqIndexFrom")(
      Similarity.buildPqIndexFrom(corpus.select("vec_id", "embedding"), nlist = nlist)))
    buildS = b
    span("operators.Similarity.save") {
      saveS = timed(Similarity.savePqIndex(built, indexPath))._2
      layoutS = timed(Similarity.saveRerankRaw(built, indexPath))._2
    }
    straddling = straddlingShare(built)
    built.release()
    val (appended, a) = timed(span("operators.Similarity.appendPqDelta")(
      Similarity.appendPqDelta(spark, indexPath, spark.read.parquet(deltaPath),
        corpus.unionByName(spark.read.parquet(deltaPath)), "delta1")))
    appendS = a
    appended.release()
    // serve from the artifact itself: base + appended codes, and the
    // cell-partitioned re-rank layout with its appended batch
    val (loaded, l) = timed(span("operators.Similarity.loadPqIndexWithRaw")(
      Similarity.loadPqIndexWithRaw(spark, indexPath)))
    index = loaded
    loadS = l
    // warm-up: each batch `warmPasses` times on the appended index,
    // which every op serves from, so every measured op is also a repeat
    // check
    val (warm, warmS) = timed(untraced((-nBatches * warmPasses until 0).map(op)))
    warm.collectFirst { case Left(why) => sys.error(s"warm-up batch failed: $why") }
    hits = 0; possible = 0; minBatchRecall = 1.0
    Seq("generate_s" -> genS, "exact_topk_s" -> exactS, "build_s" -> buildS,
      "save_s" -> saveS, "layout_s" -> layoutS, "load_s" -> loadS,
      "append_s" -> appendS, "warmup_s" -> warmS)
  }

  def op(i: Int): Either[String, Unit] = {
    val b = math.floorMod(i, nBatches)
    val qids = (b * batchSize until (b + 1) * batchSize).map(_.toLong)
    val queries = qids.map(q => (q, vectors.queries(q.toInt).toSeq)).toDF("qid", "qe")
    val rows = spanCollect("operators.Similarity.pqQuery") {
      Similarity.pqQuery(index, queries, k = k, nprobe = nprobe,
        rerankShortlist = shortlist).select("qid", "vec_id").as[(Long, Long)].collect()
    }.toSeq
    val byQuery = rows.groupBy(_._1)
    val bad = qids.find(q => byQuery.get(q).forall(r => r.map(_._2).distinct.length != k))
    if (bad.isDefined) return Left(s"query ${bad.get} did not get $k distinct ids")
    val batchHits = qids.map(q =>
      exact(q.toInt).count(id => byQuery(q).exists(_._2 == id))).sum
    val recall = batchHits.toDouble / (k * qids.length)
    hits += batchHits; possible += k * qids.length
    minBatchRecall = math.min(minBatchRecall, recall)
    served.get(b) match {
      case Some(prev) if prev != rows => Left(s"batch $b served different rows on repeat")
      case _ if recall < minRecall => Left(f"batch $b recall@10 $recall%.3f < $minRecall")
      case _ => served(b) = rows; Right(())
    }
  }

  /** Share of queries whose exact top-10 spans more than one coarse
    * cell of the built index. */
  private def straddlingShare(built: Similarity.PqIndex): Double = {
    val ids = exactBase.flatten.distinct
    val cellOf = built.codes.filter($"vec_id".isin(ids: _*))
      .select("vec_id", "cell").as[(Long, Int)].collect().toMap
    exactBase.count(q => q.map(cellOf).distinct.length > 1).toDouble / exactBase.length
  }

  override def info: Seq[(String, Any)] = Seq(
    "queries_straddling_cells" -> straddling, "min_batch_recall" -> minBatchRecall,
    "recall_at_10" -> (if (possible > 0) hits.toDouble / possible else Double.NaN),
    "build_s" -> buildS, "save_s" -> saveS, "layout_s" -> layoutS,
    "load_s" -> loadS, "append_s" -> appendS, "vectors" -> n,
    "batch_queries" -> batchSize)
}
