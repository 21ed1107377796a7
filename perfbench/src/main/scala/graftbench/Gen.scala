package graftbench

import java.util.SplittableRandom
import org.apache.spark.sql.SparkSession

/** Seeded input generators. Every workload's inputs are a pure function
  * of the seed and the sizes below; the engine only ever sees the files
  * written here. */
object Gen {

  // ---- curate: token-soup documents ----------------------------------------

  /** The fixture corpus's 31-word vocabulary. */
  private val Vocab = Array("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "fast",
    "scan", "query", "agg", "key", "row", "part", "batch", "a", "the",
    "slots")
  private val Langs = Array("en", "en", "en", "en", "zh", "es", "fr", "de")

  /** `documents.parquet` (`doc_id, text, lang, source, n_chars`) with
    * `base × copies` rows: `base` seeded token-soup documents of 10..100
    * tokens, each repeated `copies` times with its tokens re-shuffled
    * per copy (the corpus soak recipe: copies are bag-identical, so the
    * SimHash near-dup clusters are real, while MinHash shingles
    * decorrelate). Copy 0 is the original; one base doc in 50 is an
    * exact duplicate of its predecessor. */
  def documents(spark: SparkSession, dir: String, seed: Long,
                base: Int, copies: Int): Long = {
    import spark.implicits._
    val rnd = new SplittableRandom(seed)
    val originals = new Array[Array[String]](base)
    (0 until base).foreach { i =>
      originals(i) =
        if (i > 0 && i % 50 == 0) originals(i - 1)
        else Array.fill(10 + rnd.nextInt(91))(Vocab(rnd.nextInt(Vocab.length)))
    }
    val rows = (0 until base).flatMap { i =>
      val lang = Langs(rnd.nextInt(Langs.length))
      (0 until copies).map { c =>
        val toks = if (c == 0) originals(i) else shuffle(rnd, originals(i).clone())
        val text = toks.mkString(" ")
        (i.toLong * copies + c, text, lang, s"src${(i + c) % 10}", text.length.toLong)
      }
    }
    spark.sparkContext.parallelize(rows, 4).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    rows.length.toLong
  }

  // ---- ann: clustered vectors ----------------------------------------------

  final case class Vectors(corpus: Array[Array[Float]], delta: Array[Array[Float]],
                           queries: Array[Array[Float]])

  /** `n` corpus + `nDelta` held-out vectors of dimension `dim`, drawn
    * around `clusters` planted centres (unit-scale centres, within-
    * cluster noise 1.0 per coordinate, so neighbouring clusters touch),
    * and `nQueries` queries. Each query sits on the segment between two
    * centres, near its midpoint, and has 10 corpus vectors and 3 delta
    * vectors planted along that segment around it: its true neighbours
    * have a clear cosine margin over the clusters, straddle the boundary
    * between the two clusters, and change once the delta is appended. */
  def vectors(seed: Long, n: Int, nDelta: Int, nQueries: Int, dim: Int,
              clusters: Int): Vectors = {
    val rnd = new SplittableRandom(seed)
    val centres = Array.fill(clusters, dim)(gauss(rnd))
    def around(c: Array[Double], sd: Double): Array[Float] =
      Array.tabulate(dim)(j => (c(j) + sd * gauss(rnd)).toFloat)
    val corpus = Array.fill(n)(around(centres(rnd.nextInt(clusters)), 1.0))
    val delta = Array.fill(nDelta)(around(centres(rnd.nextInt(clusters)), 1.0))
    // each query: a point near the midpoint of two centres, and the unit
    // direction between them
    val queries = Array.fill(nQueries) {
      val a = centres(rnd.nextInt(clusters))
      val b = centres(rnd.nextInt(clusters))
      val t = 0.4 + 0.2 * rnd.nextDouble()
      val d = Array.tabulate(dim)(j => b(j) - a(j))
      val len = math.sqrt(d.map(x => x * x).sum).max(1e-9)
      (Array.tabulate(dim)(j => a(j) + t * d(j)), d.map(_ / len))
    }
    // planted neighbours spread up to 1.5 either way along that
    // direction, so they fall on both sides of the boundary between the
    // two clusters' cells
    def plant(into: Array[Array[Float]], perQuery: Int): Unit = {
      val slots = shuffle(rnd, into.indices.toArray)
      require(slots.length >= perQuery * nQueries, "too few vectors to plant into")
      queries.indices.foreach { qi =>
        val (q, dir) = queries(qi)
        (0 until perQuery).foreach { j =>
          val off = (if (j % 2 == 0) 1 else -1) * 1.5 * rnd.nextDouble()
          into(slots(qi * perQuery + j)) =
            around(Array.tabulate(dim)(c => q(c) + off * dir(c)), 0.05)
        }
      }
    }
    plant(corpus, 10)
    plant(delta, 3)
    Vectors(corpus, delta, queries.map(_._1.map(_.toFloat)))
  }

  /** Write `(vec_id, embedding)` rows, ids from `firstId`, as parquet. */
  def writeVectors(spark: SparkSession, path: String, vs: Array[Array[Float]],
                   firstId: Long): Unit = {
    import spark.implicits._
    spark.sparkContext.parallelize(vs.indices.map(i => (firstId + i, vs(i))), 4)
      .toDF("vec_id", "embedding").write.mode("overwrite").parquet(path)
  }

  /** Exact cosine top-`k` vec_ids (ties by lower id) of each query over
    * `corpus` with ids from 0 — the recall reference. */
  def exactTopK(corpus: Array[Array[Float]], queries: Array[Array[Float]],
                k: Int): Array[Array[Long]] = {
    val norms = corpus.map(v => math.sqrt(dot(v, v)))
    queries.map { q =>
      val qn = math.sqrt(dot(q, q))
      val heap = new java.util.PriorityQueue[(Double, Long)](k + 1,
        (a: (Double, Long), b: (Double, Long)) =>
          if (a._1 != b._1) java.lang.Double.compare(a._1, b._1)
          else java.lang.Long.compare(b._2, a._2))
      var i = 0
      while (i < corpus.length) {
        val c = dot(q, corpus(i)) / (qn * norms(i))
        if (heap.size < k) heap.add((c, i.toLong))
        else {
          val w = heap.peek()
          if (c > w._1 || (c == w._1 && i < w._2)) { heap.poll(); heap.add((c, i.toLong)) }
        }
        i += 1
      }
      val out = new Array[(Double, Long)](heap.size)
      heap.toArray(out)
      out.sortBy(p => (-p._1, p._2)).map(_._2)
    }
  }

  // ---- helpers ---------------------------------------------------------------

  private def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var j = 0
    while (j < a.length) { s += a(j).toDouble * b(j); j += 1 }
    s
  }

  private def gauss(rnd: SplittableRandom): Double = {
    // Box–Muller; SplittableRandom has no nextGaussian
    val u = 1.0 - rnd.nextDouble()
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * rnd.nextDouble())
  }

  private def shuffle[A](rnd: SplittableRandom, xs: Array[A]): Array[A] = {
    var i = xs.length - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = xs(i); xs(i) = xs(j); xs(j) = t
      i -= 1
    }
    xs
  }
}
