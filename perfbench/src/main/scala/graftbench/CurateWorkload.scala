package graftbench

import graft.core.Tables
import graft.operators.TextQueries
import java.nio.file.Paths
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** `curate`: the x30 curation capstone (`TextQueries.curationPipeline`)
  * and x23 dedup survivorship (`TextQueries.dedupSurvivors`, which runs
  * the x21 clusters inside), both collected in full, over a generated
  * read-only corpus. Checks: exactly one status per doc in each output;
  * every op's x30 (doc_id, status) digest equals that of
  * `curationPipelineStaged`, run once at set-up, and its x23 digest
  * equals the first warm-up op's. A traced op is the same two calls, one
  * span each. */
final class CurateWorkload(spark: SparkSession, rec: Recorder, seed: Long,
                           work: String) extends Workload(rec) {
  private val baseDocs = 300
  private val copies = 10
  // Process CPU per op still falls over the first ops after the staged
  // check (the JIT is still compiling): three ops warm up, and at least
  // three are measured, so the median never rests on the first of them
  private val warmOps = 3
  override def minOps: Int = 3
  private var tables: Tables = _
  private var nDocs = 0L
  private var stagedX30: String = _
  private var firstX23: String = _

  def setUp(): Seq[(String, Any)] = {
    val dir = Paths.get(work, "corpus").toString
    val (n, genS) = timed(Gen.documents(spark, dir, seed, baseDocs, copies))
    nDocs = n
    tables = Tables(spark, dir)
    // the staged form is the reference every op's x30 is checked against
    val (staged, stagedS) = timed(digest(TextQueries.curationPipelineStaged(tables).collect()))
    stagedX30 = staged.fold(why => sys.error(s"staged x30: $why"), identity)
    val (_, warmS) = timed((-warmOps until 0).foreach { i =>
      untraced(op(i)).left.foreach(why => sys.error(s"warm-up op failed: $why"))
      spark.catalog.clearCache()
    })
    Seq("generate_s" -> genS, "staged_check_s" -> stagedS, "warmup_s" -> warmS)
  }

  def op(i: Int): Either[String, Unit] = {
    val x30 = spanCollect("operators.TextQueries.curationPipeline")(
      TextQueries.curationPipeline(tables).collect())
    val x23 = spanCollect("operators.TextQueries.dedupSurvivors")(
      TextQueries.dedupSurvivors(tables).collect())
    for (a <- digest(x30); b <- digest(x23); _ <- {
      if (firstX23 == null) firstX23 = b
      if (a != stagedX30) Left(s"x30 digest $a != curationPipelineStaged's $stagedX30")
      else if (b != firstX23) Left(s"x23 digest $b != first op's $firstX23")
      else Right(())
    }) yield ()
  }

  /** After a traced op, outside its sums: the x30 branch frames one at a
    * time (through the public `curationBranchFrames` seam) and the x21
    * clusters that x23 runs inside. */
  override def afterOp(i: Int): Unit = {
    spark.catalog.clearCache()
    if (tracing) {
      val frames = TextQueries.curationBranchFrames(tables).toMap
      Seq("td", "rep", "nearDups", "decontaminate", "boilerplate").foreach { b =>
        span(s"operators.TextQueries.$b")(noop(frames(b)))
      }
      spanCollect("operators.TextQueries.dupClusters")(TextQueries.dupClusters(tables).collect())
      spark.catalog.clearCache()
    }
  }

  override def info: Seq[(String, Any)] = Seq("docs" -> nDocs)

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** MD5 over the (doc_id, status) rows, after checking there is exactly
    * one status per doc. */
  private def digest(rows: Array[Row]): Either[String, String] = {
    val ids = rows.map(_.getLong(0))
    if (rows.length != nDocs || ids.distinct.length != nDocs)
      Left(s"${rows.length} rows / ${ids.distinct.length} doc ids for $nDocs docs")
    else {
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.sortBy(_.getLong(0)).foreach { r =>
        md.update(s"${r.getLong(0)}\t${r.getString(1)}\n".getBytes("UTF-8"))
      }
      Right(md.digest().map("%02x".format(_)).mkString)
    }
  }
}
