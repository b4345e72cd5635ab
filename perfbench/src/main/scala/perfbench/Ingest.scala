package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.streaming.Streams

/** One arriving document: id, text, embedding. */
final case class DocVec(doc_id: Long, text: String, embedding: Array[Float])

/** The flagship ingest sink fed by a memory stream, over indexes, a
  * language model, a classifier and a drift reference built from the
  * seeded corpus in the run's own directory.
  */
final class Ingest(spark: SparkSession, gen: Gen.Ingest, dir: Path, compactEvery: Int) {
  import spark.implicits._

  val StageNames: Seq[String] = Seq("redact", "exact", "exact_intra", "near",
    "near_intra", "semantic", "semantic_intra", "kn", "clf")

  val cfg: Streams.IngestPipelineConfig = Streams.IngestPipelineConfig(
    exactIndexPath = s"$dir/index/exact", nearDupIndexPath = s"$dir/index/near",
    semIndexPath = s"$dir/index/sem", lmPath = s"$dir/lm", clfModelPath = s"$dir/clf",
    driftRefPath = s"$dir/drift", nBucketsExact = 8, maxHamming = 7,
    semThreshold = 0.95, numPlanes = 4, numTables = 4)
  val out = s"$dir/out"
  val monitor = s"$dir/monitor"

  private def frame(rows: Seq[Gen.Row]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r.id, r.text, r.vec.toSeq)), 4),
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
        StructField("embedding", ArrayType(FloatType, containsNull = false)))))

  /** Build every frozen artifact the sink reads, from the corpus alone. */
  def build(tr: Tracer): Unit = {
    val c = gen.corpus
    val corpus = frame(c.rows).cache()
    tr.span("ingest.setup.exact_index")(
      graft.llm.Dedup.writeExactDupIndex(corpus, "doc_id", "text", cfg.nBucketsExact,
        cfg.exactIndexPath))
    tr.span("ingest.setup.near_index")(
      graft.llm.Dedup.writeSimhashWideIndex(corpus, "doc_id", "text",
        maxHamming = cfg.maxHamming, nBuckets = 8, path = cfg.nearDupIndexPath))
    tr.span("ingest.setup.sem_index")(
      graft.llm.Similarity.writeLshIndex(corpus, "doc_id", "embedding",
        numPlanes = cfg.numPlanes, numTables = cfg.numTables, path = cfg.semIndexPath))
    tr.span("ingest.setup.kn_lm")(
      graft.llm.TextAnalysis.writeKnLm(corpus, "doc_id", "text", cfg.lmPath))
    val labels = c.labels.zipWithIndex.map { case (y, i) => (i.toLong, y) }.toDF("doc_id", "y")
    tr.span("ingest.setup.classifier")(
      graft.llm.Curation.writeQualityClassifier(corpus.join(labels, "doc_id"),
        "doc_id", "text", "y", cfg.clfModelPath, iters = 3))
    tr.span("ingest.setup.drift_ref")(
      graft.ops.Checks.writeDriftReference(
        corpus.select(length(col("text")).cast("double").as("len")), "len",
        nBins = 10, path = cfg.driftRefPath))
    corpus.unpersist(blocking = true)
  }

  private val mem = MemoryStream[DocVec](newProductEncoder[DocVec], spark.sqlContext)
  private var query: StreamingQuery = _

  def start(): Unit =
    query = Streams.startIngestPipelineSink(mem.toDF(), cfg, out, monitor, s"$dir/ckpt",
      "doc_id", "text", "embedding", compactEvery = compactEvery)

  /** Feed one batch and wait for the sink to finish it. */
  def feed(rows: Seq[Gen.Row]): Unit = {
    mem.addData(rows.map(r => DocVec(r.id, r.text, r.vec)))
    query.processAllAvailable()
  }

  def stop(): Unit = if (query != null) { query.stop(); query = null }

  /** The sink's per-stage report for one batch: (stage, rows_in, rows_out, wall_ms). */
  def stageReport(batchId: Long): Seq[(String, Long, Long, Long)] =
    spark.read.parquet(s"${monitor}_stages/batch_id=$batchId")
      .select("stage_idx", "stage", "rows_in", "rows_out", "wall_ms")
      .as[(Int, String, Long, Long, Long)].collect().sortBy(_._1)
      .map(r => (r._2, r._3, r._4, r._5)).toSeq

  /** Rows landed by every batch so far. */
  def acceptedSoFar(): Long = spark.read.parquet(out).count()

  def landed(batchId: Long): Seq[(Long, String)] = {
    val p = s"$out/batch_id=$batchId"
    if (!Files.exists(java.nio.file.Paths.get(p))) Nil
    else spark.read.parquet(p).select("doc_id", "text").as[(Long, String)].collect().toSeq
  }
}

object Ingest {
  /** Mismatches between one batch's outcome and the planted truth. */
  def check(batch: Seq[Gen.Row], landed: Seq[(Long, String)],
            report: Seq[(String, Long, Long, Long)], stageNames: Seq[String]): Seq[String] = {
    val errs = Seq.newBuilder[String]
    val cls = batch.map(r => r.id -> r.cls).toMap
    val accepted = landed.map(_._1).toSet
    val wrong = accepted.filterNot(id => cls.get(id).exists(Gen.MustAccept))
    if (wrong.nonEmpty)
      errs += s"${wrong.size} planted duplicates or unknown rows accepted: " +
        wrong.take(5).map(id => s"$id:${cls.getOrElse(id, "?")}").mkString(",")
    val missing = batch.filter(r => Gen.MustAccept(r.cls) && !accepted(r.id))
    if (missing.nonEmpty)
      errs += s"${missing.size} novel or PII rows rejected: " +
        missing.take(5).map(r => s"${r.id}:${r.cls}").mkString(",")
    val raw = batch.filter(_.cls == "pii").map(_.text.split(" ").last).toSet
    if (landed.exists { case (_, t) => raw.exists(t.contains) || t.contains("@") })
      errs += "raw PII landed"
    if (report.map(_._1) != stageNames) errs += s"stage report ${report.map(_._1)}"
    else {
      if (report.head._2 != batch.size) errs += s"redact saw ${report.head._2} of ${batch.size}"
      report.sliding(2).foreach {
        case Seq(a, b) if b._2 != a._3 => errs += s"${b._1} rows_in ${b._2} != ${a._1} rows_out ${a._3}"
        case _ => ()
      }
      if (report.last._3 != landed.size) errs += s"clf kept ${report.last._3}, ${landed.size} landed"
    }
    errs.result()
  }
}
