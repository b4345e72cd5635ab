package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import Main.{deleteTree, median, percentile}

/** Input sizes, fixed per workload (recorded in perfbench/README.md). */
object Sizes {
  val Market = Gen.MarketSize(tickers = 30, firstYear = 2011, years = 10, apiYears = 4,
    corruptPerMille = 10, statementPeriods = 4)
  val Stream = Gen.IngestSize(batchRows = 200, maxBatches = 12, dim = 64)
  /** Every second micro-batch compacts the three indexes: the warm-up
    * batch (id 0) does not, the first timed batch (id 1) does. Compacting
    * in the warm-up too cost 3-5 s a run, which the time limit of a full
    * pass cannot hold. The timed loop runs whole cycles of this many
    * batches, so each run weighs compacting and plain batches the same.
    */
  val CompactEvery = 2
  /** Untimed rounds of the query mix before the timed loop: with two,
    * the CPU time of a round still fell by a quarter over the next four
    * (JIT), by a different amount in each run.
    */
  val QueryWarmupRounds = 5
}

/** Sums of one counter over `spans`: Spark work including nested spans,
  * or a catalog counter.
  */
private object Spans {
  def sum(tr: Tracer, spans: Seq[Span], key: String): Double =
    spans.map(s => tr.totalWork(s).getOrElse(key, 0.0)).sum
  def catalog(spans: Seq[Span], key: String): Double =
    spans.map(_.catalog.getOrElse(key, 0.0)).sum
}

final class EtlWorkload(spark: SparkSession, seed: Long, tr: Tracer) extends Workload {
  private var m: Gen.Market = _
  private var raw: Path = _
  private var dir: Path = _
  private var runs = 0
  private val written = mutable.ArrayBuffer.empty[Double]
  private val attempts = mutable.ArrayBuffer.empty[Double]

  def setup(d: Path): Unit = {
    dir = d
    m = Gen.market(seed, Sizes.Market)
    raw = d.resolve("raw")
    Gen.writeMarket(m, raw)
  }

  private def once(): (Long, Etl.Output, Path) = {
    val out = dir.resolve(s"out${runs % 2}")
    runs += 1
    deleteTree(out)
    val t0 = System.nanoTime()
    val o = tr.span("etl.run")(Etl.run(spark, raw, out, tr))
    (System.nanoTime() - t0, o, out)
  }

  def warmup(): Seq[String] = { val (_, o, _) = once(); Etl.check(m, o) }

  def op(): Op = {
    val (ns, o, out) = once()
    if (tr.enabled) {
      written += Etl.dataFiles(out).toDouble
      attempts += o.stages.map(_.attempts).sum.toDouble
    }
    Op(ns, Etl.check(m, o))
  }

  def layers(ops: Seq[Op]): Map[String, Double] =
    EtlWorkload.layers(tr, m, tr.all.filter(_.name == "etl.run").drop(1), // the first is the warm-up
      written.toSeq, attempts.toSeq) +
      ("etl_s" -> median(ops.filter(_.wallNs > 0).map(_.wallNs / 1e9)))
}

object EtlWorkload {
  /** The etl.* per-layer metrics, as medians over the given ETL runs. */
  def layers(tr: Tracer, m: Gen.Market, runSpans: Seq[Span], written: Seq[Double],
             attempts: Seq[Double]): Map[String, Double] = {
    def perRun(f: Span => Double) = median(runSpans.map(f))
    def stages(r: Span) = tr.all.filter(_.parent == r.id)
    val stageMs = Etl.StageNames.map { st =>
      s"etl.$st.ms" -> perRun(r => stages(r).filter(_.name == s"etl.$st").map(_.ms).sum)
    }
    val work = Seq("jobs", "tasks", "input_bytes", "output_bytes", "shuffle_bytes",
      "spill_bytes", "gc_ms").map(k => s"etl.$k" -> perRun(s => tr.totalWork(s)(k)))
    // Catalog counters move only in the innermost spans (the stages).
    def stageCatalog(k: String) = perRun(r => stages(r).map(_.catalog.getOrElse(k, 0.0)).sum)
    (stageMs ++ work ++ Seq(
      "etl.files_discovered" -> stageCatalog("files_discovered"),
      "etl.listing_jobs" -> stageCatalog("listing_jobs"),
      "etl.files_written" -> median(written),
      "etl.rows_kept_ratio" -> m.cleanRows.toDouble / m.rawRows,
      "etl.rows_raw" -> m.rawRows.toDouble,
      "etl.stage_attempts" -> (median(attempts) + perRun(s => tr.totalWork(s)("stage_retries"))))).toMap
  }
}

final class QueryWorkload(spark: SparkSession, seed: Long, tr: Tracer) extends Workload {
  private var wh: Warehouse = _
  private val rng = new scala.util.Random(seed * 104729L + 11L)
  private var i = 0
  private val kinds = mutable.ArrayBuffer.empty[String]

  private var m: Gen.Market = _
  private var etl: (Double, Double) = (0.0, 0.0) // files written, stage attempts

  /** Generates the raw drop and builds the warehouse with one ETL run,
    * which the traced run reports as the etl.* layer metrics.
    */
  def setup(d: Path): Unit = {
    m = Gen.market(seed, Sizes.Market)
    Gen.writeMarket(m, d.resolve("raw"))
    val o = tr.span("etl.run")(Etl.run(spark, d.resolve("raw"), d.resolve("warehouse"), tr))
    val errs = Etl.check(m, o)
    require(errs.isEmpty, s"warehouse build failed its check: ${errs.mkString("; ")}")
    etl = (Etl.dataFiles(d.resolve("warehouse")).toDouble, o.stages.map(_.attempts).sum.toDouble)
    wh = new Warehouse(spark, m, d.resolve("raw"))
    wh.registerDividends()
  }

  private def run(kind: String): Op = {
    val q = wh.draw(kind, rng)
    val t0 = System.nanoTime()
    val rows = tr.span(s"wq.$kind") {
      val df = q.frame()
      if (tr.enabled) tr.span(s"wq.$kind.plan")(df.queryExecution.executedPlan)
      df.collect().map(_.toSeq).toSeq
    }
    val ns = System.nanoTime() - t0
    Op(ns, if (wh.correct(q, rows)) Nil else Seq(s"$kind returned wrong rows"))
  }

  def warmup(): Seq[String] =
    (1 to Sizes.QueryWarmupRounds).flatMap(_ => wh.Types.flatMap(k => run(k).errors))

  override def round: Int = wh.Types.size

  def op(): Op = {
    val k = wh.Types(i % wh.Types.size)
    i += 1
    kinds += k
    run(k)
  }

  def layers(ops: Seq[Op]): Map[String, Double] = {
    val timed = ops.zip(kinds).filter(_._1.wallNs > 0)
    val n = wh.Types.size
    val perType = wh.Types.flatMap { k =>
      val spans = tr.all.filter(_.name == s"wq.$k").drop(Sizes.QueryWarmupRounds)
      val plans = tr.all.filter(_.name == s"wq.$k.plan").drop(Sizes.QueryWarmupRounds)
      def med(key: String) = median(spans.map(s => tr.totalWork(s)(key)))
      Seq(s"wq.$k.p50_ms" -> median(timed.filter(_._2 == k).map(_._1.wallNs / 1e6)),
        s"wq.$k.plan_ms" -> median(plans.map(_.ms)),
        s"wq.$k.jobs" -> med("jobs"), s"wq.$k.tasks" -> med("tasks"),
        s"wq.$k.input_bytes" -> med("input_bytes"),
        s"wq.$k.shuffle_bytes" -> med("shuffle_bytes"))
    }
    val spans = tr.all.filter(s => wh.Types.exists(k => s.name == s"wq.$k"))
      .drop(n * Sizes.QueryWarmupRounds)
    val lat = timed.map(_._1.wallNs / 1e6)
    // The set-up's last ETL run (the one whose warehouse is queried).
    val etlRun = tr.all.filter(_.name == "etl.run").takeRight(1)
    (EtlWorkload.layers(tr, m, etlRun, Seq(etl._1), Seq(etl._2)) ++
      Seq("etl_s" -> median(etlRun.map(_.ms / 1e3))) ++ perType ++ Seq(
      "wq.files_discovered" -> Spans.catalog(spans, "files_discovered") / spans.size,
      "wq.file_cache_hits" -> Spans.catalog(spans, "file_cache_hits") / spans.size,
      "wq.gc_ms" -> Spans.sum(tr, spans, "gc_ms") / spans.size,
      "query_p50_ms" -> median(lat),
      "query_p90_ms" -> percentile(lat, 0.9),
      "queries_per_s" -> lat.size / math.max(1e-9, lat.sum / 1e3))).toMap
  }
}

final class IngestWorkload(spark: SparkSession, seed: Long, tr: Tracer) extends Workload {
  private var gen: Gen.Ingest = _
  private var ingest: Ingest = _
  private var nextBatch = 0L
  private var dir: Path = _
  private val batches = mutable.ArrayBuffer.empty[IngestWorkload.Batch]

  def setup(d: Path): Unit = {
    dir = d
    gen = new Gen.Ingest(seed, Sizes.Stream)
    ingest = new Ingest(spark, gen, d, Sizes.CompactEvery)
    ingest.build(tr)
  }

  /** Starts the sink and runs its first micro-batch (about 1.4 times the
    * cost of a steady one).
    */
  def warmup(): Seq[String] = {
    ingest.start()
    val r = op()
    batches.clear()
    r.errors
  }

  override def round: Int = Sizes.CompactEvery

  /** One micro-batch, from `addData` to the return of `processAllAvailable`. */
  def op(): Op = {
    val rows = gen.nextBatch()
    val id = nextBatch
    nextBatch += 1
    val c0 = tr.catalogNow()
    val t0 = System.nanoTime()
    tr.span("ingest.batch")(ingest.feed(rows))
    val ns = System.nanoTime() - t0
    val c1 = tr.catalogNow()
    val report = ingest.stageReport(id)
    batches += IngestWorkload.Batch(id, rows.size, ns, report, c1.map { case (k, v) => k -> (v - c0(k)) })
    Op(ns, Ingest.check(rows, ingest.landed(id), report, ingest.StageNames))
  }

  private def indexStats(): (Long, Long) = {
    val files = Seq("exact", "near", "sem").flatMap { f =>
      val p = dir.resolve(s"index/$f")
      val s = Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(x => Files.isRegularFile(x) &&
          x.getFileName.toString.endsWith(".parquet")).toList
      } finally s.close()
    }
    (files.size.toLong, files.map(Files.size).sum)
  }

  def layers(ops: Seq[Op]): Map[String, Double] = {
    val bs = batches.toSeq
    val stages = ingest.StageNames.flatMap { st =>
      val r = bs.flatMap(_.report.find(_._1 == st))
      val in = r.map(_._2).sum.toDouble
      Seq(s"ingest.$st.ms" -> median(r.map(_._4.toDouble)),
        s"ingest.$st.pass_ratio" -> (if (in == 0) 0.0 else r.map(_._3).sum / in),
        s"ingest.$st.rows_in" -> in)
    }
    val work = bs.map(b => tr.batchWork(b.id))
    def perBatch(k: String) = median(work.map(_(k)))
    val compacting = bs.filter(b => (b.id + 1) % Sizes.CompactEvery == 0)
    val (files, bytes) = indexStats()
    val arrived = bs.map(_.rows).sum.toDouble
    val accepted = bs.map(_.report.last._3).sum.toDouble
    // Every index holds the corpus plus every row accepted so far,
    // warm-up batch included.
    val indexedRows = 3.0 * (gen.corpus.rows.size + ingest.acceptedSoFar())
    val walls = bs.map(_.wallNs / 1e9)
    (stages ++ Seq(
      "ingest.rest.ms" -> median(bs.map(b => b.wallNs / 1e6 - b.report.map(_._4).sum)),
      "ingest.compact_batch_s" -> median(compacting.map(_.wallNs / 1e9)),
      "ingest.jobs_per_batch" -> perBatch("jobs"),
      "ingest.tasks_per_batch" -> perBatch("tasks"),
      "ingest.shuffle_bytes_per_batch" -> perBatch("shuffle_bytes"),
      "ingest.spill_bytes_per_batch" -> perBatch("spill_bytes"),
      "ingest.files_discovered_per_batch" -> median(bs.map(_.catalog.getOrElse("files_discovered", 0.0))),
      "ingest.listing_jobs_per_batch" -> median(bs.map(_.catalog.getOrElse("listing_jobs", 0.0))),
      "ingest.index_bytes_per_row" -> bytes / indexedRows,
      "ingest.index_files" -> files.toDouble,
      "ingest.accept_ratio" -> accepted / arrived,
      "ingest.rows_arrived" -> arrived,
      "ingest.gc_ms" -> work.map(_("gc_ms")).sum,
      "batch_p50_s" -> median(walls),
      "ingest_rows_per_s" -> arrived / math.max(1e-9, walls.sum))).toMap
  }

  override def close(): Unit = if (ingest != null) ingest.stop()
}

object IngestWorkload {
  final case class Batch(id: Long, rows: Int, wallNs: Long,
                         report: Seq[(String, Long, Long, Long)],
                         catalog: Map[String, Double])
}
