package perfbench

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

/** Self-tests of the benchmark's generator and output checks. They run
  * without Spark: the generator and the checks are plain Scala.
  */
class GenCheckSpec extends AnyFunSuite {

  private val size = Gen.MarketSize(tickers = 6, firstYear = 2015, years = 3, apiYears = 1,
    corruptPerMille = 10, statementPeriods = 2)
  private val stream = Gen.IngestSize(batchRows = 100, maxBatches = 4, dim = 16)

  private def tmp(): Path = Files.createTempDirectory("perfbench-spec")

  /** Digest of every file under `root`, names included. */
  private def digest(root: Path): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val s = Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
        .sortBy(p => root.relativize(p).toString).foreach { p =>
          md.update(root.relativize(p).toString.getBytes("UTF-8"))
          md.update(Files.readAllBytes(p))
        }
    } finally s.close()
    md.digest().map(b => f"$b%02x").mkString
  }

  private def drop(seed: Long): String = {
    val d = tmp()
    try { Gen.writeMarket(Gen.market(seed, size), d); digest(d) }
    finally org.apache.commons.io.FileUtils.deleteDirectory(d.toFile)
  }

  private def ingestTexts(seed: Long): Seq[String] = {
    val g = new Gen.Ingest(seed, stream)
    val batches = Seq.fill(3)(g.nextBatch())
    (g.corpus.rows ++ batches.flatten).map(r => s"${r.id}|${r.cls}|${r.text}|${r.vec.mkString(",")}")
  }

  test("the same seed gives identical inputs and truth; another seed differs") {
    assert(drop(7) === drop(7))
    assert(drop(7) !== drop(8))
    assert(Etl.expectedSummary(Gen.market(7, size)) === Etl.expectedSummary(Gen.market(7, size)))
    assert(Etl.expectedSummary(Gen.market(7, size)) !== Etl.expectedSummary(Gen.market(8, size)))
    assert(ingestTexts(7) === ingestTexts(7))
    assert(ingestTexts(7) !== ingestTexts(8))
  }

  test("about 1% of raw price rows carry a corrupt date, and only those are dropped") {
    val m = Gen.market(3, size.copy(tickers = 40))
    val corrupt = m.rawRows - m.cleanRows
    assert(corrupt > 0 && corrupt < m.rawRows / 50)
  }

  private def etlOutput(m: Gen.Market): Etl.Output = Etl.Output(
    Etl.StageNames.map(n => graft.pipeline.Pipeline.StageResult(n, 1, None)),
    m.companies.map(c => c.ticker -> c.bars.size.toLong).toMap,
    Etl.expectedSummary(m),
    Gen.Sheets.map(_ -> m.companies.size.toLong * m.statementYears.size).toMap,
    m.companies.size, m.companies.size)

  test("the ETL check accepts the truth and rejects corrupted outputs") {
    val m = Gen.market(5, size)
    val good = etlOutput(m)
    assert(Etl.check(m, good).isEmpty)
    val row = good.summary.head
    val bumped = row.updated(2, row(2).asInstanceOf[Double] + 0.01)
    assert(Etl.check(m, good.copy(summary = bumped +: good.summary.tail)).nonEmpty)
    assert(Etl.check(m, good.copy(summary = good.summary.tail)).nonEmpty)
    val (t, n) = good.rowsByTicker.head
    assert(Etl.check(m, good.copy(rowsByTicker = good.rowsByTicker.updated(t, n - 1))).nonEmpty)
    assert(Etl.check(m, good.copy(esgRows = 0)).nonEmpty)
    assert(Etl.check(m, good.copy(stages = good.stages.init)).nonEmpty)
  }

  test("every query check accepts its expected rows and rejects a corrupted one") {
    val m = Gen.market(5, size.copy(tickers = 30))
    val wh = new Warehouse(null, m, java.nio.file.Paths.get("unused")) // frames are never built here
    val rng = new scala.util.Random(1)
    wh.Types.foreach { k =>
      val q = wh.draw(k, rng)
      val want = q.want()
      assert(want.nonEmpty, k)
      assert(wh.correct(q, want), k)
      val broken = want.head.map {
        case d: Double => d * 1.001 + 1
        case l: Long => l + 1
        case i: Int => i + 1
        case s: String => s + "x"
        case other => other
      }
      assert(!wh.correct(q, broken +: want.tail), k)
      assert(!wh.correct(q, want.tail), k)
    }
  }

  private val stages = Seq("redact", "exact", "exact_intra", "near", "near_intra",
    "semantic", "semantic_intra", "kn", "clf")

  /** The outcome a correct pipeline produces: every novel and PII row
    * lands (PII redacted), every planted duplicate is dropped.
    */
  private def goodBatch(g: Gen.Ingest) = {
    val batch = g.nextBatch()
    val landed = batch.filter(r => Gen.MustAccept(r.cls)).map { r =>
      r.id -> (if (r.cls == "pii") r.text.split(" ").init.mkString(" ") + " <EMAIL>" else r.text)
    }
    val (n, k) = (batch.size.toLong, landed.size.toLong)
    // redact keeps all rows, exact drops every duplicate, the rest keep all.
    val report = ("redact", n, n, 10L) +: ("exact", n, k, 10L) +:
      stages.drop(2).map(s => (s, k, k, 10L))
    (batch, landed, report)
  }

  test("the ingest check accepts a correct batch and rejects corrupted outcomes") {
    val g = new Gen.Ingest(9, stream)
    val (batch, landed, report) = goodBatch(g)
    assert(Ingest.check(batch, landed, report, stages) === Nil)
    // A planted duplicate that lands.
    val twin = batch.find(_.cls == "exact_twin").get
    assert(Ingest.check(batch, landed :+ (twin.id -> twin.text), report, stages).nonEmpty)
    // Raw PII that lands.
    val pii = batch.find(_.cls == "pii").get
    assert(Ingest.check(batch, landed.filterNot(_._1 == pii.id) :+ (pii.id -> pii.text),
      report, stages).nonEmpty)
    // Stage accounting that does not close.
    assert(Ingest.check(batch, landed, report.updated(3, report(3).copy(_2 = 1L)), stages).nonEmpty)
    assert(Ingest.check(batch, landed.tail, report, stages).nonEmpty)
    // A novel row rejected, with the report closing around the smaller output.
    val novel = batch.find(_.cls == "novel").get
    val short = landed.filterNot(_._1 == novel.id)
    val shortReport = report.map(r => if (r._1 == "redact") r
      else r.copy(_2 = if (r._1 == "exact") r._2 else r._2 - 1, _3 = r._3 - 1))
    assert(Ingest.check(batch, short, shortReport, stages).exists(_.contains("rejected")))
    // Later batches plant every class, copies of earlier rows included.
    val (b2, l2, r2) = goodBatch(g)
    assert(Gen.Classes.forall(c => b2.exists(_.cls == c)))
    assert(Ingest.check(b2, l2, r2, stages) === Nil)
  }
}
