package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.{DayOfWeek, LocalDate}

import scala.collection.mutable

import graft.model.StatementMetrics

/** Seeded input generators and their expected results.
  *
  * Everything a workload reads is a pure function of `(seed, sizes)`, and
  * the expected results are computed here in plain Scala from the same
  * generated values, never through the library under test, so every
  * output check is independent of it.
  */
object Gen {

  def write(path: Path, text: String): Unit = {
    Files.createDirectories(path.getParent)
    Files.write(path, text.getBytes(StandardCharsets.UTF_8))
  }

  /** Sizes of the Fortune-500-shaped raw drop. */
  final case class MarketSize(tickers: Int, firstYear: Int, years: Int,
                              apiYears: Int, corruptPerMille: Int,
                              statementPeriods: Int)

  val Sectors: Seq[String] = Seq("Technology", "Healthcare", "Financials",
    "Energy", "Industrials", "Utilities", "Materials", "RealEstate",
    "ConsumerStaples", "ConsumerDiscretionary", "Communication")

  val Sheets: Seq[String] = Seq("balance_sheet", "cash_flow",
    "income_statement", "quarterly")

  /** One clean daily bar. Prices are in cents so the expected values are
    * exactly the doubles a CSV reader parses from the printed decimals.
    */
  final case class Bar(date: LocalDate, open: Long, high: Long, low: Long,
                       close: Long, volume: Long)

  final case class Company(ticker: String, sector: String, employees: Long,
                           raw: IndexedSeq[(Bar, Boolean)], // (bar, corrupt date)
                           revenue: Map[Int, Long], // fiscal year -> cents
                           totalEsg: Double, peerEsgAvg: Double,
                           dividends: IndexedSeq[(LocalDate, Long)]) {
    lazy val bars: IndexedSeq[Bar] = raw.collect { case (b, false) => b }
  }

  /** The generated market plus everything the checks compare against. */
  final case class Market(seed: Long, size: MarketSize,
                          companies: IndexedSeq[Company]) {
    def rawRows: Long = companies.map(_.raw.size.toLong).sum
    def cleanRows: Long = companies.map(_.bars.size.toLong).sum
    def lastYear: Int = size.firstYear + size.years - 1
    def apiFromYear: Int = lastYear - size.apiYears + 1
    /** Fiscal years carried by the statement sheets (the last periods). */
    def statementYears: Seq[Int] =
      (lastYear - size.statementPeriods + 1 to lastYear)
  }

  private def tickerName(rng: scala.util.Random, taken: mutable.Set[String]): String = {
    var t = ""
    while (t.isEmpty || taken(t))
      t = Iterator.fill(3 + rng.nextInt(2))(('A' + rng.nextInt(26)).toChar).mkString
    taken += t
    t
  }

  def market(seed: Long, size: MarketSize): Market = {
    val rng = new scala.util.Random(seed * 1000003L + 17L)
    val taken = mutable.Set.empty[String]
    val days = {
      val b = IndexedSeq.newBuilder[LocalDate]
      var d = LocalDate.of(size.firstYear, 1, 1)
      val end = LocalDate.of(size.firstYear + size.years, 1, 1)
      while (d.isBefore(end)) {
        if (d.getDayOfWeek != DayOfWeek.SATURDAY && d.getDayOfWeek != DayOfWeek.SUNDAY) b += d
        d = d.plusDays(1)
      }
      b.result()
    }
    val companies = (0 until size.tickers).map { i =>
      val ticker = tickerName(rng, taken)
      var close = 2000L + rng.nextInt(40000)
      val raw = days.map { d =>
        val open = math.max(100L, close + (rng.nextGaussian() * close * 0.005).toLong)
        close = math.max(100L, (close * math.exp(rng.nextGaussian() * 0.02)).toLong)
        val hi = math.max(open, close) + rng.nextInt(1 + (close / 100).toInt)
        val lo = math.max(1L, math.min(open, close) - rng.nextInt(1 + (close / 100).toInt))
        (Bar(d, open, hi, lo, close, 10000L + rng.nextInt(5000000)),
          rng.nextInt(1000) < size.corruptPerMille)
      }
      val revenue = (size.firstYear until size.firstYear + size.years)
        .map(y => y -> (1000000000L + rng.nextInt(1000000000).toLong) * 100L).toMap
      val divs = (size.firstYear until size.firstYear + size.years).flatMap { y =>
        (1 to 4).map { q =>
          (LocalDate.of(y, q * 3 - 2, 1).plusDays(rng.nextInt(80)),
            5L + rng.nextInt(200).toLong)
        }
      }.distinctBy(_._1)
      def esg() = BigDecimal(5 + rng.nextDouble() * 40)
        .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
      Company(ticker, Sectors(i % Sectors.size), 1000L + rng.nextInt(200000),
        raw, revenue, esg(), esg(), divs)
    }
    Market(seed, size, companies)
  }

  private def cents(c: Long): String = f"${c / 100}.${c % 100}%02d"

  private def grouped(v: Long): String = f"$v%,d"

  /** Write the raw drop under `root`: per ticker one Kaggle-style headered
    * CSV (older years, grouped Volume, OpenInt), one API-style headerless
    * CSV (recent years, 4 junk rows, AdjClose), four wide statement
    * sheets, one info JSON and one sustainability JSON; plus one dividend
    * table.
    */
  def writeMarket(m: Market, root: Path): Unit = {
    val rng = new scala.util.Random(m.seed * 31L + 5L)
    m.companies.foreach { c =>
      def dateStr(b: Bar, bad: Boolean): String =
        if (!bad) b.date.toString
        else if (rng.nextBoolean()) s"${b.date.getYear}-13-${b.date.getDayOfMonth}"
        else "N/A"
      val kag = new StringBuilder("Date,Open,High,Low,Close,Volume,OpenInt\n")
      val api = new StringBuilder()
      api.append(s"Price,Close,High,Low,Open,Volume,\n")
      api.append(s"Ticker,${c.ticker},${c.ticker},${c.ticker},${c.ticker},${c.ticker},\n")
      api.append("Date,,,,,,\n")
      api.append(",,,,,,\n")
      c.raw.foreach { case (b, bad) =>
        if (b.date.getYear < m.apiFromYear)
          kag.append(s"${dateStr(b, bad)},${cents(b.open)},${cents(b.high)}," +
            s"${cents(b.low)},${cents(b.close)},\"${grouped(b.volume)}\",0\n")
        else
          api.append(s"${dateStr(b, bad)},${cents(b.open)},${cents(b.high)}," +
            s"${cents(b.low)},${cents(b.close)},${cents(b.close)},${b.volume}\n")
      }
      write(root.resolve(s"prices/kaggle/${c.ticker}.csv"), kag.toString)
      write(root.resolve(s"prices/api/${c.ticker}.csv"), api.toString)
      Sheets.foreach { sheet =>
        val periods = m.statementYears.map(y => s"$y-12-31")
        val sb = new StringBuilder("name," + periods.mkString(",") + "\n")
        val metrics = StatementMetrics.bySheet(sheet)
        (metrics ++ Seq("Junk Metric A", "Junk Metric B")).foreach { metric =>
          val cells = m.statementYears.map { y =>
            if (metric == "Total Revenue") (c.revenue(y) / 100).toString
            else (rng.nextInt(1000000) * 1000L).toString
          }
          sb.append(metric).append(',').append(cells.mkString(",")).append('\n')
        }
        write(root.resolve(s"statements/$sheet/${c.ticker}.csv"), sb.toString)
      }
      write(root.resolve(s"info/${c.ticker}.json"),
        s"""{
           |  "symbol": "${c.ticker}",
           |  "shortName": "${c.ticker} Corp",
           |  "industry": "${c.sector} Services",
           |  "sector": "${c.sector}",
           |  "fullTimeEmployees": ${c.employees},
           |  "totalRevenue": ${c.revenue(m.lastYear) / 100},
           |  "address1": "${rng.nextInt(900) + 100} Main Street",
           |  "city": "Springfield",
           |  "state": "CA",
           |  "zip": "9${rng.nextInt(9000) + 1000}",
           |  "website": "https://${c.ticker.toLowerCase}.example.com"
           |}""".stripMargin)
      def peer(avg: Double) =
        s"""{"min": ${avg / 2}, "avg": $avg, "max": ${avg * 2}}"""
      def flag = rng.nextBoolean()
      write(root.resolve(s"esg/${c.ticker}.json"),
        s"""{"esgScores": {
           |  "adult": $flag, "alcoholic": $flag, "animalTesting": $flag,
           |  "catholic": $flag, "coal": $flag, "controversialWeapons": $flag,
           |  "environmentPercentile": ${rng.nextInt(100)}.5,
           |  "environmentScore": ${rng.nextInt(30)}.25,
           |  "esgPerformance": "AVG_PERF", "furLeather": $flag,
           |  "gambling": $flag, "governanceScore": ${rng.nextInt(20)}.5,
           |  "maxAge": 86400, "militaryContract": $flag, "nuclear": $flag,
           |  "palmOil": $flag, "peerCount": ${rng.nextInt(100) + 5},
           |  "peerEnvironmentPerformance": ${peer(rng.nextInt(20) + 0.5)},
           |  "peerEsgScorePerformance": ${peer(c.peerEsgAvg)},
           |  "peerGovernancePerformance": ${peer(rng.nextInt(20) + 0.5)},
           |  "peerGroup": "${c.sector}",
           |  "peerHighestControversyPerformance": ${peer(rng.nextInt(4) + 0.5)},
           |  "peerSocialPerformance": ${peer(rng.nextInt(20) + 0.5)},
           |  "percentile": ${rng.nextInt(100)}.5, "pesticides": $flag,
           |  "ratingMonth": ${rng.nextInt(12) + 1}, "ratingYear": ${m.lastYear},
           |  "smallArms": $flag, "socialScore": ${rng.nextInt(20)}.5,
           |  "tobacco": $flag, "totalEsg": ${c.totalEsg}
           |}}""".stripMargin)
    }
    val div = new StringBuilder("Ticker,Date,Amount\n")
    m.companies.foreach(c => c.dividends.foreach { case (d, a) =>
      div.append(s"${c.ticker},$d,${cents(a)}\n")
    })
    write(root.resolve("dividends/dividends.csv"), div.toString)
  }

  // ---------------------------------------------------------------------
  // Ingest corpus and micro-batches.

  /** Sizes of the ingest workload. */
  final case class IngestSize(batchRows: Int, maxBatches: Int, dim: Int)

  /** Segment length of a novel row and segments per corpus chain. */
  val SegWords = 8
  val SegsPerChain = 6

  /** Planted row classes, in the order the generator emits them inside a
    * batch (an original always precedes its twin, so the twin carries the
    * larger id the intra-batch stages drop).
    */
  val Classes: Seq[String] = Seq("novel", "pii", "exact_corpus",
    "near_corpus", "paraphrase_corpus", "exact_twin", "near_twin",
    "semantic_twin", "exact_earlier", "near_earlier")

  /** Every class but `novel` and `pii` must be rejected. */
  val MustAccept: Set[String] = Set("novel", "pii")

  final case class Row(id: Long, text: String, vec: Array[Float], cls: String)

  /** Corpus documents and their quality labels (1 = keep). */
  final case class Corpus(rows: IndexedSeq[Row], labels: IndexedSeq[Int])

  /** The placeholder the redaction stage writes for an email. */
  val EmailToken = "<EMAIL>"

  final class Ingest(val seed: Long, val size: IngestSize) {
    private val rng = new scala.util.Random(seed * 7919L + 3L)
    private val used = mutable.Set.empty[String]

    private def word(): String = {
      var w = ""
      while (w.isEmpty || used(w)) {
        val n = 5 + rng.nextInt(4)
        w = Iterator.fill(n)(('a' + rng.nextInt(26)).toChar).mkString
      }
      used += w
      w
    }

    private def unit(): Array[Float] = {
      val v = Array.fill(size.dim)(rng.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / n)
    }

    private def frac(f: Double): Int = math.max(1, math.round(size.batchRows * f).toInt)
    // Per-batch class counts; novel takes the remainder.
    private val counts: Map[String, Int] = Map(
      "pii" -> frac(0.05), "exact_corpus" -> frac(0.08),
      "near_corpus" -> frac(0.08), "paraphrase_corpus" -> frac(0.08),
      "exact_twin" -> frac(0.05), "near_twin" -> frac(0.05),
      "semantic_twin" -> frac(0.05), "exact_earlier" -> frac(0.05),
      "near_earlier" -> frac(0.05))
    val novelPerBatch: Int = size.batchRows - counts.values.sum
    require(novelPerBatch >= counts("exact_twin") + counts("near_twin") +
      counts("semantic_twin"), "batch too small for its twin classes")

    // Fresh segments a batch consumes: novel + semantic twins + paraphrases.
    private val freshPerBatch = novelPerBatch + counts("semantic_twin") +
      counts("paraphrase_corpus")
    private val nRegular = (freshPerBatch * size.maxBatches + SegsPerChain - 1) / SegsPerChain
    private val nPii = (counts("pii") * size.maxBatches + SegsPerChain - 1) / SegsPerChain
    // Negative-class chains for the quality classifier (never sampled).
    private val nNegative = math.max(4, nRegular / 20)

    private def chain(): IndexedSeq[String] = IndexedSeq.fill(SegWords * SegsPerChain)(word())
    private val regular = IndexedSeq.fill(nRegular)(chain())
    private val negative = IndexedSeq.fill(nNegative)(chain())
    // A PII chain is SegsPerChain segments of (SegWords - 1) words, each
    // closed by the email placeholder: a redacted PII row then ends in a
    // bigram the language model has seen.
    private val piiChains = IndexedSeq.fill(nPii)(
      (0 until SegsPerChain).flatMap(_ => IndexedSeq.fill(SegWords - 1)(word()) :+ EmailToken))

    val corpus: Corpus = {
      val all = regular ++ piiChains ++ negative
      val rows = all.zipWithIndex.map { case (ws, i) =>
        Row(i.toLong, ws.mkString(" "), unit(), "corpus")
      }
      Corpus(rows, all.indices.map(i => if (i < nRegular + nPii) 1 else 0))
    }

    private var nextFresh = 0
    private var nextPii = 0
    private var nextId = 1000000L
    private val earlier = mutable.ArrayBuffer.empty[Row] // novel rows of past batches

    private def fresh(): String = {
      val i = nextFresh; nextFresh += 1
      val c = regular(i / SegsPerChain)
      c.slice((i % SegsPerChain) * SegWords, (i % SegsPerChain + 1) * SegWords).mkString(" ")
    }

    private def id(): Long = { nextId += 1; nextId }

    /** Case and whitespace noise: normalizes back to the same text. */
    private def noisy(t: String): String =
      "  " + t.split(" ").map(w => if (rng.nextBoolean()) w.toUpperCase else w)
        .mkString(if (rng.nextBoolean()) "   " else " ") + " "

    private def reorder(t: String): String = {
      val ws = t.split(" ")
      var r = ws
      while (r.sameElements(ws)) r = rng.shuffle(ws.toSeq).toArray
      r.mkString(" ")
    }

    private def scaled(v: Array[Float]): Array[Float] = {
      val s = 0.5f + rng.nextFloat() * 3f
      v.map(_ * s)
    }

    private def corpusRow(): Row = corpus.rows(rng.nextInt(nRegular))

    /** The next micro-batch: rows in emission order, with their classes. */
    def nextBatch(): IndexedSeq[Row] = {
      val out = IndexedSeq.newBuilder[Row]
      val novel = IndexedSeq.fill(novelPerBatch)(Row(id(), fresh(), unit(), "novel"))
      out ++= novel
      out ++= IndexedSeq.fill(counts("pii")) {
        val i = nextPii; nextPii += 1
        val c = piiChains(i / SegsPerChain)
        val seg = c.slice((i % SegsPerChain) * SegWords, (i % SegsPerChain + 1) * SegWords - 1)
        val email = s"${word()}.${word()}@${word()}.com"
        Row(id(), (seg :+ email).mkString(" "), unit(), "pii")
      }
      out ++= IndexedSeq.fill(counts("exact_corpus")) {
        val c = corpusRow(); Row(id(), noisy(c.text), unit(), "exact_corpus")
      }
      out ++= IndexedSeq.fill(counts("near_corpus")) {
        val c = corpusRow(); Row(id(), reorder(c.text), unit(), "near_corpus")
      }
      out ++= IndexedSeq.fill(counts("paraphrase_corpus")) {
        val c = corpusRow(); Row(id(), fresh(), scaled(c.vec), "paraphrase_corpus")
      }
      val twinSrc = rng.shuffle(novel.indices.toList).map(novel)
      val (exT, rest1) = twinSrc.splitAt(counts("exact_twin"))
      val (neT, rest2) = rest1.splitAt(counts("near_twin"))
      val seT = rest2.take(counts("semantic_twin"))
      out ++= exT.map(o => Row(id(), noisy(o.text), unit(), "exact_twin"))
      out ++= neT.map(o => Row(id(), reorder(o.text), unit(), "near_twin"))
      out ++= seT.map(o => Row(id(), fresh(), scaled(o.vec), "semantic_twin"))
      // Copies of rows planted in earlier batches (novel rows are the ones
      // the pipeline accepts), so the grown indexes are what gets probed.
      // The first batch has no history: it gets corpus copies instead.
      def pick(): Row = if (earlier.isEmpty) corpusRow() else earlier(rng.nextInt(earlier.size))
      out ++= IndexedSeq.fill(counts("exact_earlier"))(Row(id(), noisy(pick().text), unit(), "exact_earlier"))
      out ++= IndexedSeq.fill(counts("near_earlier"))(Row(id(), reorder(pick().text), unit(), "near_earlier"))
      earlier ++= novel
      out.result()
    }
  }
}
