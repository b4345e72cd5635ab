package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.model.Schemas
import graft.ops.{Aggs, Joins, Reshape, Sources, Windows}

/** The analyst query mix the reference sent to its warehouse, over the
  * tables an [[Etl]] run registered. Each query type draws its parameters
  * from the workload's seeded generator and is checked against values
  * computed from the generated market.
  */
/** One drawn query: its frame (lazy, unexecuted) and expected rows. */
final case class Query(kind: String, frame: () => DataFrame, want: () => Seq[Seq[Any]],
                       ordered: Boolean = false)

final class Warehouse(spark: SparkSession, m: Gen.Market, raw: Path) {

  val Types: Seq[String] = Seq("ohlcv_yearly", "star_sector_year", "moving_avg",
    "dividend_asof", "topk_return", "ticker_lookup", "statement_pivot", "esg_filter")

  /** Register the dividend table the as-of query joins against. */
  def registerDividends(): Unit =
    spark.read.option("header", "true")
      .schema(StructType(Seq("Ticker", "Date", "Amount").map(StructField(_, StringType))))
      .csv(s"$raw/dividends/dividends.csv")
      .select(col("Ticker"), to_date(col("Date")).as("Date"),
        col("Amount").cast("double").as("Amount"))
      .createOrReplaceTempView("dividends")

  private def prices: DataFrame = spark.table("prices")
  private def info: DataFrame = spark.table("company_info")
  private def inSector(s: String): Seq[Gen.Company] = m.companies.filter(_.sector == s)
  private def barsIn(c: Gen.Company, y: Int) = c.bars.filter(_.date.getYear == y)

  def draw(kind: String, rng: scala.util.Random): Query = {
    val year = m.statementYears(rng.nextInt(m.statementYears.size))
    val sector = Gen.Sectors(rng.nextInt(Gen.Sectors.size))
    val company = m.companies(rng.nextInt(m.companies.size))
    kind match {
      case "ohlcv_yearly" => Query(kind,
        () => Aggs.yearlyOhlcv(prices, "Ticker", "Date")
          .select("Ticker", "year", "year_open", "year_close", "year_high",
            "year_low", "total_volume", "trading_days"),
        () => Etl.expectedSummary(m))

      case "star_sector_year" => Query(kind,
        () => spark.sql(
          s"""WITH p AS (SELECT Ticker, sum(Volume) AS vol FROM prices
             |           WHERE year = $year GROUP BY Ticker),
             |     st AS (SELECT Ticker, Total_Revenue AS rev FROM stmt_income_statement
             |            WHERE Date = '$year-12-31')
             |SELECT i.sector, count(*) AS n, sum(p.vol) AS vol, sum(st.rev) AS rev
             |FROM p JOIN st ON p.Ticker = st.Ticker
             |JOIN company_info i ON i.symbol = p.Ticker
             |GROUP BY i.sector""".stripMargin),
        () => m.companies.groupBy(_.sector).toSeq.map { case (s, cs) =>
          Seq(s, cs.size.toLong, cs.map(c => barsIn(c, year).map(_.volume).sum).sum.toDouble,
            cs.map(c => (c.revenue(year) / 100).toDouble).sum)
        })

      case "moving_avg" => Query(kind,
        () => Windows.keyedAnalytics(
            prices.join(info.filter(col("sector") === sector)
              .select(col("symbol").as("Ticker")), Seq("Ticker"), "left_semi"),
            "Ticker", "Date", "Volume", "Close", 20)
          .groupBy("Ticker")
          .agg(max(col("moving_sum")).as("max_moving_sum"),
            max(col("running_sum")).as("total"), count(lit(1)).as("n")),
        () => inSector(sector).map { c =>
          val close = c.bars.map(_.close / 100.0)
          val moving = close.indices.map(i => close.slice(math.max(0, i - 19), i + 1).sum)
          Seq(c.ticker, moving.max, close.sum, close.size.toLong)
        })

      case "dividend_asof" => Query(kind,
        () => Joins.asofJoin(
            prices.filter(col("year") === year).select("Ticker", "Date", "Close"),
            spark.table("dividends"), "Ticker", "Date", "Amount")
          .groupBy("Ticker")
          .agg(count(col("Amount")).as("covered"), sum(col("Amount")).as("amount")),
        () => m.companies.map { c =>
          val divs = c.dividends.sortBy(_._1.toEpochDay)
          val asOf = barsIn(c, year).flatMap(b =>
            divs.filter(d => !d._1.isAfter(b.date)).lastOption.map(_._2 / 100.0))
          Seq(c.ticker, asOf.size.toLong, if (asOf.isEmpty) null else asOf.sum)
        })

      case "topk_return" => Query(kind,
        () => spark.sql(
          s"""WITH r AS (SELECT Ticker,
             |             (max_by(Close, Date) - min_by(Open, Date)) / min_by(Open, Date) AS ret
             |           FROM prices WHERE year = $year GROUP BY Ticker),
             |     j AS (SELECT i.sector, r.Ticker, r.ret,
             |             row_number() OVER (PARTITION BY i.sector
             |                                ORDER BY r.ret DESC, r.Ticker) AS rk
             |           FROM r JOIN company_info i ON i.symbol = r.Ticker)
             |SELECT sector, Ticker, ret, rk FROM j WHERE rk <= 3""".stripMargin),
        () => m.companies.groupBy(_.sector).toSeq.flatMap { case (s, cs) =>
          cs.map { c =>
            val b = barsIn(c, year)
            val o = b.head.open / 100.0
            (c.ticker, (b.last.close / 100.0 - o) / o)
          }.sortBy { case (t, r) => (-r, t) }.take(3).zipWithIndex.map {
            case ((t, r), i) => Seq(s, t, r, i + 1)
          }
        })

      case "ticker_lookup" => Query(kind,
        () => prices.filter(col("year") === year && col("Ticker") === company.ticker)
          .orderBy(col("Date").desc).limit(30)
          .select("Date", "Open", "High", "Low", "Close", "Volume"),
        () => barsIn(company, year).sortBy(-_.date.toEpochDay).take(30).map(b =>
          Seq(b.date.toString, b.open / 100.0, b.high / 100.0, b.low / 100.0,
            b.close / 100.0, b.volume.toDouble)),
        ordered = true)

      case "statement_pivot" => Query(kind,
        () => Reshape.pivot(
          spark.table("stmt_income_statement")
            .join(info.filter(col("sector") === sector)
              .select(col("symbol").as("Ticker")), Seq("Ticker"), "left_semi")
            .select(col("Ticker"), substring(col("Date"), 1, 4).as("fy"),
              col("Total_Revenue").as("rev")),
          Seq("Ticker"), "fy", "rev", m.statementYears.map(_.toString)),
        () => inSector(sector).map(c =>
          c.ticker +: m.statementYears.map(y => (c.revenue(y) / 100).toDouble)))

      case "esg_filter" =>
        val threshold = 10.0 + rng.nextInt(25)
        Query(kind,
          () => Sources.globWithKey(
              Sources.jsonDocuments(spark, s"$raw/esg/*.json", Schemas.sustainabilityJson),
              "Ticker", "([A-Z]+)\\.json$")
            .filter(col("esgScores.totalEsg") > threshold &&
              col("esgScores.peerEsgScorePerformance.avg") < threshold + 10)
            .join(info, col("Ticker") === col("symbol"))
            .groupBy("sector").count(),
          () => m.companies
            .filter(c => c.totalEsg > threshold && c.peerEsgAvg < threshold + 10)
            .groupBy(_.sector).toSeq.map { case (s, cs) => Seq(s, cs.size.toLong) })
    }
  }

  /** Whether collected rows match the query's expected rows. */
  def correct(q: Query, got: Seq[Seq[Any]]): Boolean =
    if (q.ordered) Check.sameOrderedRows(got, q.want()) else Check.sameRows(got, q.want())
}
