package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}

import graft.model.{Schemas, StatementMetrics, WarehouseDdl}
import graft.ops.{Aggs, Clean, Reshape, Sources, Windows}
import graft.pipeline.Pipeline

/** The reference pipeline, raw drop -> warehouse tables + yearly summary,
  * run through the library's public layer functions.
  */
object Etl {

  val StageNames: Seq[String] = Seq("landing", "statements", "json", "load", "summary")

  private def strings(names: String*): StructType =
    StructType(names.map(StructField(_, StringType, nullable = true)))

  private val KaggleSchema = strings("Date", "Open", "High", "Low", "Close", "Volume", "OpenInt")
  private val ApiSchema = strings("Date", "Open", "High", "Low", "Close", "AdjClose", "Volume")
  private val InfoSchema: StructType = strings(Schemas.infoFields: _*)
  /** The flattened sustainability table: each peer struct keeps its avg. */
  private val EsgSchema: StructType = {
    val nested = Schemas.sustainabilityJson("esgScores").dataType.asInstanceOf[StructType]
    StructType(Schemas.sustainabilityFields.map { f =>
      StructField(f, nested(f).dataType match {
        case _: StructType => DoubleType
        case t => t
      })
    } :+ StructField("Ticker", StringType))
  }
  private val TickerFromCsv = "([A-Z]+)\\.csv$"
  private val TickerFromJson = "([A-Z]+)\\.json$"

  /** What one run produced, collected for the output check. */
  final case class Output(stages: Seq[Pipeline.StageResult],
                          rowsByTicker: Map[String, Long],
                          summary: Seq[Seq[Any]],
                          statementRows: Map[String, Long],
                          infoRows: Long, esgRows: Long)

  /** One full raw -> warehouse + summary run. Tables land under `out` and
    * are registered as session views (`prices`, `stmt_<sheet>`,
    * `company_info`, `esg`).
    */
  def run(spark: SparkSession, raw: Path, out: Path, tr: Tracer): Output = {
    var rowsByTicker = Map.empty[String, Long]
    var statementRows = Map.empty[String, Long]
    var infoRows, esgRows = 0L
    var summary = Seq.empty[Seq[Any]]
    def stage(name: String)(body: => Unit) =
      Pipeline.Stage(name)(_ => tr.span(s"etl.$name")(body))
    val stages = Seq(
      stage("landing") {
        val kaggle = Sources.globWithKey(
          Clean.standardizeKaggle(
            Sources.csvWithHeader(spark, s"$raw/prices/kaggle/*.csv", KaggleSchema)
              .drop("OpenInt")),
          "Ticker", TickerFromCsv)
        // Ticker before the per-file junk skip: the skip's shuffle severs
        // the file context the key is recovered from.
        val api = Clean.parseDateStrict(
          Windows.skipRowsPerFile(
            Sources.globWithKey(
              Sources.csvHeaderless(spark, s"$raw/prices/api/*.csv", ApiSchema),
              "Ticker", TickerFromCsv), 4), "Date")
          .select(col("Date"),
            col("Open").cast("double").as("Open"),
            col("High").cast("double").as("High"),
            col("Low").cast("double").as("Low"),
            col("Close").cast("double").as("Close"),
            Clean.numericFromGrouped(col("Volume")).as("Volume"),
            col("Ticker"))
          .withColumn("Source", lit("API"))
        val combined = kaggle.unionByName(api.select(kaggle.columns.map(col): _*))
          .withColumn("year", year(col("Date")))
        Sources.writeParquetPartitioned(combined, s"$out/landing", "year")
      },
      stage("statements") {
        Gen.Sheets.foreach { sheet =>
          val keyed = Sources.globWithKey(
            Sources.statementCsv(spark, s"$raw/statements/$sheet/*.csv"),
            "Ticker", TickerFromCsv)
          val metrics = StatementMetrics.bySheet(sheet)
          val wide = Reshape.transposeStatementKeyed(keyed, "name", metrics, "Ticker")
          Sources.writeParquetSingle(
            wide.select(col("Ticker") +: col("Date") +:
              metrics.map(m => col(s"`$m`").as(WarehouseDdl.columnName(m))): _*),
            s"$out/stmt_$sheet")
        }
      },
      stage("json") {
        Sources.writeNdjson(
          Clean.flattenInfo(Sources.jsonDocuments(spark, s"$raw/info/*.json", Schemas.infoJson)),
          s"$out/info")
        Sources.writeNdjson(
          Sources.globWithKey(
            Clean.flattenSustainability(
              Sources.jsonDocuments(spark, s"$raw/esg/*.json", Schemas.sustainabilityJson)),
            "Ticker", TickerFromJson),
          s"$out/esg")
      },
      stage("load") {
        val prices = Sources.loadWarehouseParquet(spark, s"$out/landing", "prices")
        rowsByTicker = prices.groupBy("Ticker").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        statementRows = Gen.Sheets.map { sheet =>
          sheet -> Sources.loadWarehouseParquet(spark, s"$out/stmt_$sheet", s"stmt_$sheet").count()
        }.toMap
        infoRows = Sources.loadWarehouseNdjson(spark, s"$out/info", InfoSchema, "company_info").count()
        esgRows = Sources.loadWarehouseNdjson(spark, s"$out/esg", EsgSchema, "esg").count()
      },
      stage("summary") {
        summary = Aggs.yearlyOhlcv(spark.table("prices"), "Ticker", "Date")
          .select("Ticker", "year", "year_open", "year_close", "year_high",
            "year_low", "total_volume", "trading_days")
          .collect().map(_.toSeq).toSeq
      })
    Output(Pipeline.runStages(spark, stages), rowsByTicker, summary, statementRows,
      infoRows, esgRows)
  }

  /** Expected yearly OHLCV rows, straight from the generated bars. */
  def expectedSummary(m: Gen.Market): Seq[Seq[Any]] =
    m.companies.flatMap { c =>
      c.bars.groupBy(_.date.getYear).toSeq.map { case (y, bs) =>
        val s = bs.sortBy(_.date.toEpochDay)
        Seq(c.ticker, y, s.head.open / 100.0, s.last.close / 100.0,
          s.map(_.high).max / 100.0, s.map(_.low).min / 100.0,
          s.map(_.volume).sum.toDouble, s.size.toLong)
      }
    }

  /** Mismatches between a run's output and the generator's truth. */
  def check(m: Gen.Market, o: Output): Seq[String] = {
    val errs = Seq.newBuilder[String]
    o.stages.filter(_.error.nonEmpty).foreach(s => errs += s"stage ${s.name}: ${s.error.get}")
    if (o.stages.size != StageNames.size) errs += s"ran ${o.stages.size} stages"
    val wantRows = m.companies.map(c => c.ticker -> c.bars.size.toLong).toMap
    if (o.rowsByTicker != wantRows) errs += "clean-row counts per ticker differ"
    if (!Check.sameRows(o.summary, expectedSummary(m))) errs += "yearly OHLCV summary differs"
    Gen.Sheets.foreach { sheet =>
      val want = m.companies.size.toLong * m.statementYears.size
      if (!o.statementRows.get(sheet).contains(want)) errs += s"stmt_$sheet rows != $want"
    }
    if (o.infoRows != m.companies.size) errs += s"company_info rows ${o.infoRows}"
    if (o.esgRows != m.companies.size) errs += s"esg rows ${o.esgRows}"
    errs.result()
  }

  /** Data files (not markers) under `dir`. */
  def dataFiles(dir: Path): Long = {
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.filter(p => Files.isRegularFile(p) && {
        val n = p.getFileName.toString
        !n.startsWith(".") && !n.startsWith("_")
      }).count()
      finally s.close()
    }
  }
}

/** Order-insensitive result comparison with a relative tolerance on
  * doubles (sums in another order differ in the last bits).
  */
object Check {
  private def norm(v: Any): Any = v match {
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case i: Int => i.toLong
    case f: Float => f.toDouble
    case b: java.math.BigDecimal => b.doubleValue()
    case other => other
  }

  private def key(r: Seq[Any]): String = r.map {
    case d: Double => f"$d%.4f"
    case x => String.valueOf(x)
  }.mkString("|")

  def close(a: Double, b: Double): Boolean =
    a == b || math.abs(a - b) <= 1e-9 * math.max(math.abs(a), math.abs(b))

  def sameRow(a: Seq[Any], b: Seq[Any]): Boolean =
    a.size == b.size && a.zip(b).forall {
      case (x: Double, y: Double) => close(x, y)
      case (x, y) => x == y
    }

  def sameRows(got: Seq[Seq[Any]], want: Seq[Seq[Any]]): Boolean = {
    val g = got.map(_.map(norm)).sortBy(key)
    val w = want.map(_.map(norm)).sortBy(key)
    g.size == w.size && g.zip(w).forall { case (a, b) => sameRow(a, b) }
  }

  def sameOrderedRows(got: Seq[Seq[Any]], want: Seq[Seq[Any]]): Boolean =
    got.size == want.size && got.zip(want).forall { case (a, b) =>
      sameRow(a.map(norm), b.map(norm))
    }
}
