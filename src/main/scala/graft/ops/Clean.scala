package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.model.Schemas

/** Projections / filters / scalar cleanup (SURVEY.md §2.2 P1-P10, §2.8 F1-F9).
  *
  * These are the standardize steps of the reference's one true Spark job
  * (`code/spark-jobs/raw_to_landing_sparkjob.py:9-106`) plus the JSON
  * flattens of the driver-only scripts
  * (`code/scripts/transform_and_copy_to_landing_info.py:43-63`,
  * `..._sustainability.py:43-98`), each re-expressed as a pure
  * DataFrame -> DataFrame function of built-in (codegen'd) expressions -
  * no UDFs anywhere, so every step stays inside whole-stage codegen.
  */
object Clean {

  /** F1+P1 - parse a `yyyy-MM-dd` string column to DateType and drop rows
    * that fail to parse (`raw_to_landing_sparkjob.py:35-37`). `try_to_date`
    * is total (parse-or-null; plain `to_date` THROWS under Spark 4's default
    * ANSI mode), so the null filter is exactly the reference's "reject junk
    * dates" semantics.
    */
  def parseDateStrict(df: DataFrame, column: String, fmt: String = "yyyy-MM-dd"): DataFrame =
    df.withColumn(column, try_to_date(col(column), fmt))
      .filter(col(column).isNotNull)

  /** F3+F2 - strip thousands separators and cast to double
    * (`raw_to_landing_sparkjob.py:47,100`: Volume arrives as `"2,134,800"`).
    */
  def numericFromGrouped(c: Column): Column =
    regexp_replace(c, ",", "").cast("double")

  /** Kaggle-side standardize (`raw_to_landing_sparkjob.py:9-54`):
    * S1 scan output -> typed (Date, Open, High, Low, Close, Volume, Source).
    * P3 drops `OpenInt`; P5 appends the literal `Source` tag.
    */
  def standardizeKaggle(raw: DataFrame): DataFrame =
    parseDateStrict(raw, "Date")
      .select(
        col("Date"),
        col("Open").cast("double").as("Open"),
        col("High").cast("double").as("High"),
        col("Low").cast("double").as("Low"),
        col("Close").cast("double").as("Close"),
        numericFromGrouped(col("Volume")).as("Volume"))
      .withColumn("Source", lit("Kaggle"))

  /** API-side standardize (`raw_to_landing_sparkjob.py:78-103`): headerless
    * scan whose first 4 physical rows are metadata -> skip them (W1), drop
    * `AdjClose` (P3), reorder/cast to the shared shape (P4), tag `Source`.
    */
  def standardizeApi(raw: DataFrame): DataFrame =
    parseDateStrict(Windows.skipRows(raw, 4), "Date")
      .select(
        col("Date"),
        col("Open").cast("double").as("Open"),
        col("High").cast("double").as("High"),
        col("Low").cast("double").as("Low"),
        col("Close").cast("double").as("Close"),
        numericFromGrouped(col("Volume")).as("Volume"))
      .withColumn("Source", lit("API"))

  /** O1+P5+P6 - combine standardized frames and derive the partition key
    * (`raw_to_landing_sparkjob.py:131-137`): union by name, tag `Ticker`,
    * add `year` so the S6 write partitions by it.
    */
  def combine(kaggle: DataFrame, api: DataFrame, ticker: String): DataFrame =
    kaggle.unionByName(api)
      .withColumn("Ticker", lit(ticker))
      .withColumn("year", year(col("Date")))

  /** P9+F9 - flatten a schema'd info document to the reference's 11 output
    * fields with `""` defaults for missing keys
    * (`transform_and_copy_to_landing_info.py:43-63`; note `address1` ->
    * `address`). The reference emits Python `""` for absent keys even for
    * numerics; parity mode reproduces that by casting through string.
    */
  def flattenInfo(doc: DataFrame): DataFrame = {
    def s(name: String, out: String): Column =
      coalesce(col(name).cast("string"), lit("")).as(out)
    doc.select(
      s("symbol", "symbol"), s("shortName", "shortName"),
      s("industry", "industry"), s("sector", "sector"),
      s("fullTimeEmployees", "fullTimeEmployees"),
      s("totalRevenue", "totalRevenue"), s("address1", "address"),
      s("city", "city"), s("state", "state"), s("zip", "zip"),
      s("website", "website"))
  }

  /** P10 - flatten the nested ESG document: 31 fields off `esgScores`, the
    * four `peer*Performance` structs contributing only their `avg`
    * (`transform_and_copy_to_landing_sustainability.py:43-98`).
    */
  def flattenSustainability(doc: DataFrame): DataFrame = {
    val structAvg = Set(
      "peerEnvironmentPerformance", "peerEsgScorePerformance",
      "peerGovernancePerformance", "peerHighestControversyPerformance",
      "peerSocialPerformance")
    val cols = Schemas.sustainabilityFields.map { f =>
      if (structAvg(f)) col(s"esgScores.$f.avg").as(f)
      else col(s"esgScores.$f").as(f)
    }
    doc.select(cols: _*)
  }

  /** P7 - metric-allowlist semi-filter (`transform_job_tabular_entitities.py:19`,
    * lists `:117-317`). For the reference's fixed 39-60 element lists an
    * `isin` compiles to an in-set predicate evaluated at the scan; for
    * unbounded allowlists use a broadcast left-semi join instead
    * ([[Joins.semiFilter]]).
    */
  def allowlistFilter(df: DataFrame, column: String, allowed: Seq[String]): DataFrame =
    df.filter(col(column).isin(allowed: _*))
}
