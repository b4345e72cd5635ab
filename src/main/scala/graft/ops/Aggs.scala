package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Aggregations (SURVEY.md §2.4 A1-A2).
  *
  * The reference computes no aggregates itself - yearly/per-ticker rollups
  * happen in BigQuery/Tableau over the warehouse tables
  * (`code/sql/DDLs:2-15`; `images/tableau_AMZN.png`). These functions are
  * that query surface. All use built-in declarative aggregates, so Catalyst
  * plans partial (map-side) + final aggregation automatically - at 100 TB
  * the map-side combine is what keeps the shuffle proportional to group
  * count, not row count.
  */
object Aggs {

  /** A1 - per-key, per-year OHLCV rollup: the flagship summary the reference
    * renders per ticker (open = first by date, close = last by date, high,
    * low, total volume). `min_by`/`max_by` on a total ordering column make
    * first/last deterministic - plain `first()`/`last()` in a groupBy are
    * order-dependent and unreproducible.
    */
  def yearlyOhlcv(prices: DataFrame, key: String, date: String): DataFrame =
    prices
      .withColumn("year", year(col(date)))
      .groupBy(col(key), col("year"))
      .agg(
        min_by(col("Open"), col(date)).as("year_open"),
        max_by(col("Close"), col(date)).as("year_close"),
        max(col("High")).as("year_high"),
        min(col("Low")).as("year_low"),
        sum(col("Volume")).as("total_volume"),
        count(lit(1)).as("trading_days"))

  /** A1 generalized - keyed yearly rollup over arbitrary measures. */
  def yearlyRollup(df: DataFrame, key: String, date: String,
                   measures: Seq[Column]): DataFrame =
    df.withColumn("year", year(col(date)))
      .groupBy(col(key), col("year"))
      .agg(measures.head, measures.tail: _*)

  /** A2 - exact + approximate distinct counts per group.
    * `approx_count_distinct` is a mergeable HLL++ sketch: constant memory per
    * group regardless of cardinality, the right default at 100 TB where an
    * exact distinct forces a second shuffle on the counted column.
    */
  def distinctCounts(df: DataFrame, group: String, counted: String,
                     rsd: Double = 0.05): DataFrame =
    df.groupBy(col(group)).agg(
      count_distinct(col(counted)).as("exact_distinct"),
      approx_count_distinct(col(counted), rsd).as("approx_distinct"))

  /** A2 - arbitrary GROUPING SETS (the general form rollup/cube are sugar
    * for): each set is one grouping combination; Catalyst plans ONE scan +
    * Expand + a single hash aggregate, vs N scans for the union-of-groupbys
    * a user would otherwise write. `groupingSets` entries must be subsets
    * of `dims`; `grouping_id()` disambiguates which set produced each row.
    */
  def groupingSetsAgg(df: DataFrame, dims: Seq[String],
                      groupingSets: Seq[Seq[String]], aggs: Seq[Column]): DataFrame =
    df.groupingSets(groupingSets.map(_.map(col)), dims.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)

  /** Column profiler: per-column row count, null count, exact distinct
    * count, and min/max (as strings) — the standard data-quality /
    * schema-drift audit a pipeline runs before trusting a new drop of
    * data.
    *
    * Scale shape — two pruned scans, deliberately: the count pass plans
    * the multi-column `count(DISTINCT ...)` via one Expand (input
    * multiplied by #columns, each lane pruned to its own column) with an
    * all-long aggregate buffer, so it stays a HASH aggregate; shuffle
    * volume is per-column distinct cardinality, never row count. min/max
    * ride a SEPARATE keyless global aggregate: putting string min/max
    * into the Expand aggregate forces the whole thing into a
    * SortAggregate — a full sort of the #columns-times-expanded stream,
    * which dominates everything at scale (measured 6.5 s -> hash at
    * sf0.1). The keyless range pass needs no sort and no Expand. The
    * final unpivot explodes a ONE-row frame — free.
    *
    * min/max are emitted as strings so heterogeneous column types fit one
    * output schema; callers needing typed stats use the per-column
    * aggregates directly. Timestamp/date columns should be cast by the
    * caller to a portable string form first.
    */
  /** Fixed-width HISTOGRAM of a numeric column: `nBins` equal-width bins
    * over the exact [min, max] range, empty bins kept (a histogram with
    * silent gaps misreads as continuous mass). The max lands in the last
    * bin (half-open bins, closed top). Range bounds ride scalar
    * subqueries; binning is one codegen'd projection + one hash
    * aggregate; the empty-bin fill joins a broadcast nBins-row frame —
    * nothing sorted, nothing corpus-sized moved.
    *
    * The histogram is over NON-NULL values only: NULL has no position on
    * the axis, so NULL rows are excluded up front (a NULL `floor` result
    * would otherwise fall through `greatest`'s null-skipping into bin 0
    * and silently inflate it).
    */
  def histogram(df: DataFrame, valueCol: String, nBins: Int): DataFrame = {
    require(nBins > 0, s"nBins must be positive, got $nBins")
    import org.apache.spark.sql.graft.Bridge.scalarSubquery
    val v = col(valueCol).cast("double")
    val nonNull = df.where(v.isNotNull)
    val lo = scalarSubquery(nonNull.agg(min(v).as("lo")))
    val hi = scalarSubquery(nonNull.agg(max(v).as("hi")))
    val binned = nonNull.select(
        // Degenerate range (all values equal) puts everything in bin 0
        // rather than dividing by zero.
        when(hi > lo,
          least(greatest(floor((v - lo) / ((hi - lo) / nBins)), lit(0.0)),
            lit((nBins - 1).toDouble)).cast("int"))
          .otherwise(lit(0)).as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("n"))
    val spark = df.sparkSession
    spark.range(nBins).select(col("id").cast("int").as("bin"))
      .join(binned, Seq("bin"), "left")
      .select(col("bin"), coalesce(col("n"), lit(0L)).as("n"))
  }

  /** Percentile WINSORIZATION: clip a numeric column to its exact
    * interpolated [pLo, pHi] percentiles — the standard outlier guard
    * before feature scaling or loss-weighted sampling (clipping keeps
    * the row where a filter would drop it). The two bounds come from ONE
    * aggregate and ride a scalar subquery into the projection (the
    * [[graft.llm.TextAnalysis.qualityGate]] shape) — data-derived
    * constants, no join, no sort of the data.
    *
    * NULL values stay NULL: `least`/`greatest` skip NULL operands, so an
    * unguarded clip would silently replace NULL with the low bound. The
    * `isNotNull` guard keeps clipping a value-preserving transform on
    * nullable columns.
    */
  def winsorize(df: DataFrame, valueCol: String,
                pLo: Double, pHi: Double): DataFrame = {
    require(pLo >= 0 && pHi <= 1 && pLo < pHi,
      s"need 0 <= pLo < pHi <= 1, got $pLo, $pHi")
    val v = col(valueCol).cast("double")
    // Backtick-quote the identifier (doubling embedded backticks) so the
    // SQL-string percentile matches the column-API style everywhere else.
    val q = "`" + valueCol.replace("`", "``") + "`"
    val lo = org.apache.spark.sql.graft.Bridge.scalarSubquery(
      df.agg(expr(s"percentile(CAST($q AS DOUBLE), $pLo)").as("lo")))
    val hi = org.apache.spark.sql.graft.Bridge.scalarSubquery(
      df.agg(expr(s"percentile(CAST($q AS DOUBLE), $pHi)").as("hi")))
    df.withColumn(s"${valueCol}_wins",
      when(v.isNotNull, least(greatest(v, lo), hi)))
  }

  /** Accuracy CONTRACT of `approx_percentile` — the same oracle shape as
    * the HLL contract row: the sketch VALUE is engine-specific, but its
    * guarantee (rank error ≤ n/accuracy) is checkable anywhere. Per
    * requested percentile p: the returned value's rank INTERVAL
    * [count(< v)+1, count(≤ v)] (ties make rank an interval, not a
    * point) must intersect [p·n − n/accuracy − 1, p·n + n/accuracy + 1].
    * Output `(p, n_rows, rank_err_ok)`.
    *
    * Scale shape: one aggregate for the sketch + count, then the tiny
    * per-p frame broadcasts against ONE more scan for the rank counts —
    * no sort anywhere (that is the point of the sketch).
    */
  def approxPercentileContract(df: DataFrame, valueCol: String,
                               ps: Seq[Double], accuracy: Int): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p > 0 && p < 1),
      s"percentiles must be in (0,1), got $ps")
    require(accuracy > 0, s"accuracy must be positive, got $accuracy")
    val v = col(valueCol).cast("double")
    val pArr = array(ps.map(lit): _*)
    val perP = df
      .agg(percentile_approx(v, pArr, lit(accuracy)).as("avs"),
        count(v).as("n"))
      .select(col("n"), posexplode(col("avs")).as(Seq("i", "av")))
      .select(col("n"), element_at(pArr, col("i") + 1).as("p"), col("av"))
    df.select(v.as("x")).join(broadcast(perP), lit(true))
      .groupBy(col("p"), col("n"))
      .agg(
        sum(when(col("x") < col("av"), 1L).otherwise(0L)).as("rlo"),
        sum(when(col("x") <= col("av"), 1L).otherwise(0L)).as("rhi"))
      .select(col("p"), col("n").as("n_rows"),
        ((col("rhi").cast("double") >=
            col("p") * col("n") - col("n").cast("double") / accuracy - 1) &&
          ((col("rlo") + 1).cast("double") <=
            col("p") * col("n") + col("n").cast("double") / accuracy + 1))
          .cast("int").as("rank_err_ok"))
  }

  def profileColumns(df: DataFrame, cols: Seq[String]): DataFrame = {
    val countAggs = cols.flatMap { c =>
      Seq(count(col(c)).as(s"nn_$c"), countDistinct(col(c)).as(s"nd_$c"))
    } :+ count(lit(1)).as("n_rows")
    val ranges = cols.flatMap { c =>
      Seq(min(col(c)).cast("string").as(s"mn_$c"),
        max(col(c)).cast("string").as(s"mx_$c"))
    }
    df.agg(countAggs.head, countAggs.tail: _*)
      .crossJoin(df.agg(ranges.head, ranges.tail: _*))
      .select(explode(array(cols.map { c =>
        struct(lit(c).as("col_name"), col("n_rows"),
          (col("n_rows") - col(s"nn_$c")).as("n_null"),
          col(s"nd_$c").as("n_distinct"),
          col(s"mn_$c").as("min_value"),
          col(s"mx_$c").as("max_value"))
      }: _*)).as("p"))
      .select(col("p.*"))
  }

  /** Key-skew diagnostic: the `k` heaviest keys with their share of all
    * rows — the measurement behind every salting/AQE-skew decision
    * ([[Joins.saltedJoin]] consumes what this reports). SINGLE scan of
    * `df`: a map-side-combined count to key cardinality, then ONE
    * partial-aggregatable pass over the counts computing `sum(n)` and a
    * [[graft.functions.AggFunctions.topK]] bounded heap together, so the
    * final shuffle is one (total, k-heap) row per partition — the
    * earlier scalar-subquery formulation re-aggregated the counts from
    * `df` and scanned the input twice, doubling the dominant cost at the
    * 100 TB scale this diagnoses. Ties break on (n desc, key asc);
    * integral keys ride the heap's string payload zero-padded to 20
    * digits so lexical ASC == numeric ASC (keys must be NON-NEGATIVE — a
    * negative key would break that equivalence, so the decode fails loud
    * via raise_error instead of silently emitting a NULL key; exactness
    * holds to 2^53 rows per key).
    */
  def keySkewTopK(df: DataFrame, keyCol: String, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    import org.apache.spark.sql.types._
    val keyType = df.schema(keyCol).dataType
    val payload = keyType match {
      case StringType => col(keyCol)
      case ByteType | ShortType | IntegerType | LongType =>
        lpad(col(keyCol).cast("string"), 20, "0")
      case other => throw new IllegalArgumentException(
        s"keySkewTopK supports string/integral keys, got ${other.sql}")
    }
    val counts = df.groupBy(col(keyCol)).agg(count(lit(1)).as("n"))
    val one = counts.agg(
      sum(col("n")).as("total"),
      graft.functions.AggFunctions.topK(
        col("n").cast("double"), payload, k).as("tk"))
    // Lexical payload order only equals numeric order for non-negative
    // keys; "-5" zero-padded fails the cast back. Fail LOUD, not NULL.
    val key = if (keyType == StringType) col("e.value")
      else when(col("e.value").try_cast(LongType).isNull,
        raise_error(concat(lit("keySkewTopK: negative or unparseable " +
          s"integral key in top-k payload for '$keyCol': "), col("e.value"))))
        .otherwise(col("e.value").try_cast(LongType)).cast(keyType)
    one.select(col("total"), explode(col("tk")).as("e"))
      .select(
        key.as(keyCol),
        col("e.score").cast("long").as("n"),
        (col("e.score") / col("total").cast("double")).as("share"))
  }

  /** Per-group simple linear regression (OLS, one feature + intercept)
    * via the closed-form normal equations — the trend-fitting step of a
    * metrics pipeline (fit value ~ covariate per entity, flag groups
    * whose slope breaks trend). ONE map-side-combined aggregate computes
    * the five sufficient sums; slope/intercept/r2 are per-group scalar
    * projections on the group-cardinality frame — no second data pass,
    * no ML-library iteration for what has an exact closed form.
    *
    * Exactness contract (the events_corr recipe): x and y are cast to
    * DECIMAL before summing, so the sums are order-independent exact
    * decimals; doubles appear only in the final derived expressions,
    * whose parenthesization the oracle replicates verbatim. Degenerate
    * groups (n < 2 or zero x-variance) yield NULL slope/intercept/r2 via
    * SQL division semantics — the honest answer, not a fabricated fit.
    *
    * r2 is computed as the squared Pearson correlation written as ONE
    * ratio of products (not slope², not 1 − SSE/SST, both of which need
    * a second pass or compound float rounding differently).
    */
  def olsSimple(df: DataFrame, group: String, xCol: String,
                yCol: String): DataFrame = {
    val x = col(xCol).cast("decimal(18,2)")
    val y = col(yCol).cast("decimal(18,2)")
    // Rows where EITHER coordinate is NULL (missing JSON key, cast
    // failure) carry no information about the fit and must not count:
    // sum() skips NULLs but count(lit(1)) would not, and inconsistent
    // sufficient statistics give a silently wrong slope rather than a
    // NULL — the psiDrift/madOutliers pre-filter convention.
    val agg = df.filter(x.isNotNull && y.isNotNull).groupBy(col(group)).agg(
      count(lit(1)).as("n"), sum(x).as("sx"), sum(y).as("sy"),
      sum(x * y).as("sxy"), sum(x * x).as("sx2"), sum(y * y).as("sy2"))
    def d(c: String) = col(c).cast("double")
    val cov = col("n") * d("sxy") - d("sx") * d("sy")
    // nullif makes the degenerate divisions (constant x within a group,
    // or n = 1) NULL explicitly: under ANSI a bare /0 raises, and the
    // oracle's engine would emit ±inf — nullif pins both to the same
    // honest NULL.
    val varX = nullif(col("n") * d("sx2") - d("sx") * d("sx"), lit(0.0))
    val varY = col("n") * d("sy2") - d("sy") * d("sy")
    val slope = (cov / varX).as("slope")
    agg.select(col(group), col("n"), slope,
        ((d("sy") - (cov / varX) * d("sx")) / col("n")).as("intercept"),
        ((cov * cov) / nullif(varX * varY, lit(0.0))).as("r2"))
  }

  /** Broadcast hint for a one-row-per-group frame, guarded by measured
    * cardinality (the [[graft.llm.Dedup]] `maxBroadcastRight` idiom):
    * small frames keep the hint, larger ones fall back to plain joins
    * and let AQE decide at runtime. One count job; med and mad frames
    * share a group count, so callers count once and reuse the hint.
    * Callers MUST pass a [[Materialize.pin]]ned frame: the guard count
    * then reads the pinned blocks and every downstream join reuses
    * them, so the measurement costs one cheap job instead of
    * re-running the grouped aggregate per consumer.
    */
  private def groupFrameHint(groups: DataFrame,
                             maxRows: Long): DataFrame => DataFrame =
    if (groups.count() <= maxRows) broadcast _ else identity

  /** Per-group robust outlier screen via MEDIAN / MAD (median absolute
    * deviation) — the heavy-tail-safe companion to the z-score screen
    * (one wild value drags a mean/stddev enough to mask itself; it
    * moves a median by at most one rank). Flags rows with
    * |x − median| > k·MAD and reports per-group medians, MADs, and
    * outlier counts.
    *
    * Three passes by necessity (median → deviations → MAD → count):
    * each is a grouped aggregate + a broadcast of the group-cardinality
    * frame — no data-scale shuffle beyond the grouped aggregations.
    * Like [[winsorize]], the percentile is EXACT (interpolated, the
    * engine-portable definition the oracle's quantile_cont matches);
    * the exact aggregate buffers each group's values, so at extreme
    * per-group cardinalities callers trade to [[madOutliersApprox]],
    * the bounded-state twin with a rank-interval contract oracle.
    *
    * Degenerate case, by the classical MAD definition: when a MAJORITY
    * of a group's values equal its median, MAD = 0 and the predicate
    * |x − med| > k·0 flags EVERY row with any deviation, regardless of
    * k. That is the textbook behavior (the robust scale estimate has
    * collapsed, so any deviation is infinitely many "robust sigmas"
    * out), but it surprises on heavy-point-mass distributions —
    * callers who prefer silence there can filter `mad = 0` groups from
    * the output, which reports mad per group exactly so the choice
    * stays with the caller.
    *
    * Group-cardinality regime: the med/mad frames are one row per
    * GROUP, so the broadcast hint is correct for the few-groups /
    * huge-groups shape this screen exists for. A million-group call
    * would broadcast a million-row frame to every executor —
    * `maxBroadcastGroups` guards that: above it the hint is dropped
    * and the joins fall back to plain shuffle joins (AQE still
    * broadcasts at runtime if the frame turns out small). The guard
    * costs one count of the first grouped aggregate.
    *
    * @return one row per group: (group, med, mad, n, n_outliers)
    */
  def madOutliers(df: DataFrame, group: String, valueCol: String,
                  k: Double, maxBroadcastGroups: Long = 100000L): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val base = df.select(col(group), col(valueCol).cast("double").as("__v"))
      .filter(col("__v").isNotNull)
    // Pinned so the hint's guard count and the two downstream joins all
    // read one materialization of the median aggregate instead of
    // re-running it per consumer.
    val med = Materialize.pin(base.groupBy(col(group))
      .agg(expr(s"percentile(__v, 0.5)").as("med")))
    val hint = groupFrameHint(med, maxBroadcastGroups)
    val dev = base.join(hint(med), Seq(group))
      .withColumn("__dev", abs(col("__v") - col("med")))
    val mad = dev.groupBy(col(group))
      .agg(expr("percentile(__dev, 0.5)").as("mad"))
    dev.join(hint(mad), Seq(group))
      .groupBy(col(group))
      .agg(max(col("med")).as("med"), max(col("mad")).as("mad"),
        count(lit(1)).as("n"),
        sum(when(col("__dev") > lit(k) * col("mad"), 1L).otherwise(0L))
          .as("n_outliers"))
  }

  /** Bounded-state twin of [[madOutliers]] for extreme per-group
    * cardinalities: median and MAD come from `approx_percentile`
    * (KLL-style sketch, O(accuracy·log n) state per group) instead of
    * the exact aggregate that buffers every group value. Same
    * three-pass shape — grouped sketch → broadcast → deviations →
    * grouped sketch → broadcast → screen — so only the aggregation
    * state changes, not the shuffle count.
    *
    * The sketch VALUES are engine-specific, so like
    * [[approxPercentileContract]] the checkable surface is the rank
    * GUARANTEE, carried per group: `med_rank_ok` — the approx median's
    * rank interval [count(< med)+1, count(≤ med)] intersects
    * [n/2 − n/accuracy − 1, n/2 + n/accuracy + 1]; `mad_rank_ok` — the
    * same bound for the approx MAD against the deviation frame it was
    * sketched from. med/mad/n_outliers ride along for callers; a
    * cross-engine oracle should project (group, n, med_rank_ok,
    * mad_rank_ok).
    *
    * The MAD = 0 degenerate case of the exact twin applies unchanged,
    * as does its group-cardinality guard: `maxBroadcastGroups` drops
    * the broadcast hint on the per-group med/mad frames when the group
    * count exceeds it (plain shuffle joins; AQE re-broadcasts at
    * runtime if actually small), so a million-group call cannot ship a
    * million-row frame to every executor.
    *
    * @return one row per group:
    *         (group, n, med, mad, n_outliers, med_rank_ok, mad_rank_ok)
    */
  def madOutliersApprox(df: DataFrame, group: String, valueCol: String,
                        k: Double, accuracy: Int = 1000,
                        maxBroadcastGroups: Long = 100000L): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(accuracy > 0, s"accuracy must be positive, got $accuracy")
    val base = df.select(col(group), col(valueCol).cast("double").as("__v"))
      .filter(col("__v").isNotNull)
    // Pinned for the same single-materialization reason as the exact twin.
    val med = Materialize.pin(base.groupBy(col(group))
      .agg(percentile_approx(col("__v"), lit(0.5), lit(accuracy)).as("med"),
        count(lit(1)).as("n")))
    val hint = groupFrameHint(med, maxBroadcastGroups)
    val dev = base.join(hint(med), Seq(group))
      .withColumn("__dev", abs(col("__v") - col("med")))
    val mad = dev.groupBy(col(group))
      .agg(percentile_approx(col("__dev"), lit(0.5), lit(accuracy)).as("mad"))
    // Rank interval [rlo+1, rhi] must intersect the sketch's promised
    // band around rank n/2 — the approxPercentileContract bound.
    def rankOk(rlo: Column, rhi: Column): Column = {
      val n = col("n").cast("double")
      val slack = n / accuracy + 1
      ((rhi.cast("double") >= n / 2 - slack) &&
        ((rlo + 1).cast("double") <= n / 2 + slack)).cast("int")
    }
    dev.join(hint(mad), Seq(group))
      .groupBy(col(group))
      .agg(max(col("n")).as("n"), max(col("med")).as("med"),
        max(col("mad")).as("mad"),
        sum(when(col("__v") < col("med"), 1L).otherwise(0L)).as("mrlo"),
        sum(when(col("__v") <= col("med"), 1L).otherwise(0L)).as("mrhi"),
        sum(when(col("__dev") < col("mad"), 1L).otherwise(0L)).as("drlo"),
        sum(when(col("__dev") <= col("mad"), 1L).otherwise(0L)).as("drhi"),
        sum(when(col("__dev") > lit(k) * col("mad"), 1L).otherwise(0L))
          .as("n_outliers"))
      .select(col(group), col("n"), col("med"), col("mad"),
        col("n_outliers"),
        rankOk(col("mrlo"), col("mrhi")).as("med_rank_ok"),
        rankOk(col("drlo"), col("drhi")).as("mad_rank_ok"))
  }

  /** Count-min-sketch frequency audit over the exact heavy hitters: one
    * pass builds the depth×width counter matrix (each row a distinct
    * hash of the key), then the exact top-`k` keys' sketch estimates —
    * min over their `depth` counters — ride next to their true counts
    * with the CMS guarantee flag (`est >= true`, which the sketch can
    * never violate). This is the audit a pipeline runs BEFORE trusting
    * CMS at a width: how much do the heaviest keys' estimates inflate
    * under this (depth, width) on this data?
    *
    * Like the HLL sketch ([[graft.functions.HllSketch]]), every step is
    * integer arithmetic on portable hashes ([[graft.llm.TextOps.hash60]])
    * — so unlike a typical sketch the ESTIMATE itself is exact-oracle-
    * checkable, not just its contract. Scale shape: the counter build is
    * one map-side-combined aggregate whose shuffle is ≤ depth·width rows
    * per map partition regardless of data size (the explode fans
    * depth× but combines before travel); the probe side is k·depth rows
    * joining a broadcast counter frame.
    *
    * @return one row per exact-top-k key:
    *         (keyCol, n, cms_est, over_ok) ordered facts, over_ok ∈ {1}
    */
  def cmsHeavyHitters(df: DataFrame, keyCol: String, depth: Int,
                      width: Int, k: Int): DataFrame = {
    require(depth >= 1 && depth <= 16, s"depth must be in [1,16], got $depth")
    require(width >= 2, s"width must be >= 2, got $width")
    def buckets(c: Column): Column = array((0 until depth).map { i =>
      struct(lit(i).as("r"),
        pmod(graft.llm.TextOps.hash60(concat(lit(s"cms:$i:"), c)),
          lit(width.toLong)).cast("int").as("b"))
    }: _*)
    val counters = df.select(col(keyCol).cast("string").as("__k"))
      .select(explode(buckets(col("__k"))).as("e"))
      .select(col("e.r").as("r"), col("e.b").as("b"))
      .groupBy(col("r"), col("b")).agg(count(lit(1)).as("c"))
    val top = keySkewTopK(df, keyCol, k).select(col(keyCol), col("n"))
    top.select(col(keyCol), col("n"),
        explode(buckets(col(keyCol).cast("string"))).as("e"))
      .select(col(keyCol), col("n"), col("e.r").as("r"), col("e.b").as("b"))
      .join(broadcast(counters), Seq("r", "b"))
      .groupBy(col(keyCol), col("n"))
      .agg(min(col("c")).as("cms_est"))
      .withColumn("over_ok", (col("cms_est") >= col("n")).cast("int"))
  }
}
