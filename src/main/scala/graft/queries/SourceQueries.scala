package graft.queries

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, StringType, StructField, StructType}

import graft.model.{Schemas, Tables}
import graft.ops._
import graft.pipeline.Pipeline

/** Source/sink round-trip queries (SURVEY §2.1) plus the events table
  * surface. These exercise the reference's RAW INPUT formats - CSV with
  * junk rows, whole-file JSON documents - by deterministically deriving a
  * fixture file from the test tables, running the real scan + standardize
  * operators over it, and oracle-checking the result against the original
  * table. The fixture write is test plumbing; the graded dataflow is the
  * scan-to-result path.
  */
object SourceQueries {

  /** Deterministic scratch dir per (sf dir, query). */
  /** Frequent co-purchase edges (support >= 2) for the two graph-cohesion
    * queries: ONE exchange builds the baskets (groupBy order with a
    * map-side-combined collect_set — the set dedups within the order, so
    * no up-front distinct), pairs explode IN THE SCAN STAGE from the
    * sorted basket array (per-order fan-out bounded by basket size —
    * TPC-H-shaped orders hold <= ~17 items), and the support count is the
    * second and last exchange. The earlier items-self-join shape paid
    * three exchanges (distinct, both join sides) for the same result.
    */
  private def coPurchaseEdges(s: SparkSession, dir: String): DataFrame = {
    val baskets = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .groupBy(col("o")).agg(collect_set(col("p")).as("ps0"))
      .filter(size(col("ps0")) >= 2)
      .select(array_sort(col("ps0")).as("ps"))
    baskets
      .select(explode(flatten(transform(col("ps"), (x, i) =>
        transform(
          slice(col("ps"), i + lit(2), size(col("ps")) - i - lit(1)),
          y => struct(x.as("a"), y.as("b")))))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("supp"))
      .filter(col("supp") >= 2)
  }

  private def fixDir(dir: String, name: String): String =
    s"/tmp/graft_fixtures/${dir.replaceAll("[^A-Za-z0-9.]", "_")}/$name"

  /** Multi-sheet pipeline dimensions (s4_multi_sheet_pipeline): the four
    * reference sheets in a FIXED order (`transform_job_tabular_entitities
    * .py:50-56`), a 20-ticker roster matching the reference's stock-list
    * cardinality (`stock_list.csv:1-21`), three annual periods.
    */
  private val msSheets: Seq[(String, Seq[String])] = Seq(
    "balance_sheet" -> graft.model.StatementMetrics.balanceSheet,
    "cash_flow" -> graft.model.StatementMetrics.cashFlow,
    "income_statement" -> graft.model.StatementMetrics.incomeStatement,
    "quarterly" -> graft.model.StatementMetrics.quarterly)
  private val msTickers = Seq(
    "ALPHA", "BRAVO", "CHARL", "DELTA", "ECHO", "FOXTR", "GOLF", "HOTEL",
    "INDIA", "JULIE", "KILO", "LIMA", "MIKE", "NOVEM", "OSCAR", "PAPA",
    "QUEBE", "ROMEO", "SIERR", "TANGO")
  private val msPeriods = Seq("2021-12-31", "2022-12-31", "2023-12-31")

  /** Full-width single-ticker statement transpose over `metrics`
    * (s4_full_width_transpose / s4_cash_flow_width): deterministic literal
    * cells, an all-empty final period column (every metric null at that
    * Date), junk metric rows the allowlist must drop; VALUES-table oracle.
    */
  private def widthTransposeQ(fixName: String, metrics: Seq[String]): Q = {
    def v(i: Int, j: Int): Double = (i + 1) * 1000.0 + j + 0.25
    Q(
      (s, dir) => {
        val fix = fixDir(dir, fixName)
        val periods = (2020 to 2024).map(y => s"$y-12-31") :+ "2025-12-31"
        val header = "name," + periods.mkString(",")
        val rows = metrics.zipWithIndex.map { case (m, i) =>
          // Last period cell left empty -> null for every metric.
          m + "," + (0 until 5).map(j => v(i, j).toString).mkString(",") + ","
        } ++ Seq("Junk Metric,0,0,0,0,0,0", "Another Junk Row,1,1,1,1,1,1")
        Files.createDirectories(Paths.get(fix))
        Files.write(Paths.get(s"$fix/sheet.csv"),
          (header +: rows).mkString("\n").getBytes(StandardCharsets.UTF_8))
        val raw = Sources.statementCsv(s, s"$fix/sheet.csv")
        Reshape.transposeStatement(raw, "name", metrics, ticker = "ACME")
      },
      Some {
        val cols = (Seq("Date") ++ metrics ++ Seq("Ticker"))
          .map(c => "\"" + c + "\"").mkString(", ")
        val valueRows = (0 until 5).map { j =>
          s"('${2020 + j}-12-31', " +
            metrics.indices.map(i => v(i, j).toString).mkString(", ") +
            ", 'ACME')"
        } :+ ("('2025-12-31', " +
          metrics.indices.map(_ => "CAST(NULL AS DOUBLE)").mkString(", ") +
          ", 'ACME')")
        s"""SELECT * FROM (VALUES
           |${valueRows.mkString(",\n")}
           |) AS t($cols)""".stripMargin
      })
  }

  val all: Map[String, Q] = Map(

    // S1 + F1 + F2 + F3 + P4 - Kaggle-style CSV: header, all-string schema,
    // comma-grouped numbers, cast-later (raw_to_landing_sparkjob.py:13-48).
    "s1_csv_roundtrip" -> Q(
      (s, dir) => {
        val fix = fixDir(dir, "s1")
        Tables.orders(s, dir).select(
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("Date"),
            col("o_orderkey").cast("string").as("OrderKey"),
            col("o_orderstatus").as("Status"),
            format_number(floor(col("o_totalprice")), 0).as("PriceWhole"))
          .coalesce(1)
          .write.mode("overwrite").option("header", "true").csv(fix)
        val schema = StructType(Seq("Date", "OrderKey", "Status", "PriceWhole")
          .map(StructField(_, StringType, nullable = true)))
        val raw = Sources.csvWithHeader(s, fix, schema)
        Clean.parseDateStrict(raw, "Date").select(
          col("OrderKey").cast("long").as("o_orderkey"),
          col("Date"),
          col("Status").as("o_orderstatus"),
          Clean.numericFromGrouped(col("PriceWhole")).as("price_whole"))
      },
      Some("""SELECT o_orderkey, CAST(o_orderdate AS DATE) AS Date, o_orderstatus,
             |CAST(floor(o_totalprice) AS DOUBLE) AS price_whole FROM orders""".stripMargin)),

    // S2 + W1 + P2 + P3 - headerless CSV whose first 4 physical rows are
    // metadata junk, skipped by the global row_number idiom
    // (raw_to_landing_sparkjob.py:78-89).
    "s2_w1_skiprows" -> Q(
      (s, dir) => {
        val fix = fixDir(dir, "s2")
        val junk = s.createDataFrame(
          java.util.Arrays.asList(
            org.apache.spark.sql.Row(-4L, "Price", "junk"),
            org.apache.spark.sql.Row(-3L, "Ticker", "AMZN"),
            org.apache.spark.sql.Row(-2L, "Date", ""),
            org.apache.spark.sql.Row(-1L, "", "")),
          StructType(Seq(
            StructField("sort", org.apache.spark.sql.types.LongType),
            StructField("c0", StringType), StructField("c1", StringType))))
        val data = Tables.orders(s, dir).filter(col("o_orderkey") % 50 === 0)
          .select(col("o_orderkey").as("sort"),
            col("o_orderkey").cast("string").as("c0"),
            col("o_totalprice").cast("string").as("c1"))
        junk.unionByName(data)
          .repartition(1).sortWithinPartitions("sort").drop("sort")
          .write.mode("overwrite").option("header", "false").csv(fix)
        val schema = StructType(Seq("c0", "c1").map(StructField(_, StringType, nullable = true)))
        val raw = Sources.csvHeaderless(s, fix, schema)
        Windows.skipRows(raw, 4).select(
          col("c0").cast("long").as("o_orderkey"),
          col("c1").cast("double").as("o_totalprice"))
      },
      Some("""SELECT o_orderkey, o_totalprice FROM orders
             |WHERE o_orderkey % 50 = 0""".stripMargin)),

    // S5 + P9 + F9 - whole-file JSON documents (one object per file, glob
    // read) flattened to the 11-field info shape with "" defaults
    // (transform_and_copy_to_landing_info.py:43-63).
    "s5_p9_json_info" -> Q(
      (s, dir) => {
        val fix = fixDir(dir, "s5")
        Files.createDirectories(Paths.get(fix))
        val regions = Tables.region(s, dir)
          .select("r_regionkey", "r_name").collect()  // 5-row dim: driver-side fixture prep only
        regions.foreach { r =>
          val (k, n) = (r.getInt(0), r.getString(1))
          val doc =
            s"""{
               |  "symbol": "$n",
               |  "shortName": "Region $n",
               |  "fullTimeEmployees": ${k * 100},
               |  "address1": "HQ $k",
               |  "ignoredExtraKey": true
               |}""".stripMargin
          Files.write(Paths.get(s"$fix/region_$k.json"),
            doc.getBytes(StandardCharsets.UTF_8))
        }
        val docs = Sources.jsonDocuments(s, s"$fix/*.json", Schemas.infoJson)
        Clean.flattenInfo(docs)
      },
      Some("""SELECT r_name AS symbol, 'Region ' || r_name AS shortName,
             |'' AS industry, '' AS sector,
             |CAST(r_regionkey * 100 AS VARCHAR) AS fullTimeEmployees,
             |'' AS totalRevenue, 'HQ ' || r_regionkey AS address, '' AS city,
             |'' AS state, '' AS zip, '' AS website FROM region""".stripMargin)),

    // P10 - nested ESG projection: 2-level struct access incl. the
    // peer-struct `avg` extraction
    // (transform_and_copy_to_landing_sustainability.py:43-98).
    "p10_nested_json" -> Q(
      (s, dir) => {
        val fix = fixDir(dir, "p10")
        Files.createDirectories(Paths.get(fix))
        val nations = Tables.nation(s, dir)
          .select("n_nationkey", "n_name").collect()  // 25-row dim: fixture prep only
        nations.foreach { r =>
          val (k, n) = (r.getInt(0), r.getString(1))
          val doc =
            s"""{"esgScores": {
               |  "totalEsg": $k.5,
               |  "peerGroup": "$n",
               |  "peerEsgScorePerformance": {"min": 1.0, "avg": ${k * 2}.0, "max": 99.0}
               |}}""".stripMargin
          Files.write(Paths.get(s"$fix/n_$k.json"), doc.getBytes(StandardCharsets.UTF_8))
        }
        val docs = Sources.jsonDocuments(s, s"$fix/*.json", Schemas.sustainabilityJson)
        Clean.flattenSustainability(docs)
          .select("peerGroup", "totalEsg", "peerEsgScorePerformance", "ratingYear")
      },
      Some("""SELECT n_name AS peerGroup, n_nationkey + 0.5 AS totalEsg,
             |CAST(n_nationkey * 2 AS DOUBLE) AS peerEsgScorePerformance,
             |CAST(NULL AS BIGINT) AS ratingYear FROM nation""".stripMargin)),

    // S6 + P6 + F4 - year-partitioned parquet sink and scan-back
    // (raw_to_landing_sparkjob.py:187-189); partition pruning layout.
    "s6_partitioned_write" -> Q(
      (s, dir) => {
        val fix = fixDir(dir, "s6")
        val out = Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_quantity"),
            year(col("l_shipdate")).as("year"))
        Sources.writeParquetPartitioned(out, fix, "year")
        s.read.parquet(fix).groupBy(col("year"))
          .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))
      },
      Some("""SELECT CAST(year(l_shipdate) AS INT) AS year,
             |CAST(count(*) AS BIGINT) AS n, sum(l_quantity) AS sum_qty
             |FROM lineitem GROUP BY 1""".stripMargin)),

    // S7 + S9 - single-object parquet sink, warehouse load as a view, SQL
    // over the registered table (transform_open_close_data.py:84-98).
    "s7_s9_warehouse_sql" -> Q(
      (s, dir) => {
        val fix = fixDir(dir, "s7")
        val agg = Tables.customer(s, dir).groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n"),
            sum(col("c_acctbal").cast("decimal(18,2)")).as("total_bal"),
            max(col("c_acctbal")).as("max_bal"))
        Sources.writeParquetSingle(agg, fix)
        Sources.loadWarehouseParquet(s, fix, "wh_customer_segments")
        // Final cast to double: the oracle compare stringifies values, and
        // a Decimal's fixed scale ("8625.60") differs from a double's
        // shortest repr ("8625.6") — exact decimal math stays internal.
        s.sql("""SELECT c_mktsegment, n, CAST(total_bal AS DOUBLE) AS total_bal,
                 max_bal FROM wh_customer_segments WHERE n > 0""")
      },
      Some("""SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
             |CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal,
             |max(c_acctbal) AS max_bal FROM customer GROUP BY 1""".stripMargin)),

    // Warehouse upsert (SCD1 merge): a deterministic update slice
    // (custkey % 10 = 0 resegmented, plus appended keys shifted by 10M)
    // merged into customer — updates override on key, new keys append.
    // Anti-join + union; the dim-sized update side broadcasts.
    "warehouse_upsert" -> Q(
      (s, dir) => {
        val cust = Tables.customer(s, dir)
          .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
            col("c_acctbal"))
        val changed = cust.filter(col("c_custkey") % 10 === 0)
          .withColumn("c_mktsegment", lit("RESEGMENTED"))
        val appended = cust.filter(col("c_custkey") % 1000 === 7)
          .withColumn("c_custkey", col("c_custkey") + 10000000L)
        graft.ops.Scd.upsert(cust, changed.unionByName(appended),
          Seq("c_custkey"))
      },
      Some("""WITH cust AS (SELECT c_custkey, c_name, c_mktsegment, c_acctbal
             |  FROM customer),
             |updates AS (
             |  SELECT c_custkey, c_name, 'RESEGMENTED' AS c_mktsegment,
             |    c_acctbal FROM cust WHERE c_custkey % 10 = 0
             |  UNION ALL
             |  SELECT c_custkey + 10000000, c_name, c_mktsegment, c_acctbal
             |  FROM cust WHERE c_custkey % 1000 = 7)
             |SELECT * FROM cust
             |WHERE c_custkey NOT IN (SELECT c_custkey FROM updates)
             |UNION ALL SELECT * FROM updates""".stripMargin)),

    // SCD2 history from the events change log: per-user runs of the same
    // event_type collapse into validity intervals (valid_from, valid_to,
    // version, is_current) — gaps-and-islands, every window per-key.
    "scd2_intervals" -> Q(
      (s, dir) => graft.ops.Scd.scd2FromChangeLog(
        Tables.events(s, dir)
          .select(col("user_id"), col("event_id"), col("ts"), col("event_type")),
        "user_id", "event_type", "ts", "event_id")
        .select(col("user_id"), col("version"), col("event_type"),
          col("valid_from"), col("valid_to"), col("is_current")),
      Some("""WITH flagged AS (
             |  SELECT user_id, ts, event_id, event_type,
             |    CASE WHEN lag(event_type) OVER w IS NULL
             |         OR lag(event_type) OVER w <> event_type
             |         THEN 1 ELSE 0 END AS chg
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |runs AS (
             |  SELECT user_id, event_type, ts,
             |    CAST(sum(chg) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT)
             |      AS version
             |  FROM flagged),
             |grouped AS (
             |  SELECT user_id, version, min(event_type) AS event_type,
             |    min(ts) AS valid_from
             |  FROM runs GROUP BY 1, 2)
             |SELECT user_id, version, event_type, valid_from,
             |  lead(valid_from) OVER w2 AS valid_to,
             |  (lead(valid_from) OVER w2 IS NULL) AS is_current
             |FROM grouped
             |WINDOW w2 AS (PARTITION BY user_id ORDER BY version)""".stripMargin)),

    // Link-graph centrality (corpus-quality prior): 3 rounds of damped
    // fixed-point PageRank over the customer↔supplier transaction graph.
    // Integer fixed-point throughout — long sums are order-exact, so the
    // iteration is bit-reproducible and the oracle unrolls the identical
    // rounds (DuckDB `//` == Spark `div` on non-negative operands).
    "graph_pagerank" -> Q(
      (s, dir) => {
        val cs = Tables.lineitem(s, dir)
          .join(Tables.orders(s, dir),
            col("l_orderkey") === col("o_orderkey"))
          .select(concat(lit("c:"), col("o_custkey")).as("a"),
            concat(lit("s:"), col("l_suppkey")).as("b"))
          .distinct()
        val edges = cs.select(explode(array(
            struct(col("a").as("src"), col("b").as("dst")),
            struct(col("b").as("src"), col("a").as("dst")))).as("e"))
          .select(col("e.src").as("src"), col("e.dst").as("dst"))
        graft.llm.Centrality.pageRankFixedPoint(edges, "src", "dst", iters = 3)
          .select(col("node"), col("rank").as("rank_units"))
      },
      Some("""WITH cs AS (SELECT DISTINCT
             |    'c:' || CAST(o_custkey AS VARCHAR) AS a,
             |    's:' || CAST(l_suppkey AS VARCHAR) AS b
             |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
             |e AS (SELECT a AS src, b AS dst FROM cs
             |      UNION ALL SELECT b, a FROM cs),
             |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
             |        FROM e GROUP BY 1),
             |nodes AS (SELECT DISTINCT src AS node FROM e),
             |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
             |r0 AS (SELECT node, 1000000000000 // n AS rank
             |       FROM nodes CROSS JOIN nn),
             |c1 AS (SELECT e.dst, sum(r.rank // d.deg) AS contrib FROM e
             |       JOIN r0 r ON e.src = r.node JOIN deg d ON e.src = d.src
             |       GROUP BY 1),
             |r1 AS (SELECT node, (15 * (1000000000000 // n)) // 100
             |         + (85 * COALESCE(c.contrib, 0)) // 100 AS rank
             |       FROM nodes CROSS JOIN nn LEFT JOIN c1 c ON node = c.dst),
             |c2 AS (SELECT e.dst, sum(r.rank // d.deg) AS contrib FROM e
             |       JOIN r1 r ON e.src = r.node JOIN deg d ON e.src = d.src
             |       GROUP BY 1),
             |r2 AS (SELECT node, (15 * (1000000000000 // n)) // 100
             |         + (85 * COALESCE(c.contrib, 0)) // 100 AS rank
             |       FROM nodes CROSS JOIN nn LEFT JOIN c2 c ON node = c.dst),
             |c3 AS (SELECT e.dst, sum(r.rank // d.deg) AS contrib FROM e
             |       JOIN r2 r ON e.src = r.node JOIN deg d ON e.src = d.src
             |       GROUP BY 1),
             |r3 AS (SELECT node, (15 * (1000000000000 // n)) // 100
             |         + (85 * COALESCE(c.contrib, 0)) // 100 AS rank
             |       FROM nodes CROSS JOIN nn LEFT JOIN c3 c ON node = c.dst)
             |SELECT node, CAST(rank AS BIGINT) AS rank_units
             |FROM r3""".stripMargin)),

    // Graph cohesion: per-node triangle counts over the FREQUENT
    // co-purchase graph (parts co-occurring in >= 2 orders — the
    // market-basket support threshold that keeps the pair graph
    // orders of magnitude below raw co-occurrence). The engine side is
    // the degree-ordered wedge join (Centrality.triangleCounts: oriented
    // edges bound wedge fan-out by O(sqrt m) — hub-skew-proof); the
    // oracle enumerates the same triangles by plain id-ordered 3-way
    // join, so agreement checks the orientation logic, not just the
    // arithmetic.
    "graph_triangles" -> Q(
      (s, dir) =>
        graft.llm.Centrality.triangleCounts(coPurchaseEdges(s, dir), "a", "b"),
      Some("""WITH items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
             |  FROM lineitem),
             |e0 AS (SELECT a.p AS a, b.p AS b FROM items a
             |       JOIN items b ON a.o = b.o AND a.p < b.p
             |       GROUP BY 1, 2 HAVING count(*) >= 2),
             |tri AS (SELECT e1.a AS w, e1.b AS u, e2.b AS v
             |        FROM e0 e1 JOIN e0 e2 ON e1.a = e2.a AND e1.b < e2.b
             |        JOIN e0 e3 ON e3.a = e1.b AND e3.b = e2.b)
             |SELECT node, CAST(count(*) AS BIGINT) AS n_triangles FROM (
             |  SELECT w AS node FROM tri UNION ALL SELECT u FROM tri
             |  UNION ALL SELECT v FROM tri) GROUP BY node""".stripMargin)),

    // Local clustering coefficient over the same frequent co-purchase
    // graph: 2·tri/(deg·(deg−1)) per node, degree-1 nodes 0 — the node
    // cohesion ratio on top of graph_triangles (one extra degree agg +
    // left join; wedge-join cost inherited).
    "graph_clustering" -> Q(
      (s, dir) =>
        graft.llm.Centrality.clusteringCoefficient(coPurchaseEdges(s, dir),
          "a", "b"),
      Some("""WITH items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
             |  FROM lineitem),
             |e0 AS (SELECT a.p AS a, b.p AS b FROM items a
             |       JOIN items b ON a.o = b.o AND a.p < b.p
             |       GROUP BY 1, 2 HAVING count(*) >= 2),
             |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
             |  SELECT a AS node FROM e0 UNION ALL SELECT b FROM e0)
             |  GROUP BY 1),
             |tri AS (SELECT e1.a AS w, e1.b AS u, e2.b AS v
             |        FROM e0 e1 JOIN e0 e2 ON e1.a = e2.a AND e1.b < e2.b
             |        JOIN e0 e3 ON e3.a = e1.b AND e3.b = e2.b),
             |pn AS (SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
             |  FROM (SELECT w AS node FROM tri UNION ALL SELECT u FROM tri
             |        UNION ALL SELECT v FROM tri) GROUP BY 1)
             |SELECT node, degree, COALESCE(n_triangles, 0) AS n_triangles,
             |  CASE WHEN degree < 2 THEN 0.0
             |       ELSE CAST(2 * COALESCE(n_triangles, 0) AS DOUBLE) /
             |            CAST(degree * (degree - 1) AS DOUBLE) END
             |    AS clustering
             |FROM deg LEFT JOIN pn USING (node)""".stripMargin)),

    // Fixed-round 2-core peel over the frequent co-purchase graph: four
    // rounds of "drop degree-<2 nodes and their edges", survivors with
    // their in-core degree — the cycle-extraction pass (a 2-core is
    // exactly the nodes on cycles). The oracle unrolls the identical
    // four rounds, the pageRank fixed-round convention.
    "graph_kcore" -> Q(
      (s, dir) => graft.llm.Centrality.kCoreFixedRounds(
        coPurchaseEdges(s, dir), "a", "b", k = 2, rounds = 4),
      Some {
        // MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and
        // each round references the previous edge frame three times —
        // an inlined unroll re-evaluates the e0 self-join 3^4 times and
        // spills the machine's disk.
        val rounds = (1 to 4).map { i =>
          s""",
             |d$i AS MATERIALIZED (SELECT node, count(*) AS degree FROM (
             |  SELECT a AS node FROM e${i - 1}
             |  UNION ALL SELECT b FROM e${i - 1}) GROUP BY 1),
             |k$i AS (SELECT node FROM d$i WHERE degree >= 2),
             |e$i AS MATERIALIZED (SELECT a, b FROM e${i - 1}
             |  JOIN k$i ka ON a = ka.node JOIN k$i kb ON b = kb.node)"""
            .stripMargin
        }.mkString
        s"""WITH items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
           |  FROM lineitem),
           |e0 AS MATERIALIZED (SELECT a.p AS a, b.p AS b FROM items a
           |       JOIN items b ON a.o = b.o AND a.p < b.p
           |       GROUP BY 1, 2 HAVING count(*) >= 2)$rounds
           |SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
           |  SELECT a AS node FROM e4 UNION ALL SELECT b FROM e4)
           |GROUP BY 1""".stripMargin
      }),

    // Community detection: 3 synchronous rounds of deterministic label
    // propagation (most-frequent neighbor label, ties to the SMALLEST
    // label) over the frequent co-purchase graph — the source-grouping
    // companion to graph_kcore's cohesion peel. The oracle unrolls the
    // identical rounds (MATERIALIZED per the kcore precedent) with the
    // tie-break spelled as row_number(cnt DESC, label ASC), so agreement
    // checks the struct-max argmax trick, not just the counting.
    "graph_labelprop" -> Q(
      (s, dir) => graft.llm.Centrality.labelPropagation(
        coPurchaseEdges(s, dir), "a", "b", rounds = 3),
      Some {
        val rounds = (1 to 3).map { i =>
          s""",
             |m$i AS MATERIALIZED (SELECT e.dst AS node, l.label,
             |  CAST(count(*) AS BIGINT) AS cnt
             |  FROM e JOIN l${i - 1} l ON e.src = l.node GROUP BY 1, 2),
             |l$i AS MATERIALIZED (SELECT node, label FROM (
             |  SELECT node, label, row_number() OVER (PARTITION BY node
             |    ORDER BY cnt DESC, label) AS rn FROM m$i) WHERE rn = 1)"""
            .stripMargin
        }.mkString
        s"""WITH items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
           |  FROM lineitem),
           |e0 AS MATERIALIZED (SELECT a.p AS a, b.p AS b FROM items a
           |       JOIN items b ON a.o = b.o AND a.p < b.p
           |       GROUP BY 1, 2 HAVING count(*) >= 2),
           |e AS MATERIALIZED (SELECT a AS src, b AS dst FROM e0
           |       UNION ALL SELECT b, a FROM e0),
           |l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS label
           |       FROM e)$rounds
           |SELECT node, label FROM l3""".stripMargin
      }),

    // Trend fitting: per-type simple OLS (value ~ k) via the closed-form
    // normal equations — slope/intercept/r2 from ONE pass of exact
    // decimal sufficient sums (the events_corr recipe), doubles only in
    // the final projections, whose parenthesization the oracle mirrors
    // verbatim.
    "events_ols_trend" -> Q(
      (s, dir) => Aggs.olsSimple(
        Tables.events(s, dir)
          .withColumn("k", get_json_object(col("props"), "$.k").cast("int")),
        "event_type", "k", "value"),
      Some("""WITH a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             |  sum(CAST(TRY_CAST(json_extract_string(props, '$.k') AS INT)
             |      AS DECIMAL(18,2))) AS sx,
             |  sum(CAST(value AS DECIMAL(18,2))) AS sy,
             |  sum(CAST(TRY_CAST(json_extract_string(props, '$.k') AS INT)
             |      AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS sxy,
             |  sum(CAST(TRY_CAST(json_extract_string(props, '$.k') AS INT)
             |      AS DECIMAL(18,2))
             |    * CAST(TRY_CAST(json_extract_string(props, '$.k') AS INT)
             |      AS DECIMAL(18,2))) AS sx2,
             |  sum(CAST(value AS DECIMAL(18,2))
             |    * CAST(value AS DECIMAL(18,2))) AS sy2
             |  FROM events
             |  WHERE TRY_CAST(json_extract_string(props, '$.k') AS INT) IS NOT NULL
             |    AND value IS NOT NULL
             |  GROUP BY 1)
             |SELECT event_type, n,
             |  (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             |  / nullif(n * CAST(sx2 AS DOUBLE)
             |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0.0)
             |    AS slope,
             |  (CAST(sy AS DOUBLE) -
             |    ((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             |     / nullif(n * CAST(sx2 AS DOUBLE)
             |         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0.0))
             |    * CAST(sx AS DOUBLE)) / n AS intercept,
             |  ((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             |   * (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
             |  / nullif(nullif(n * CAST(sx2 AS DOUBLE)
             |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0.0)
             |   * (n * CAST(sy2 AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)),
             |   0.0) AS r2
             |FROM a""".stripMargin)),

    // Distribution-drift audit #1: per-bin PSI contributions between the
    // first and second half of the month (Laplace-smoothed shares over
    // the global-min/max histogram bins; counts exact, ln pinned to
    // micro-units per bin BEFORE any cross-bin sum).
    "dq_psi_drift" -> Q(
      (s, dir) => graft.ops.Checks.psiDrift(
        Tables.events(s, dir), "value",
        col("ts") < lit("2024-01-16").cast("timestamp"), nBins = 10),
      Some("""WITH base AS (SELECT value AS v,
             |  (ts < TIMESTAMP '2024-01-16') AS a
             |  FROM events WHERE value IS NOT NULL),
             |b AS (SELECT min(v) AS lo, max(v) AS hi FROM base),
             |binned AS (SELECT CASE WHEN hi > lo THEN
             |    CAST(least(greatest(floor((v - lo) / ((hi - lo) / 10)),
             |      0), 9) AS INT)
             |  ELSE 0 END AS bin, a FROM base CROSS JOIN b),
             |c AS (SELECT bin,
             |  CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             |  CAST(sum(CASE WHEN NOT a THEN 1 ELSE 0 END) AS BIGINT) AS n_b
             |  FROM binned GROUP BY 1),
             |f AS (SELECT CAST(r.range AS INT) AS bin,
             |  coalesce(c.n_a, 0) AS n_a, coalesce(c.n_b, 0) AS n_b
             |  FROM range(10) r LEFT JOIN c ON r.range = c.bin),
             |t AS (SELECT CAST(sum(n_a) AS BIGINT) AS ta,
             |  CAST(sum(n_b) AS BIGINT) AS tb FROM f)
             |SELECT bin, n_a, n_b,
             |  CAST(floor((CAST(n_a + 1 AS DOUBLE) / CAST(ta + 10 AS DOUBLE)
             |    - CAST(n_b + 1 AS DOUBLE) / CAST(tb + 10 AS DOUBLE))
             |   * ln((CAST(n_a + 1 AS DOUBLE) / CAST(ta + 10 AS DOUBLE))
             |     / (CAST(n_b + 1 AS DOUBLE) / CAST(tb + 10 AS DOUBLE)))
             |   * 1e6 + 0.5) AS BIGINT) AS psi_micro
             |FROM f CROSS JOIN t""".stripMargin)),

    // Distribution-drift audit #2: the exact KS statistic between the
    // same two cohorts in ppm — integer cross-multiplied CDFs over the
    // distinct-value frame (two-phase prefix sums, no global window),
    // one DECIMAL division at the single-row edge.
    "dq_ks_drift" -> Q(
      (s, dir) => graft.ops.Checks.ksDrift(
        Tables.events(s, dir), "value",
        col("ts") < lit("2024-01-16").cast("timestamp")),
      Some("""WITH c AS (SELECT value AS v,
             |  CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16'
             |    THEN 1 ELSE 0 END) AS BIGINT) AS ca,
             |  CAST(sum(CASE WHEN NOT (ts < TIMESTAMP '2024-01-16')
             |    THEN 1 ELSE 0 END) AS BIGINT) AS cb
             |  FROM events WHERE value IS NOT NULL GROUP BY 1),
             |cum AS (SELECT v, sum(ca) OVER w AS cum_ca,
             |  sum(cb) OVER w AS cum_cb FROM c
             |  WINDOW w AS (ORDER BY v
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
             |t AS (SELECT CAST(sum(ca) AS BIGINT) AS n_a,
             |  CAST(sum(cb) AS BIGINT) AS n_b FROM c),
             |m AS (SELECT max(abs(cum_ca * n_b - cum_cb * n_a)) AS max_diff
             |  FROM cum CROSS JOIN t)
             |SELECT n_a, n_b,
             |  CAST((CAST(max_diff AS HUGEINT) * 1000000)
             |    // (CAST(n_a AS HUGEINT) * n_b) AS BIGINT) AS ks_ppm
             |FROM t CROSS JOIN m""".stripMargin)),

    // Distribution-drift audit #3: chi-squared homogeneity over the
    // CATEGORICAL event_type between the same two time cohorts —
    // per-category contributions pinned to micro-units before any sum,
    // expectations from exact counts with the parenthesization mirrored.
    "dq_chi2_drift" -> Q(
      (s, dir) => graft.ops.Checks.chi2Drift(
        Tables.events(s, dir), "event_type",
        col("ts") < lit("2024-01-16").cast("timestamp")),
      Some("""WITH c AS (SELECT event_type,
             |  CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16'
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             |  CAST(sum(CASE WHEN NOT (ts < TIMESTAMP '2024-01-16')
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_b
             |  FROM events WHERE event_type IS NOT NULL GROUP BY 1),
             |t AS (SELECT CAST(sum(n_a) AS BIGINT) AS ta,
             |  CAST(sum(n_b) AS BIGINT) AS tb FROM c),
             |e AS (SELECT event_type, n_a, n_b,
             |  nullif(CAST(n_a + n_b AS DOUBLE) * CAST(ta AS DOUBLE)
             |    / CAST(ta + tb AS DOUBLE), 0.0) AS ea,
             |  nullif(CAST(n_a + n_b AS DOUBLE) * CAST(tb AS DOUBLE)
             |    / CAST(ta + tb AS DOUBLE), 0.0) AS eb
             |  FROM c CROSS JOIN t)
             |SELECT event_type, n_a, n_b,
             |  CAST(floor(((CAST(n_a AS DOUBLE) - ea) * (CAST(n_a AS DOUBLE) - ea)
             |      / ea
             |    + (CAST(n_b AS DOUBLE) - eb) * (CAST(n_b AS DOUBLE) - eb)
             |      / eb) * 1e6 + 0.5) AS BIGINT) AS chi2_micro
             |FROM e""".stripMargin)),

    // Per-type robust outliers: median/MAD screen (|x - med| > 3*MAD) —
    // the heavy-tail-safe companion to events_anomaly_zscore; exact
    // interpolated percentiles match quantile_cont (the winsorize
    // parity).
    "events_anomaly_mad" -> Q(
      (s, dir) => Aggs.madOutliers(
        Tables.events(s, dir), "event_type", "value", k = 3.0),
      Some("""WITH base AS (SELECT event_type, CAST(value AS DOUBLE) AS v
             |  FROM events WHERE value IS NOT NULL),
             |med AS (SELECT event_type, quantile_cont(v, 0.5) AS med
             |  FROM base GROUP BY 1),
             |dev AS (SELECT b.event_type, b.v, m.med,
             |  abs(b.v - m.med) AS dev
             |  FROM base b JOIN med m USING (event_type)),
             |mad AS (SELECT event_type, quantile_cont(dev, 0.5) AS mad
             |  FROM dev GROUP BY 1)
             |SELECT d.event_type, max(d.med) AS med, max(m.mad) AS mad,
             |  CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(CASE WHEN d.dev > 3.0 * m.mad THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_outliers
             |FROM dev d JOIN mad m USING (event_type)
             |GROUP BY 1""".stripMargin)),

    // Bounded-state twin of events_anomaly_mad for extreme per-group
    // cardinalities: approx_percentile sketches replace the exact
    // buffering aggregate. Sketch values are engine-specific, so the
    // oracle checks the rank-error CONTRACT per group (the
    // a2_approx_percentile shape): both the approx median and the
    // approx MAD must land within n/accuracy ranks of their targets.
    "dq_mad_outliers_approx" -> Q(
      (s, dir) => Aggs.madOutliersApprox(
        Tables.events(s, dir), "event_type", "value", k = 3.0,
        accuracy = 1000)
        .select(col("event_type"), col("n"),
          col("med_rank_ok"), col("mad_rank_ok")),
      Some("""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             |  CAST(1 AS INT) AS med_rank_ok, CAST(1 AS INT) AS mad_rank_ok
             |FROM events WHERE value IS NOT NULL GROUP BY 1""".stripMargin)),

    // Count-min-sketch audit over the exact top-20 heavy hitters: the
    // 4x256 counter matrix from portable hash60 buckets, estimates =
    // min over each key's 4 counters, next to the true counts and the
    // can't-underestimate guarantee flag. Like a2_hll_sketch the
    // arithmetic is all-integer, so the ESTIMATE is oracle-checked
    // exactly, not just its contract.
    "a2_cms_topk" -> Q(
      (s, dir) => Aggs.cmsHeavyHitters(
        Tables.lineitem(s, dir), "l_partkey", depth = 4, width = 256, k = 20),
      Some("""WITH keys AS (SELECT CAST(l_partkey AS VARCHAR) AS ks
             |  FROM lineitem),
             |cells AS (SELECT r.range AS r,
             |  CAST(CAST('0x' || substr(md5('cms:' || CAST(r.range AS VARCHAR)
             |    || ':' || ks), 1, 15) AS BIGINT) % 256 AS INT) AS b
             |  FROM keys CROSS JOIN range(4) r),
             |counters AS (SELECT r, b, CAST(count(*) AS BIGINT) AS c
             |  FROM cells GROUP BY 1, 2),
             |cnt AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n
             |  FROM lineitem GROUP BY 1),
             |top AS (SELECT l_partkey, n FROM (SELECT l_partkey, n,
             |  row_number() OVER (ORDER BY n DESC, l_partkey) AS rn FROM cnt)
             |  WHERE rn <= 20),
             |probes AS (SELECT t.l_partkey, t.n, r.range AS r,
             |  CAST(CAST('0x' || substr(md5('cms:' || CAST(r.range AS VARCHAR)
             |    || ':' || CAST(t.l_partkey AS VARCHAR)), 1, 15) AS BIGINT)
             |    % 256 AS INT) AS b
             |  FROM top t CROSS JOIN range(4) r)
             |SELECT p.l_partkey, p.n, min(c.c) AS cms_est,
             |  CAST(CASE WHEN min(c.c) >= p.n THEN 1 ELSE 0 END AS INT)
             |    AS over_ok
             |FROM probes p JOIN counters c ON p.r = c.r AND p.b = c.b
             |GROUP BY 1, 2""".stripMargin)),

    // S8 + S10 - NDJSON sink + truncate-reload into the warehouse registry
    // (transform_json_INFO.py:104-119, WRITE_TRUNCATE).
    "s8_s10_ndjson_roundtrip" -> Q(
      (s, dir) => {
        val fix = fixDir(dir, "s8")
        val proj = Tables.supplier(s, dir)
          .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
        Sources.writeNdjson(proj, fix)
        // Write twice: the second registration must fully replace the first
        // (truncate semantics).
        Sources.writeNdjson(proj, fix)
        val schema = StructType(Seq(
          StructField("s_suppkey", org.apache.spark.sql.types.LongType),
          StructField("s_name", StringType),
          StructField("s_nationkey", org.apache.spark.sql.types.IntegerType),
          StructField("s_acctbal", org.apache.spark.sql.types.DoubleType)))
        Sources.loadWarehouseNdjson(s, fix, schema, "wh_supplier")
        s.sql("""SELECT s_nationkey, count(*) AS n, min(s_acctbal) AS min_bal,
                 max(s_acctbal) AS max_bal FROM wh_supplier GROUP BY s_nationkey""")
      },
      Some("""SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n,
             |min(s_acctbal) AS min_bal, max(s_acctbal) AS max_bal
             |FROM supplier GROUP BY 1""".stripMargin)),

    // S10 parity variant - NDJSON warehouse load with SCHEMA INFERENCE,
    // mirroring the reference's "autodetect": True on every BQ load
    // (transform_json_INFO.py:116). Inference widens the int-valued key
    // to BIGINT (the documented determinism caveat — the downstream SQL
    // pins the type back, as autodetect consumers must).
    "s10_autodetect_load" -> Q(
      (s, dir) => {
        val fix = fixDir(dir, "s10a")
        Sources.writeNdjson(
          Tables.supplier(s, dir)
            .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal"), fix)
        Sources.loadWarehouseNdjsonAutodetect(s, fix, "wh_supplier_auto")
        s.sql("""SELECT CAST(s_nationkey AS INT) AS s_nationkey,
                 count(*) AS n, min(s_acctbal) AS min_bal,
                 max(s_acctbal) AS max_bal
                 FROM wh_supplier_auto GROUP BY s_nationkey""")
      },
      Some("""SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n,
             |min(s_acctbal) AS min_bal, max(s_acctbal) AS max_bal
             |FROM supplier GROUP BY 1""".stripMargin)),

    // S9 + the warehouse DDL TYPE layer (code/sql/DDLs:32-250): two full
    // statement sheets transposed, cast to their DECLARED column types
    // (DECIMAL(20,2) money, DECIMAL(10,4) rates/EPS, BIGINT share counts
    // — model.WarehouseDdl), registered under their DDL view names, and
    // queried through Spark SQL with exact fixed-point arithmetic. The
    // BIGINT cast truncates the synthetic .25 fraction (visible in the
    // oracle: Share_Issued is the only whole-number column) and the
    // decimal sum is exact at scale 2 — the property the all-double
    // landing shape cannot give.
    "warehouse_ddl_typed" -> Q(
      (s, dir) => {
        def v(i: Int, j: Int): Double = (i + 1) * 1000.0 + j + 0.25
        val fix = fixDir(dir, "s4ddl")
        val periods = (2021 to 2023).map(y => s"$y-12-31")
        for ((sheet, metrics) <- Seq(
            "balance_sheet" -> graft.model.StatementMetrics.balanceSheet,
            "quarterly" -> graft.model.StatementMetrics.quarterly)) {
          val header = "name," + periods.mkString(",")
          val rows = metrics.zipWithIndex.map { case (m, i) =>
            m + "," + periods.indices.map(j => v(i, j).toString).mkString(",")
          } :+ ("Junk Metric," + periods.indices.map(_ => "0").mkString(","))
          Files.createDirectories(Paths.get(s"$fix/$sheet"))
          Files.write(Paths.get(s"$fix/$sheet/ACME.csv"),
            (header +: rows).mkString("\n").getBytes(StandardCharsets.UTF_8))
          val raw = Sources.statementCsv(s, s"$fix/$sheet/ACME.csv")
          val wide = Reshape.transposeStatement(raw, "name", metrics, ticker = "ACME")
          Sources.registerDdlStatementView(wide, sheet,
            if (sheet == "balance_sheet") "BALANCESHEET5Y" else "QUARTERLY")
        }
        // Decimal arithmetic (the + below) runs on the views' declared
        // fixed-point types; the OUTPUT pins every decimal to DOUBLE
        // because the oracle comparator stringifies values and a fixed
        // scale ("9000.50") differs from a double's shortest repr
        // ("9000.5") — the s7 note. Exact decimal math stays internal.
        s.sql("""SELECT b.Ticker, b.Date, b.Share_Issued,
                 CAST(b.Net_Debt AS DOUBLE) AS Net_Debt,
                 CAST(b.Net_Debt + b.Total_Debt AS DOUBLE) AS debt_sum,
                 CAST(q.Basic_EPS AS DOUBLE) AS Basic_EPS,
                 CAST(q.Tax_Rate_For_Calcs AS DOUBLE) AS Tax_Rate_For_Calcs
                 FROM BALANCESHEET5Y b
                 JOIN QUARTERLY q ON b.Ticker = q.Ticker AND b.Date = q.Date""")
      },
      Some {
        def v(i: Int, j: Int): Double = (i + 1) * 1000.0 + j + 0.25
        val bs = graft.model.StatementMetrics.balanceSheet
        val qs = graft.model.StatementMetrics.quarterly
        val rows = (0 until 3).map { j =>
          val netDebt = v(bs.indexOf("Net Debt"), j)
          val totalDebt = v(bs.indexOf("Total Debt"), j)
          s"('ACME', DATE '${2021 + j}-12-31', " +
            s"CAST(${v(bs.indexOf("Share Issued"), j).toLong} AS BIGINT), " +
            s"CAST($netDebt AS DOUBLE), " +
            s"CAST(${netDebt + totalDebt} AS DOUBLE), " +
            s"CAST(${v(qs.indexOf("Basic EPS"), j)} AS DOUBLE), " +
            s"CAST(${v(qs.indexOf("Tax Rate For Calcs"), j)} AS DOUBLE))"
        }
        s"""SELECT * FROM (VALUES
           |${rows.mkString(",\n")}
           |) AS t(Ticker, "Date", Share_Issued, Net_Debt, debt_sum,
           |       Basic_EPS, Tax_Rate_For_Calcs)""".stripMargin
      }),

    // J1/S13 + F8 - glob scan with key recovery from the file path, replacing
    // the reference's per-ticker driver loop (raw_to_landing_sparkjob.py:165-184).
    "j1_glob_key_recovery" -> Q(
      (s, dir) => {
        val fix = fixDir(dir, "j1")
        Tables.customer(s, dir)
          .select(col("c_custkey").cast("string").as("k"), col("c_mktsegment"))
          .write.mode("overwrite").partitionBy("c_mktsegment")
          .option("header", "false").csv(fix)
        val schema = StructType(Seq(StructField("k", StringType)))
        val raw = Sources.csvHeaderless(s, s"$fix/*/", schema)
        Sources.globWithKey(raw, "segment", "c_mktsegment=([A-Z]+)/")
          .groupBy(col("segment")).agg(count(lit(1)).as("n"))
      },
      Some("""SELECT c_mktsegment AS segment, CAST(count(*) AS BIGINT) AS n
             |FROM customer GROUP BY 1""".stripMargin)),

    // As-of join (SURVEY §2.3 stretch): every order looks up the customer's
    // most recent reference price at-or-before its date. Single shuffle +
    // window - no inequality nested-loop join.
    "asof_join_lookup" -> Q(
      (s, dir) => {
        val o = Tables.orders(s, dir)
        val refPrices = o.filter(col("o_orderkey") % 10 === 0)
          .groupBy(col("o_custkey"), col("o_orderdate"))
          .agg(max(col("o_totalprice")).as("ref_price"))
        Joins.asofJoin(o, refPrices, "o_custkey", "o_orderdate", "ref_price")
          .select("o_orderkey", "o_custkey", "ref_price")
      },
      Some("""SELECT b.o_orderkey, b.o_custkey, a.ref_price FROM orders b
             |ASOF LEFT JOIN (
             |  SELECT o_custkey, o_orderdate, max(o_totalprice) AS ref_price
             |  FROM orders WHERE o_orderkey % 10 = 0 GROUP BY 1, 2) a
             |ON b.o_custkey = a.o_custkey AND b.o_orderdate >= a.o_orderdate""".stripMargin)),

    // F8 - string split / path-suffix extraction
    // (transform_json_INFO.py:62 basename-from-path idiom).
    "f8_split_suffix" -> Q(
      (s, dir) => Tables.supplier(s, dir).select(
        col("s_suppkey"),
        element_at(split(col("s_name"), "#"), -1).cast("int").as("name_num"),
        upper(element_at(split(col("s_name"), "#"), 1)).as("name_prefix")),
      Some("""SELECT s_suppkey, CAST(split_part(s_name, '#', 2) AS INT) AS name_num,
             |upper(split_part(s_name, '#', 1)) AS name_prefix FROM supplier""".stripMargin)),

    // Events: hourly rollup - the batch-parity twin of the streaming
    // tumbling-window aggregation (graft.streaming.Streams.tumblingAgg).
    "events_hourly_agg" -> Q(
      (s, dir) => Tables.events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"),
          min(col("value")).as("min_value"),
          max(col("value")).as("max_value")),
      Some("""SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour, event_type,
             |CAST(count(*) AS BIGINT) AS n,
             |CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
             |min(value) AS min_value, max(value) AS max_value
             |FROM events GROUP BY 1, 2""".stripMargin)),

    // F9 on the embedded JSON props column.
    "events_json_props" -> Q(
      (s, dir) => Tables.events(s, dir)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .groupBy(col("event_type"))
        .agg(sum(col("k").cast("long")).as("sum_k"), max(col("k")).as("max_k"),
          count(lit(1)).as("n")),
      Some("""SELECT event_type,
             |CAST(sum(TRY_CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
             |max(TRY_CAST(json_extract_string(props, '$.k') AS INT)) AS max_k,
             |CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1""".stripMargin)),

    // F9 upgrade - schema'd single-pass JSON parse (from_json beats
    // repeated get_json_object: one parse per row, typed output).
    "events_from_json" -> Q(
      (s, dir) => {
        val schema = StructType(Seq(StructField("k",
          org.apache.spark.sql.types.IntegerType)))
        Tables.events(s, dir)
          .withColumn("p", from_json(col("props"), schema))
          .groupBy(col("event_type"), (col("p.k") % 10).as("k_bucket"))
          .agg(count(lit(1)).as("n"), max(col("p.k")).as("max_k"))
      },
      Some("""SELECT event_type,
             |TRY_CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_bucket,
             |CAST(count(*) AS BIGINT) AS n,
             |max(TRY_CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
             |FROM events GROUP BY 1, 2""".stripMargin)),

    // st3 - sliding-window batch parity: 30-min windows sliding every
    // 15 min; each event lands in exactly two windows (epoch-aligned).
    "st3_sliding_window" -> Q(
      (s, dir) => graft.streaming.Streams.slidingCounts(
        Tables.events(s, dir), "30 minutes", "15 minutes", "1 hour"),
      Some("""SELECT make_timestamp(((epoch_us(CAST(ts AS TIMESTAMP)) // 900000000)
             |  - k.off) * 900000000) AS window_start,
             |make_timestamp(((epoch_us(CAST(ts AS TIMESTAMP)) // 900000000)
             |  - k.off + 2) * 900000000) AS window_end,
             |event_type, CAST(count(*) AS BIGINT) AS n
             |FROM events, (SELECT unnest([0, 1]) AS off) k
             |GROUP BY 1, 2, 3""".stripMargin)),

    // Sessionization (batch twin of the streaming session-window op):
    // 30-minute inactivity gap, per-user session counts via lag + running sum.
    "events_sessionize" -> Q(
      // Session ids come from the ONE shared gaps-and-islands derivation
      // (Windows.sessionIds — also under assembleSessions), so the `>=`
      // boundary contract can't silently fork between consumers.
      (s, dir) => graft.ops.Windows.sessionIds(
          Tables.events(s, dir), "user_id", "ts", "event_id",
          extra = Seq.empty, gapMinutes = 30)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          max(col("__sid")).as("n_sessions")),
      Some("""SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
             |CAST(max(sid) AS BIGINT) AS n_sessions FROM (
             |  SELECT user_id, sum(flag) OVER
             |    (PARTITION BY user_id ORDER BY ts, event_id
             |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
             |  FROM (
             |    SELECT user_id, ts, event_id,
             |      CASE WHEN lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER
             |             (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
             |           OR epoch_us(CAST(ts AS TIMESTAMP))
             |              - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER
             |                (PARTITION BY user_id ORDER BY ts, event_id)
             |              >= 1800000000
             |           THEN 1 ELSE 0 END AS flag
             |    FROM events) f) g GROUP BY 1""".stripMargin)),

    // M2 FLAGSHIP - the reference's core Spark job end-to-end
    // (raw_to_landing_sparkjob.py:9-189): Kaggle header CSV (comma-grouped
    // volume) + API headerless CSV (4 junk rows) -> standardize both ->
    // unionByName + Ticker/year tag -> year-partitioned parquet -> scan
    // back. Kaggle covers years < 1998, API the rest (the reference's
    // pre/post-2017 split; testdata dates span 1995-2001, so BOTH
    // branches carry rows).
    "m2_standardize_combine" -> Q(
      (s, dir) => {
        val fix = fixDir(dir, "m2")
        val daily = Tables.orders(s, dir)
          .groupBy(col("o_orderdate").as("Date"))
          .agg(min(col("o_totalprice")).as("Open"),
            max(col("o_totalprice")).as("High"),
            min(col("o_totalprice")).as("Low"),
            max(col("o_totalprice")).as("Close"),
            (count(lit(1)) * 100).cast("double").as("Volume"))
        // Kaggle side: header CSV, comma-grouped Volume, extra OpenInt col.
        daily.filter(year(col("Date")) < 1998).select(
            date_format(col("Date"), "yyyy-MM-dd").as("Date"),
            col("Open").cast("string"), col("High").cast("string"),
            col("Low").cast("string"), col("Close").cast("string"),
            format_number(col("Volume"), 0).as("Volume"),
            lit("0").as("OpenInt"))
          .coalesce(1).write.mode("overwrite").option("header", "true")
          .csv(s"$fix/kaggle")
        // API side: headerless, 4 junk metadata rows, AdjClose column.
        val junk = s.createDataFrame(
          java.util.Arrays.asList(
            org.apache.spark.sql.Row("!0", "Price", "", "", "", "", "", ""),
            org.apache.spark.sql.Row("!1", "Ticker", "ACME", "", "", "", "", ""),
            org.apache.spark.sql.Row("!2", "Date", "", "", "", "", "", ""),
            org.apache.spark.sql.Row("!3", "", "", "", "", "", "", "")),
          StructType(
            Seq("sort", "Date", "Open", "High", "Low", "Close", "AdjClose", "Volume")
              .map(StructField(_, StringType, nullable = true))))
        val apiRows = daily.filter(year(col("Date")) >= 1998).select(
          date_format(col("Date"), "yyyy-MM-dd").as("sort"),
          date_format(col("Date"), "yyyy-MM-dd").as("Date"),
          col("Open").cast("string"), col("High").cast("string"),
          col("Low").cast("string"), col("Close").cast("string"),
          col("Close").cast("string").as("AdjClose"),
          col("Volume").cast("string"))
        junk.unionByName(apiRows)
          .repartition(1).sortWithinPartitions("sort").drop("sort")
          .write.mode("overwrite").option("header", "false").csv(s"$fix/api")
        // ---- the actual flagship dataflow ----
        val kSchema = StructType(
          Seq("Date", "Open", "High", "Low", "Close", "Volume", "OpenInt")
            .map(StructField(_, StringType, nullable = true)))
        val aSchema = StructType(
          Seq("Date", "Open", "High", "Low", "Close", "AdjClose", "Volume")
            .map(StructField(_, StringType, nullable = true)))
        val kaggle = Clean.standardizeKaggle(
          Sources.csvWithHeader(s, s"$fix/kaggle", kSchema).drop("OpenInt"))
        val api = Clean.standardizeApi(
          Sources.csvHeaderless(s, s"$fix/api", aSchema).drop("AdjClose"))
        val combined = Clean.combine(kaggle, api, "ACME")
        Sources.writeParquetPartitioned(combined, s"$fix/landing", "year")
        s.read.parquet(s"$fix/landing")
          .select("Date", "Open", "High", "Low", "Close", "Volume",
            "Source", "Ticker", "year")
      },
      Some("""SELECT CAST(o_orderdate AS DATE) AS Date,
             |min(o_totalprice) AS Open, max(o_totalprice) AS High,
             |min(o_totalprice) AS Low, max(o_totalprice) AS Close,
             |CAST(count(*) * 100 AS DOUBLE) AS Volume,
             |CASE WHEN year(o_orderdate) < 1998 THEN 'Kaggle' ELSE 'API' END AS Source,
             |'ACME' AS Ticker, CAST(year(o_orderdate) AS INT) AS year
             |FROM orders GROUP BY o_orderdate""".stripMargin)),

    // S3 - key-list CSV scan: the reference reads a ticker-list CSV on the
    // driver to enumerate work (raw_to_landing_sparkjob.py:142-147); here
    // the list drives a semi-filter instead of a driver loop.
    "s3_key_list" -> Q(
      (s, dir) => {
        val fix = fixDir(dir, "s3")
        Tables.nation(s, dir).filter(col("n_nationkey") % 2 === 0)
          .select(col("n_name").as("Ticker"))
          .coalesce(1).write.mode("overwrite").option("header", "true").csv(fix)
        val keys = Sources.keyList(s, fix, "Ticker")
        Tables.customer(s, dir)
          .join(broadcast(Tables.nation(s, dir)),
            col("c_nationkey") === col("n_nationkey"))
          .filter(col("n_name").isin(keys: _*))
          .groupBy(col("n_name")).agg(count(lit(1)).as("n"))
      },
      Some("""SELECT n_name, CAST(count(*) AS BIGINT) AS n
             |FROM customer JOIN nation ON c_nationkey = n_nationkey
             |WHERE n_nationkey % 2 = 0 GROUP BY 1""".stripMargin)),

    // S4 + R1 + R2 + P7 + O4 - the statement-matrix transpose: metric rows
    // x period columns -> one row per period with metric columns, via the
    // fixed-allowlist pivot (transform_job_tabular_entitities.py:12-31).
    "s4_statement_transpose" -> Q(
      (s, dir) => {
        val fix = fixDir(dir, "s4")
        val metrics = Seq("TotalRevenue", "NetIncome", "GrossProfit")
        // Build the wide statement fixture: one column per year, one row
        // per metric (plus a junk metric row the allowlist must drop).
        val byYear = Tables.orders(s, dir)
          .groupBy(year(col("o_orderdate")).as("y"))
          .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"),
            count(lit(1)).cast("double").as("n"))
          .orderBy(col("y")).collect()  // ~8 rows: fixture prep only
        val years = byYear.map(_.getInt(0))
        val header = "name," + years.mkString(",")
        val rows = Seq(
          "TotalRevenue," + byYear.map(_.getDecimal(1).toPlainString).mkString(","),
          "NetIncome," + byYear.map(r => (r.getDecimal(1).doubleValue() / 10).toString).mkString(","),
          "GrossProfit," + byYear.map(r => (r.getDecimal(1).doubleValue() / 2).toString).mkString(","),
          "JunkMetric," + years.map(_ => "0").mkString(","))
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(fix))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$fix/statement.csv"),
          (header +: rows).mkString("\n").getBytes(StandardCharsets.UTF_8))
        val raw = Sources.statementCsv(s, s"$fix/statement.csv")
        Reshape.transposeStatement(raw, "name", metrics, ticker = "ACME")
      },
      Some("""SELECT CAST(year(o_orderdate) AS VARCHAR) AS Date,
             |CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS TotalRevenue,
             |CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / 10 AS NetIncome,
             |CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / 2 AS GrossProfit,
             |'ACME' AS Ticker
             |FROM orders GROUP BY year(o_orderdate)""".stripMargin)),

    // S4 + R1 + R2 + P7 at REFERENCE WIDTH: the full 60-metric balance
    // sheet allowlist (transform_job_tabular_entitities.py:117-179,
    // transcribed in model.Schemas.StatementMetrics.balanceSheet) pivoted
    // through the same transposeStatement path as s4, plus the width-only
    // edge cases: an all-empty period column (every metric null at that
    // Date) and junk metric rows the allowlist must drop. Values are
    // deterministic literals, so the oracle is a VALUES table — exactly
    // the reference's post-transpose sheet shape.
    "s4_full_width_transpose" -> widthTransposeQ(
      "s4w", graft.model.StatementMetrics.balanceSheet),

    // The same width exercise over the 53-metric cash_flow allowlist
    // (transform_job_tabular_entitities.py:180-236, transcribed in
    // model.Schemas.StatementMetrics.cashFlow). income_statement and
    // quarterly share one 39-metric list, exercised at width by
    // s4_multi_sheet_pipeline below.
    "s4_cash_flow_width" -> widthTransposeQ(
      "s4cf", graft.model.StatementMetrics.cashFlow),

    // The reference-cardinality statement pipeline
    // (transform_job_tabular_entitities.py:50-93): 4 sheets x N tickers in
    // one run. The reference nests a driver-side ticker loop (:68-80, one
    // pandas transpose per ticker) inside a sheet loop (:57); here each
    // sheet is ONE glob scan with Ticker recovered from the file path and
    // a keyed transpose pivoting by (Ticker, Date) — N tickers cost one
    // scan + one shuffle per sheet, not N jobs. The wide per-sheet result
    // (the reference's parquet shape) is unpivoted to long form so all
    // four sheets union into one oracle-checkable frame; values are a
    // deterministic function of (sheet, ticker, metric, period) the oracle
    // recomputes from compact index tables.
    "s4_multi_sheet_pipeline" -> Q(
      (s, dir) => {
        val fix = fixDir(dir, "s4ms")
        val bySheet = graft.model.StatementMetrics.bySheet
        def v(si: Int, ti: Int, mi: Int, pi: Int): Double =
          ((si + 1) * 100000 + ti * 1000 + mi * 10 + pi).toDouble + 0.25
        // Fixture: one statement CSV per (sheet, ticker), junk rows included.
        for (((sheet, metrics), si) <- msSheets.zipWithIndex;
             (ticker, ti) <- msTickers.zipWithIndex) {
          val header = "name," + msPeriods.mkString(",")
          val rows = metrics.zipWithIndex.map { case (m, mi) =>
            m + "," + msPeriods.indices.map(pi => v(si, ti, mi, pi).toString).mkString(",")
          } :+ ("Junk Metric," + msPeriods.indices.map(_ => "0").mkString(","))
          Files.createDirectories(Paths.get(s"$fix/$sheet"))
          Files.write(Paths.get(s"$fix/$sheet/$ticker.csv"),
            (header +: rows).mkString("\n").getBytes(StandardCharsets.UTF_8))
          val _ = bySheet // keep the Schemas link explicit
        }
        // ---- the graded dataflow: per sheet (fixed 4-way loop), one glob
        // scan -> key recovery -> keyed transpose -> long form; union all.
        val sheetFrames = msSheets.map { case (sheet, metrics) =>
          val raw = Sources.statementCsv(s, s"$fix/$sheet/*.csv")
          val keyed = Sources.globWithKey(raw, "Ticker", "([A-Z]+)\\.csv$")
          val wide = Reshape.transposeStatementKeyed(keyed, "name", metrics, "Ticker")
          Reshape.unpivot(wide, Seq("Ticker", "Date"), metrics, "metric", "value")
            .withColumn("sheet", lit(sheet))
        }
        SetOps.unionAll(sheetFrames).select("sheet", "Ticker", "Date", "metric", "value")
      },
      Some {
        val sheetsSql = msSheets.zipWithIndex.map { case ((sheet, metrics), si) =>
          s"($si, '$sheet', [" + metrics.map(m => s"'$m'").mkString(", ") + "])"
        }.mkString(",\n")
        val tickersSql = msTickers.zipWithIndex
          .map { case (t, ti) => s"($ti, '$t')" }.mkString(", ")
        val periodsSql = msPeriods.zipWithIndex
          .map { case (p, pi) => s"($pi, '$p')" }.mkString(", ")
        // The two unnest() calls in one SELECT zip in lockstep, pairing
        // each metric with its list index.
        s"""WITH sheets AS (SELECT * FROM (VALUES
           |$sheetsSql) AS s(si, sheet, ms)),
           |metrics AS (SELECT si, sheet,
           |  CAST(unnest(range(0, len(ms))) AS INT) AS mi, unnest(ms) AS metric
           |  FROM sheets),
           |tickers AS (SELECT * FROM (VALUES $tickersSql) AS t(ti, Ticker)),
           |periods AS (SELECT * FROM (VALUES $periodsSql) AS p(pi, "Date"))
           |SELECT sheet, Ticker, "Date", metric,
           |  CAST((si + 1) * 100000 + ti * 1000 + mi * 10 + pi AS DOUBLE) + 0.25
           |    AS value
           |FROM metrics, tickers, periods""".stripMargin
      }),

    // The analyst-estimates ingest entity (SURVEY §1.4 dead data): the
    // reference lands earnings_estimates/{ticker}.csv — one yfinance
    // earnings-estimate frame per ticker, 4 period rows (0q/+1q/0y/+1y)
    // — and never transforms it (ingest_data_API.py:101-103). Covered
    // end-to-end here: per-ticker CSVs -> ONE glob scan with ticker key
    // recovery (no driver loop) -> typed cast -> derived consensus
    // spread. Values are pure functions of (ticker, period) indexes, so
    // the oracle recomputes them from compact index tables.
    "api_earnings_estimates" -> Q(
      (s, dir) => {
        val fix = fixDir(dir, "apiee")
        val periods = Seq("0q", "+1q", "0y", "+1y")
        Files.createDirectories(Paths.get(fix))
        for ((t, ti) <- msTickers.zipWithIndex) {
          val header = "period,avg,low,high,yearAgoEps,numberOfAnalysts,growth"
          val rows = periods.zipWithIndex.map { case (p, pi) =>
            val b = (ti * 100 + pi * 10).toDouble
            s"$p,${b + 1.25},${b + 0.25},${b + 3.25},${b - 2.5},${ti + pi + 3},${(pi - 1) * 0.25}"
          }
          Files.write(Paths.get(s"$fix/$t.csv"),
            (header +: rows).mkString("\n").getBytes(StandardCharsets.UTF_8))
        }
        val schema = StructType(
          Seq("period", "avg", "low", "high", "yearAgoEps", "numberOfAnalysts",
            "growth").map(StructField(_, StringType, nullable = true)))
        val raw = Sources.csvWithHeader(s, s"$fix/*.csv", schema)
        Sources.globWithKey(raw, "Ticker", "([A-Z]+)\\.csv$")
          .select(col("Ticker"), col("period"),
            col("avg").cast("double").as("avg_eps"),
            col("low").cast("double").as("low_eps"),
            col("high").cast("double").as("high_eps"),
            col("numberOfAnalysts").cast("int").as("n_analysts"),
            col("growth").cast("double").as("growth"),
            (col("high").cast("double") - col("low").cast("double"))
              .as("eps_spread"))
      },
      Some {
        val tickersSql = msTickers.zipWithIndex
          .map { case (t, ti) => s"($ti, '$t')" }.mkString(", ")
        s"""WITH tickers AS (SELECT * FROM (VALUES $tickersSql) t(ti, Ticker)),
           |periods AS (SELECT * FROM (VALUES
           |  (0, '0q'), (1, '+1q'), (2, '0y'), (3, '+1y')) p(pi, period))
           |SELECT Ticker, period,
           |  CAST(ti * 100 + pi * 10 + 1.25 AS DOUBLE) AS avg_eps,
           |  CAST(ti * 100 + pi * 10 + 0.25 AS DOUBLE) AS low_eps,
           |  CAST(ti * 100 + pi * 10 + 3.25 AS DOUBLE) AS high_eps,
           |  CAST(ti + pi + 3 AS INT) AS n_analysts,
           |  CAST((pi - 1) * 0.25 AS DOUBLE) AS growth,
           |  CAST(3.0 AS DOUBLE) AS eps_spread
           |FROM tickers, periods""".stripMargin
      }),

    // The options-chain ingest entity (SURVEY §1.4 dead data): the
    // reference lands options/calls_{t}.csv + puts_{t}.csv per ticker and
    // never transforms them (ingest_data_API.py:121-127). Here BOTH sides
    // land in one glob scan — side AND ticker recovered from the file
    // name — then the classic chain analytic: per-ticker open-interest
    // put/call ratio via conditional aggregation (one shuffle, no
    // self-join of the sides). Deterministic per-(ticker, side, strike)
    // values; the oracle recomputes the closed-form aggregates.
    "api_options_chain" -> Q(
      (s, dir) => {
        val fix = fixDir(dir, "apiopt")
        Files.createDirectories(Paths.get(fix))
        for ((t, ti) <- msTickers.zipWithIndex; side <- Seq("calls", "puts")) {
          val si = if (side == "puts") 1 else 0
          val cp = if (si == 0) "C" else "P"
          val header =
            "contractSymbol,strike,lastPrice,volume,openInterest,impliedVolatility,inTheMoney"
          val rows = (0 until 8).map { j =>
            s"${t}260116$cp$j,${50.0 + j * 5 + 0.5},${j + si + 0.25}," +
              s"${(ti + 1) * 10 + j + si},${(ti + 1) * 100 + j * 3 + si * 7}," +
              s"${(j + 1) * 0.125},${j < 4}"
          }
          Files.write(Paths.get(s"$fix/${side}_$t.csv"),
            (header +: rows).mkString("\n").getBytes(StandardCharsets.UTF_8))
        }
        val schema = StructType(
          Seq("contractSymbol", "strike", "lastPrice", "volume", "openInterest",
            "impliedVolatility", "inTheMoney")
            .map(StructField(_, StringType, nullable = true)))
        val raw = Sources.csvWithHeader(s, s"$fix/*.csv", schema)
        val keyed = Sources.globWithKey(
          Sources.globWithKey(raw, "Ticker", "_([A-Z]+)\\.csv$"),
          "side", "(calls|puts)_[A-Z]+\\.csv$")
        keyed.groupBy(col("Ticker"))
          .agg(
            sum(when(col("side") === "calls",
              col("openInterest").cast("long")).otherwise(0L)).as("call_oi"),
            sum(when(col("side") === "puts",
              col("openInterest").cast("long")).otherwise(0L)).as("put_oi"),
            count(lit(1)).as("n_contracts"))
          .withColumn("pc_ratio",
            col("put_oi").cast("double") / col("call_oi").cast("double"))
      },
      Some {
        val tickersSql = msTickers.zipWithIndex
          .map { case (t, ti) => s"($ti, '$t')" }.mkString(", ")
        // call_oi = Σ_j (ti+1)*100 + 3j over j<8 = 800(ti+1) + 84;
        // puts add 7 per contract -> +56.
        s"""WITH tickers AS (SELECT * FROM (VALUES $tickersSql) t(ti, Ticker))
           |SELECT Ticker,
           |  CAST(800 * (ti + 1) + 84 AS BIGINT) AS call_oi,
           |  CAST(800 * (ti + 1) + 140 AS BIGINT) AS put_oi,
           |  CAST(16 AS BIGINT) AS n_contracts,
           |  CAST(800 * (ti + 1) + 140 AS DOUBLE)
           |    / CAST(800 * (ti + 1) + 84 AS DOUBLE) AS pc_ratio
           |FROM tickers""".stripMargin
      }),

    // The ANALYSTRECCOMENDATIONS warehouse table (reference
    // `code/sql/DDLs:18-29`; ingested one yfinance recommendations frame
    // per ticker at `ingest_data_API.py:98-100`) — the last §1.4 schema.
    // Fixture = one CSV per ticker in the yfinance frame shape (0m/-1m/
    // -2m/-3m period snapshots, one Date per period); scan = ONE glob
    // with ticker key recovery; cast to the DDL's typed shape
    // (Schemas.analystRecommendations); analytic = the SURVEY §7.3 M5
    // promise — per-ticker consensus TREND: current vs 3-months-ago
    // bullish share via conditional aggregation (one shuffle, no
    // self-join of the period snapshots). Counts are pure functions of
    // (ticker, period) indexes, so the oracle rebuilds the rows from
    // compact index tables and re-runs the same SQL aggregation.
    "analyst_trend" -> Q(
      (s, dir) => {
        val fix = fixDir(dir, "analyst")
        val periods = Seq("0m", "-1m", "-2m", "-3m")
        Files.createDirectories(Paths.get(fix))
        for ((t, ti) <- msTickers.zipWithIndex) {
          val header = "Date,Period,StrongBuy,Buy,Hold,Sell,StrongSell"
          val rows = periods.zipWithIndex.map { case (p, pi) =>
            s"2024-0${6 - pi}-30,$p,${ti + pi + 1},${2 * ti + pi}," +
              s"${ti + 2 * pi + 3},${pi + 1},${(ti + pi) % 3}"
          }
          Files.write(Paths.get(s"$fix/$t.csv"),
            (header +: rows).mkString("\n").getBytes(StandardCharsets.UTF_8))
        }
        val readSchema = StructType(
          Seq("Date", "Period", "StrongBuy", "Buy", "Hold", "Sell",
            "StrongSell").map(StructField(_, StringType, nullable = true)))
        val raw = Sources.csvWithHeader(s, s"$fix/*.csv", readSchema)
        // Typed to the DDL column-for-column (Schemas.analystRecommendations).
        val typed = Sources.globWithKey(raw, "Ticker", "([A-Z]+)\\.csv$")
          .select(
            col("Date").cast("date").as("Date"), col("Period"),
            col("StrongBuy").cast("int").as("StrongBuy"),
            col("Buy").cast("int").as("Buy"),
            col("Hold").cast("int").as("Hold"),
            col("Sell").cast("int").as("Sell"),
            col("StrongSell").cast("int").as("StrongSell"),
            col("Ticker"))
        val bull = col("StrongBuy") + col("Buy")
        val total = bull + col("Hold") + col("Sell") + col("StrongSell")
        typed.groupBy(col("Ticker"))
          .agg(
            sum(when(col("Period") === "0m", bull).otherwise(0)).as("bull_now"),
            sum(when(col("Period") === "0m", total).otherwise(0)).as("total_now"),
            sum(when(col("Period") === "-3m", bull).otherwise(0)).as("bull_prior"),
            sum(when(col("Period") === "-3m", total).otherwise(0)).as("total_prior"),
            count(lit(1)).as("n_periods"))
          .withColumn("bull_share_now",
            col("bull_now").cast("double") / col("total_now").cast("double"))
          .withColumn("trend",
            col("bull_now").cast("double") / col("total_now").cast("double")
              - col("bull_prior").cast("double") / col("total_prior").cast("double"))
      },
      Some {
        val tickersSql = msTickers.zipWithIndex
          .map { case (t, ti) => s"($ti, '$t')" }.mkString(", ")
        // Per (ti, pi): StrongBuy=ti+pi+1, Buy=2ti+pi, Hold=ti+2pi+3,
        // Sell=pi+1, StrongSell=(ti+pi)%3 — same formulas as the fixture.
        s"""WITH tickers AS (SELECT * FROM (VALUES $tickersSql) t(ti, Ticker)),
           |periods AS (SELECT * FROM (VALUES
           |  (0, '0m'), (1, '-1m'), (2, '-2m'), (3, '-3m')) p(pi, Period)),
           |recs AS (SELECT Ticker, pi,
           |  (ti + pi + 1) + (2 * ti + pi) AS bull,
           |  (ti + pi + 1) + (2 * ti + pi) + (ti + 2 * pi + 3)
           |    + (pi + 1) + ((ti + pi) % 3) AS total
           |  FROM tickers, periods)
           |SELECT Ticker,
           |  CAST(sum(CASE WHEN pi = 0 THEN bull ELSE 0 END) AS BIGINT) AS bull_now,
           |  CAST(sum(CASE WHEN pi = 0 THEN total ELSE 0 END) AS BIGINT) AS total_now,
           |  CAST(sum(CASE WHEN pi = 3 THEN bull ELSE 0 END) AS BIGINT) AS bull_prior,
           |  CAST(sum(CASE WHEN pi = 3 THEN total ELSE 0 END) AS BIGINT) AS total_prior,
           |  CAST(count(*) AS BIGINT) AS n_periods,
           |  CAST(sum(CASE WHEN pi = 0 THEN bull ELSE 0 END) AS DOUBLE)
           |    / CAST(sum(CASE WHEN pi = 0 THEN total ELSE 0 END) AS DOUBLE)
           |    AS bull_share_now,
           |  CAST(sum(CASE WHEN pi = 0 THEN bull ELSE 0 END) AS DOUBLE)
           |    / CAST(sum(CASE WHEN pi = 0 THEN total ELSE 0 END) AS DOUBLE)
           |  - CAST(sum(CASE WHEN pi = 3 THEN bull ELSE 0 END) AS DOUBLE)
           |    / CAST(sum(CASE WHEN pi = 3 THEN total ELSE 0 END) AS DOUBLE)
           |    AS trend
           |FROM recs GROUP BY Ticker""".stripMargin
      }),

    // The DIVIDEND_HISTORY warehouse table (reference `code/sql/DDLs:
    // 165-170`; ingested per ticker at `ingest_data_API.py:107-110`),
    // joined to a price series with the real as-of operator — the
    // prices↔dividends (Ticker, Date) pair SURVEY §2.3 names as THE
    // as-of use case. Fixture = one dividends CSV per ticker (quarterly
    // ex-dates, DECIMAL(20,2) amounts per the DDL); left side = a
    // month-end close series built in-plan; Joins.asofJoin carries the
    // most recent dividend (Date <= close date) forward — one shuffle on
    // Ticker, one sort, null before the first ex-date. Amounts are
    // exact cents from (ticker, quarter) indexes, so the oracle computes
    // the covering quarter per month in closed form.
    "dividend_asof" -> Q(
      (s, dir) => {
        val fix = fixDir(dir, "divhist")
        val exDates = Seq("2023-02-15", "2023-05-15", "2023-08-15", "2023-11-15")
        Files.createDirectories(Paths.get(fix))
        for ((t, ti) <- msTickers.zipWithIndex) {
          val header = "Date,Dividends"
          val rows = exDates.zipWithIndex.map { case (d, qi) =>
            // Exact cents: 25*(ti+1) + qi, rendered at scale 2.
            s"$d,${java.math.BigDecimal.valueOf(25L * (ti + 1) + qi, 2).toPlainString}"
          }
          Files.write(Paths.get(s"$fix/$t.csv"),
            (header +: rows).mkString("\n").getBytes(StandardCharsets.UTF_8))
        }
        val readSchema = StructType(Seq("Date", "Dividends")
          .map(StructField(_, StringType, nullable = true)))
        val raw = Sources.csvWithHeader(s, s"$fix/*.csv", readSchema)
        // Typed to the DDL (Schemas.dividendHistory): DECIMAL(20,2) exact.
        val divs = Sources.globWithKey(raw, "Ticker", "([A-Z]+)\\.csv$")
          .select(col("Ticker"),
            col("Date").cast("date").as("Date"),
            col("Dividends").cast(DecimalType(20, 2)).as("Dividends"))
        import s.implicits._
        val prices = msTickers.zipWithIndex.toDF("Ticker", "ti")
          .withColumn("m", explode(sequence(lit(1), lit(12))))
          .select(col("Ticker"),
            last_day(make_date(lit(2023), col("m"), lit(1))).as("Date"),
            (col("ti") * 100 + col("m") + lit(0.5)).as("Close"))
        // The dataflow is DECIMAL(20,2) end-to-end; only the OUTPUT is
        // cast to DOUBLE for the hash compare (repo convention — the
        // oracle harness flattens DuckDB DECIMAL to float64).
        Joins.asofJoin(prices, divs, "Ticker", "Date", "Dividends")
          .withColumn("Dividends", col("Dividends").cast("double"))
      },
      Some {
        val tickersSql = msTickers.zipWithIndex
          .map { case (t, ti) => s"($ti, '$t')" }.mkString(", ")
        // Month-end m covers quarter qi = least((m-2)//3, 3) once m >= 2
        // (ex-dates are the 15th of Feb/May/Aug/Nov); January precedes
        // every ex-date -> NULL.
        s"""WITH tickers AS (SELECT * FROM (VALUES $tickersSql) t(ti, Ticker)),
           |months AS (SELECT CAST(unnest(range(1, 13)) AS INT) AS m)
           |SELECT Ticker,
           |  last_day(make_date(2023, m, 1)) AS Date,
           |  CAST(ti * 100 + m + 0.5 AS DOUBLE) AS Close,
           |  CASE WHEN m < 2 THEN CAST(NULL AS DOUBLE)
           |       ELSE CAST((25 * (ti + 1) + LEAST((m - 2) // 3, 3)) / 100.0
           |                 AS DOUBLE) END AS Dividends
           |FROM tickers, months""".stripMargin
      }),

    // D3 GOLDEN PIPELINE — the reference's whole DAG chain as ONE
    // Pipeline.runStages run (transform_open_close_data.py:102 `upload >>
    // transform >> load`, transform_tabular_entities.py:88-110), every
    // stage a real operator from §2, the hand-offs through the real sinks:
    //   ingest    raw per-ticker price CSVs (Kaggle header side < 1998,
    //             API headerless side with 4 junk rows per file >= 1998),
    //             tickers = region names
    //   combine   S1/S2 scans (ONE glob each, Ticker from the path,
    //             per-FILE junk skip) -> standardize -> O1 union -> S6
    //             year-partitioned parquet
    //   statements per-ticker statement sheets -> S4 glob scan -> R1 keyed
    //             transpose -> S7 parquet
    //   info      S5 whole-file JSON docs -> P9 flatten -> S8 NDJSON
    //   warehouse S9/S10 loads registering the three relations
    //   analytics the star rollup joining all three (returned frame)
    // A stage failure aborts the chain (D3 semantics); the driver hashes
    // the final analytical output, which the oracle recomputes end-to-end
    // from the base tables.
    "d3_full_pipeline" -> Q(
      (s, dir) => {
        val fix = fixDir(dir, "d3full")
        // Tickers are region names with spaces folded to '_' ("MIDDLE
        // EAST" would otherwise URI-escape inside the partition path).
        val tk = regexp_replace(col("r_name"), " ", "_")
        val base = Tables.orders(s, dir)
          .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
          .join(broadcast(Tables.nation(s, dir)),
            col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(Tables.region(s, dir)),
            col("n_regionkey") === col("r_regionkey"))
        // The daily frame feeds BOTH ingest branches (Kaggle < 1998, API
        // >= 1998): pin it so the 4-way join + agg runs once, not twice.
        val daily = graft.ops.Materialize.Local(
          base.groupBy(tk.as("Ticker"), col("o_orderdate").as("Date"))
            .agg(min(col("o_totalprice")).as("Open"),
              max(col("o_totalprice")).as("High"),
              min(col("o_totalprice")).as("Low"),
              max(col("o_totalprice")).as("Close"),
              (count(lit(1)) * 100).cast("double").as("Volume")))
        val kSchema = StructType(
          Seq("Date", "Open", "High", "Low", "Close", "Volume", "OpenInt")
            .map(StructField(_, StringType, nullable = true)))
        val aSchema = StructType(
          Seq("Date", "Open", "High", "Low", "Close", "AdjClose", "Volume")
            .map(StructField(_, StringType, nullable = true)))
        var combined: org.apache.spark.sql.DataFrame = null
        var statements: org.apache.spark.sql.DataFrame = null
        var info: org.apache.spark.sql.DataFrame = null
        val stages = Seq(
          Pipeline.Stage("ingest_prices") { _ =>
            // Kaggle side: header CSV, comma-grouped Volume, OpenInt.
            daily.filter(year(col("Date")) < 1998).select(
                date_format(col("Date"), "yyyy-MM-dd").as("Date"),
                col("Open").cast("string"), col("High").cast("string"),
                col("Low").cast("string"), col("Close").cast("string"),
                format_number(col("Volume"), 0).as("Volume"),
                lit("0").as("OpenInt"), col("Ticker"))
              .repartition(col("Ticker"))
              .write.mode("overwrite").partitionBy("Ticker")
              .option("header", "true").csv(s"$fix/kaggle")
            // API side: headerless, 4 junk metadata rows AT THE TOP OF
            // EACH per-ticker file (the "!" sort prefix precedes any
            // date), AdjClose column.
            val tickers = Tables.region(s, dir)
              .select(regexp_replace(col("r_name"), " ", "_")).collect()
              .map(_.getString(0)).toSeq // 5-row dim: fixture prep only
            val junkRows = tickers.flatMap { t =>
              Seq(("!0", "Price", "", "", "", "", "", "", t),
                ("!1", "Ticker", t, "", "", "", "", "", t),
                ("!2", "Date", "", "", "", "", "", "", t),
                ("!3", "", "", "", "", "", "", "", t))
            }
            import s.implicits._
            val junk = junkRows.toDF("sort", "Date", "Open", "High", "Low",
              "Close", "AdjClose", "Volume", "Ticker")
            val apiRows = daily.filter(year(col("Date")) >= 1998).select(
              date_format(col("Date"), "yyyy-MM-dd").as("sort"),
              date_format(col("Date"), "yyyy-MM-dd").as("Date"),
              col("Open").cast("string"), col("High").cast("string"),
              col("Low").cast("string"), col("Close").cast("string"),
              col("Close").cast("string").as("AdjClose"),
              col("Volume").cast("string"), col("Ticker"))
            junk.unionByName(apiRows)
              .repartition(col("Ticker")).sortWithinPartitions("sort")
              .drop("sort")
              .write.mode("overwrite").partitionBy("Ticker")
              .option("header", "false").csv(s"$fix/api")
          },
          Pipeline.Stage("standardize_combine") { _ =>
            // Kaggle: S1 scan -> M2 standardize (narrow, so the file name
            // is still addressable afterwards for key recovery).
            val kag = Sources.globWithKey(
              Clean.standardizeKaggle(
                Sources.csvWithHeader(s, s"$fix/kaggle/Ticker=*/", kSchema)
                  .drop("OpenInt")),
              "Ticker", "Ticker=([A-Z_]+)/")
            // API: S2 scan; Ticker BEFORE the skip window (the shuffle
            // severs file context), then the per-FILE junk skip — the
            // scale-correct W1 variant (every file drops its own 4 rows
            // in parallel).
            val api = Clean.parseDateStrict(
              Windows.skipRowsPerFile(
                Sources.globWithKey(
                  Sources.csvHeaderless(s, s"$fix/api/Ticker=*/", aSchema),
                  "Ticker", "Ticker=([A-Z_]+)/"), 4), "Date")
              .select(col("Date"),
                col("Open").cast("double").as("Open"),
                col("High").cast("double").as("High"),
                col("Low").cast("double").as("Low"),
                col("Close").cast("double").as("Close"),
                Clean.numericFromGrouped(col("Volume")).as("Volume"),
                col("Ticker"))
              .withColumn("Source", lit("API"))
            combined = kag.unionByName(api.select(kag.columns.map(col): _*))
              .withColumn("year", year(col("Date")))
            Sources.writeParquetPartitioned(combined, s"$fix/landing", "year")
          },
          Pipeline.Stage("statements") { _ =>
            // Per-ticker statement sheets derived from the same yearly
            // revenue the oracle recomputes; driver-side fixture prep is
            // a ~35-row collect (5 tickers x 7 years).
            val metrics = Seq("TotalRevenue", "NetIncome", "GrossProfit")
            val byYear = base.groupBy(tk.as("Ticker"),
                year(col("o_orderdate")).as("y"))
              .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
              .collect().map(r => (r.getString(0), r.getInt(1), r.getDecimal(2)))
            val years = byYear.map(_._2).distinct.sorted
            byYear.groupBy(_._1).foreach { case (t, rows) =>
              val byY = rows.map(r => r._2 -> r._3).toMap
              def cell(y: Int)(f: java.math.BigDecimal => String): String =
                byY.get(y).map(f).getOrElse("")
              val lines = Seq(
                "TotalRevenue," + years.map(y => cell(y)(_.toPlainString)).mkString(","),
                "NetIncome," + years.map(y => cell(y)(d => (d.doubleValue() / 10).toString)).mkString(","),
                "GrossProfit," + years.map(y => cell(y)(d => (d.doubleValue() / 2).toString)).mkString(","),
                "JunkMetric," + years.map(_ => "0").mkString(","))
              Files.createDirectories(Paths.get(s"$fix/statements"))
              Files.write(Paths.get(s"$fix/statements/$t.csv"),
                (s"name,${years.mkString(",")}" +: lines).mkString("\n")
                  .getBytes(StandardCharsets.UTF_8))
            }
            // S4 glob scan -> R1 keyed transpose: all tickers, one job.
            val raw = Sources.statementCsv(s, s"$fix/statements/*.csv")
            val keyed = Sources.globWithKey(raw, "Ticker", "([A-Z_]+)\\.csv$")
            statements = Reshape.transposeStatementKeyed(keyed, "name", metrics, "Ticker")
            Sources.writeParquetSingle(statements, s"$fix/stmt_parquet")
          },
          Pipeline.Stage("info_json") { _ =>
            val regions = Tables.region(s, dir)
              .select("r_regionkey", "r_name").collect() // 5-row dim
            Files.createDirectories(Paths.get(s"$fix/info"))
            regions.foreach { r =>
              val (k, n) = (r.getInt(0), r.getString(1).replace(' ', '_'))
              val doc =
                s"""{"symbol": "$n", "shortName": "Region $n",
                   | "fullTimeEmployees": ${(k + 1) * 1000},
                   | "address1": "HQ $k"}""".stripMargin
              Files.write(Paths.get(s"$fix/info/r_$k.json"),
                doc.getBytes(StandardCharsets.UTF_8))
            }
            info = Clean.flattenInfo(
              Sources.jsonDocuments(s, s"$fix/info/*.json", Schemas.infoJson))
            Sources.writeNdjson(info, s"$fix/info_ndjson")
          },
          Pipeline.Stage("warehouse") { _ =>
            Sources.loadWarehouseParquet(s, s"$fix/landing", "d3_prices")
            Sources.loadWarehouseParquet(s, s"$fix/stmt_parquet", "d3_statements")
            Sources.loadWarehouseNdjson(s, s"$fix/info_ndjson",
              StructType(Seq("symbol", "shortName", "industry", "sector",
                "fullTimeEmployees", "totalRevenue", "address", "city",
                "state", "zip", "website")
                .map(StructField(_, StringType, nullable = true))),
              "d3_info")
          })
        val results = Pipeline.runStages(s, stages)
        require(results.size == stages.size && results.forall(_.error.isEmpty),
          s"pipeline stage failed: $results")
        // The star analytic over the warehouse relations — the frame the
        // driver hashes.
        s.sql("""SELECT i.symbol, p.year, p.n_days, p.total_volume,
                |  p.max_close, st.TotalRevenue AS total_revenue,
                |  st.NetIncome AS net_income,
                |  CAST(i.fullTimeEmployees AS INT) AS employees
                |FROM (SELECT Ticker, year, count(*) AS n_days,
                |        sum(Volume) AS total_volume, max(Close) AS max_close
                |      FROM d3_prices GROUP BY Ticker, year) p
                |JOIN d3_statements st
                |  ON st.Ticker = p.Ticker AND st.Date = CAST(p.year AS STRING)
                |JOIN d3_info i ON i.symbol = p.Ticker""".stripMargin)
      },
      Some("""WITH base AS (
             |  SELECT replace(r_name, ' ', '_') AS tk, o_orderdate AS d,
             |         o_totalprice AS pr
             |  FROM orders JOIN customer ON o_custkey = c_custkey
             |  JOIN nation ON c_nationkey = n_nationkey
             |  JOIN region ON n_regionkey = r_regionkey),
             |daily AS (SELECT tk, d, max(pr) AS close, count(*) * 100 AS vol
             |          FROM base GROUP BY 1, 2),
             |prices AS (SELECT tk, year(d) AS yr,
             |             CAST(count(*) AS BIGINT) AS n_days,
             |             CAST(sum(vol) AS DOUBLE) AS total_volume,
             |             max(close) AS max_close
             |           FROM daily GROUP BY 1, 2),
             |st AS (SELECT tk, year(d) AS yr,
             |         CAST(sum(CAST(pr AS DECIMAL(18,2))) AS DOUBLE)
             |           AS total_revenue,
             |         CAST(sum(CAST(pr AS DECIMAL(18,2))) AS DOUBLE) / 10
             |           AS net_income
             |       FROM base GROUP BY 1, 2),
             |info AS (SELECT replace(r_name, ' ', '_') AS symbol,
             |           CAST((r_regionkey + 1) * 1000 AS INT) AS employees
             |         FROM region)
             |SELECT i.symbol, CAST(p.yr AS INT) AS year, p.n_days,
             |  p.total_volume, p.max_close, s.total_revenue, s.net_income,
             |  i.employees
             |FROM prices p JOIN st s ON p.tk = s.tk AND p.yr = s.yr
             |JOIN info i ON i.symbol = p.tk""".stripMargin)),

    // Streaming batch-parity: the EXACT plan graft.streaming.Streams runs
    // incrementally (window + watermark), executed in batch mode. The
    // StreamsSpec replays the same data through MemoryStream and asserts
    // it matches this batch result.
    "st1_tumbling_window" -> Q(
      (s, dir) => graft.streaming.Streams.tumblingAgg(
        Tables.events(s, dir), "15 minutes", "1 hour"),
      Some("""SELECT make_timestamp((epoch_us(CAST(ts AS TIMESTAMP)) // 900000000)
             | * 900000000) AS window_start, event_type,
             |CAST(count(*) AS BIGINT) AS n,
             |CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
             |FROM events GROUP BY 1, 2""".stripMargin)),

    // Windowed top-k batch parity: per hourly window, the 3 highest-value
    // events via the bounded-heap aggregate under window state — O(k)
    // state per window in streaming (the heap's merge IS the state-store
    // merge), vs a rank window's full per-window sort. Ties to the
    // smaller event_id.
    "st6_windowed_topk" -> Q(
      (s, dir) => graft.streaming.Streams.windowedTopK(
        Tables.events(s, dir), "1 hour", "1 hour", k = 3),
      Some("""WITH w AS (SELECT make_timestamp(
             |  (epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) * 3600000000)
             |    AS window_start, event_id, value FROM events
             |  WHERE value IS NOT NULL AND event_id IS NOT NULL),
             |r AS (SELECT window_start, event_id, value,
             |  CAST(row_number() OVER (PARTITION BY window_start
             |    ORDER BY value DESC, event_id) AS INT) AS rank FROM w)
             |SELECT window_start, rank, value, event_id
             |FROM r WHERE rank <= 3""".stripMargin)),

    // session_window batch parity: gap-based sessions per user with the
    // native session_window operator (stateful in streaming). The island
    // flag uses >= gap: session_window's window is [start, last + gap), so
    // an event at EXACTLY last + gap starts a new session.
    "st2_session_window" -> Q(
      (s, dir) => graft.streaming.Streams.sessionAgg(
        Tables.events(s, dir), "30 minutes", "1 hour"),
      Some("""WITH f AS (
             |  SELECT user_id, ts, value,
             |    CASE WHEN lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER
             |           (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
             |         OR epoch_us(CAST(ts AS TIMESTAMP))
             |            - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER
             |              (PARTITION BY user_id ORDER BY ts, event_id)
             |            >= 1800000000
             |         THEN 1 ELSE 0 END AS flag
             |  FROM events),
             |g AS (
             |  SELECT user_id, ts, value, sum(flag) OVER
             |    (PARTITION BY user_id ORDER BY ts, rowid
             |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
             |  FROM (SELECT row_number() OVER () AS rowid, * FROM f))
             |SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS session_start,
             |  make_timestamp(epoch_us(max(CAST(ts AS TIMESTAMP))) + 1800000000)
             |    AS session_end,
             |  CAST(count(*) AS BIGINT) AS n_events,
             |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
             |FROM g GROUP BY user_id, sid""".stripMargin)),

    // st4 - stream-stream interval join, batch parity: view -> purchase
    // attribution within 30 minutes per user. In streaming both sides
    // buffer bounded state (watermark + time-range join condition).
    "st4_interval_join" -> Q(
      (s, dir) => {
        val ev = Tables.events(s, dir)
        graft.streaming.Streams.intervalJoin(
          ev.filter(col("event_type") === "view"),
          ev.filter(col("event_type") === "purchase"),
          key = "user_id", horizon = "30 minutes", watermark = "1 hour")
          .select(col("l_id"), col("r_id"))
      },
      Some("""SELECT v.event_id AS l_id, p.event_id AS r_id
             |FROM events v JOIN events p ON v.user_id = p.user_id
             |AND CAST(p.ts AS TIMESTAMP) >= CAST(v.ts AS TIMESTAMP)
             |AND CAST(p.ts AS TIMESTAMP) <= CAST(v.ts AS TIMESTAMP)
             |    + INTERVAL 30 MINUTE
             |WHERE v.event_type = 'view'
             |AND p.event_type = 'purchase'""".stripMargin)),

    // Sequence/funnel analytics: per-user 3-stage funnel — first view,
    // first click at-or-after it, first purchase at-or-after that. Each
    // stage is a pushdown-filtered scan + min-aggregate + equi-join on
    // user_id. Stage frames are USER-cardinality — smaller than the event
    // stream but still billions of rows at 100 TB, so they do NOT
    // broadcast; the intended plan is shuffle hash/sort-merge joins on
    // user_id, where all three stage joins share one user_id partitioning
    // (one exchange reused). What the shape buys is that no window ever
    // runs over the raw events.
    "events_funnel" -> Q(
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val v = ev.filter(col("event_type") === "view")
          .groupBy("user_id").agg(min(col("ts")).as("t_view"))
        val c = ev.filter(col("event_type") === "click")
          .join(v, Seq("user_id"))
          .filter(col("ts") >= col("t_view"))
          .groupBy("user_id").agg(min(col("ts")).as("t_click"))
        val p = ev.filter(col("event_type") === "purchase")
          .join(c, Seq("user_id"))
          .filter(col("ts") >= col("t_click"))
          .groupBy("user_id").agg(min(col("ts")).as("t_purchase"))
        v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
      },
      Some("""WITH v AS (SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS t_view
             |  FROM events WHERE event_type = 'view' GROUP BY 1),
             |c AS (SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS t_click
             |  FROM events e JOIN v ON e.user_id = v.user_id
             |  WHERE e.event_type = 'click' AND CAST(e.ts AS TIMESTAMP) >= v.t_view
             |  GROUP BY 1),
             |p AS (SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS t_purchase
             |  FROM events e JOIN c ON e.user_id = c.user_id
             |  WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) >= c.t_click
             |  GROUP BY 1)
             |SELECT v.user_id, v.t_view, c.t_click, p.t_purchase
             |FROM v LEFT JOIN c ON v.user_id = c.user_id
             |LEFT JOIN p ON v.user_id = p.user_id""".stripMargin)),

    // Cohort retention: users grouped by first-activity week, counted
    // distinct in each subsequent week. Two aggregates over a
    // week-truncated projection plus one user-keyed join — the classic
    // retention matrix with no window and no per-cohort scan. The cohort
    // frame is USER-cardinality — at 100 TB that is billions of rows, not
    // broadcast-sized — so the active⋈cohort join is a shuffle join on
    // user_id, co-partitioned with the aggregates that produce both sides
    // (the equi-join degrades gracefully; nothing here needs a broadcast).
    "events_retention" -> Q(
      (s, dir) => {
        val wk = Tables.events(s, dir)
          .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
        val cohort = wk.groupBy("user_id").agg(min(col("wk")).as("cohort_wk"))
        val active = wk.distinct()
        active.join(cohort, Seq("user_id"))
          .withColumn("week_offset",
            (datediff(col("wk"), col("cohort_wk")) / 7).cast("int"))
          .groupBy(col("cohort_wk"), col("week_offset"))
          .agg(count_distinct(col("user_id")).as("n_users"))
      },
      Some("""WITH wk AS (SELECT user_id,
             |  date_trunc('week', CAST(ts AS TIMESTAMP)) AS wk FROM events),
             |cohort AS (SELECT user_id, min(wk) AS cohort_wk FROM wk GROUP BY 1),
             |active AS (SELECT DISTINCT user_id, wk FROM wk)
             |SELECT cohort_wk,
             |  CAST(date_diff('day', CAST(cohort_wk AS DATE), CAST(wk AS DATE)) / 7
             |    AS INT) AS week_offset,
             |  CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_users
             |FROM active a JOIN cohort c ON a.user_id = c.user_id
             |GROUP BY 1, 2""".stripMargin)),

    // Exact distributed correlation/covariance: Pearson r and sample
    // covariance of (value, props.k) per event type, derived from EXACT
    // decimal sums (n, Σx, Σy, Σxy, Σx², Σy²) — order-independent, one
    // map-side-combined aggregate, so the derived doubles are
    // engine-identical. The built-in corr()/covar_samp() accumulate in
    // partition order and cannot hash-match across engines.
    "events_corr" -> Q(
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        val x = col("value").cast("decimal(18,2)")
        val y = col("k").cast("decimal(18,2)")
        val agg = ev.groupBy(col("event_type")).agg(
          count(lit(1)).as("n"), sum(x).as("sx"), sum(y).as("sy"),
          sum(x * y).as("sxy"), sum(x * x).as("sx2"), sum(y * y).as("sy2"))
        def d(c: String) = col(c).cast("double")
        agg.select(col("event_type"), col("n"),
          ((col("n") * d("sxy") - d("sx") * d("sy")) /
            (sqrt(col("n") * d("sx2") - d("sx") * d("sx")) *
             sqrt(col("n") * d("sy2") - d("sy") * d("sy")))).as("pearson_r"),
          ((d("sxy") - d("sx") * d("sy") / col("n")) / (col("n") - 1))
            .as("covar_samp"))
      },
      Some("""WITH a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             |  sum(CAST(value AS DECIMAL(18,2))) AS sx,
             |  sum(CAST(TRY_CAST(json_extract_string(props, '$.k') AS INT)
             |      AS DECIMAL(18,2))) AS sy,
             |  sum(CAST(value AS DECIMAL(18,2))
             |    * CAST(TRY_CAST(json_extract_string(props, '$.k') AS INT)
             |        AS DECIMAL(18,2))) AS sxy,
             |  sum(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS sx2,
             |  sum(CAST(TRY_CAST(json_extract_string(props, '$.k') AS INT) AS DECIMAL(18,2))
             |    * CAST(TRY_CAST(json_extract_string(props, '$.k') AS INT)
             |        AS DECIMAL(18,2))) AS sy2
             |  FROM events GROUP BY 1)
             |SELECT event_type, n,
             |  (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
             |  (sqrt(n * CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
             |   * sqrt(n * CAST(sy2 AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
             |    AS pearson_r,
             |  (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n)
             |    / (n - 1) AS covar_samp
             |FROM a""".stripMargin)),

    // Key-skew diagnostic: the 20 heaviest users and their row share —
    // what decides salting buckets / AQE skew thresholds. Map-side
    // count, then ONE pass computing total + bounded-heap top-k together
    // (single scan — no scalar subquery re-aggregation).
    "skew_topk" -> Q(
      (s, dir) => graft.ops.Aggs.keySkewTopK(
        Tables.events(s, dir), "user_id", k = 20),
      Some("""WITH c AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n
             |  FROM events GROUP BY 1),
             |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c)
             |SELECT user_id, n, CAST(n AS DOUBLE) / CAST(total AS DOUBLE)
             |  AS share
             |FROM c CROSS JOIN t
             |ORDER BY n DESC, user_id LIMIT 20""".stripMargin)),

    // Stream-static enrichment parity: events joined to a broadcast user
    // dimension (deterministic hash segment), rolled up per (segment,
    // type). In streaming the same call re-reads the dim per micro-batch
    // with NO stream-side state; MemoryStream parity in StreamsSpec.
    "st5_stream_static_join" -> Q(
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val dim = ev.select(col("user_id")).distinct()
          .withColumn("segment",
            pmod(graft.functions.HashFunctions.hash60(
              concat(lit("seg:"), col("user_id"))), lit(3L)).cast("int"))
        graft.streaming.Streams.enrichWithStatic(ev, dim, "user_id")
          .groupBy(col("segment"), col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(18,2)")).cast("double")
              .as("total_value"))
      },
      Some("""WITH dim AS (SELECT DISTINCT user_id,
             |  CAST(CAST('0x' || substr(md5('seg:' ||
             |    CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) % 3 AS INT)
             |    AS segment FROM events)
             |SELECT d.segment, e.event_type, CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total_value
             |FROM events e JOIN dim d ON e.user_id = d.user_id
             |GROUP BY 1, 2""".stripMargin)),

    // Small-file compaction roundtrip: fragment the part table into 40
    // files, compact to ~4 by actual byte size, aggregate the compacted
    // copy. Data survives bit-exact (oracle over the original table);
    // the file-count collapse is spec-asserted.
    "s15_compaction" -> Q(
      (s, dir) => {
        val frag = fixDir(dir, "s15_frag")
        val compacted = fixDir(dir, "s15_compact")
        Tables.part(s, dir).repartition(40)
          .write.mode("overwrite").parquet(frag)
        Sources.compactParquet(s, frag, compacted, targetBytes = 256 * 1024)
          .groupBy(col("p_brand"))
          .agg(count(lit(1)).as("n"),
            sum(col("p_retailprice").cast("decimal(18,2)")).cast("double")
              .as("total_price"))
      },
      Some("""SELECT p_brand, CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total_price
             |FROM part GROUP BY 1""".stripMargin)),

    // S17 - DYNAMIC partition overwrite: write the full table partitioned
    // by segment, then rewrite ONE segment's rows with updated values.
    // Only that partition directory is replaced (a plain overwrite would
    // truncate the table — the full-rewrite trap a daily incremental job
    // must avoid); the read-back must show the updated segment alongside
    // the untouched ones.
    "s17_dynamic_overwrite" -> Q(
      (s, dir) => {
        val fix = fixDir(dir, "s17")
        val cust = Tables.customer(s, dir)
          .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
        Sources.overwriteDynamicPartitions(cust, fix, "c_mktsegment")
        // The incremental batch: BUILDING rows rewritten with doubled
        // balances; every other partition must survive untouched.
        Sources.overwriteDynamicPartitions(
          cust.filter(col("c_mktsegment") === "BUILDING")
            .withColumn("c_acctbal", col("c_acctbal") * 2),
          fix, "c_mktsegment")
        s.read.parquet(fix)
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n"),
            sum(col("c_acctbal").cast("decimal(18,2)")).cast("double")
              .as("total_bal"))
      },
      Some("""SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
             |CAST(sum(CAST(CASE WHEN c_mktsegment = 'BUILDING'
             |  THEN c_acctbal * 2 ELSE c_acctbal END AS DECIMAL(18,2)))
             |  AS DOUBLE) AS total_bal
             |FROM customer GROUP BY 1""".stripMargin)),

    // Schema-evolution read: two parquet generations (v2 adds a column),
    // mergeSchema unions the footers; v1 rows surface the new column as
    // NULL. Aggregates count coverage per generation.
    "s16_schema_evolution" -> Q(
      (s, dir) => {
        val v1 = fixDir(dir, "s16_v1")
        val v2 = fixDir(dir, "s16_v2")
        val part = Tables.part(s, dir)
        part.filter(col("p_partkey") % 2 === 0)
          .select(col("p_partkey"), col("p_brand"))
          .write.mode("overwrite").parquet(v1)
        part.filter(col("p_partkey") % 2 === 1)
          .select(col("p_partkey"), col("p_brand"), col("p_retailprice"))
          .write.mode("overwrite").parquet(v2)
        Sources.readMergedSchema(s, v1, v2)
          .groupBy(col("p_brand"))
          .agg(count(lit(1)).as("n"),
            count(col("p_retailprice")).as("n_with_price"))
      },
      Some("""SELECT p_brand, CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(CASE WHEN p_partkey % 2 = 1 THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_with_price
             |FROM part GROUP BY 1""".stripMargin)),

    // Scalar data-quality rules: violation counts for 5 row predicates in
    // ONE map-side-combined pass over one pruned scan (all-long buffer).
    "dq_rule_violations" -> Q(
      (s, dir) => graft.ops.Checks.ruleViolations(Tables.lineitem(s, dir), Seq(
        "quantity_out_of_range" -> !col("l_quantity").between(1, 50),
        "quantity_gt_40" -> (col("l_quantity") > 40),
        "returnflag_out_of_domain" -> !col("l_returnflag").isin("A", "N", "R"),
        "discount_out_of_range" -> !col("l_discount").between(0, 0.1),
        "shipdate_null" -> col("l_shipdate").isNull)),
      Some {
        val rules = Seq(
          "quantity_out_of_range" -> "NOT (l_quantity BETWEEN 1 AND 50)",
          "quantity_gt_40" -> "l_quantity > 40",
          "returnflag_out_of_domain" -> "l_returnflag NOT IN ('A', 'N', 'R')",
          "discount_out_of_range" -> "NOT (l_discount BETWEEN 0 AND 0.1)",
          "shipdate_null" -> "l_shipdate IS NULL")
        val aggs = rules.zipWithIndex.map { case ((_, p), i) =>
          s"CAST(sum(CASE WHEN $p THEN 1 ELSE 0 END) AS BIGINT) AS v$i"
        }.mkString(", ")
        val branches = rules.zipWithIndex.map { case ((n, _), i) =>
          s"SELECT '$n' AS rule, n_rows, v$i AS n_violations FROM a"
        }.mkString("\nUNION ALL\n")
        s"""WITH a AS (SELECT CAST(count(*) AS BIGINT) AS n_rows, $aggs
           |  FROM lineitem)
           |$branches""".stripMargin
      }),

    // Duplicate-key audit: group counts (shuffle = key cardinality) then
    // a tiny rollup — never a self-join. o_custkey has real duplicates.
    "dq_duplicate_keys" -> Q(
      (s, dir) => graft.ops.Checks.duplicateKeys(
        Tables.orders(s, dir), Seq("o_custkey")),
      Some("""WITH c AS (SELECT o_custkey, count(*) AS n
             |  FROM orders GROUP BY 1)
             |SELECT CAST(count(*) AS BIGINT) AS n_keys,
             |  CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_dup_keys,
             |  CAST(sum(CASE WHEN n > 1 THEN n - 1 ELSE 0 END) AS BIGINT)
             |    AS n_surplus_rows
             |FROM c""".stripMargin)),

    // Referential-integrity audit: anti-join orphan counts along the two
    // fact->dim edges; parent sides distinct'd before the anti-join.
    "dq_referential" -> Q(
      (s, dir) => graft.ops.Checks.orphanKeys(
        Tables.lineitem(s, dir), "l_orderkey",
        Tables.orders(s, dir), "o_orderkey", "lineitem->orders")
        .unionByName(graft.ops.Checks.orphanKeys(
          Tables.orders(s, dir), "o_custkey",
          Tables.customer(s, dir), "c_custkey", "orders->customer")),
      Some("""SELECT 'lineitem->orders' AS relation,
             |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS n_rows,
             |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem
             |     WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))
             |    AS n_orphans
             |UNION ALL
             |SELECT 'orders->customer' AS relation,
             |  (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_rows,
             |  (SELECT CAST(count(*) AS BIGINT) FROM orders
             |     WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))
             |    AS n_orphans""".stripMargin)),

    // k-anonymity audit over the (nation, segment) quasi-identifier
    // pair: group sizes + re-identification risk (group < k) — the
    // privacy gate a pipeline runs before releasing quasi-identified
    // records. One map-side-combined aggregate, shuffle = group
    // cardinality.
    "dq_k_anonymity" -> Q(
      (s, dir) => graft.ops.Checks.kAnonymityAudit(
        Tables.customer(s, dir), Seq("c_nationkey", "c_mktsegment"), k = 8),
      Some("""SELECT c_nationkey, c_mktsegment,
             |  CAST(count(*) AS BIGINT) AS n,
             |  CAST(CASE WHEN count(*) < 8 THEN 1 ELSE 0 END AS INT)
             |    AS at_risk
             |FROM customer GROUP BY 1, 2""".stripMargin)),

    // ...and the enforcement: rows in below-k groups get their
    // quasi-identifiers SUPPRESSED (nulled); everything else passes
    // through. The risky-group frame is group-cardinality-sized and
    // joins back on the quasi key (AQE broadcasts it when small).
    "dq_k_suppress" -> Q(
      (s, dir) => graft.ops.Checks.suppressBelowK(
        Tables.customer(s, dir), Seq("c_nationkey", "c_mktsegment"), k = 8)
        .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment")),
      Some("""WITH g AS (SELECT c_nationkey, c_mktsegment, count(*) AS n
             |  FROM customer GROUP BY 1, 2)
             |SELECT c_custkey,
             |  CASE WHEN n < 8 THEN NULL ELSE c.c_nationkey END
             |    AS c_nationkey,
             |  CASE WHEN n < 8 THEN NULL ELSE c.c_mktsegment END
             |    AS c_mktsegment
             |FROM customer c JOIN g USING (c_nationkey, c_mktsegment)"""
        .stripMargin)),

    // Benford's-law first-digit audit over order totals: values pin to
    // integer cents (a long's decimal string is engine-portable, a
    // double's is not), expected shares are ONE set of Scala-computed
    // ppm literals inlined into BOTH plans — no cross-engine log10.
    "dq_benford" -> Q(
      (s, dir) => graft.ops.Checks.benfordAudit(
        Tables.orders(s, dir), "o_totalprice"),
      Some {
        val cases = graft.ops.Checks.BenfordPpm.toSeq.sortBy(_._1)
          .map { case (d, p) => s"WHEN $d THEN $p" }.mkString(" ")
        s"""WITH p AS (SELECT CAST(floor(o_totalprice * 100.0 + 0.5)
           |    AS BIGINT) AS cents
           |  FROM orders WHERE o_totalprice > 0),
           |b AS (SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1)
           |    AS INT) AS digit
           |  FROM p WHERE cents >= 1),
           |c AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM b
           |  GROUP BY 1),
           |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c)
           |SELECT digit, n,
           |  CAST(CASE digit $cases END AS BIGINT) AS expected_ppm,
           |  CAST((n * 1000000) // total AS BIGINT) AS observed_ppm
           |FROM c CROSS JOIN t""".stripMargin
      }),

    // Differential-privacy release: Laplace-noised segment counts
    // (sensitivity-1 count, b=1/eps) with inverse-CDF noise from a
    // hash-seeded uniform — deterministic per (data, salt) so the whole
    // mechanism replays in the oracle, noise pinned to micro-units.
    "dq_dp_noisy_count" -> Q(
      (s, dir) => graft.ops.Checks.dpNoisyCounts(
        Tables.customer(s, dir), Seq("c_mktsegment"),
        epsilon = 1.0, salt = "v1"),
      Some(s"""WITH c AS (SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n
             |  FROM customer GROUP BY 1),
             |sv AS (SELECT c_mktsegment, n,
             |  (CAST(CAST('0x' || substr(md5('dp:v1:' || c_mktsegment),
             |       1, 15) AS BIGINT) % 1000000 AS DOUBLE)
             |     + 0.5) / 1000000.0 - 0.5 AS v
             |  FROM c)
             |SELECT c_mktsegment, n,
             |  n * 1000000 + CAST(floor(-(1.0 / 1.0 * sign(v)) *
             |    ln(1.0 - 2.0 * abs(v)) * 1e6 + 0.5) AS BIGINT)
             |    AS noisy_units
             |FROM sv""".stripMargin)),

    // Z-order curve values for the (partkey, suppkey) box-filter layout:
    // one codegen'd bit-interleave projection, zero shuffle. The write
    // path (writeZOrdered) range-partitions by this value so parquet
    // footers prune both filter columns.
    "zorder_curve" -> Q(
      (s, dir) => Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey"),
          graft.ops.Sources.zorderValue(
            col("l_partkey"), col("l_suppkey"), 16).as("z")),
      Some {
        val mask = (1L << 16) - 1
        val terms = (0 until 16).map { i =>
          s"(((l_partkey & $mask) & ${1L << i}) << $i) | " +
            s"(((l_suppkey & $mask) & ${1L << i}) << ${i + 1})"
        }.mkString("(", ") | (", ")")
        s"""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
           |  CAST($terms AS BIGINT) AS z FROM lineitem""".stripMargin
      }),

    // Per-key running-peak drawdown (the classic equity-curve analytic):
    // each user's event values accumulate into a level series (pinned to
    // integer cents so every prefix sum is exact in BOTH engines —
    // window sums over doubles are association-dependent), the running
    // peak tracks max(level), and max(peak - level) is the worst
    // drawdown. Two window passes + one aggregate under one per-key
    // ordered shuffle — the W2 family shape.
    "events_drawdown" -> Q(
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, 0)
        Tables.events(s, dir)
          .select(col("user_id"), col("ts"), col("event_id"),
            floor(col("value") * lit(100.0) + lit(0.5)).cast("long")
              .as("cents"))
          .withColumn("lvl", sum(col("cents")).over(w))
          .withColumn("peak", max(col("lvl")).over(w))
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_events"),
            sum(col("cents")).as("final_level_cents"),
            max(col("peak") - col("lvl")).as("max_drawdown_cents"))
      },
      Some("""WITH e AS (SELECT user_id, ts, event_id,
             |    CAST(floor("value" * 100.0 + 0.5) AS BIGINT) AS cents
             |  FROM events),
             |w AS (SELECT user_id, ts, event_id, cents,
             |    sum(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |      ROWS UNBOUNDED PRECEDING) AS lvl
             |  FROM e),
             |p AS (SELECT user_id, cents, lvl,
             |    max(lvl) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |      ROWS UNBOUNDED PRECEDING) AS peak
             |  FROM w)
             |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
             |  CAST(sum(cents) AS BIGINT) AS final_level_cents,
             |  CAST(max(peak - lvl) AS BIGINT) AS max_drawdown_cents
             |FROM p GROUP BY user_id""".stripMargin)),

    // Fixed-horizon EWMA smoothing per user: 4 lag terms under ONE window
    // spec (single shuffle + sort), plan-literal weights, pinned
    // left-to-right evaluation — the portable form of the classic
    // sequential-recurrence smoother.
    "events_ewma" -> Q(
      (s, dir) => graft.ops.Windows.ewmaFixed(Tables.events(s, dir),
        "user_id", "ts", "event_id", "value", alpha = 0.5, terms = 4),
      Some {
        val contribs = (0 until 4).map { i =>
          val wt = 0.5 * math.pow(0.5, i)
          (s"CASE WHEN lag(value, $i) OVER w IS NOT NULL THEN lag(value, $i) OVER w * $wt ELSE 0.0 END",
            s"CASE WHEN lag(value, $i) OVER w IS NOT NULL THEN $wt ELSE 0.0 END")
        }
        s"""SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value,
           |  (${contribs.map(_._1).mkString(" + ")})
           |  / (${contribs.map(_._2).mkString(" + ")}) AS ewma
           |FROM events
           |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin
      }),

    // Column profiler: per-column count/null/distinct/min/max in ONE
    // Expand-based scan — the data-quality audit run before trusting a
    // new data drop. Timestamps pre-cast to date strings for portability.
    "profile_columns" -> Q(
      (s, dir) => graft.ops.Aggs.profileColumns(
        Tables.lineitem(s, dir).withColumn("l_shipdate",
          to_date(col("l_shipdate")).cast("string")),
        Seq("l_orderkey", "l_linenumber", "l_returnflag", "l_shipdate",
          "l_quantity")),
      Some {
        val branches = Seq("l_orderkey", "l_linenumber", "l_returnflag",
          "l_shipdate", "l_quantity").map { c =>
          s"""SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(count(*) - count($c) AS BIGINT) AS n_null,
             |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
             |  CAST(min($c) AS VARCHAR) AS min_value,
             |  CAST(max($c) AS VARCHAR) AS max_value FROM li""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH li AS (SELECT l_orderkey, l_linenumber, l_returnflag,
           |  CAST(CAST(l_shipdate AS DATE) AS VARCHAR) AS l_shipdate,
           |  l_quantity FROM lineitem)
           |$branches""".stripMargin
      }),

    // Deterministic A/B analysis: users split 50/50 by a salted hash
    // (rerun/engine invariant, independent of other hash buckets via the
    // "ab:" salt), then per-type arm means and relative lift from EXACT
    // decimal sums — the same order-independent recipe as events_corr,
    // so the derived doubles hash-match. One map-side-combined aggregate
    // + a tiny self-join on event_type.
    "events_ab_lift" -> Q(
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .withColumn("arm",
            when(pmod(graft.functions.HashFunctions.hash60(
              concat(lit("ab:"), col("user_id"))), lit(2L)) === 0, "A")
              .otherwise("B"))
        val agg = ev.groupBy(col("event_type"), col("arm"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(18,2)")).as("s"))
          .withColumn("mean", col("s").cast("double") / col("n"))
        val a = agg.filter(col("arm") === "A")
          .select(col("event_type"), col("n").as("n_a"), col("mean").as("mean_a"))
        val b = agg.filter(col("arm") === "B")
          .select(col("event_type"), col("n").as("n_b"), col("mean").as("mean_b"))
        a.join(b, Seq("event_type"))
          .withColumn("lift", col("mean_b") / col("mean_a") - 1.0)
      },
      Some("""WITH armed AS (SELECT event_type, value,
             |  CASE WHEN CAST('0x' || substr(md5('ab:' ||
             |    CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) % 2 = 0
             |    THEN 'A' ELSE 'B' END AS arm FROM events),
             |agg AS (SELECT event_type, arm, CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*)
             |    AS mean
             |  FROM armed GROUP BY 1, 2)
             |SELECT a.event_type, a.n AS n_a, a.mean AS mean_a,
             |  b.n AS n_b, b.mean AS mean_b, b.mean / a.mean - 1.0 AS lift
             |FROM agg a JOIN agg b
             |  ON a.event_type = b.event_type AND a.arm = 'A' AND b.arm = 'B'
             |""".stripMargin)),

    // Anomaly flagging: per-type z-score outliers. The mean/variance come
    // from EXACT decimal sums (order-independent), so the derived doubles
    // and the z filter are engine-identical - no stddev_samp (whose
    // parallel accumulation order differs per engine).
    "events_anomaly_zscore" -> Q(
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val d = col("value").cast("decimal(18,2)")
        val stats = ev.groupBy(col("event_type").as("et")).agg(
          count(lit(1)).as("n"), sum(d).as("sv"), sum(d * d).as("sv2"))
        val withZ = ev.join(broadcast(stats), col("event_type") === col("et"))
          .withColumn("mean", col("sv").cast("double") / col("n"))
          .withColumn("variance",
            (col("sv2").cast("double")
              - col("sv").cast("double") * col("sv").cast("double") / col("n"))
              / (col("n") - 1))
          .withColumn("z", (col("value") - col("mean")) / sqrt(col("variance")))
        withZ.filter(abs(col("z")) >= 2.5)
          .select("event_id", "event_type", "value", "z")
      },
      Some("""WITH stats AS (
             |  SELECT event_type AS et, CAST(count(*) AS BIGINT) AS n,
             |    sum(CAST(value AS DECIMAL(18,2))) AS sv,
             |    sum(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS sv2
             |  FROM events GROUP BY 1)
             |SELECT event_id, event_type, value,
             |  (value - CAST(sv AS DOUBLE) / n) /
             |  sqrt((CAST(sv2 AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) / n)
             |       / (n - 1)) AS z
             |FROM events JOIN stats ON event_type = et
             |WHERE abs((value - CAST(sv AS DOUBLE) / n) /
             |  sqrt((CAST(sv2 AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) / n)
             |       / (n - 1))) >= 2.5""".stripMargin)),

    // Bucketed co-located join (the writeBucketed scale layout, SURVEY §2.1
    // scale): fact + dim bucketed/sorted on the join key at write time,
    // then joined with NO Exchange on either side — the shuffle is paid
    // once at write. The no-shuffle property is asserted inline (and in
    // BucketedJoinSpec); the oracle checks the join's VALUES.
    "j6_bucketed_join" -> Q(
      (s, dir) => {
        for (t <- Seq("j6_orders", "j6_customer")) {
          s.sql(s"DROP TABLE IF EXISTS $t")
          val loc = Paths.get(
            s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
          if (Files.exists(loc)) {
            import scala.jdk.CollectionConverters._
            Files.walk(loc).iterator().asScala.toSeq.reverse.foreach(Files.delete)
          }
        }
        Sources.writeBucketed(
          Tables.orders(s, dir).select("o_orderkey", "o_custkey", "o_totalprice"),
          "j6_orders", "o_custkey", 8)
        Sources.writeBucketed(
          Tables.customer(s, dir).select("c_custkey", "c_mktsegment"),
          "j6_customer", "c_custkey", 8)
        val joined = s.table("j6_orders")
          .join(s.table("j6_customer"), col("o_custkey") === col("c_custkey"))
        require(!joined.queryExecution.executedPlan.toString
            .contains("Exchange hashpartitioning"),
          "bucketed join must be shuffle-free")
        joined.groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
              .as("total_price"))
      },
      Some("""SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
             |CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |GROUP BY 1""".stripMargin)),

    // D1 + D3 - per-source fault isolation inside a staged run: the bad
    // source is skipped, the good ones flow on
    // (raw_to_landing_sparkjob.py:114-128).
    "d1_fault_isolation" -> Q(
      (s, dir) => {
        val (ok, failed) = Pipeline.isolateFailures(Seq(
          "region" -> (() => Tables.region(s, dir)),
          "missing" -> (() => s.read.parquet(s"$dir/does_not_exist.parquet")),
          "nation" -> (() => Tables.nation(s, dir))))
        require(failed == Seq("missing"), s"expected [missing] isolated, got $failed")
        SetOps.unionAll(ok.map { case (name, df) =>
          df.agg(count(lit(1)).as("n")).withColumn("src", lit(name))
        })
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n, 'region' AS src FROM region
             |UNION ALL
             |SELECT CAST(count(*) AS BIGINT) AS n, 'nation' AS src FROM nation""".stripMargin)))
}
