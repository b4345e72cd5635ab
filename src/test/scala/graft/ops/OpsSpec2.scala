package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.model.Schemas

class JoinsSpec2 extends SparkSpec {
  import spark.implicits._

  test("saltedJoin equals the plain join on a skewed key") {
    val left = (1 to 1000).map(i => (if (i % 10 == 0) 1L else i.toLong, i))
      .toDF("k", "v")
    val right = Seq((1L, "hot"), (2L, "cold"), (55L, "warm")).toDF("k", "tag")
    val plain = left.join(right, Seq("k")).select("k", "v", "tag")
    val salted = Joins.saltedJoin(left, right, "k", buckets = 8)
      .select("k", "v", "tag")
    assert(salted.count() === plain.count())
    assert(salted.except(plain).count() === 0 && plain.except(salted).count() === 0)
  }

  test("rangeJoin pairs points with covering intervals only") {
    val points = Seq(1, 5, 10, 15).toDF("p")
    val intervals = Seq((0, 4, "a"), (5, 9, "b"), (5, 20, "c")).toDF("lo", "hi", "tag")
    val out = Joins.rangeJoin(points, intervals, $"p", $"lo", $"hi")
      .select($"p", $"tag").as[(Int, String)].collect().toSet
    assert(out === Set((1, "a"), (5, "b"), (5, "c"), (10, "c"), (15, "c")))
  }

  test("fuzzyJoinBlocked: recalls single-end edits via either block key, " +
    "respects the distance cap, no cross product") {
    val clean = Seq(
      (1L, "Amalgamated Widget Corp"),
      (2L, "Consolidated Sprocket Ltd"),
      (3L, "Zenith Gasket Holdings")).toDF("id", "name")
    val dirty = Seq(
      (11L, "malgamated Widget Corp"),   // head clipped: suffix block hits
      (12L, "Consolidated Sprocket Lt"), // tail clipped: prefix block hits
      (13L, "Zenith Gasket Hxldings"),   // mid typo: both blocks hit
      (14L, "Completely Unrelated Name"),
      (15L, "Zenith Gasket")             // 9 edits: blocked but over cap
    ).toDF("id", "name")
    val out = Joins.fuzzyJoinBlocked(clean, dirty, "id", "name",
      "id", "name", maxDistance = 1)
      .select($"id_a", $"id_b", $"dist").as[(Long, Long, Int)]
      .collect().toSet
    assert(out === Set((1L, 11L, 1), (2L, 12L, 1), (3L, 13L, 1)))
    // Case/whitespace are normalized before blocking and distance.
    val ci = Joins.fuzzyJoinBlocked(
      Seq((1L, "  ACME Corp ")).toDF("id", "name"),
      Seq((2L, "acme corp")).toDF("id", "name"),
      "id", "name", "id", "name", maxDistance = 0)
      .as[(Long, Long, Int)].collect().toSeq
    assert(ci === Seq((1L, 2L, 0)))
  }

  test("fuzzyJoinBlocked: hot-block cap sub-splits a skewed block by " +
    "length band with zero recall loss") {
    // ADVERSARIAL SKEW: every record shares prefix "the " so the p-block
    // holds all 4000 rows. Lengths vary, so banding disperses it.
    def name(i: Int) = "the " + ("x" * (i % 397)) + f"$i%04d"
    val clean = (0 until 2000).map(i => (i.toLong, name(i))).toDF("id", "name")
    val dirty = (0 until 2000).map(i => (10000L + i, name(i) + "!"))
      .toDF("id", "name") // +1 length: half the pairs straddle a band edge
    val out = Joins.fuzzyJoinBlocked(clean, dirty, "id", "name",
      "id", "name", maxDistance = 1, maxBlockWidth = 100)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(Joins.lastBlockCapSplits.get() > 0,
      "the hot prefix block must trip the width cap")
    assert(Joins.lastBlockCapDrops.get() === 0,
      "length banding must disperse this block without drops")
    // Full recall: every true pair survives, including the band-boundary
    // ones rescued by the probe side's adjacent-band explode.
    assert(out === (0 until 2000).map(i => (i.toLong, 10000L + i)).toSet)
  }

  test("fuzzyJoinBlocked: degenerate same-length hot sub-block is " +
    "dropped loudly, bounding pair mass") {
    val l = (0 until 500).map(i => (i.toLong, "the quick brown fox"))
      .toDF("id", "name")
    val r = (0 until 500).map(i => (1000L + i, "the quick brown fox"))
      .toDF("id", "name")
    val out = Joins.fuzzyJoinBlocked(l, r, "id", "name", "id", "name",
      maxDistance = 0, maxBlockWidth = 50)
    assert(out.count() === 0) // the 250k-pair quadratic block never forms
    assert(Joins.lastBlockCapDrops.get() > 0)
    // Last-call-wins for BOTH diagnostics: a benign follow-up call must
    // clear the drop count, not leave the previous call's value behind.
    Joins.fuzzyJoinBlocked(
      Seq((1L, "alpha")).toDF("id", "name"),
      Seq((2L, "alpha")).toDF("id", "name"),
      "id", "name", "id", "name", maxDistance = 0).count()
    assert(Joins.lastBlockCapSplits.get() === 0)
    assert(Joins.lastBlockCapDrops.get() === 0,
      "a benign call must reset the stale drop diagnostic")
  }

  test("starJoin broadcasts each dim and preserves all fact rows") {
    val fact = spark.read.parquet(sf("customer"))
    val dim = spark.read.parquet(sf("nation"))
      .withColumnRenamed("n_nationkey", "c_nationkey")
    val out = Joins.starJoin(fact, Seq((dim, Seq("c_nationkey"))))
    assert(out.count() === fact.count()) // FK always resolves
    assert(out.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
  }
}

class AggsSpec extends SparkSpec {
  import spark.implicits._

  test("approxPercentileContract: flags hold on clean data, tie-safe, no sort") {
    import org.apache.spark.sql.functions._
    val df = spark.range(10000).toDF("v")
    val out = Aggs.approxPercentileContract(df, "v", Seq(0.25, 0.5, 0.75), 1000)
      .as[(Double, Long, Int)].collect().sortBy(_._1)
    assert(out.map(_._1).toSeq === Seq(0.25, 0.5, 0.75))
    assert(out.forall(r => r._2 === 10000L && r._3 === 1))
    // Massive ties: rank is an interval, the contract must still hold.
    val ties = spark.range(9999).select((col("id") * 0).as("v"))
      .unionByName(Seq(5L).toDF("v"))
    assert(Aggs.approxPercentileContract(ties, "v", Seq(0.5), 100)
      .as[(Double, Long, Int)].head()._3 === 1)
    // The whole plan is aggregates — no global sort of the data.
    val plan = Aggs.approxPercentileContract(df, "v", Seq(0.5), 1000)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Sort "), plan)
    intercept[IllegalArgumentException] {
      Aggs.approxPercentileContract(df, "v", Seq(1.5), 1000)
    }
  }

  test("groupingSetsAgg plans one Expand pass, not a union of scans") {
    import org.apache.spark.sql.functions._
    val df = Seq(("A", "x", 1.0), ("A", "y", 2.0), ("B", "x", 3.0))
      .toDF("f", "s", "q")
    val out = Aggs.groupingSetsAgg(df, Seq("f", "s"),
      Seq(Seq("f"), Seq("s"), Seq.empty), Seq(sum($"q").as("sq")))
    // sets: f in {A,B} (2) + s in {x,y} (2) + grand total (1)
    assert(out.count() === 5)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("Expand"))
    assert("LocalTableScan|Scan".r.findAllIn(plan).size <= 2) // one input scan
    val total = out.filter($"f".isNull && $"s".isNull).head()
    assert(total.getAs[Double]("sq") === 6.0)
  }

  test("keySkewTopK ranks heavy keys with exact shares, bounded-heap plan") {
    import org.apache.spark.sql.functions._
    val rows = Seq.fill(6)("hot") ++ Seq.fill(3)("warm") ++
      Seq("c1", "c2", "c3")
    val out = Aggs.keySkewTopK(rows.toDF("k"), "k", 3)
    // Capture pre-execution: after collect(), AQE's toString appends the
    // initial plan too and every node would count twice.
    val plan = out.queryExecution.executedPlan.toString
    val got = out.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got === Seq(("hot", 6L, 0.5), ("warm", 3L, 0.25), ("c1", 1L, 1.0 / 12)))
    assert(plan.contains("graft_top_k"), "top-k should be the heap aggregate")
    // Single scan: total + top-k come from ONE pass over the counts, not
    // a scalar subquery that re-aggregates the input.
    assert(!plan.contains("Subquery"), "total must not re-scan the input")
    assert("LocalTableScan|Scan parquet".r.findAllIn(plan).size <= 1,
      "input must be scanned exactly once")
  }

  test("keySkewTopK zero-pads integral keys so ties break numerically") {
    // Keys 2 and 10 tie at 2 rows each: lexical "10" < "2" would rank 10
    // first; the zero-padded payload must rank 2 first (numeric ASC).
    val rows = Seq(2L, 2L, 10L, 10L, 99L)
    val out = Aggs.keySkewTopK(rows.toDF("k"), "k", 2)
    val got = out.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === Seq((2L, 2L), (10L, 2L)))
  }

  test("profileColumns: null/distinct/min/max per column from one scan") {
    val df = Seq(
      (Some(1), Some("a")), (Some(2), None), (None, Some("b")),
      (Some(2), Some("a"))).toDF("x", "s")
    val out = Aggs.profileColumns(df, Seq("x", "s"))
    val plan = out.queryExecution.executedPlan.toString
    val byName = out.collect().map(r => r.getString(0) -> r).toMap
    assert(byName.size === 2)
    assert(byName("x").getLong(1) === 4 && byName("x").getLong(2) === 1)
    assert(byName("x").getLong(3) === 2) // distinct {1, 2}
    assert(byName("x").getString(4) === "1" && byName("x").getString(5) === "2")
    assert(byName("s").getLong(2) === 1 && byName("s").getLong(3) === 2)
    assert(byName("s").getString(4) === "a" && byName("s").getString(5) === "b")
    // the multi-distinct must stay a HASH aggregate (long-only buffer) —
    // string min/max in the same aggregate would force a SortAggregate
    // with a full sort of the Expand-multiplied stream
    assert(!plan.contains("Sort ["),
      s"profile must not sort the expanded stream:\n$plan")
    assert(plan.contains("Expand") && plan.contains("HashAggregate"),
      s"distinct counts must hash-aggregate through one Expand:\n$plan")
  }

  test("yearlyOhlcv picks open/close by date order, not row order") {
    val df = Seq(
      ("T", "2024-03-01", 20.0, 25.0, 19.0, 24.0, 100.0),
      ("T", "2024-01-01", 10.0, 15.0, 9.0, 14.0, 200.0),
      ("T", "2024-12-31", 30.0, 35.0, 29.0, 34.0, 300.0))
      .toDF("Ticker", "Date", "Open", "High", "Low", "Close", "Volume")
      .withColumn("Date", to_date($"Date"))
    val r = Aggs.yearlyOhlcv(df, "Ticker", "Date").head()
    assert(r.getAs[Double]("year_open") === 10.0)   // earliest date's Open
    assert(r.getAs[Double]("year_close") === 34.0)  // latest date's Close
    assert(r.getAs[Double]("year_high") === 35.0)
    assert(r.getAs[Double]("year_low") === 9.0)
    assert(r.getAs[Long]("trading_days") === 3)
  }
}

class WindowsSpec2 extends SparkSpec {

  test("skipRowsPerFile skips N rows in each input file independently") {
    val dir = java.nio.file.Files.createTempDirectory("skipperfile").toString
    for (f <- Seq("a", "b")) {
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/$f.csv"),
        (0 until 6).map(i => s"$f$i").mkString("\n").getBytes)
    }
    val df = spark.read.schema("c STRING").csv(dir)
    val out = Windows.skipRowsPerFile(df, 4).collect().map(_.getString(0)).sorted
    assert(out === Array("a4", "a5", "b4", "b5"))
  }

  test("ewmaFixed: renormalized head, 4-term tail, one window exchange") {
    import spark.implicits._
    val df = Seq(
      ("u", 1, 1, 8.0), ("u", 2, 2, 4.0), ("u", 3, 3, 2.0),
      ("u", 4, 4, 1.0), ("u", 5, 5, 1.0))
      .toDF("k", "t", "id", "x")
    val out = Windows.ewmaFixed(df, "k", "t", "id", "x", 0.5, 4)
      .orderBy("t").collect().map(_.getDouble(4))
    assert(out(0) === 8.0)                       // single term renormalizes
    assert(out(1) === (0.5 * 4 + 0.25 * 8) / 0.75)
    assert(out(4) === (0.5 * 1 + 0.25 * 1 + 0.125 * 2 + 0.0625 * 4) / 0.9375)
    val plan = Windows.ewmaFixed(df, "k", "t", "id", "x", 0.5, 4)
      .queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(plan).size <= 1,
      s"all lags must share one window spec:\n$plan")
  }

  test("surrogateKeyMaterialized with a reliable checkpoint matches the default") {
    import org.apache.spark.sql.functions.col
    val df = spark.read.parquet(sf("customer")).select("c_custkey", "c_name")
    val local = Windows.surrogateKey(df, "id", col("c_custkey"))
      .select("c_custkey", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    spark.sparkContext.setCheckpointDir(
      java.nio.file.Files.createTempDirectory("sk_ckpt").toString)
    val reliable = Windows.surrogateKeyMaterialized(df, "id",
        Materialize.Reliable, col("c_custkey"))
      .select("c_custkey", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(reliable === local)
  }
}

/** Sources layout ops (compaction, schema evolution, Z-order) + the
  * data-quality Checks family + the top-k payload guard.
  */
class SourcesChecksSpec extends SparkSpec {

  test("suppressBelowK nulls exactly the below-k quasi groups, keeps " +
    "every row and non-quasi column") {
    import spark.implicits._
    val rows = Seq((1L, "a", "x"), (2L, "a", "x"), (3L, "a", "x"),
      (4L, "b", "y"), (5L, "c", "z")).toDF("id", "q1", "q2")
    val out = Checks.suppressBelowK(rows, Seq("q1", "q2"), k = 3)
    assert(out.count() === 5)
    assert(out.columns.toSeq === Seq("id", "q1", "q2"))
    val m = out.collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    // The k=3 group survives verbatim; the two singletons suppress.
    assert(m(1L) === (("a", "x")) && m(3L) === (("a", "x")))
    assert(m(4L)._1 == null && m(4L)._2 == null)
    assert(m(5L)._1 == null && m(5L)._2 == null)
    // The audit agrees: 2 of 3 groups at risk.
    val audit = Checks.kAnonymityAudit(rows, Seq("q1", "q2"), k = 3)
      .collect()
    assert(audit.length === 3 && audit.count(_.getInt(3) == 1) === 2)
  }

  test("suppressBelowK survives an input that already carries a __risk " +
    "column (fresh marker name)") {
    import spark.implicits._
    val rows = Seq((1L, "a", 7), (2L, "a", 8), (3L, "b", 9))
      .toDF("id", "q1", "__risk")
    val out = Checks.suppressBelowK(rows, Seq("q1"), k = 2)
    assert(out.columns.toSeq === Seq("id", "q1", "__risk"))
    val m = out.collect()
      .map(r => r.getLong(0) -> (Option(r.get(1)), r.getInt(2))).toMap
    // The caller's __risk payload passes through untouched; only the
    // singleton "b" group suppresses its quasi column.
    assert(m(1L) === ((Some("a"), 7)) && m(2L) === ((Some("a"), 8)))
    assert(m(3L) === ((None, 9)))
  }

  test("benfordAudit: sub-cent positives drop (no digit-0/NULL row) and " +
    "the long cents pin fails loud past its range") {
    import spark.implicits._
    // 0.001 and 0.0049 pin to 0 cents: at this resolution they have no
    // leading digit and must not surface as digit=0 with NULL expected.
    val vals = Seq(0.001, 0.0049, 1.23).toDF("v")
    val out = Checks.benfordAudit(vals, "v").collect()
    assert(out.length === 1)
    assert(out(0).getInt(0) === 1 && out(0).getLong(1) === 1L)
    assert(!out(0).isNullAt(2) && out(0).getLong(3) === 1000000L)
    // Overflow guard: a value past the exactly-castable cents range
    // raises instead of silently wrapping the long cast.
    val huge = Seq(1.0e17).toDF("v")
    val e = intercept[Exception] {
      Checks.benfordAudit(huge, "v").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("overflows the long cents pin")))
  }

  test("benfordAudit: ppm table sums to one, digits extract exactly, " +
    "shares are exact integer ppm") {
    import spark.implicits._
    // The inlined expectation table is a probability distribution.
    assert(math.abs(Checks.BenfordPpm.values.sum - 1000000L) <= 2)
    // 2^k values: leading digits follow Benford closely by construction;
    // here just pin exact digit extraction + ppm arithmetic.
    val vals = Seq(1.23, 19.99, 2.5, 0.034, 911.0, 0.0, -5.0)
      .toDF("v") // 0 and negatives must drop
    val out = Checks.benfordAudit(vals, "v").collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(3))).toMap
    // digits: 1.23->1, 19.99->1 (1999 cents), 2.5->2, 0.034->3 (3 cents),
    // 911.0->9
    assert(out(1)._1 === 2L && out(2)._1 === 1L &&
      out(3)._1 === 1L && out(9)._1 === 1L)
    assert(out(1)._2 === 400000L) // 2 of 5 -> exact 400000 ppm
    assert(out.values.map(_._1).sum === 5L)
  }

  test("dpNoisyCounts: exact counts preserved, noise bounded by the " +
    "lattice, deterministic per salt, different across salts") {
    import spark.implicits._
    val rows = (1 to 300).map(i => (i.toLong, s"g${i % 3}")).toDF("id", "g")
    val eps = 0.5 // b = 2 -> |noise| <= ~13.8 * 2
    val out = Checks.dpNoisyCounts(rows, Seq("g"), eps, "s1").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out.values.forall(_._1 == 100L))
    out.values.foreach { case (n, noisy) =>
      val noise = noisy - n * 1000000L
      assert(math.abs(noise) <= (13.9 * 2 * 1e6).toLong,
        s"noise $noise out of lattice bound")
    }
    // Same salt replays identically; a different salt moves the noise.
    val again = Checks.dpNoisyCounts(rows, Seq("g"), eps, "s1").collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(out.keys.forall(k => again(k) == out(k)._2))
    val other = Checks.dpNoisyCounts(rows, Seq("g"), eps, "s2").collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(out.keys.exists(k => other(k) != out(k)._2))
  }

  test("compactParquet sizes output files from input bytes; rows survive") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("compact").toString
    try {
      val li = spark.read.parquet(sf("lineitem"))
        .select("l_orderkey", "l_linenumber", "l_quantity")
      li.repartition(40).write.parquet(s"$dir/frag")
      def files(p: String) = new java.io.File(p).listFiles()
        .count(_.getName.endsWith(".parquet"))
      assert(files(s"$dir/frag") === 40)
      val bytes = new java.io.File(s"$dir/frag").listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.length).sum
      val target = bytes / 4 + 1 // aim for ~4 output files
      val back = Sources.compactParquet(spark, s"$dir/frag", s"$dir/out", target)
      val n = files(s"$dir/out")
      assert(n >= 2 && n <= 6, s"expected ~4 compacted files, got $n")
      assert(back.count() === li.count())
      assert(back.agg(sum("l_quantity")).head.getDouble(0) ===
        li.agg(sum("l_quantity")).head.getDouble(0))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("filesUnder walks the same files as a recursive listFiles") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("files_under").toString
    try {
      // Partition subdirectories plus _SUCCESS and .crc side files.
      (0 until 40).map(i => (i.toLong, i % 4)).toDF("id", "p")
        .write.partitionBy("p").parquet(s"$dir/t")
      val root = new org.apache.hadoop.fs.Path(s"$dir/t")
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(root, true)
      val listed = Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .map(st => (st.getPath.toString, st.getLen)).toSet
      val walked = Sources.filesUnder(fs, root)
        .map(st => (st.getPath.toString, st.getLen)).toSet
      assert(walked.size > 4 && walked === listed)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("compactParquet lists partitioned layouts recursively; rejects bad target") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("compact_part").toString
    try {
      // hive-partitioned input: data files live in subdirectories — a
      // top-level listing would size the input at 0 bytes
      (0 until 4000).map(i => (i.toLong, i % 4, s"payload_$i"))
        .toDF("id", "p", "s")
        .write.partitionBy("p").parquet(s"$dir/frag")
      val bytes = {
        def walk(f: java.io.File): Long =
          if (f.isFile) { if (f.getName.endsWith(".parquet")) f.length else 0L }
          else f.listFiles().map(walk).sum
        walk(new java.io.File(s"$dir/frag"))
      }
      val back = Sources.compactParquet(
        spark, s"$dir/frag", s"$dir/out", bytes / 3 + 1)
      val n = new java.io.File(s"$dir/out").listFiles()
        .count(_.getName.endsWith(".parquet"))
      assert(n >= 2 && n <= 5, s"recursive sizing should give ~3 files, got $n")
      assert(back.count() === 4000)
      intercept[IllegalArgumentException] {
        Sources.compactParquet(spark, s"$dir/frag", s"$dir/out2", 0L)
      }
      // partitionCols preserves the hive layout (and its pruning)
      val backP = Sources.compactParquet(
        spark, s"$dir/frag", s"$dir/outp", bytes / 3 + 1, Seq("p"))
      assert(backP.count() === 4000)
      val pdirs = new java.io.File(s"$dir/outp").listFiles()
        .filter(_.isDirectory).map(_.getName).filter(_.startsWith("p=")).sorted
      assert(pdirs === Array("p=0", "p=1", "p=2", "p=3"),
        s"partition layout must survive compaction, got ${pdirs.mkString(",")}")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("keySkewTopK fails loud on negative integral keys, not NULL") {
    import spark.implicits._
    val df = Seq(-5L, -5L, -5L, 2L, 2L, 7L).toDF("k")
    val e = intercept[Exception] {
      Aggs.keySkewTopK(df, "k", 2).collect()
    }
    assert(e.getMessage.contains("negative or unparseable"),
      s"expected the loud payload guard, got: ${e.getMessage}")
  }

  test("readMergedSchema surfaces columns missing from older files as null") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("evolve").toString
    try {
      Seq((1L, "a")).toDF("id", "s").write.parquet(s"$dir/v1")
      Seq((2L, "b", 9.5)).toDF("id", "s", "x").write.parquet(s"$dir/v2")
      val out = Sources.readMergedSchema(spark, s"$dir/v1", s"$dir/v2")
        .orderBy("id").collect()
      assert(out.map(_.getLong(0)) === Array(1L, 2L))
      assert(out(0).isNullAt(2) && out(1).getDouble(2) === 9.5)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("Checks: rule violations, duplicate keys, and orphans are counted") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq((1, 5.0), (2, 60.0), (2, -1.0), (3, 10.0))
      .toDF("k", "v")
    val viol = Checks.ruleViolations(df, Seq(
      "v_out_of_range" -> !$"v".between(0, 50),
      "k_null" -> $"k".isNull))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(viol("v_out_of_range") === ((4L, 2L)))   // 60.0 and -1.0
    assert(viol("k_null") === ((4L, 0L)))
    val plan = Checks.ruleViolations(df, Seq("r" -> $"v".isNull))
      .queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate") && !plan.contains("Sort ["),
      s"rule pass must be one hash aggregate:\n$plan")
    val dup = Checks.duplicateKeys(df, Seq("k")).head()
    assert((dup.getLong(0), dup.getLong(1), dup.getLong(2)) === ((3L, 1L, 1L)))
    val orph = Checks.orphanKeys(df, "k",
      Seq(1, 3).toDF("pk"), "pk", "df->pk").head()
    assert(orph.getString(0) === "df->pk")
    assert((orph.getLong(1), orph.getLong(2)) === ((4L, 2L))) // the two k=2 rows
  }

  test("zorderValue interleaves bits; z-ordered files have disjoint ranges") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // a=0b11,b=0 -> bits at 0,2 = 5; b=0b11,a=0 -> bits at 1,3 = 10
    val z = Seq((3L, 0L), (0L, 3L), (3L, 3L), (2L, 1L)).toDF("a", "b")
      .select(Sources.zorderValue(col("a"), col("b"), 2).as("z"))
      .collect().map(_.getLong(0))
    assert(z === Array(5L, 10L, 15L, 6L)) // 2,1 -> a bit1@2, b bit0@1 = 6
    val dir = java.nio.file.Files.createTempDirectory("zorder").toString
    try {
      val li = spark.read.parquet(sf("lineitem"))
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
      Sources.writeZOrdered(li, s"$dir/z", "l_partkey", "l_suppkey", 16, 4)
      val back = spark.read.parquet(s"$dir/z")
      assert(back.count() === li.count())
      // range-partitioned by z: per-file z-ranges must not overlap
      val ranges = back
        .withColumn("f", input_file_name())
        .withColumn("z",
          Sources.zorderValue(col("l_partkey"), col("l_suppkey"), 16))
        .groupBy("f").agg(min("z").as("lo"), max("z").as("hi"))
        .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
      assert(ranges.length > 1)
      ranges.sliding(2).foreach { case Array((_, hi1), (lo2, _)) =>
        assert(hi1 <= lo2, s"file z-ranges overlap: $hi1 > $lo2")
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }
}

class ReshapeSpec2 extends SparkSpec {
  import spark.implicits._

  test("transposeStatement with the real balance-sheet allowlist") {
    val metrics = graft.model.StatementMetrics.bySheet("balance_sheet")
    // Wide fixture: metric rows (39 allowed + 1 junk) x 3 period columns.
    val rows = (metrics :+ "NotARealMetric").zipWithIndex.map { case (m, i) =>
      (m, s"${i + 1}.5", s"${i + 100}.5", s"${i + 200}.5")
    }
    val raw = rows.toDF("name", "2022-12-31", "2023-12-31", "2024-12-31")
    val out = Reshape.transposeStatement(raw, "name", metrics, "ACME")
    assert(out.count() === 3)                                // one row per period
    assert(out.columns.length === metrics.size + 2)          // Date + metrics + Ticker
    val r2022 = out.filter($"Date" === "2022-12-31").head()
    assert(r2022.getAs[Double](metrics.head) === 1.5)        // first metric, first period
    assert(!out.columns.contains("NotARealMetric"))          // junk row dropped
  }

  test("transposeStatementKeyed: one frame, many tickers, one pivot") {
    val metrics = Seq("Total Revenue", "Net Income")
    // Two tickers' matrices stacked in one frame, as a glob scan + key
    // recovery would produce them.
    val rows = for (t <- Seq("AAA", "BBB"); (m, i) <- metrics.zipWithIndex)
      yield (t, m, s"${i + 1}.5", s"${i + 10}.5")
    val raw = rows.toDF("Ticker", "name", "2023-12-31", "2024-12-31")
    val out = Reshape.transposeStatementKeyed(raw, "name", metrics, "Ticker")
    assert(out.count() === 4)                                // 2 tickers x 2 periods
    assert(out.columns.toSeq === Seq("Ticker", "Date") ++ metrics)
    val b23 = out.filter($"Ticker" === "BBB" && $"Date" === "2023-12-31").head()
    assert(b23.getAs[Double]("Total Revenue") === 1.5)
    assert(b23.getAs[Double]("Net Income") === 2.5)
    // Tickers never cross-contaminate a (Date, metric) cell.
    val a24 = out.filter($"Ticker" === "AAA" && $"Date" === "2024-12-31").head()
    assert(a24.getAs[Double]("Net Income") === 11.5)
  }
}

class WarehouseDdlSpec extends SparkSpec {
  import graft.model.{StatementMetrics, WarehouseDdl}
  import org.apache.spark.sql.types._

  test("statementSchema mirrors the reference DDL types and spellings") {
    val bs = WarehouseDdl.statementSchema("balance_sheet")
    assert(bs.fieldNames.take(2) === Array("Ticker", "Date"))
    assert(bs("Share_Issued").dataType === LongType)
    assert(bs("Net_Debt").dataType === DecimalType(20, 2))
    // The DDL's two irregular word splits are honored.
    assert(bs.fieldNames.contains("Trade_and_Other_Payables_Non_Current"))
    assert(bs.fieldNames.contains("Investment_in_Financial_Assets"))
    val q = WarehouseDdl.statementSchema("quarterly")
    assert(q("Basic_EPS").dataType === DecimalType(10, 4))
    assert(q("Tax_Rate_For_Calcs").dataType === DecimalType(10, 4))
    assert(q("Total_Revenue").dataType === DecimalType(20, 2))
    // width = 2 keys + every allowlisted metric
    assert(bs.size === 2 + StatementMetrics.balanceSheet.size)
  }

  test("registerDdlStatementView casts a transposed sheet to the DDL schema") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val metrics = StatementMetrics.quarterly
    // A minimal transposed-shape frame: Date string + all-double metrics.
    val wide = Seq(("2023-12-31", "ACME")).toDF("Date", "Ticker")
      .select(col("Date") +: metrics.map(m =>
        lit(1234.5678).as(m)) :+ col("Ticker"): _*)
    val typed = Sources.registerDdlStatementView(wide, "quarterly", "Q_TEST")
    assert(typed.schema === WarehouseDdl.statementSchema("quarterly")
      .copy(fields = WarehouseDdl.statementSchema("quarterly").fields
        .map(f => f.copy(nullable = typed.schema(f.name).nullable))))
    val r = spark.sql(
      "SELECT Basic_EPS, Total_Revenue, Date FROM Q_TEST").head()
    assert(r.getDecimal(0) === new java.math.BigDecimal("1234.5678"))
    assert(r.getDecimal(1) === new java.math.BigDecimal("1234.57"))
    assert(r.getDate(2).toString === "2023-12-31")
  }
}

class WinsorizeSpec extends SparkSpec {
  import spark.implicits._

  test("winsorize clips to exact percentile bounds, keeps every row") {
    import org.apache.spark.sql.functions._
    val df = (1 to 100).map(_.toDouble).toDF("v")
    val out = graft.ops.Aggs.winsorize(df, "v", 0.05, 0.95)
    assert(out.count() === 100)
    // interpolated p05/p95 of 1..100 = 5.95 / 95.05
    val w = out.select("v_wins").as[Double].collect()
    assert(w.min === 5.95 && w.max === 95.05)
    // interior values pass through untouched
    assert(out.filter($"v" === 50.0).select("v_wins").head().getDouble(0) === 50.0)
    intercept[IllegalArgumentException] {
      graft.ops.Aggs.winsorize(df, "v", 0.9, 0.1)
    }
  }

  test("winsorize propagates NULL instead of clipping it to the low bound") {
    import org.apache.spark.sql.functions._
    val df = (1 to 100).map(i => Some(i.toDouble)).toDF("v")
      .union(Seq(Option.empty[Double]).toDF("v"))
    val out = graft.ops.Aggs.winsorize(df, "v", 0.05, 0.95)
    assert(out.count() === 101)            // NULL row kept...
    assert(out.filter($"v".isNull).select("v_wins").head().isNullAt(0))
    // ...and the non-null bounds are unchanged by its presence
    val w = out.filter($"v".isNotNull).select("v_wins").as[Double].collect()
    assert(w.min === 5.95 && w.max === 95.05)
  }

  test("winsorize handles identifiers needing quoting") {
    val df = (1 to 10).map(_.toDouble).toDF("weird col")
    val out = graft.ops.Aggs.winsorize(df, "weird col", 0.1, 0.9)
    assert(out.columns.toSeq === Seq("weird col", "weird col_wins"))
    assert(out.count() === 10)
  }
}

class HistogramSpec extends SparkSpec {
  import spark.implicits._

  test("histogram: equal-width bins, empty bins kept, max in last bin") {
    val df = Seq(0.0, 0.5, 1.0, 9.5, 10.0).toDF("v")
    val out = graft.ops.Aggs.histogram(df, "v", 10)
      .as[(Int, Long)].collect().sortBy(_._1)
    assert(out.length === 10)             // empty bins present
    assert(out.map(_._2).sum === 5L)      // every row binned
    assert(out(0)._2 === 2L)              // 0.0, 0.5
    assert(out(1)._2 === 1L)              // 1.0
    assert(out(9)._2 === 2L)              // 9.5 and the max 10.0
    // Degenerate range: everything in bin 0, no division by zero.
    val flat = graft.ops.Aggs.histogram(Seq(7.0, 7.0).toDF("v"), "v", 4)
      .as[(Int, Long)].collect().sortBy(_._1)
    assert(flat.map(_._2).toSeq === Seq(2L, 0L, 0L, 0L))
  }

  test("histogram excludes NULL rows rather than counting them into bin 0") {
    val df = Seq(Some(0.0), None, Some(10.0), None).toDF("v")
    val out = graft.ops.Aggs.histogram(df, "v", 2)
      .as[(Int, Long)].collect().sortBy(_._1)
    assert(out.map(_._2).toSeq === Seq(1L, 1L)) // only the two non-null rows
  }
}

class SessionAssemblySpec extends SparkSpec {
  import spark.implicits._

  test("assembleSessions splits on the gap and concatenates in event order") {
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    // user 1: events at 10:00/10:10/10:20 (one session), then 10:55
    // (35 min > 30 min gap -> new session). Seq breaks the 10:10 tie.
    val df = Seq(
      (1L, t(10), 2L, "b"), (1L, t(0), 1L, "a"), (1L, t(10), 3L, "c"),
      (1L, t(55), 4L, "d"), (2L, t(0), 5L, "x"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val out = graft.ops.Windows.assembleSessions(
      df, "user_id", "ts", "event_id", "event_type", gapMinutes = 30)
      .orderBy("user_id", "sid")
      .as[(Long, Long, java.sql.Timestamp, Long, String)].collect()
    assert(out.length === 3)
    assert(out(0) === ((1L, 1L, t(0), 3L, "a -> b -> c")))
    assert(out(1) === ((1L, 2L, t(55), 1L, "d")))
    assert(out(2) === ((2L, 1L, t(0), 1L, "x")))
    // An event at EXACTLY the gap starts a new session (>= semantics).
    val edge = Seq((1L, t(0), 1L, "a"), (1L, t(30), 2L, "b"))
      .toDF("user_id", "ts", "event_id", "event_type")
    assert(graft.ops.Windows.assembleSessions(
      edge, "user_id", "ts", "event_id", "event_type", 30).count() === 2)
  }
}

class DynamicOverwriteSpec extends SparkSpec {
  import spark.implicits._

  test("overwriteDynamicPartitions replaces only the written partitions") {
    val dir = java.nio.file.Files.createTempDirectory("dynover").toString
    try {
      val full = Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0))
        .toDF("id", "seg", "bal")
      Sources.overwriteDynamicPartitions(full, dir, "seg")
      def files(seg: String) = new java.io.File(s"$dir/seg=$seg").listFiles()
        .filter(_.getName.endsWith(".parquet")).map(f => (f.getName, f.lastModified)).toSet
      val aBefore = files("a")
      // Rewrite ONLY seg=b; seg=a's physical files must be untouched.
      Sources.overwriteDynamicPartitions(
        Seq((3L, "b", 99.0)).toDF("id", "seg", "bal"), dir, "seg")
      assert(files("a") === aBefore)
      val back = spark.read.parquet(dir).as[(Long, Double, String)]
        .collect().map(r => (r._1, r._2)).toMap
      assert(back === Map(1L -> 10.0, 2L -> 20.0, 3L -> 99.0))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }
}

class AnalyticsDriftSpec extends SparkSpec {
  import spark.implicits._

  test("olsSimple recovers an exact line (slope 2, intercept 1, r2 1) " +
    "and yields NULLs for a zero-variance group") {
    val rows = Seq(
      ("g", 1.0, 3.0), ("g", 2.0, 5.0), ("g", 3.0, 7.0), ("g", 4.0, 9.0),
      ("flat", 5.0, 1.0), ("flat", 5.0, 2.0))
      .toDF("grp", "x", "y")
    val out = Aggs.olsSimple(rows, "grp", "x", "y")
      .collect().map(r => r.getString(0) -> r).toMap
    val g = out("g")
    assert(g.getLong(1) === 4L)
    assert(math.abs(g.getDouble(2) - 2.0) < 1e-12)
    assert(math.abs(g.getDouble(3) - 1.0) < 1e-12)
    assert(math.abs(g.getDouble(4) - 1.0) < 1e-12)
    val flat = out("flat")
    assert(flat.isNullAt(2) && flat.isNullAt(3) && flat.isNullAt(4))
  }

  test("prefixSums matches a single-partition window reference on a " +
    "multi-partition frame") {
    val df = (1 to 500).map(i => (i.toLong, (i % 7).toLong, (i % 3).toLong))
      .toDF("v", "ca", "cb").repartition(8)
    val out = Windows.prefixSums(df, Materialize.Local,
      Seq(col("v")), Seq("ca", "cb"))
      .select("v", "cum_ca", "cum_cb").as[(Long, Long, Long)]
      .collect().sortBy(_._1)
    var (ra, rb) = (0L, 0L)
    (1 to 500).zip(out).foreach { case (i, (v, ca, cb)) =>
      assert(v === i.toLong)
      ra += i % 7; rb += i % 3
      assert(ca === ra, s"cum_ca at $i")
      assert(cb === rb, s"cum_cb at $i")
    }
  }

  test("psiDrift: identical cohorts give zero PSI in every bin; a " +
    "disjoint shift gives a large positive total") {
    val same = (1 to 100).flatMap(i =>
      Seq((i.toDouble, true), (i.toDouble, false))).toDF("v", "a")
    val zero = Checks.psiDrift(same, "v", col("a"), nBins = 10)
    assert(zero.count() === 10L)
    assert(zero.agg(sum(abs(col("psi_micro")))).as[Long].head() === 0L)

    val shifted = ((1 to 100).map(i => (i.toDouble, true)) ++
      (101 to 200).map(i => (i.toDouble, false))).toDF("v", "a")
    val psi = Checks.psiDrift(shifted, "v", col("a"), nBins = 10)
      .agg(sum(col("psi_micro"))).as[Long].head()
    // Disjoint supports: PSI far beyond the 0.25 alarm (in micro-units).
    assert(psi > 250000L, s"psi_micro total $psi")
  }

  test("ksDrift: disjoint cohorts hit D = 1 (1e6 ppm), identical " +
    "cohorts hit 0") {
    val disjoint = ((1 to 50).map(i => (i.toDouble, true)) ++
      (51 to 100).map(i => (i.toDouble, false))).toDF("v", "a")
    val d1 = Checks.ksDrift(disjoint, "v", col("a"))
      .select("n_a", "n_b", "ks_ppm").as[(Long, Long, Long)].head()
    assert(d1 === ((50L, 50L, 1000000L)))

    val same = (1 to 100).flatMap(i =>
      Seq((i.toDouble, true), (i.toDouble, false))).toDF("v", "a")
    val d0 = Checks.ksDrift(same, "v", col("a"))
      .select("ks_ppm").as[Long].head()
    assert(d0 === 0L)
  }

  test("cmsHeavyHitters: estimates can never undercount, and the exact " +
    "top keys surface with their true counts") {
    val data = (1 to 400).map(i => i % 20).map(k => s"k$k").toDF("key")
      .union(Seq.fill(50)("hot").toDF("key"))
    val out = Aggs.cmsHeavyHitters(data, "key", depth = 4, width = 64, k = 5)
      .collect()
    assert(out.length === 5)
    out.foreach { r =>
      assert(r.getInt(3) === 1, s"over_ok for ${r.getString(0)}")
      assert(r.getLong(2) >= r.getLong(1))
    }
    val hot = out.find(_.getString(0) == "hot").get
    assert(hot.getLong(1) === 50L)
  }
}

class DriftSamplingSpec extends SparkSpec {
  import spark.implicits._

  test("chi2Drift: identical cohort distributions give zero in every " +
    "category; a shifted one is positive") {
    val same = (1 to 60).flatMap(i =>
      Seq((s"t${i % 3}", true), (s"t${i % 3}", false))).toDF("cat", "a")
    val zero = Checks.chi2Drift(same, "cat", col("a"))
    assert(zero.count() === 3L)
    assert(zero.agg(sum(abs(col("chi2_micro")))).as[Long].head() === 0L)

    val skew = ((1 to 90).map(_ => ("x", true)) ++
      (1 to 10).map(_ => ("y", true)) ++
      (1 to 10).map(_ => ("x", false)) ++
      (1 to 90).map(_ => ("y", false))).toDF("cat", "a")
    val chi = Checks.chi2Drift(skew, "cat", col("a"))
      .agg(sum(col("chi2_micro"))).as[Long].head()
    // 2x2 with an 80-point swap: chi2 = 128 -> 128e6 micro-units.
    assert(chi === 128000000L)
  }

  test("madOutliers: med 5 / MAD 2 on 1..9, exactly the two extreme " +
    "rows flagged at k = 1.5") {
    val df = (1 to 9).map(i => ("g", i.toDouble)).toDF("grp", "v")
    val r = Aggs.madOutliers(df, "grp", "v", k = 1.5).collect().head
    assert(r.getDouble(1) === 5.0)
    assert(r.getDouble(2) === 2.0)
    assert(r.getLong(3) === 9L)
    assert(r.getLong(4) === 2L)
  }

  test("weightedSampleExactK: exact k, deterministic, excludes " +
    "non-positive weights, and weight skew shows up in selection rates") {
    val docs = ((1 to 500).map(i => (i.toLong, 1L)) ++
      (501 to 550).map(i => (i.toLong, 1000L)) ++
      Seq((900L, 0L), (901L, -5L))).toDF("doc_id", "w")
    val s1 = graft.llm.Curation.weightedSampleExactK(docs, "doc_id", "w", 50)
      .select("doc_id").as[Long].collect().toSet
    val s2 = graft.llm.Curation.weightedSampleExactK(docs, "doc_id", "w", 50)
      .select("doc_id").as[Long].collect().toSet
    assert(s1 === s2)
    assert(s1.size === 50)
    assert(!s1.contains(900L) && !s1.contains(901L))
    // The 50 heavy rows are 1000x likelier: essentially all of them make
    // the cut (P(heavy row beaten by enough light rows) is negligible).
    assert(s1.count(_ > 500L) >= 45, s"heavy picked ${s1.count(_ > 500L)}")
  }

  test("olsSimple: rows with a NULL coordinate are excluded from n AND " +
    "the sums, so the fit comes from the complete pairs only") {
    val rows = Seq[(String, java.lang.Double, java.lang.Double)](
      ("g", 1.0, 3.0), ("g", 2.0, 5.0), ("g", 3.0, 7.0), ("g", 4.0, 9.0),
      ("g", null, 100.0), ("g", 5.0, null))
      .toDF("grp", "x", "y")
    val r = Aggs.olsSimple(rows, "grp", "x", "y").collect().head
    // n counts complete pairs only; the fit is still the exact line.
    assert(r.getLong(1) === 4L)
    assert(math.abs(r.getDouble(2) - 2.0) < 1e-12)
    assert(math.abs(r.getDouble(3) - 1.0) < 1e-12)
    assert(math.abs(r.getDouble(4) - 1.0) < 1e-12)
  }

  test("madOutliersApprox: matches the exact twin on small groups and " +
    "both rank-contract flags hold") {
    val df = (1 to 9).map(i => ("g", i.toDouble)).toDF("grp", "v")
    val r = Aggs.madOutliersApprox(df, "grp", "v", k = 1.5).collect().head
    assert(r.getLong(1) === 9L)                     // n
    // At tiny n the sketch is exact: med 5, MAD 2, two extreme outliers.
    assert(r.getDouble(2) === 5.0)
    assert(r.getDouble(3) === 2.0)
    assert(r.getLong(4) === 2L)
    assert(r.getInt(5) === 1 && r.getInt(6) === 1)  // rank contracts
  }

  test("madOutliers / madOutliersApprox: over-threshold group counts " +
    "drop the broadcast hint (shuffle-join fallback) with identical " +
    "results, and the plan really loses the hint") {
    val df = (0 until 40).flatMap(g =>
      (1 to 9).map(i => (s"g$g", i.toDouble))).toDF("grp", "v")
    def sortRows(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("grp").collect().toSeq
    // maxBroadcastGroups = 0 forces the fallback on BOTH joins.
    assert(sortRows(Aggs.madOutliers(df, "grp", "v", k = 1.5,
      maxBroadcastGroups = 0L)) ===
      sortRows(Aggs.madOutliers(df, "grp", "v", k = 1.5)))
    assert(sortRows(Aggs.madOutliersApprox(df, "grp", "v", k = 1.5,
      maxBroadcastGroups = 0L)) ===
      sortRows(Aggs.madOutliersApprox(df, "grp", "v", k = 1.5)))
    // The guarded plan carries no broadcast-hint nodes.
    def logical(d: org.apache.spark.sql.DataFrame) =
      d.queryExecution.analyzed.toString
    assert(!logical(Aggs.madOutliers(df, "grp", "v", k = 1.5,
      maxBroadcastGroups = 0L)).contains("UnresolvedHint"))
    assert(logical(Aggs.madOutliers(df, "grp", "v", k = 1.5))
      .contains("ResolvedHint"))
  }

  test("writeDriftReference refuses to freeze an empty or all-NULL " +
    "reference (typed in-plan failure, not a downstream NPE)") {
    val dir = java.nio.file.Files.createTempDirectory("drift_ref").toString
    val empty = Seq.empty[Double].toDF("v")
    val e = intercept[Throwable] {
      Checks.writeDriftReference(empty, "v", 10, s"$dir/ref")
    }
    def messages(t: Throwable): List[String] =
      if (t == null) Nil
      else Option(t.getMessage).toList ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("writeDriftReference")),
      s"unexpected failure chain: ${messages(e)}")
  }
}
