package scratch

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.llm.{Dedup, Similarity}

/** Evidence run for the write-time index DPP-pruning claim (VERDICT r9
  * item 4): at fixture scale a 50-doc probe touches most of an 8 x 64
  * (band, bkt) layout, so pruning looked like overhead; the claim was
  * that probe cost drops once nBuckets scales with the corpus. This
  * sweeps the directory-count axis of each banded family at sf1
  * (/tmp/graft_sf1, 50k docs / 100k vectors) and records, per point:
  * build seconds, total index files, probe wall seconds (reps, min),
  * and the FileSourceScanExec `numFiles` / `numPartitions` metrics of
  * the probe — i.e. how many files the pruned read actually touched.
  *
  *  - neardup-text: nBuckets in {64, 512, 4096} (60-bit band keys —
  *    the bucket hash has full entropy, pruning should scale).
  *  - simhash: nBuckets in {16, 64, 128} — band keys are 7-bit slices,
  *    so >= 128 buckets saturates BY CONSTRUCTION (recorded, not hidden).
  *  - lsh-hyperplane: numPlanes in {6, 9, 12} — the bucket IS the
  *    plane signature, so directories/table = 2^planes (64/512/4096).
  *
  * AQE is off so the probe's FileSourceScanExec sits directly in
  * executedPlan and its metrics are readable; DPP itself predates AQE
  * and behaves identically. Output: PROBE-prefixed lines.
  */
object DppSweep {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sf = args.headOption.getOrElse("/tmp/graft_sf1")
    val out = "/tmp/graft_sweep"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
    val deltaDocs = docs.filter(col("doc_id") < 50)
    val deltaVecs = vecs.filter(col("vec_id") < 50)

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }

    /** Probe `mk` fresh `reps` times (a fresh DataFrame per rep so SQL
      * metric accumulators do not accumulate across executions); report
      * each wall second, then the LAST rep's index-scan metrics.
      */
    def probe(tag: String, reps: Int)(mk: => DataFrame): Unit = {
      var last: DataFrame = null
      val walls = (1 to reps).map { _ =>
        last = mk
        // Execute the exact plan instance we read metrics from afterwards
        // (df.count() would build its own QueryExecution and leave THIS
        // plan's metrics untouched).
        val (n, s) = timed(last.queryExecution.executedPlan.execute().count())
        (n, s)
      }
      val scans = last.queryExecution.executedPlan.collect {
        case f: FileSourceScanExec if f.relation.location.rootPaths
          .exists(_.toString.contains("graft_sweep")) => f
      }
      val files = scans.map(_.metrics.get("numFiles").map(_.value).getOrElse(-1L))
      val parts = scans.map(_.metrics.get("numPartitions").map(_.value).getOrElse(-1L))
      val dpp = scans.map(_.partitionFilters.mkString(",").contains("dynamicpruning"))
      println(f"PROBE $tag rows=${walls.head._1} " +
        f"walls=${walls.map(w => f"${w._2}%.2f").mkString(",")} " +
        f"min=${walls.map(_._2).min}%.2f scans=${scans.length} " +
        s"filesRead=${files.mkString("+")} partsRead=${parts.mkString("+")} " +
        s"dpp=${dpp.mkString("+")}")
    }

    def totalFiles(path: String): Int =
      spark.read.parquet(path).inputFiles.length

    def built(path: String): Boolean =
      new java.io.File(s"$path/_SUCCESS").exists()

    for (nb <- Seq(64, 512, 4096)) {
      val path = s"$out/neardup_$nb"
      val (_, bs) = timed(if (!built(path))
        Dedup.writeNearDupIndex(docs, "doc_id", "text",
          shingleK = 3, bands = 8, rowsPerBand = 2, nBuckets = nb, path))
      println(f"PROBE neardup nb=$nb build=$bs%.1f totalFiles=${totalFiles(path)}")
      probe(s"neardup nb=$nb", reps = 4)(
        Dedup.probeNearDupIndex(spark, path, deltaDocs, "doc_id", "text",
          shingleK = 3, bands = 8, rowsPerBand = 2, threshold = 0.5))
    }

    for (nb <- Seq(16, 64, 128)) {
      val path = s"$out/simhash_$nb"
      val (_, bs) = timed(if (!built(path))
        Dedup.writeSimhashIndex(docs, "doc_id", "text",
          maxHamming = 8, nBuckets = nb, path))
      println(f"PROBE simhash nb=$nb build=$bs%.1f totalFiles=${totalFiles(path)}")
      probe(s"simhash nb=$nb", reps = 4)(
        Dedup.probeSimhashIndex(spark, path, deltaDocs, "doc_id", "text",
          maxHamming = 8))
    }

    // Wide (120-bit) simhash: 15-bit band keys — the family added to
    // lift the 60-bit saturation; same axis as neardup, expected to
    // prune rather than saturate.
    for (nb <- Seq(64, 512, 4096)) {
      val path = s"$out/simw_$nb"
      val (_, bs) = timed(if (!built(path))
        Dedup.writeSimhashWideIndex(docs, "doc_id", "text",
          maxHamming = 7, nBuckets = nb, path))
      println(f"PROBE simw nb=$nb build=$bs%.1f totalFiles=${totalFiles(path)}")
      probe(s"simw nb=$nb", reps = 4)(
        Dedup.probeSimhashWideIndex(spark, path, deltaDocs, "doc_id", "text",
          maxHamming = 7))
    }

    for (planes <- Seq(6, 9, 12)) {
      val path = s"$out/lsh_$planes"
      val (_, bs) = timed(if (!built(path))
        Similarity.writeLshIndex(vecs, "vec_id", "embedding",
          numPlanes = planes, numTables = 4, path))
      println(f"PROBE lsh planes=$planes build=$bs%.1f totalFiles=${totalFiles(path)}")
      probe(s"lsh planes=$planes", reps = 4)(
        Similarity.lshTopKFromIndex(spark, path, deltaVecs, "vec_id", "embedding",
          k = 5, numPlanes = planes, numTables = 4))
    }

    println("PROBE done")
    spark.stop()
  }
}
