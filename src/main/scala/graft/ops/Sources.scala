package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Scans / sources / sinks (SURVEY.md §2.1, S1-S10 + S13).
  *
  * The reference's sources are GCS CSV/JSON objects read either by a PySpark
  * job (reference `code/spark-jobs/raw_to_landing_sparkjob.py:32,78-82`) or by
  * driver-side pandas / GCS client code (`code/scripts`). Here every read
  * is a distributed Spark scan so Catalyst pushdown and pruning apply; the
  * per-file driver loops of the reference (S13,
  * `transform_json_INFO.py:52-95`) collapse into glob reads whose lineage
  * column is recovered with `input_file_name()`.
  */
object Sources {

  /** S1 - CSV scan with header and an explicit all-string schema.
    * Mirrors the reference's deliberate "read-as-string, cast-later" pattern
    * (`raw_to_landing_sparkjob.py:13-32`): raw financial CSVs carry
    * comma-formatted numbers and junk rows, so typing happens downstream.
    */
  def csvWithHeader(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).option("header", "true").csv(path)

  /** S2 - headerless CSV scan (first N data rows may be junk; see
    * [[Windows.skipRows]] for the reference's skip idiom,
    * `raw_to_landing_sparkjob.py:78-89`).
    */
  def csvHeaderless(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).option("header", "false").csv(path)

  /** S3 - driver-side ticker-list scan: a <=20-row dimension file collected
    * to the driver (`raw_to_landing_sparkjob.py:142-147`). Collecting is
    * legitimate ONLY because the dimension is tiny and bounded; anything
    * unbounded must stay distributed (see [[globWithKey]]).
    */
  def keyList(spark: SparkSession, path: String, column: String): Seq[String] =
    spark.read.option("header", "true").csv(path)
      .select(col(column)).collect().map(_.getString(0)).toSeq

  /** S4 - statement-matrix CSV scan (wide matrix, metrics as rows;
    * `transform_job_tabular_entitities.py:14`). Header row carries the
    * period dates; the first column is unnamed (becomes `_c0`-like).
    */
  def statementCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "false").csv(path)

  /** S5 - whole-file JSON document read (one object per file;
    * `transform_and_copy_to_landing_info.py:12-23`). A glob here replaces the
    * reference's one-Dataproc-job-per-file loop (S13,
    * `transform_json_INFO.py:52-95`).
    */
  def jsonDocuments(spark: SparkSession, glob: String, schema: StructType): DataFrame =
    spark.read.option("multiLine", "true").schema(schema).json(glob)

  /** S6 - partitioned, overwriting Parquet sink
    * (`raw_to_landing_sparkjob.py:187-189`). Partition column stays in the
    * directory layout so downstream scans get static partition pruning.
    */
  def writeParquetPartitioned(df: DataFrame, path: String, partitionCol: String): Unit =
    df.write.partitionBy(partitionCol).mode(SaveMode.Overwrite).parquet(path)

  /** S7 - single-object Parquet sink (`transform_job_tabular_entitities.py:87-90`).
    * `coalesce(1)` narrows only the final stage; upstream parallelism is kept.
    * Use for small dimension outputs only - a 100 TB fact table must use S6.
    */
  def writeParquetSingle(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(path)

  /** S8 - NDJSON sink (`transform_and_copy_to_landing_info.py:26-40`; the
    * warehouse load expects NEWLINE_DELIMITED_JSON, `transform_json_INFO.py:114`).
    */
  def writeNdjson(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  /** S9 - warehouse load Parquet -> table (replaces the BigQuery load job,
    * `transform_open_close_data.py:84-98`): register the scan as a
    * session-scoped view; all analytical SQL then runs against it.
    */
  def loadWarehouseParquet(spark: SparkSession, path: String, table: String): DataFrame = {
    val df = spark.read.parquet(path)
    df.createOrReplaceTempView(table)
    df
  }

  /** S10 - warehouse load NDJSON -> table with truncate semantics
    * (`transform_json_INFO.py:104-119`, WRITE_TRUNCATE): re-registering the
    * view replaces the previous relation wholesale.
    */
  def loadWarehouseNdjson(spark: SparkSession, path: String, schema: StructType,
                          table: String): DataFrame = {
    val df = spark.read.schema(schema).json(path)
    df.createOrReplaceTempView(table)
    df
  }

  /** S10 variant - warehouse load NDJSON with SCHEMA INFERENCE, mirroring
    * the reference's `"autodetect": True` load config
    * (`transform_json_INFO.py:116`; every BQ load in the DAGs uses it).
    *
    * Determinism caveat (why [[loadWarehouseNdjson]] remains the default):
    * the inferred schema is a function of the DATA — Spark samples every
    * record, widens conflicting types to the least common type, and
    * orders fields alphabetically — so a new file with a stray string in
    * a numeric field silently retypes the whole column downstream, the
    * exact failure autodetect warehouses hit. Inference also costs an
    * extra full read of the JSON before the real scan. Use for
    * exploration; pin the schema for production loads.
    */
  def loadWarehouseNdjsonAutodetect(spark: SparkSession, path: String,
                                    table: String): DataFrame = {
    val df = spark.read.json(path)
    df.createOrReplaceTempView(table)
    df
  }

  /** S9 + the warehouse DDL type layer: register a transposed statement
    * sheet (`Reshape.transposeStatement*` output: Date string, metric
    * doubles, Ticker) as its DDL-typed warehouse view — every metric cast
    * to the DECLARED type (`DECIMAL(20,2)` money / `DECIMAL(10,4)` rates
    * / `BIGINT` share counts) under the DDL's underscore column spelling,
    * Date parsed to DATE. Reference `code/sql/DDLs:32-250`; types and
    * names come from [[graft.model.WarehouseDdl]], so the registered view
    * matches [[graft.model.WarehouseDdl.statementSchema]] exactly.
    * Fixed-point decimals make downstream warehouse arithmetic exact —
    * the property the all-double landing shape cannot give.
    */
  def registerDdlStatementView(df: DataFrame, sheet: String,
                               view: String): DataFrame = {
    import graft.model.{StatementMetrics, WarehouseDdl}
    val typed = df.select(
      col("Ticker") +: to_date(col("Date")).as("Date") +:
      StatementMetrics.bySheet(sheet).map(m =>
        col(m).cast(WarehouseDdl.metricType(m))
          .as(WarehouseDdl.columnName(m))): _*)
    typed.createOrReplaceTempView(view)
    typed
  }

  /** J1/S13 replacement - glob read with the partition key recovered from the
    * file path. The reference loops over tickers on the driver and unions 20
    * frames (`raw_to_landing_sparkjob.py:165-184`); at 100 TB that driver loop
    * is the bottleneck, so instead: one multi-path scan, key via
    * `input_file_name()` + regexp. One job, full scan parallelism.
    *
    * @param keyPattern regex with one capture group applied to the file name,
    *                   e.g. `"([A-Z.-]+)\\.csv$"` to recover a ticker.
    */
  def globWithKey(df: DataFrame, keyCol: String, keyPattern: String): DataFrame =
    df.withColumn(keyCol, regexp_extract(input_file_name(), keyPattern, 1))

  /** Bucketed warehouse table: hash-bucketed AND sorted by the join key at
    * write time. Two tables bucketed on the same key with the same bucket
    * count join with NO Exchange on either side — the shuffle is paid once
    * at write, then every subsequent join of the 100 TB fact against it is
    * shuffle-free. This is the co-located-join layout the partitioned sink
    * (S6) cannot give (partitionBy prunes, bucketBy co-locates).
    */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit =
    df.write.bucketBy(buckets, key).sortBy(key)
      .mode(SaveMode.Overwrite).format("parquet").saveAsTable(table)

  /** DYNAMIC partition overwrite: replace ONLY the partitions present in
    * `df`, leaving every other partition directory untouched — the
    * idempotent incremental-batch pattern (a daily job rewrites its day,
    * a backfill rewrites its range; re-running either is a no-op-shaped
    * overwrite, never a full-table truncate). Plain
    * `mode(Overwrite).partitionBy` would DELETE the whole table first —
    * at 100 TB that turns a one-partition update into a full rewrite and
    * a crash window where the table is empty. The mode is set per-write
    * via the DataFrameWriter option, not session-wide.
    */
  def overwriteDynamicPartitions(df: DataFrame, path: String,
                                 partitionCol: String): Unit =
    df.write
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCol)
      .mode(SaveMode.Overwrite)
      .parquet(path)

  /** Every file under `root`, recursively, from a `listStatus` walk.
    * `FileSystem.listFiles(root, true)` lists the same files but wraps
    * each in a `LocatedFileStatus`, whose constructor reads the file's
    * permission: on a local file system without native Hadoop that is
    * one `stat` process per file (557–652 ms for 64 files, against
    * 6–7 ms for this walk).
    */
  def filesUnder(fs: org.apache.hadoop.fs.FileSystem,
                 root: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] = {
    val files = Seq.newBuilder[org.apache.hadoop.fs.FileStatus]
    var dirs = List(root)
    while (dirs.nonEmpty) {
      val (sub, leaves) = fs.listStatus(dirs.head).partition(_.isDirectory)
      files ++= leaves
      dirs = sub.map(_.getPath).toList ++ dirs.tail
    }
    files.result()
  }

  /** Compact a fragmented parquet directory: size the output file count
    * from the ACTUAL input bytes (ceil(bytes / targetBytes)), rewrite
    * through one round-robin repartition, and return the compacted frame.
    * The small-files problem is a first-order 100 TB failure mode — a
    * million 100 KB files costs more in listing/opens/footers than the
    * scan itself — and streaming sinks + fine-grained partitioning
    * produce exactly that. Compaction is one narrow shuffle whose output
    * is the target layout; no driver-side row handling (the listing
    * touches file METADATA only, never data).
    *
    * @param partitionCols pass the input's partition columns to PRESERVE
    *   the hive layout in the compacted output (files compact within
    *   each partition directory); the default compacts to a flat
    *   unpartitioned layout — correct for round-robin shard dirs, but it
    *   would silently drop partition pruning for readers of a
    *   "date=.../part-..." input, so partitioned inputs should always
    *   pass their columns.
    */
  def compactParquet(spark: SparkSession, inPath: String, outPath: String,
                     targetBytes: Long,
                     partitionCols: Seq[String] = Nil): DataFrame = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(inPath match {
        case p if p.contains("://") => p
        case p => s"file://$p"
      }), spark.sparkContext.hadoopConfiguration)
    // RECURSIVE listing: partitioned layouts (date=*/part-*.parquet) keep
    // their data files in subdirectories — a top-level listStatus would
    // see only directories, size the input at 0 bytes, and funnel the
    // whole dataset through one task.
    val totalBytes = filesUnder(fs, new org.apache.hadoop.fs.Path(inPath))
      .filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).sum
    val nFiles = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
    val in = spark.read.parquet(inPath)
    val w =
      if (partitionCols.isEmpty) in.repartition(nFiles).write
      else in.repartition(nFiles, partitionCols.map(col): _*)
        .write.partitionBy(partitionCols: _*)
    w.mode(SaveMode.Overwrite).parquet(outPath)
    spark.read.parquet(outPath)
  }

  /** Read a parquet lineage whose schema evolved across writes
    * (columns added over time): `mergeSchema` unions the footers'
    * schemas, older files surface the missing columns as nulls. The
    * schema-evolution contract every long-lived warehouse table needs —
    * without it a reader pins the FIRST footer it happens to open.
    */
  def readMergedSchema(spark: SparkSession, paths: String*): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(paths: _*)

  /** Z-order (Morton) curve value: interleave the low `bits` of two
    * non-negative integer keys — bit i of `a` lands at position 2i, bit i
    * of `b` at 2i+1. Rows sorted by this value cluster 2-D-adjacent keys
    * into the same file, so parquet min/max footers prune BOX predicates
    * on (a, b) — the data-skipping layout for the two-filter-column scan
    * pattern that a single-column sort can only serve for its lead
    * column.
    *
    * Pure bit arithmetic over plan-time constants: one codegen'd
    * projection, zero shuffle, and engine-portable exactly (the DuckDB
    * twin is the same shift/mask expression).
    */
  def zorderValue(a: Column, b: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1, 31], got $bits")
    val am = a.cast("long").bitwiseAND(lit((1L << bits) - 1))
    val bm = b.cast("long").bitwiseAND(lit((1L << bits) - 1))
    (0 until bits).map { i =>
      shiftleft(am.bitwiseAND(lit(1L << i)), i)
        .bitwiseOR(shiftleft(bm.bitwiseAND(lit(1L << i)), i + 1))
    }.reduce(_ bitwiseOR _)
  }

  /** Write `df` laid out along the (a, b) Z-order curve: range-partition
    * by the curve value (balanced files along the curve), sort within
    * each file, drop the helper column. Readers filtering boxes on
    * (a, b) then skip whole files via footer min/max on BOTH columns.
    */
  def writeZOrdered(df: DataFrame, path: String, a: String, b: String,
                    bits: Int, files: Int): Unit =
    df.withColumn("__z", zorderValue(col(a), col(b), bits))
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode(SaveMode.Overwrite).parquet(path)
}
