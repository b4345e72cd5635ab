package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Materialize

/** One write-time BANDED-SIGNATURE index family — everything
  * [[BandedIndex]]'s single write / append / probe core needs to know
  * about a layout. Families differ ONLY in these values; the core owns
  * the sidecar check, the bucket column, the static-prune / DPP branch,
  * the post-kernel pin and the broadcast guard bound.
  *
  * @param params the sidecar entries that identify the layout (`family`
  *   plus its signature parameters). `nBuckets` is not among them: the
  *   writer records it, and append / probe read it back from the sidecar
  *   in the same read that validates `params`.
  * @param members the per-member KERNEL: input rows -> one narrow row
  *   per member (`query` = probe side, else index side; the family picks
  *   its column names per side). When `pinsQuery` and the probe prunes
  *   statically, this frame is what gets pinned — before the explode,
  *   never after (at fan-out one there is no explode, and the pin takes
  *   the bucketed band frame).
  * @param banding the constant-arity band explode of the member frame:
  *   rows carrying the side's id (`cand_id` / `query_id`), `band`, the
  *   payload the verify reads, and `key` when the family buckets keys
  *   (else `bkt` itself).
  * @param fanOut band rows per member on the probe side — the broadcast
  *   guard bound is input rows x `fanOut`.
  * @param bucket the bucket rule: `bkt = pmod(rule(key), nBuckets)`;
  *   None when `banding` emits a bounded `bkt` itself (the layout then
  *   records no `nBuckets`).
  * @param residual equi-join keys beyond the partition columns.
  * @param pinsQuery whether the probe pins the member frame when it
  *   prunes statically, which it does for a pinned query frame (wide
  *   hamming does not pin: its callers pin their own decoded hashes).
  */
private[llm] final case class BandFamily(
    params: Map[String, String],
    members: (DataFrame, Boolean) => DataFrame,
    banding: (DataFrame, Boolean) => DataFrame,
    fanOut: Long,
    bucket: Option[Column => Column],
    residual: Seq[String],
    pinsQuery: Boolean = true,
    maxBroadcastRows: Long = BandedIndex.MaxProbeBroadcastRows)

/** The one core behind every flat write-time banded index:
  *
  *  - WRITE: one row per (member, band) under `partitionBy(band, bkt)` —
  *    `band` is the family's outer index (minhash band / hamming slice /
  *    LSH table), `bkt` the bounded directory key of the band's value.
  *  - APPEND: signatures are pure per-member functions of deterministic
  *    parameters, so a delta lands in exactly the directories a full
  *    rebuild would use — probing a grown index equals probing a rebuilt
  *    one.
  *  - PROBE: the (small) query side's band rows broadcast-join the index
  *    on the PARTITION columns, and only the directories the delta
  *    hashes into are read — with any unbounded band key finishing the
  *    match as an equi-join residual inside the pruned read; self-pairs
  *    are dropped. The probe picks the pruning from its input: dynamic
  *    partition pruning for a file-backed query frame, a static key
  *    prune for one that reads from a pinned (stats-less) frame. The
  *    family's verify measure (Jaccard / hamming / cosine) runs on the
  *    joined rows.
  *
  * The families ([[BandFamily]] instances) and their params SIDECAR
  * entries (`_GRAFT_INDEX_PARAMS`, underscore-hidden from Spark's file
  * listing, written at build time):
  *
  *  - `exactdup-text` ([[Dedup.writeExactDupIndex]]): `nBuckets` — the
  *    degenerate one-band case, normalized-text hash key, md5 verify.
  *  - `neardup-text` ([[Dedup.writeNearDupIndex]]): `shingleK`, `bands`,
  *    `rowsPerBand`, `nBuckets` — minhash band keys, Jaccard verify.
  *  - `simhash` ([[Dedup.writeSimhashIndex]]): `maxHamming`, `nBuckets` —
  *    60-bit simhash pigeonhole slices.
  *  - `simhash-wide` ([[Dedup.writeSimhashWideIndex]]): `maxHamming`,
  *    `nBuckets` — 120-bit two-word simhash slices.
  *  - `hamming-sig-wide` ([[Dedup.writeHammingWideIndex]]): `nLoBits`,
  *    `nHiBits`, `maxHamming`, `nBuckets` — any two-word perceptual hash.
  *  - `lsh-hyperplane` ([[Similarity.writeLshIndex]]): `numPlanes`,
  *    `numTables` — hyperplane buckets are already bounded, so no
  *    `nBuckets`; probed single-bucket or multi-probe (Hamming-1).
  *
  * Appends and probes validate the sidecar first and fail loud on a
  * mismatch: an index probed (or grown) with other signature parameters
  * than it was written with would silently return missing or wrong pairs
  * — the one failure a layout of pure hash directories cannot surface by
  * itself. The bucket width is the layout's own: append and probe read
  * it from the sidecar instead of taking it from the caller.
  */
private[graft] object BandedIndex {

  /** Sidecar file name; the leading underscore hides it from Spark's
    * parquet file discovery (Hadoop's hiddenFileFilter).
    */
  val ParamsFile = "_GRAFT_INDEX_PARAMS"

  private def render(params: Map[String, String]): String =
    params.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString("\n")

  private[llm] def hadoopFs(spark: SparkSession, path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** The one suffix a layout being replaced is parked under while
    * [[swapInPlace]] moves its successor in.
    */
  val AsideSuffix = "_ASIDE"

  /** Swap a freshly-built layout at `tmpPath` into place at `path`:
    * rename-aside + rename-in, never delete-then-write. A crash before
    * the renames leaves the original untouched; a crash between them
    * leaves it intact under `<path>_ASIDE` ([[AsideSuffix]]). The path
    * itself is briefly absent (a concurrent probe fails; recovery from a
    * crash in that window is a manual rename back) — on an object store
    * the equivalent swap is a metastore pointer flip. Used by compaction
    * ([[compactPartitionedDir]]) and by the whole-index rebuilds, where
    * the entire directory (data + model artifacts) changes as one unit.
    */
  private[llm] def swapInPlace(spark: SparkSession, path: String,
                               tmpPath: String): Unit = {
    val (fs, dir) = hadoopFs(spark, path)
    val tmp = new org.apache.hadoop.fs.Path(tmpPath)
    val aside = new org.apache.hadoop.fs.Path(dir.getParent,
      dir.getName + AsideSuffix)
    fs.delete(aside, true)
    if (!fs.rename(dir, aside)) throw new java.io.IOException(
      s"swapInPlace: could not move $dir aside to $aside")
    if (!fs.rename(tmp, dir)) throw new java.io.IOException(
      s"swapInPlace: could not move fresh layout $tmp into place at $dir " +
        s"- the original is preserved at $aside")
    fs.delete(aside, true)
  }

  /** Read a many-directory partitioned layout with the parallel
    * partition-discovery TASK count capped at cluster parallelism —
    * round-20's single biggest probe finding. Relation construction
    * (`spark.read.parquet(indexPath)`) launches a listing job with up
    * to `spark.sql.sources.parallelPartitionDiscovery.parallelism`
    * (default 10,000) tasks, i.e. ~one task per (band, bkt) directory;
    * each local-FS list is microseconds, so the job is pure scheduler
    * overhead, paid on EVERY probe of every micro-batch and never
    * amortized by the file-status cache. Measured on the sf10 wide
    * near-dup layout (8,192 directories): construction 13.6–22.2 s at
    * the default vs **1.6–2.4 s capped at cores** (interleaved reps —
    * causal, not drift); at the sf100 layout (32,768 directories) the
    * default costs ~70 s per probe, several probes per ingest batch.
    * The cap is work-preserving (same listings, fewer/bigger tasks)
    * and scale-adaptive — `defaultParallelism` is total cluster cores,
    * so a real cluster still fans out; only the tasks-per-core ratio
    * is bounded. The override is a set → read → restore under one
    * JVM-wide lock, so readers on concurrent threads (the ingest sink
    * probes its indexes in parallel) never interleave their pairs: an
    * unlocked pair could save another reader's override as the "prior"
    * value and leave it set for the whole session. The restore is exact:
    * a key that was unset is unset again, not set to its default. While
    * a read holds the lock, other readers of the session list with the
    * same cap.
    */
  private[llm] def readLayout(spark: SparkSession, path: String*): org.apache.spark.sql.DataFrame =
    layoutConfLock.synchronized {
      val key = "spark.sql.sources.parallelPartitionDiscovery.parallelism"
      // getOption reads an unset key as its default: restore unset as unset.
      val old = spark.conf.getAll.get(key)
      spark.conf.set(key,
        math.max(spark.sparkContext.defaultParallelism, 1).toString)
      try spark.read.parquet(path: _*)
      finally old.fold(spark.conf.unset(key))(v => spark.conf.set(key, v))
    }

  private val layoutConfLock = new Object

  private def readSidecar(spark: SparkSession, path: String): Option[String] = {
    val (fs, dir) = hadoopFs(spark, path)
    val f = new org.apache.hadoop.fs.Path(dir, ParamsFile)
    if (!fs.exists(f)) None
    else {
      val in = fs.open(f)
      try Some(new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8))
      finally in.close()
    }
  }

  private def writeSidecar(spark: SparkSession, path: String,
                           params: Map[String, String]): Unit = {
    val (fs, dir) = hadoopFs(spark, path)
    val out = fs.create(new org.apache.hadoop.fs.Path(dir, ParamsFile), true)
    try out.write(render(params).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private def parse(sidecar: String): Map[String, String] =
    sidecar.linesIterator.map(_.split("=", 2))
      .collect { case Array(k, v) => k -> v }.toMap

  private def noSidecar(op: String, path: String) =
    new IllegalArgumentException(s"$op: no $ParamsFile sidecar at $path - " +
      "not a graft banded index (or built before sidecars existed); " +
      "rebuild it with the matching write*Index call")

  /** Fail loud unless the layout at `path` was built by family `f` with
    * exactly its params, and return the layout's recorded `nBuckets` —
    * validation and the width readback are ONE sidecar read, taken by
    * every append and every probe.
    */
  private def layoutBuckets(spark: SparkSession, path: String,
                            f: BandFamily, op: String): Option[Int] = {
    val found = readSidecar(spark, path).getOrElse(throw noSidecar(op, path))
    val kv = parse(found)
    val nBuckets = kv.get("nBuckets")
    if (kv - "nBuckets" != f.params || nBuckets.isDefined != f.bucket.isDefined)
      throw new IllegalArgumentException(
        s"$op: index at $path was built with different parameters.\n" +
          s"index sidecar:\n$found\nthis call:\n${render(f.params)}\n" +
          "Probing or growing a banded layout with mismatched signature " +
          "parameters silently returns missing or wrong pairs; rebuild " +
          "the index or pass its recorded parameters.")
    nBuckets.map(_.toInt)
  }

  /** `f`'s banded rows for one side, with the bucket column appended. */
  private def banded(f: BandFamily, members: DataFrame, query: Boolean,
                     nBuckets: Option[Int]): DataFrame = {
    val rows = f.banding(members, query)
    f.bucket.zip(nBuckets).fold(rows) { case (rule, n) =>
      rows.select(col("*"),
        pmod(rule(col("key")), lit(n.toLong)).cast("int").as("bkt"))
    }
  }

  /** Build (Overwrite) family `f`'s layout over `rows` at `path`;
    * `nBuckets` is the directory width of a bucketed family (None for a
    * family whose `banding` emits bounded buckets itself).
    */
  private[llm] def write(f: BandFamily, rows: DataFrame, path: String,
                         nBuckets: Option[Int]): Unit = {
    nBuckets.foreach(n => require(n > 0, s"nBuckets must be positive, got $n"))
    writeLayout(banded(f, f.members(rows, false), query = false, nBuckets),
      path, Some(f.params ++ nBuckets.map(n => "nBuckets" -> n.toString)))
  }

  /** INCREMENTAL maintenance: append `rows` to family `f`'s layout at
    * `path` — sidecar validated BEFORE any data is touched, bucket width
    * read back from it.
    */
  private[llm] def append(f: BandFamily, rows: DataFrame, path: String): Unit = {
    val nBuckets = layoutBuckets(rows.sparkSession, path, f,
      "append to banded index")
    writeLayout(banded(f, f.members(rows, false), query = false, nBuckets),
      path, None)
  }

  /** Probe family `f`'s layout at `indexPath` with `rows`: sidecar check
    * + width readback, member kernel, band explode, then the join. The
    * probe picks the join from its input: when `rows` reads from a
    * pinned frame ([[readsPinned]]) it takes the static-prune join
    * ([[probeJoinStatic]]), pinning post-kernel when the family pins
    * ([[BandFamily.pinsQuery]]); otherwise the DPP join ([[probeJoin]]).
    * A pinned (stats-less) frame defeats DPP's benefit heuristic, so
    * the streaming gates, which pin their batches, prune statically,
    * while query paths over file-backed frames keep DPP. `verify` gets
    * the joined rows and the (possibly pinned) member frame and applies
    * the family's measure.
    *
    * On the DPP path the broadcast guard bound is `rows.count()` (or
    * `rowsHint` when the caller already counted it) x the family's
    * fan-out — a column-pruned count of the un-exploded input that never
    * runs the signature kernel or the explode.
    */
  private[llm] def probe(spark: SparkSession, f: BandFamily, indexPath: String,
                         rows: DataFrame, rowsHint: Long = -1L)
                        (verify: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val nBuckets = layoutBuckets(spark, indexPath, f, "probe banded index")
    val static = readsPinned(rows)
    // A static probe reads its query frame twice, so it pins post-kernel:
    // the member frame BEFORE the explode (an exploded frame would copy
    // the payload once per band), or, at fan-out one, the band frame
    // itself — no wider than the members, bucket column included.
    val pin = static && f.pinsQuery
    val kernel = f.members(rows, true)
    val members = if (pin && f.fanOut > 1) Materialize.pin(kernel) else kernel
    val bands = banded(f, members, query = true, nBuckets)
    val qb = if (pin && f.fanOut == 1) Materialize.pin(bands) else bands
    val joined =
      if (static)
        probeJoinStatic(spark, indexPath, qb, f.residual,
          maxBroadcastRows = f.maxBroadcastRows)
      else
        probeJoin(spark, indexPath, qb, f.residual, f.maxBroadcastRows,
          (if (rowsHint >= 0L) rowsHint else rows.count()) * f.fanOut)
    verify(joined, members)
  }

  /** Whether `df` reads from a pinned frame: its analyzed plan has a
    * `LogicalRDD` leaf, which is what a checkpoint ([[Materialize.pin]])
    * plans as. A file-backed frame has none.
    */
  private def readsPinned(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectLeaves()
      .exists(_.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD])

  /** Write a banded layout. `banded` must carry `cand_id`, `band`, `bkt`
    * plus the family's payload columns. `sidecar` Some = (re)build:
    * Overwrite, and the sidecar is written AFTER the data lands (a failed
    * build leaves no fresh sidecar behind); None = grow an existing,
    * already-validated layout (Append).
    */
  private[llm] def writeLayout(banded: DataFrame, path: String,
                               sidecar: Option[Map[String, String]]): Unit = {
    // Shuffle onto the partition columns BEFORE the partitioned write:
    // without it every task writes a file into every directory its rows
    // touch — at bands x nBuckets directories that is O(tasks x dirs)
    // tiny files. Hash-clustered,
    // each directory is owned by one task: total files == directories,
    // and the one extra shuffle is write-time cost on a build-once
    // layout, never probe-time.
    banded.repartition(col("band"), col("bkt"))
      .write.mode(if (sidecar.isDefined) SaveMode.Overwrite else SaveMode.Append)
      .partitionBy("band", "bkt").parquet(path)
    sidecar.foreach(writeSidecar(banded.sparkSession, path, _))
  }

  /** The DPP probe join: index rows joined to the broadcast query band
    * frame on the PARTITION columns plus any `residual` key columns,
    * self-pairs dropped. `qb` must carry `query_id`, `band`, `bkt`,
    * the residual columns, and whatever query payload the caller's
    * measure needs. Returns the joined frame; measure + threshold +
    * output dedup stay with the family.
    *
    * The broadcast hint is GUARDED, not assumed (round-19, the
    * [[graft.llm.Dedup.minhashLshPairsAcross]] `maxBroadcastRight`
    * idiom): past `maxBroadcastRows` band rows the hint is DROPPED so
    * the optimizer/AQE pick the join sides. For the documented contract
    * (micro-batches ≪ corpus) the broadcast always engages; the guard
    * exists because a corpus-shaped batch fed through the same path
    * (the sf100 e2e fixture drove one — ~16M exploded rows exact
    * posture, ~88M multi-probe) otherwise builds a multi-GB driver hash
    * relation and dies by GC, which no contract comment prevents. The
    * fallback is WARN-logged with both counts and recorded per index
    * path in [[probeBroadcastFallback]].
    *
    * `qbRows` is the guard's row figure for `qb`: [[probe]] passes input
    * rows × the family's fixed band fan-out (the band explodes are
    * constant-arity by construction), a column-pruned count of the
    * UN-exploded input that never evaluates the signature kernel or the
    * explode — the round-19 shape (`qb.count()` here) paid one full extra
    * evaluation of the band-exploded frame, kernel included, per probe.
    */
  private[llm] def probeJoin(spark: SparkSession, indexPath: String,
                             qb: DataFrame, residual: Seq[String],
                             maxBroadcastRows: Long, qbRows: Long): DataFrame =
    readLayout(spark, indexPath)
      .join(guardedQueryBroadcast(indexPath, qb, qbRows, maxBroadcastRows),
        Seq("band", "bkt") ++ residual)
      .filter(col("cand_id") =!= col("query_id"))

  /** Apply (or, past the cap, drop) the probe-side broadcast hint —
    * the shared guard of [[probeJoin]] / [[probeJoinStatic]] and the
    * multi-probe band frame. Records the decision per index path.
    */
  private[llm] def guardedQueryBroadcast(indexPath: String, qb: DataFrame,
                                         qbRows: Long,
                                         maxBroadcastRows: Long): DataFrame =
    if (qbRows > maxBroadcastRows) {
      probeBroadcastFallbacks.put(indexPath, qbRows)
      val n = if (qbRows == Long.MaxValue) "an untotalled (key-cap-truncated) number of"
        else qbRows.toString
      log.warn(s"probe of $indexPath: query band frame has $n rows " +
        s"(> $maxBroadcastRows) - dropping the broadcast hint and letting " +
        "the optimizer/AQE pick join sides (a corpus-shaped batch must " +
        "not become a driver-sized hash relation)")
      qb
    } else {
      probeBroadcastFallbacks.put(indexPath, 0L)
      broadcast(qb)
    }

  /** [[probeJoin]] with the probed (band, bkt) keys COLLECTED and pushed
    * as a STATIC partition filter. Exists because DPP is a heuristic,
    * not a guarantee: when `qb` derives from a localCheckpointed
    * (pinned) frame — every streaming gate sink pins its decoded batch
    * so probe/intra-check/append share one decode — the pinned plan
    * reports unknown (maximum) size statistics, the optimizer's
    * pruning-has-benefit check rejects, and the probe silently reads
    * EVERY index directory (measured at sf10 on the audio layout:
    * 4672/4672 files read pinned vs 632 unpinned). A static filter on
    * the partition columns prunes at file-listing time, deterministic
    * and stats-independent.
    *
    * The key collect evaluates only the COLUMN-PRUNED (band, bkt)
    * projection of `qb`'s plan — query payload columns (a 64-double
    * vector, a signature word) are never materialized for it — so the
    * probe costs one extra pass of `qb`'s plan, not a payload copy.
    * Column pruning does NOT prune the per-row KERNEL that computes
    * the band key (a simhash token pass, an md5 normalize, an LSH
    * projection — the key derives from it), so [[probe]], which takes
    * this path exactly when its query frame reads from a pinned frame,
    * pins the family's POST-KERNEL pre-explode member frame first
    * (round-19; [[BandFamily.pinsQuery]]): one
    * narrow row per doc, and both passes read stored blocks instead
    * of re-running the kernel. Round-18 measured the tempting
    * alternative — pinning `qb` itself here — at ~3× the whole
    * composed-ingest wall at sf10: a localCheckpoint of the exploded
    * band frame materializes the query payload once per band row
    * (1.6M × 64 doubles for a corpus-shaped semantic batch), far more
    * IO than the kernel re-run it saves. Pin BEFORE the explode,
    * never after.
    *
    * The collect is bounded metadata — one (band, bkt) pair per probed
    * directory, ≤ batch × bands rows — but a corpus-sized batch over a
    * wide layout (the composed-ingest e2e deliberately feeds one) can
    * approach tables × 2^16 pairs, so the key set is CAPPED at
    * `MaxStaticPruneKeys`: beyond it the probe logs the fallback and
    * reads the index UNFILTERED (exactly [[probeJoin]]'s plan when DPP
    * declines — at that many probed directories a full read is the
    * right plan anyway: the batch touches most of the index). No
    * silent caps: the fallback is WARN-logged with both counts and
    * recorded per index path in [[staticPruneFallback]].
    *
    * The broadcast hint on `qb` carries the SAME guard as [[probeJoin]]
    * — at zero extra jobs here: the key collect is a (band, bkt)
    * GROUP-COUNT, so the exploded frame's total row count falls out of
    * the same aggregation that yields the prune keys. Past
    * `maxBroadcastRows` rows (or when the key cap itself fires — a
    * batch probing that many directories is corpus-shaped by
    * definition) the hint is dropped and the optimizer/AQE pick sides;
    * recorded in [[probeBroadcastFallback]].
    */
  private[llm] def probeJoinStatic(spark: SparkSession, indexPath: String,
                                   qb: DataFrame, residual: Seq[String],
                                   maxKeys: Int = MaxStaticPruneKeys,
                                   maxBroadcastRows: Long = MaxProbeBroadcastRows)
      : DataFrame = {
    val keys = qb.groupBy(col("band"), col("bkt"))
      .agg(count(lit(1)).as("__qn"))
      .limit(maxKeys + 1).collect()
    val index = readLayout(spark, indexPath)
    val (pruned, qbRows) =
      if (keys.length > maxKeys) {
        staticPruneFallbacks.put(indexPath, keys.length.toLong)
        log.warn(s"probeJoinStatic: > $maxKeys distinct " +
          s"(band, bkt) keys probed at $indexPath - falling back to an " +
          "unfiltered index read (a batch touching that many directories " +
          "reads most of the layout either way)")
        // The truncated collect cannot total the frame; a batch probing
        // > maxKeys directories is corpus-shaped, so the broadcast is
        // force-dropped below.
        (index, Long.MaxValue)
      } else {
        staticPruneFallbacks.put(indexPath, 0L)
        val pred = keys.groupBy(_.get(0)).toSeq
          .map { case (band, rows) =>
            col("band") === band && col("bkt").isin(rows.map(_.get(1)): _*)
          }
          .reduceOption(_ || _).getOrElse(lit(false))
        (index.where(pred), keys.iterator.map(_.getLong(2)).sum)
      }
    pruned
      .join(guardedQueryBroadcast(indexPath, qb, qbRows, maxBroadcastRows),
        Seq("band", "bkt") ++ residual)
      .filter(col("cand_id") =!= col("query_id"))
  }

  /** Static-prune key-count cap: above this many probed (band, bkt)
    * directories the listing-time `isin` predicate would carry ~1M
    * literals through the plan for a read that touches most of the
    * index anyway — [[probeJoinStatic]] falls back to an unfiltered
    * read (and says so). Generous for real micro-batches: a 10k-row
    * batch over a 15-table layout probes ≤ 150k keys only if every
    * row lands in a distinct directory.
    */
  val MaxStaticPruneKeys: Int = 65536

  /** Probe-side broadcast row cap: past this many query band rows the
    * probe paths DROP the broadcast hint (see [[probeJoin]]). Sized for
    * the widest payload family — the semantic single-probe frame
    * carries a 64-double query vector per band row (~550 B), so the
    * cap bounds the driver hash relation at ~2 GB worst case; the
    * narrow-payload families (wide-hamming signatures, exact hashes)
    * stay far under it. A production micro-batch (≤ a few 100k rows ×
    * ≤ 15 tables) never reaches it. Callers with a KNOWN-narrow frame
    * (the multi-probe expansion: three scalars per row) pass
    * [[MaxProbeBroadcastRowsNarrow]] instead.
    */
  val MaxProbeBroadcastRows: Long = 4000000L

  /** [[MaxProbeBroadcastRows]] for three-scalar band frames (~30 B per
    * row — the multi-probe (query_id, band, bkt) expansion): ~1 GB
    * worst case. High enough that a 1M-row batch × 4 tables × 17
    * probes still broadcasts; the sf100 corpus-shaped fixture's ~88M
    * rows do not.
    */
  val MaxProbeBroadcastRowsNarrow: Long = 32000000L

  /** Diagnostic twin of [[graft.llm.Similarity.lastCapExclusions]],
    * scoped PER INDEX PATH (concurrent gate streams probe different
    * layouts; a global cell would let one stream clobber another's
    * reading): the (limit-truncated, i.e. ≥ maxKeys + 1) probed-key
    * count of `indexPath`'s most recent [[probeJoinStatic]] fallback —
    * 0 when its last probe pruned normally, 0 when never probed.
    */
  def staticPruneFallback(indexPath: String): Long =
    Option(staticPruneFallbacks.get(indexPath)).fold(0L)(_.longValue)

  private val staticPruneFallbacks =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** The broadcast-guard twin of [[staticPruneFallback]]: the row count
    * of `indexPath`'s most recent probe whose query frame exceeded the
    * broadcast cap (hint dropped), 0 when its last probe broadcast
    * normally.
    */
  def probeBroadcastFallback(indexPath: String): Long =
    Option(probeBroadcastFallbacks.get(indexPath)).fold(0L)(_.longValue)

  private val probeBroadcastFallbacks =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  private val log = org.slf4j.LoggerFactory.getLogger("graft.llm.BandedIndex")

  /** Auto-size `nBuckets` from corpus cardinality: the next power of two
    * of `rows / targetRowsPerBucket`, clamped to `[minBuckets,
    * maxBuckets]`. Rationale (round-10 nBuckets sweep, BASELINE.md):
    * more buckets means sharper DPP pruning — UNTIL the per-directory
    * row count drops below a parquet file's worth, at which point probe
    * latency is dominated by per-file open cost (a 5,000-doc fixture in
    * a 2048-directory layout pays 3.4 s to read KB-sized files). A
    * corpus-derived width gives fixtures narrow layouts and 100 TB
    * corpora wide ones from the same call; the write records the chosen
    * value in the sidecar, and probes/appends read it from there
    * instead of re-deriving.
    */
  def autoBuckets(rows: Long, targetRowsPerBucket: Long = 512,
                  minBuckets: Int = 16, maxBuckets: Int = 32768): Int = {
    require(targetRowsPerBucket > 0 && minBuckets > 0 &&
      maxBuckets >= minBuckets, "invalid autoBuckets bounds")
    val want = math.max(1L, rows / targetRowsPerBucket)
    val pow2 =
      if (want >= maxBuckets) maxBuckets
      else java.lang.Long.highestOneBit(math.max(want * 2 - 1, 1L)).toInt
    math.min(math.max(pow2, minBuckets), maxBuckets)
  }

  /** Compact a banded layout in place. Every [[writeLayout]] Append adds
    * at least one file to each (band, bkt) directory the delta hashes
    * into, so a long-lived index under steady ingest drifts into the
    * small-files regime the round-10 nBuckets sweep measured (probe
    * latency dominated by per-file OPEN cost instead of per-bucket
    * bytes). Compaction re-clusters the layout on its partition columns
    * — one writer task per directory, so one file per directory — with
    * the params sidecar carried over byte-for-byte and every other
    * root-level marker file (e.g. a fixture's completion marker)
    * preserved. The row set is unchanged by construction, so a probe of
    * the compacted layout returns exactly what the fragmented one did.
    *
    * The swap is [[swapInPlace]]'s rename-aside + rename-in (never
    * delete-then-write): the data always exists somewhere, though the
    * index PATH is briefly absent between the two renames. The
    * maintenance dataflow (read, re-cluster, write, swap) is the one a
    * production object store runs behind a metastore pointer flip.
    *
    * Applies to every flat banded family (exact-dup / near-dup text /
    * simhash / wide simhash / wide hamming / LSH). The nested IVF family's
    * cell-partitioned data compacts through the same core via
    * [[graft.llm.Similarity.compactIvfIndex]] /
    * [[graft.llm.Similarity.compactIvfPqIndex]].
    *
    * Compaction is ONE pass over the source: the rewrite's own job
    * observes the source's distinct row count, and the file counts come
    * from a `listStatus` walk ([[graft.ops.Sources.filesUnder]]), not a
    * Spark job. Row-SET preservation is asserted INTERNALLY: the
    * re-read compacted copy is counted against that observed count
    * before the swap, and a mismatch aborts with the original
    * untouched. Layouts of different paths compact independently (the
    * ingest sink compacts each gate's indexes on that gate's own
    * thread); a layout must not be appended to or probed while it
    * compacts, since its path is briefly absent during the swap.
    * EXACT-DUPLICATE rows are dropped
    * during the rewrite: in a banded layout identical rows can only
    * arise from a crash-REPLAYED append (the foreachBatch replay window
    * — a micro-batch whose index append committed but whose checkpoint
    * didn't re-appends the same signature rows), and every probe is
    * multiplicity-invariant (candidates dedup on identical computed
    * measures), so dropping them changes no probe result while the
    * compaction cadence also REPAIRS the silent index growth replays
    * cause.
    *
    * @return (dataFilesBefore, dataFilesAfter, rows) — callers assert
    *   `dataFilesAfter <= dataFilesBefore` and carry `rows` (the
    *   distinct row count) into their own row-preservation contract.
    */
  def compactLayout(spark: SparkSession, path: String): (Long, Long, Long) = {
    val sidecar = readSidecar(spark, path)
      .getOrElse(throw noSidecar("compactLayout", path))
    val out = compactPartitionedDir(spark, path, Seq("band", "bkt"),
      dropExactDuplicates = true)
    // The sidecar must have survived the copy - a layout without it
    // would refuse every future probe/append.
    if (!readSidecar(spark, path).contains(sidecar))
      throw new IllegalStateException(
        s"compactLayout: sidecar at $path changed across compaction")
    out
  }

  /** The compaction core shared by [[compactLayout]] and the IVF-family
    * compactors: re-cluster `path`'s rows on `partitionCols` (one writer
    * task per directory → one file per directory) while an
    * `Observation` on that write counts the source rows, verify the
    * re-read copy's row count against that count, then [[swapInPlace]]. Root
    * `_`-prefixed marker files (params sidecars, completion markers)
    * are carried over verbatim. With `dropExactDuplicates` the rewrite
    * is `distinct()` and the gate compares against the source's
    * DISTINCT count — see [[compactLayout]] for why that is the right
    * contract for banded layouts (replay-append repair); the IVF
    * compactors keep the strict row-identity rewrite.
    */
  private[llm] def compactPartitionedDir(spark: SparkSession, path: String,
                                         partitionCols: Seq[String],
                                         dropExactDuplicates: Boolean = false): (Long, Long, Long) = {
    val (fs, dir) = hadoopFs(spark, path)
    def dataFiles(p: org.apache.hadoop.fs.Path): Long =
      graft.ops.Sources.filesUnder(fs, p).count { st =>
        val name = st.getPath.getName
        !name.startsWith("_") && !name.startsWith(".")
      }.toLong
    val before = dataFiles(dir)
    val raw = readLayout(spark, path)
    val rows = if (dropExactDuplicates) raw.distinct() else raw
    val tmp = new org.apache.hadoop.fs.Path(dir.getParent, dir.getName + "_COMPACTING")
    fs.delete(tmp, true)
    // Same hash-clustered shape as writeLayout: one task owns each
    // partition directory, so the compacted layout has exactly one
    // file per directory regardless of how many appends preceded it.
    // The source's (distinct) row count is observed on the rewrite's
    // own job, not counted by a separate pass over the source.
    val observed = org.apache.spark.sql.Observation()
    rows.observe(observed, count(lit(1)).as("rows"))
      .repartition(partitionCols.map(col).toIndexedSeq: _*)
      .write.mode(SaveMode.Overwrite).partitionBy(partitionCols: _*)
      .parquet(tmp.toString)
    val rowsBefore = observed.get("rows").asInstanceOf[Long]
    // Carry over the sidecar verbatim plus any other root-level marker
    // files the write didn't produce itself (completion markers etc).
    val rootStatus = fs.listStatus(dir)
    rootStatus.filter(st => st.isFile && st.getPath.getName.startsWith("_"))
      .foreach { st =>
        val target = new org.apache.hadoop.fs.Path(tmp, st.getPath.getName)
        if (!fs.exists(target))
          org.apache.hadoop.fs.FileUtil.copy(fs, st.getPath, fs, target,
            false, spark.sparkContext.hadoopConfiguration)
      }
    val compactedRows = spark.read.parquet(tmp.toString).count()
    // Internal row-preservation gate: abort BEFORE the swap, original
    // untouched, rather than returning a silently-shrunk layout.
    if (compactedRows != rowsBefore) {
      fs.delete(tmp, true)
      throw new IllegalStateException(
        s"compactPartitionedDir: compacted copy of $path has " +
          s"$compactedRows rows, source had $rowsBefore - aborting swap " +
          "(original layout untouched)")
    }
    swapInPlace(spark, path, tmp.toString)
    (before, dataFiles(dir), compactedRows)
  }

  /** Read ONE layout parameter from the params sidecar, validating the
    * family first — the readback behind the auto-sized LSH layouts'
    * plane/table resolution: callers of an auto-sized layout never
    * thread build-time sizing through by hand (they'd drift from what
    * was actually built; the sidecar is the truth).
    */
  def paramOf(spark: SparkSession, path: String, family: String,
              key: String): String = {
    val kv = parse(readSidecar(spark, path)
      .getOrElse(throw noSidecar("paramOf", path)))
    if (!kv.get("family").contains(family))
      throw new IllegalArgumentException(
        s"paramOf: index at $path is family '${kv.getOrElse("family", "?")}', expected '$family'")
    kv.getOrElse(key, throw new IllegalArgumentException(
      s"paramOf: sidecar at $path has no $key entry"))
  }
}
