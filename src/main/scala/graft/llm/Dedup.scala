package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import TextOps._
import graft.ops.Materialize

/** Deduplication operators for large-scale corpus cleaning.
  *
  * Scale design (the 100 TB contract): no operator here ever forms the
  * all-pairs cross product. Candidate generation is always a shuffle on a
  * *bucket key* — normalized-text hash (exact), LSH band key (minhash),
  * simhash band (hamming), shared shingle (jaccard) — so the shuffle is
  * proportional to data + candidate pairs, not n². Exact verification runs
  * only on bucket-collision candidates, against per-doc shingle arrays
  * carried through the join (array_intersect on two ~doc-length arrays),
  * never a re-explode of the corpus.
  */
object Dedup {

  /** Spread a narrow input across the cluster before CPU-heavy per-row
    * stages (shingling, hashing). A single small parquet file scans as ONE
    * partition and would serialize the whole tokenize/hash pass onto one
    * core; the guard keeps this a no-op for inputs that already have
    * enough splits (the normal 100 TB case), so no gratuitous shuffle.
    *
    * The split estimate is the leaf FILE count (`inputFiles` — a driver
    * metadata walk of the analyzed plan), not `rdd.getNumPartitions`:
    * the latter forces full physical planning on every call — repeated
    * cost on hot entry points, and a plan AQE then can't re-shape. A
    * many-file table (the 100 TB case) short-circuits to a no-op; the
    * rare single-LARGE-file scan (which splits fine on its own) pays one
    * extra narrow-projection shuffle — acceptable for a shape that real
    * tables don't have. Non-file-backed frames (inputFiles empty) pass
    * through — CALLER CONTRACT: pass a file-backed scan or an
    * already-spread frame; a deliberately narrow in-memory frame (a
    * `coalesce(1)` output, a 1-partition JDBC read) is not re-spread
    * here, unlike the old physical-plan check. The same applies to a
    * `coalesce(N)`/`repartition(1)` applied ON TOP of a many-file scan:
    * `inputFiles` still reports the leaf file count, so the narrowing
    * passes through undetected and the tokenize/hash pass runs at the
    * caller's chosen width — callers narrowing a scan on purpose own
    * that width; don't coalesce before a dedup entry point otherwise.
    */
  private[llm] def ensureParallelism(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    val files = df.inputFiles.length
    if (files > 0 && files < target) df.repartition(target) else df
  }

  /** Exact dedup: one surviving row (minimum id) per normalized text.
    *
    * groupBy on md5(normalized) rather than the full text keeps the
    * shuffle key 16 bytes instead of document-sized at 100 TB; the
    * representative id is a plain min aggregate (map-side partial).
    */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), col(textCol), md5(normalize(col(textCol))).as("__h"))
      .groupBy(col("__h"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))
      .drop("__h")

  /** MinHash-LSH near-duplicate pairs.
    *
    * shingle → minhash(bands × rowsPerBand) → band-key bucket join →
    * exact-Jaccard verify ≥ `threshold`. Docs sharing no band never meet.
    *
    * Signature computation is the explode → hash-once → groupBy shape: the
    * expensive md5 runs exactly once per (doc, shingle), and the
    * `numHashes` signature minima are cheap universal hashes
    * ((a_i*h + b_i) mod P, parameters baked in as plan-time literals)
    * folded map-side into `min` partial aggregates. The naive
    * all-in-one-projection form recomputes md5 `numHashes` times per
    * shingle — 16× the hash work before the first shuffle.
    *
    * @return (idA, idB, jaccard) with idA < idB.
    */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      shingleK: Int, bands: Int, rowsPerBand: Int,
                      threshold: Double,
                      mat: graft.ops.Materialize = graft.ops.Materialize.Local): DataFrame = {
    val numHashes = bands * rowsPerBand
    // The shingle arrays feed three consumers (signature hashing + both
    // verify sides); materializing them once avoids re-tokenizing the
    // corpus per consumer. Default Materialize.Local = executor-loss
    // fails the job (see the Materialize contract); long cluster jobs
    // pass Reliable/Path.
    val sets = mat(ensureParallelism(df.select(col(idCol).as("id"), col(textCol)))
      .select(col("id"), wordShingles(col(textCol), shingleK).as("shingles")))
    val banded = bandKeys(sets, bands, rowsPerBand)
    val a = banded.select(col("band"), col("key"), col("id").as("id_a"))
    val b = banded.select(col("band"), col("key"), col("id").as("id_b"))
    // Bucket join on (band, key); a<b orients each unordered pair once.
    // The same pair can collide in several bands -> distinct before verify.
    val cand = a.join(b, Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    cand
      .join(sets.select(col("id").as("id_a"), col("shingles").as("sh_a")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("shingles").as("sh_b")), Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** CROSS-corpus near-dup pairs: every (left, right) doc pair whose
    * shingle Jaccard clears `threshold`, candidates generated ONLY
    * across the two frames — no left-left or right-right pair ever
    * forms, which is the shape benchmark decontamination needs (a
    * training corpus checked against an eval set: the train-train
    * near-dup question is [[minhashLshPairs]]' job, not this one's).
    * Same signature stage ([[bandKeys]] — identical hash parameters)
    * and the same exact-Jaccard verify on carried shingle arrays, so a
    * pair collides here exactly where the self-join family would see
    * it. The right frame is typically benchmark-sized (thousands of
    * docs vs a corpus of billions): its band rows broadcast, so the
    * candidate join is a broadcast probe of the corpus band stream —
    * no corpus-wide shuffle at all. The broadcast is GUARDED, not
    * assumed: the materialized right side is counted (one cheap job
    * over the pinned shingle frame) and a right side over
    * `maxBroadcastRight` docs falls back to plain shuffle joins — AQE
    * picks the sides — instead of OOMing the driver with a
    * corpus-sized shingle broadcast. The default bounds the broadcast
    * at ~100k docs × (8 band rows + one shingle array) — comfortably
    * inside a driver heap, far past any real eval suite.
    *
    * @return (id_a = left id, id_b = right id, jaccard)
    */
  def minhashLshPairsAcross(left: DataFrame, right: DataFrame,
                            idCol: String, textCol: String, shingleK: Int,
                            bands: Int, rowsPerBand: Int, threshold: Double,
                            mat: graft.ops.Materialize = graft.ops.Materialize.Local,
                            maxBroadcastRight: Long = 100000L): DataFrame = {
    def sets(df: DataFrame) =
      mat(ensureParallelism(df.select(col(idCol).as("id"), col(textCol)))
        .select(col("id"), wordShingles(col(textCol), shingleK).as("shingles")))
    val ls = sets(left)
    val rs = sets(right)
    val bHint: DataFrame => DataFrame =
      if (rs.count() <= maxBroadcastRight) broadcast else identity
    val cand = bandKeys(ls, bands, rowsPerBand)
      .select(col("band"), col("key"), col("id").as("id_a"))
      .join(bHint(bandKeys(rs, bands, rowsPerBand)
        .select(col("band"), col("key"), col("id").as("id_b"))),
        Seq("band", "key"))
      .select("id_a", "id_b").distinct()
    cand
      .join(ls.select(col("id").as("id_a"), col("shingles").as("sh_a")), Seq("id_a"))
      .join(bHint(rs.select(col("id").as("id_b"), col("shingles").as("sh_b"))),
        Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** MinHash band keys of a (id, shingles) frame: one row per (doc,
    * band), key = the band's signature slice joined with '_'. The
    * shared signature stage of the inline pair join AND the write-time
    * index layout — identical expressions, so an index built here
    * collides exactly where the inline path would.
    */
  private def bandKeys(sets: DataFrame, bands: Int,
                       rowsPerBand: Int): DataFrame = {
    val numHashes = bands * rowsPerBand
    val hashed = sets.select(col("id"), explode(col("shingles")).as("s"))
      .withColumn("h", hash60(col("s")) % MinhashP)
    val sigs = hashed.groupBy(col("id")).agg(
      min((lit(minhashParams(0)._1) * col("h") + lit(minhashParams(0)._2)) % MinhashP).as("m0"),
      (1 until numHashes).map { i =>
        val (a, b) = minhashParams(i)
        min((lit(a) * col("h") + lit(b)) % MinhashP).as(s"m$i")
      }: _*)
    sigs.select(col("id"),
      posexplode(array((0 until bands).map(bd =>
        concat_ws("_", (0 until rowsPerBand).map(r => col(s"m${bd * rowsPerBand + r}")): _*)): _*))
        .as(Seq("band", "key")))
  }

  /** The NEAR-DUP TEXT [[BandFamily]]: one row per (doc, band) —
    * `(cand_id, key, shingles)` with `bkt = hash60(key) % nBuckets`.
    * Band keys are unbounded-cardinality strings, so (unlike the
    * embedding-LSH layout's integral buckets) the PARTITION key is the
    * band plus a bounded hash bucket of the key; the full key stays a
    * data column and finishes the match as an equi-join residual inside
    * the pruned read. The shingle arrays are pinned once by `mat` (the
    * [[minhashLshPairs]] materialization contract): they feed the
    * signature pass AND the carried payload.
    */
  private[llm] def nearDupFamily(idCol: String, textCol: String,
                                 shingleK: Int, bands: Int, rowsPerBand: Int,
                                 mat: graft.ops.Materialize): BandFamily =
    BandFamily(
      Map("family" -> "neardup-text", "shingleK" -> shingleK.toString,
        "bands" -> bands.toString, "rowsPerBand" -> rowsPerBand.toString),
      members = (rows, _) =>
        mat(ensureParallelism(rows.select(col(idCol).as("id"), col(textCol)))
          .select(col("id"), wordShingles(col(textCol), shingleK).as("shingles"))),
      banding = (sets, query) =>
        if (query)
          bandKeys(sets, bands, rowsPerBand)
            .join(sets.select(col("id"), col("shingles").as("q_sh")), Seq("id"))
            .select(col("id").as("query_id"), col("q_sh"), col("band"), col("key"))
        else
          bandKeys(sets, bands, rowsPerBand).join(sets, Seq("id"))
            .select(col("id").as("cand_id"), col("key"), col("shingles"),
              col("band")),
      fanOut = bands, bucket = Some(hash60(_)), residual = Seq("key"))

  /** Materialize the write-time near-dup text index ([[nearDupFamily]]).
    * Built once at write time, the index turns every "is this delta
    * batch a near-dup of anything in the corpus?" question from a corpus
    * re-shingle into a DPP-pruned read of ~the delta's bucket
    * directories.
    */
  def writeNearDupIndex(corpus: DataFrame, idCol: String, textCol: String,
                        shingleK: Int, bands: Int, rowsPerBand: Int,
                        nBuckets: Int, path: String,
                        mat: graft.ops.Materialize = graft.ops.Materialize.Local): Unit =
    BandedIndex.write(nearDupFamily(idCol, textCol, shingleK, bands,
      rowsPerBand, mat), corpus, path, Some(nBuckets))

  /** Probe a [[writeNearDupIndex]] layout with a delta batch: the
    * delta's band keys join the index on the PARTITION columns (band,
    * bkt) — dynamic partition pruning reads only the bucket directories
    * the delta hashes into — with the full key as the equi-join
    * residual; survivors verify exact Jaccard against the shingle
    * arrays CARRIED IN THE INDEX (the corpus text is never re-read, let
    * alone re-shingled). A pair colliding in several bands verifies
    * once per band and dedups on the identical computed value (the
    * [[graft.llm.Similarity.lshTopKFromIndex]] trick) — bounded by
    * `bands` recomputes of a broadcast-joined row, cheaper than the
    * second pruned index read an ids-only dedup would need to re-attach
    * corpus shingles.
    *
    * @return (query_id, cand_id, jaccard): delta docs paired with every
    *   index member (delta members included, self excluded) at
    *   `jaccard >= threshold`.
    */
  def probeNearDupIndex(spark: org.apache.spark.sql.SparkSession,
                        indexPath: String, delta: DataFrame,
                        idCol: String, textCol: String,
                        shingleK: Int, bands: Int, rowsPerBand: Int,
                        threshold: Double,
                        mat: graft.ops.Materialize = graft.ops.Materialize.Local): DataFrame =
    BandedIndex.probe(spark, nearDupFamily(idCol, textCol, shingleK, bands,
        rowsPerBand, mat), indexPath, delta) { (joined, _) =>
      joined
        .withColumn("inter", size(array_intersect(col("q_sh"), col("shingles"))))
        .withColumn("jaccard",
          col("inter").cast("double") /
            (size(col("q_sh")) + size(col("shingles")) - col("inter")).cast("double"))
        .filter(col("jaccard") >= threshold)
        .select(col("query_id"), col("cand_id"), col("jaccard")).distinct()
    }

  /** The EXACT-DUP [[BandFamily]] — the degenerate single-band case: one
    * row per doc, `key` = 60-bit hash of the normalized text (the bucket
    * key), the full md5 carried alongside so the probe verifies matches
    * collision-proof. The normalize + md5 kernel is one NARROW row per
    * doc (no explode, no text), so a static-pruned probe pins it and the
    * kernel runs once per micro-batch instead of twice (round-19).
    */
  private[llm] def exactDupFamily(idCol: String, textCol: String): BandFamily =
    BandFamily(Map("family" -> "exactdup-text"),
      members = (rows, query) => {
        val (id, h) = if (query) ("query_id", "q_h128") else ("cand_id", "h128")
        ensureParallelism(rows.select(col(idCol).as(id), col(textCol)))
          .select(col(id), normalize(col(textCol)).as("__norm"))
          .select(col(id), hash60(col("__norm")).as("key"),
            md5(col("__norm")).as(h))
          .select(col(id), col("key"), col(h), lit(0).as("band"))
      },
      banding = (sigs, _) => sigs,
      fanOut = 1, bucket = Some(k => k), residual = Seq("key"))

  /** Materialize the write-time EXACT-DUP index ([[exactDupFamily]]):
    * "is this delta batch textually identical to anything in the
    * corpus?" becomes a DPP-pruned read of the delta's bucket
    * directories — the write-time twin of [[exactDedup]], as
    * [[writeNearDupIndex]] is of [[minhashLshPairs]].
    */
  def writeExactDupIndex(corpus: DataFrame, idCol: String, textCol: String,
                         nBuckets: Int, path: String): Unit =
    BandedIndex.write(exactDupFamily(idCol, textCol), corpus, path,
      Some(nBuckets))

  /** INCREMENTAL maintenance: append a delta batch to an existing
    * [[writeExactDupIndex]] layout (per-doc pure signatures — grown
    * index probes identically to a rebuild; params sidecar-validated).
    */
  def appendToExactDupIndex(delta: DataFrame, idCol: String, textCol: String,
                            path: String): Unit =
    BandedIndex.append(exactDupFamily(idCol, textCol), delta, path)

  /** Probe a [[writeExactDupIndex]] layout with a delta batch: bucket-key
    * equi-join under dynamic partition pruning (or a static key prune,
    * which [[BandedIndex.probe]] picks itself for a pinned delta), then
    * the carried md5 verifies true text equality (a 60-bit bucket-key
    * collision cannot produce a false pair).
    *
    * @return (query_id, cand_id): delta docs paired with every index
    *   member whose normalized text is identical (self excluded).
    */
  def probeExactDupIndex(spark: org.apache.spark.sql.SparkSession,
                         indexPath: String, delta: DataFrame,
                         idCol: String, textCol: String): DataFrame =
    BandedIndex.probe(spark, exactDupFamily(idCol, textCol), indexPath,
        delta) { (joined, _) =>
      joined.filter(col("h128") === col("q_h128"))
        .select(col("query_id"), col("cand_id"))
    }

  /** Compact ANY flat banded-index layout (exact-dup / near-dup text /
    * simhash / wide simhash / wide hamming / LSH) in place: rewrite to
    * one file per (band, bkt) directory, params sidecar and marker files
    * preserved, row SET unchanged — exact-duplicate rows, which only a
    * crash-replayed append can create and which no probe can observe
    * (probes are multiplicity-invariant), are dropped, so the cadence
    * also repairs replay-grown indexes. See [[BandedIndex.compactLayout]]
    * for the swap protocol and why a long-lived index needs this (the
    * appends-accumulate-small-files regime measured in the round-10
    * nBuckets sweep, BASELINE.md).
    *
    * @return (dataFilesBefore, dataFilesAfter, rows)
    */
  def compactIndex(spark: org.apache.spark.sql.SparkSession,
                   indexPath: String): (Long, Long, Long) =
    BandedIndex.compactLayout(spark, indexPath)

  /** 60-bit simhash of the token multiset: bit j is set when the sum of
    * (+1 / -1) votes from each token's hash bit j is non-negative.
    * Token multiplicity weights the vote (term frequency).
    */
  def simhash(text: Column): Column = {
    val tokenHashes = transform(tokens(text), t => hash60(t))
    // One ±1 vote fold per bit, built Scala-side (j is a plan-time
    // constant, so each fold is a codegen'd sequential loop). NOTE: the 60
    // folds each re-evaluate `tokenHashes` (Catalyst inlines the common
    // subexpression), so this Column form is for small/interactive use;
    // the corpus-scale path is [[simhashFrame]].
    (0 until 60).map { j =>
      when(
        aggregate(tokenHashes, lit(0L),
          (acc, h) =>
            acc + when(shiftright(h, j).bitwiseAND(1) === 1, 1L).otherwise(-1L))
          >= 0,
        lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)
  }

  /** Corpus-scale simhash: ONE codegen'd pass over each doc's token
    * array ([[graft.functions.Simhash60Expr]]) — md5 once per token,
    * the ±1 vote fold local to the row. Identical values to [[simhash]]
    * and to the original explode → 60-column vote aggregate shape, with
    * ZERO exchange: the signature is computed inside the scan
    * projection (the aggregate form shuffled a row per doc and paid a
    * 60-column whole-stage codegen compile per query).
    */
  def simhashFrame(df: DataFrame, idCol: String, textCol: String): DataFrame =
    ensureParallelism(df.select(col(idCol).as("id"), col(textCol)))
      .select(col("id").as(idCol),
        graft.functions.SimhashFunctions.simhash60(tokens(col(textCol)))
          .as("simhash"))
      // Null text has no tokens to vote: the explode form dropped the
      // doc, the expression yields null — same membership either way.
      .filter(col("simhash").isNotNull)

  /** The hamming band slices of ANY (id, sh) bit-signature frame — the
    * simhash machinery with the bit width as a parameter, so other
    * hamming-space signatures (e.g. the 56-bit image dHash) reuse the
    * identical pigeonhole layout. Each of the `maxHamming + 1` bands
    * must be non-empty (a zero-width band would key everyone to 0 and
    * cross-join the corpus) — rejected loudly.
    */
  private def hammingBands(sigs: DataFrame, nBits: Int,
                           maxHamming: Int): DataFrame = {
    val nBands = maxHamming + 1
    val width = (nBits + nBands - 1) / nBands // last band may be narrower
    require(width * (nBands - 1) < nBits,
      s"$nBands bands over $nBits bits leaves an empty band " +
        s"(width $width); pick maxHamming so every band gets >= 1 bit")
    sigs.select(col("id"), col("sh"),
      posexplode(array((0 until nBands).map { b =>
        val w = math.min(width, nBits - b * width)
        shiftright(col("sh"), b * width).bitwiseAND((1L << math.max(w, 1)) - 1)
      }: _*))
        .as(Seq("band", "key")))
  }

  /** Near-duplicate pairs of ANY (id, sh) fixed-width bit-signature frame
    * under hamming distance — banded candidate generation (pigeonhole
    * recall: `maxHamming + 1` bands, a pair within `maxHamming` agrees on
    * at least one whole band) + exact `bit_count(xor)` verify. The
    * hamming-space dedup core shared by [[simhashPairs]] (60-bit text
    * simhash) and the image dHash pairs (56-bit perceptual hash):
    * bucket-key shuffle on (band, key), never all-pairs.
    *
    * CORPUS-SCALE REGIME (round-15 measurement): band keys carry
    * `nBits / (maxHamming + 1)` bits, so the candidate mass is
    * Θ(n² · (maxHamming+1) / 2^(nBits/(maxHamming+1))) once
    * n ≫ 2^keyBits — for the 56-bit / maxHamming=7 family (7-bit keys,
    * 128 values) the mass was measured EXACTLY quadratic across three
    * decades (1.96M → 192M → 19.1B candidates at 5k → 50k → 500k
    * videos), driving the since-retired narrow video-clusters query to
    * 50× wall for 10× data at the third decade — every registered
    * perceptual query now runs the wide family below. This is
    * inherent to narrow signatures,
    * not a plan defect: the text family escaped it by WIDENING the
    * signature ([[simhashWidePairs]], 120 bits → 15-bit keys). For
    * all-corpus pairs/clusters jobs over 56-bit perceptual hashes,
    * either shrink the radius (maxHamming=3 → 14-bit keys, 4096× fewer
    * candidates per the formula) or treat the job as the one-time batch
    * it is; the INGEST path is unaffected — the write-time index probes
    * ([[probeHammingWideIndex]]) are delta-bounded and measured ~1.0×
    * per corpus decade at fixed delta.
    *
    * `sigs` must be DETERMINISTIC (or caller-pinned): the self-join
    * evaluates it once per side, and a non-deterministic upstream
    * (sampling, rand-derived ids/signatures) could produce different
    * signatures on the two sides and emit wrong pairs — a failure the
    * reverted in-library pin incidentally prevented.
    */
  def hammingNearDupPairs(sigs: DataFrame, idCol: String, hashCol: String,
                          nBits: Int, maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming < nBits,
      s"maxHamming must be in [0, $nBits), got $maxHamming")
    require(nBits >= 1 && nBits <= 63,
      s"nBits must be in [1, 63] (positive int64 signatures), got $nBits")
    // DELIBERATELY UN-PINNED — see [[hammingNearDupPairsWide]]: the
    // round-19 paired sf10 A/B measured a function-level pin of the
    // narrow signature frame as a scale loss for cheap kernels; callers
    // with a dominant kernel pin their own input.
    val banded = hammingBands(
      sigs.select(col(idCol).as("id"), col(hashCol).as("sh")),
      nBits, maxHamming)
    val a = banded.select(col("band"), col("key"), col("id").as("id_a"), col("sh").as("sh_a"))
    val b = banded.select(col("band"), col("key"), col("id").as("id_b"), col("sh").as("sh_b"))
    a.join(b, Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "sh_a", "sh_b").distinct()
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Near-duplicate pairs of entities carrying a SET of signatures each
    * (one row per member signature — e.g. the strided frame hashes of a
    * video): two entities are near-dups when ANY cross pair of their
    * member signatures is within `maxHamming`, reported with the MIN
    * such distance. The winnowing idiom lifted to hamming space — the
    * per-pair pigeonhole guarantee of [[hammingNearDupPairs]] holds for
    * every member pair, so an entity pair with any in-budget member
    * pair is always found. Same bucket-key shuffle, never all-pairs; a
    * set of size k multiplies banded rows by k (bounded, caller-chosen),
    * and the final per-entity-pair min is a grouped aggregate on the
    * already-verified (small) pair frame.
    */
  def hammingNearDupPairsSet(sigs: DataFrame, idCol: String,
                             hashCol: String, nBits: Int,
                             maxHamming: Int): DataFrame =
    hammingNearDupPairs(sigs, idCol, hashCol, nBits, maxHamming)
      .groupBy(col("id_a"), col("id_b"))
      .agg(min(col("hamming")).as("hamming"))

  /** SimHash near-duplicate pairs: docs whose 60-bit simhashes lie within
    * `maxHamming`. Candidate recall is guaranteed by pigeonhole: the 60
    * bits split into `maxHamming + 1` bands, so any pair within
    * `maxHamming` differing bits agrees exactly on at least one band; the
    * true hamming distance then filters the candidates.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 60,
      s"maxHamming must be in [0, 60), got $maxHamming")
    hammingNearDupPairs(
      simhashFrame(df, idCol, textCol)
        .select(col(idCol).as("id"), col("simhash").as("sh")),
      idCol = "id", hashCol = "sh", nBits = 60, maxHamming = maxHamming)
  }

  /** A hamming family's banded rows for one side: index rows are
    * (cand_id, key, payload, band) — the layout's data-column order —
    * query rows (query_id, payload renamed for the probe side, band,
    * key).
    */
  private def hammingSide(banded: DataFrame, query: Boolean,
                          payload: (String, String)*): DataFrame =
    if (query)
      banded.select(col("id").as("query_id") +:
        payload.map { case (c, q) => col(c).as(q) } :+ col("band") :+ col("key"): _*)
    else
      banded.select(col("id").as("cand_id") +: col("key") +:
        payload.map(p => col(p._1)) :+ col("band"): _*)

  /** The 60-bit SIMHASH [[BandFamily]]: one row per (doc, band) —
    * `(cand_id, key, sh)` with `bkt = key % nBuckets` (band values are
    * bounded ints, but 2^width can still be thousands of directories;
    * the bucket bounds the partition count like the near-dup text
    * index's key hash). Slices follow [[simhashPairs]]' pigeonhole
    * layout, so the index collides exactly where the inline path would.
    */
  private[llm] def simhashFamily(idCol: String, textCol: String,
                                 maxHamming: Int): BandFamily = {
    require(maxHamming >= 0 && maxHamming < 60,
      s"maxHamming must be in [0, 60), got $maxHamming")
    BandFamily(Map("family" -> "simhash", "maxHamming" -> maxHamming.toString),
      members = (rows, _) => simhashFrame(rows, idCol, textCol)
        .select(col(idCol).as("id"), col("simhash").as("sh")),
      banding = (sigs, query) =>
        hammingSide(hammingBands(sigs, 60, maxHamming), query, "sh" -> "q_sh"),
      fanOut = maxHamming + 1L, bucket = Some(k => k), residual = Seq("key"))
  }

  /** Materialize the write-time SIMHASH index ([[simhashFamily]]) — the
    * write-time twin of [[simhashPairs]]: hamming near-dup probes of a
    * delta batch against the corpus become DPP-pruned reads instead of
    * corpus re-hashes.
    */
  def writeSimhashIndex(corpus: DataFrame, idCol: String, textCol: String,
                        maxHamming: Int, nBuckets: Int, path: String): Unit =
    BandedIndex.write(simhashFamily(idCol, textCol, maxHamming), corpus, path,
      Some(nBuckets))

  /** Probe a [[writeSimhashIndex]] layout with a delta batch: the
    * delta's band slices join the index on the PARTITION columns
    * (band, bkt) — dynamic partition pruning — with the band value as
    * the equi-join residual; survivors verify true hamming distance
    * against the full signatures (the delta's inline, the corpus's
    * carried in the index). Multi-band collisions dedup on the
    * identical computed distance. Same params as [[simhashPairs]] give
    * the delta-restricted, (query, cand)-oriented subset of its rows.
    *
    * @return (query_id, cand_id, hamming), cand ≠ query,
    *   hamming ≤ maxHamming.
    */
  def probeSimhashIndex(spark: org.apache.spark.sql.SparkSession,
                        indexPath: String, delta: DataFrame,
                        idCol: String, textCol: String,
                        maxHamming: Int): DataFrame =
    BandedIndex.probe(spark, simhashFamily(idCol, textCol, maxHamming),
        indexPath, delta) { (joined, _) =>
      joined.withColumn("hamming", bit_count(col("q_sh").bitwiseXOR(col("sh"))))
        .filter(col("hamming") <= maxHamming)
        .select(col("query_id"), col("cand_id"), col("hamming")).distinct()
    }

  // ---- WIDE (120-bit, two-word) simhash family -----------------------

  /** 120-bit simhash carried as TWO int64 words: `simhash_lo` votes with
    * `hash60(token)`, `simhash_hi` with the independent salt-1 hash of
    * the same token — one token explode, one 120-column vote aggregate.
    *
    * Why a wide family exists (round-10 DPP sweep, BASELINE.md): the
    * 60-bit family's pigeonhole bands at maxHamming=8 are ≤7-bit slices,
    * so a band key has at most 128 distinct values and the write-time
    * index can never spread over more than 128 directories per band —
    * the one banded layout whose DPP pruning saturates BY CONSTRUCTION.
    * At maxHamming=7 the wide fingerprint bands into 8 x 15-bit slices:
    * 32768 distinct band-key values, restoring the full-entropy
    * bucketing the minhash and LSH families already have, while the
    * doubled fingerprint ALSO halves the per-bit noise rate of the
    * hamming decision at equal band count.
    */
  def simhashWideFrame(df: DataFrame, idCol: String, textCol: String): DataFrame =
    ensureParallelism(df.select(col(idCol).as("id"), col(textCol)))
      // Let-bind the two-word signature in ONE projection (each word
      // extracted in a SECOND projection — extracting both from an
      // inline expression would re-run the whole token pass per word),
      // then split. Zero exchange: the original explode → 120-column
      // vote aggregate shape shuffled a row per doc and its aggregate
      // codegen alone compiled for ~7 s cold (round-11 measurement).
      .select(col("id").as(idCol),
        graft.functions.SimhashFunctions.simhashWide(tokens(col(textCol)))
          .as("_sig"))
      .filter(col("_sig").isNotNull)
      .select(col(idCol),
        element_at(col("_sig"), 1).as("simhash_lo"),
        element_at(col("_sig"), 2).as("simhash_hi"))

  /** One band slice of a two-word signature layout: which `band` index
    * it is, which `word` it slices (0 = lo, 1 = hi), and the bit
    * `start`/`width` within that word. THE single definition of the
    * wide banding — the Scala slicing ([[hammingBandsWide]]) and the
    * DuckDB oracle generator (`LlmQueries.wideBandSlicesSql`) both
    * consume it, so the two layouts cannot drift.
    */
  final case class WideBandSlice(band: Int, word: Int, start: Int, width: Int)

  /** The proportional two-word band layout: `maxHamming + 1` bands
    * split between the words in proportion to their bit shares, each
    * word's bands a balanced disjoint cover of its bits — pigeonhole
    * recall holds for any disjoint full cover of the
    * `nLoBits + nHiBits` total. The text family uses 60 + 60 (120-bit
    * wide simhash); the wide perceptual family 56 + 54 (horizontal +
    * vertical dHash). Layout notes: 60+60 keeps the historical
    * (nBands+1)/2 lo share exactly, and for band counts dividing the
    * word width the slices are bit-identical to the pre-r15 slicing —
    * existing written indexes keep matching their probes.
    */
  private[graft] def wideBandLayout(nLoBits: Int, nHiBits: Int,
                                    maxHamming: Int): Seq[WideBandSlice] = {
    val nBands = maxHamming + 1
    val nLo = math.max(1, math.min(nBands - 1,
      (nBands * nLoBits + (nLoBits + nHiBits) / 2) / (nLoBits + nHiBits)))
    val nHi = nBands - nLo
    require(nHi >= 1,
      s"wide banding needs maxHamming >= 1 (got $maxHamming); " +
        "use the exact-dup family for hamming 0")
    // Balanced slices: the first (nBits % nW) bands get floor(nBits/nW)+1
    // bits, the rest floor(nBits/nW) — every band non-empty for any
    // nW in [1, nBits].
    def slices(word: Int, nBits: Int, nW: Int, offset: Int): Seq[WideBandSlice] = {
      require(nW >= 1 && nW <= nBits,
        s"$nW bands over $nBits bits leaves an empty band")
      val base = nBits / nW
      val extra = nBits % nW
      val starts = (0 until nW).scanLeft(0)((s, b) =>
        s + base + (if (b < extra) 1 else 0))
      (0 until nW).map { b =>
        WideBandSlice(offset + b, word, starts(b),
          base + (if (b < extra) 1 else 0))
      }
    }
    slices(0, nLoBits, nLo, 0) ++ slices(1, nHiBits, nHi, nLo)
  }

  /** Band slices of a TWO-WORD signature (`sh_lo` carrying `nLoBits`,
    * `sh_hi` carrying `nHiBits`) per [[wideBandLayout]] — one row per
    * (id, band) with the band's bit slice as `key`.
    */
  private def hammingBandsWide(sigs: DataFrame, nLoBits: Int, nHiBits: Int,
                               maxHamming: Int): DataFrame = {
    val all = wideBandLayout(nLoBits, nHiBits, maxHamming).map { s =>
      val word = if (s.word == 0) col("sh_lo") else col("sh_hi")
      (s.band, shiftright(word, s.start).bitwiseAND((1L << s.width) - 1))
    }
    sigs.select(col("id"), col("sh_lo"), col("sh_hi"),
      explode(array(all.map { case (b, k) =>
        struct(lit(b).as("band"), k.as("key"))
      }: _*)).as("bk"))
      .select(col("id"), col("sh_lo"), col("sh_hi"),
        col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** Near-duplicate pairs of ANY two-word (id, lo, hi) bit-signature
    * frame under hamming distance — [[hammingNearDupPairs]] lifted to
    * wide signatures: banded candidates over the proportional two-word
    * slices, exact two-word `bit_count(xor)` verify. THE corpus-scale
    * escape from narrow-signature band-key saturation: at maxHamming=7
    * a 110-bit signature (56 + 54) carries 13–14-bit band keys
    * (8192–16384 values) where the 56-bit family carries 7-bit keys
    * (128) — candidate mass drops by ~2^7 at the same recall
    * guarantee, the exact move the text family made with the 120-bit
    * wide simhash.
    *
    * `sigs` must be DETERMINISTIC (or caller-pinned): the self-join
    * evaluates it once per side, and a non-deterministic upstream
    * (sampling, rand-derived ids/signatures) could produce different
    * signatures on the two sides and emit wrong pairs — a failure the
    * reverted in-library pin incidentally prevented.
    *
    * @return (id_a, id_b, hamming), id_a < id_b, hamming ≤ maxHamming.
    */
  def hammingNearDupPairsWide(sigs: DataFrame, idCol: String, loCol: String,
                              hiCol: String, nLoBits: Int, nHiBits: Int,
                              maxHamming: Int): DataFrame = {
    requireWideWidths(nLoBits, nHiBits, maxHamming)
    // DELIBERATELY UN-PINNED (round-19 paired sf10 A/B, MatProbe): the
    // self-join does evaluate `sigs` on both sides (a broadcast build
    // cannot be a ReusedExchange), but pinning the narrow frame here
    // measured a LOSS at scale for cheap-kernel callers (image-hash
    // pairs: none 6.5 s median vs pin 10.3 s at sf10) and only a wash
    // for the expensive-decode caller (MJPEG: pin 20.1 vs none 21.5).
    // A caller whose kernel is genuinely dominant (per-frame JPEG
    // decode; 10-100 KB documents) should pin ITS OWN narrow signature
    // frame before calling — the mjpeg near-dup query does — so the
    // cost model stays with the code that knows the kernel.
    val banded = hammingBandsWide(
      sigs.select(col(idCol).as("id"), col(loCol).as("sh_lo"),
        col(hiCol).as("sh_hi")), nLoBits, nHiBits, maxHamming)
    val a = banded.select(col("band"), col("key"), col("id").as("id_a"),
      col("sh_lo").as("lo_a"), col("sh_hi").as("hi_a"))
    val b = banded.select(col("band"), col("key"), col("id").as("id_b"),
      col("sh_lo").as("lo_b"), col("sh_hi").as("hi_b"))
    a.join(b, Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "lo_a", "hi_a", "lo_b", "hi_b").distinct()
      .withColumn("hamming",
        bit_count(col("lo_a").bitwiseXOR(col("lo_b"))) +
          bit_count(col("hi_a").bitwiseXOR(col("hi_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** [[hammingNearDupPairsSet]] lifted to WIDE signatures: entities
    * carry a SET of two-word signatures (one row per member — e.g. the
    * strided frame hash pairs of a video); two entities are near-dups
    * when ANY cross member pair is within `maxHamming` total two-word
    * distance, reported at the MIN such distance. Same per-member
    * pigeonhole recall, same grouped-min reduction — with the wide
    * family's 13–14-bit band keys instead of the narrow signature's
    * saturating 7-bit keys.
    */
  def hammingNearDupPairsSetWide(sigs: DataFrame, idCol: String,
                                 loCol: String, hiCol: String,
                                 nLoBits: Int, nHiBits: Int,
                                 maxHamming: Int): DataFrame =
    hammingNearDupPairsWide(sigs, idCol, loCol, hiCol, nLoBits, nHiBits,
      maxHamming)
      .groupBy(col("id_a"), col("id_b"))
      .agg(min(col("hamming")).as("hamming"))

  private def requireWideWidths(nLoBits: Int, nHiBits: Int,
                                maxHamming: Int): Unit = {
    require(nLoBits >= 1 && nLoBits <= 63 && nHiBits >= 1 && nHiBits <= 63,
      s"word widths must be in [1, 63], got ($nLoBits, $nHiBits)")
    require(maxHamming >= 1 && maxHamming < nLoBits + nHiBits,
      s"maxHamming must be in [1, ${nLoBits + nHiBits}), got $maxHamming")
  }

  /** A WIDE (two-word) hamming [[BandFamily]] over a member frame of
    * `(id, sh_lo, sh_hi)`: [[wideBandLayout]] slices (pigeonhole recall
    * by construction), `bkt = key % nBuckets`, the two-word signature
    * carried as the verify payload.
    */
  private def wideFamily(params: Map[String, String], nLoBits: Int,
                         nHiBits: Int, maxHamming: Int, pinsQuery: Boolean)
                        (members: DataFrame => DataFrame): BandFamily = {
    requireWideWidths(nLoBits, nHiBits, maxHamming)
    BandFamily(params + ("maxHamming" -> maxHamming.toString),
      members = (rows, _) => members(rows),
      banding = (sigs, query) => hammingSide(
        hammingBandsWide(sigs, nLoBits, nHiBits, maxHamming), query,
        "sh_lo" -> "q_lo", "sh_hi" -> "q_hi"),
      fanOut = maxHamming + 1L, bucket = Some(k => k), residual = Seq("key"),
      pinsQuery = pinsQuery)
  }

  /** The two-word verify shared by both wide families: exact
    * `bit_count(xor)` sum, multi-band collisions deduped on the
    * identical computed distance.
    */
  private def wideVerify(maxHamming: Int)(joined: DataFrame,
                                          members: DataFrame): DataFrame =
    joined
      .withColumn("hamming",
        bit_count(col("q_lo").bitwiseXOR(col("sh_lo"))) +
          bit_count(col("q_hi").bitwiseXOR(col("sh_hi"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("query_id"), col("cand_id"), col("hamming")).distinct()

  /** The GENERIC WIDE hamming family (`hamming-sig-wide`) over any
    * two-word bit-signature frame. Deliberately NOT pinned by a static
    * probe: callers with an expensive kernel (a media decode) pin their
    * own decoded hashes before probing.
    */
  private[llm] def hammingWideFamily(idCol: String, loCol: String, hiCol: String,
                                     nLoBits: Int, nHiBits: Int,
                                     maxHamming: Int): BandFamily =
    wideFamily(Map("family" -> "hamming-sig-wide",
        "nLoBits" -> nLoBits.toString, "nHiBits" -> nHiBits.toString),
      nLoBits, nHiBits, maxHamming, pinsQuery = false) {
      _.select(col(idCol).as("id"), col(loCol).as("sh_lo"), col(hiCol).as("sh_hi"))
    }

  /** Materialize the write-time index of ANY two-word bit-signature
    * frame under hamming distance ([[hammingWideFamily]]) — the
    * ingest-path fix for narrow-signature band-key saturation:
    * at maxHamming=7 a 110-bit perceptual signature (56 + 54) bands
    * into 13–14-bit keys (8192–16384 values), so the layout spreads
    * over full-entropy directories where a 56-bit signature's 7-bit
    * keys cap it at 128 per band — each probe row's candidate set
    * stays corpus-fraction-bounded instead of growing linearly on
    * saturated keys. `sigs` must carry one row per member with `idCol`
    * plus positive int64 `loCol`/`hiCol` words. A signature-SET entity
    * (strided video) simply contributes one row per member — the layout
    * never assumes one row per id.
    */
  def writeHammingWideIndex(sigs: DataFrame, idCol: String, loCol: String,
                            hiCol: String, nLoBits: Int, nHiBits: Int,
                            maxHamming: Int, nBuckets: Int,
                            path: String): Unit =
    BandedIndex.write(hammingWideFamily(idCol, loCol, hiCol, nLoBits, nHiBits,
      maxHamming), sigs, path, Some(nBuckets))

  /** AUTO-SIZED [[writeHammingWideIndex]]: `nBuckets` derived from the
    * signature-row cardinality ([[BandedIndex.autoBuckets]] — the same
    * sizing the wide-simhash text family uses), so a fixture corpus
    * gets a narrow directory layout and a corpus-scale build a wide
    * one from the same call, and probe-time DPP pruning keeps biting
    * as the corpus grows (a FIXED 64 directories saturate — every
    * probe eventually touches every directory). Returns the chosen
    * `nBuckets`, also recorded in the params sidecar, from which every
    * append and probe reads it. `rowsHint` (when ≥ 0) supplies the
    * cardinality without a count job — pass the driving table's row
    * count when `sigs` is an EXPENSIVE frame (a media decode) that a
    * count() would otherwise evaluate twice.
    */
  def writeHammingWideIndexAuto(sigs: DataFrame, idCol: String, loCol: String,
                                hiCol: String, nLoBits: Int, nHiBits: Int,
                                maxHamming: Int, path: String,
                                rowsHint: Long = -1L): Int = {
    val nBuckets = BandedIndex.autoBuckets(
      if (rowsHint >= 0L) rowsHint else sigs.count())
    writeHammingWideIndex(sigs, idCol, loCol, hiCol, nLoBits, nHiBits,
      maxHamming, nBuckets, path)
    nBuckets
  }

  /** INCREMENTAL maintenance: append a delta's two-word signatures to an
    * existing [[writeHammingWideIndex]] layout (per-member pure
    * signatures — grown index probes identically to a rebuild;
    * sidecar-validated).
    */
  def appendToHammingWideIndex(sigs: DataFrame, idCol: String, loCol: String,
                               hiCol: String, nLoBits: Int, nHiBits: Int,
                               maxHamming: Int, path: String): Unit =
    BandedIndex.append(hammingWideFamily(idCol, loCol, hiCol, nLoBits, nHiBits,
      maxHamming), sigs, path)

  /** Probe a [[writeHammingWideIndex]] layout with a delta's two-word
    * signatures: band slices join the index on the PARTITION columns
    * (dynamic partition pruning, or a static key prune, which
    * [[BandedIndex.probe]] picks itself for pinned signatures),
    * survivors verify the exact two-word `bit_count(xor)` sum.
    *
    * @return (query_id, cand_id, hamming), cand ≠ query,
    *   hamming ≤ maxHamming.
    */
  def probeHammingWideIndex(spark: org.apache.spark.sql.SparkSession,
                            indexPath: String, sigs: DataFrame,
                            idCol: String, loCol: String, hiCol: String,
                            nLoBits: Int, nHiBits: Int,
                            maxHamming: Int): DataFrame =
    BandedIndex.probe(spark, hammingWideFamily(idCol, loCol, hiCol, nLoBits,
      nHiBits, maxHamming), indexPath, sigs)(wideVerify(maxHamming))

  /** [[probeHammingWideIndex]] lifted to signature SETS — the write-time
    * twin of [[hammingNearDupPairsSetWide]]: the index stores one row per
    * member signature pair, the delta probes with its own member set,
    * entity pairs report the MIN member-pair distance (any in-budget
    * member pair makes the entities candidates — per-member pigeonhole
    * recall, so a re-encode that replaces a video's opening frame still
    * collides on the shared later frames).
    *
    * @return (query_id, cand_id, hamming = min member-pair distance),
    *   cand ≠ query, hamming ≤ maxHamming.
    */
  def probeHammingWideIndexSet(spark: org.apache.spark.sql.SparkSession,
                               indexPath: String, sigs: DataFrame,
                               idCol: String, loCol: String, hiCol: String,
                               nLoBits: Int, nHiBits: Int,
                               maxHamming: Int): DataFrame =
    probeHammingWideIndex(spark, indexPath, sigs, idCol, loCol, hiCol,
      nLoBits, nHiBits, maxHamming)
      .groupBy(col("query_id"), col("cand_id"))
      .agg(min(col("hamming")).as("hamming"))

  /** Near-duplicate pairs under the 120-bit simhash: banded candidate
    * generation on the wide slices (bucket-key shuffle, never
    * all-pairs) + exact two-word `bit_count(xor)` verify.
    *
    * @return (id_a, id_b, hamming), id_a < id_b, hamming ≤ maxHamming.
    */
  def simhashWidePairs(df: DataFrame, idCol: String, textCol: String,
                       maxHamming: Int): DataFrame = {
    require(maxHamming >= 1 && maxHamming < 120,
      s"maxHamming must be in [1, 120), got $maxHamming")
    hammingNearDupPairsWide(
      simhashWideFrame(df, idCol, textCol),
      idCol, "simhash_lo", "simhash_hi", 60, 60, maxHamming)
  }

  /** The WIDE-SIMHASH [[BandFamily]] (`simhash-wide`): the 120-bit
    * two-word simhash in [[wideFamily]]'s layout — 15-bit band keys at
    * maxHamming=7, so `nBuckets` scales to 32768 directories per band
    * instead of the 60-bit family's 128: the text family whose DPP
    * pruning does NOT saturate at corpus scale. A static probe pins the
    * pre-explode signature frame — three scalars per doc — so the
    * token-pass simhash kernel over the batch text runs ONCE instead of
    * twice per micro-batch (kernel cost scales with text BYTES while
    * the pin costs 24 bytes/doc; round-19, BASELINE kernel-pin row).
    */
  private[llm] def simhashWideFamily(idCol: String, textCol: String,
                                     maxHamming: Int): BandFamily =
    wideFamily(Map("family" -> "simhash-wide"), 60, 60, maxHamming,
      pinsQuery = true) { rows =>
      simhashWideFrame(rows, idCol, textCol)
        .select(col(idCol).as("id"), col("simhash_lo").as("sh_lo"),
          col("simhash_hi").as("sh_hi"))
    }

  /** Materialize the write-time WIDE-simhash index
    * ([[simhashWideFamily]]), the write-time twin of [[simhashWidePairs]].
    */
  def writeSimhashWideIndex(corpus: DataFrame, idCol: String,
                            textCol: String, maxHamming: Int,
                            nBuckets: Int, path: String): Unit =
    BandedIndex.write(simhashWideFamily(idCol, textCol, maxHamming), corpus,
      path, Some(nBuckets))

  /** AUTO-SIZED [[writeSimhashWideIndex]]: `nBuckets` derived from the
    * corpus cardinality ([[BandedIndex.autoBuckets]] — one count job at
    * build time, on a build-once layout), so a 5,000-doc fixture gets a
    * narrow layout and a corpus-scale build a wide one from the same
    * call. Returns the chosen `nBuckets` (also recorded in the sidecar,
    * from which appends and probes read it).
    */
  def writeSimhashWideIndexAuto(corpus: DataFrame, idCol: String,
                                textCol: String, maxHamming: Int,
                                path: String): Int = {
    val nBuckets = BandedIndex.autoBuckets(corpus.count())
    writeSimhashWideIndex(corpus, idCol, textCol, maxHamming, nBuckets, path)
    nBuckets
  }

  /** INCREMENTAL maintenance: append a delta to a [[writeSimhashWideIndex]]
    * layout (per-doc pure signatures — append == rebuild; sidecar-validated).
    */
  def appendToSimhashWideIndex(delta: DataFrame, idCol: String,
                               textCol: String, maxHamming: Int,
                               path: String): Unit =
    BandedIndex.append(simhashWideFamily(idCol, textCol, maxHamming), delta,
      path)

  /** Probe a [[writeSimhashWideIndex]] layout with a delta batch — the
    * [[probeSimhashIndex]] dataflow with the two-word verify; the
    * pruning (DPP, or static for a pinned delta) is picked by
    * [[BandedIndex.probe]].
    *
    * @return (query_id, cand_id, hamming), cand ≠ query,
    *   hamming ≤ maxHamming.
    */
  def probeSimhashWideIndex(spark: org.apache.spark.sql.SparkSession,
                            indexPath: String, delta: DataFrame,
                            idCol: String, textCol: String,
                            maxHamming: Int): DataFrame =
    BandedIndex.probe(spark, simhashWideFamily(idCol, textCol, maxHamming),
      indexPath, delta)(wideVerify(maxHamming))

  /** Exact n-gram Jaccard similarity join: pairs with Jaccard ≥ `threshold`
    * over distinct word k-shingles — the count-based set-similarity join.
    *
    * The inverted-index self-join on the shingle both generates candidates
    * (disjoint docs never pair) AND counts each pair's intersection as the
    * group count of shared shingles — no pair `distinct`, no arrays
    * carried through shuffles, no per-pair array_intersect. Set sizes join
    * in as two lean (id, n) sides and the Jaccard is
    * inter / (|A| + |B| - inter).
    *
    * The shingle-frequency cap (`maxShingleDf`) removes stop-shingles
    * (present in more docs than the cap) before the join — the classic
    * guard against the df² pair blowup on boilerplate shingles. With a
    * finite cap, similarity is computed over the kept-shingle sets
    * (stop-shingle removal, the standard SSJoin practice); with the
    * default infinite cap the result is the exact full-set Jaccard.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        shingleK: Int, threshold: Double,
                        maxShingleDf: Long = Long.MaxValue,
                        mat: graft.ops.Materialize = graft.ops.Materialize.Local): DataFrame =
    gramPairCore(df, idCol, textCol, shingleK, maxShingleDf, mat)
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("n_a") + col("n_b") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")

  /** N-gram CONTAINMENT pairs: `inter / min(|A|, |B|)` — the asymmetric
    * overlap measure that catches PARTIAL duplication Jaccard cannot: a
    * quote, excerpt, or boilerplate block fully inside a much larger
    * document scores containment ~1.0 while its Jaccard is ~|small|/|large|
    * (arbitrarily low). This is the Broder containment of the smaller
    * shingle set, the dedup literature's standard second measure, and the
    * reason LSH-banded candidates (tuned for Jaccard) can't feed it —
    * band collisions need HIGH Jaccard, exactly what containment pairs
    * lack. Candidates here come from the shared-gram inverted index
    * ([[ngramJaccardPairs]]' generator): any pair sharing one kept gram
    * is scored, with the same df cap bounding the pair blowup.
    *
    * Same 100 TB shape as the Jaccard join — hashed 8-byte gram keys,
    * map-side-combined intersection counts, lean size joins, no arrays
    * through shuffles.
    *
    * @return (id_a, id_b, inter, containment), id_a < id_b
    */
  def ngramContainmentPairs(df: DataFrame, idCol: String, textCol: String,
                            shingleK: Int, threshold: Double,
                            maxShingleDf: Long = Long.MaxValue,
                            mat: graft.ops.Materialize = graft.ops.Materialize.Local): DataFrame =
    gramPairCore(df, idCol, textCol, shingleK, maxShingleDf, mat)
      .withColumn("containment",
        col("inter").cast("double") /
          least(col("n_a"), col("n_b")).cast("double"))
      .filter(col("containment") >= threshold)
      .select("id_a", "id_b", "inter", "containment")

  /** Shared core of [[ngramJaccardPairs]] / [[ngramContainmentPairs]]:
    * `(id_a, id_b, inter, n_a, n_b)` for every pair sharing >= 1 kept
    * gram, `id_a < id_b`, over distinct word k-shingles.
    */
  private def gramPairCore(df: DataFrame, idCol: String, textCol: String,
                           shingleK: Int, maxShingleDf: Long,
                           mat: graft.ops.Materialize): DataFrame = {
    // Join key is the 60-bit shingle hash, not the shingle string: the
    // self-join shuffle moves 8-byte longs instead of ~25-byte strings and
    // compares with long equality. (Collisions are ~n²/2^60 — none at any
    // realistic shard size — and deterministic, so any engine evaluating
    // the same hash agrees exactly.)
    // The inverted index feeds four consumers (stop-list, both self-join
    // sides, sizes); materializing it once avoids re-shingling the corpus
    // per consumer — the SSJoin standard of explicitly materializing the
    // index before joining on it. Default Materialize.Local = executor-
    // loss fails the job; long cluster jobs pass Reliable/Path.
    val inv = mat(ensureParallelism(df.select(col(idCol).as("id"), col(textCol)))
      .select(col("id"), explode(wordShingles(col(textCol), shingleK)).as("s0"))
      // Raw 60-bit hash: long join keys (smaller shuffle than strings),
      // collisions ~n²/2^60 — none at realistic shard sizes. Do NOT mod by
      // MinhashP: a 31-bit space has birthday collisions from ~100k
      // distinct shingles, silently corrupting the "exact" Jaccard.
      .select(col("id"), hash60(col("s0")).as("s")))
    val kept =
      if (maxShingleDf == Long.MaxValue) inv
      else {
        // The *frequent* shingle set is tiny (stop-shingles) -> broadcast
        // anti-join; never shuffle the inverted index against it.
        val stop = inv.groupBy("s").agg(count(lit(1)).as("df"))
          .filter(col("df") > maxShingleDf).select("s")
        inv.join(broadcast(stop), Seq("s"), "left_anti")
      }
    val sizes = kept.groupBy(col("id")).agg(count(lit(1)).as("n"))
    val inter = kept.select(col("id").as("id_a"), col("s"))
      .join(kept.select(col("id").as("id_b"), col("s")), Seq("s"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("id").as("id_a"), col("n").as("n_a")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("n").as("n_b")), Seq("id_b"))
  }

  /** Connected components over a near-duplicate pair graph: every node
    * gets the MINIMUM id reachable from it as its cluster id — the step
    * that turns pairwise similarity into dedup decisions (keep the cluster
    * representative = the row whose id equals its cluster id).
    *
    * Iterative min-label propagation with ADAPTIVE pointer jumping: each
    * round, every node adopts the smallest label among itself and its
    * neighbors (one join + one aggregate — the cheap round). Propagation
    * alone needs O(component diameter) rounds — fine for clique-ish
    * lexical near-dup graphs, but embedding-threshold graphs chain
    * (round-11 measurement: the semantic pair graph at sf0.1 has
    * diameter > 8), so after `jumpAfter` cheap rounds (default 4 —
    * measured best across both graph shapes; the extra join below is
    * label-table-sized, cheap next to a wasted propagate round) every
    * round adds a pointer jump: follow the candidate label one hop
    * through the label
    * table (`label(label)` — every label value is a node id in the same
    * component, and labels only decrease, so the jump is sound), which
    * collapses chains exponentially (O(log diameter) jump rounds; a
    * 2000-node path converges where propagate-only would need 2000
    * rounds). Labels are materialized per round so lineage stays flat —
    * the standard large-graph CC shape (what GraphX/Pregel does,
    * expressed in DataFrames so Catalyst handles the joins).
    */
  def dedupClusters(pairs: DataFrame, idA: String = "id_a",
                    idB: String = "id_b", maxIters: Int = 25,
                    mat: graft.ops.Materialize = graft.ops.Materialize.Local,
                    jumpAfter: Int = 4): DataFrame = {
    import graft.ops.Materialize
    // Per-step materialization (edges, initial labels, each round's
    // labels keep lineage flat). Path gets a distinct subdirectory per
    // step so rounds don't clobber each other; with the default Local an
    // executor loss fails the job (see the Materialize contract).
    def matStep(step: String): DataFrame => DataFrame = mat match {
      case Materialize.Path(dir) => Materialize.Path(s"$dir/$step").apply
      case other                 => other.apply
    }
    // Size the per-round shuffles to the GRAPH, not the session default:
    // every round is 2-3 joins + an aggregate, and each materialization
    // erases partitioning (localCheckpoint -> UnknownPartitioning, the
    // round-11 BPE finding), so every round re-shuffles at
    // spark.sql.shuffle.partitions — on a fixture-scale pair graph that
    // is rounds x partitions near-empty tasks of pure scheduling
    // overhead (measured: an 11 s closure over 1,303 pairs at 32
    // partitions). The edge frame is already materialized, so its count
    // is one cheap job; partitions = clamp(edges / 64k, 1, default
    // parallelism) — a corpus-scale graph keeps full width, a small one
    // runs single-task rounds. This is exactly what AQE's coalescing
    // would pick; it's applied explicitly because the loop must also
    // behave under sessions that pin AQE off (the local bench posture).
    //
    // The narrowed width lives in a CLONED SparkSession (same
    // SparkContext, executors, and block manager; its own SQLConf), so
    // a query planned concurrently on the caller's session — a parallel
    // streaming micro-batch, a multi-threaded driver — never sees it.
    // Everything the loop materializes is built through `clone`, and the
    // per-round actions plan under the clone's conf; the caller's
    // session conf is never written. The pairs frame crosses into the
    // clone via one Row pass (createDataFrame over pairs.rdd) that runs
    // exactly once, during the eager edge pin below — the upstream pair
    // generator (typically an LSH join) dominates it.
    val spark = pairs.sparkSession
    val clone = spark.newSession()
    // newSession() starts from CONTEXT defaults, not the caller's session
    // state: runtime confs the caller set via spark.conf.set (ANSI mode,
    // session timezone, AQE toggles) would silently not apply to the
    // closure rounds. Copy every modifiable runtime conf over so the
    // clone plans under the caller's semantics; the shuffle-width
    // narrowing below then overrides partitions on the clone alone.
    spark.conf.getAll.foreach { case (k, v) =>
      if (clone.conf.isModifiable(k)) clone.conf.set(k, v)
    }
    val pairsClone = clone.createDataFrame(pairs.rdd, pairs.schema)
    // Both edge directions from ONE pass over `pairs` (explode, not
    // union-of-two-selects): the pair generator upstream is typically an
    // expensive LSH join, and a union would execute that subplan twice.
    val edges = matStep("edges")(pairsClone
      .select(explode(array(
        struct(col(idA).as("src"), col(idB).as("dst")),
        struct(col(idB).as("src"), col(idA).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst")))
    val EdgesPerPartition = 65536L
    val nEdges = edges.count()
    val graphParts = math.max(1L, math.min(
      (nEdges + EdgesPerPartition - 1) / EdgesPerPartition,
      spark.sparkContext.defaultParallelism.toLong)).toInt
    clone.conf.set("spark.sql.shuffle.partitions", graphParts)
    // labels_0 fuses the first propagate round into initialization:
    // min(id, neighbors) costs the same one aggregate the old
    // distinct-then-round-0 shape paid, and saves a full round's jobs
    // (every node appears as src — both edge directions were exploded).
    var labels = matStep("labels_init")(
      edges.groupBy(col("src").as("id")).agg(min(col("dst")).as("__nmin"))
        .select(col("id"), least(col("id"), col("__nmin")).as("label")))
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      val neighborMin = edges
        .join(labels.select(col("id").as("dst"), col("label")), Seq("dst"))
        .groupBy(col("src").as("id")).agg(min(col("label")).as("nmin"))
      val propagated = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"), col("label"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("cand"))
      // Deep-graph escape hatch: adopt the candidate's OWN current label.
      // Left join + coalesce only as belt-and-braces — every label value
      // is a node id, and labels covers every node.
      val stepped =
        if (i < jumpAfter)
          propagated.withColumnRenamed("cand", "next")
        else propagated
          .join(labels.select(col("label").as("__jlbl"), col("id").as("cand")),
            Seq("cand"), "left")
          .select(col("id"), col("label"),
            least(col("cand"), coalesce(col("__jlbl"), col("cand"))).as("next"))
      // One materialized frame serves BOTH the convergence probe and the
      // next labels (a node changed iff next < label) — re-deriving either
      // would double the per-round shuffles.
      val pinned = matStep(s"round_$i")(stepped)
      val changed = pinned.filter(col("next") < col("label")).limit(1).count()
      labels = pinned.select(col("id"), col("next").as("label"))
      converged = changed == 0
      i += 1
    }
    // A silent partial convergence would report one real cluster as
    // several with no error — refuse instead.
    if (!converged) throw new IllegalStateException(
      s"dedupClusters did not converge in $maxIters rounds - a component's " +
        "diameter exceeds maxIters; raise maxIters")
    // Materialized while still clone-planned, so no consumer can ever
    // re-execute a round frame. The returned Dataset belongs to the
    // clone, but it is a pinned LogicalRDD over blocks on the shared
    // SparkContext: a caller-side join plans under the CALLER's session
    // (the receiver's), reading those blocks directly — the narrowed
    // width dies with the loop.
    matStep("labels_final")(
      labels.select(col("id").as("doc_id"), col("label").as("cluster_id")))
  }

  /** Embedding-cosine near-duplicate pairs within a bucket column (e.g. a
    * cluster/label id, or an LSH bucket from [[Similarity.hyperplaneBucket]]).
    * The join key is the bucket — all-pairs never forms. Cosine is the
    * explicit sequential double fold from [[Similarity.cosine]], so results
    * are bit-exact against any engine evaluating the same fold.
    */
  def embeddingNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                            bucketCol: String, threshold: Double): DataFrame = {
    import graft.functions.VectorFunctions.dot
    // Norm once per vector (n rows), not per candidate pair — identical
    // doubles, 3x less fold work inside the bucket join.
    val v = df.select(col(idCol).as("id"), col(bucketCol).as("bucket"),
      transform(col(vecCol), x => x.cast("double")).as("v"))
      .withColumn("norm", sqrt(dot(col("v"), col("v"))))
    val a = v.select(col("bucket"), col("id").as("id_a"), col("v").as("v_a"),
      col("norm").as("n_a"))
    val b = v.select(col("bucket"), col("id").as("id_b"), col("v").as("v_b"),
      col("norm").as("n_b"))
    a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", dot(col("v_a"), col("v_b")) / (col("n_a") * col("n_b")))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }

  /** SEMANTIC dedup — the SemDeDup recipe (Abbas et al. 2023,
    * arXiv:2303.09540, public): k-means-cluster the embedding space,
    * then treat members of the same cluster whose cosine similarity
    * clears `threshold` as semantic duplicates and keep ONE
    * representative per duplicate group. Catches paraphrases and
    * re-renderings that no lexical pass (minhash / simhash / n-gram)
    * can see, because the signal lives in the embedding, not the
    * surface string.
    *
    * Mechanics, all shared with the existing families:
    *  - Clustering is [[Similarity.ivfAssign]] — the SAME seeded,
    *    partition-pinned k-means every IVF path uses, so cell
    *    assignment is a pure function of the corpus (deterministic
    *    across core counts).
    *  - Candidate pairs form ONLY within a cell
    *    ([[embeddingNearDupPairs]] keyed on the cell id) — the
    *    all-pairs product never forms. This is the paper's own
    *    approximation: cross-cluster near-dups are out of scope by
    *    construction. At 100 TB, `nCells` grows with the corpus so
    *    per-cell candidate mass stays bounded (cells ~ n/k members);
    *    the quadratic term is per-cell and k is the knob.
    *  - The >= threshold pair graph is closed into components with the
    *    pinned pointer-jumping [[dedupClusters]]; the representative is
    *    the component minimum id (deterministic canonical choice), and
    *    `keep = 1` exactly for representatives. Note the group is the
    *    CONNECTED component (transitive closure), so a dropped member
    *    is within `threshold` of SOME group member — not necessarily of
    *    the representative itself (same contract as the lexical
    *    cluster families here).
    *
    * @return one row per corpus member:
    *   (id, cell, pair_cell, rep_id, keep) with keep in {0, 1};
    *   `pair_cell` is the EFFECTIVE pairing key — equal to
    *   `cell` as a string unless the pathological-cell guard sub-split
    *   an over-cap cell (then `"<cell>#<sub>"`), so consumers can see
    *   exactly which pairs the decision could have considered.
    */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    nCells: Int, threshold: Double,
                    maxCellSize: Int = DefaultMaxCellSize): DataFrame = {
    require(nCells > 0, s"nCells must be positive, got $nCells")
    // Pin the cell assignment: pairs, closure, and the final join all
    // consume it, and upstream is a k-means fit nobody wants re-run.
    val members = Similarity.ivfAssign(df, idCol, vecCol, nCells)._1
      .select(col("cand_id").as("id"), col("cell"), col("cv"))
      .transform(Materialize.pin)
    semanticDedupWithCells(members, threshold, maxCellSize)
  }

  /** [[semanticDedup]] over a write-time IVF layout
    * ([[Similarity.writeIvfIndex]]): the cell assignment is READ from
    * the index instead of retrained — the coarse quantizer is a
    * versioned artifact (exactly how the IVF maintenance story treats
    * it), so corpus-wide semantic dedup becomes an index-consumer job:
    * per-cell pair join + closure, zero k-means at decision time, and
    * the decision stays consistent with every other consumer of the
    * same index (probes, appends) by construction. The inline
    * [[semanticDedup]] remains the one-shot form; this is the
    * production shape once an index exists.
    */
  def semanticDedupFromIvfIndex(spark: org.apache.spark.sql.SparkSession,
                                indexPath: String,
                                threshold: Double,
                                maxCellSize: Int = DefaultMaxCellSize): DataFrame =
    semanticDedupWithCells(
      BandedIndex.readLayout(spark, s"$indexPath/corpus")
        .select(col("cand_id").as("id"), col("cell"), col("cv")),
      threshold, maxCellSize)

  /** Default pathological-cell guard for [[semanticDedup]]: cells wider
    * than this are salt-sub-split before the pair join. 10k members →
    * ≤ ~50M in-cell candidate pairs for the worst cell, which one
    * executor core grinds through in seconds; without the cap a skewed
    * coarse quantizer (one dense embedding region) can concentrate
    * millions of members in one cell and that cell's pair mass grows as
    * its size SQUARED — the one shape that turns a banded design back
    * into all-pairs.
    */
  val DefaultMaxCellSize: Int = 10000

  /** The cell-parameterized core of [[semanticDedup]]: `members` =
    * (id, cell, cv). Split out so the keep/drop decision (pair graph,
    * closure, representative choice) is testable independent of where
    * the coarse quantizer happens to place the cell boundaries.
    *
    * Pathological-cell guard: any cell wider than `maxCellSize` is
    * sub-split by a deterministic salt — `pair_cell = "<cell>#<sub>"`,
    * `sub = hash60(id) % ceil(n/maxCellSize)` — and candidate pairs form
    * only within a sub-cell. A near-dup pair landing in different
    * sub-cells is missed, the same accepted boundary miss the coarse
    * cells themselves already have (SemDeDup's own approximation); in
    * exchange the per-task pair mass is bounded by `maxCellSize²`
    * regardless of quantizer skew. Cells at or under the cap keep
    * `pair_cell = "<cell>"` — bit-identical decisions to the uncapped
    * path. The count join is nCells rows, broadcast.
    *
    * @return (id, cell, pair_cell, rep_id, keep)
    */
  private[llm] def semanticDedupWithCells(members: DataFrame,
                                          threshold: Double,
                                          maxCellSize: Int = DefaultMaxCellSize): DataFrame = {
    require(maxCellSize > 0, s"maxCellSize must be positive, got $maxCellSize")
    val cellCounts = members.groupBy(col("cell")).agg(count(lit(1)).as("__n"))
    val sub = members
      .join(broadcast(cellCounts), Seq("cell"))
      .withColumn("__nsub",
        expr(s"(__n + ${maxCellSize.toLong - 1L}) div ${maxCellSize.toLong}"))
      .withColumn("pair_cell",
        when(col("__nsub") <= 1L, col("cell").cast("string"))
          .otherwise(concat(col("cell").cast("string"), lit("#"),
            pmod(hash60(col("id").cast("string")), col("__nsub"))
              .cast("string"))))
      .drop("__n", "__nsub")
    val pairs = embeddingNearDupPairs(sub, "id", "cv", "pair_cell", threshold)
    val reps = dedupClusters(pairs)
      .select(col("doc_id").as("id"), col("cluster_id").as("rep_id"))
    // Members in no pair are their own (kept) representative.
    sub.join(reps, Seq("id"), "left")
      .select(col("id"), col("cell"), col("pair_cell"),
        coalesce(col("rep_id"), col("id")).as("rep_id"))
      .withColumn("keep", (col("id") === col("rep_id")).cast("int"))
  }

  /** Positional k-gram frequency index: every k-token gram of every
    * document WITH its 0-based start position, tagged with the gram's
    * corpus-wide occurrence count. The shared first stage of
    * substring-level exact dedup (the "duplicated span" measurement of
    * training-data dedup, finer than the whole-document passes above:
    * boilerplate headers/footers/licenses repeat across otherwise-unique
    * documents and only a gram-level pass sees them).
    *
    * Shape at 100 TB: grams are hashed to 8-byte longs INSIDE the scan
    * stage (one let-bound tokenization per row), the count is a plain
    * map-side-combined groupBy on the hash, and the tag-back is an
    * equi-join on the same hash key — both sides of the join arrive
    * hash-partitioned by `h` from the SAME materialized index, so the
    * second consumer reuses the materialization instead of re-shingling
    * the corpus. Nothing is quadratic and no window touches the raw
    * corpus.
    */
  private def gramIndex(df: DataFrame, idCol: String, textCol: String,
                        k: Int, mat: graft.ops.Materialize): DataFrame = {
    val grams = mat(ensureParallelism(
        df.select(col(idCol).as("__id"), col(textCol)))
      .select(col("__id"),
        posexplode(wordShinglesAll(col(textCol), k)).as(Seq("pos", "g0")))
      .select(col("__id"), col("pos").cast("int").as("pos"),
        hash60(col("g0")).as("h")))
    val counts = grams.groupBy(col("h")).agg(count(lit(1)).as("cnt"))
    grams.join(counts, Seq("h"))
  }

  /** Per-document substring-duplication stats: of the document's k-token
    * grams (with multiplicity, in order), how many occur more than once
    * in the whole corpus — including a second time in the same document —
    * and what fraction of the document that is. The corpus-health
    * diagnostic behind gram-level dedup policies: a high `dup_frac` on a
    * doc-unique text means shared boilerplate, not a copied document.
    *
    * Documents shorter than k tokens contribute their whole text as one
    * gram (same rule as [[TextOps.wordShingles]]) so nothing drops out of
    * the measurement.
    */
  def substringDupStats(df: DataFrame, idCol: String, textCol: String,
                        k: Int,
                        mat: graft.ops.Materialize = graft.ops.Materialize.Local): DataFrame =
    gramIndex(df, idCol, textCol, k, mat)
      .groupBy(col("__id").as(idCol))
      .agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("cnt") > 1, 1L).otherwise(0L)).as("n_dup"))
      .withColumn("dup_frac",
        col("n_dup").cast("double") / col("n_grams").cast("double"))

  /** Maximal duplicated spans per document: consecutive runs of k-gram
    * start positions whose grams are corpus-duplicated, merged by the
    * gap-and-islands rule (`pos - row_number()` constant within a run).
    * `span_start`/`span_end` are 0-based token indices; a run of grams
    * starting at [s..e] covers tokens [s, e + k - 1] (for a
    * shorter-than-k document the single whole-text gram reports its
    * nominal k-gram extent). This is the removal artifact of
    * substring-level dedup — the spans a cleaning pass would cut.
    *
    * The only window here runs per document over its DUPLICATED gram
    * positions (bounded by document length, hash-partitioned by id) —
    * never over the corpus-wide gram stream.
    */
  def substringDupSpans(df: DataFrame, idCol: String, textCol: String,
                        k: Int,
                        mat: graft.ops.Materialize = graft.ops.Materialize.Local): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dup = gramIndex(df, idCol, textCol, k, mat)
      .filter(col("cnt") > 1).select(col("__id"), col("pos"))
    val w = Window.partitionBy(col("__id")).orderBy(col("pos"))
    dup.withColumn("__island", col("pos") - row_number().over(w))
      .groupBy(col("__id").as(idCol), col("__island"))
      .agg(
        min(col("pos")).cast("int").as("span_start"),
        (max(col("pos")) + lit(k - 1)).cast("int").as("span_end"),
        count(lit(1)).as("n_grams"))
      .drop("__island")
  }

  /** CONTENT-DEFINED CHUNKING: split each document into chunks at the
    * token positions whose k-gram hash ≡ 0 (mod `divisor`) — boundaries
    * are a pure function of local CONTENT, not of position, so an
    * insertion near the head of a document shifts only the chunk it
    * lands in and its immediate neighbor; every later chunk keeps its
    * bytes AND its hash (the property fixed-size chunking lacks, and
    * the reason CDC is the dedup layout for mutable corpora). Expected
    * chunk length ≈ `divisor` tokens; `chunk_h` is the 60-bit hash of
    * the chunk's space-joined tokens, the cross-document dedup key.
    *
    * Every boundary decision is STATELESS (a windowed k-gram hash test
    * per position — the winnowing trick applied to chunking), which is
    * what makes the operator both embarrassingly parallel and exactly
    * replayable by any engine: no sequential rolling state like classic
    * Rabin CDC, same boundary set on any partitioning. Shape at 100 TB:
    * one let-bound tokenization, a narrow gram explode + filter for
    * boundaries (~n/divisor rows per doc), one per-DOC window over the
    * boundary rows (bounded by doc length, never the corpus stream),
    * and one co-partitioned join back to the pinned token frame for the
    * chunk hashes.
    */
  def cdcChunks(df: DataFrame, idCol: String, textCol: String,
                k: Int = 3, divisor: Int = 16,
                mat: graft.ops.Materialize = graft.ops.Materialize.Local): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(divisor > 0, s"divisor must be positive, got $divisor")
    import org.apache.spark.sql.expressions.Window
    val toks = mat(ensureParallelism(
        df.select(col(idCol).as("__id"), col(textCol)))
      .select(col("__id"), tokens(col(textCol)).as("ws")))
    // Boundary positions: gram starts (0-based) whose hash lands in the
    // 1/divisor boundary class; position 0 is always a chunk start.
    val grams = toks.select(col("__id"), size(col("ws")).as("n"),
      posexplode(gramsFromTokens(col("ws"), k)).as(Seq("pos", "g")))
    val starts = grams
      .filter(col("pos") > 0 && hash60(col("g")) % divisor === 0)
      .select(col("__id"), col("n"), col("pos").cast("int").as("start_tok"))
      .unionByName(toks.select(col("__id"), size(col("ws")).as("n"),
        lit(0).as("start_tok")))
    val w = Window.partitionBy(col("__id")).orderBy(col("start_tok"))
    val chunks = starts
      .withColumn("end_tok", coalesce(lead(col("start_tok"), 1).over(w), col("n")))
      .withColumn("chunk_idx", row_number().over(w) - 1)
    chunks.join(toks, Seq("__id"))
      .select(col("__id").as(idCol), col("chunk_idx"),
        col("start_tok"),
        (col("end_tok") - col("start_tok")).as("n_toks"),
        hash60(array_join(
          slice(col("ws"), col("start_tok") + 1, col("end_tok") - col("start_tok")),
          " ")).as("chunk_h"))
  }

  /** Chunk-level dedup stats over [[cdcChunks]]: per document, how many
    * of its content-defined chunks occur (by chunk hash) more than once
    * across the corpus — the KEEP/DROP measurement CDC exists to feed.
    * "More than once" counts OCCURRENCES, not distinct documents: a
    * chunk repeated inside one document is flagged exactly like a chunk
    * shared across two (repeated content is redundant training signal
    * either way, and the occurrence count is one map-side-combined
    * aggregate where a distinct-docs count would need a second
    * distinct shuffle).
    * Because boundaries are content-defined, a document that shares a
    * paragraph with another scores that paragraph's chunks as
    * duplicated even when the surrounding bytes differ — the
    * insertion-robust twin of [[substringDupStats]] at chunk (not gram)
    * granularity, with shuffle volume ∝ chunks (~tokens/divisor), not
    * grams.
    *
    * Shape: one chunk frame, one map-side-combined count on the 8-byte
    * chunk hash, one equi-join back on the same key, one per-doc
    * rollup — the gramIndex dataflow one granularity up.
    */
  def cdcDedupStats(df: DataFrame, idCol: String, textCol: String,
                    k: Int = 3, divisor: Int = 16,
                    mat: graft.ops.Materialize = graft.ops.Materialize.Local): DataFrame = {
    val chunks = mat(cdcChunks(df, idCol, textCol, k, divisor, mat)
      .select(col(idCol), col("chunk_h")))
    val counts = chunks.groupBy(col("chunk_h")).agg(count(lit(1)).as("cnt"))
    chunks.join(counts, Seq("chunk_h"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("cnt") > 1, 1L).otherwise(0L)).as("n_dup_chunks"))
      .withColumn("dup_frac",
        col("n_dup_chunks").cast("double") / col("n_chunks").cast("double"))
  }

  /** All k-grams of a let-bound token array, with multiplicity — the
    * [[TextOps.wordShinglesAll]] gram rule (short docs contribute their
    * whole text as one gram) without re-tokenizing the text.
    */
  private def gramsFromTokens(ws: Column, k: Int): Column = {
    val nShingles = size(ws) - (k - 1)
    when(nShingles >= 1,
      transform(sequence(lit(1), nShingles),
        i => concat_ws(" ", (0 until k).map(o => element_at(ws, i + o)): _*)))
      .otherwise(array(concat_ws(" ", ws)))
  }

  /** Apply substring-level dedup: cut every [[substringDupSpans]] token
    * interval out of its document and rebuild the cleaned text (tokens
    * outside any duplicated span, original order, space-joined) — the
    * artifact a training pipeline actually feeds downstream after the
    * measurement passes. A document whose every token is span-covered
    * (e.g. pure boilerplate) drops out of the result entirely, mirroring
    * a cleaning pass that deletes it.
    *
    * Shape: token stream anti-joined against the span frame on the doc
    * key with the BETWEEN residual (spans per doc are few — the join is
    * doc-key equi + bounded range check, never positional cross
    * product), then one per-doc rebuild via sorted collect. The rebuild
    * collects one document's surviving tokens into a single row — the
    * same per-doc boundedness as every window here (a document is
    * MB-sized; the corpus is what's 100 TB).
    */
  def substringClean(df: DataFrame, idCol: String, textCol: String,
                     k: Int,
                     mat: graft.ops.Materialize = graft.ops.Materialize.Local): DataFrame = {
    val spans = substringDupSpans(df, idCol, textCol, k, mat)
      .select(col(idCol).as("__sid"), col("span_start"), col("span_end"))
    val toks = ensureParallelism(df.select(col(idCol), col(textCol)))
      .select(col(idCol),
        posexplode(tokens(col(textCol))).as(Seq("pos", "t")))
      .filter(col("t") =!= "")
      .select(col(idCol), col("pos").cast("int").as("pos"), col("t"))
    toks
      .join(spans,
        col(idCol) === col("__sid") &&
          col("pos") >= col("span_start") && col("pos") <= col("span_end"),
        "left_anti")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_kept"),
        concat_ws(" ",
          transform(array_sort(collect_list(struct(col("pos"), col("t")))),
            s => s.getField("t"))).as("clean_text"))
  }

  /** Canonical-representative selection: for each near-dup cluster keep
    * the member with the best score (quality, length, recency — caller's
    * choice), tie-broken on smallest id — the KEEP decision that turns a
    * clustering into an actual dedup. The argmax is the bounded-heap
    * top-k aggregate (k=1): map-side-combined, one row per cluster per
    * partition on the shuffle, no per-cluster sort — a hot mega-cluster
    * (the usual near-dup pathology) costs O(members) not
    * O(members log members) on one core.
    *
    * `clusters` is [[dedupClusters]] output (doc_id, cluster_id);
    * `scored` maps `idCol` to `scoreCol`. Ids must be non-negative
    * integral (the heap-payload contract).
    */
  def clusterCanonical(clusters: DataFrame, scored: DataFrame,
                       idCol: String, scoreCol: String): DataFrame = {
    import graft.functions.AggFunctions.topK
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    // Same payload contract and fail-loud decode as keySkewTopK /
    // topKPerQuery: zero-padded lexical order == numeric order only for
    // non-negative integral ids; anything else must error, not NULL the
    // keep decision.
    clusters.schema(idCol).dataType match {
      case ByteType | ShortType | IntegerType | LongType => ()
      case other => throw new IllegalArgumentException(
        s"clusterCanonical requires a non-negative integral id column, " +
          s"got ${other.sql}")
    }
    val raw = element_at(col("tk"), 1).getField("value")
    val decoded = when(raw.try_cast("long").isNull,
      raise_error(concat(
        lit("clusterCanonical: negative or unparseable id in payload: "),
        raw)))
      .otherwise(raw.try_cast("long"))
    clusters.join(scored.select(col(idCol), col(scoreCol)), Seq(idCol))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        topK(col(scoreCol), lpad(col(idCol).cast("string"), 20, "0"), 1)
          .as("tk"))
      .select(col("cluster_id"),
        decoded.as("canonical_doc"),
        col("n_members"),
        element_at(col("tk"), 1).getField("score").as("best_score"))
  }

  /** Cross-source n-gram overlap matrix: for every unordered pair of
    * sources, the count of shared distinct k-shingles and the Jaccard of
    * the two shingle sets — the corpus-composition audit that catches
    * mirror/scrape duplication BETWEEN datasets before per-document dedup
    * runs within them.
    *
    * Scale shape: the corpus reduces FIRST to distinct (source, hash60)
    * rows — a map-side-combinable distinct whose output is bounded by
    * unique-shingle cardinality, not corpus size — materialized once for
    * its three consumers. The intersection self-join is an equi-join on
    * the 8-byte hash (co-partitioned shuffle at scale; never a doc-pair
    * or source-pair explosion), and the all-pairs frame is
    * source-cardinality squared — trivially broadcast at any corpus size.
    * Zero-overlap pairs are kept (n_common = 0) so the matrix shape is
    * data-independent.
    */
  def sourceOverlap(df: DataFrame, groupCol: String, textCol: String,
                    shingleK: Int = 3,
                    mat: graft.ops.Materialize = graft.ops.Materialize.Local)
      : DataFrame = {
    val sh = mat(ensureParallelism(df.select(col(groupCol).as("src"), col(textCol)))
      .select(col("src"), explode(wordShingles(col(textCol), shingleK)).as("s0"))
      .select(col("src"), hash60(col("s0")).as("h"))
      .distinct())
    val sizes = sh.groupBy(col("src")).agg(count(lit(1)).as("n"))
    val inter = sh.as("a")
      .join(sh.as("b"), col("a.h") === col("b.h") && col("a.src") < col("b.src"))
      .groupBy(col("a.src").as("source_a"), col("b.src").as("source_b"))
      .agg(count(lit(1)).as("n_common"))
    val pairs = sizes.as("a")
      .join(sizes.as("b"), col("a.src") < col("b.src"))
      .select(col("a.src").as("source_a"), col("b.src").as("source_b"),
        col("a.n").as("n_a"), col("b.n").as("n_b"))
    pairs.join(inter, Seq("source_a", "source_b"), "left")
      .select(col("source_a"), col("source_b"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        (coalesce(col("n_common"), lit(0L)).cast("double") /
          (col("n_a") + col("n_b") - coalesce(col("n_common"), lit(0L))))
          .as("jaccard"))
  }
}
