package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._

import TextOps.hash60
import graft.ops.Materialize

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Scale design: the brute-force path is the *correctness baseline* — a
  * broadcast of the (small) query set against the full corpus, scored in a
  * single codegen'd projection, reduced per-query with a map-side-combined
  * bounded-heap aggregate (no global sort, no per-query sort, no corpus
  * self-join). The LSH path is the 100 TB plan:
  * sign-random-projection buckets shrink each probe to one bucket's worth
  * of candidates, and the bucket key is computed from deterministic
  * hyperplanes (md5-derived), so plans and results are reproducible
  * run-to-run and engine-to-engine.
  */
object Similarity {

  /** Default hot-bucket guard for the LSH probe paths: (table, bucket)
    * groups wider than this many corpus members are excluded from
    * candidate generation (they carry ~no discriminative signal and
    * would blow the broadcast pair frame on a degenerate corpus).
    * `Long.MaxValue` opts the guard out.
    *
    * CONFIGURATION CONTRACT: the default assumes `numPlanes` is sized
    * to the corpus so a BENIGN bucket is far narrower than the cap —
    * corpus/2^numPlanes ≪ 10k. That is also the condition for LSH to be
    * useful at all (a probe scores every bucket-mate, so 10k-wide
    * benign buckets mean the plane count, not the cap, is wrong — e.g.
    * 200k uniformly-bucketed vectors under numPlanes=4 average 12.5k
    * per table-bucket and need more planes). Callers running a large
    * corpus at deliberately low plane counts must raise the cap or opt
    * out explicitly; the guard never silently applies to a correctly
    * sized index. [[overCapBuckets]] reports exactly which buckets (and
    * how many members) a given setting excludes — the audit to run when
    * sizing numPlanes for a new corpus.
    */
  val DefaultMaxBucketWidth: Long = 10000L

  private val log = org.slf4j.LoggerFactory.getLogger("graft.llm.Similarity")

  /** DIAGNOSTIC: how many (table, bucket) groups the most recent capped
    * LSH probe on this driver excluded ([[lshTopK]] /
    * [[lshTopKFromIndex]] with a finite `maxBucketWidth`). 0 after a
    * probe that capped nothing; unchanged by uncapped
    * (`Long.MaxValue`) probes. Driver-side, last-call-wins — a
    * visibility hook for tests and operators (the authoritative per-call
    * signal is the WARN log emitted when the cap fires), not a
    * concurrency-safe metric.
    */
  val lastCapExclusions = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Shared cap plumbing: given the tiny over-cap bucket list (already
    * collected — the width pass runs either way, so collecting it costs
    * nothing extra), record + WARN when it is non-empty, and anti-join
    * only then (the common uncapped case now skips the join entirely).
    */
  private def applyCap(rows: DataFrame, over: Array[org.apache.spark.sql.Row],
                       keyCols: Seq[String], what: String,
                       maxBucketWidth: Long): DataFrame = {
    lastCapExclusions.set(over.length.toLong)
    if (over.isEmpty) rows
    else {
      log.warn(s"$what: excluding ${over.length} over-cap bucket(s) " +
        s"(maxBucketWidth=$maxBucketWidth) from candidate generation; " +
        "run Similarity.overCapBuckets to audit widths")
      val spark = rows.sparkSession
      val schema = org.apache.spark.sql.types.StructType(keyCols.map(c =>
        org.apache.spark.sql.types.StructField(c, rows.schema(c).dataType)))
      val overDf = spark.createDataFrame(
        java.util.Arrays.asList(over: _*), schema)
      rows.join(broadcast(overDf), keyCols, "left_anti")
    }
  }

  /** Cosine similarity as an explicit sequential double fold:
    * dot / (sqrt(na) * sqrt(nb)), each a left-to-right `aggregate` over the
    * arrays. The fold order and operator shapes are pinned so any engine
    * evaluating the same IEEE-double sequence (e.g. DuckDB `list_reduce`)
    * reproduces the value bit-for-bit. Inputs must already be double arrays.
    */
  def cosine(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column): Column =
      aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0), (acc, v) => acc + v)
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
  }

  private def asDouble(c: Column): Column = transform(c, x => x.cast("double"))

  /** Per-query top-k of a scored candidate frame via the bounded-heap
    * [[graft.functions.TopKByScore]] aggregate. The window alternative
    * (`row_number` partitioned by query) sorts each query's FULL candidate
    * list in one task — parallelism = #queries and a hot query's
    * candidates all land on one core. The heap aggregate is a proper
    * partial aggregate: O(n log k) map-side, k rows per query per
    * partition on the shuffle, no per-query sort anywhere.
    *
    * Tie-break parity with `ORDER BY cos DESC, cand_id ASC`: the heap
    * orders (score DESC, payload ASC) on the STRING payload, so integral
    * ids are zero-padded to fixed width (lexicographic == numeric for
    * non-negative ids — negative integral ids are not supported here) and
    * cast back on the way out.
    */
  /** String payload whose lexicographic order equals `ORDER BY cand_id ASC`
    * for the supported id types. Anything else (floating point, decimal —
    * where "1.5" < "10.0" fails lexically) is rejected up front rather than
    * silently ranked in a different order.
    */
  private def idPayload(idType: org.apache.spark.sql.types.DataType): Column = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StringType}
    idType match {
      case ByteType | ShortType | IntegerType | LongType =>
        lpad(col("cand_id").cast("string"), 20, "0")
      case StringType => col("cand_id")
      case other => throw new IllegalArgumentException(
        s"top-k tie-break supports non-negative integral or string ids; got ${other.sql} " +
          "(lexicographic payload order would diverge from ORDER BY cand_id ASC)")
    }
  }

  private def topKPerQuery(scored: DataFrame, k: Int,
                           idType: org.apache.spark.sql.types.DataType): DataFrame = {
    import graft.functions.AggFunctions.topK
    import org.apache.spark.sql.types.StringType
    val payload = idPayload(idType)
    // Zero-padded payloads only order numerically for NON-NEGATIVE ids
    // (idPayload's documented contract); a negative id fails the cast
    // back — fail loud rather than emit a NULL candidate.
    val decoded =
      if (idType == StringType) col("e.value")
      else when(col("e.value").try_cast("long").isNull,
        raise_error(concat(
          lit("top-k: negative or unparseable integral id in payload: "),
          col("e.value"))))
        .otherwise(col("e.value").try_cast("long")).cast(idType)
    scored.groupBy(col("query_id"))
      .agg(topK(col("cos"), payload, k).as("tk"))
      .select(col("query_id"), posexplode(col("tk")).as(Seq("pos", "e")))
      .select(col("query_id"),
        decoded.as("cand_id"),
        col("e.score").as("cos"),
        (col("pos") + 1).cast("int").as("rank"))
  }

  /** Brute-force cosine top-k: for every query vector, the k most similar
    * corpus vectors (self-matches excluded). The query side is broadcast;
    * scoring is one scan of the corpus; per-query top-k is the map-side-
    * combined heap aggregate ([[topKPerQuery]]) — k rows per query per
    * partition shuffle, no per-query sort. Ties break on candidate id,
    * making the result fully deterministic.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame =
    topKPerQuery(scoredPairs(corpus, queries, idCol, vecCol), k,
      corpus.schema(idCol).dataType)

  /** RANGE similarity search: every non-self (query, candidate) pair
    * with cosine >= `minCos` — the "all neighbors within a radius"
    * complement of top-k (top-k bounds the RESULT size, range bounds
    * the QUALITY; radius queries feed duplicate-pair mining and
    * threshold-calibrated retrieval, where a fixed k either truncates
    * dense neighborhoods or pads sparse ones). Exact by construction:
    * the same pinned brute scoring scan as [[bruteForceTopK]] (query
    * batch broadcasts, one corpus pass, codegen'd dot products) with
    * the threshold pushed into the scan's filter — no heap state at
    * all, so the operator is a pure codegen pipeline. For corpus-scale
    * query sets, route through the IVF index family instead; this is
    * the exact baseline those paths are recall-checked against.
    */
  def rangeSearch(corpus: DataFrame, queries: DataFrame,
                  idCol: String, vecCol: String, minCos: Double): DataFrame =
    scoredPairs(corpus, queries, idCol, vecCol)
      .filter(col("cos") >= lit(minCos))
      .select(col("query_id"), col("cand_id"), col("cos"))

  /** The ONE brute scoring pipeline ([[bruteForceTopK]] and
    * [[hardNegatives]] both rank over it): every (query, candidate)
    * non-self pair scored with the pinned cosine fold. The fold shape is
    * oracle-parity-bearing — a tweak here changes every consumer's
    * hashes together, never one silently. Norms are computed ONCE per
    * vector (n rows), not per scored pair (n·q rows) — same doubles, 3x
    * less fold work in the join.
    */
  private def scoredPairs(corpus: DataFrame, queries: DataFrame,
                          idCol: String, vecCol: String): DataFrame = {
    import graft.functions.VectorFunctions.dot
    val c = corpus.select(col(idCol).as("cand_id"), asDouble(col(vecCol)).as("cv"))
      .withColumn("cnorm", sqrt(dot(col("cv"), col("cv"))))
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
      .withColumn("qnorm", sqrt(dot(col("qv"), col("qv"))))
    c.join(broadcast(q), col("cand_id") =!= col("query_id"))
      .withColumn("cos", dot(col("qv"), col("cv")) / (col("qnorm") * col("cnorm")))
  }

  /** HARD-NEGATIVE mining for contrastive training: per query, the k
    * MOST similar corpus vectors that are not the query itself and not a
    * known positive — the pairs that sharpen an embedding model's
    * decision boundary, vs [[graft.llm.Curation.negativeSample]]'s
    * uniform (easy) negatives. Exact by construction: the brute scoring
    * scan with the positive pairs anti-joined out BEFORE ranking, so a
    * positive can never crowd a negative out of the top-k. Same scale
    * shape as [[bruteForceTopK]] (query batch broadcasts, bounded-heap
    * ranking); `positives` must be (query id, positive id) two-column.
    */
  def hardNegatives(corpus: DataFrame, queries: DataFrame,
                    positives: DataFrame, idCol: String, vecCol: String,
                    k: Int): DataFrame = {
    require(positives.columns.length == 2,
      s"positives must have exactly (query_id, positive_id) columns, " +
        s"got ${positives.columns.mkString(", ")}")
    topKPerQuery(
      scoredPairs(corpus, queries, idCol, vecCol)
        .join(positives.toDF("query_id", "cand_id"),
          Seq("query_id", "cand_id"), "left_anti"),
      k, corpus.schema(idCol).dataType)
  }

  /** Unit-normalize an embedding column: v / ||v||, with the norm from the
    * codegen'd dot fold. Normalized corpora make cosine a plain dot
    * product — the standard pre-processing step before ANN indexing (one
    * narrow projection, no shuffle; each element's division is an
    * exactly-rounded IEEE op so the result is engine-portable).
    */
  def normalize(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    import graft.functions.VectorFunctions.dot
    val v = asDouble(col(vecCol))
    df.select(col(idCol), v.as("v"))
      .withColumn("norm", sqrt(dot(col("v"), col("v"))))
      .select(col(idCol), col("norm"),
        transform(col("v"), x => x / col("norm")).as("unit"))
  }

  /** Per-dimension min-max feature scaling: each dimension rescaled to
    * [0, 1] by its corpus-wide (min, max); constant dimensions map to 0.
    * The feature-normalization prep step before distance-based indexing
    * when dimensions have wildly different ranges.
    *
    * Exactness: min/max are ORDER-INDEPENDENT for doubles (unlike plain
    * double sums), and `(x - min) / (max - min)` is two exactly-rounded
    * IEEE ops — bit-reproducible across engines and partitionings with
    * no pinning machinery. ([[zscoreScaleDims]] achieves the same for
    * sum-based moments by pinning values to decimal micro-units.)
    *
    * Scale shape: one narrow posexplode, one map-side-combined aggregate
    * whose result is DIMENSION-cardinality (e.g. 64 rows at any corpus
    * size), broadcast back onto the exploded stream. Output is scalar
    * rows (id, pos, scaled) — array outputs don't survive the driver's
    * comparator.
    */
  def minMaxScaleDims(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val dims = df.select(col(idCol),
      posexplode(asDouble(col(vecCol))).as(Seq("pos", "x")))
    val stats = dims.groupBy(col("pos"))
      .agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
    dims.join(broadcast(stats), Seq("pos"))
      .select(col(idCol), col("pos"),
        when(col("hi") > col("lo"),
          (col("x") - col("lo")) / (col("hi") - col("lo")))
          .otherwise(lit(0.0)).as("scaled"))
  }

  /** Z-score scaling per dimension — the standardization twin of
    * [[minMaxScaleDims]] — with PORTABLY EXACT moments: every value is
    * pinned to integer micro-units and summed in decimal, so the sums
    * are order-independent and exact at any partitioning (a plain
    * double sum drifts with partition order and would never hash-match
    * across engines). One pinned double expression then derives
    * mean/variance from the exact sums; constant dimensions scale to 0.
    * The per-dim stats frame broadcasts — nothing corpus-sized moves.
    *
    * VALUE-RANGE CONTRACT: |x| < 1e12 per component (decimal(18,0) holds
    * the 1e6-scaled pin; its SQUARE must also stay inside decimal(37,0)
    * for the exact s2 sum). Embedding components are O(1), so the bound
    * is ~12 orders of headroom — but a silent non-ANSI overflow-to-NULL
    * would null the sums with no error, so out-of-range values fail
    * loudly instead.
    */
  def zscoreScaleDims(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val dims = df.select(col(idCol),
        posexplode(asDouble(col(vecCol))).as(Seq("pos", "x")))
      // Half-away-from-zero round, exact in both engines (the
      // quantizeInt8 parity); decimal(18,0) holds any sane micro-unit.
      .withColumn("xi",
        // NaN fails every comparison, so it needs its own arm — an
        // unguarded NaN would fall through to the same silent
        // overflow-to-NULL this guard exists to prevent.
        when(isnan(col("x")) || abs(col("x")) >= lit(1e12), raise_error(concat(
          lit("zscoreScaleDims: component NaN or |x| >= 1e12 breaks the "
            + "exact micro-unit pin, got "), col("x").cast("string"))))
        .otherwise(round(col("x") * lit(1e6)).cast("decimal(18,0)")))
      // Pinned: the explode + quantize projection feeds the stats pass
      // AND the output join — without the pin it runs twice.
      .transform(Materialize.pin)
    val stats = dims.groupBy(col("pos")).agg(
        count(lit(1)).as("nl"),
        sum(col("xi")).as("s1"),
        sum(col("xi") * col("xi")).as("s2"))
      .select(col("pos"), col("nl").cast("double").as("n"),
        col("s1").cast("double").as("m1"),
        col("s2").cast("double").as("m2"))
      .withColumn("mean", col("m1") / col("n") / lit(1e6))
      .withColumn("varr",
        (col("m2") - col("m1") * col("m1") / col("n")) / col("n") / lit(1e12))
    dims.join(broadcast(stats), Seq("pos"))
      .select(col(idCol), col("pos"),
        when(col("varr") > 0, (col("x") - col("mean")) / sqrt(col("varr")))
          .otherwise(lit(0.0)).as("z"))
  }

  /** Corpus-wide max |component| of the double-array column `vq_v` —
    * the global calibration constant for symmetric scalar quantization.
    * Max is order-independent, the result is ONE row, and it broadcasts;
    * identical gmax subtrees in one plan collapse to a single execution
    * via exchange reuse.
    */
  private def corpusGmax(vecs: DataFrame): DataFrame =
    vecs.agg(max(aggregate(col("vq_v"), lit(0.0),
      (acc, x) => greatest(acc, abs(x)))).as("gmax"))

  /** Codes for one frame under a shared scale: round(x * 127 / gmax),
    * symmetric around zero so sign structure survives. Two exactly-rounded
    * IEEE ops + a half-away-from-zero round — engine-portable, and the
    * OUTPUT is pure int, so everything downstream is exact arithmetic.
    */
  private def codesInt8(vecs: DataFrame, gmax: DataFrame,
                        idCol: String): DataFrame =
    vecs.crossJoin(broadcast(gmax))
      .select(col(idCol),
        transform(col("vq_v"),
          x => round(x * lit(127.0) / col("gmax")).cast("int")).as("codes"))

  /** Global symmetric int8 scalar quantization (the classic "SQ8" ANN
    * memory layout — 8x smaller than float64 vectors, 4x smaller than the
    * float32 source column): code_i = round(x_i * 127 / gmax) with one
    * corpus-wide gmax = max |x_i|.
    *
    * Scale shape: one narrow projection per vector plus a
    * single-row map-side-combined max aggregate broadcast back — the same
    * two-scan stats-then-apply trade as minMaxScaleDims/zscore. At 100 TB
    * the codes column is what an ANN index stores and shuffles; the
    * integer dot product over codes ([[sq8TopK]]) replaces the float
    * cosine in the candidate-scoring hot loop.
    */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val vecs = df.select(col(idCol), asDouble(col(vecCol)).as("vq_v"))
    codesInt8(vecs, corpusGmax(vecs), idCol)
  }

  /** SQ8 approximate top-k: unit-normalize, quantize to int8 under ONE
    * corpus-wide scale, then rank candidates per query by the EXACT
    * integer dot product of code vectors (codegen'd
    * [[graft.functions.DotProductInt]] — a primitive long loop, no float
    * rounding anywhere, so scores and therefore ranks are unconditionally
    * reproducible). With a uniform scale the integer dot is monotone in
    * the dequantized dot, so ranking quality degrades only with
    * quantization noise — measured against the float brute-force ground
    * truth by the recall query.
    *
    * Plan shape mirrors [[bruteForceTopK]]: broadcast query codes, one
    * corpus scan for scoring, map-side-combined bounded-heap top-k. The
    * query side reuses the corpus gmax broadcast (queries must be scored
    * in the same code space — quantizing the two sides under different
    * scales would make dots incomparable).
    */
  def sq8TopK(corpus: DataFrame, idCol: String, vecCol: String,
              isQuery: Column, k: Int): DataFrame = {
    import graft.functions.VectorFunctions.dotInt
    val unit = normalize(corpus, idCol, vecCol)
      .select(col(idCol), col("unit").as("vq_v"))
    val g = corpusGmax(unit)
    val c = codesInt8(unit, g, idCol)
      .select(col(idCol).as("cand_id"), col("codes").as("cc"))
    val q = codesInt8(unit.filter(isQuery), g, idCol)
      .select(col(idCol).as("query_id"), col("codes").as("qc"))
    val scored = c.join(broadcast(q), col("cand_id") =!= col("query_id"))
      .withColumn("cos", dotInt(col("qc"), col("cc")).cast("double"))
    topKPerQuery(scored, k, corpus.schema(idCol).dataType)
  }

  /** Two-stage ANN: the SQ8 integer-dot first pass oversamples
    * `oversample·k` candidates per query from the 8x-smaller code column,
    * then the EXACT float cosine re-ranks only that shortlist — the
    * standard production layout (quantized scan, exact re-rank) that keeps
    * the full-precision vectors out of the corpus-wide scoring loop
    * entirely: they are fetched by an equi-join on candidate id,
    * shortlist-cardinality rows (queries·k·oversample), never corpus-wide.
    *
    * The re-rank cosine is the same pinned dot/(sqrt·sqrt) shape as
    * [[bruteForceTopK]], so where the shortlist contains the true top-k
    * the output rows are IDENTICAL to brute force — recall failures can
    * only come from first-pass misses, which the oversample factor
    * controls.
    */
  def sq8RerankTopK(corpus: DataFrame, idCol: String, vecCol: String,
                    isQuery: Column, k: Int, oversample: Int): DataFrame = {
    import graft.functions.VectorFunctions.dot
    val shortlist = sq8TopK(corpus, idCol, vecCol, isQuery, k * oversample)
      .select(col("query_id"), col("cand_id"))
    val vecs = corpus.select(col(idCol), asDouble(col(vecCol)).as("v"))
      .withColumn("norm", sqrt(dot(col("v"), col("v"))))
    val scored = shortlist
      .join(vecs.select(col(idCol).as("cand_id"), col("v").as("cv"),
        col("norm").as("cnorm")), Seq("cand_id"))
      .join(broadcast(vecs.filter(isQuery)
        .select(col(idCol).as("query_id"), col("v").as("qv"),
          col("norm").as("qnorm"))), Seq("query_id"))
      .withColumn("cos", dot(col("qv"), col("cv")) / (col("qnorm") * col("cnorm")))
    topKPerQuery(scored, k, corpus.schema(idCol).dataType)
  }

  /** Per-subspace product-quantization codebooks (Jégou et al. 2011,
    * "Product quantization for nearest neighbor search", public): the
    * unit-normalized vector splits into `m` contiguous sub-vectors and
    * each subspace gets its own `codebookK`-centroid k-means codebook.
    * A vector's PQ code is then `m` small ints — at codebookK=256 one
    * BYTE per subspace, a 32× compression over float32 at m=8/d=64 —
    * and approximate scoring never touches the original vectors.
    *
    * Training is an EXACT-ARITHMETIC Lloyd's loop over all m subspaces
    * in one dataflow: per iteration, ONE distributed job assigns every
    * (subspace, sub-vector) row against the broadcast codebooks and
    * sums micro-unit-pinned components per (subspace, code, dim) — so
    * the job count is O(iters), not O(m · iters) as m separate MLlib
    * fits would pay, and determinism needs no layout pinning at all:
    * integer sums are order-free, so the codebooks are a pure function
    * of the corpus SET under any partitioning (stronger than the
    * seeded-KMeans + partition-pin recipe the IVF coarse quantizer
    * uses, where determinism holds only for a fixed layout). Init is
    * the codebookK lowest-id vectors per subspace. At corpus sizes
    * where training shouldn't scan everything, train on a
    * deterministic hash-mod sample — encoding is unaffected.
    */
  /** Largest training-sample row count whose per-(subspace, code, dim)
    * micro-unit sums provably stay exact: components pin to 1e9-scale
    * longs with |component| <= 1 on unit vectors, so a sum over N rows
    * is bounded by N * 1e9 and must stay under Long.MaxValue.
    */
  private[llm] val MaxExactPqTrainingRows: Long = Long.MaxValue / 1000000000L

  /** Fail loud — with the remedy — instead of letting a silent long
    * overflow fold garbage into every codebook. Split out so the guard
    * itself is testable at any bound.
    */
  private[llm] def requirePqTrainingExact(nTrain: Long,
      bound: Long = MaxExactPqTrainingRows): Unit =
    if (nTrain > bound) throw new IllegalArgumentException(
      s"pqCodebooks: $nTrain training rows exceed the exact-arithmetic " +
        s"bound of $bound (1e9-scale micro-unit sums would overflow " +
        "Long). Train on a sample instead - codebooks converge on a " +
        "small fraction of a corpus this size, and the full corpus is " +
        "still encoded against them.")

  private[llm] def pqCodebooks(unit: DataFrame, dims: Int, m: Int,
                               codebookK: Int,
                               iters: Int = 4): Array[Array[(Int, Array[Double])]] = {
    require(m > 0 && dims % m == 0, s"dims=$dims must divide into m=$m subspaces")
    require(codebookK > 1, s"codebookK must be > 1, got $codebookK")
    val sub = dims / m
    // ALL subspaces train in one dataflow: the exploded (subspace,
    // sub-vector) frame is pinned once, and each Lloyd iteration is ONE
    // distributed job (assign against the broadcast codebooks, per-
    // (subspace, code, dim) sum) — not m separate fits with their own
    // init/iteration jobs. Determinism needs NO layout pinning:
    // components pin to integer micro-units (1e9 — exact in long sums
    // far past any training-sample size) BEFORE the cross-row sums, so
    // the codebooks are a pure function of the corpus SET under any
    // partitioning (the centroidClassify exactness recipe applied to
    // k-means training).
    val sv = unit.select(col("cand_id"), explode(array((0 until m).map(j =>
        struct(lit(j).as("j"),
          transform(slice(col("uv"), j * sub + 1, sub),
            x => round(x * lit(1e9)).cast("long")).as("q"))): _*)).as("e"))
      .select(col("e.j").as("j"), col("e.q").as("q"))
      .transform(Materialize.pin)
    // One cheap count over the pinned frame guards the exactness bound
    // the micro-unit sums rely on (documented at
    // [[MaxExactPqTrainingRows]]).
    requirePqTrainingExact(sv.count() / m)
    // Deterministic init: the codebookK lowest-id vectors seed every
    // subspace (id order is corpus-intrinsic); iterations do the rest.
    val seedRows = unit.orderBy(col("cand_id")).limit(codebookK)
      .select(col("uv")).collect().map(_.getSeq[Double](0).toArray)
    require(seedRows.length == codebookK,
      s"pqCodebooks: corpus smaller than codebookK=$codebookK")
    var books: Array[Array[Array[Double]]] = Array.tabulate(m, codebookK) {
      (j, c) => seedRows(c).slice(j * sub, (j + 1) * sub)
    }
    for (_ <- 1 to iters) {
      // Per-row assignment: one codegen'd argmin per subspace, selected
      // by the subspace id (m is small; the when-chain stays in codegen).
      val qDouble = transform(col("q"), x => x.cast("double") / lit(1e9))
      val code = (1 until m).foldLeft(
        nearestCell(books(0).zipWithIndex.map { case (c, i) => (i, c) }, qDouble)) {
        (acc, j) => when(col("j") === j,
          nearestCell(books(j).zipWithIndex.map { case (c, i) => (i, c) }, qDouble))
          .otherwise(acc)
      }
      val sums = sv.withColumn("code", code)
        .select(col("j"), col("code"), posexplode(col("q")).as(Seq("d", "v")))
        .groupBy(col("j"), col("code"), col("d"))
        .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
        .collect()
      val next = books.map(_.map(_.clone()))
      sums.groupBy(r => (r.getInt(0), r.getInt(1))).foreach { case ((j, c), rows) =>
        val cent = next(j)(c)
        rows.foreach { r =>
          cent(r.getInt(2)) = r.getLong(3).toDouble / r.getLong(4) / 1e9
        }
        // A code with no members keeps its previous centroid (absent key).
      }
      books = next
    }
    books.map(_.zipWithIndex.map { case (c, i) => (i, c) })
  }

  /** PQ-encode: `m` nearest-codeword ids per vector, each via the shared
    * codegen'd [[graft.functions.NearestCentroid]] argmin (the SAME
    * assignment arithmetic as every IVF path, per subspace).
    */
  private def pqCodes(unit: DataFrame, dims: Int,
                      books: Array[Array[(Int, Array[Double])]]): DataFrame = {
    val m = books.length
    val sub = dims / m
    unit.withColumn("codes", array((0 until m).map(j =>
      nearestCell(books(j), slice(col("uv"), j * sub + 1, sub))): _*))
  }

  /** ADC reconstruction over a `codes` column: concat of each code's
    * codeword from the broadcast codebook LITERALS
    * (array<array<double>> per subspace, indexed by code+1).
    * dot(q, recon) equals the per-subspace lookup-table sum by
    * linearity — no per-query LUT materialization, and only the m-int
    * code column flows through the corpus-wide scoring scan.
    */
  private def pqRecon(books: Array[Array[(Int, Array[Double])]]): Column = {
    val bookLits = books.map(b => typedLit(b.sortBy(_._1).map(_._2.toSeq).toSeq))
    flatten(array(books.indices.map(j =>
      element_at(bookLits(j), col("codes")(j) + 1)): _*))
  }

  /** Two-stage PQ ANN: asymmetric-distance first pass over the code
    * column, exact float-cosine re-rank of the `oversample·k` shortlist
    * — the IVF-PQ literature's standard decode path expressed as
    * dataflow. The first pass scores dot(q, reconstruct(codes)) where
    * `reconstruct` concatenates each code's codeword (PQ's ADC — the
    * dot is linear over the concatenation, so this equals the per-
    * subspace lookup-table sum without materializing per-query LUTs);
    * reconstruction is an expression over the broadcast codebook
    * literals, so the corpus-wide scoring scan reads ONLY the m-int
    * code column, never the vectors. Full-precision vectors join in at
    * shortlist cardinality for the re-rank, whose cosine is the pinned
    * brute-force shape — where the shortlist contains the true top-k,
    * output rows are IDENTICAL to brute force.
    */
  def pqRerankTopK(corpus: DataFrame, idCol: String, vecCol: String,
                   isQuery: Column, k: Int, m: Int, codebookK: Int,
                   oversample: Int): DataFrame = {
    import graft.functions.VectorFunctions.dot
    require(k > 0 && oversample > 0, "k and oversample must be positive")
    val unit = normalize(corpus, idCol, vecCol)
      .select(col(idCol), col("unit").as("uv"))
      .transform(Materialize.pin) // feeds training, encoding, and queries
    val dims = unit.select(size(col("uv"))).head().getInt(0)
    val unitC = unit.select(col(idCol).as("cand_id"), col("uv"))
    val books = pqCodebooks(unitC, dims, m, codebookK)
    val c = pqCodes(unitC, dims, books)
      .select(col("cand_id"), col("codes"))
      .withColumn("recon", pqRecon(books))
    val q = unit.filter(isQuery)
      .select(col(idCol).as("query_id"), col("uv").as("qv"))
    val scored = c.join(broadcast(q), col("cand_id") =!= col("query_id"))
      .withColumn("cos", dot(col("qv"), col("recon")))
    val shortlist =
      topKPerQuery(scored, k * oversample, corpus.schema(idCol).dataType)
        .select(col("query_id"), col("cand_id"))
    exactRerank(corpus, idCol, vecCol, isQuery, shortlist, k)
  }

  /** Exact-cosine re-rank of a `(query_id, cand_id)` shortlist against
    * the base table: full-precision vectors join in at SHORTLIST
    * cardinality (queries·k·oversample rows), never corpus-wide; the
    * cosine is the pinned brute-force fold shape, so reported scores
    * bit-match the ANN contract's recompute.
    */
  private def exactRerank(corpus: DataFrame, idCol: String, vecCol: String,
                          isQuery: Column, shortlist: DataFrame,
                          k: Int): DataFrame = {
    import graft.functions.VectorFunctions.dot
    val vecs = corpus.select(col(idCol), asDouble(col(vecCol)).as("v"))
      .withColumn("norm", sqrt(dot(col("v"), col("v"))))
    val rescored = shortlist
      .join(vecs.select(col(idCol).as("cand_id"), col("v").as("cv"),
        col("norm").as("cnorm")), Seq("cand_id"))
      .join(broadcast(vecs.filter(isQuery)
        .select(col(idCol).as("query_id"), col("v").as("qv"),
          col("norm").as("qnorm"))), Seq("query_id"))
      .withColumn("cos",
        dot(col("qv"), col("cv")) / (col("qnorm") * col("cnorm")))
    topKPerQuery(rescored, k, corpus.schema(idCol).dataType)
  }

  /** Nearest-centroid classification: assign every vector to the label
    * whose class centroid it is most cosine-similar to — the deterministic
    * sibling of k-means assignment (fixed class centroids instead of
    * trained ones), and the standard embedding-space label-quality audit.
    *
    * Exactness: components are pinned to integer micro-units BEFORE any
    * cross-row sum, so per-(label, dim) centroid sums are exact longs in
    * any engine/partitioning. cos(v, sum_L/n_L) = dot(v, sum_L) /
    * (||v||·||sum_L||/n_L)... with ||v|| constant per vector and n_L
    * cancelling, argmax_L cos(v, centroid_L) = argmax_L
    * dot(v_micro, sum_L)/||sum_L|| — evaluated as pinned sequential double
    * folds over the exact integer inputs, bit-identical across engines.
    *
    * Scale shape: one posexplode + map-side-combined sum whose result is
    * (labels x dims) rows — broadcast-sized at ANY corpus size; scoring is
    * one corpus scan against the broadcast centroids; argmax is the
    * bounded-heap top-k aggregate (k=1), not a window.
    */
  def centroidClassify(df: DataFrame, idCol: String, vecCol: String,
                       labelCol: String): DataFrame = {
    import graft.functions.VectorFunctions.dot
    val mv = df.select(col(idCol), col(labelCol).as("true_label"),
      transform(asDouble(col(vecCol)),
        x => round(x * lit(1000000.0)).cast("long")).as("mv"))
    val cent = mv
      .select(col("true_label").as("c_label"),
        posexplode(col("mv")).as(Seq("pos", "m")))
      .groupBy(col("c_label"), col("pos")).agg(sum(col("m")).as("sm"))
      .groupBy(col("c_label"))
      .agg(array_sort(collect_list(struct(col("pos"), col("sm")))).as("ps"))
      .select(col("c_label"),
        transform(col("ps"), p => p.getField("sm").cast("double")).as("cs"))
    val scored = mv
      .select(col(idCol).as("query_id"),
        transform(col("mv"), m => m.cast("double")).as("qv"))
      .crossJoin(broadcast(cent))
      .select(col("query_id"), col("c_label").as("cand_id"),
        (dot(col("qv"), col("cs")) / sqrt(dot(col("cs"), col("cs")))).as("cos"))
    val pred = topKPerQuery(scored, 1,
      df.schema(labelCol).dataType)
      .select(col("query_id").as(idCol), col("cand_id").as("pred_label"))
    mv.select(col(idCol), col("true_label"))
      .join(pred, Seq(idCol))
      .select(col(idCol), col("true_label").as(labelCol), col("pred_label"),
        (col("true_label") === col("pred_label")).cast("int").as("correct"))
  }

  /** The weight of dimension i in deterministic hyperplane p: md5-derived,
    * uniform in [-1000, 1000] — a pure function of (p, i). No RNG, no seed
    * state; the same bucket function everywhere, forever.
    */
  def planeWeight(p: Int, i: Int): Double =
    (TextOps.hash60Scala(s"plane$p:$i") % 2001L - 1000L).toDouble

  /** Dot product of a double-array vector with deterministic hyperplane
    * `p` (planes are numbered globally: table t uses planes
    * t*numPlanes .. t*numPlanes+numPlanes-1). The weights are computed at
    * PLAN TIME ([[planeWeight]]) and baked in as an array literal — zero
    * per-row hashing; the projection is one codegen'd multiply-add fold.
    */
  def planeProjection(vecDouble: Column, p: Int, dims: Int = 64): Column =
    aggregate(
      zip_with(vecDouble,
        array((0 until dims).map(i => lit(planeWeight(p, i))): _*),
        (x, w) => x * w),
      lit(0.0), (acc, v) => acc + v)

  /** Sign-random-projection LSH bucket id for hash table `table`: bit p is
    * the sign of [[planeProjection]] (table*numPlanes + p). `numPlanes`
    * bits → 2^numPlanes buckets per table.
    */
  def hyperplaneBucket(vecDouble: Column, numPlanes: Int, table: Int = 0): Column =
    (0 until numPlanes).map { p =>
      when(planeProjection(vecDouble, table * numPlanes + p) >= 0, lit(1L << p))
        .otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)

  /** Multi-table LSH approximate top-k: `numTables` independent
    * sign-random-projection tables; a candidate is scored when it shares a
    * bucket with the query in ANY table (recall ≈ 1-(1-p^planes)^tables),
    * deduplicated before the (expensive) cosine so each surviving pair is
    * scored once. At 100 TB the corpus side is bucketed once at write time
    * ((table, bucket)-partitioned layout) and each probe touches
    * ~tables/2^planes of the data instead of all of it.
    */
  /** @param maxBucketWidth cap on corpus members per (table, bucket):
    *   wider buckets are EXCLUDED from candidate generation, the same
    *   stop-shingle df cap [[Dedup.ngramJaccardPairs]] applies (its
    *   `maxShingleDf`). The candidate-pair frame below is broadcast, so
    *   its size — bounded by `sum(min(width, cap)) x queryBatch` ids —
    *   must stay broadcast-sized; a degenerate corpus (mass-duplicated
    *   vectors hashing to one bucket) otherwise blows it. A bucket that
    *   wide carries ~no discriminative signal (it approximates a random
    *   corpus sample), so skipping it trades negligible recall for a
    *   bounded plan. SAFE BY DEFAULT: the guard is on at
    *   [[Similarity.DefaultMaxBucketWidth]] (10k — far above any benign
    *   bucket at reasonable plane counts, far below a degenerate one);
    *   pass `Long.MaxValue` to opt out, which also skips the width-count
    *   pass entirely. The same cap (same default) applies to
    *   [[lshTopKFromIndex]], so inline and indexed probes stay
    *   row-identical on any corpus.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String, k: Int, numPlanes: Int,
              numTables: Int = 4,
              maxBucketWidth: Long = DefaultMaxBucketWidth): DataFrame = {
    import graft.functions.VectorFunctions.dot
    val c = corpus.select(col(idCol).as("cand_id"), asDouble(col(vecCol)).as("cv"))
      .withColumn("cnorm", sqrt(dot(col("cv"), col("cv"))))
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
      .withColumn("qnorm", sqrt(dot(col("qv"), col("qv"))))
    def buckets(df: DataFrame, id: String, v: String) =
      df.select(col(id), posexplode(array((0 until numTables).map(t =>
        hyperplaneBucket(col(v), numPlanes, t)): _*)).as(Seq("tbl", "bucket")))
    val cb = buckets(c.select("cand_id", "cv"), "cand_id", "cv")
    // Hot-bucket guard: the over-cap bucket list is numTables x 2^planes
    // rows at most (tiny — broadcast anti-join); the width count moves
    // only (tbl, bucket) pairs. The bucket projection (numTables x 64-dim
    // hyperplane folds per corpus row) is pinned once so the width count
    // and the candidate join don't each recompute it.
    val cbCapped =
      if (maxBucketWidth == Long.MaxValue) cb
      else {
        val pinned = cb.transform(Materialize.pin)
        // The over-cap list (numTables x 2^planes rows at most) is
        // COLLECTED, not lazily broadcast: the width pass runs either
        // way, the driver-side list makes the cap VISIBLE (WARN +
        // lastCapExclusions) when it fires, and the common uncapped
        // case skips the anti-join entirely.
        val over = pinned.groupBy(col("tbl"), col("bucket"))
          .agg(count(lit(1)).as("w"))
          .filter(col("w") > maxBucketWidth)
          .select(col("tbl"), col("bucket")).collect()
        applyCap(pinned, over, Seq("tbl", "bucket"), "lshTopK",
          maxBucketWidth)
      }
    // Candidate PAIRS (ids only): bucket-mates in any table, deduped on
    // (query_id, cand_id) BEFORE any vector travels — the distinct's
    // shuffle moves two ids per row, not two 64-double arrays. Vectors are
    // re-attached afterwards from the base frames (the probe side is
    // query-batch-sized, so it broadcasts against the corpus scan).
    val cand = cbCapped
      .join(broadcast(buckets(q.select("query_id", "qv"), "query_id", "qv")),
        Seq("tbl", "bucket"))
      .filter(col("cand_id") =!= col("query_id"))
      .select("query_id", "cand_id").distinct()
    // Two bounded broadcasts instead of one unbounded: `cand` is
    // pair-count-sized but carries two ids per row (a hot bucket costs
    // pairs x 16 bytes, not pairs x a 64-double vector), and the query
    // vectors ride the separate query-batch-sized broadcast of `q`.
    val scored = c.join(broadcast(cand), Seq("cand_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("cos",
        dot(col("qv"), col("cv")) / (col("qnorm") * col("cnorm")))
    topKPerQuery(scored, k, corpus.schema(idCol).dataType)
  }

  /** Materialize the write-time LSH index layout the probe path promises:
    * one row per (table, bucket) membership of each corpus vector —
    * `(cand_id, cv, cnorm)` under `partitionBy(band, bkt)` (the shared
    * [[BandedIndex]] partition grammar: band = table index). The
    * hyperplanes are deterministic ([[planeWeight]]), so the layout is a
    * pure function of the corpus: built once, probed forever. At 100 TB
    * this turns every probe batch from a full-corpus scan into a read of
    * ~numTables/2^numPlanes of the data via partition pruning.
    */
  def writeLshIndex(corpus: DataFrame, idCol: String, vecCol: String,
                    numPlanes: Int, numTables: Int, path: String): Unit =
    BandedIndex.write(lshFamily(idCol, vecCol, numPlanes, numTables), corpus,
      path, None)

  /** Plane count targeting a fixed LSH bucket WIDTH: the smallest p
    * with 2^p ≥ n / targetWidth, clamped to [4, maxPlanes]. This is
    * the parameter that decides whether a threshold gate scales: probe
    * cost is batch × bucket-width × tables, so a FIXED plane count
    * makes bucket width — and with it every probe row's verify set —
    * grow linearly with the corpus (measured at sf10: the 4-plane
    * semantic gate's corpus-sized probe took 460 s of a 497 s
    * four-stage membership budget). Width-targeted planes pin the
    * verify set at ~targetWidth per (table, bucket) instead.
    *
    * The price is per-table recall at the match threshold: a cosine-θ
    * pair co-buckets with probability (1 − θ/π)^p per table, so more
    * planes need more tables for the same recall (at cos ≥ 0.95,
    * p=13/t=4 gives ~0.68 vs p=4/t=4's ~0.985; EXACT duplicates —
    * scaled copies, cos = 1 — co-bucket at ANY p, so dedup-style
    * rejections keep recall 1). [[lshTablesAuto]] pays that price
    * explicitly: the auto-sized layouts scale tables with the chosen
    * plane count to hold R ≥ 0.95 at cos 0.95, measured per decade by
    * the llm_lsh_recall_auto contract row. Integer-only formula (bit length of
    * ceil(n/targetWidth) − 1), so a SQL oracle replays it without
    * float-log drift.
    */
  def lshPlanesAuto(n: Long, targetWidth: Long = 256,
                    maxPlanes: Int = 16): Int = {
    require(n >= 0 && targetWidth > 0 && maxPlanes >= 4,
      s"bad lshPlanesAuto args: n=$n targetWidth=$targetWidth maxPlanes=$maxPlanes")
    val m = (n + targetWidth - 1) / targetWidth
    val ceilLog2 = if (m <= 1) 0 else 64 - java.lang.Long.numberOfLeadingZeros(m - 1)
    math.min(maxPlanes, math.max(4, ceilLog2)).toInt
  }

  /** RECALL-COMPENSATED table count for a width-targeted plane count:
    * the fixed planes→tables lookup that holds near-duplicate recall at
    * the gate threshold as [[lshPlanesAuto]] grows planes with the
    * corpus. A cosine-θ pair co-buckets per table with probability
    * q = (1 − θ/π)^p, so t tables recall 1 − (1 − q)^t; holding
    * R ≥ 0.95 at cos 0.95 (θ = acos 0.95, the semantic gate's
    * threshold) needs t = ⌈ln(1−R)/ln(1−q)⌉. Without this, auto-grown
    * planes under a FIXED t=4 silently decay threshold-match recall to
    * ~0.55 at the p=16 clamp — rows that should be rejected get
    * accepted, invisibly to any parity oracle (both sides share the
    * buckets). The values are a HARD-CODED integer table, not a
    * runtime float derivation: p=6's raw value is 3.994 — one ulp of
    * libm drift across JVMs would flip a ceil, and the SQL twins
    * splice these exact integers ([[lshTablesAuto]] is their single
    * source). Floored at 4 so no layout ever gets FEWER tables than
    * the legacy fixed-4 posture (p ≤ 6 keeps the historical layout
    * bit-for-bit). LlmSpec cross-checks the table against the float
    * formula with an interval guard.
    *
    * Cost honesty: tables multiply both index size and probe width
    * (batch × targetWidth × t), so the compensated gate pays ~2×
    * at p=10 and ~3.75× at p=16 over fixed-4 — growing O(log n),
    * versus the LINEAR per-probe growth the fixed-plane layout had
    * before round 16, and versus silently-lost recall after it.
    */
  val lshTablesByPlanes: Map[Int, Int] = Map(
    4 -> 4, 5 -> 4, 6 -> 4, 7 -> 5, 8 -> 6, 9 -> 7, 10 -> 8,
    11 -> 9, 12 -> 10, 13 -> 11, 14 -> 12, 15 -> 14, 16 -> 15)

  /** The table count for `planes` under the R=0.95 @ cos 0.95 contract
    * ([[lshTablesByPlanes]]). */
  def lshTablesAuto(planes: Int): Int = {
    require(planes >= 4 && planes <= 16, s"bad plane count: $planes")
    lshTablesByPlanes(planes)
  }

  /** [[writeLshIndex]] with the plane count AUTO-SIZED from the corpus
    * via [[lshPlanesAuto]] and, when `numTables` is left at the 0
    * sentinel, the table count RECALL-COMPENSATED via [[lshTablesAuto]]
    * (the round-17 default — fixed tables under auto planes decay
    * threshold recall, see [[lshTablesByPlanes]]). Returns the chosen
    * plane count; BOTH layout params persist in the sidecar — resolve
    * them back with [[lshIndexPlanes]]/[[lshIndexTables]], never by
    * re-deriving from a possibly-changed corpus.
    */
  def writeLshIndexAuto(corpus: DataFrame, idCol: String, vecCol: String,
                        path: String, numTables: Int = 0,
                        targetWidth: Long = 256): Int = {
    val planes = lshPlanesAuto(corpus.count(), targetWidth)
    val tables = if (numTables == 0) lshTablesAuto(planes) else numTables
    writeLshIndex(corpus, idCol, vecCol, planes, tables, path)
    planes
  }

  /** The plane count an LSH layout was built with, from its params
    * sidecar. */
  def lshIndexPlanes(spark: org.apache.spark.sql.SparkSession,
                     path: String): Int =
    BandedIndex.paramOf(spark, path, "lsh-hyperplane", "numPlanes").toInt

  /** The table count an LSH layout was built with, from its params
    * sidecar. */
  def lshIndexTables(spark: org.apache.spark.sql.SparkSession,
                     path: String): Int =
    BandedIndex.paramOf(spark, path, "lsh-hyperplane", "numTables").toInt

  /** INCREMENTAL index maintenance: append a delta batch to an existing
    * [[writeLshIndex]] layout. Bucket assignment is a pure per-row
    * function of the vector (deterministic hyperplanes), so appended
    * rows land in exactly the directories a full rebuild would put them
    * in — probing the grown index equals probing a from-scratch index of
    * the union. This is the 100 TB maintenance story: a daily ingest
    * appends its partitions; nothing existing is rewritten, and the
    * probe path is unchanged. (Deletes = the standard parquet story:
    * tombstone or compact; out of scope here.)
    */
  def appendToLshIndex(delta: DataFrame, idCol: String, vecCol: String,
                       numPlanes: Int, numTables: Int, path: String): Unit =
    BandedIndex.append(lshFamily(idCol, vecCol, numPlanes, numTables), delta,
      path)

  /** The LSH [[BandFamily]]: one row per (member, table) — `band` = LSH
    * table index, `bkt` = the table's (bounded, 2^planes) hyperplane
    * bucket, the vector and its norm carried for the inline cosine. The
    * members are `(cand_id, cv, cnorm)` on the index side and
    * `(query_id, qv, qnorm)` on the probe side; a static probe pins that
    * batch-sized frame (one row per query — NOT the exploded band frame)
    * so the projection kernel runs once (round-19). `maxBucketWidth` is
    * probe-time, not a layout parameter.
    */
  private[llm] def lshFamily(idCol: String, vecCol: String, numPlanes: Int,
                             numTables: Int): BandFamily = {
    import graft.functions.VectorFunctions.dot
    def names(query: Boolean) =
      if (query) ("query_id", "qv", "qnorm") else ("cand_id", "cv", "cnorm")
    BandFamily(Map("family" -> "lsh-hyperplane",
        "numPlanes" -> numPlanes.toString, "numTables" -> numTables.toString),
      members = (rows, query) => {
        val (id, v, n) = names(query)
        rows.select(col(idCol).as(id), asDouble(col(vecCol)).as(v))
          .withColumn(n, sqrt(dot(col(v), col(v))))
      },
      banding = (m, query) => {
        val (id, v, n) = names(query)
        m.select(col(id), col(v), col(n),
          posexplode(array((0 until numTables).map(t =>
            hyperplaneBucket(col(v), numPlanes, t)): _*)).as(Seq("band", "bkt")))
          .withColumn("bkt", col("bkt").cast("int"))
      },
      fanOut = numTables, bucket = None, residual = Nil)
  }

  /** [[lshFamily]] probed MULTI-PROBE: each query's (query_id, band,
    * bkt) rows cover, in each of the first `probeTables` tables, its
    * own bucket plus every Hamming-1 neighbor — (p+1) DISTINCT values by
    * construction, so no dedup is needed before the partition-pruned
    * join. Three scalars per row, so the broadcast cap is the NARROW one
    * (round-19: the sf100 corpus-shaped fixture batch reached ~88M band
    * rows here and killed the driver on an unconditional hint). The
    * index side is the plain LSH layout.
    */
  private[llm] def lshMultiProbeFamily(idCol: String, vecCol: String,
                                       numPlanes: Int, numTables: Int,
                                       probeTables: Int): BandFamily = {
    require(probeTables >= 1 && probeTables <= numTables,
      s"probeTables must be in [1, $numTables], got $probeTables")
    val lsh = lshFamily(idCol, vecCol, numPlanes, numTables)
    lsh.copy(
      banding = (q, query) =>
        if (!query) lsh.banding(q, query)
        else q.select(col("query_id"),
            posexplode(array((0 until probeTables).map(t =>
              hyperplaneBucket(col("qv"), numPlanes, t)): _*)).as(Seq("band", "bkt0")))
          .select(col("query_id"), col("band"),
            explode(array(Seq(col("bkt0")) ++ (0 until numPlanes).map(j =>
              col("bkt0").bitwiseXOR(lit(1L << j))): _*)).as("bkt"))
          .withColumn("bkt", col("bkt").cast("int")),
      fanOut = probeTables * (numPlanes + 1L),
      maxBroadcastRows = BandedIndex.MaxProbeBroadcastRowsNarrow)
  }

  /** Probe a [[writeLshIndex]] layout: query buckets join the index on its
    * PARTITION columns with the query side broadcast, so dynamic partition
    * pruning restricts the scan to the buckets the queries actually hash
    * into — the other bucket directories are never read. Each surviving
    * collision is scored inline on the pruned scan; the (query, candidate)
    * dedup then moves only `(ids, cos)` scalars (a multi-table collision
    * computes the identical IEEE double twice — dedup on the value is
    * exact). Results are identical to [[lshTopK]] with the same
    * parameters.
    *
    * The hot-bucket guard (same default as [[lshTopK]], so the two paths
    * stay row-identical) is computed on a PRUNED read, never a full
    * index scan: the index is semi-joined to the tiny distinct
    * (band, bkt) probe set (partition-column join — pruned like the
    * candidate scan) and widths are plain `count(*)` per bucket —
    * row-count widths, exactly the inline path's measure, so even a
    * corpus carrying duplicate ids (or an index double-appended by an
    * operational mistake) caps identically in both paths. Unprobed
    * buckets never need a width at all.
    */
  def lshTopKFromIndex(spark: org.apache.spark.sql.SparkSession, indexPath: String,
                       queries: DataFrame, idCol: String, vecCol: String,
                       k: Int, numPlanes: Int, numTables: Int = 4,
                       maxBucketWidth: Long = DefaultMaxBucketWidth): DataFrame = {
    import graft.functions.VectorFunctions.dot
    val fam = lshFamily(idCol, vecCol, numPlanes, numTables)
    // No pin here (unlike inline lshTopK): a localCheckpoint would hide
    // the parquet scan — and its dynamic partition pruning — behind an
    // RDD barrier. The width pass reads the PROBED partitions only
    // (semi-join on the partition columns), and its aggregate moves
    // (band, bkt) pairs, nothing wider.
    BandedIndex.probe(spark, fam, indexPath, queries) { (joined, q) =>
      val capped =
        if (maxBucketWidth == Long.MaxValue) joined
        else {
          // Collected like the inline path (see lshTopK): the width pass
          // still reads the PROBED partitions only; the driver-side list
          // surfaces the cap when it fires and skips the anti-join when
          // it doesn't.
          val over = BandedIndex.readLayout(spark, indexPath)
            .join(broadcast(fam.banding(q, true).select(col("band"), col("bkt"))
              .distinct()), Seq("band", "bkt"), "left_semi")
            .groupBy(col("band"), col("bkt"))
            .agg(count(lit(1)).as("w"))
            .filter(col("w") > maxBucketWidth)
            .select(col("band"), col("bkt")).collect()
          applyCap(joined, over, Seq("band", "bkt"), "lshTopKFromIndex",
            maxBucketWidth)
        }
      val scored = capped
        .withColumn("cos",
          dot(col("qv"), col("cv")) / (col("qnorm") * col("cnorm")))
        .select("query_id", "cand_id", "cos").distinct()
      topKPerQuery(scored, k, queries.schema(idCol).dataType)
    }
  }

  /** SEMANTIC membership probe of a [[writeLshIndex]] layout: every
    * (query, corpus) hyperplane-bucket-mate pair whose EXACT cosine
    * clears `threshold` — the embedding-space twin of
    * [[graft.llm.Dedup.probeExactDupIndex]], and the membership
    * primitive of the streaming semantic ingest gate. Same DPP shape as
    * [[lshTopKFromIndex]]: the batch's band rows broadcast-join the
    * index on its partition columns, so only the bucket directories the
    * batch hashes into are read, and cosine is scored inline on the
    * pruned scan. A pinned batch (the gate's) is pruned statically
    * instead; [[BandedIndex.probe]] picks which.
    *
    * Deliberately NO hot-bucket cap here, unlike the top-k paths: a cap
    * drops candidates, which for a top-k ranking costs recall but for a
    * MEMBERSHIP decision would wrongly ACCEPT a duplicate whose witness
    * sits in a crowded bucket — and crowded buckets are exactly where
    * near-duplicate mass concentrates. Cost stays bounded by batch size
    * x probed-bucket width; a degenerate corpus shows up as an
    * operational metric ([[overCapBuckets]]), not a silent admit.
    *
    * @return (query_id, cand_id, cos) distinct, cos >= threshold
    */
  def probeLshThreshold(spark: org.apache.spark.sql.SparkSession,
                        indexPath: String, delta: DataFrame, idCol: String,
                        vecCol: String, threshold: Double, numPlanes: Int,
                        numTables: Int = 4): DataFrame =
    BandedIndex.probe(spark, lshFamily(idCol, vecCol, numPlanes, numTables),
      indexPath, delta)((joined, _) => cosineAtLeast(joined, threshold))

  /** The threshold verify of the LSH membership probes: exact cosine of
    * each (query, candidate) collision, deduped on the identical value.
    */
  private def cosineAtLeast(joined: DataFrame, threshold: Double): DataFrame = {
    import graft.functions.VectorFunctions.dot
    joined
      .withColumn("cos",
        dot(col("qv"), col("cv")) / (col("qnorm") * col("cnorm")))
      .filter(col("cos") >= threshold)
      .select("query_id", "cand_id", "cos").distinct()
  }

  /** MULTI-PROBE [[probeLshThreshold]]: each query probes, in each of
    * the FIRST `probeTables` tables of the layout, its own bucket PLUS
    * every Hamming-1 neighbor (one plane-sign flip — `numPlanes` extra
    * buckets/table). This is the STORAGE-FREE recall knob, the
    * complement of [[lshTablesAuto]]'s table growth: a θ-pair lands
    * within Hamming 1 of the query's signature with per-table
    * probability q^p + p·q^(p−1)(1−q) (q = 1 − θ/π), so at the p=16
    * clamp four multi-probed tables hold ~0.94 recall at cos 0.95
    * where four exact-bucket tables decay to ~0.55 — without the
    * 15-table index the compensated layout writes. The trade: probe
    * WIDTH is ×(p+1) (reads stay DPP-pruned directory lookups — more
    * directories, same per-directory cost) while index STORAGE stays
    * at `probeTables` copies. At 100 TB, storage is the expensive
    * axis (the index is corpus-sized; probes are batch-sized), so
    * multi-probe is the default posture to prefer when write
    * amplification matters more than probe latency — the streaming
    * SEMANTIC GATE writes its membership layout at
    * [[MultiProbeTables]] tables and probes through here (round-18);
    * the measured recall contract for both paths is the
    * `llm_lsh_recall_auto` / `llm_lsh_multiprobe_recall` query pair.
    * Probing a PREFIX of the layout's tables is sound — tables are
    * independent hash functions; `probeTables` ≤ the layout's table
    * count (sidecar-validated via the full layout params).
    *
    * The broadcast carries only (query_id, band, bkt) through the two
    * explodes — (p+1) × probeTables rows of three scalars per query —
    * and qv/qnorm re-attach by query_id from the batch-sized base
    * frame before the cosine verify (the [[lshTopK]] two-bounded-
    * broadcasts pattern; carrying the 64-double vector through the
    * expansion would duplicate it ~68× at the p=16 clamp).
    * A pinned (stats-less) delta — the streaming-gate posture — gets
    * [[BandedIndex.probeJoinStatic]]: [[BandedIndex.probe]] picks it.
    */
  def probeLshThresholdMultiProbe(spark: org.apache.spark.sql.SparkSession,
                                  indexPath: String, delta: DataFrame,
                                  idCol: String, vecCol: String,
                                  threshold: Double, numPlanes: Int,
                                  numTables: Int, probeTables: Int)
      : DataFrame = {
    val fam = lshMultiProbeFamily(idCol, vecCol, numPlanes, numTables,
      probeTables)
    // ONE column-pruned count of the raw delta feeds both broadcast
    // guards: the band-frame bound (via the core) and the batch-sized
    // re-attach frame, one row per query.
    val deltaRows = delta.count()
    BandedIndex.probe(spark, fam, indexPath, delta, deltaRows) { (joined, q) =>
      // Distinct diagnostic key: the band-frame guard records under
      // indexPath; this one must not clobber it.
      cosineAtLeast(joined.join(BandedIndex.guardedQueryBroadcast(
        s"$indexPath#reattach", q, deltaRows,
        BandedIndex.MaxProbeBroadcastRows), Seq("query_id")), threshold)
    }
  }

  /** The multi-probe posture's table count: gate-written LSH layouts
    * store this many tables (index storage ×1 vs the compensated
    * layout's t(p)) and probe all of them with the Hamming-1 expansion.
    * Four is the measured sweet spot: the `llm_lsh_multiprobe_recall`
    * contract holds 1.0 / 1.0 / 0.9955 recall across sf0.1/1/10 on a
    * 4-table prefix, and analytically ~0.94 at the p=16 clamp where
    * exact-bucket t=4 decays to ~0.55.
    */
  val MultiProbeTables: Int = 4

  /** DIAGNOSTIC for the hot-bucket cap: every (band, bkt) group wider
    * than `maxBucketWidth`, with its width — exactly the buckets
    * [[lshTopK]] and [[lshTopKFromIndex]] exclude from candidate
    * generation at the same setting. The probe paths announce the cap
    * when it fires (WARN + [[lastCapExclusions]], at no extra job — the
    * width pass runs regardless) but only with the COUNT; a corpus
    * audit runs THIS to see which buckets, and how hard, e.g. before
    * committing numPlanes for a new corpus. Empty result = no bucket
    * capped = probe results are exactly the uncapped results.
    */
  def overCapBuckets(corpus: DataFrame, idCol: String, vecCol: String,
                     numPlanes: Int, numTables: Int = 4,
                     maxBucketWidth: Long = DefaultMaxBucketWidth): DataFrame =
    corpus.select(col(idCol).as("cand_id"), asDouble(col(vecCol)).as("cv"))
      .select(col("cand_id"), posexplode(array((0 until numTables).map(t =>
        hyperplaneBucket(col("cv"), numPlanes, t)): _*)).as(Seq("band", "bkt")))
      .groupBy(col("band"), col("bkt").cast("int").as("bkt"))
      .agg(count(lit(1)).as("width"))
      .filter(col("width") > maxBucketWidth)

  /** ANN quality evaluation: per-query recall@k of an approximate top-k
    * result against the exact (brute-force) top-k. The join is on
    * (query_id, cand_id) — the ground-truth side is k rows per query, so
    * at scale this is a broadcast of k·queries rows against the ANN
    * output, never a corpus-sized shuffle. The operator every index tuner
    * needs before trusting numPlanes/numTables/nProbe settings.
    */
  def recallAtK(exact: DataFrame, approx: DataFrame, k: Int): DataFrame = {
    val hits = exact.select(col("query_id"), col("cand_id"))
      .join(approx.select(col("query_id"), col("cand_id")), Seq("query_id", "cand_id"),
        "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
    exact.select(col("query_id")).distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        (coalesce(col("n_hits"), lit(0L)).cast("double") / k).as("recall"))
  }

  /** IVF (inverted-file) approximate top-k: k-means coarse quantizer
    * (MLlib, fixed seed → deterministic), corpus partitioned by nearest
    * centroid; each query probes its `nProbe` nearest cells only.
    *
    * The scale shape: centroids are tiny (driver/broadcast), the corpus is
    * cluster-assigned once (write-time layout at 100 TB — cell-partitioned
    * parquet), and a probe reads nProbe/nCells of the data. Versus LSH:
    * data-adaptive cells (better recall on clustered corpora) at the cost
    * of a training pass.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, nCells: Int, nProbe: Int): DataFrame = {
    val (cells, centroids) = ivfAssign(corpus, idCol, vecCol, nCells)
    ivfProbe(cells, centroids, queries, idCol, vecCol, k, nProbe)
  }

  /** Train the seeded coarse quantizer and assign every corpus vector to
    * its cell. Returns (cells = (cand_id, cv, cnorm, cell), centroids =
    * (cell, centroid)) — the two frames every IVF path starts from.
    */
  private[llm] def ivfAssign(corpus: DataFrame, idCol: String, vecCol: String,
                             nCells: Int): (DataFrame, DataFrame) = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    import graft.functions.VectorFunctions.{dot => dotc}
    // TRAINING input is pinned to a FIXED hash partitioning with a total
    // per-partition order: MLlib's seeded k-means is only deterministic
    // given the partition structure (init sampling and the per-iteration
    // float sums both follow it), so training on whatever parallelism the
    // session happens to have makes centroids an artifact of core count —
    // an index built under local[32] would silently disagree with an
    // inline run under local[4] (caught by the r8 contract row). Pinning
    // (hash(cand_id) into 8 partitions, sorted within) makes the
    // clustering a pure function of the corpus: same cells on any
    // cluster, so a write-time index and an inline run always agree.
    // The pin bounds TRAINING parallelism only — assignment below runs on
    // the unpinned scan (per-row deterministic given the centroids), so
    // probe/scoring parallelism is never capped at 8. At corpus sizes
    // where an 8-way shuffle of the full frame is itself prohibitive,
    // train the coarse quantizer on a deterministic sample (hash-mod of
    // the id) instead — the assignment path is unchanged.
    val feat = corpus.select(col(idCol).as("cand_id"), asDouble(col(vecCol)).as("cv"),
      array_to_vector(col(vecCol)).as("features"))
    val featTrain = feat
      .repartition(8, col("cand_id"))
      .sortWithinPartitions("cand_id")
      .transform(Materialize.pin) // training iterates; don't re-scan per pass
    // Random init (seeded → still deterministic) instead of k-means||: the
    // parallel init alone costs ~5 Spark jobs, more than the training it
    // saves at coarse-quantizer cell counts.
    val model = new KMeans().setK(nCells).setSeed(42L).setMaxIter(8)
      .setInitMode("random")
      .setFeaturesCol("features").fit(featTrain)
    // Assignment goes through the ONE shared nearestCell expression — not
    // model.transform — so build-time and append-time assignment are the
    // same arithmetic by construction (MLlib's findClosest uses a
    // norm-cached distance form that can round a borderline vector into
    // a different cell than a plain sqdist).
    val cs = model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray) }
    val cells = Dedup.ensureParallelism(feat.select("cand_id", "cv"))
      .withColumn("cell", nearestCell(cs, col("cv")))
      .withColumn("cnorm", sqrt(dotc(col("cv"), col("cv"))))
      .select("cand_id", "cv", "cell", "cnorm")
    // Tiny centroid frame: one row per cell, joined broadcast to queries.
    val centroids = corpus.sparkSession.createDataFrame(cs.toIndexedSeq)
      .toDF("cell", "centroid")
    (cells, centroids)
  }

  /** The single cell-assignment function every IVF path uses (build,
    * append, and therefore any future re-assignment): plain squared
    * euclidean distance, ties (measure-zero) to the lowest cell index.
    * Backed by the codegen'd [[graft.functions.NearestCentroid]]
    * expression — same arithmetic shape as the earlier Scala-UDF form
    * (ascending cell scan, strict-`<` improvement), so existing index
    * layouts re-assign identically, but the k×dim argmin now runs inside
    * whole-stage codegen with no per-row boxing.
    */
  private def nearestCell(centroids: Array[(Int, Array[Double])],
                          v: org.apache.spark.sql.Column) =
    graft.functions.VectorFunctions.nearestCentroid(v, centroids)

  /** Score queries against an assigned corpus: rank cells per query from
    * the broadcast centroid table, keep `nProbe`, score only bucket-mates.
    *
    * BOTH rankings run on the bounded-heap [[graft.functions.TopKByScore]]
    * aggregate — no `row_number` window anywhere in the IVF plan. Cell
    * ranking scores `-dist2` (IEEE negation is exact, so score DESC ==
    * dist2 ASC) with the zero-padded cell id as tie-break; the final
    * candidate ranking is the same map-side-combined heap the brute/LSH
    * paths use, so a hot query never serializes its full candidate list
    * through one window task.
    */
  /** Rank cells per query against the broadcast centroid table and keep
    * `nProbe`: `-dist2` on the bounded heap (IEEE negation is exact, so
    * score DESC == dist2 ASC), zero-padded cell id as tie-break. Shared
    * by the IVF probe and the IVF-PQ probe.
    */
  private def rankCells(q: DataFrame, centroids: DataFrame,
                        nProbe: Int): DataFrame = {
    import graft.functions.AggFunctions.topK
    import graft.functions.VectorFunctions.{dot => dotc}
    q.join(broadcast(centroids), lit(true))
      .withColumn("dist2",
        dotc(col("qv"), col("qv")) - lit(2.0) * dotc(col("qv"), col("centroid"))
          + dotc(col("centroid"), col("centroid")))
      .groupBy(col("query_id"))
      .agg(topK(-col("dist2"), lpad(col("cell").cast("string"), 10, "0"), nProbe)
        .as("tk"))
      .select(col("query_id"), explode(col("tk.value")).as("cellStr"))
      .select(col("query_id"), col("cellStr").cast("int").as("cell"))
  }

  private def ivfProbe(cells: DataFrame, centroids: DataFrame,
                       queries: DataFrame, idCol: String, vecCol: String,
                       k: Int, nProbe: Int): DataFrame = {
    import graft.functions.AggFunctions.topK
    import graft.functions.VectorFunctions.{dot => dotc}
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
      .withColumn("qnorm", sqrt(dotc(col("qv"), col("qv"))))
    val probes = rankCells(q, centroids, nProbe).join(q, Seq("query_id"))
    val scored = cells.join(broadcast(probes), Seq("cell"))
      .filter(col("cand_id") =!= col("query_id"))
      .withColumn("cos", dotc(col("qv"), col("cv")) / (col("qnorm") * col("cnorm")))
    // The assigned cell rides the string payload behind the padded id: a
    // candidate lives in exactly one cell, so the fixed-width id prefix
    // alone decides ties and the suffix never affects ordering. Integral
    // ids only — a ':' inside a string id would corrupt the payload split.
    val idType = cells.schema("cand_id").dataType
    require(idType != org.apache.spark.sql.types.StringType,
      "IVF top-k requires integral ids (the cell rides a ':'-delimited payload)")
    scored.groupBy(col("query_id"))
      .agg(topK(col("cos"),
        concat_ws(":", idPayload(idType), col("cell").cast("string")), k).as("tk"))
      .select(col("query_id"), posexplode(col("tk")).as(Seq("pos", "e")))
      .select(col("query_id"),
        split(col("e.value"), ":").getItem(1).cast("int").as("cell"),
        // Same fail-loud decode as topKPerQuery: negative ids break the
        // zero-padded lexical order, so NULL-ing silently would corrupt
        // ranking — error instead.
        when(split(col("e.value"), ":").getItem(0).try_cast("long").isNull,
          raise_error(concat(
            lit("IVF top-k: negative or unparseable id in payload: "),
            col("e.value"))))
          .otherwise(split(col("e.value"), ":").getItem(0).try_cast("long"))
          .cast(idType).as("cand_id"),
        col("e.score").as("cos"),
        (col("pos") + 1).cast("int").as("rank"))
  }

  /** Oracle-checkable contract of an approximate top-k result: collapse
    * the (engine-specific) candidate rows into per-query flags whose
    * expected values are knowable without re-running the ANN internals —
    * the shape that lets a KMeans-backed path (not SQL-replicable) carry
    * a full hash-checked oracle row.
    *
    * Per `query_id`:
    *  - `k_returned`      — result rows for the query (must be k);
    *  - `cos_monotone_ok` — cos non-increasing along rank (heap order
    *    reached the output intact);
    *  - `cos_exact_ok`    — every reported cos BIT-EQUALS the cosine
    *    recomputed from the corpus vectors in the pinned fold shape
    *    (`dot / (sqrt(dot aa) * sqrt(dot bb))`) — the score column is
    *    real, not an artifact of the index;
    *  - `recall_floor_ok` — recall@k against the exact (brute-force)
    *    top-k clears `recallFloor`. Recall is k-quantized, so any floor
    *    in (0, 1/k] separates a working probe from a broken one (empty
    *    cells, wrong pruning, degenerate clustering → 0.0).
    *
    * Scale shape: `approx`/`exact` are k·queries-sized, so every join
    * here broadcasts against at most one corpus scan (the cos recompute);
    * nothing is corpus×corpus. A query missing entirely from `approx`
    * drops its row — visibly red against the oracle, never silently green.
    */
  def annContract(approx: DataFrame, exact: DataFrame, corpus: DataFrame,
                  idCol: String, vecCol: String, k: Int,
                  recallFloor: Double): DataFrame = {
    import graft.functions.VectorFunctions.dot
    // The approx plan may be expensive (IVF assignment joins); it feeds
    // three consumers below, so pin its rows once.
    val a = approx.select(col("query_id"), col("cand_id"), col("cos"), col("rank"))
      .transform(Materialize.pin)
    // Rank-adjacent pairs: (r, r+1) per query; a single-row query has no
    // pair and is vacuously monotone.
    val monotone = a.as("x").join(a.as("y"),
        col("x.query_id") === col("y.query_id") &&
          (col("x.rank") + 1) === col("y.rank"))
      .groupBy(col("x.query_id").as("query_id"))
      .agg(min((col("x.cos") >= col("y.cos")).cast("int")).as("cos_monotone_ok"))
    val vecs = corpus.select(col(idCol), asDouble(col(vecCol)).as("v"))
    val recomputed = vecs.select(col(idCol).as("query_id"), col("v").as("qv"))
      .join(broadcast(a), Seq("query_id"))
      .join(broadcast(vecs.select(col(idCol).as("cand_id"), col("v").as("cv"))
        .join(broadcast(a.select("cand_id").distinct()), Seq("cand_id"))),
        Seq("cand_id"))
      .withColumn("cos2",
        dot(col("qv"), col("cv")) / (sqrt(dot(col("qv"), col("qv"))) *
          sqrt(dot(col("cv"), col("cv")))))
    val perQuery = recomputed.groupBy(col("query_id")).agg(
      count(lit(1)).cast("int").as("k_returned"),
      min((col("cos") === col("cos2")).cast("int")).as("cos_exact_ok"))
    val recall = recallAtK(exact, a, k)
      .select(col("query_id"),
        (col("recall") >= recallFloor).cast("int").as("recall_floor_ok"))
    perQuery
      .join(monotone, Seq("query_id"), "left")
      .join(recall, Seq("query_id"))
      .select(col("query_id"), col("k_returned"),
        coalesce(col("cos_monotone_ok"), lit(1)).as("cos_monotone_ok"),
        col("cos_exact_ok"), col("recall_floor_ok"))
  }

  /** Per-query equality of two top-k frames (`query_id, cand_id, cos,
    * rank` and any extra columns ignored): 1 iff every rank position
    * agrees on both candidate and score. Both sides are k·queries-sized,
    * so the full-outer join is trivially small at any corpus scale. Used
    * to certify an index-probe path against its inline twin inside an
    * oracle-checked row.
    */
  def resultsMatchPerQuery(a: DataFrame, b: DataFrame): DataFrame = {
    val l = a.select(col("query_id"), col("rank"),
      col("cand_id").as("cand_a"), col("cos").as("cos_a"))
    val r = b.select(col("query_id"), col("rank"),
      col("cand_id").as("cand_b"), col("cos").as("cos_b"))
    l.join(r, Seq("query_id", "rank"), "full_outer")
      .groupBy(col("query_id"))
      .agg(min(coalesce((col("cand_a") === col("cand_b") &&
        col("cos_a") === col("cos_b")).cast("int"), lit(0))).as("rows_match"))
  }

  /** Materialize the IVF write-time layout [[ivfTopK]]'s Scaladoc
    * promises: the assigned corpus written cell-partitioned plus the
    * centroid table beside it. Training runs once at write time; probes
    * never pay it again.
    */
  def writeIvfIndex(corpus: DataFrame, idCol: String, vecCol: String,
                    nCells: Int, path: String): Unit = {
    val (cells, centroids) = ivfAssign(corpus, idCol, vecCol, nCells)
    cells.write.mode("overwrite").partitionBy("cell").parquet(s"$path/corpus")
    centroids.write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** INCREMENTAL IVF maintenance: assign a delta batch against the
    * EXISTING centroids (read from the index — no retraining) and append
    * its cell partitions. This is how a production IVF grows: the coarse
    * quantizer is a versioned artifact, daily ingests are assigned and
    * appended, and the index is retrained only when drift warrants a
    * rebuild. Assignment is per-row deterministic given the centroids,
    * so probes over the grown index behave exactly like probes over a
    * corpus that had been assigned all at once.
    */
  def appendToIvfIndex(spark: org.apache.spark.sql.SparkSession,
                       delta: DataFrame, idCol: String, vecCol: String,
                       indexPath: String): Unit = {
    import graft.functions.VectorFunctions.{dot => dotc}
    val centroids = readCentroids(spark, indexPath)
    Dedup.ensureParallelism(
        delta.select(col(idCol).as("cand_id"), asDouble(col(vecCol)).as("cv")))
      // Same nearestCell as the build path — exact assignment parity.
      .withColumn("cell", nearestCell(centroids, col("cv")))
      .withColumn("cnorm", sqrt(dotc(col("cv"), col("cv"))))
      .select("cand_id", "cv", "cnorm", "cell")
      .write.mode(SaveMode.Append).partitionBy("cell")
      .parquet(s"$indexPath/corpus")
  }

  /** Probe a [[writeIvfIndex]] layout: cell ranking reads the tiny
    * centroid table; the corpus join is on the PARTITION column with the
    * probe side broadcast, so dynamic partition pruning reads only the
    * nProbe cell directories each query batch needs — nProbe/nCells of
    * the data, not a full scan. Same seed/params as [[ivfTopK]] give
    * identical results.
    */
  def ivfTopKFromIndex(spark: org.apache.spark.sql.SparkSession, indexPath: String,
                       queries: DataFrame, idCol: String, vecCol: String,
                       k: Int, nProbe: Int): DataFrame =
    ivfProbe(
      BandedIndex.readLayout(spark, s"$indexPath/corpus"),
      spark.read.parquet(s"$indexPath/centroids"),
      queries, idCol, vecCol, k, nProbe)

  /** RANGE search against a [[writeIvfIndex]] layout: every non-self
    * pair at cosine >= `minCos` among the `nProbe` DPP-pruned cells per
    * query — [[rangeSearch]]'s scale path. Scores come from the same
    * exact cosine fold over the index's stored vectors, so the result
    * is always a SUBSET of the brute range set (a pruned cell can only
    * lose neighbors, never fabricate or mis-score one) — which is what
    * the contract row checks. No heap at all: past the broadcast probe
    * join this is a pure codegen filter over nProbe/nCells of the data.
    */
  def ivfRangeFromIndex(spark: org.apache.spark.sql.SparkSession,
                        indexPath: String, queries: DataFrame, idCol: String,
                        vecCol: String, minCos: Double,
                        nProbe: Int): DataFrame = {
    import graft.functions.VectorFunctions.{dot => dotc}
    val cells = BandedIndex.readLayout(spark, s"$indexPath/corpus")
    val centroids = spark.read.parquet(s"$indexPath/centroids")
    val q = queries.select(col(idCol).as("query_id"),
        asDouble(col(vecCol)).as("qv"))
      .withColumn("qnorm", sqrt(dotc(col("qv"), col("qv"))))
    val probes = rankCells(q, centroids, nProbe).join(q, Seq("query_id"))
    cells.join(broadcast(probes), Seq("cell"))
      .filter(col("cand_id") =!= col("query_id"))
      .withColumn("cos",
        dotc(col("qv"), col("cv")) / (col("qnorm") * col("cnorm")))
      .filter(col("cos") >= lit(minCos))
      .select(col("query_id"), col("cand_id"), col("cos"))
  }

  /** Materialize the IVF-PQ write-time layout — the production ANN
    * index shape (FAISS's IVF-PQ as dataflow, public): the corpus is
    * unit-normalized ONCE, coarse-quantized into `nCells` IVF cells
    * (the probe's DPP pruning key) and PQ-encoded into `m` small ints
    * per vector (the only per-vector payload the scoring scan ever
    * reads — at codebookK=256 that is m BYTES against d floats).
    * Alongside the cell-partitioned code table sit the two tiny model
    * artifacts: the centroid table and the per-subspace codebooks.
    * Training (both quantizers) runs once at write time; probes and
    * appends never pay it again.
    */
  def writeIvfPqIndex(corpus: DataFrame, idCol: String, vecCol: String,
                      nCells: Int, m: Int, codebookK: Int,
                      path: String): Unit = {
    val unit = normalize(corpus, idCol, vecCol).select(col(idCol), col("unit"))
    val (cells, centroids) = ivfAssign(unit, idCol, "unit", nCells)
    val unitC = cells.select(col("cand_id"), col("cv").as("uv"), col("cell"))
      .transform(Materialize.pin) // feeds training + encoding
    val dims = unitC.select(size(col("uv"))).head().getInt(0)
    val books = pqCodebooks(unitC.select(col("cand_id"), col("uv")),
      dims, m, codebookK)
    pqCodes(unitC, dims, books)
      .select(col("cand_id"), col("codes"), col("cell"))
      .write.mode(SaveMode.Overwrite).partitionBy("cell")
      .parquet(s"$path/codes")
    centroids.write.mode(SaveMode.Overwrite).parquet(s"$path/centroids")
    val bookRows = for {
      (bj, j) <- books.zipWithIndex.toSeq
      (c, cw) <- bj.toSeq
    } yield (j, c, cw.toSeq)
    corpus.sparkSession.createDataFrame(bookRows)
      .toDF("j", "code", "codeword")
      .write.mode(SaveMode.Overwrite).parquet(s"$path/codebooks")
  }

  /** INCREMENTAL IVF-PQ maintenance: assign + encode a delta batch
    * against the FROZEN artifacts read from the index (no retraining —
    * both quantizers are versioned artifacts, the IVF-append posture)
    * and append its cell partitions. Assignment and encoding are
    * per-row deterministic given the artifacts, so a grown index scores
    * a probe exactly as if the delta had been present at build time.
    */
  def appendToIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
                         delta: DataFrame, idCol: String, vecCol: String,
                         indexPath: String): Unit = {
    val centroids = readCentroids(spark, indexPath)
    val books = readCodebooks(spark, indexPath)
    val dims = books.map(_.head._2.length).sum
    val unit = normalize(delta, idCol, vecCol)
      .select(col(idCol).as("cand_id"), col("unit").as("uv"))
    pqCodes(Dedup.ensureParallelism(unit), dims, books)
      .withColumn("cell", nearestCell(centroids, col("uv")))
      .select(col("cand_id"), col("codes"), col("cell"))
      .write.mode(SaveMode.Append).partitionBy("cell")
      .parquet(s"$indexPath/codes")
  }

  /** WHOLE-INDEX RETRAIN for a [[writeIvfIndex]] layout — the operator
    * that closes the drift loop [[appendToIvfIndex]] deliberately
    * leaves open: appends assign against FROZEN centroids, so a corpus
    * whose distribution has drifted far from the training snapshot
    * accumulates mis-sized cells (hot cells widen, probe recall decays).
    * The rebuild retrains the coarse quantizer on the CURRENT corpus —
    * read from the index itself, which stores full vectors — re-assigns
    * every row, and atomically swaps the fresh layout into place with
    * the rename-aside protocol ([[BandedIndex.swapInPlace]]). Training
    * is the same deterministic k-means as the build path, so a rebuilt
    * index is row-identical to one built from scratch on the same
    * corpus.
    */
  def rebuildIvfIndex(spark: org.apache.spark.sql.SparkSession,
                      indexPath: String, nCells: Int): Unit = {
    val corpus = BandedIndex.readLayout(spark, s"$indexPath/corpus")
      .select(col("cand_id"), col("cv"))
    rebuildInPlace(spark, indexPath)(
      writeIvfIndex(corpus, "cand_id", "cv", nCells, _))
  }

  /** [[rebuildIvfIndex]] for the [[writeIvfPqIndex]] layout. The PQ
    * index stores only m-int codes — the full vectors never enter it —
    * so the caller supplies the current corpus; both quantizers
    * (coarse centroids AND per-subspace codebooks) retrain on it, and
    * the whole directory (codes + both model artifacts) swaps as one
    * unit: a probe sees either the old model consistently or the new
    * model consistently, never a mix.
    */
  def rebuildIvfPqIndex(corpus: DataFrame, idCol: String, vecCol: String,
                        nCells: Int, m: Int, codebookK: Int,
                        indexPath: String): Unit =
    rebuildInPlace(corpus.sparkSession, indexPath)(
      writeIvfPqIndex(corpus, idCol, vecCol, nCells, m, codebookK, _))

  /** The whole-index rebuild of both IVF layouts: `build` writes the
    * fresh layout at a cleared `<indexPath>_REBUILDING` path, which
    * [[BandedIndex.swapInPlace]] then moves into place.
    */
  private def rebuildInPlace(spark: org.apache.spark.sql.SparkSession,
                             indexPath: String)(build: String => Unit): Unit = {
    val tmp = s"${indexPath}_REBUILDING"
    BandedIndex.hadoopFs(spark, tmp)._1
      .delete(new org.apache.hadoop.fs.Path(tmp), true)
    build(tmp)
    BandedIndex.swapInPlace(spark, indexPath, tmp)
  }

  /** Compact the cell-partitioned corpus data of a [[writeIvfIndex]]
    * layout. Every [[appendToIvfIndex]] adds at least one file to each
    * `cell=` directory its delta assigns into, so a long-lived index
    * under steady ingest drifts into the small-files regime (probe
    * latency dominated by per-file open cost — the same drift the
    * banded families' [[graft.llm.Dedup.compactIndex]] exists for).
    * Re-clusters `corpus/` to one file per cell with the
    * rename-aside swap and internal row-preservation gate of
    * [[BandedIndex.compactPartitionedDir]]; the `centroids/` model
    * artifact is not touched (it is one tiny file and carries the
    * assignment contract — compaction must not perturb it). Probe
    * results are unchanged by construction: same rows, same cells,
    * same DPP pruning key.
    *
    * @return (dataFilesBefore, dataFilesAfter, rows) over `corpus/`.
    */
  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession,
                      indexPath: String): (Long, Long, Long) =
    BandedIndex.compactPartitionedDir(spark, s"$indexPath/corpus", Seq("cell"))

  /** [[compactIvfIndex]] for the [[writeIvfPqIndex]] layout: compacts
    * the cell-partitioned `codes/` table; the `centroids/` and
    * `codebooks/` model artifacts are not touched.
    *
    * @return (dataFilesBefore, dataFilesAfter, rows) over `codes/`.
    */
  def compactIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
                        indexPath: String): (Long, Long, Long) =
    BandedIndex.compactPartitionedDir(spark, s"$indexPath/codes", Seq("cell"))

  /** Probe a [[writeIvfPqIndex]] layout: cell ranking reads the tiny
    * centroid table; the code-table join is on the PARTITION column
    * with the probe side broadcast, so dynamic partition pruning reads
    * only the `nProbe` cell directories each query batch needs — and
    * inside them only the m-int code column. ADC scores the pruned
    * scan via reconstruct-then-dot against the codebook literals; the
    * exact cosine re-ranks the `oversample·k` shortlist from the BASE
    * table (full vectors join at shortlist cardinality — the index
    * never stores them).
    */
  def ivfPqTopKFromIndex(spark: org.apache.spark.sql.SparkSession,
                         indexPath: String, corpus: DataFrame,
                         idCol: String, vecCol: String, isQuery: Column,
                         k: Int, nProbe: Int, oversample: Int): DataFrame = {
    import graft.functions.VectorFunctions.dot
    val centroidRows = readCentroids(spark, indexPath)
    val centroids = spark.createDataFrame(
      centroidRows.toIndexedSeq.map { case (c, v) => (c, v.toSeq) })
      .toDF("cell", "centroid")
    val books = readCodebooks(spark, indexPath)
    val q = normalize(corpus.filter(isQuery), idCol, vecCol)
      .select(col(idCol).as("query_id"), col("unit").as("qv"))
    val probes = rankCells(q, centroids, nProbe).join(q, Seq("query_id"))
    val scored = spark.read.parquet(s"$indexPath/codes")
      .join(broadcast(probes), Seq("cell"))
      .filter(col("cand_id") =!= col("query_id"))
      .withColumn("cos", dot(col("qv"), pqRecon(books)))
    val shortlist =
      topKPerQuery(scored, k * oversample, corpus.schema(idCol).dataType)
        .select(col("query_id"), col("cand_id"))
    exactRerank(corpus, idCol, vecCol, isQuery, shortlist, k)
  }

  private def readCentroids(spark: org.apache.spark.sql.SparkSession,
                            indexPath: String): Array[(Int, Array[Double])] =
    spark.read.parquet(s"$indexPath/centroids")
      .collect() // nCells rows — a tiny driver-side model artifact
      .map(r => (r.getAs[Int]("cell"),
        r.getAs[scala.collection.Seq[Double]]("centroid").toArray))

  private def readCodebooks(spark: org.apache.spark.sql.SparkSession,
                            indexPath: String): Array[Array[(Int, Array[Double])]] =
    spark.read.parquet(s"$indexPath/codebooks")
      .collect() // m·codebookK rows — tiny
      .map(r => (r.getAs[Int]("j"), r.getAs[Int]("code"),
        r.getAs[scala.collection.Seq[Double]]("codeword").toArray))
      .groupBy(_._1).toArray.sortBy(_._1)
      .map { case (_, rows) => rows.sortBy(_._2).map(r => (r._2, r._3)) }
}
